package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.streaming.{ParquetReplica, StatefulLww, StreamBench}

/** End-to-end Structured Streaming replication over a file topic, plus the
  * stateful LWW fallback and registry validation. */
class StreamingPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("produce → file topic → consume → replica matches batch truth") {
    val tmp = Files.createTempDirectory("graft-stream").toString
    // stage the change stream into a directory (file-source contract)
    val src = s"$tmp/src"
    new java.io.File(src).mkdirs()
    Files.copy(java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      java.nio.file.Paths.get(s"$src/events.parquet"))
    val reg = StreamBench.registry(buckets = 4)
    val bindings = new StreamBench.EventBindings(src,
      spark.read.parquet(src).schema)
    def drain(): Map[Long, (Option[Double], Boolean)] =
      Engine.runAvailableNow(spark, reg, bindings, s"$tmp/work")
        .replicas("event").read()
        .select($"synced_id", $"value",
          $"synced_canceled_at".isNotNull.as("canceled"))
        .as[(Long, Option[Double], Boolean)].collect()
        .map { case (k, v, c) => k -> (v, c) }.toMap
    val got = drain()

    // batch truth: latest event per user (ties by event id are absent at
    // this scale); canceled iff latest event_type is error. A cancel
    // publishes a key-only destroy payload (P9) that keeps the replica's
    // current attributes — none yet for a user first seen in this drain —
    // so a canceled user's value is null.
    val truth = graft.queries.Q.tbl(spark, sf(), "events")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
          .orderBy(unix_micros($"ts").desc, $"event_id".desc)))
      .filter($"rn" === 1)
      .select($"user_id",
        when($"event_type" =!= "error", $"value").as("value"),
        ($"event_type" === "error").as("canceled"))
      .as[(Long, Option[Double], Boolean)].collect()
      .map { case (k, v, c) => k -> (v, c) }.toMap

    assert(got.keySet == truth.keySet)
    for ((k, (v, c)) <- truth) {
      assert(got(k)._1 == v, s"value for user $k")
      assert(got(k)._2 == c, s"canceled flag for user $k")
    }

    // idempotency: replaying the whole topic (consumer checkpoint
    // deleted) into the replica converges
    new scala.reflect.io.Directory(new java.io.File(s"$tmp/work/cp/consume"))
      .deleteRecursively()
    assert(drain() == got)
  }

  test("StreamBench measures change→replica lag per row and reports " +
      "steady-state percentiles past the warmup window") {
    // tiny parameters: the spec pins the MEASUREMENT HARNESS (row
    // accounting, warmup exclusion, percentile math), not the SLO
    // number — that's Bench's job at full size. keySpace 50 < 40 rows a
    // file × a backlog batch's files: keep-latest collapses keys across
    // files, which the per-file accounting must survive. Both replica
    // modes, as the capacity sweep reports both.
    for (mor <- Seq(true, false)) {
      val r = StreamBench.run(spark,
        batches = 6, rowsPerBatch = 40, triggerMs = 100, warmupBatches = 2,
        keySpace = 50, mergeOnRead = mor)
      assert(r.nRows == 6L * 40, s"every fed row must be measured: $r")
      assert(r.nBatchesFed == 6 && r.warmupRowsDropped == 2 * 40)
      assert(r.p50Ms > 0 && r.p95Ms >= r.p50Ms && r.maxMs >= r.p95Ms, r.toString)
      // local spec machines are noisy — bound loosely, not at the SLO
      assert(r.p95Ms < 60000, s"pathological lag: $r")
      assert(r.rowsPerSec > 0, r.toString)
    }
  }

  test("merge-on-read replica matches copy-on-write across epochs, " +
      "order-dependent null-ts folds, destroy, and async compaction") {
    val ddl = "synced_id LONG, synced_updated_at TIMESTAMP, " +
      "synced_created_at TIMESTAMP, synced_canceled_at TIMESTAMP, " +
      "value DOUBLE, synced_data STRING"
    val tmp = Files.createTempDirectory("graft-mor").toString
    val cow = new ParquetReplica(spark, s"$tmp/cow", ddl, buckets = 4)
    // compactEvery high → epochs 1-5 stay in the delta log (the fold
    // path is what's under test); compaction is then forced explicitly
    val mor = new ParquetReplica(spark, s"$tmp/mor", ddl, buckets = 4,
      mergeOnRead = true, compactEvery = 100)
    def ts(s: String): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(s)
    def upd(rows: (Long, Option[java.sql.Timestamp], String, Double)*) =
      rows.toSeq
        .toDF("synced_id", "synced_updated_at", "event_type", "value")
        .withColumn("synced_created_at", $"synced_updated_at")
        .withColumn("canceled_at", lit(null).cast("timestamp"))
        .withColumn("synced_data", concat(lit("d"), $"synced_id"))
    def state(r: ParquetReplica) = r.read()
      .select($"synced_id", $"synced_updated_at", $"value",
        $"synced_canceled_at".isNotNull)
      .as[(Long, Option[java.sql.Timestamp], Option[Double], Boolean)]
      .collect().toSet
    def mergeBoth(df: org.apache.spark.sql.DataFrame): Unit = {
      cow.merge(df); mor.merge(df)
      assert(state(cow) == state(mor),
        s"diverged:\ncow=${state(cow)}\nmor=${state(mor)}")
    }
    val t1 = ts("2026-01-01 10:00:00"); val t2 = ts("2026-01-02 10:00:00")
    val t3 = ts("2026-01-03 10:00:00")
    // e1: initial upserts
    mergeBoth(upd((1L, Some(t2), "updated", 1.0), (2L, Some(t2), "updated", 2.0),
      (3L, Some(t2), "updated", 3.0), (5L, Some(t2), "updated", 5.0)))
    // e2: newer wins, stale loses, soft-delete, new key
    mergeBoth(upd((1L, Some(t3), "updated", 1.5), (2L, Some(t1), "updated", 9.9),
      (3L, Some(t3), "destroyed", 3.0), (6L, Some(t2), "updated", 6.0)))
    assert(state(mor).contains((2L, Some(t2), Some(2.0), false)),
      "stale update must not overwrite")
    assert(state(mor).exists(r => r._1 == 3L && r._4), "3 must be soft-deleted")
    // e3: restore 3; order-dependent null-ts fold on 8: ts=t3, then NULL
    // (persists over t3), then t1 (beats the stored null) — pairwise
    // t3 beats t1, but the fold order makes t1 final; both modes agree
    mergeBoth(upd((3L, Some(ts("2026-01-04 10:00:00")), "updated", 3.3),
      (8L, Some(t3), "updated", 8.0)))
    mergeBoth(upd((8L, None, "updated", 8.1)))
    mergeBoth(upd((8L, Some(t1), "updated", 8.2)))
    assert(state(mor).exists(r => r._1 == 8L && r._3 == Some(8.2)),
      s"order-dependent fold broke: ${state(mor).filter(_._1 == 8L)}")
    assert(mor.deltaEntries(mor.currentVersion).size == 5,
      "epochs 1-5 should still be unfolded delta-log entries")
    // destroy with a pending delta log: folds first, then anti-joins
    cow.destroy(Seq(5L).toDF("synced_id")); mor.destroy(Seq(5L).toDF("synced_id"))
    assert(state(cow) == state(mor) && !state(mor).exists(_._1 == 5L))
    assert(mor.deltaEntries(mor.currentVersion).isEmpty,
      "destroy must fold the delta log before its base-bucket anti-join")
    // async compaction: push past compactEvery and await the background
    // fold — contents identical before/after, log drained
    val mor2 = new ParquetReplica(spark, s"$tmp/mor2", ddl, buckets = 4,
      mergeOnRead = true, compactEvery = 3)
    mor2.merge(upd((1L, Some(t1), "updated", 1.0)))
    mor2.merge(upd((2L, Some(t1), "updated", 2.0)))
    val before = mor2.read().count()
    mor2.merge(upd((1L, Some(t2), "updated", 1.1))) // triggers async compact
    val deadline = System.currentTimeMillis() + 30000
    while (mor2.deltaEntries(mor2.currentVersion).nonEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(mor2.deltaEntries(mor2.currentVersion).isEmpty,
      "async compaction never landed")
    assert(mor2.read().count() == before,
      "compaction changed the row count")
    assert(state(mor2).exists(r => r._1 == 1L && r._3 == Some(1.1)))
    // vacuum keeps the compacted layout readable (compact-v* dirs live)
    mor2.vacuum()
    assert(state(mor2).exists(r => r._1 == 2L && r._3 == Some(2.0)))
  }

  test("MoR: destroy with an empty id set neither folds the delta log " +
      "nor publishes a version") {
    val ddl = "synced_id LONG, synced_updated_at TIMESTAMP, " +
      "synced_created_at TIMESTAMP, synced_canceled_at TIMESTAMP, " +
      "value DOUBLE, synced_data STRING"
    val tmp = Files.createTempDirectory("graft-mor-nodestroy").toString
    val mor = new ParquetReplica(spark, s"$tmp/r", ddl, buckets = 4,
      mergeOnRead = true, compactEvery = 100)
    def upd(id: Long, v: Double) =
      Seq((id, java.sql.Timestamp.valueOf("2026-01-01 10:00:00"), v))
        .toDF("synced_id", "synced_updated_at", "value")
        .withColumn("event_type", lit("updated"))
        .withColumn("synced_created_at", $"synced_updated_at")
        .withColumn("canceled_at", lit(null).cast("timestamp"))
        .withColumn("synced_data", concat(lit("d"), $"synced_id"))
    mor.merge(upd(1L, 1.0)); mor.merge(upd(2L, 2.0))
    val v = mor.currentVersion
    val pending = mor.deltaEntries(v)
    assert(pending.size == 2, "the delta log must hold the two epochs")
    // a C11 batch whose parents keep all their children destroys nothing:
    // the fold of the pending log (a whole-table rewrite) must not run
    mor.destroy(Seq.empty[Long].toDF("synced_id"))
    assert(mor.currentVersion == v, "an empty destroy must not publish")
    assert(mor.deltaEntries(mor.currentVersion) == pending,
      "an empty destroy must not fold the delta log")
    assert(mor.read().count() == 2)
  }

  test("MoR delta epochs write typed nulls for replica columns the " +
      "payload lacks, and a preserving prepare runs bucket-pruned") {
    // `extra` exists on the replica but never in any payload — exactly
    // the column shapeForMerge null-fills. The CoW path was always safe
    // (Persistor.merge unions with the typed target); the MoR delta
    // epoch writes shaped rows DIRECTLY, where an untyped NullType
    // column is a parquet write error. This spec pins the typed cast.
    val ddl = "synced_id LONG, synced_updated_at TIMESTAMP, " +
      "synced_created_at TIMESTAMP, synced_canceled_at TIMESTAMP, " +
      "value DOUBLE, extra STRING, synced_data STRING"
    val tmp = Files.createTempDirectory("graft-mor-null").toString
    val cow = new ParquetReplica(spark, s"$tmp/cow", ddl, buckets = 4)
    val mor = new ParquetReplica(spark, s"$tmp/mor", ddl, buckets = 4,
      mergeOnRead = true, compactEvery = 100)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def upd(rows: (Long, java.sql.Timestamp, String, Double)*) =
      rows.toSeq
        .toDF("synced_id", "synced_updated_at", "event_type", "value")
        .withColumn("synced_created_at", $"synced_updated_at")
        .withColumn("canceled_at", lit(null).cast("timestamp"))
        .withColumn("synced_data", concat(lit("d"), $"synced_id"))
    val t1 = ts("2026-01-01 10:00:00"); val t2 = ts("2026-01-02 10:00:00")
    cow.merge(upd((1L, t1, "updated", 1.0)))
    mor.merge(upd((1L, t1, "updated", 1.0))) // crashed before the cast fix
    def state(r: ParquetReplica) = r.read()
      .select($"synced_id", $"value", $"extra")
      .as[(Long, Option[Double], Option[String])].collect().toSet
    assert(state(mor) == state(cow) &&
      state(mor) == Set((1L, Some(1.0), None)))

    // Engine-shaped preserving prepare through MoR: destroy must keep
    // the current value (key-local join → served by the pruned slice)
    val preserving: (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame =
      (current, u) => {
        val cur = current.select($"synced_id", $"value".as("__cur_v"))
        u.join(cur, Seq("synced_id"), "left")
          .withColumn("value",
            when($"event_type" === "destroyed",
              coalesce($"__cur_v", $"value")).otherwise($"value"))
          .drop("__cur_v")
      }
    val destroyEv = upd((1L, t2, "destroyed", -99.0))
    cow.merge(destroyEv, preserving); mor.merge(destroyEv, preserving)
    assert(state(cow) == state(mor),
      s"preserving prepare diverged: cow=${state(cow)} mor=${state(mor)}")
    assert(mor.read().filter($"synced_id" === 1L &&
      $"synced_canceled_at".isNotNull && $"value" === 1.0).count() == 1,
      "destroy must soft-delete while preserving the current value")
  }

  test("MoR: empty micro-batches leave no epoch and no version bump, " +
      "on both the precomputed-set and the footer-check paths") {
    val ddl = "synced_id LONG, synced_updated_at TIMESTAMP, " +
      "synced_created_at TIMESTAMP, synced_canceled_at TIMESTAMP, " +
      "value DOUBLE, synced_data STRING"
    val tmp = Files.createTempDirectory("graft-mor-empty").toString
    val mor = new ParquetReplica(spark, s"$tmp/r", ddl, buckets = 4,
      mergeOnRead = true, compactEvery = 100)
    def upd(rows: (Long, java.sql.Timestamp, String, Double)*) =
      rows.toSeq
        .toDF("synced_id", "synced_updated_at", "event_type", "value")
        .withColumn("synced_created_at", $"synced_updated_at")
        .withColumn("canceled_at", lit(null).cast("timestamp"))
        .withColumn("synced_data", concat(lit("d"), $"synced_id"))
    mor.merge(upd((1L, java.sql.Timestamp.valueOf("2026-01-01 10:00:00"),
      "updated", 1.0)))
    val v = mor.currentVersion
    val epochs = mor.deltaEntries(v).size
    val emptyBatch = upd().limit(0)
    // footer-check path: the delta write runs, the
    // parquet footers read zero rows, nothing publishes — an idle
    // stream's watermark ticks must never bump versions or leave dirs
    mor.merge(emptyBatch)
    assert(mor.currentVersion == v && mor.deltaEntries(v).size == epochs,
      "footer path must not publish an empty epoch")
    // no orphan delta dir left behind by the aborted write
    val vDirs = Option(new java.io.File(s"$tmp/r/v${v + 1}").listFiles())
      .getOrElse(Array.empty)
    assert(vDirs.isEmpty, s"orphan epoch files: ${vDirs.toSeq}")
    // and the table is untouched
    assert(mor.read().count() == 1)
  }

  test("StatefulLww drops stale events across micro-batches") {
    val tmp = Files.createTempDirectory("graft-lww").toString
    // two files = two micro-batches with MaxFilesPerTrigger(1):
    // batch 1 carries the NEWER event, batch 2 the stale one
    Seq(StatefulLww.Rec(1L, 2000L, 2.0, "updated"))
      .toDF().write.parquet(s"$tmp/in/f1")
    Seq(StatefulLww.Rec(1L, 1000L, 1.0, "updated"))
      .toDF().write.parquet(s"$tmp/in/f2")
    val schema = spark.read.parquet(s"$tmp/in/f1").schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in/*")
    val out = StatefulLww(in.as[StatefulLww.Rec])
    val q = out.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("lww_out")
      .option("checkpointLocation", s"$tmp/cp")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("lww_out").as[StatefulLww.Rec].collect()
    // the newer event must be applied; the stale one must never overwrite
    assert(rows.map(_.updated_us).max == 2000L)
    assert(rows.count(_.updated_us == 1000L) == 0,
      s"stale event leaked: ${rows.mkString(",")}")
  }

  test("streaming event-time window agg with watermark matches batch") {
    val tmp = Files.createTempDirectory("graft-win").toString
    val batchEvents = graft.queries.Q.tbl(spark, sf(), "events")
      .select($"ts", $"event_type")
    batchEvents.write.parquet(s"$tmp/in")
    val in = spark.readStream
      .schema(spark.read.parquet(s"$tmp/in").schema).parquet(s"$tmp/in")
    val agg = in.withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("w"), $"event_type", $"n")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_out")
      .option("checkpointLocation", s"$tmp/cp")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("win_out")
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map { case (w, t, n) => (w.getTime, t) -> n }.toMap
    val want = batchEvents
      .groupBy(window($"ts", "1 hour"), $"event_type").agg(count(lit(1)).as("n"))
      .select($"window.start".as("w"), $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map { case (w, t, n) => (w.getTime, t) -> n }.toMap
    assert(got.nonEmpty, "watermark must close and emit windows")
    // append mode emits only closed windows; every emitted window must
    // match the batch truth exactly
    got.foreach { case (k, n) => assert(want(k) == n, s"window $k") }
    // and all but the final (still-open) windows must have been emitted
    assert(got.size >= want.size - 5, s"${got.size} vs ${want.size}")
  }

  test("streaming sessionization via session_window matches batch") {
    // q10's streaming twin: Spark-native session windows (merge-on-gap
    // state under a watermark) — the streaming form of lag-based
    // sessionization; append mode emits a session once its gap closes
    val tmp = Files.createTempDirectory("graft-sess").toString
    val batchEvents = graft.queries.Q.tbl(spark, sf(), "events")
      .select($"ts", $"user_id")
    batchEvents.write.parquet(s"$tmp/in")
    val in = spark.readStream
      .schema(spark.read.parquet(s"$tmp/in").schema).parquet(s"$tmp/in")
    def sessions(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n_events"))
        .select($"session_window.start".as("s"),
          $"session_window.end".as("e"), $"user_id", $"n_events")
    val q = sessions(in.withWatermark("ts", "1 hour"))
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out")
      .option("checkpointLocation", s"$tmp/cp")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("sess_out")
      .as[(java.sql.Timestamp, java.sql.Timestamp, Long, Long)].collect()
      .map { case (s, e, u, n) => (s.getTime, e.getTime, u) -> n }.toMap
    val want = sessions(batchEvents)
      .as[(java.sql.Timestamp, java.sql.Timestamp, Long, Long)].collect()
      .map { case (s, e, u, n) => (s.getTime, e.getTime, u) -> n }.toMap
    assert(got.nonEmpty, "watermark must close and emit sessions")
    got.foreach { case (k, n) => assert(want(k) == n, s"session $k") }
    // only sessions still open at the watermark may be withheld
    assert(got.size >= want.size - 50, s"${got.size} vs ${want.size}")
  }

  test("streaming session trajectories match batch, order state-safe") {
    // x86's streaming twin: the trajectory string builds inside a
    // session_window aggregation — collect_list arrival order is NOT
    // trusted; the explicit array_sort(struct(ts, event_id, …)) pins
    // the sequence no matter how micro-batches interleave
    val tmp = Files.createTempDirectory("graft-straj").toString
    val batchEvents = graft.queries.Q.tbl(spark, sf(), "events")
      .select($"ts", $"user_id", $"event_id", $"event_type")
    batchEvents.write.parquet(s"$tmp/in")
    val in = spark.readStream
      .schema(spark.read.parquet(s"$tmp/in").schema)
      // several micro-batches so sessions assemble across batches
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/in")
    def traj(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(concat_ws(">", transform(
          array_sort(collect_list(struct($"ts", $"event_id", $"event_type"))),
          x => x.getField("event_type"))).as("traj"))
        .select($"session_window.start".as("s"), $"user_id", $"traj")
    val q = traj(in.withWatermark("ts", "1 hour"))
      .writeStream.outputMode("append")
      .format("memory").queryName("straj_out")
      .option("checkpointLocation", s"$tmp/cp")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("straj_out")
      .as[(java.sql.Timestamp, Long, String)].collect()
      .map { case (s, u, t) => (s.getTime, u) -> t }.toMap
    val want = traj(batchEvents)
      .as[(java.sql.Timestamp, Long, String)].collect()
      .map { case (s, u, t) => (s.getTime, u) -> t }.toMap
    assert(got.nonEmpty, "watermark must close and emit sessions")
    got.foreach { case (k, t) => assert(want(k) == t, s"session $k") }
    assert(got.size >= want.size - 50, s"${got.size} vs ${want.size}")
  }

  /** Adapter binding the demo registry's "models" (event types) to the
    * synthetic events table: each event row is an upsert of the user
    * aggregate, 'error' rows soft-delete it. */
  private final class EventsBindings(sourceDir: String) extends Engine.ModelBindings {
    private def base(s: org.apache.spark.sql.SparkSession) = {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = s.read.parquet(sourceDir).schema
      s.readStream.schema(schema).parquet(sourceDir)
        .transform(graft.queries.Q.normalizeEventTs)
    }
    def changes(s: org.apache.spark.sql.SparkSession, m: graft.registry.ModelDef) =
      base(s).filter($"event_type" === m.name)
        .select($"user_id".as("id"), $"value",
          lit("update").as("__op"),
          lit(null).cast("timestamp").as("__old_canceled"),
          when($"event_type" === "error", $"ts").as("__new_canceled"),
          $"ts".as("__ts"))
    def snapshot(s: org.apache.spark.sql.SparkSession, m: graft.registry.ModelDef) =
      throw new UnsupportedOperationException("demo registry has no sideloads")
  }

  test("Engine: registry-driven per-model replicas with routed topics") {
    val tmp = Files.createTempDirectory("graft-engine").toString
    val src = s"$tmp/src"
    new java.io.File(src).mkdirs()
    Files.copy(java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      java.nio.file.Paths.get(s"$src/events.parquet"))
    val reg = graft.queries.ProducerQueries.registry // v1: events/purchases/alerts
    val res = Engine.runAvailableNow(spark, reg, new EventsBindings(src), s"$tmp/work")
    assert(res.topics.toSet == Set("v1_events", "v1_purchases", "v1_alerts"))
    assert(res.replicas.keySet ==
      Set("click", "view", "signup", "purchase", "error"))
    res.replicas.values.foreach(r => assert(r.read().count() > 0))
    // purchase values: registry-derived serializer must round-trip the
    // declared attribute — compare against the batch truth (latest
    // purchase event per user)
    val purchases = res.replicas("purchase").read()
      .select($"synced_id", $"value").as[(Long, Double)].collect().toMap
    val truth = graft.queries.Q.tbl(spark, sf(), "events")
      .filter($"event_type" === "purchase")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
          .orderBy(unix_micros($"ts").desc, $"event_id".desc)))
      .filter($"rn" === 1)
      .select($"user_id", $"value").as[(Long, Double)].collect().toMap
    assert(purchases.keySet == truth.keySet)
    truth.foreach { case (k, v) => assert(purchases(k) == v, s"user $k") }
    // the error model only ever receives destroys → every row soft-deleted
    val errors = res.replicas("error").read()
    assert(errors.count() > 0 &&
      errors.filter($"synced_canceled_at".isNull).count() == 0)
  }

  test("Engine: sideloads embed, flatten to synced_* links, and persist children") {
    import graft.registry._
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val tmp = Files.createTempDirectory("graft-engine-agg").toString

    // 2-model registry: order sideloads order_line (a dependency-only model)
    val orderDef = ModelDef("order",
      attributes = Seq(Attribute("total", DoubleType)),
      hasMany = Seq(Association("order_lines", "order_line", fk = "order_id")),
      sideloads = Seq("order_line"))
    val lineDef = ModelDef("order_line",
      attributes = Seq(Attribute("order_id", LongType),
        Attribute("qty", DoubleType)))
    val reg = Registry("shop", Seq(TopicDef("orders", Seq(orderDef))),
      dependencyModels = Seq(lineDef))

    // stage a small change stream (orders) + child snapshot (lineitem)
    val ordersSrc = s"$tmp/orders"
    graft.queries.Q.tbl(spark, sf(), "orders").limit(50)
      .select($"o_orderkey".as("id"), $"o_totalprice".as("total"),
        lit("insert").as("__op"),
        lit(null).cast("timestamp").as("__old_canceled"),
        lit(null).cast("timestamp").as("__new_canceled"),
        $"o_orderdate".cast("timestamp").as("__ts"))
      .write.parquet(ordersSrc)
    // the synthetic lineitem repeats (orderkey, linenumber) — aggregate to
    // one row per pair so the child primary key is genuinely unique
    val linesSnap = graft.queries.Q.tbl(spark, sf(), "lineitem")
      .groupBy($"l_orderkey", $"l_linenumber")
      .agg(sum($"l_quantity").cast("double").as("qty"),
        max($"l_shipdate").cast("timestamp").as("__ts"))
      .select(($"l_orderkey" * 10 + $"l_linenumber").as("id"),
        $"l_orderkey".as("order_id"), $"qty", $"__ts")

    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        s.readStream.schema(s.read.parquet(ordersSrc).schema).parquet(ordersSrc)
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) = linesSnap
    }
    val res = Engine.runAvailableNow(spark, reg, bindings, s"$tmp/work")

    val orders = res.replicas("order").read()
    val lines = res.replicas("order_line").read()
    assert(orders.count() == 50)
    // links flattened to the reserved to-many column, ordered child ids
    assert(orders.columns.contains("synced_order_line_ids"))
    val gotIds = orders.select($"synced_id", $"synced_order_line_ids")
      .as[(Long, Seq[Long])].collect().toMap
    val wantIds = linesSnap
      .join(orders.select($"synced_id".as("order_id")), Seq("order_id"))
      .groupBy($"order_id").agg(sort_array(collect_list($"id")).as("ids"))
      .as[(Long, Seq[Long])].collect().toMap
    for ((k, ids) <- wantIds) assert(gotIds(k) == ids, s"order $k")
    // orders with no lineitems carry a null link array, not a crash
    assert(gotIds.keySet.size == 50)
    // embedded children persisted into their own replica with C5 renames
    assert(lines.columns.toSet.intersect(
      Set("synced_id", "order_id", "qty", "synced_updated_at")).size == 4)
    val wantLineCount = wantIds.values.map(_.size).sum
    assert(lines.count() == wantLineCount,
      s"${lines.count()} vs $wantLineCount")
    // child attribute round-trips through embed → explode → merge
    val qty = lines.select($"synced_id", $"qty").as[(Long, Double)].collect().toMap
    val wantQty = linesSnap
      .join(orders.select($"synced_id".as("order_id")), Seq("order_id"))
      .select($"id", $"qty").as[(Long, Double)].collect().toMap
    wantQty.foreach { case (k, v) => assert(qty(k) == v, s"line $k") }
  }

  test("Engine: streaming disassociation is bucket-pruned end to end") {
    import graft.registry._
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val tmp = Files.createTempDirectory("graft-engine-c11").toString
    val src = s"$tmp/src"

    val orderDef = ModelDef("order",
      attributes = Seq(Attribute("total", DoubleType)),
      hasMany = Seq(Association("order_lines", "order_line", fk = "order_id")),
      sideloads = Seq("order_line"))
    val lineDef = ModelDef("order_line",
      attributes = Seq(Attribute("order_id", LongType),
        Attribute("qty", DoubleType)))
    val reg = Registry("c11", Seq(TopicDef("orders", Seq(orderDef))),
      dependencyModels = Seq(lineDef))

    def orderChange(ids: Seq[Long], file: String): Unit =
      ids.toDF("id").select($"id", ($"id" * 100.0).as("total"),
          lit("update").as("__op"),
          lit(null).cast("timestamp").as("__old_canceled"),
          lit(null).cast("timestamp").as("__new_canceled"),
          lit("2026-05-01 00:00:00").cast("timestamp").as("__ts"))
        .write.parquet(s"$src/$file")
    // 8 parents, 4 lines each: line ids 1..32, parent = (id-1)/4 + 1
    def linesSnap(drop: Set[Long]) =
      (1L to 32L).filterNot(drop).toDF("id")
        .select($"id", (($"id" - 1) / lit(4) + 1).cast("long").as("order_id"),
          ($"id" * 1.0).as("qty"),
          lit("2026-05-02 00:00:00").cast("timestamp").as("__ts"))
    @volatile var snap = linesSnap(Set.empty)
    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        s.readStream.schema(s.read.parquet(s"$src/f1").schema).parquet(s"$src/*")
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) = snap
    }

    orderChange(1L to 8L, "f1")
    Engine.runAvailableNow(spark, reg, bindings, s"$tmp/work")
    val lineRoot = s"$tmp/work/replicas/order_line"
    val probe = new graft.streaming.ParquetReplica(spark, lineRoot,
      lineDef.replicaSchema.toDDL)
    assert(probe.read().count() == 32)
    val manBefore = probe.manifest(probe.currentVersion)

    // parent 1 republishes with line 4 gone from its aggregate
    snap = linesSnap(Set(4L))
    orderChange(Seq(1L), "f2")
    Engine.runAvailableNow(spark, reg, bindings, s"$tmp/work")

    // the vanished child disassociated…
    val left = probe.read().select("synced_id").as[Long].collect().toSet
    assert(left == (1L to 32L).toSet - 4L, s"got $left")
    // …and ONLY the buckets of parent 1's children (merged: 1,2,3;
    // destroyed: 4) were rewritten — every other bucket's manifest entry
    // still points at the previous version's files (byte-identical by
    // construction: carried by reference, never rewritten)
    val manAfter = probe.manifest(probe.currentVersion)
    val expectTouched = (1L to 4L).toDF("id")
      .select(pmod(hash($"id"), lit(16)).as("b"))
      .as[Int].collect().toSet
    val touched = manAfter.keySet.filter(b => manBefore.get(b) != manAfter.get(b))
    assert(touched.subsetOf(expectTouched), s"touched $touched vs $expectTouched")
    (manAfter.keySet -- touched).foreach { b =>
      assert(manAfter(b) == manBefore(b), s"bucket $b must be untouched")
    }
    assert((manBefore.keySet -- touched).nonEmpty,
      "test must actually exercise untouched buckets")
  }

  test("Engine: replica storage is pluggable — CowReplica run matches ParquetReplica") {
    import graft.registry._
    import org.apache.spark.sql.types.DoubleType
    val tmp = Files.createTempDirectory("graft-engine-cow").toString
    val chg = s"$tmp/chg"
    Seq((1L, 1.0, "update"), (2L, 2.0, "update"), (3L, 3.0, "delete"))
      .toDF("id", "value", "__op")
      .withColumn("__old_canceled", lit(null).cast("timestamp"))
      .withColumn("__new_canceled", lit(null).cast("timestamp"))
      .withColumn("__ts", lit("2026-07-01 00:00:00").cast("timestamp"))
      .write.parquet(chg)
    val reg = Registry("v12", Seq(TopicDef("things",
      models = Seq(ModelDef("thing",
        attributes = Seq(Attribute("value", DoubleType)))))))
    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        s.readStream.schema(s.read.parquet(chg).schema).parquet(chg)
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        throw new UnsupportedOperationException("no sideloads")
    }
    def state(res: Engine.EngineResult) = res.replicas("thing").read()
      .select($"synced_id", $"value", $"synced_canceled_at".isNotNull)
      .as[(Long, Option[Double], Boolean)].collect().toSet
    val parquetRun = Engine.runAvailableNow(spark, reg, bindings, s"$tmp/w1")
    // the SAME registry and feed through the thin copy-on-write store —
    // the drop-in bar for a transactional-format replica
    val cowRun = Engine.runAvailableNow(spark, reg, bindings, s"$tmp/w2",
      options = Engine.EngineOptions(replicaFactory = Some((s, m, root) =>
        new graft.streaming.CowReplica(s, root, m.replicaSchema.toDDL))))
    assert(cowRun.replicas("thing").isInstanceOf[graft.streaming.CowReplica])
    assert(state(parquetRun) == state(cowRun), s"${state(parquetRun)} vs ${state(cowRun)}")
    assert(state(cowRun).size == 3)
    // ... and through the MERGE-ON-READ mode (EngineOptions knob):
    // engine merges become delta-log appends with compaction mid-run
    // (compactEvery=1 forces a fold after every merge — the maximal
    // interleaving of append and compact), same replica state
    val morRun = Engine.runAvailableNow(spark, reg, bindings, s"$tmp/w3",
      options = Engine.EngineOptions(mergeOnRead = true,
        replicaCompactEvery = 1))
    assert(state(parquetRun) == state(morRun),
      s"MoR diverged: ${state(parquetRun)} vs ${state(morRun)}")
  }

  test("Engine: serialize:false models publish IDs-only payloads") {
    import graft.registry._
    import org.apache.spark.sql.types.DoubleType
    val tmp = Files.createTempDirectory("graft-engine-ser").toString
    val chg = s"$tmp/chg"
    Seq((1L, 10.0, "update"), (2L, 20.0, "delete")).toDF("id", "value", "__op")
      .withColumn("__old_canceled", lit(null).cast("timestamp"))
      .withColumn("__new_canceled", lit(null).cast("timestamp"))
      .withColumn("__ts", lit("2026-06-01 00:00:00").cast("timestamp"))
      .write.parquet(chg)
    // the DTO-bypass model declares an attribute but must never ship it
    val reg = Registry("v11", Seq(TopicDef("things",
      models = Seq(ModelDef("thing",
        attributes = Seq(Attribute("value", DoubleType)),
        serialize = false)))))
    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        s.readStream.schema(s.read.parquet(chg).schema).parquet(chg)
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        throw new UnsupportedOperationException("no sideloads")
    }
    val res = Engine.runAvailableNow(spark, reg, bindings, s"$tmp/work")
    // wire payloads carry key + timestamps ONLY, on every event type
    val payloads = graft.codec.EnvelopeCodec.explodeRecords(
      graft.codec.EnvelopeCodec.decode(spark.read
        .schema(graft.model.Schemas.wire)
        .parquet(s"$tmp/work/topics/v11_things")))
    assert(payloads.count() == 2)
    payloads.select("payload_json").as[String].collect().foreach { p =>
      assert(!p.contains("\"value\""), s"attribute leaked into payload: $p")
      assert(p.contains("\"id\"") && p.contains("\"updated_at\""), p)
    }
    // replica rows land with key + timestamps; the declared attribute is
    // null because the wire never carried it
    val replica = res.replicas("thing").read()
    assert(replica.count() == 2)
    assert(replica.filter($"value".isNotNull).count() == 0)
    assert(replica.filter($"synced_updated_at".isNull).count() == 0)
    assert(replica.filter($"synced_id" === 2L)
      .select($"synced_canceled_at".isNotNull).as[Boolean].collect()(0))
  }

  test("Engine: message filter quarantines, consumed events publish, genesis backfills") {
    import graft.registry._
    import org.apache.spark.sql.types.DoubleType
    val tmp = Files.createTempDirectory("graft-engine-opts").toString
    val src = s"$tmp/src"
    new java.io.File(src).mkdirs()
    Files.copy(java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      java.nio.file.Paths.get(s"$src/events.parquet"))
    val reg = Registry("v2", Seq(
      TopicDef("events", models = Seq(
        ModelDef("click", attributes = Seq(Attribute("value", DoubleType))),
        ModelDef("view", attributes = Seq(Attribute("value", DoubleType)))))))
    val bindings = new EventsBindings(src)
    // drop every 'view' message at the consumer boundary (C6)
    val res = Engine.runAvailableNow(spark, reg, bindings, s"$tmp/work",
      options = Engine.EngineOptions(
        messageFilters = Map("v2_events" -> ($"model_name" === "view")),
        publishConsumedEvents = true,
        trackLocalChanges = true))
    assert(res.replicas("click").read().count() > 0)
    assert(res.replicas("view").read().count() == 0,
      "filtered model must never reach its replica")
    val quarantined = spark.read.parquet(s"$tmp/work/quarantine/v2_events")
    assert(quarantined.count() > 0 &&
      quarantined.filter($"model_name" =!= "view").count() == 0)
    // C14: consumed events carry names + ids for everything merged
    val consumed = spark.read.parquet(s"$tmp/work/consumed/v2_events")
    assert(consumed.filter($"model_name" === "click").count() ==
      res.replicas("click").read().count())
    assert(consumed.select("event_name").distinct()
      .as[String].collect().forall(_.startsWith("click_")))
    // C12: every insert-into-empty-replica records a value change diff
    val withChanges = consumed.filter($"local_changes".isNotNull)
    assert(withChanges.count() == consumed.count())
    assert(withChanges.filter($"local_changes".contains("\"value\""))
      .count() == consumed.count())

    // P16: genesis streams the click snapshot into the primary topic
    val clickSnap = graft.queries.Q.tbl(spark, sf(), "events")
      .filter($"event_type" === "click")
      .groupBy($"user_id".as("id"))
      .agg(max($"value").as("value"), max($"ts").as("__ts"))
    val gBindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        bindings.changes(s, m)
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) = clickSnap
    }
    // genesis appends into the SAME topic directory the streaming producer
    // wrote — a FileStreamSink output whose _spark_metadata log is
    // authoritative, so the append must go through the sink to be visible
    def clickUpdates(): Long = graft.codec.EnvelopeCodec.explodeRecords(
      graft.codec.EnvelopeCodec.decode(
        spark.read.parquet(s"$tmp/work/topics/v2_events")))
      .filter($"event" === "click_updated").count()
    val beforeGenesis = clickUpdates()
    val targets = Engine.genesis(spark, reg, gBindings, "click", s"$tmp/work")
    assert(targets == Seq("v2_events"))
    // exactly one additional <model>_updated event per snapshot row,
    // VISIBLE through the metadata-log-respecting reader
    assert(clickUpdates() == beforeGenesis + clickSnap.count())
    // dependency-only models are refused (P19)
    val depReg = Registry("v3", Seq(
      TopicDef("orders", Seq(ModelDef("order", sideloads = Seq("line"))))),
      dependencyModels = Seq(ModelDef("line")))
    intercept[IllegalArgumentException](
      Engine.genesis(spark, depReg, gBindings, "line", s"$tmp/work"))
  }

  test("P10: lambda partition key resolves through the engine producer") {
    import graft.registry._
    import org.apache.spark.sql.types.DoubleType
    val tmp = Files.createTempDirectory("graft-p10").toString
    val src = s"$tmp/src"
    new java.io.File(src).mkdirs()
    Seq((7L, 1.0), (12L, 2.0)).toDF("user_id", "value")
      .select($"user_id", $"value", lit("click").as("event_type"),
        (lit(1735689600000000L) * 1000).as("ts"))
      .write.parquet(s"$src/f1")
    // the reference's partition_key lambda (partition_key.rb:34-36): an
    // opaque per-topic function of the resource — here a shard router
    val reg = Registry("pk", Seq(TopicDef("events",
      models = Seq(ModelDef("click",
        attributes = Seq(Attribute("value", DoubleType)))),
      partitionKeyFn = Some((r: org.apache.spark.sql.Column) =>
        concat(lit("shard-"), pmod(r.getField("id"), lit(4)))))))
    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        s.readStream.schema(s.read.parquet(s"$src/f1").schema)
          .parquet(s"$src/*")
          .transform(graft.queries.Q.normalizeEventTs)
          .filter($"event_type" === m.name)
          .select($"user_id".as("id"), $"value",
            lit("update").as("__op"),
            lit(null).cast("timestamp").as("__old_canceled"),
            lit(null).cast("timestamp").as("__new_canceled"),
            $"ts".as("__ts"))
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        throw new UnsupportedOperationException("no sideloads")
    }
    Engine.runAvailableNow(spark, reg, bindings, s"$tmp/work")
    val keys = spark.read.parquet(s"$tmp/work/topics/pk_events")
      .select($"partition_key").as[String].collect().toSet
    assert(keys == Set("shard-3", "shard-0"), keys.toString) // 7%4, 12%4
  }

  test("P10 lambda sees the declared resource shape, not engine internals") {
    import graft.registry._
    import org.apache.spark.sql.types.DoubleType
    val tmp = Files.createTempDirectory("graft-p10-shape").toString
    val src = s"$tmp/src"
    new java.io.File(src).mkdirs()
    Seq((7L, 1.0)).toDF("user_id", "value")
      .select($"user_id", $"value", lit("click").as("event_type"),
        (lit(1735689600000000L) * 1000).as("ts"))
      .write.parquet(s"$src/f1")
    // the lambda serializes its whole input: the key then RECORDS the
    // struct shape the engine handed it — which must be the declared
    // resource (primary key + declared attributes), identical on every
    // call site, with no __-prefixed engine columns (the reference
    // lambda receives the resource object, partition_key.rb:34-36)
    val reg = Registry("ps", Seq(TopicDef("events",
      models = Seq(ModelDef("click",
        attributes = Seq(Attribute("value", DoubleType)))),
      partitionKeyFn = Some((r: org.apache.spark.sql.Column) => to_json(r)))))
    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        s.readStream.schema(s.read.parquet(s"$src/f1").schema)
          .parquet(s"$src/*")
          .transform(graft.queries.Q.normalizeEventTs)
          .filter($"event_type" === m.name)
          .select($"user_id".as("id"), $"value",
            lit("update").as("__op"),
            lit(null).cast("timestamp").as("__old_canceled"),
            lit(null).cast("timestamp").as("__new_canceled"),
            $"ts".as("__ts"))
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        throw new UnsupportedOperationException("no sideloads")
    }
    Engine.runAvailableNow(spark, reg, bindings, s"$tmp/work")
    val keys = spark.read.parquet(s"$tmp/work/topics/ps_events")
      .select($"partition_key").as[String].collect()
    assert(keys.nonEmpty)
    keys.foreach { k =>
      assert(!k.contains("__"), s"engine internals leaked into resource: $k")
      assert(k.contains("\"id\":7") && k.contains("\"value\":1.0"),
        s"declared resource fields missing: $k")
    }
  }

  test("params_batch_transformation: custom per-topic batch transform reaches persistence") {
    import graft.registry._
    import org.apache.spark.sql.types.DoubleType
    val tmp = Files.createTempDirectory("graft-bt").toString
    val src = s"$tmp/src"
    new java.io.File(src).mkdirs()
    Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0))
      .toDF("user_id", "value")
      .select($"user_id", $"value", lit("click").as("event_type"),
        (lit(1735689600000000L) * 1000).as("ts"))
      .write.parquet(s"$src/f1")
    val reg = Registry("bt", Seq(TopicDef("events",
      models = Seq(ModelDef("click",
        attributes = Seq(Attribute("value", DoubleType)))))))
    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        s.readStream.schema(s.read.parquet(s"$src/f1").schema)
          .parquet(s"$src/*")
          .transform(graft.queries.Q.normalizeEventTs)
          .filter($"event_type" === m.name)
          .select($"user_id".as("id"), $"value",
            lit("update").as("__op"),
            lit(null).cast("timestamp").as("__old_canceled"),
            lit(null).cast("timestamp").as("__new_canceled"),
            $"ts".as("__ts"))
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        throw new UnsupportedOperationException("no sideloads")
    }
    // the custom lambda: keep only odd-id records (reference
    // README.md:900-915 — an opaque per-topic params_batch transform)
    val res = Engine.runAvailableNow(spark, reg, bindings, s"$tmp/work",
      options = Engine.EngineOptions(batchTransforms = Map(
        "bt_events" -> ((b: org.apache.spark.sql.DataFrame) =>
          b.filter(get_json_object($"payload_json", "$.id")
            .cast("long") % 2 === 1)))))
    val ids = res.replicas("click").read()
      .select($"synced_id").as[Long].collect().toSet
    assert(ids == Set(1L, 3L), s"transform must gate persistence: $ids")
  }

  test("params_batch_transformation runs BEFORE the message filter (reference order)") {
    import graft.registry._
    import org.apache.spark.sql.types.DoubleType
    val tmp = Files.createTempDirectory("graft-bt-order").toString
    val src = s"$tmp/src"
    new java.io.File(src).mkdirs()
    Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0))
      .toDF("user_id", "value")
      .select($"user_id", $"value", lit("click").as("event_type"),
        (lit(1735689600000000L) * 1000).as("ts"))
      .write.parquet(s"$src/f1")
    val reg = Registry("bo", Seq(TopicDef("events",
      models = Seq(ModelDef("click",
        attributes = Seq(Attribute("value", DoubleType)))))))
    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        s.readStream.schema(s.read.parquet(s"$src/f1").schema)
          .parquet(s"$src/*")
          .transform(graft.queries.Q.normalizeEventTs)
          .filter($"event_type" === m.name)
          .select($"user_id".as("id"), $"value",
            lit("update").as("__op"),
            lit(null).cast("timestamp").as("__old_canceled"),
            lit(null).cast("timestamp").as("__new_canceled"),
            $"ts".as("__ts"))
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        throw new UnsupportedOperationException("no sideloads")
    }
    // the transform keeps id X only when id X+1 is in the batch IT sees;
    // the filter drops even ids. Reference order (transform on the raw
    // batch, karafka_consumer_generator.rb:29) → transform over {1,2,3,4}
    // keeps {1,2,3}, filter then keeps {1,3}. Filter-first would hand the
    // transform {1,3} and persist NOTHING — the ordering is observable.
    def jid(c: org.apache.spark.sql.Column) =
      get_json_object(c, "$.id").cast("long")
    val res = Engine.runAvailableNow(spark, reg, bindings, s"$tmp/work",
      options = Engine.EngineOptions(
        batchTransforms = Map("bo_events" -> ((b: org.apache.spark.sql.DataFrame) => {
          val next = b.select((jid($"payload_json") - 1).as("__prev"))
          b.join(next, jid($"payload_json") === $"__prev", "left_semi")
        })),
        messageFilters = Map("bo_events" -> (jid($"payload_json") % 2 === 0))))
    val ids = res.replicas("click").read()
      .select($"synced_id").as[Long].collect().toSet
    assert(ids == Set(1L, 3L),
      s"transform must see pre-filter rows (got $ids)")
  }

  test("computed attribute: custom-serializer field derives at publish and persists") {
    import graft.registry._
    import org.apache.spark.sql.types.DoubleType
    val tmp = Files.createTempDirectory("graft-computed").toString
    val src = s"$tmp/src"
    new java.io.File(src).mkdirs()
    Seq((1L, 2.0), (2L, 5.0)).toDF("user_id", "value")
      .select($"user_id", $"value", lit("click").as("event_type"),
        (lit(1735689600000000L) * 1000).as("ts"))
      .write.parquet(s"$src/f1")
    // the custom-serializer slot (reference README.md:125-135): a
    // derived payload field — serialized from an expression, carried on
    // the wire under its declared name/type, persisted by the consumer
    val reg = Registry("cs", Seq(TopicDef("events", models = Seq(
      ModelDef("click", attributes = Seq(
        Attribute("value", DoubleType),
        Attribute("value_x2", DoubleType, computed = Some($"value" * 2))))))))
    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        s.readStream.schema(s.read.parquet(s"$src/f1").schema)
          .parquet(s"$src/*")
          .transform(graft.queries.Q.normalizeEventTs)
          .filter($"event_type" === m.name)
          .select($"user_id".as("id"), $"value",
            lit("update").as("__op"),
            lit(null).cast("timestamp").as("__old_canceled"),
            lit(null).cast("timestamp").as("__new_canceled"),
            $"ts".as("__ts"))
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        throw new UnsupportedOperationException("no sideloads")
    }
    val res = Engine.runAvailableNow(spark, reg, bindings, s"$tmp/work")
    val got = res.replicas("click").read()
      .select($"synced_id", $"value", $"value_x2")
      .as[(Long, Double, Double)].collect()
      .map { case (i, v, v2) => i -> ((v, v2)) }.toMap
    assert(got == Map(1L -> ((2.0, 4.0)), 2L -> ((5.0, 10.0))), got.toString)
  }

  test("Engine: live trigger keeps queries running and picks up new changes") {
    import graft.registry._
    import org.apache.spark.sql.types.DoubleType
    val tmp = Files.createTempDirectory("graft-engine-live").toString
    val src = s"$tmp/src"
    new java.io.File(src).mkdirs()
    // seed a first change file so bindings can infer the source schema
    Seq((1L, 1.0)).toDF("user_id", "value")
      .select($"user_id", $"value", lit("click").as("event_type"),
        (lit(1735689600000000L) * 1000).as("ts")) // ns, as the events table
      .write.parquet(s"$src/f1")
    val reg = Registry("v6", Seq(TopicDef("events", models = Seq(
      ModelDef("click", attributes = Seq(Attribute("value", DoubleType)))))))
    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        s.readStream.schema(s.read.parquet(s"$src/f1").schema)
          .parquet(s"$src/*")
          .transform(graft.queries.Q.normalizeEventTs)
          .filter($"event_type" === m.name)
          .select($"user_id".as("id"), $"value",
            lit("update").as("__op"),
            lit(null).cast("timestamp").as("__old_canceled"),
            lit(null).cast("timestamp").as("__new_canceled"),
            $"ts".as("__ts"))
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        throw new UnsupportedOperationException("no sideloads")
    }
    val (queries, res) = Engine.start(spark, reg, bindings, s"$tmp/work",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    try {
      def await(pred: () => Boolean, what: String): Unit = {
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (!pred() && System.nanoTime() < deadline) Thread.sleep(200)
        assert(pred(), s"timed out waiting for $what")
      }
      await(() => res.replicas("click").read().count() == 1, "first row")
      // a NEW change file arrives while everything is running
      Seq((2L, 5.0)).toDF("user_id", "value")
        .select($"user_id", $"value", lit("click").as("event_type"),
          (lit(1735689700000000L) * 1000).as("ts"))
        .write.parquet(s"$src/f2")
      await(() => res.replicas("click").read().count() == 2, "live pickup")
      assert(queries.forall(_.isActive), "queries must stay running")
    } finally queries.foreach(_.stop())
  }

  test("live mode: restart resumes from checkpoints without reprocessing") {
    import graft.registry._
    import org.apache.spark.sql.types.DoubleType
    val tmp = Files.createTempDirectory("graft-engine-resume").toString
    val src = s"$tmp/src"
    new java.io.File(src).mkdirs()
    def emit(id: Long, v: Double, file: String): Unit =
      Seq((id, v)).toDF("user_id", "value")
        .select($"user_id", $"value", lit("click").as("event_type"),
          (lit(1735689600000000L + id * 1000000L) * 1000).as("ts"))
        .write.parquet(s"$src/$file")
    emit(1L, 1.0, "f1")
    val reg = Registry("rs", Seq(TopicDef("events", models = Seq(
      ModelDef("click", attributes = Seq(Attribute("value", DoubleType)))))))
    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        s.readStream.schema(s.read.parquet(s"$src/f1").schema)
          .parquet(s"$src/*")
          .transform(graft.queries.Q.normalizeEventTs)
          .select($"user_id".as("id"), $"value",
            lit("update").as("__op"),
            lit(null).cast("timestamp").as("__old_canceled"),
            lit(null).cast("timestamp").as("__new_canceled"),
            $"ts".as("__ts"))
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        throw new UnsupportedOperationException("no sideloads")
    }
    val opts = Engine.EngineOptions(publishConsumedEvents = true)
    val trig = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds")
    def await(pred: () => Boolean, what: String): Unit = {
      val deadline = System.nanoTime() + 90L * 1000000000L
      while (!pred() && System.nanoTime() < deadline) Thread.sleep(200)
      assert(pred(), s"timed out waiting for $what")
    }
    // session 1: consume the first event, then a clean shutdown
    val (q1, r1) = Engine.start(spark, reg, bindings, s"$tmp/work",
      options = opts, trigger = trig)
    try await(() => r1.replicas("click").read().count() == 1, "first event")
    finally q1.foreach(_.stop())
    // session 2: SAME workDir — producer and consumer checkpoints resume;
    // a new event arrives and flows through
    emit(2L, 5.0, "f2")
    val (q2, r2) = Engine.start(spark, reg, bindings, s"$tmp/work",
      options = opts, trigger = trig)
    try {
      await(() => r2.replicas("click").read().count() == 2, "post-restart event")
      // the sharper claim: event 1 was NOT reprocessed after restart —
      // its consumed-event record appears exactly once across both
      // sessions (offsets resumed, the first micro-batch didn't replay)
      val consumed = spark.read
        .parquet(s"$tmp/work/consumed/rs_events")
        .filter($"synced_id" === 1L).count()
      assert(consumed == 1, s"event 1 consumed $consumed times across restart")
    } finally q2.foreach(_.stop())
  }

  test("Engine: import-mode topics bulk-upsert and HARD-destroy") {
    import graft.registry._
    import org.apache.spark.sql.types.DoubleType
    val tmp = Files.createTempDirectory("graft-engine-import").toString
    val src = s"$tmp/src"
    new java.io.File(src).mkdirs()
    Files.copy(java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      java.nio.file.Paths.get(s"$src/events.parquet"))
    def m(n: String) = ModelDef(n,
      attributes = Seq(Attribute("value", DoubleType)))
    val reg = Registry("v5", Seq(
      TopicDef("bulk", models = Seq(m("signup"), m("error")),
        importMode = true)))
    val res = Engine.runAvailableNow(spark, reg, new EventsBindings(src),
      s"$tmp/work")
    // upserts land; destroyed ids are REMOVED, not soft-deleted
    assert(res.replicas("signup").read().count() > 0)
    assert(res.replicas("error").read().count() == 0,
      "import-mode destroy must hard-delete")
  }

  test("Engine: observed attribute change republishes dependent records") {
    import graft.registry._
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    val tmp = Files.createTempDirectory("graft-engine-obs").toString

    // booking publishes and observes rental.name via rental's `bookings`
    // association; rental itself is never published
    val bookingDef = ModelDef("booking",
      attributes = Seq(Attribute("price", DoubleType),
        Attribute("rental_id", LongType)),
      observers = Seq(ObserverDef("rental", Seq("name"), "bookings")))
    val rentalDef = ModelDef("rental",
      attributes = Seq(Attribute("name", StringType)),
      hasMany = Seq(Association("bookings", "booking", fk = "rental_id")))
    val reg = Registry("v4", Seq(TopicDef("bookings", Seq(bookingDef))),
      dependencyModels = Seq(rentalDef))

    // change feeds: one booking insert; rental 1 changes `name`,
    // rental 2 changes an unobserved attribute
    val meta = Seq(
      lit("update").as("__op"),
      lit(null).cast("timestamp").as("__old_canceled"),
      lit(null).cast("timestamp").as("__new_canceled"))
    val bookingChangesDir = s"$tmp/chg_booking"
    Seq((100L, 9.5, 1L)).toDF("id", "price", "rental_id")
      .select(col("*") +: (meta :+
        lit("2026-01-01 00:00:00").cast("timestamp").as("__ts")): _*)
      .write.parquet(bookingChangesDir)
    val rentalChangesDir = s"$tmp/chg_rental"
    Seq((1L, "nm"), (2L, "other")).toDF("id", "attr")
      .select(col("id"),
        map(col("attr"), array(lit("a"), lit("b"))).as("__changeset"))
      .select(col("*") +: (meta :+
        lit("2026-01-02 00:00:00").cast("timestamp").as("__ts")): _*)
      .withColumn("__changeset",
        when(col("id") === 1L, map(lit("name"), array(lit("a"), lit("b"))))
          .otherwise(map(lit("beds"), array(lit("1"), lit("2")))))
      .write.parquet(rentalChangesDir)
    // bookings table snapshot: rentals 1 and 2 have two bookings each
    val bookingsSnap = Seq(
      (100L, 9.5, 1L), (101L, 8.0, 1L), (200L, 7.0, 2L), (201L, 6.0, 2L))
      .toDF("id", "price", "rental_id")
      .withColumn("__ts", lit("2026-01-03 00:00:00").cast("timestamp"))

    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) = {
        val dir = if (m.name == "rental") rentalChangesDir else bookingChangesDir
        s.readStream.schema(s.read.parquet(dir).schema).parquet(dir)
      }
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) = bookingsSnap
    }
    val res = Engine.runAvailableNow(spark, reg, bindings, s"$tmp/work")
    val replica = res.replicas("booking").read()
    // rental 1's bookings republished (100 via both paths, 101 only via
    // the observer); rental 2's bookings untouched (unobserved attribute)
    val ids = replica.select("synced_id").as[Long].collect().toSet
    assert(ids == Set(100L, 101L), s"got $ids")
    // the republished record carries the full serialized payload
    assert(replica.filter($"synced_id" === 101L)
      .select("price").as[Double].collect()(0) == 8.0)
  }

  test("P24: changeset seal/open roundtrip; wrong key fails loudly") {
    import graft.producer.ChangesetCrypto
    val key = "0123456789abcdef" // 16 bytes
    val cs = Seq(1).toDF("i").select(
      map(lit("name"), array(lit("a"), lit("b")),
        lit("beds"), array(lit("1"), lit("2"))).as("cs"))
    val round = cs
      .select(ChangesetCrypto.open(
        ChangesetCrypto.seal(col("cs"), key), key).as("cs"))
      .select(map_keys(col("cs")).as("ks"), col("cs")("name").as("name"))
      .as[(Seq[String], Seq[String])].collect()(0)
    assert(round._1.toSet == Set("name", "beds"))
    assert(round._2 == Seq("a", "b"))
    // AES-GCM authenticates: a wrong key must error, not return garbage
    intercept[Exception] {
      cs.select(ChangesetCrypto.open(
        ChangesetCrypto.seal(col("cs"), key), "fedcba9876543210"))
        .collect()
    }
    intercept[IllegalArgumentException] {
      ChangesetCrypto.seal(col("cs"), "short")
    }
  }

  test("P24: redaction check flags plan-visible keys; strict mode throws") {
    import graft.producer.ChangesetCrypto
    val key = "0123456789abcdef"
    // no redaction configured → uncovered: strict throws, lax only warns
    intercept[IllegalStateException] {
      ChangesetCrypto.checkRedaction(None, key, strict = true)
    }
    ChangesetCrypto.checkRedaction(None, key, strict = false) // must not throw
    // a regex that misses the key is as bad as none; an invalid regex too
    intercept[IllegalStateException] {
      ChangesetCrypto.checkRedaction(Some("someOtherSecret.*"), key, strict = true)
    }
    intercept[IllegalStateException] {
      ChangesetCrypto.checkRedaction(Some("[unclosed"), key, strict = true)
    }
    // a covering regex passes in both modes
    ChangesetCrypto.checkRedaction(Some("0123.*cdef"), key, strict = true)
    // the session form honors the SQL conf Spark actually consults for
    // plan-string redaction (spark.sql.redaction.string.regex, runtime
    // settable), not just the static core conf
    val prior = spark.conf.getOption("spark.sql.redaction.string.regex")
    try {
      spark.conf.set("spark.sql.redaction.string.regex", "0123.*cdef")
      ChangesetCrypto.checkRedaction(spark, key, strict = true)
      spark.conf.set("spark.sql.redaction.string.regex", "somethingElse")
      intercept[IllegalStateException] {
        ChangesetCrypto.checkRedaction(spark, key, strict = true)
      }
    } finally prior match {
      case Some(r) => spark.conf.set("spark.sql.redaction.string.regex", r)
      case None => spark.conf.unset("spark.sql.redaction.string.regex")
    }
  }

  test("P24: produce-only strict sealing — seal(strict = true) enforces redaction") {
    import graft.producer.ChangesetCrypto
    val key = "0123456789abcdef"
    // seal/open take deployment intent directly (a produce-only job has
    // no consuming-engine wiring to pass strictKeyRedaction through)
    val prior = spark.conf.getOption("spark.sql.redaction.string.regex")
    try {
      spark.conf.set("spark.sql.redaction.string.regex", "somethingElse")
      intercept[IllegalStateException] {
        ChangesetCrypto.seal(map(lit("a"), array(lit("1"), lit("2"))),
          key, strict = true)
      }
      intercept[IllegalStateException] {
        ChangesetCrypto.open(lit("AAAA"), key, strict = true)
      }
      // strict with NO session fails closed — Column construction needs
      // no session, so wiring code can run before the session exists,
      // and silently skipping the check would void the guarantee
      val act = org.apache.spark.sql.SparkSession.getActiveSession
      val dft = org.apache.spark.sql.SparkSession.getDefaultSession
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      try {
        val e = intercept[IllegalStateException] {
          ChangesetCrypto.seal(map(lit("a"), array(lit("1"))), key, strict = true)
        }
        assert(e.getMessage.contains("active or default SparkSession"))
        // lax mode stays usable sessionless (check simply skipped)
        ChangesetCrypto.seal(map(lit("a"), array(lit("1"))), key)
      } finally {
        act.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
        dft.foreach(org.apache.spark.sql.SparkSession.setDefaultSession)
      }
      // covered key seals fine in strict mode, and round-trips
      spark.conf.set("spark.sql.redaction.string.regex", "0123.*cdef")
      val cs = map(lit("price"), array(lit("1.0"), lit("2.0")))
      val back = Seq(1).toDF("i")
        .select(ChangesetCrypto.open(
          ChangesetCrypto.seal(cs, key, strict = true), key, strict = true).as("cs"))
        .collect()(0).getMap[String, Seq[String]](0)
      assert(back("price").toList == List("1.0", "2.0"))
    } finally prior match {
      case Some(r) => spark.conf.set("spark.sql.redaction.string.regex", r)
      case None => spark.conf.unset("spark.sql.redaction.string.regex")
    }
  }

  test("P24: observer matches against a sealed changeset feed") {
    import graft.registry._
    import graft.producer.ChangesetCrypto
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    val tmp = Files.createTempDirectory("graft-engine-enc").toString
    val key = "0123456789abcdef"

    val bookingDef = ModelDef("booking",
      attributes = Seq(Attribute("price", DoubleType),
        Attribute("rental_id", LongType)),
      observers = Seq(ObserverDef("rental", Seq("name"), "bookings")))
    val rentalDef = ModelDef("rental",
      attributes = Seq(Attribute("name", StringType)),
      hasMany = Seq(Association("bookings", "booking", fk = "rental_id")))
    val reg = Registry("v6", Seq(TopicDef("bookings", Seq(bookingDef))),
      dependencyModels = Seq(rentalDef))

    val meta = Seq(
      lit("update").as("__op"),
      lit(null).cast("timestamp").as("__old_canceled"),
      lit(null).cast("timestamp").as("__new_canceled"))
    val bookingChangesDir = s"$tmp/chg_booking"
    Seq((100L, 9.5, 1L)).toDF("id", "price", "rental_id")
      .select(col("*") +: (meta :+
        lit("2026-01-01 00:00:00").cast("timestamp").as("__ts")): _*)
      .write.parquet(bookingChangesDir)
    // the rental feed stores its changeset SEALED (string at rest):
    // rental 1 changes the observed attr, rental 2 an unobserved one
    val rentalChangesDir = s"$tmp/chg_rental"
    Seq((1L, "x"), (2L, "x")).toDF("id", "x")
      .select(col("id"),
        when(col("id") === 1L, map(lit("name"), array(lit("a"), lit("b"))))
          .otherwise(map(lit("beds"), array(lit("1"), lit("2"))))
          .as("__cs"))
      .select(col("id") +: (meta ++ Seq(
        lit("2026-01-02 00:00:00").cast("timestamp").as("__ts"),
        ChangesetCrypto.seal(col("__cs"), key).as("__changeset"))): _*)
      .write.parquet(rentalChangesDir)
    val bookingsSnap = Seq(
      (100L, 9.5, 1L), (101L, 8.0, 1L), (200L, 7.0, 2L), (201L, 6.0, 2L))
      .toDF("id", "price", "rental_id")
      .withColumn("__ts", lit("2026-01-03 00:00:00").cast("timestamp"))

    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) = {
        val dir = if (m.name == "rental") rentalChangesDir else bookingChangesDir
        s.readStream.schema(s.read.parquet(dir).schema).parquet(dir)
      }
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) = bookingsSnap
    }
    // sealed feed + no key must fail at wiring time, not match garbage
    intercept[Exception] {
      Engine.runAvailableNow(spark, reg, bindings, s"$tmp/work_nokey")
    }
    val res = Engine.runAvailableNow(spark, reg, bindings, s"$tmp/work",
      options = Engine.EngineOptions(changesetKey = Some(key)))
    val ids = res.replicas("booking").read()
      .select("synced_id").as[Long].collect().toSet
    assert(ids == Set(100L, 101L), s"got $ids")
  }

  test("Engine: genesis replica topics are consumed; soft deletes propagate") {
    import graft.registry._
    import org.apache.spark.sql.types.DoubleType
    val tmp = Files.createTempDirectory("graft-engine-genrep").toString
    val chg = s"$tmp/chg"
    // the live change stream only ever sees order 1
    Seq((1L, 10.0)).toDF("id", "total")
      .withColumn("__op", lit("update"))
      .withColumn("__old_canceled", lit(null).cast("timestamp"))
      .withColumn("__new_canceled", lit(null).cast("timestamp"))
      .withColumn("__ts", lit("2026-04-02 00:00:00").cast("timestamp"))
      .write.parquet(chg)
    // the snapshot has 10 orders, one of them soft-deleted at the source
    val snap = spark.range(1, 11)
      .select($"id", ($"id" * 10.0).as("total"))
      .withColumn("__ts", lit("2026-04-01 00:00:00").cast("timestamp"))
      .withColumn("__canceled",
        when($"id" === 7L, lit("2026-03-01 00:00:00").cast("timestamp")))
    val reg = Registry("v10", Seq(TopicDef("orders",
      models = Seq(ModelDef("order",
        attributes = Seq(Attribute("total", DoubleType)))),
      genesisReplica = true)))
    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        s.readStream.schema(s.read.parquet(chg).schema).parquet(chg)
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) = snap
    }
    // backfill into the genesis replica topic, then run the registry
    val targets = Engine.genesis(spark, reg, bindings, "order", s"$tmp/work")
    assert(targets == Seq("v10_orders_genesis"))
    val res = Engine.runAvailableNow(spark, reg, bindings, s"$tmp/work")
    val replica = res.replicas("order").read()
    // every snapshot row arrived through the genesis topic, not just the
    // one the change stream carried
    assert(replica.count() == 10, s"got ${replica.count()}")
    assert(replica.filter($"synced_id" === 1L)
      .select("total").as[Double].collect()(0) == 10.0)
    // the source-side soft delete survives the backfill (no restore)
    val canceled = replica.filter($"synced_canceled_at".isNotNull)
      .select("synced_id").as[Long].collect().toSet
    assert(canceled == Set(7L), s"got $canceled")
  }

  test("Engine: compacted topics tombstone hard deletes") {
    import graft.registry._
    import org.apache.spark.sql.types.DoubleType
    val tmp = Files.createTempDirectory("graft-engine-tomb").toString
    val chg = s"$tmp/chg"
    Seq((1L, 1.0, "update"), (2L, 2.0, "delete"), (3L, 3.0, "delete"))
      .toDF("id", "value", "__op")
      .withColumn("__old_canceled", lit(null).cast("timestamp"))
      .withColumn("__new_canceled", lit(null).cast("timestamp"))
      .withColumn("__ts", lit("2026-03-01 00:00:00").cast("timestamp"))
      .write.parquet(chg)
    val reg = Registry("v8", Seq(TopicDef("things",
      models = Seq(ModelDef("thing",
        attributes = Seq(Attribute("value", DoubleType)))),
      tombstones = true)))
    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        s.readStream.schema(s.read.parquet(chg).schema).parquet(chg)
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        throw new UnsupportedOperationException("no sideloads")
    }
    val res = Engine.runAvailableNow(spark, reg, bindings, s"$tmp/work")
    val topic = spark.read.schema(graft.model.Schemas.wire)
      .parquet(s"$tmp/work/topics/v8_things")
    // deletes publish BOTH a destroyed envelope and a null-value tombstone
    val tombs = topic.filter($"value".isNull)
      .select("kafka_key").as[String].collect().toSet
    assert(tombs == Set("thing:2", "thing:3"), s"got $tombs")
    assert(topic.filter($"value".isNotNull).count() == 3)
    // consumer skips tombstones and soft-deletes via the destroyed events
    val replica = res.replicas("thing").read()
    assert(replica.count() == 3)
    assert(replica.filter($"synced_canceled_at".isNotNull)
      .select("synced_id").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("Engine: dotted observer chain republishes through intermediate models") {
    import graft.registry._
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    val tmp = Files.createTempDirectory("graft-engine-chain").toString

    // fee observes rental.name through rental → bookings → fees
    val feeDef = ModelDef("fee",
      attributes = Seq(Attribute("amount", DoubleType),
        Attribute("booking_id", LongType)),
      observers = Seq(ObserverDef("rental", Seq("name"), "bookings.fees")))
    val bookingDef = ModelDef("booking",
      attributes = Seq(Attribute("rental_id", LongType)),
      hasMany = Seq(Association("fees", "fee", fk = "booking_id")))
    val rentalDef = ModelDef("rental",
      attributes = Seq(Attribute("name", StringType)),
      hasMany = Seq(Association("bookings", "booking", fk = "rental_id")))
    val reg = Registry("v7", Seq(TopicDef("fees", Seq(feeDef))),
      dependencyModels = Seq(rentalDef, bookingDef))

    val meta = Seq(
      lit("update").as("__op"),
      lit(null).cast("timestamp").as("__old_canceled"),
      lit(null).cast("timestamp").as("__new_canceled"),
      lit("2026-02-01 00:00:00").cast("timestamp").as("__ts"))
    val feeChangesDir = s"$tmp/chg_fee"
    Seq((101L, 6.0, 11L)).toDF("id", "amount", "booking_id")
      .select(col("*") +: meta: _*).write.parquet(feeChangesDir)
    val rentalChangesDir = s"$tmp/chg_rental"
    Seq((1L, "name"), (2L, "beds")).toDF("id", "attr")
      .select(col("id"),
        map(col("attr"), array(lit("a"), lit("b"))).as("__changeset"))
      .select(col("*") +: meta: _*).write.parquet(rentalChangesDir)
    val bookingsSnap = Seq((10L, 1L), (11L, 2L)).toDF("id", "rental_id")
      .withColumn("__ts", lit("2026-02-02 00:00:00").cast("timestamp"))
    val feesSnap = Seq((100L, 5.0, 10L), (101L, 6.0, 11L))
      .toDF("id", "amount", "booking_id")
      .withColumn("__ts", lit("2026-02-02 00:00:00").cast("timestamp"))

    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) = {
        val dir = if (m.name == "rental") rentalChangesDir else feeChangesDir
        s.readStream.schema(s.read.parquet(dir).schema).parquet(dir)
      }
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        if (m.name == "booking") bookingsSnap else feesSnap
    }
    val res = Engine.runAvailableNow(spark, reg, bindings, s"$tmp/work")
    val fees = res.replicas("fee").read()
    // rental 1's name change reaches fee 100 through bookings; rental 2's
    // unobserved change republishes nothing — 101 arrives only directly
    val ids = fees.select("synced_id").as[Long].collect().toSet
    assert(ids == Set(100L, 101L), s"got $ids")
    assert(fees.filter($"synced_id" === 100L)
      .select("amount").as[Double].collect()(0) == 5.0)
  }

  test("live mode: sealed 2-hop observer chain resolves mid-stream") {
    import graft.registry._
    import graft.producer.ChangesetCrypto
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    val tmp = Files.createTempDirectory("graft-engine-livechain").toString
    val key = "0123456789abcdef"

    // fee observes rental.name through rental → bookings → fees (two FK
    // hops), with the rental feed's changeset SEALED at rest — the full
    // production shape, under a live trigger instead of a drain
    val feeDef = ModelDef("fee",
      attributes = Seq(Attribute("amount", DoubleType),
        Attribute("booking_id", LongType)),
      observers = Seq(ObserverDef("rental", Seq("name"), "bookings.fees")))
    val bookingDef = ModelDef("booking",
      attributes = Seq(Attribute("rental_id", LongType)),
      hasMany = Seq(Association("fees", "fee", fk = "booking_id")))
    val rentalDef = ModelDef("rental",
      attributes = Seq(Attribute("name", StringType)),
      hasMany = Seq(Association("bookings", "booking", fk = "rental_id")))
    val reg = Registry("vl", Seq(TopicDef("fees", Seq(feeDef))),
      dependencyModels = Seq(rentalDef, bookingDef))

    def meta(ts: String) = Seq(
      lit("update").as("__op"),
      lit(null).cast("timestamp").as("__old_canceled"),
      lit(null).cast("timestamp").as("__new_canceled"),
      lit(ts).cast("timestamp").as("__ts"))
    val feeChangesDir = s"$tmp/chg_fee"
    Seq((101L, 6.0, 11L)).toDF("id", "amount", "booking_id")
      .select(col("*") +: meta("2026-02-01 00:00:00"): _*)
      .write.parquet(s"$feeChangesDir/f1")
    // seed the rental feed with an UNOBSERVED sealed change (schema + a
    // negative case); the observed change arrives later, mid-stream
    def rentalChange(id: Long, attr: String, ts: String, file: String): Unit =
      Seq((id, attr)).toDF("id", "attr")
        .select(col("id"),
          ChangesetCrypto.seal(
            map(col("attr"), array(lit("a"), lit("b"))), key).as("__changeset"))
        .select(col("*") +: meta(ts): _*)
        .write.parquet(s"$tmp/chg_rental/$file")
    rentalChange(2L, "beds", "2026-02-01 00:00:01", "f1")
    val bookingsSnap = Seq((10L, 1L), (11L, 2L)).toDF("id", "rental_id")
      .withColumn("__ts", lit("2026-02-02 00:00:00").cast("timestamp"))
    val feesSnap = Seq((100L, 5.0, 10L), (101L, 6.0, 11L))
      .toDF("id", "amount", "booking_id")
      .withColumn("__ts", lit("2026-02-02 00:00:00").cast("timestamp"))
    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) = {
        val dir = if (m.name == "rental") s"$tmp/chg_rental" else feeChangesDir
        s.readStream.schema(s.read.parquet(s"$dir/f1").schema).parquet(s"$dir/*")
      }
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        if (m.name == "booking") bookingsSnap else feesSnap
    }

    val (queries, res) = Engine.start(spark, reg, bindings, s"$tmp/work",
      options = Engine.EngineOptions(changesetKey = Some(key)),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    try {
      def await(pred: () => Boolean, what: String): Unit = {
        val deadline = System.nanoTime() + 90L * 1000000000L
        while (!pred() && System.nanoTime() < deadline) Thread.sleep(200)
        assert(pred(), s"timed out waiting for $what")
      }
      def feeIds() = res.replicas("fee").read()
        .select("synced_id").as[Long].collect().toSet
      // direct fee event lands; the unobserved rental change moves nothing
      await(() => feeIds() == Set(101L), "direct fee event")
      // rental 1 renames MID-STREAM: the sealed changeset opens, matches
      // the observed attr, walks bookings → fees, republishes fee 100
      rentalChange(1L, "name", "2026-02-03 00:00:00", "f2")
      await(() => feeIds() == Set(100L, 101L), "2-hop observer republish")
      assert(res.replicas("fee").read().filter($"synced_id" === 100L)
        .select("amount").as[Double].collect()(0) == 5.0)
      assert(queries.forall(_.isActive), "queries must stay running")
    } finally queries.foreach(_.stop())
  }

  test("registry validation: observer attrs, observer paths, genesis dependency guard") {
    import graft.registry._
    // order observes customer.name through customer's `orders` association
    def reg(attr: String = "name", path: String = "orders") =
      Registry("v9", Seq(
        TopicDef("orders", models = Seq(
          ModelDef("order", attributes = Seq(Attribute("total")),
            sideloads = Seq("order_line"),
            observers = Seq(ObserverDef("customer", Seq(attr), path)))))),
        dependencyModels = Seq(
          ModelDef("customer", attributes = Seq(Attribute("name")),
            hasMany = Seq(
              Association("orders", "order", fk = "customer_id"),
              Association("lines", "order_line", fk = "customer_id")))))
    val ok = reg()
    ok.validate() // fine
    assert(ok.topicsFor("order") == Seq("v9_orders"))
    assert(ok.dependencyOnlyModels == Set("order_line"))
    intercept[IllegalArgumentException](ok.requireGenesisAllowed("order_line"))
    // unknown observed attribute rejected
    intercept[IllegalArgumentException](reg(attr = "nope").validate())
    // association path with an undeclared segment rejected at registration
    // time — no Spark session involved
    intercept[IllegalArgumentException](reg(path = "bookings").validate())
    intercept[IllegalArgumentException](reg(path = "orders.nope").validate())
    // path that resolves but ends at the WRONG model rejected
    intercept[IllegalArgumentException](reg(path = "lines").validate())
  }

  test("standing ANN maintenance loop: streamed extends + windowed drift " +
      "detection fire a durable repair; the store tracks the in-memory " +
      "composition bit-exactly; drift-monitor state stays bounded") {
    import graft.ext.{AnnIndexStore, Similarity}
    val emb = graft.queries.Q.tbl(spark, sf(), "embeddings")
      .select($"vec_id".cast("long").as("vec_id"),
        $"embedding".cast("array<double>").as("embedding"))
    val tmp = Files.createTempDirectory("graft-annmaint").toString
    val feedDir = s"$tmp/feed"; val corpusDir = s"$tmp/corpus"
    new java.io.File(feedDir).mkdirs()

    // standing index on the base corpus + fit-time per-cell baseline
    val idx0 = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      nCentroids = 8, m = 4, codebookSize = 8, seed = 42L)
    val store = new AnnIndexStore(spark, s"$tmp/store")
    store.init(idx0)
    emb.write.parquet(corpusDir)
    val baseline = Similarity.ivfCellStats(emb, "vec_id", "embedding",
        idx0.centroids)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap

    // feed batches: 1-2 in-distribution, 3-4 planted drift (every
    // coordinate +5 — far off-manifold, all landing in one frozen
    // cell), 5 in-distribution (also closes batch 4's window)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime / 1000
    def batchDf(b: Int): org.apache.spark.sql.DataFrame = {
      val drift = b == 3 || b == 4
      emb.filter($"vec_id" % 5 === 0)
        .select(($"vec_id" + b * 10000L).as("vec_id"),
          (if (drift) transform($"embedding", x => x + lit(5.0))
           else $"embedding").as("embedding"),
          timestamp_seconds(lit(t0 + b * 3600L)).as("ts"))
    }

    // standing query 1: ingest — every micro-batch extends the store
    // (O(batch) epoch append) and lands in the corpus table, exactly
    // what a production vector pipeline does with arriving embeddings
    val feedSchema = batchDf(1).schema
    val ingest = spark.readStream.schema(feedSchema).parquet(feedDir)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/cp-ingest")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.drop("ts").localCheckpoint(eager = true)
        store.extend(rows, "vec_id", "embedding")
        rows.write.mode("append").parquet(corpusDir)
        ()
      }.start()
    // standing query 2: the drift monitor — windowed assignment stats
    // against the FIT-TIME centroids under a watermark (append mode:
    // only closed windows emit)
    val monitor = Similarity.ivfCellStatsStreaming(
        spark.readStream.schema(feedSchema).parquet(feedDir),
        "vec_id", "embedding", "ts", idx0.centroids,
        windowDur = "1 hour", watermark = "1 second")
      .writeStream.outputMode("append")
      .format("memory").queryName("maint_drift")
      .option("checkpointLocation", s"$tmp/cp-monitor")
      .start()

    // drive N micro-batches; replay log for the in-memory twin
    var opLog = Vector.empty[(String, Int, Seq[Int])] // (op, batch, cells)
    var repairedCells = Set.empty[Int]
    try {
      for (b <- 1 to 5) {
        batchDf(b).write.mode("append").parquet(feedDir)
        ingest.processAllAvailable()
        monitor.processAllAvailable()
        opLog :+= (("extend", b, Nil))
        // trigger rule: per closed (window, cell), the engine's exact
        // decimal drift_pm vs the fit-time baseline; ≥10 arrivals
        val flagged = spark.table("maint_drift")
          .as[(java.sql.Timestamp, Int, Long, Long)].collect()
          .flatMap { case (_, cell, n, sd) =>
            baseline.get(cell).collect {
              case (nb, sb) if sb > 0 && n >= 10 &&
                  (BigInt(1000) * sd * nb) / (BigInt(sb) * n) > 2000 => cell
            }
          }.toSet -- repairedCells
        if (flagged.nonEmpty) {
          val cells = flagged.toSeq.sorted
          store.repair(spark.read.parquet(corpusDir),
            "vec_id", "embedding", cells, splitInto = 2, seed = 42L)
          repairedCells ++= flagged
          opLog :+= (("repair", b, cells))
        }
      }
    } finally { ingest.stop(); monitor.stop() }

    // (a) the trigger FIRED, exactly once, on a cell the drift batch
    // actually routed to under the frozen quantizer
    assert(opLog.count(_._1 == "repair") == 1,
      s"wanted exactly one repair, log: $opLog")
    val driftCellsTruth = Similarity.ivfCellStats(batchDf(3), "vec_id",
        "embedding", idx0.centroids)
      .collect().map(_.getInt(0)).toSet
    assert(repairedCells.subsetOf(driftCellsTruth),
      s"repaired $repairedCells not among drift-arrival cells $driftCellsTruth")

    // (b) the durable store tracks the same op sequence applied
    // in memory — two epochs-and-manifests round-trips, tombstone-free
    // path, and one atomic repair must be bit-invisible
    var mem = idx0
    opLog.foreach {
      case ("extend", b, _) =>
        mem = Similarity.extendIvfPqIndex(mem, batchDf(b).drop("ts"),
          "vec_id", "embedding")
      case ("repair", b, cells) =>
        val corpusAt = emb.unionByName(
          (1 to b).map(i => batchDf(i).drop("ts")).reduce(_ unionByName _))
        mem = Similarity.repairDriftedCells(mem, corpusAt,
          "vec_id", "embedding", cells, splitInto = 2, seed = 42L)
      case other => fail(s"unexpected op $other")
    }
    val loaded = store.load()
    val gotCodes = loaded.codes.collect().map(_.toString).sorted
    val wantCodes = mem.codes.collect().map(_.toString).sorted
    assert(gotCodes.length == wantCodes.length &&
      gotCodes.sameElements(wantCodes),
      s"store codes ${gotCodes.length} vs memory ${wantCodes.length}")
    assert(loaded.centroids.map(_._1) == mem.centroids.map(_._1).sorted)
    // probes during/after the run answer identically from the store
    val queries = emb.filter($"vec_id" % 25 === 0)
    val gotProbe = Similarity.ivfPqTopKOnIndex(loaded, queries,
      "vec_id", "embedding", k = 5, nProbe = 3)
      .collect().map(_.toString).sorted
    val wantProbe = Similarity.ivfPqTopKOnIndex(mem, queries,
      "vec_id", "embedding", k = 5, nProbe = 3)
      .collect().map(_.toString).sorted
    assert(gotProbe.nonEmpty && gotProbe.sameElements(wantProbe))

    // (c) the monitor's state is bounded: a windowed agg under a
    // watermark holds (open windows × cells), never the stream
    val stateRows = Option(monitor.lastProgress).toSeq
      .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
    assert(stateRows <= 8 * 4,
      s"drift-monitor state must stay bounded, got $stateRows rows")
  }

  test("standing dedup ingest loop: micro-batches probe the stored minhash " +
      "index, dups quarantine, clean docs extend the layout, tombstone " +
      "deletes are visible mid-stream; state equals the sequential " +
      "in-memory fold") {
    import graft.ext.TextDedup
    import org.apache.spark.sql.DataFrame
    val docs = graft.queries.Q.tbl(spark, sf(), "documents")
      .select($"doc_id", $"text")
    val tmp = Files.createTempDirectory("graft-dedup-loop").toString
    val feedDir = s"$tmp/feed"; new java.io.File(feedDir).mkdirs()
    val quarantineDir = s"$tmp/quarantine"
    val idxPath = s"$tmp/mhidx"

    // sentinel docs with synthetic unique text: their dup/delete fates
    // must not depend on the corpus's own planted near-dups
    val textA = "alpha bravo charlie delta echo foxtrot golf hotel india"
    val textX = "kilo lima mike november oscar papa quebec romeo sierra"
    val textD = "uniform victor whiskey xray yankee zulu one two three"
    val idA = 8000001L; val idX = 8000002L; val idD = 8000003L
    val base = docs.filter($"doc_id" % 3 === 0)
      .unionByName(Seq((idA, textA), (idX, textX)).toDF("doc_id", "text"))
    TextDedup.saveMinhashIndex(
      TextDedup.minhashIndex(base, "doc_id", "text"), idxPath,
      bandBuckets = 8)
    @volatile var stored = TextDedup.loadMinhashIndex(spark, idxPath)

    // feed batches: fresh slices + planted copies — of a standing doc
    // (b1), of a doc ADDED BY THE STREAM itself (b2), of the doc
    // DELETED mid-stream (b3: must enter clean), and of that re-added
    // copy (b4: must be caught again)
    def fresh(m: Int): DataFrame =
      docs.filter($"doc_id" % 3 === 1 && $"doc_id" % 5 === m)
    def batchDf(b: Int): DataFrame = b match {
      case 1 => fresh(1).unionByName(
        Seq((idD, textD), (9000001L, textA)).toDF("doc_id", "text"))
      case 2 => fresh(2).unionByName(
        Seq((9100002L, textD)).toDF("doc_id", "text"))
      case 3 => fresh(3).unionByName(
        Seq((9300003L, textX)).toDF("doc_id", "text"))
      case 4 => fresh(4).unionByName(
        Seq((9400004L, textX)).toDF("doc_id", "text"))
    }

    val feedSchema = base.schema
    val ingest = spark.readStream.schema(feedSchema).parquet(feedDir)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/cp-ingest")
      .foreachBatch { (df: DataFrame, _: Long) =>
        val batch = df.localCheckpoint(eager = true)
        val flagged = TextDedup.nearDupAgainstStoredIndex(
          batch, "doc_id", "text", stored).localCheckpoint(eager = true)
        flagged.write.mode("append").parquet(quarantineDir)
        val clean = batch.join(
          flagged.select($"id".as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        if (!clean.isEmpty)
          stored = TextDedup.extendStoredMinhashIndex(stored, clean,
            "doc_id", "text")
        ()
      }.start()

    // in-memory twin: the same fold with the plain operators
    var corpus = base
    var twinQuarantine = Vector.empty[String]
    try {
      for (b <- 1 to 4) {
        batchDf(b).write.mode("append").parquet(feedDir)
        ingest.processAllAvailable()
        val twinFlagged = TextDedup.nearDupAgainstIndex(batchDf(b),
            "doc_id", "text",
            TextDedup.minhashIndex(corpus, "doc_id", "text"))
          .localCheckpoint(eager = true)
        twinQuarantine ++= twinFlagged.collect().map(_.toString)
        corpus = corpus.unionByName(batchDf(b).join(
          twinFlagged.select($"id".as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")).localCheckpoint(eager = true)
        if (b == 2) { // mid-stream delete, both sides
          stored = TextDedup.removeFromStoredMinhashIndex(stored,
            Seq(idX).toDF("id"))
          corpus = corpus.filter($"doc_id" =!= idX)
            .localCheckpoint(eager = true)
        }
      }
    } finally { ingest.stop() }

    // (a) planted fates: standing dup, stream-added dup, and re-added
    // dup all quarantined; the deleted doc's copy entered CLEAN
    val q = spark.read.parquet(quarantineDir)
      .select($"id", $"dup_of").as[(Long, Long)].collect().toSet
    assert(q.contains((9000001L, idA)), s"standing dup missed: $q")
    assert(q.contains((9100002L, idD)), s"stream-added dup missed: $q")
    assert(q.contains((9400004L, 9300003L)),
      s"dup of the re-added copy missed: $q")
    assert(!q.exists(_._1 == 9300003L),
      "the deleted doc's copy must enter clean")

    // (b) the full quarantine equals the in-memory fold's, row for row
    val qRows = spark.read.parquet(quarantineDir)
      .collect().map(_.toString).sorted
    assert(qRows.sameElements(twinQuarantine.sorted),
      s"quarantine diverged from the sequential fold:\n" +
        s"stored=${qRows.mkString(",")}\ntwin=${twinQuarantine.sorted.mkString(",")}")

    // (c) compaction folds the tombstone log; the surviving corpus is
    // exactly the twin's
    stored = TextDedup.compactStoredMinhashIndex(stored)
    assert(stored.tombstones.isEmpty)
    val storedIds = stored.docs.select($"id").as[Long].collect().toSet
    val twinIds = corpus.select($"doc_id").as[Long].collect().toSet
    assert(storedIds == twinIds,
      s"corpus diverged: extra=${storedIds -- twinIds} missing=${twinIds -- storedIds}")
  }
}
