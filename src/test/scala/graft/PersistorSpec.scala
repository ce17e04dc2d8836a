package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.consumer.Persistor

/** C7/C8/C9 — staleness guard, soft delete, restore, hard delete. */
class PersistorSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def target(rows: (Long, String, Option[String], Double)*): DataFrame =
    rows.toSeq
      .map { case (id, u, c, v) => (id, ts(u), ts(u), c.map(ts).orNull, v) }
      .toDF("synced_id", "synced_updated_at", "synced_created_at",
        "synced_canceled_at", "value")

  private def updates(rows: (Long, String, Option[String], String, Double)*): DataFrame =
    rows.toSeq
      .map { case (id, u, c, e, v) => (id, ts(u), ts(u), c.map(ts).orNull, e, v) }
      .toDF("synced_id", "synced_updated_at", "synced_created_at",
        "canceled_at", "event_type", "value")

  private def state(df: DataFrame): Map[Long, (Double, Option[Timestamp])] =
    df.collect().map(r => r.getLong(0) ->
      (r.getDouble(4), Option(r.getTimestamp(3)))).toMap
      .map { case (k, (v, c)) => k -> (v, c) }

  test("fresh update wins, stale update dropped, tie persists (source wins)") {
    val t = target(
      (1L, "2024-01-02 00:00:00", None, 10.0),
      (2L, "2024-01-02 00:00:00", None, 20.0),
      (3L, "2024-01-02 00:00:00", None, 30.0))
    val u = updates(
      (1L, "2024-01-03 00:00:00", None, "updated", 11.0), // fresh → wins
      (2L, "2024-01-01 00:00:00", None, "updated", 21.0), // stale → dropped
      (3L, "2024-01-02 00:00:00", None, "updated", 31.0), // tie → persists
      (4L, "2024-01-01 00:00:00", None, "created", 40.0)) // new key → insert
    val got = state(Persistor.merge(t, u))
    assert(got(1L)._1 == 11.0)
    assert(got(2L)._1 == 20.0)
    assert(got(3L)._1 == 31.0)
    assert(got(4L)._1 == 40.0)
  }

  test("destroyed soft-deletes; later create restores; hard delete removes") {
    val t = target((1L, "2024-01-01 00:00:00", None, 10.0),
      (2L, "2024-01-01 00:00:00", Some("2024-01-01 00:00:00"), 20.0))
    val u = updates(
      (1L, "2024-01-02 00:00:00", None, "destroyed", 10.0),
      // payload without canceled_at on a soft-deleted row → restore
      (2L, "2024-01-02 00:00:00", None, "updated", 21.0))
    val soft = state(Persistor.merge(t, u))
    assert(soft(1L)._2.isDefined, "destroyed must set synced_canceled_at")
    assert(soft(2L)._2.isEmpty, "update without canceled_at must restore")

    val hard = Persistor.merge(t, u, hardDelete = true)
    assert(hard.filter($"synced_id" === 1L).count() == 0)
    assert(hard.filter($"synced_id" === 2L).count() == 1)
  }

  test("update with NO timestamps persists (NULLs persist rule)") {
    val t = target((1L, "2024-01-05 00:00:00", None, 10.0))
    val u = Seq((1L, null.asInstanceOf[Timestamp], null.asInstanceOf[Timestamp],
        null.asInstanceOf[Timestamp], "updated", 99.0))
      .toDF("synced_id", "synced_updated_at", "synced_created_at",
        "canceled_at", "event_type", "value")
    val got = Persistor.merge(t, u).collect()
    assert(got.length == 1 && got(0).getDouble(4) == 99.0)
  }

  test("property: merge matches the reference guard for random states") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val tsGen: Gen[Option[Long]] = Gen.frequency(
      4 -> Gen.choose(1L, 100L).map(Some(_)), 1 -> Gen.const(None))
    // per key: optional local row, optional (pre-deduped) incoming update
    val keyState = for { t <- Gen.option(tsGen); u <- Gen.option(tsGen) } yield (t, u)
    val prop = Prop.forAll(Gen.listOfN(6, keyState)) { states =>
      val keyed = states.zipWithIndex
      def ts(o: Long) = new Timestamp(o * 86400000L)
      val tgt = keyed.collect { case ((Some(t), _), k) =>
        (k.toLong, t.map(ts).orNull, t.map(ts).orNull,
          null.asInstanceOf[Timestamp], 1.0) }
        .toDF("synced_id", "synced_updated_at", "synced_created_at",
          "synced_canceled_at", "value")
      val upd = keyed.collect { case ((_, Some(u)), k) =>
        (k.toLong, u.map(ts).orNull, u.map(ts).orNull,
          null.asInstanceOf[Timestamp], "updated", 2.0) }
        .toDF("synced_id", "synced_updated_at", "synced_created_at",
          "canceled_at", "event_type", "value")
      val got = Persistor.merge(tgt, upd).collect()
        .map(r => r.getLong(0) -> r.getDouble(4)).toMap
      // reference guard (synchronizable_model.rb:16-26): persist unless
      // both timestamps exist and the event's is strictly older
      val want = keyed.flatMap {
        case ((None, None), _) => None
        case ((Some(_), None), k) => Some(k.toLong -> 1.0)
        case ((None, Some(_)), k) => Some(k.toLong -> 2.0)
        case ((Some(t), Some(u)), k) =>
          val stale = t.isDefined && u.isDefined && u.get < t.get
          Some(k.toLong -> (if (stale) 1.0 else 2.0))
      }.toMap
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: classifier → merge over random op sequences matches the reference interpreter") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import graft.producer.EventClassifier

    // one source row per key evolving through insert → update* → delete?,
    // with random soft-delete transitions (SURVEY §7.4.4: the P2 × C9
    // interplay — soft delete, restore, update-after-soft-delete
    // suppression — composed end to end)
    final case class SrcOp(key: Long, seq: Int, ts: Long, op: String,
        oldC: Option[Long], newC: Option[Long])

    def opsFor(key: Int, cancels: List[Boolean], del: Boolean): Seq[SrcOp] = {
      var cur: Option[Long] = None
      val body = cancels.zipWithIndex.map { case (c, i) =>
        val ts = key * 100L + i + 1
        val newC = if (c) Some(ts) else None
        val o = SrcOp(key.toLong, i, ts, if (i == 0) "insert" else "update",
          if (i == 0) None else cur, newC)
        cur = newC
        o
      }
      if (del)
        body :+ SrcOp(key.toLong, cancels.size, key * 100L + cancels.size + 1,
          "delete", cur, cur)
      else body
    }

    // the reference truth table (outbox.rb:74-102) + replica semantics
    // (synchronizable_model.rb:40-67): destroy soft-deletes, create/update
    // restore when the payload lacks canceled_at, canceled→canceled
    // updates are suppressed
    def refClassify(o: SrcOp): Option[String] = o.op match {
      case "insert" => Some("created")
      case "delete" => Some("destroyed")
      case _ => (o.oldC.isDefined, o.newC.isDefined) match {
        case (false, true) => Some("destroyed")
        case (true, false) => Some("created")
        case (true, true) => None
        case _ => Some("updated")
      }
    }
    def interpret(ops: Seq[SrcOp]): Map[Long, (Double, Option[Long])] = {
      var st = Map.empty[Long, (Double, Option[Long])]
      ops.sortBy(o => (o.key, o.ts)).foreach { o =>
        refClassify(o) match {
          case Some("destroyed") =>
            st += o.key -> (o.seq.toDouble, Some(o.newC.getOrElse(o.ts)))
          case Some(_) => st += o.key -> (o.seq.toDouble, o.newC)
          case None => ()
        }
      }
      st
    }

    val keyGen = for {
      n <- Gen.choose(1, 4)
      cs <- Gen.listOfN(n, Gen.oneOf(true, false))
      del <- Gen.oneOf(true, false)
    } yield (cs, del)

    val emptyReplica = target()
    def finalState(df: DataFrame): Map[Long, (Double, Option[Long])] =
      df.collect().map(r => r.getLong(0) ->
        (r.getDouble(4), Option(r.getTimestamp(3)).map(_.getTime / 1000))).toMap

    val prop = Prop.forAll(Gen.listOfN(5, keyGen)) { scenarios =>
      val ops = scenarios.zipWithIndex.flatMap { case ((cs, del), k) =>
        opsFor(k, cs, del)
      }
      // engine path: classify with the ACTUAL P2 column function
      val opsDf = ops.map(o => (o.key, o.seq, o.ts, o.op, o.oldC, o.newC))
        .toDF("key", "seq", "ts", "op", "oldC", "newC")
      val classified = opsDf.select(col("key"), col("seq"), col("ts"),
          col("newC"),
          EventClassifier.eventType(col("op"),
            col("oldC"), col("newC")).as("et"))
        .filter(col("et").isNotNull)
      val updatesAll = classified.select(
        col("key").as("synced_id"),
        timestamp_seconds(col("ts")).as("synced_updated_at"),
        timestamp_seconds(col("ts")).as("synced_created_at"),
        timestamp_seconds(when(col("et") === "destroyed",
          coalesce(col("newC"), col("ts"))).otherwise(col("newC")))
          .as("canceled_at"),
        col("et").as("event_type"),
        col("seq").cast("double").as("value"),
        col("ts"))
      val rows = updatesAll.collect()

      def applyBatches(batches: Seq[Seq[org.apache.spark.sql.Row]]): Map[Long, (Double, Option[Long])] = {
        var replica = emptyReplica
        batches.filter(_.nonEmpty).foreach { b =>
          val bdf = spark.createDataFrame(
            spark.sparkContext.parallelize(b.toSeq), updatesAll.schema)
            .drop("ts")
          replica = Persistor.merge(replica, bdf)
        }
        finalState(replica)
      }

      val want = interpret(ops)
      val ordered = rows.sortBy(r => (r.getLong(0), r.getLong(6)))
      val oneShot = applyBatches(Seq(ordered.toSeq))
      val chunked = applyBatches(ordered.grouped(3).map(_.toSeq).toSeq)
      val shuffled = applyBatches(
        ordered.sortBy(r => (r.getLong(6) * 2654435761L) % 97)
          .grouped(3).map(_.toSeq).toSeq)
      val ok = oneShot == want && chunked == want && shuffled == want
      if (!ok) println(s"want=$want one=$oneShot chunk=$chunked shuf=$shuffled ops=$ops")
      ok
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("merge is idempotent: replaying the same batch changes nothing") {
    val t = target(
      (1L, "2024-01-02 00:00:00", None, 10.0),
      (2L, "2024-01-02 00:00:00", Some("2024-01-01 00:00:00"), 20.0))
    val u = updates(
      (1L, "2024-01-03 00:00:00", None, "updated", 11.0),
      (2L, "2024-01-03 00:00:00", None, "destroyed", 20.0),
      (3L, "2024-01-01 00:00:00", None, "created", 30.0))
    val once = Persistor.merge(t, u)
    val twice = Persistor.merge(once, u)
    assert(state(once) == state(twice),
      "at-least-once replay must converge to the same replica state")
  }

  test("bulkDestroy hard removes listed ids, soft stamps them") {
    val t = target((1L, "2024-01-01 00:00:00", None, 1.0),
      (2L, "2024-01-01 00:00:00", None, 2.0))
    val ids = Seq(Tuple1(2L)).toDF("synced_id")
    assert(Persistor.bulkDestroy(t, ids).select("synced_id")
      .as[Long].collect().toSet == Set(1L))
    val soft = Persistor.bulkDestroy(t, ids, hard = false,
      now = lit("2026-01-01 00:00:00").cast("timestamp"))
    assert(state(soft)(2L)._2.isDefined && state(soft)(1L)._2.isEmpty)
  }

  test("persistAggregate: parent + children merge with disassociation") {
    // parent booking 1 with fees 10,11 locally; incoming aggregate keeps
    // fee 10 (updated) and adds fee 12 — fee 11 must disassociate
    val parentT = target((1L, "2024-01-01 00:00:00", None, 100.0))
    val parentU = updates((1L, "2024-01-02 00:00:00", None, "updated", 110.0))
    val childT = Seq(
      (10L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"),
        null.asInstanceOf[Timestamp], 1.0, 1L),
      (11L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"),
        null.asInstanceOf[Timestamp], 2.0, 1L))
      .toDF("synced_id", "synced_updated_at", "synced_created_at",
        "synced_canceled_at", "value", "parent_id")
    val childU = Seq(
      (10L, ts("2024-01-02 00:00:00"), ts("2024-01-02 00:00:00"),
        null.asInstanceOf[Timestamp], "updated", 1.5, 1L),
      (12L, ts("2024-01-02 00:00:00"), ts("2024-01-02 00:00:00"),
        null.asInstanceOf[Timestamp], "created", 3.0, 1L))
      .toDF("synced_id", "synced_updated_at", "synced_created_at",
        "canceled_at", "event_type", "value", "parent_id")
    val (parent, Seq(child)) = Persistor.persistAggregate(parentT, parentU,
      Seq(Persistor.ChildBatch(childT, childU, "parent_id")))
    assert(state(parent)(1L)._1 == 110.0)
    val childIds = child.select("synced_id").as[Long].collect().toSet
    assert(childIds == Set(10L, 12L), s"got $childIds")
    assert(child.filter($"synced_id" === 10L).select("value")
      .as[Double].collect()(0) == 1.5)
  }

  test("disassociateMissingChildren: anti-join cleanup per touched parent") {
    val children = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 1L))
      .toDF("parent_id", "child_id")
    val incoming = Seq((10L, 1L), (10L, 2L)).toDF("parent_id", "child_id")
    val kept = Persistor.disassociateMissingChildren(
        children, incoming, "parent_id", "child_id")
      .as[(Long, Long)].collect().toSet
    assert(kept == Set((10L, 1L), (10L, 2L), (20L, 1L)))
  }

  test("disassociatedChildKeys: only vanished children of touched parents") {
    val children = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 1L))
      .toDF("parent_id", "child_id")
    val lists = Seq((10L, Seq(1L, 2L))).toDF("parent_id", "ids")
    val doomed = Persistor.disassociatedChildKeys(
        children, lists, "parent_id", "child_id", "ids")
      .as[Long].collect().toSet
    // child 3 of touched parent 10 vanishes; parent 20's children untouched
    assert(doomed == Set(3L))
    // an empty list disassociates every child of its parent
    val emptied = Persistor.disassociatedChildKeys(children,
        Seq((20L, Seq.empty[Long])).toDF("parent_id", "ids"),
        "parent_id", "child_id", "ids")
      .as[Long].collect().toSet
    assert(emptied == Set(1L))
  }

  test("streaming C11 disassociation rewrites only the doomed keys' buckets") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-c11-buckets").toString
    val replica = new graft.streaming.ParquetReplica(spark, root,
      "synced_id BIGINT, synced_updated_at TIMESTAMP, " +
        "synced_created_at TIMESTAMP, synced_canceled_at TIMESTAMP, " +
        "value DOUBLE, parent_id BIGINT", buckets = 8)
    // 64 children across all buckets; parent p owns children (p-1)*8+1..p*8
    val seed = (1L to 64L).map(i =>
        (i, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"),
          null.asInstanceOf[Timestamp], "created", i.toDouble, (i - 1) / 8 + 1))
      .toDF("synced_id", "synced_updated_at", "synced_created_at",
        "canceled_at", "event_type", "value", "parent_id")
    replica.merge(seed)
    val manBefore = replica.manifest(replica.currentVersion)

    // parent 1's incoming aggregate keeps children 1..7 → only child 8
    // disassociates; every other parent is untouched
    val lists = Seq((1L, 1L to 7L)).toDF("parent_id", "ids")
    replica.withLock {
      val doomed = Persistor.disassociatedChildKeys(
        replica.read(), lists, "parent_id", "synced_id", "ids")
        .localCheckpoint(true)
      assert(doomed.as[Long].collect().toSet == Set(8L))
      replica.destroy(doomed)
    }
    // exactly the doomed key's bucket was rewritten; every other bucket's
    // manifest entry still points at the ORIGINAL directory (files never
    // touched — carried forward by reference)
    val manAfter = replica.manifest(replica.currentVersion)
    val touched = manAfter.keySet.filter(b => manBefore.get(b) != manAfter.get(b))
    assert(touched.size == 1, s"touched $touched")
    (manAfter -- touched).foreach { case (b, dir) =>
      assert(dir == manBefore(b), s"bucket $b must be carried by reference")
    }
    val left = replica.read().select("synced_id").as[Long].collect().toSet
    assert(left == (1L to 64L).toSet - 8L)
  }

  test("manifest publish is atomic: interrupted writer leaves old version readable") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-atomic").toString
    val replica = new graft.streaming.ParquetReplica(spark, root,
      "synced_id BIGINT, synced_updated_at TIMESTAMP, " +
        "synced_created_at TIMESTAMP, synced_canceled_at TIMESTAMP, " +
        "value DOUBLE", buckets = 4)
    replica.merge(updates(
      (1L, "2024-01-01 00:00:00", None, "created", 1.0),
      (2L, "2024-01-01 00:00:00", None, "created", 2.0)))
    val v = replica.currentVersion

    // simulate a writer that died mid-commit: data for the next version is
    // on disk, temp manifest/pointer files linger, but neither ATOMIC_MOVE
    // happened — the reader must still serve the old version untouched
    new java.io.File(s"$root/v${v + 1}/__b=0").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/.v${v + 1}.manifest12345.tmp"),
      "0\tv1/__b=0".getBytes)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/.LATEST67890.tmp"), "1".getBytes)
    assert(replica.currentVersion == v)
    assert(replica.read().select("synced_id").as[Long].collect().toSet ==
      Set(1L, 2L))
    // and the next real commit proceeds normally over the debris
    replica.merge(updates((3L, "2024-01-02 00:00:00", None, "created", 3.0)))
    assert(replica.read().count() == 3)

    // true corruption — pointer present, manifest missing — fails loudly
    // instead of serving an empty table (which the next merge would then
    // silently persist)
    val root2 = java.nio.file.Files
      .createTempDirectory("graft-corrupt").toString
    val broken = new graft.streaming.ParquetReplica(spark, root2,
      "synced_id BIGINT, synced_updated_at TIMESTAMP, " +
        "synced_created_at TIMESTAMP, synced_canceled_at TIMESTAMP, " +
        "value DOUBLE")
    broken.merge(updates((1L, "2024-01-01 00:00:00", None, "created", 1.0)))
    new java.io.File(s"$root2/v${broken.currentVersion}.manifest").delete()
    intercept[IllegalArgumentException](broken.read())
  }

  test("compact re-buckets online; merges continue with the recorded count") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-compact").toString
    val replica = new graft.streaming.ParquetReplica(spark, root,
      "synced_id BIGINT, synced_updated_at TIMESTAMP, " +
        "synced_created_at TIMESTAMP, synced_canceled_at TIMESTAMP, " +
        "value DOUBLE", buckets = 4)
    replica.merge(updates(
      (1L to 32L).map(i =>
        (i, "2024-01-01 00:00:00", None: Option[String], "created",
          i.toDouble)): _*))
    assert(replica.bucketCount(replica.currentVersion) == 4)
    replica.compact(8)
    // the new layout is recorded in the manifest, spans the new bucket
    // range, and preserves every row
    assert(replica.bucketCount(replica.currentVersion) == 8)
    assert(replica.manifest(replica.currentVersion).keySet == (0 until 8).toSet)
    assert(replica.read().count() == 32)
    // subsequent incremental merges hash with the NEW count
    val manBefore = replica.manifest(replica.currentVersion)
    replica.merge(updates((5L, "2024-02-01 00:00:00", None, "updated", 555.0)))
    val manAfter = replica.manifest(replica.currentVersion)
    assert(manAfter.keySet.count(b => manBefore(b) != manAfter(b)) == 1)
    val got = replica.read()
      .select($"synced_id", $"value").as[(Long, Double)].collect().toMap
    assert(got.size == 32 && got(5L) == 555.0 && got(6L) == 6.0)
  }

  private val contractDdl =
    "synced_id BIGINT, synced_updated_at TIMESTAMP, " +
      "synced_created_at TIMESTAMP, synced_canceled_at TIMESTAMP, " +
      "value DOUBLE"

  /** Wait for a MoR replica's background compactions to drain the delta
    * log (no-op for CoW backends) — the "layout settled" point the
    * pruning contract measures at. */
  private def settle(r: graft.streaming.Replica): Unit = r match {
    case p: graft.streaming.ParquetReplica =>
      val deadline = System.currentTimeMillis() + 30000
      while (p.deltaEntries(p.currentVersion).nonEmpty &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(p.deltaEntries(p.currentVersion).isEmpty,
        "background compaction never drained the delta log")
    case _ => ()
  }

  private val contractReplicas = Seq[(String, String => graft.streaming.Replica)](
    "ParquetReplica" -> (root => new graft.streaming.ParquetReplica(spark, root,
      contractDdl, buckets = 4)),
    // merge-on-read with compactEvery=1: every merge appends a delta
    // epoch AND races a background compaction against the next
    // operation — the maximal interleaving of the new mode's moving
    // parts under the identical contract
    "ParquetReplica-MoR" -> (root => new graft.streaming.ParquetReplica(
      spark, root, contractDdl, buckets = 4,
      mergeOnRead = true, compactEvery = 1)),
    "CowReplica" -> (root => new graft.streaming.CowReplica(spark, root,
      contractDdl)))

  for ((label, mk) <- contractReplicas)
    test(s"replica contract ($label): LWW merge, replay, destroy, vacuum") {
      // the same storage contract both implementations must satisfy — the
      // drop-in bar for a transactional-format replica (Delta/Iceberg)
      val r = mk(java.nio.file.Files
        .createTempDirectory(s"graft-contract-$label").toString)
      r.merge(updates(
        (1L, "2024-01-01 00:00:00", None, "created", 1.0),
        (2L, "2024-01-01 00:00:00", None, "created", 2.0),
        (3L, "2024-01-01 00:00:00", None, "created", 3.0)))
      val batch = updates(
        (2L, "2024-01-02 00:00:00", None, "updated", 22.0), // fresh → wins
        (3L, "2023-12-01 00:00:00", None, "updated", 99.0)) // stale → loses
      r.merge(batch)
      r.merge(batch) // at-least-once replay converges
      val got = r.read()
        .select($"synced_id", $"value").as[(Long, Double)].collect().toMap
      assert(got == Map(1L -> 1.0, 2L -> 22.0, 3L -> 3.0))
      // destroyed event soft-deletes through merge
      r.merge(updates((1L, "2024-01-03 00:00:00", None, "destroyed", 1.0)))
      assert(r.read().filter($"synced_canceled_at".isNotNull)
        .select("synced_id").as[Long].collect().toSet == Set(1L))
      // hard destroy removes
      r.destroy(Seq(Tuple1(2L)).toDF("synced_id"))
      assert(r.read().select("synced_id").as[Long].collect().toSet ==
        Set(1L, 3L))
      // transform applies a whole-table transition
      r.transform(_.filter($"synced_id" =!= 3L))
      assert(r.read().select("synced_id").as[Long].collect().toSet == Set(1L))
      // vacuum reclaims old versions without changing current state
      r.vacuum()
      assert(r.read().select("synced_id").as[Long].collect().toSet == Set(1L))
    }

  for ((label, mk) <- contractReplicas)
    test(s"replica contract ($label): readBuckets prunes to touched storage units") {
      // every shipped implementation must keep the engine's zero-full-read
      // guarantee (C11 key resolution, C12 capture) — a backend silently
      // inheriting the full-table readBuckets default degrades to O(table)
      // reads per micro-batch
      val r = mk(java.nio.file.Files
        .createTempDirectory(s"graft-prune-$label").toString)
      r.merge(updates(
        (1L to 64L).map(i =>
          (i, "2024-01-01 00:00:00", None: Option[String], "created",
            i.toDouble)): _*))
      // MoR: pruning applies to the SETTLED layout — an unfolded delta
      // log is read whole by design (bounded by compactEvery); wait for
      // the background fold before measuring file-level pruning
      settle(r)
      val pruned = r.readBuckets(Seq(3L, 17L).toDF("synced_id"))
      val ids = pruned.select("synced_id").as[Long].collect().toSet
      assert(Set(3L, 17L).subsetOf(ids) && ids.subsetOf((1L to 64L).toSet))
      assert(pruned.inputFiles.length < r.read().inputFiles.length,
        s"$label readBuckets opened the whole table")
    }

  test("ParquetReplica: a crashed writer's orphan version is invisible, then recovered") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-crash").toString
    val r = new graft.streaming.ParquetReplica(spark, root,
      "synced_id BIGINT, synced_updated_at TIMESTAMP, " +
        "synced_created_at TIMESTAMP, synced_canceled_at TIMESTAMP, " +
        "value DOUBLE", buckets = 4)
    r.merge(updates(
      (1L, "2024-01-01 00:00:00", None, "created", 1.0),
      (2L, "2024-01-01 00:00:00", None, "created", 2.0)))
    val v = r.currentVersion
    // a writer that died AFTER writing its version dir and manifest but
    // BEFORE the atomic pointer move: readers must keep seeing v, and the
    // orphan must not poison the next commit
    val orphan = v + 1
    new java.io.File(s"$root/v$orphan/__b=0").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, s"v$orphan.manifest"),
      s"B\t4\n0\tv$orphan/__b=0".getBytes)
    assert(r.currentVersion == v)
    assert(r.read().count() == 2)
    // the next merge reuses the orphan's version number cleanly
    r.merge(updates((3L, "2024-01-02 00:00:00", None, "created", 3.0)))
    assert(r.currentVersion == orphan)
    assert(r.read().select("synced_id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L))
  }

  test("CowReplica: pre-bucketing flat layouts read correctly, upgrade on commit") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-cow-legacy").toString
    val ddl = "synced_id BIGINT, synced_updated_at TIMESTAMP, " +
      "synced_created_at TIMESTAMP, synced_canceled_at TIMESTAMP, value DOUBLE"
    // a table written BEFORE the bucketed layout: rows flat under v0,
    // no _buckets marker — it must read as data, never as empty (a next
    // commit rebuilding from empty would silently drop every row)
    (1L to 32L).toDF("synced_id")
      .withColumn("synced_updated_at", lit("2024-01-01 00:00:00").cast("timestamp"))
      .withColumn("synced_created_at", col("synced_updated_at"))
      .withColumn("synced_canceled_at", lit(null).cast("timestamp"))
      .withColumn("value", col("synced_id") * 1.0)
      .write.parquet(s"$root/v0")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "LATEST"), "0".getBytes)
    val r = new graft.streaming.CowReplica(spark, root, ddl)
    assert(r.read().count() == 32)
    // unknown layout: readBuckets degrades to a correct unpruned read
    assert(r.readBuckets(Seq(3L).toDF("synced_id")).count() == 32)
    // the next commit upgrades to the bucketed layout; nothing lost,
    // and pruned reads kick in from then on
    r.merge(updates((33L, "2024-01-02 00:00:00", None, "created", 33.0)))
    assert(r.read().count() == 33)
    val pruned = r.readBuckets(Seq(3L, 17L).toDF("synced_id"))
    assert(pruned.select("synced_id").as[Long].collect().toSet.contains(3L))
    assert(pruned.inputFiles.length < r.read().inputFiles.length)
  }

  test("ParquetReplica merge rewrites only touched buckets") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-bucketed").toString
    val replica = new graft.streaming.ParquetReplica(spark, root,
      "synced_id BIGINT, synced_updated_at TIMESTAMP, " +
        "synced_created_at TIMESTAMP, synced_canceled_at TIMESTAMP, " +
        "value DOUBLE", buckets = 8)

    // seed all buckets
    replica.merge(updates(
      (1L to 64L).map(i =>
        (i, "2024-01-01 00:00:00", None: Option[String], "created",
          i.toDouble)): _*))
    val manBefore = replica.manifest(replica.currentVersion)
    assert(manBefore.keySet == (0 until 8).toSet)
    def filesOf(dir: String): Map[String, (Long, Long)] = {
      val d = new java.io.File(s"$root/$dir")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length, f.lastModified)).toMap
    }
    val before = manBefore.map { case (b, dir) => b -> filesOf(dir) }

    // merge one key → exactly its bucket rewrites
    replica.merge(updates(
      (7L, "2024-02-01 00:00:00", None, "updated", 777.0)))
    val manAfter = replica.manifest(replica.currentVersion)
    val touched = manAfter.filter { case (b, d) => manBefore(b) != d }.keySet
    assert(touched.size == 1, s"touched $touched")
    // untouched buckets: same directories, same files, byte-stable
    (manAfter -- touched).foreach { case (b, dir) =>
      assert(dir == manBefore(b))
      assert(filesOf(dir) == before(b), s"bucket $b files changed")
    }
    // correctness of the incremental state
    val got = replica.read()
      .select($"synced_id", $"value").as[(Long, Double)].collect().toMap
    assert(got.size == 64 && got(7L) == 777.0 && got(8L) == 8.0)

    // stale update against an untouched snapshot still loses
    replica.merge(updates(
      (7L, "2024-01-15 00:00:00", None, "updated", 1.0)))
    assert(replica.read().filter($"synced_id" === 7L)
      .select("value").as[Double].collect()(0) == 777.0)

    // vacuum drops unreachable versions; current state is untouched
    val preVacuum = replica.read()
      .select($"synced_id", $"value").as[(Long, Double)].collect().toMap
    replica.vacuum()
    val postVacuum = replica.read()
      .select($"synced_id", $"value").as[(Long, Double)].collect().toMap
    assert(postVacuum == preVacuum)
    val manifests = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.endsWith(".manifest"))
    assert(manifests.length == 1, manifests.mkString(","))
  }
}
