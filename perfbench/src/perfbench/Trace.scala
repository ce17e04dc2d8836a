package perfbench

import java.nio.file.Paths
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.Engine
import graft.registry.ModelDef
import graft.streaming.{ParquetReplica, Replica}

/** Traced-run instrumentation, built only from Spark's public hooks and
  * timing around public calls:
  *  - a SparkListener for jobs, stages, tasks, shuffle, spill, executor CPU
  *    and output bytes, each job attributed by its `sql.streaming.queryId`
  *    local property or by the job group the sweep sets per query;
  *  - a QueryExecutionListener for the `qe.tracker` planning phases;
  *  - the CodegenMetrics compile counter, read around each query and
  *    sampled every 5 ms for micro-batch windows;
  *  - a timing `Replica` proxy installed through `EngineOptions.replicaFactory`;
  *  - spans (workload → phase → micro-batch or query → replica call) with
  *    parent ids, kept in memory and written at the end. */
final class Tracer(spark: SparkSession) {
  private val t0Ns = System.nanoTime()
  private def nowMs: Double = (System.nanoTime() - t0Ns) / 1e6
  private val wallOffsetMs = System.currentTimeMillis() - (System.nanoTime() - t0Ns) / 1000000L

  // ------------------------------------------------------------ spans
  final case class Span(id: Long, parent: Long, name: String, kind: String,
      start: Double, end: Double)
  private val ids = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val root = 0L
  @volatile private var phaseSpan: (Long, String, Double) = (ids.getAndIncrement(), "setup", 0.0)
  private val current = new ThreadLocal[java.lang.Long]()
  def spanCount: Int = spans.size

  def phase(name: String): Unit = synchronized {
    val (id, n, s) = phaseSpan
    spans.add(Span(id, root, n, "phase", s, nowMs))
    phaseSpan = (ids.getAndIncrement(), name, nowMs)
  }
  def phaseName: String = phaseSpan._2

  def span[A](name: String, kind: String)(f: => A): (A, Double) = {
    val id = ids.getAndIncrement()
    val parent = Option(current.get).map(_.longValue).getOrElse(phaseSpan._1)
    current.set(id)
    val c0 = compileCounter.getCount
    val s = nowMs
    try {
      val r = f
      (r, nowMs - s)
    } finally {
      spans.add(Span(id, parent, name, kind, s, nowMs))
      // queries run one at a time, so the counter's delta over the span is
      // exactly the query's compiles
      if (kind == "query") spanCompiles.put(id, compileCounter.getCount - c0)
      if (parent == phaseSpan._1) current.remove() else current.set(parent)
    }
  }
  private val compileCounter =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  private val spanCompiles = new ConcurrentHashMap[Long, Long]()

  // ------------------------------------------------------------ jobs/tasks
  final class JobAgg(val group: String, val streamId: String, val batch: Long,
      val phase: String) {
    val stages = new AtomicLong; val tasks = new AtomicLong
    val cpuNs = new AtomicLong; val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong; val outputBytes = new AtomicLong
  }
  private val jobs = new ConcurrentHashMap[Int, JobAgg]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val agg = new JobAgg(prop("spark.jobGroup.id"), prop("sql.streaming.queryId"),
        scala.util.Try(prop("streaming.sql.batchId").toLong).getOrElse(-1L), phaseName)
      agg.stages.addAndGet(e.stageIds.size)
      jobs.put(e.jobId, agg)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { a =>
        a.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          a.cpuNs.addAndGet(m.executorCpuTime)
          a.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten +
            m.shuffleReadMetrics.totalBytesRead)
          a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          a.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        }
      }
  }
  spark.sparkContext.addSparkListener(sparkListener)

  // ------------------------------------------------------------ planning
  /** (planning phases end in wall ms, analysis+optimization+planning ms) */
  private val plans = new ConcurrentLinkedQueue[(Long, Double)]()
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) plans.add((ph.values.map(_.endTimeMs).max,
        ph.values.map(_.durationMs).sum.toDouble))
      ()
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }
  spark.listenerManager.register(qeListener)

  // ------------------------------------------------------------ codegen
  /** (wall ms, compile count, mean compile ms) sampled every 5 ms. */
  private val compiles = new ConcurrentLinkedQueue[(Long, Long, Double)]()
  private val sampler = new Thread(() => {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    try while (true) {
      compiles.add((System.currentTimeMillis(), h.getCount, h.getSnapshot.getMean))
      Thread.sleep(5)
    } catch { case _: InterruptedException => }
  }, "perfbench-codegen-sampler")
  sampler.setDaemon(true)
  sampler.start()

  private lazy val compileSeries = compiles.asScala.toArray
  /** Compiles and estimated compile ms between two wall-clock instants. */
  private def compilesIn(fromMs: Long, toMs: Long): (Long, Double) = {
    def at(t: Long) = compileSeries.lastIndexWhere(_._1 <= t) match {
      case -1 => (t, 0L, 0.0)
      case i => compileSeries(i)
    }
    val (_, c0, _) = at(fromMs)
    val (_, c1, mean) = at(toMs)
    (c1 - c0, (c1 - c0) * mean)
  }

  // ------------------------------------------------------------ replicas
  final case class Call(model: String, op: String, ms: Double, waitMs: Double,
      phase: String)
  private val calls = new ConcurrentLinkedQueue[Call]()

  /** Builds the replica exactly as the engine's default path does
    * (`Engine.makeReplicas`: replica schema, per-model buckets, merge-on-read
    * flag, compaction cadence, stored-schema check), wrapped in a timing
    * proxy. */
  def replicaFactory(mergeOnRead: Boolean, compactEvery: Int)
      : (SparkSession, ModelDef, String) => Replica = (s, m, root) => {
    val pr = new ParquetReplica(s, root, m.replicaSchema.toDDL, buckets = m.buckets,
      mergeOnRead = mergeOnRead, compactEvery = compactEvery)
    pr.verifyStoredCompatible()
    new TimingReplica(m.name, pr)
  }

  final class TimingReplica(model: String, val inner: ParquetReplica) extends Replica {
    private def t[A](op: String)(f: => A): A = {
      val (r, ms) = span(s"$model.$op", "replica")(f)
      calls.add(Call(model, op, ms, 0.0, phaseName))
      r
    }
    def read(): DataFrame = inner.read()
    override def readBuckets(keys: DataFrame): DataFrame = t("read_buckets")(inner.readBuckets(keys))
    override def neverCommitted: Boolean = inner.neverCommitted
    def merge(updates: DataFrame, prepare: (DataFrame, DataFrame) => DataFrame): Unit =
      t("merge")(inner.merge(updates, prepare))
    def destroy(ids: DataFrame, idCol: String): Unit = t("destroy")(inner.destroy(ids, idCol))
    def transform(f: DataFrame => DataFrame): Unit = t("transform")(inner.transform(f))
    def vacuum(retainVersions: Int): Unit = t("vacuum")(inner.vacuum(retainVersions))
    def withLock[A](f: => A): A = {
      val s = System.nanoTime()
      inner.withLock {
        calls.add(Call(model, "lock", 0.0, (System.nanoTime() - s) / 1e6, phaseName))
        f
      }
    }
  }

  // ------------------------------------------------------------ summaries
  private val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private def put(k: String, v: Double): Unit = metrics(k) = v
  private def pct(xs: Iterable[Double], p: Double) =
    if (xs.isEmpty) 0.0 else Stats.pct(xs.toSeq, p)
  private val measured = Set("measure", "load", "update_wave")

  /** Per-layer numbers of the producer and consumer micro-batches that
    * started at or after `sinceMs` and carried rows. */
  def streamSummary(log: ProgressLog, producerRun: String, consumerRun: String,
      res: Engine.EngineResult, engineDir: String, sinceMs: Long): Unit = {
    val agg = jobs.values.asScala.toSeq
    Seq("producer" -> producerRun, "consumer" -> consumerRun).foreach { case (role, run) =>
      val bs = log.batches(run).filter(b => b.inputRows > 0 && b.startMs >= sinceMs)
      bs.foreach(b => spans.add(Span(ids.getAndIncrement(), root, s"$role.${b.batchId}",
        s"$role-batch", (b.startMs - wallOffsetMs).toDouble, (b.endMs - wallOffsetMs).toDouble)))
      val batchKeys = bs.map(_.batchId).toSet
      val streamId = log.queryIdOf(run)
      val js = agg.filter(j => j.streamId == streamId && batchKeys(j.batch))
      val n = math.max(1, bs.size).toDouble
      def d(k: String) = bs.map(_.durations.getOrElse(k, 0L).toDouble)
      put(s"$role.batch_ms.p50", pct(d("triggerExecution"), 0.5))
      put(s"$role.batch_ms.p95", pct(d("triggerExecution"), 0.95))
      put(s"$role.latest_offset_ms.p50", pct(d("latestOffset"), 0.5))
      put(s"$role.add_batch_ms.p50", pct(d("addBatch"), 0.5))
      put(s"$role.jobs_per_batch", js.size / n)
      put(s"$role.tasks_per_batch", js.map(_.tasks.get).sum / n)
      put(s"$role.cpu_ms_per_batch", js.map(_.cpuNs.get).sum / 1e6 / n)
      put(s"$role.compiles_per_batch",
        bs.map(b => compilesIn(b.startMs, b.endMs)._1).sum / n)
      if (role == "consumer") {
        put("consumer.commit_ms.p50", pct(d("commitOffsets"), 0.5))
        put("consumer.shuffle_bytes_per_batch", js.map(_.shuffleBytes.get).sum / n)
        put("consumer.rows_per_batch", bs.map(_.inputRows).sum / n)
        put("replica.bytes_written", js.map(_.outputBytes.get).sum.toDouble)
      }
    }
    val topicDir = Paths.get(engineDir, "topics", Aggregate.topic)
    val topicRows = spark.read.parquet(topicDir.toString).count()
    put("topic.bytes_per_event", Dirs.bytes(topicDir).toDouble / math.max(1L, topicRows))
    val dlq = Paths.get(engineDir, "dlq")
    put("consumer.dlq_rows",
      if (Dirs.files(dlq).exists(_.toString.endsWith(".parquet")))
        spark.read.parquet(dlq.resolve(Aggregate.topic).toString).count().toDouble
      else 0.0)

    val cs = calls.asScala.toSeq.filter(c => measured(c.phase))
    def ms(op: String) = cs.filter(_.op == op).map(_.ms)
    put("replica.merge_ms.p50", pct(ms("merge"), 0.5))
    put("replica.merge_ms.p95", pct(ms("merge"), 0.95))
    put("replica.merges", ms("merge").size.toDouble)
    put("replica.lock_wait_ms.p95", pct(cs.filter(_.op == "lock").map(_.waitMs), 0.95))
    put("replica.read_buckets_ms.p50", pct(ms("read_buckets"), 0.5))
    put("replica.destroy_ms.p50", pct(ms("destroy"), 0.5))
    def version(r: Replica): Double = r match {
      case t: TimingReplica => t.inner.currentVersion + 1.0
      case p: ParquetReplica => p.currentVersion + 1.0
      case _ => 0.0
    }
    put("replica.versions", res.replicas.values.map(version).sum)
    put("keyidx.versions", res.keyIndexes.values.map(version).sum)
    put("workdir.files", Dirs.files(Paths.get(engineDir)).size.toDouble)
    // live bytes: what the current versions reference, after reclaiming
    // unreachable versions (content-neutral)
    (res.replicas.values ++ res.keyIndexes.values).foreach(_.vacuum())
    val live = Dirs.bytes(Paths.get(engineDir, "replicas")).toDouble
    put("replica.bytes", live)
    put("replica.write_amp", metrics.getOrElse("replica.bytes_written", 0.0) / math.max(1.0, live))
  }

  /** Per-layer numbers of the measured sweep passes, per pass. */
  def sweepSummary(passes: Int): Unit = {
    val mid = phaseSpanIdOf("measure")
    val qs = spans.asScala.toSeq.filter(s => s.kind == "query" && s.parent == mid)
    val byGroup = jobs.values.asScala.toSeq.filter(j => j.group.startsWith("q:") &&
      j.phase == "measure").groupBy(_.group.stripPrefix("q:"))
    val n = math.max(1, passes).toDouble
    def sum(f: JobAgg => Long) = byGroup.values.flatten.map(f).sum / n
    put("query.jobs.sum", byGroup.values.map(_.size).sum / n)
    put("query.stages.sum", sum(_.stages.get))
    put("query.tasks.sum", sum(_.tasks.get))
    put("query.cpu_ms.sum", sum(_.cpuNs.get) / 1e6)
    put("query.shuffle_bytes.sum", sum(_.shuffleBytes.get))
    put("query.spill_bytes.sum", sum(_.spillBytes.get))
    val windows = qs.map(s => (s.name, wallOffsetMs + s.start.toLong, wallOffsetMs + s.end.toLong))
    val compiled = qs.map(s => s.name -> spanCompiles.getOrDefault(s.id, 0L).toDouble)
    val meanCompileMs = compileCounter.getSnapshot.getMean
    put("query.compiles.sum", compiled.map(_._2).sum / n)
    put("query.compile_ms.sum", compiled.map(_._2).sum * meanCompileMs / n)
    val planList = plans.asScala.toSeq
    put("query.plan_ms.sum", windows.map { case (_, a, b) =>
      planList.filter(p => p._1 >= a && p._1 <= b).map(_._2).sum }.sum / n)
    Seq("c", "p", "q", "x").foreach { f =>
      put(s"query.$f.total_s", qs.filter(_.name.startsWith(f)).map(s => s.end - s.start).sum / 1000.0 / n)
    }
    perQuery = compiled.groupBy(_._1).map { case (q, cs) =>
      val js = byGroup.getOrElse(q, Nil)
      val c = cs.map(_._2).sum
      q -> Map("jobs" -> js.size / n, "tasks" -> js.map(_.tasks.get).sum / n,
        "compiles" -> c / n, "shuffle_bytes" -> js.map(_.shuffleBytes.get).sum / n)
    }
  }
  private var perQuery: Map[String, Map[String, Double]] = Map.empty
  private def phaseSpanIdOf(name: String): Long =
    spans.asScala.find(s => s.kind == "phase" && s.name == name).map(_.id).getOrElse(-1L)

  def stop(): Unit = {
    sampler.interrupt()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    phase("end")
  }

  /** Per-layer metrics plus the span table (with self times) and the
    * per-query counts the trace-diff tool compares. */
  def summary(): Map[String, Any] = {
    // replica calls run on the consumer's stream thread: parent each one to
    // the consumer micro-batch whose window holds it
    val batches = spans.asScala.toSeq.filter(_.kind == "consumer-batch")
    val all = spans.asScala.toSeq.map { s =>
      if (s.kind != "replica") s
      else batches.find(b => b.start <= s.start && s.end <= b.end + 1)
        .filter(_ => !spans.asScala.exists(p => p.id == s.parent && p.kind == "replica"))
        .fold(s)(b => s.copy(parent = b.id))
    }
    val children = all.groupBy(_.parent)
    val self = all.map { s =>
      val covered = children.getOrElse(s.id, Nil).map(c => c.end - c.start).sum
      s.id -> math.max(0.0, (s.end - s.start) - covered)
    }.toMap
    val selfByKind = all.groupBy(s => if (s.kind == "replica") s.name else s.kind)
      .map { case (k, ss) => k -> ss.map(s => self(s.id)).sum }
    Map("metrics" -> metrics.toMap, "per_query" -> perQuery,
      "self_ms" -> selfByKind,
      "spans" -> all.sortBy(_.start).map(s => Seq(s.id, s.parent, s.name, s.kind,
        s.start, s.end)))
  }
}
