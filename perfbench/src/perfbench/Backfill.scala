package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.Engine

/** `backfill_aggregate`, closed loop: `Engine.genesis("order", paceFiles)`
  * over the sf0.1 snapshot drained by `Engine.runAvailableNow` one topic
  * file per micro-batch into fresh copy-on-write replicas (the default),
  * then an update wave of seeded change files (inputs.py) drained onto the
  * populated replicas. The wave's line snapshot lacks some children of the
  * orders it republishes, so the wave also disassociates (C11). */
object Backfill {
  def run(ctx: RunCtx): Map[String, Any] = {
    val spark = ctx.spark
    val paceFiles = ctx.arg("pace-files").toInt
    val snapTsUs = ctx.arg("snap-ts-us").toLong
    val snapDir = s"${ctx.data}/${ctx.arg("sf")}"
    val src = s"${ctx.work}/src"
    val engineDir = s"${ctx.work}/engine"
    Files.createDirectories(Paths.get(src))
    val bindings = new Aggregate.Bindings(snapDir, src, snapTsUs, Some(1))
    val opts = Engine.EngineOptions(sourceMaxFilesPerTrigger = Some(1))
    val options = ctx.tracer.fold(opts)(t => opts.copy(replicaFactory =
      Some(t.replicaFactory(opts.mergeOnRead, opts.replicaCompactEvery))))
    val reg = Aggregate.registry
    val nOrders = spark.read.parquet(s"$snapDir/orders.parquet").count()
    val waveFiles = Files.list(Paths.get(ctx.inputs, "wave")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    val waveRows = spark.read.parquet(waveFiles.map(_.toString): _*).count()
    val drop = spark.read.schema("id BIGINT").csv(s"${ctx.inputs}/drop_lines.csv")
    val log = new ProgressLog
    spark.streams.addListener(log)
    val anchorBefore = Jvm.anchorMs(spark)

    ctx.setupDone()
    val gcBefore = Jvm.gcMs()
    ctx.tracer.foreach(_.phase("load"))
    val (_, genesisMs) = ctx.timed("genesis", "phase") {
      Engine.genesis(spark, reg, bindings, "order", engineDir, paceFiles = paceFiles)
    }
    val (_, drainMs) = ctx.timed("drain", "phase") {
      Engine.runAvailableNow(spark, reg, bindings, engineDir, options = options)
    }
    val loadMs = genesisMs + drainMs

    ctx.tracer.foreach(_.phase("update_wave"))
    bindings.dropLines = Some(drop)
    val runsBefore = log.startedRuns.size
    val waveStart = System.currentTimeMillis()
    waveFiles.foreach(f => Files.copy(f, Paths.get(src, f.getFileName.toString)))
    val (res, waveMs) = ctx.timed("update_wave", "phase") {
      Engine.runAvailableNow(spark, reg, bindings, engineDir, options = options)
    }
    val gcMs = Jvm.gcMs() - gcBefore
    ctx.tracer.foreach(_.phase("post"))
    val Seq(producerRun, consumerRun) = log.startedRuns.drop(runsBefore)
    val lag = Lag.perFile(engineDir, log, producerRun, consumerRun,
      waveFiles.map(f => f.getFileName.toString -> waveStart).toMap)
    require(lag.size == waveFiles.size,
      s"lag resolved for ${lag.size} of ${waveFiles.size} wave files")
    // every wave row of a file lands with its file's micro-batch
    val rowsPerFile = waveFiles.map(f => f.getFileName.toString ->
      spark.read.parquet(f.toString).count()).toMap
    val rowLags = lag.toSeq.flatMap { case (f, l) => Seq.fill(rowsPerFile(f).toInt)(l) }
    val anchorAfter = Jvm.anchorMs(spark)
    Aggregate.dumpReplicas(res, s"${ctx.work}/final")
    ctx.tracer.foreach(_.streamSummary(log, producerRun, consumerRun, res, engineDir, 0L))

    Map(
      "setup_s" -> ctx.setupS,
      "latency_p50_ms" -> Stats.pct(rowLags, 0.50),
      "latency_tail_ms" -> Stats.tail(rowLags),
      "throughput_per_s" -> nOrders * 1000.0 / loadMs,
      "update_rows_per_s" -> waveRows * 1000.0 / waveMs,
      "genesis_s" -> genesisMs / 1000.0,
      "drain_s" -> drainMs / 1000.0,
      "wave_s" -> waveMs / 1000.0,
      "wave_file_lag_ms" -> lag.values.toSeq.sorted,
      "orders" -> nOrders,
      "wave_rows" -> waveRows,
      "anchor_ms_before" -> anchorBefore,
      "anchor_ms_after" -> anchorAfter,
      "gc_ms" -> gcMs,
      "heap_post_gc_peak_mb" -> Jvm.heapPostGcPeakMb(),
      "snap_ts_us" -> snapTsUs)
  }
}
