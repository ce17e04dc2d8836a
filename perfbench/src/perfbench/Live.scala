package perfbench

import java.nio.file.{Files, Paths}
import graft.Engine

/** `live_aggregate`: `Engine.start` on the `orders` topic, fed open-loop by
  * one generator thread (this one) at a fixed file cadence. Replicas are
  * pre-populated in set-up (genesis drained into merge-on-read replicas,
  * the latency write path). Lag per fed file runs from its due time to the
  * end of the consumer micro-batch that applied it, read afterwards from
  * the progress events and the two queries' file-source offset logs. */
object Live {
  def run(ctx: RunCtx): Map[String, Any] = {
    val spark = ctx.spark
    val intervalMs = ctx.arg("interval-ms").toLong
    val warmFiles = ctx.arg("warm-files").toInt
    val plan = Aggregate.readPlan(s"${ctx.inputs}/live_plan.tsv")
    val nFiles = plan.map(_.file).max + 1
    val src = s"${ctx.work}/src"
    val engineDir = s"${ctx.work}/engine"
    Files.createDirectories(Paths.get(src))
    val snapTsUs = (System.currentTimeMillis() - 600000L) * 1000L
    val bindings = new Aggregate.Bindings(s"${ctx.data}/${ctx.arg("sf")}", src, snapTsUs)
    val opts = Engine.EngineOptions(mergeOnRead = true)
    val options = ctx.tracer.fold(opts)(t => opts.copy(replicaFactory =
      Some(t.replicaFactory(opts.mergeOnRead, opts.replicaCompactEvery))))
    val reg = Aggregate.registry
    val anchorBefore = Jvm.anchorMs(spark)

    // pre-populate through the live queries themselves: genesis writes the
    // snapshot onto the topic, and the first consumer micro-batch applies it
    ctx.log("prepopulate")
    ctx.tracer.foreach(_.phase("prepopulate"))
    val nOrders = spark.read.parquet(s"${ctx.data}/${ctx.arg("sf")}/orders.parquet").count()
    val (_, genesisMs) = ctx.timed("genesis", "phase") {
      Engine.genesis(spark, reg, bindings, "order", engineDir)
    }
    val log = new ProgressLog
    spark.streams.addListener(log)
    val drainStart = System.nanoTime()
    val (queries, res) = Engine.start(spark, reg, bindings, engineDir,
      options = options)
    val Seq(producer, consumer) = queries
    val feeder = new Aggregate.Feeder(src, plan, snapTsUs)
    def applied: Long = log.inputRows(consumer.runId.toString)
    def awaitApplied(n: Long, timeoutMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (applied < n && System.currentTimeMillis() < deadline &&
          queries.forall(_.isActive)) Thread.sleep(20)
      queries.foreach(_.exception.foreach(e => throw e))
      applied >= n
    }

    try {
      // warm-up files go in while the consumer applies the genesis batch, so
      // the first live-shaped micro-batch (cold: class loading, JIT) runs
      // right after it and is drained before the measured window opens
      val w0 = System.currentTimeMillis()
      for (f <- 0 until warmFiles) {
        sleepUntil(w0 + f * intervalMs)
        feeder.feed(f, System.currentTimeMillis())
      }
      require(awaitApplied(nOrders, 120000L), "genesis did not drain")
      val drainMs = (System.nanoTime() - drainStart) / 1e6
      require(awaitApplied(nOrders + feeder.publishedRows, 120000L), "warm-up did not drain")
      ctx.log("prepopulated and warm")
      ctx.setupDone()
      val gcBefore = Jvm.gcMs()
      val measureStartMs = System.currentTimeMillis()
      ctx.tracer.foreach(_.phase("measure"))
      val t0 = System.currentTimeMillis() + intervalMs
      val due = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      val late = scala.collection.mutable.ArrayBuffer.empty[Double]
      val backlogAtStart = nOrders + feeder.publishedRows - applied
      val publishedBefore = feeder.publishedRows
      for (f <- warmFiles until nFiles) {
        val d = t0 + (f - warmFiles) * intervalMs
        sleepUntil(d)
        feeder.feed(f, d)
        late += (System.currentTimeMillis() - d).toDouble
        due(f"f-$f%06d.parquet") = d
      }
      val backlogAtEnd = nOrders + feeder.publishedRows - applied
      ctx.log(s"fed ${due.size} files, backlog $backlogAtEnd rows")
      val measuredRows = feeder.publishedRows - publishedBefore
      require(awaitApplied(nOrders + feeder.publishedRows, 120000L), "live feed did not drain")
      // the last progress event can trail the drain by a listener-bus hop
      Thread.sleep(300)
      val gcMs = Jvm.gcMs() - gcBefore
      queries.foreach(_.stop())
      ctx.log("drained")
      ctx.tracer.foreach(_.phase("post"))

      val lag = Lag.perFile(engineDir, log, producer.runId.toString,
        consumer.runId.toString, due.toMap)
      require(lag.size == due.size,
        s"lag resolved for ${lag.size} of ${due.size} fed files")
      val lags = lag.values.toSeq
      val lastCommit = lag.map { case (f, l) => due(f) + l }.max
      // the consumer runs back to back at this feed rate, so rows applied
      // per busy second would only echo the feed rate; micro-batches per
      // busy second follow the engine's per-batch cost instead
      val measuredBatches = log.batches(consumer.runId.toString)
        .filter(b => b.inputRows > 0 && b.endMs > t0 && b.endMs <= lastCommit)
      val busyMs = measuredBatches.map(_.durations.getOrElse("triggerExecution", 0L)).sum
      val anchorAfter = Jvm.anchorMs(spark)
      Aggregate.dumpReplicas(res, s"${ctx.work}/final")
      ctx.tracer.foreach(_.streamSummary(log, producer.runId.toString,
        consumer.runId.toString, res, engineDir, measureStartMs))

      Map(
        "setup_s" -> ctx.setupS,
        "latency_p50_ms" -> Stats.pct(lags, 0.50),
        "latency_tail_ms" -> Stats.tail(lags),
        "throughput_per_s" -> measuredBatches.size * 1000.0 / busyMs.toDouble,
        "consumer_batches_measured" -> measuredBatches.size,
        "consumer_rows_per_s" -> measuredRows * 1000.0 / (lastCommit - t0).toDouble,
        "lag_ms" -> lags.sorted,
        "files_measured" -> due.size,
        "rows_measured" -> measuredRows,
        "anchor_ms_before" -> anchorBefore,
        "anchor_ms_after" -> anchorAfter,
        "gc_ms" -> gcMs,
        "heap_post_gc_peak_mb" -> Jvm.heapPostGcPeakMb(),
        "feed_late_ms_p99" -> Stats.pct(late.toSeq, 0.99),
        "genesis_s" -> genesisMs / 1000.0,
        "drain_s" -> drainMs / 1000.0,
        "feed_backlog_growth" -> (backlogAtEnd - backlogAtStart),
        "snap_ts_us" -> snapTsUs)
    } finally queries.foreach(q => if (q.isActive) q.stop())
  }

  private def sleepUntil(ms: Long): Unit = {
    val d = ms - System.currentTimeMillis()
    if (d > 0) Thread.sleep(d)
  }
}

/** Change file → consumer micro-batch that applied it. The producer's
  * file-source log and progress offsets name the producer batch that read
  * each change file; that batch wrote one topic file, found by its
  * modification time inside the batch's window; the consumer's source log
  * and progress offsets name the consumer batch that read the topic file,
  * and its progress event gives that batch's end. */
object Lag {
  def perFile(engineDir: String, log: ProgressLog, producerRun: String,
      consumerRun: String, dueMs: Map[String, Long]): Map[String, Double] = {
    val topic = Aggregate.topic
    val prodBatches = log.batches(producerRun)
    val consBatches = log.batches(consumerRun)
    val prodOf = SourceLog.read(s"$engineDir/cp/produce/$topic").flatMap(e =>
      SourceLog.batchOf(prodBatches, e.logOffset).map(SourceLog.fileName(e.path) -> _)).toMap
    // each producer batch writes one topic file, inside its own time window
    val consOfProd = SourceLog.read(s"$engineDir/cp/consume/$topic").flatMap { e =>
      for {
        p <- prodBatches.find(b => e.mtimeMs >= b.startMs - 2 && e.mtimeMs <= b.endMs + 2)
        c <- SourceLog.batchOf(consBatches, e.logOffset)
      } yield p.batchId -> c
    }.toMap
    dueMs.flatMap { case (f, d) =>
      for {
        p <- prodOf.get(f)
        c <- consOfProd.get(p.batchId)
      } yield f -> (c.endMs - d).toDouble
    }
  }
}
