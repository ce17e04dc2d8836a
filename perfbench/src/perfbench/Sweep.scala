package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.SparkEntry

/** `query_sweep`, closed loop with one client: `SparkEntry.queries` over
  * the generated snapshot, in the seeded per-pass order inputs.py wrote.
  * Each result is fully materialised in the JVM (`collect()` of every
  * column: `count()` would let Catalyst prune columns and skip work a
  * user's read pays) and hashed after its timing ends. */
object Sweep {
  def run(ctx: RunCtx): Map[String, Any] = {
    val spark = ctx.spark
    val dir = s"${ctx.data}/${ctx.arg("sf")}"
    val order = Files.readAllLines(Paths.get(ctx.inputs, "sweep_order.tsv")).asScala
      .drop(1).map(_.split("\t")).map(a => a(0).toInt -> a(1)).toSeq
    val passes = order.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2))
    val fns = SparkEntry.queries
    val anchorBefore = Jvm.anchorMs(spark)

    // two warm-up passes: class loading, JIT and codegen are paid once per
    // process, not per query a client sends, and one pass leaves the next
    // still measurably colder than the rest (~1.5x on the slowest queries)
    ctx.tracer.foreach(_.phase("warmup"))
    val hashes = passes.head.map(q => q -> execute(ctx, fns(q), dir, q, hash = true)._2).toMap
    passes(1).foreach(q => execute(ctx, fns(q), dir, q, hash = false))

    ctx.setupDone()
    val gcBefore = Jvm.gcMs()
    ctx.tracer.foreach(_.phase("measure"))
    // a fixed number of whole passes, so every run times each query the
    // same number of times whatever the machine's speed
    val passesRun = ctx.arg("passes").toInt
    require(passesRun + 2 <= passes.size, "sweep order has too few passes")
    val times = passes.slice(2, passesRun + 2).flatMap(_.map(q =>
      q -> execute(ctx, fns(q), dir, q, hash = false)._1))
    val gcMs = Jvm.gcMs() - gcBefore
    ctx.tracer.foreach(_.phase("post"))
    val anchorAfter = Jvm.anchorMs(spark)
    val perQuery = times.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2) }
    val ms = times.map(_._2)
    val passTotals = times.grouped(passes(2).size).map(_.map(_._2).sum / 1000.0).toSeq
    ctx.tracer.foreach(_.sweepSummary(passesRun))

    Map(
      "setup_s" -> ctx.setupS,
      "latency_p50_ms" -> Stats.pct(ms, 0.50),
      "latency_tail_ms" -> Stats.tail(ms),
      "throughput_per_s" -> times.size * 1000.0 / ms.sum,
      "query_total_s" -> Stats.median(passTotals),
      "passes" -> passesRun,
      "executions" -> times.size,
      "per_query_ms" -> perQuery,
      "hashes" -> hashes.map { case (q, h) => q -> h.getOrElse("error") },
      "anchor_ms_before" -> anchorBefore,
      "anchor_ms_after" -> anchorAfter,
      "gc_ms" -> gcMs,
      "heap_post_gc_peak_mb" -> Jvm.heapPostGcPeakMb())
  }

  /** Runs one query to a fully materialised result: (wall ms, hash or None
    * when it threw). */
  private def execute(ctx: RunCtx, fn: (SparkSession, String) => DataFrame,
      dir: String, name: String, hash: Boolean): (Double, Option[String]) = {
    val spark = ctx.spark
    spark.sparkContext.setJobGroup(s"q:$name", name)
    val (rows, ms) = ctx.timed(name, "query") {
      try { val df = fn(spark, dir); Some((df.schema, df.collect())) }
      catch { case e: Exception =>
        System.err.println(s"[sweep] $name failed: ${e.getMessage}")
        None
      }
    }
    spark.sparkContext.clearJobGroup()
    // same per-query hygiene as the product's own sweep (Verify): drop
    // cached tables and persisted RDDs so footprints stay per-query
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    (ms, if (hash) rows.map { case (s, r) => ResultHash.of(s, r) } else None)
  }

  /** Golden mode: every query once, its result hash, and its result dumped
    * to parquet (exactly the hashed rows) next to the Spark-naive oracle
    * dumps, for golden.py's DuckDB comparison. */
  def golden(ctx: RunCtx): Map[String, Any] = {
    val spark = ctx.spark
    val dir = s"${ctx.data}/${ctx.arg("sf")}"
    val out = ctx.arg("dump")
    val only = ctx.arg("queries").split(",").filter(_.nonEmpty).toSet
    def keep(q: String) = only.isEmpty || only(q)
    val hashes = SparkEntry.queries.toSeq.sortBy(_._1).filter(x => keep(x._1)).map {
      case (q, fn) =>
        val h = try {
          val df = fn(spark, dir)
          val rows = df.collect()
          spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$out/results/$q")
          ResultHash.of(df.schema, rows)
        } catch { case e: Exception =>
          System.err.println(s"[golden] $q failed: ${e.getMessage}")
          "error"
        }
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        q -> h
    }.toMap
    SparkEntry.naiveOracle.toSeq.filter(x => keep(x._1)).foreach { case (q, fn) =>
      fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/naive/$q")
    }
    Files.write(Paths.get(out, "oracle_sql.json"),
      Json.render(SparkEntry.oracleSql.filter(x => keep(x._1))).getBytes(UTF_8))
    Map("hashes" -> hashes, "setup_s" -> ctx.setupS)
  }
}

/** Order-insensitive hash of a materialised result: each row renders its
  * columns in name order with exact float text, the rendered rows are
  * sorted, and SHA-256 runs over the schema plus the sorted rows. */
object ResultHash {
  def of(schema: org.apache.spark.sql.types.StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val rendered = rows.map(r => order.map(i => render(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(i => s"${schema(i).name}:${schema(i).dataType.simpleString}")
      .mkString(",").getBytes(UTF_8))
    rendered.foreach { s => md.update('\n'.toByte); md.update(s.getBytes(UTF_8)) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def render(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.toPlainString
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case i: java.time.Instant => (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case bytes: Array[Byte] => bytes.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(render).mkString("{", "\u0002", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted
        .mkString("<", "\u0002", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", "\u0002", "]")
    case other => other.toString
  }
}
