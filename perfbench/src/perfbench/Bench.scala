package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Runs ONE workload per process and writes its raw
  * measurements as JSON to `--out`; `run.py` checks correctness and prints
  * the result line.
  *
  *   --workload live_aggregate|backfill_aggregate|query_sweep|golden
  *   --seconds S    measured window length (live_aggregate, query_sweep)
  *   --trace 0|1    1 = traced run: listeners, timing replica proxy, spans
  *   --data DIR     generated snapshots (DIR/sf0.01, DIR/sf0.1)
  *   --inputs DIR   seeded inputs written by inputs.py
  *   --work DIR     scratch for topics, checkpoints and replicas
  *   --out FILE     raw result JSON
  *   --t0-ms MS     epoch ms at which the benchmark process started set-up
  *
  * The session sets only what a deployment must size or pin: the master,
  * the UTC session time zone, the UI switch, the heap (the JVM's -Xmx) and
  * shuffle partitions sized to the cores, as the product's own `Verify`
  * entry point does (Spark's default of 200 made one live micro-batch take
  * ~40 s on 4 cores). Every other setting stays at the product's defaults,
  * so product tuning shows up in the numbers without a benchmark change. */
object Bench {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val trace = args.getOrElse("trace", "0") == "1"
    val out = Paths.get(args("out"))
    val t0Ms = args.get("t0-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new RunCtx(spark, args, t0Ms, trace)
    val res = try {
      workload match {
        case "live_aggregate" => Live.run(ctx)
        case "backfill_aggregate" => Backfill.run(ctx)
        case "query_sweep" => Sweep.run(ctx)
        case "golden" => Sweep.golden(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } finally ctx.stopTracing()
    Json.write(out, res ++ Map(
      "rss_peak_mb" -> Jvm.rssPeakMb(),
      "cpus" -> cpus,
      "session" -> Map("master" -> s"local[$cpus]",
        "spark.sql.session.timeZone" -> "UTC", "spark.ui.enabled" -> false,
        "spark.sql.shuffle.partitions" -> cpus,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))) ++
      ctx.traceMetrics())
    spark.stop()
  }
}

/** Per-run context: session, arguments, the set-up clock and the tracer
  * (a no-op unless `--trace 1`). */
final class RunCtx(val spark: SparkSession, args: Map[String, String],
    t0Ms: Long, traced: Boolean) {
  def arg(k: String): String = args(k)
  val seconds: Int = args.getOrElse("seconds", "10").toInt
  val data: String = args("data")
  val inputs: String = args.getOrElse("inputs", "")
  val work: String = args("work")
  val tracer: Option[Tracer] = if (traced) Some(new Tracer(spark)) else None

  private var setupEndMs = -1L
  /** Marks the first timed operation; everything before it is set-up. */
  def setupDone(): Unit = if (setupEndMs < 0) setupEndMs = System.currentTimeMillis()
  def setupS: Double = (setupEndMs - t0Ms) / 1000.0

  /** Wall time of `f` in ms, as a span when tracing. */
  def timed[A](name: String, kind: String)(f: => A): (A, Double) =
    tracer match {
      case Some(t) => t.span(name, kind)(f)
      case None =>
        val s = System.nanoTime()
        val r = f
        (r, (System.nanoTime() - s) / 1e6)
    }

  /** Progress line on stderr (kept in the run's jvm.log). */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - t0Ms) / 1000.0}%.1fs] $msg")

  def stopTracing(): Unit = tracer.foreach(_.stop())
  def traceMetrics(): Map[String, Any] =
    tracer.map(t => Map("trace" -> t.summary(), "spans" -> t.spanCount))
      .getOrElse(Map.empty)
}

object Jvm {
  /** Peak resident set of this process (`VmHWM`), MB. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Largest heap occupancy observed right after a collection, MB. */
  def heapPostGcPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** Constant-shape Spark probe (one aggregation over a fixed range),
    * median of three, ms. A slow reading marks a contended window; it is
    * reported next to the numbers and never used to normalise them. */
  def anchorMs(spark: SparkSession): Double = {
    val xs = (0 until 3).map { _ =>
      val s = System.nanoTime()
      spark.range(0, 1000000, 1, 4).selectExpr("sum(id % 7)").collect()
      (System.nanoTime() - s) / 1e6
    }
    Stats.median(xs)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  /** The highest percentile with at least ten samples beyond it, capped at
    * the 95th: p95 of 250 samples, p79.2 of 48. */
  def tail(xs: Seq[Double]): Double = pct(xs, math.min(0.95, 1.0 - 10.0 / xs.size))
  /** Nearest-rank percentile; NaN for an empty sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
}

/** Minimal JSON writer for maps, sequences, strings, numbers, booleans. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def write(p: Path, v: Any): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.write(p, render(v).getBytes(UTF_8))
  }
}
