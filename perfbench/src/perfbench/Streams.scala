package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One finished micro-batch, as its progress event reports it. */
final case class BatchProgress(run: String, query: String, batchId: Long, startMs: Long,
    durations: Map[String, Long], inputRows: Long, endLogOffset: Long) {
  def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** Collects the progress events of every streaming query — Spark's public
  * hook, already emitted by the engine; it adds no job or plan node. Used
  * by untraced runs too, for lag and drain detection. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()
  private val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    started.add(e.runId.toString); ()
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    events.add(BatchProgress(p.runId.toString, p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      p.sources.headOption.flatMap(s => Option(s.endOffset))
        .flatMap(o => "\"logOffset\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(o))
        .map(_.group(1).toLong).getOrElse(-1L)))
    ()
  }
  /** Run ids of the queries started since this listener was added, in
    * start order. */
  def startedRuns: Seq[String] = started.asScala.toSeq
  def batches(runId: String): Seq[BatchProgress] =
    events.asScala.filter(_.run == runId).toSeq.sortBy(_.batchId)
  def inputRows(runId: String): Long = batches(runId).map(_.inputRows).sum
  def queryIdOf(runId: String): String =
    events.asScala.find(_.run == runId).map(_.query).getOrElse("")
}

/** Reads a file source's log (`<checkpoint>/sources/0`): the source log
  * offset at which each input file was admitted, with the file's
  * modification time. A query batch consumes the log offsets up to its
  * progress event's `endOffset`. Compacted and plain log files are both
  * read. */
object SourceLog {
  final case class Entry(path: String, mtimeMs: Long, logOffset: Long)

  def read(checkpoint: String): Seq[Entry] = {
    val dir = Paths.get(checkpoint, "sources", "0")
    if (!Files.isDirectory(dir)) return Nil
    val files = Files.list(dir).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.matches("\\d+(\\.compact)?"))
    files.flatMap(p => Files.readAllLines(p).asScala.drop(1)).flatMap(parse)
      .groupBy(_.path).values.map(_.minBy(_.logOffset)).toSeq
  }

  private val field = "\"(path|timestamp|batchId)\"\\s*:\\s*(\"([^\"]*)\"|-?\\d+)".r
  private def parse(line: String): Option[Entry] = {
    val m = field.findAllMatchIn(line).map(x =>
      x.group(1) -> Option(x.group(3)).getOrElse(x.group(2))).toMap
    for (p <- m.get("path"); t <- m.get("timestamp"); b <- m.get("batchId"))
      yield Entry(java.net.URI.create(p).getPath, t.toLong, b.toLong)
  }

  def fileName(path: String): String = Paths.get(path).getFileName.toString

  /** Query batch that consumed log offset `off`: the first batch whose end
    * offset reaches it. */
  def batchOf(batches: Seq[BatchProgress], off: Long): Option[BatchProgress] =
    batches.filter(_.endLogOffset >= off).sortBy(_.batchId).headOption
}

object Dirs {
  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
  def bytes(p: Path): Long = files(p).map(Files.size).sum
}
