package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.streaming.{ParquetReplica, Replica}

/** [[ParquetReplica]]'s column-pruned `read(columns)` — the read C11
  * resolves doomed child keys from — returns exactly
  * `read().select(columns)` in every storage state the fold has to
  * handle, and its parquet scans never read the payload. */
class ColumnReadSpec extends SparkSpec {
  import spark.implicits._

  private val ddl =
    "synced_id BIGINT, value DOUBLE, parent_id BIGINT, " +
      "synced_created_at TIMESTAMP, synced_updated_at TIMESTAMP, " +
      "synced_canceled_at TIMESTAMP, line_ids ARRAY<BIGINT>, synced_data STRING"

  private def ts(d: Int) = Some(Timestamp.valueOf(s"2026-01-0$d 10:00:00"))

  private def live(id: Long, d: Int, v: Double) =
    PodEvent(id, "updated", ts(d), ts(1), Some(v), Some(id * 10),
      Some(Seq(id)), synced_data = Some(s"""{"id":$id,"v":$v}"""))

  /** A key-only destroy (P9); `None` is a null-ts destroy. */
  private def destroy(id: Long, d: Option[Int]) =
    PodEvent(id, "destroyed", d.flatMap(ts), None,
      canceled_at = d.flatMap(ts).orElse(ts(2)),
      synced_data = Some(s"""{"id":$id}"""))

  /** A replica of the spec's shape and its merge of one epoch. */
  private final class Rep(name: String, variant: Boolean = false,
      mergeOnRead: Boolean = true, compactEvery: Int = 100) {
    val r = new ParquetReplica(spark,
      Files.createTempDirectory(s"graft-colread-$name").toString,
      if (variant) ddl.replace("synced_data STRING", "synced_data VARIANT")
      else ddl,
      buckets = 4, mergeOnRead = mergeOnRead, compactEvery = compactEvery)

    /** At most one row per key, as the engine's keep-latest leaves every
      * merge. */
    def merge(evs: PodEvent*): Unit = {
      val df = evs.toDF()
      r.merge(
        if (variant) df.withColumn("synced_data", parse_json($"synced_data"))
        else df,
        Replica.preserveOnDestroy)
    }
  }

  /** Created, updated, destroyed (stored, absent, stale and null-ts keys)
    * and restored rows over four epochs. */
  private val epochs = Seq(
    Seq(live(1, 1, 1.0), live(2, 1, 2.0), live(3, 3, 3.0), live(4, 1, 4.0),
      live(5, 2, 5.0)),
    Seq(destroy(1, Some(2)), destroy(9, Some(2)), destroy(3, Some(2)),
      destroy(4, None), destroy(5, None)),
    Seq(destroy(1, Some(3)), live(4, 3, 4.5)),
    Seq(live(2, 4, 2.5), destroy(6, Some(4))))

  private def lifecycle(p: Rep): Unit = epochs.foreach(e => p.merge(e: _*))

  private val columnSets = Seq(
    Seq("synced_id", "parent_id"),
    Seq("parent_id", "synced_id", "value", "synced_canceled_at"),
    Seq("line_ids", "synced_updated_at", "synced_id"))

  private def sorted(df: DataFrame): Seq[Row] = {
    val rendered = df.columns.toSeq.map(c =>
      if (df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.VariantType])
        to_json(col(c)).as(c)
      else col(c))
    df.select(rendered: _*).collect().toSeq.sortBy(_.toString)
  }

  private def assertColumnReadsMatch(r: ParquetReplica,
      extra: Seq[Seq[String]] = Nil): Unit =
    (columnSets ++ extra).foreach { cols =>
      val pruned = sorted(r.read(cols))
      assert(pruned.nonEmpty)
      assert(pruned == sorted(r.read().select(cols.map(col): _*)),
        s"read($cols) diverged from read().select")
    }

  test("read(columns) equals read().select(columns) on a copy-on-write " +
      "replica") {
    val p = new Rep("cow", mergeOnRead = false)
    lifecycle(p)
    assertColumnReadsMatch(p.r)
  }

  test("read(columns) equals read().select(columns) over pending epochs " +
      "carrying destroy markers") {
    val p = new Rep("mor")
    lifecycle(p)
    assert(p.r.deltaEntries(p.r.currentVersion).size == 4,
      "every merge must stay a pending delta epoch")
    assertColumnReadsMatch(p.r)
  }

  test("read(columns) equals read().select(columns) after async " +
      "compaction and after destroy()") {
    val p = new Rep("fold", compactEvery = 2)
    val r = p.r
    // the second epoch triggers the background fold of both
    epochs.take(2).foreach(e => p.merge(e: _*))
    val deadline = System.currentTimeMillis() + 30000
    while (r.deltaEntries(r.currentVersion).nonEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(r.deltaEntries(r.currentVersion).isEmpty,
      "async compaction never landed")
    assertColumnReadsMatch(r)
    // one marked epoch pending over the compacted base
    p.merge(epochs(2): _*)
    assert(r.deltaEntries(r.currentVersion).size == 1)
    assertColumnReadsMatch(r)
    r.destroy(Seq(4L, 9L).toDF("synced_id"))
    assert(r.deltaEntries(r.currentVersion).isEmpty,
      "destroy() folds the delta log first")
    assertColumnReadsMatch(r)
  }

  test("read(columns) equals read().select(columns) in VARIANT mode") {
    Seq(false, true).foreach { mor =>
      val p = new Rep(s"var$mor", variant = true, mergeOnRead = mor)
      lifecycle(p)
      assertColumnReadsMatch(p.r,
        extra = Seq(Seq("synced_id", "synced_data")))
    }
  }

  test("read(columns) scans no synced_data column") {
    val p = new Rep("scan")
    lifecycle(p)
    // a base to scan beside the delta log
    p.r.compact(4)
    p.merge(live(7, 5, 7.0))
    def readSchemas(df: DataFrame): Seq[Seq[String]] =
      df.queryExecution.sparkPlan.collect {
        case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSeq
      }
    val pruned = readSchemas(p.r.read(Seq("synced_id", "parent_id")))
    // the base scan and the delta-log scan
    assert(pruned.size == 2, s"scans: $pruned")
    assert(pruned.forall(!_.contains("synced_data")), s"scans: $pruned")
    assert(readSchemas(p.r.read()).exists(_.contains("synced_data")),
      "the full read must scan the payload, or this check proves nothing")
  }
}
