package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.streaming.{ParquetReplica, Replica}

/** One update row of the spec's replica shape: an attribute, a FK, a
  * to-many link list and the raw payload. A key-only destroy leaves
  * every attribute `None`. */
final case class PodEvent(
    synced_id: Long,
    event_type: String,
    synced_updated_at: Option[Timestamp],
    synced_created_at: Option[Timestamp],
    value: Option[Double] = None,
    parent_id: Option[Long] = None,
    line_ids: Option[Seq[Long]] = None,
    canceled_at: Option[Timestamp] = None,
    synced_data: Option[String] = None)

/** [[Replica.preserveOnDestroy]] (C9 soft delete that keeps the record's
  * attributes): merge-on-read applies it in the read-time LWW fold of a
  * map-only delta append, copy-on-write in a write-time join. These
  * specs pin that both give the same rows, across every ordering the
  * fold has to reproduce, and that the merge-on-read merge really is
  * one job that opens no base bucket. */
class PreserveOnDestroySpec extends SparkSpec {
  import spark.implicits._

  private val ddl =
    "synced_id BIGINT, value DOUBLE, parent_id BIGINT, " +
      "synced_created_at TIMESTAMP, synced_updated_at TIMESTAMP, " +
      "synced_canceled_at TIMESTAMP, line_ids ARRAY<BIGINT>, synced_data STRING"
  private val variantDdl = ddl.replace("synced_data STRING", "synced_data VARIANT")

  private def ts(s: String) = Some(Timestamp.valueOf(s"2026-01-0$s 10:00:00"))
  private val t1 = ts("1"); private val t2 = ts("2"); private val t3 = ts("3")
  private val t4 = ts("4")

  private def live(id: Long, u: Option[Timestamp], v: Double,
      et: String = "updated", created: Option[Timestamp] = t1) =
    PodEvent(id, et, u, created, Some(v), Some(id * 10), Some(Seq(id, id + 1)),
      synced_data = Some(s"""{"id":$id,"v":$v}"""))

  /** A key-only destroy payload (P9): timestamps and nothing else. A
    * null-ts destroy carries its `canceled_at` (else nothing cancels). */
  private def destroy(id: Long, u: Option[Timestamp]) =
    PodEvent(id, "destroyed", u, None, canceled_at = u.orElse(t2),
      synced_data = Some(s"""{"id":$id}"""))

  private def frame(evs: Seq[PodEvent], variant: Boolean): DataFrame = {
    val df = evs.toDF()
    if (variant) df.withColumn("synced_data", parse_json($"synced_data")) else df
  }

  /** Every column of every row, sorted by key (variant rendered as JSON). */
  private def rows(df: DataFrame, variant: Boolean = false): Seq[Row] =
    (if (variant) df.withColumn("synced_data", to_json($"synced_data")) else df)
      .select(ddl.split(", ").map(f => col(f.split(" ")(0))).toSeq: _*)
      .orderBy("synced_id").collect().toSeq

  /** A copy-on-write and a merge-on-read replica fed the same merges. */
  private final class Pair(name: String, variant: Boolean = false,
      compactEvery: Int = 100) {
    val tmp = Files.createTempDirectory(s"graft-pod-$name").toString
    private val schema = if (variant) variantDdl else ddl
    val cow = new ParquetReplica(spark, s"$tmp/cow", schema, buckets = 4)
    val mor = new ParquetReplica(spark, s"$tmp/mor", schema, buckets = 4,
      mergeOnRead = true, compactEvery = compactEvery)
    def state(r: ParquetReplica): Seq[Row] = rows(r.read(), variant)
    def merge(evs: PodEvent*): Unit = mergeWith(Replica.preserveOnDestroy)(evs: _*)
    def mergeWith(prepare: (DataFrame, DataFrame) => DataFrame)(
        evs: PodEvent*): Unit = {
      val df = frame(evs, variant)
      cow.merge(df, prepare)
      mor.merge(df, prepare)
      assertSame()
    }
    def assertSame(): Unit = assert(state(cow) == state(mor),
      s"diverged:\ncow=${state(cow).mkString("\n")}\nmor=${state(mor).mkString("\n")}")
    def row(id: Long): Row = state(mor).find(_.getLong(0) == id).get
    def awaitCompaction(): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (mor.deltaEntries(mor.currentVersion).nonEmpty &&
          System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(mor.deltaEntries(mor.currentVersion).isEmpty,
        "async compaction never landed")
    }
  }

  // columns of `rows`: 0 id, 1 value, 2 parent_id, 3 created, 4 updated,
  // 5 canceled, 6 line_ids, 7 synced_data
  private def assertPreserved(r: Row, id: Long, v: Double): Unit = {
    assert(r.getDouble(1) == v && r.getLong(2) == id * 10 &&
      r.getSeq[Long](6) == Seq(id, id + 1) && r.get(3) == t1.get,
      s"attributes, links and synced_created_at must survive the destroy: $r")
    assert(!r.isNullAt(5), s"$id must be soft-deleted: $r")
  }

  private def lifecycle(p: Pair): Unit = {
    p.merge(live(1, t1, 1.0, "created"), live(2, t1, 2.0, "created"),
      live(3, t3, 3.0, "created"), live(4, t1, 4.0, "created"),
      live(5, t2, 5.0, "created"), live(6, t1, 6.0, "created"))
    // a stored key, an absent key, a stale destroy, and two null-ts
    // destroys: one ties the kept created_at (persists), one loses to
    // a newer updated_at (its effective ts falls back to created_at)
    p.merge(destroy(1, t2), destroy(9, t2), destroy(3, t2),
      destroy(4, None), destroy(5, None))
    assertPreserved(p.row(1), 1, 1.0)
    assert(p.row(9).isNullAt(1) && !p.row(9).isNullAt(5),
      "an absent key's destroy keeps its own (null) attributes")
    assert(p.row(3).isNullAt(5), "a stale destroy must lose")
    assertPreserved(p.row(4), 4, 4.0)
    assert(p.row(5).isNullAt(5), "a null-ts destroy under a newer row loses")
    // destroy after destroy; a later restore; a later update
    p.merge(destroy(1, t3), destroy(2, t2), live(6, t2, 6.5))
    assertPreserved(p.row(1), 1, 1.0)
    p.merge(destroy(2, t3), live(4, t3, 4.5))
    assertPreserved(p.row(2), 2, 2.0)
    assert(p.row(4).isNullAt(5) && p.row(4).getDouble(1) == 4.5,
      "a later update restores with its own attributes")
    p.merge(live(1, t4, 1.5, "created", created = None))
    assert(p.row(1).isNullAt(5) && p.row(1).getDouble(1) == 1.5)
  }

  test("merge-on-read preserveOnDestroy matches copy-on-write: stored, " +
      "absent, stale, null-ts, repeated and restored destroys") {
    val p = new Pair("life")
    lifecycle(p)
    assert(p.mor.deltaEntries(p.mor.currentVersion).size == 5,
      "every merge must stay an unfolded delta epoch")
  }

  test("merge-on-read preserveOnDestroy matches copy-on-write in VARIANT mode") {
    lifecycle(new Pair("var", variant = true))
  }

  test("preserveOnDestroy survives async compaction between epochs, " +
      "destroy() folding a marked log, and readBuckets") {
    val p = new Pair("fold", compactEvery = 2)
    p.merge(live(1, t1, 1.0), live(2, t1, 2.0), live(3, t1, 3.0))
    // the second epoch is marked and triggers the background fold
    p.merge(destroy(1, t2), destroy(2, None))
    p.awaitCompaction()
    p.assertSame()
    assertPreserved(p.row(1), 1, 1.0)
    // destroys over the compacted (coalesced, unmarked) base: one
    // marked epoch stays pending
    p.merge(destroy(1, t3), destroy(3, t3), live(2, t3, 2.5))
    assertPreserved(p.row(1), 1, 1.0)
    assertPreserved(p.row(3), 3, 3.0)
    assert(p.mor.deltaEntries(p.mor.currentVersion).size == 1)
    // readBuckets folds the marked log onto the pruned base
    val keys = Seq(1L, 3L).toDF("synced_id")
    def pruned(r: ParquetReplica) =
      rows(r.readBuckets(keys).join(keys, Seq("synced_id"), "left_semi"))
    assert(pruned(p.cow) == pruned(p.mor) && pruned(p.mor).size == 2)
    // a hard destroy folds the marked epoch into the base first
    p.cow.destroy(Seq(2L).toDF("synced_id"))
    p.mor.destroy(Seq(2L).toDF("synced_id"))
    assert(p.mor.deltaEntries(p.mor.currentVersion).isEmpty)
    p.assertSame()
    assertPreserved(p.row(1), 1, 1.0)
    assertPreserved(p.row(3), 3, 3.0)
  }

  test("an epoch written by the write-time join (no marker column) reads " +
      "unchanged next to marked epochs") {
    val p = new Pair("legacy")
    p.mergeWith(Replica.identityPrepare)(live(1, t1, 1.0), live(2, t1, 2.0))
    // the write-time join exactly as the engine ran it before the
    // read-time fold: any non-sentinel prepare takes the pruned-slice path
    // and writes its already-preserved rows without the marker
    val keep = Seq("value", "parent_id", "line_ids", "synced_created_at")
    val writeTimeJoin: (DataFrame, DataFrame) => DataFrame = (current, upd) => {
      val cur = current.select(
        $"synced_id" +: keep.map(c => col(c).as(s"__cur_$c")): _*)
      upd.join(cur, Seq("synced_id"), "left").select(
        upd.columns.filterNot(keep.contains).map(col) ++ keep.map(c =>
          when($"event_type" === "destroyed", coalesce(col(s"__cur_$c"), col(c)))
            .otherwise(col(c)).as(c)): _*)
    }
    val old = frame(Seq(destroy(1, t2)), variant = false)
    p.mor.merge(old, writeTimeJoin)
    p.cow.merge(old, Replica.preserveOnDestroy)
    p.assertSame()
    // marked epochs on top: a destroy after the legacy destroy, a new one
    p.merge(destroy(1, t3), destroy(2, t2))
    assertPreserved(p.row(1), 1, 1.0)
    assertPreserved(p.row(2), 2, 2.0)
    val epochCols = p.mor.deltaEntries(p.mor.currentVersion).map { case (_, d) =>
      spark.read.parquet(s"${p.tmp}/mor/$d").columns.contains(Replica.DestroyedMarker)
    }
    assert(epochCols == Seq(false, false, true), s"marker columns: $epochCols")
  }

  test("a merge-on-read merge under preserveOnDestroy is one Spark job " +
      "and opens no base bucket file") {
    val p = new Pair("jobs")
    p.merge(live(1, t1, 1.0), live(2, t1, 2.0), live(3, t1, 3.0))
    p.mor.compact(4) // the rows now live in base buckets, the log is empty
    assert(p.mor.deltaEntries(p.mor.currentVersion).isEmpty)

    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    // the input files of every query the merge ran under this root
    val files = new ConcurrentLinkedQueue[String]()
    val qeListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.analyzed.foreach {
          case l: LogicalRelation => l.relation match {
            case h: HadoopFsRelation =>
              h.location.inputFiles.filter(_.contains(p.tmp)).foreach(files.add)
            case _ =>
          }
          case _ =>
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    /** Jobs of `f` and the files its queries read. */
    def traced(group: String)(f: => Unit): (Int, Seq[String]) = {
      files.clear()
      sc.setJobGroup(group, group)
      try f finally sc.clearJobGroup()
      // listener events arrive in posting order: once a later fence
      // job is seen, every job and query of `f` has been delivered
      val fence = s"$group-fence"
      sc.setJobGroup(fence, fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!jobs.contains(fence) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(jobs.contains(fence), "listener bus never delivered the fence")
      (jobs.toArray.count(_ == group), files.toArray.map(_.toString).toSeq)
    }
    try {
      val batch = frame(Seq(destroy(1, t2), live(2, t2, 2.5)), variant = false)
      val (morJobs, morFiles) = traced("pod-mor") {
        p.mor.merge(batch, Replica.preserveOnDestroy)
      }
      assert(morJobs == 1, s"expected the one delta-write job, got $morJobs")
      assert(!morFiles.exists(_.contains("__b=")),
        s"the merge opened base bucket files: $morFiles")
      // the check has teeth: a real prepare reads the touched buckets
      val (_, joinFiles) = traced("pod-join") {
        p.mor.merge(frame(Seq(destroy(3, t2)), variant = false),
          (current, upd) => Replica.preserveOnDestroy(current, upd))
      }
      assert(joinFiles.exists(_.contains("__b=")), s"join read: $joinFiles")
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
    p.cow.merge(frame(Seq(destroy(1, t2), live(2, t2, 2.5)), variant = false),
      Replica.preserveOnDestroy)
    p.cow.merge(frame(Seq(destroy(3, t2)), variant = false),
      Replica.preserveOnDestroy)
    p.assertSame()
    assertPreserved(p.row(1), 1, 1.0)
  }
}
