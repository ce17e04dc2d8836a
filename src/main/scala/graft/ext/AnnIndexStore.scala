package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.Similarity.IvfPqIndex

/** The persisted ANN index — the one writer and reader of a stored
  * [[Similarity.IvfPqIndex]]: a manifest-versioned,
  * epoch-structured store that composes the whole maintenance
  * lifecycle — O(batch) extends, tombstone deletes, drift-triggered
  * repair — under continuous ingest, with every reader answering from
  * an immutable version (the [[graft.streaming.ParquetReplica]] commit
  * discipline applied to an index instead of a table).
  *
  * Layout under `root/`:
  * {{{
  *   codebook/          frozen PQ codebook (written once, never again)
  *   centroids-v{k}/    centroid set k (repair bumps k; never mutated)
  *   epoch-{n}/         one batch's code rows, partitioned by cell
  *   tomb-{n}/          one delete batch's doomed ids
  * }}}
  * under a [[graft.storage.VersionedLayout]] whose manifest holds the
  * `C` centroid-version line, the ordered E/T log and the `D` dead-cell
  * lines.
  *
  * Why epochs + dead cells instead of rewriting `codes/`: an extend
  * must cost O(batch) — one new epoch directory, partitioned by cell
  * and sorted by (nid, sub) within each cell file, so a probe's
  * broadcast cell gate dynamic-partition-prunes every epoch scan to its
  * `nProbe` cell directories (PlanShapeSpec). A repair re-routes ONLY the
  * drifted cells' rows into a fresh epoch under FRESH cell ids
  * ([[Similarity.repairDriftedCells]] semantics) and marks the old
  * cell ids DEAD in the next manifest — prior epochs are never
  * rewritten; readers drop dead cells by partition-pruned filter.
  * Because repaired ids are never reused, the dead set is a correct
  * global exclusion. Deletes append a tombstone epoch (doomed ids) that
  * hides them only from the epochs published before it (the layout's
  * order-aware rule: an id removed and then extended again is live),
  * and [[compact]] folds
  * epochs + tombstones + dead cells into one fresh epoch when the
  * read-side debt is worth collecting — the same MoR trade as the
  * replica's delta log.
  *
  * Every mutation publishes through the layout, so a crash leaves the
  * old version fully readable and a concurrent reader never sees a torn
  * index. Extends, deletes and repairs keep every loaded snapshot
  * readable; a compaction vacuums the versions it folds. Mutations
  * serialize on the layout's writer lock.
  */
final class AnnIndexStore(spark: SparkSession, root: String) {
  import graft.storage.{Hcfs, VersionedLayout}
  import VersionedLayout.{Entry, Epoch, Tomb}

  private val layout = new VersionedLayout(spark, root)

  def currentVersion: Int = layout.currentVersion

  private final case class Manifest(centroidVersion: Int, log: Seq[Entry],
      dead: Set[Int])

  /** The current version and its manifest, read once. */
  private def current(): (Int, Manifest) = {
    val (v, lines) = layout.load()
    (v, Manifest(
      VersionedLayout.tagged(lines, "C").headOption.map(_(0).toInt)
        .getOrElse(0),
      VersionedLayout.parseLog(lines),
      VersionedLayout.tagged(lines, "D").map(_(0).toInt).toSet))
  }

  private def publish(next: Int, m: Manifest): Unit =
    layout.publish(next, s"C\t${m.centroidVersion}" +:
      (VersionedLayout.logLines(m.log) ++
        m.dead.toSeq.sorted.map(d => s"D\t$d")))

  private def centroidsOf(k: Int): Seq[(Int, Array[Double])] =
    spark.read.parquet(s"$root/centroids-v$k")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq

  private def writeCentroids(k: Int,
      cents: Seq[(Int, Array[Double])]): Unit = {
    import spark.implicits._
    cents.map { case (i, c) => (i, c.toSeq) }.toDF("cell", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/centroids-v$k")
  }

  private def writeEpoch(dir: String, codes: DataFrame): Unit =
    codes.select(col("nid"), col("cell"), col("sub"), col("code"))
      .repartition(col("cell"))
      .sortWithinPartitions(col("nid"), col("sub"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$root/$dir")

  /** Initialize the store from a freshly built index (version 0). */
  def init(index: IvfPqIndex): Unit = layout.withLock {
    require(currentVersion < 0, s"ann store $root already initialized")
    require(index.centroids.nonEmpty && index.codebook.nonEmpty,
      s"refusing to persist an index with no fit artifacts to $root")
    Hcfs.mkdirs(spark, root)
    import spark.implicits._
    index.codebook.map { case (s_, c_, v_) => (s_, c_, v_.toSeq) }
      .toDF("sub", "code", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/codebook")
    writeCentroids(0, index.centroids)
    writeEpoch("epoch-0", index.codes)
    publish(0, Manifest(0, Seq(Epoch(Seq("epoch-0"))), Set.empty))
  }

  /** The current index, every component lazily read from the versioned
    * layout: codes = the log's live view (epoch scans, each
    * cell-partitioned so probe gates and repair filters prune files,
    * minus the tombstones published after them) minus dead cells
    * (partition-pruned NOT-IN). Accepts every [[Similarity]] index entry
    * point unchanged. */
  def load(): IvfPqIndex = load(current()._2)

  private def load(m: Manifest): IvfPqIndex = {
    val cb = spark.read.parquet(s"$root/codebook")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .sortBy(t => (t._1, t._2)).toSeq
    val live = VersionedLayout.live(m.log, "nid",
      e => spark.read.parquet(s"$root/${e.dirs.head}")
        .select(col("nid"), col("cell").cast("int").as("cell"),
          col("sub"), col("code")),
      t => spark.read.parquet(s"$root/$t").select(col("nid")))
    val codes =
      if (m.dead.isEmpty) live
      else live.filter(!col("cell")
        .isin(m.dead.toSeq.sorted.map(Integer.valueOf): _*))
    IvfPqIndex(centroidsOf(m.centroidVersion), cb, codes)
  }

  /** EXTEND with a vector batch: encode against the CURRENT frozen
    * centroids/codebook (map-only) and publish one new epoch —
    * O(batch) bytes written, nothing rewritten. The streaming ingest
    * path calls this per micro-batch. */
  def extend(batch: DataFrame, idCol: String, vecCol: String): Unit =
    layout.withLock {
      val (v, m) = current()
      val idx = load(m)
      val ext = Similarity.extendIvfPqIndex(
        idx.copy(codes = idx.codes.limit(0)), batch, idCol, vecCol)
      val dir = s"epoch-${v + 1}"
      writeEpoch(dir, ext.codes)
      publish(v + 1, m.copy(log = m.log :+ Epoch(Seq(dir))))
    }

  /** DELETE ids: publish one tombstone epoch (no code row moves);
    * readers anti-join, [[compact]] folds. */
  def remove(ids: DataFrame, idCol: String): Unit =
    layout.withLock {
      val (v, m) = current()
      val dir = s"tomb-${v + 1}"
      ids.select(col(idCol).as("nid")).distinct()
        .coalesce(1).write.mode("overwrite").parquet(s"$root/$dir")
      publish(v + 1, m.copy(log = m.log :+ Tomb(dir)))
    }

  /** REPAIR drifted cells without rebuild ([[Similarity
    * .repairDriftedCells]] made durable): refit sub-centroids replace
    * the drifted ones under a bumped centroid version, ONLY the
    * affected rows re-route into one fresh epoch, and the old cell ids
    * go DEAD — prior epochs are untouched; the publish is atomic, so a
    * probe races either the old index or the repaired one, never a
    * mix. `corpus` must carry the affected ids' vectors (enforced
    * downstream by repairDriftedCells's coverage check). */
  def repair(corpus: DataFrame, idCol: String, vecCol: String,
      cells: Seq[Int], splitInto: Int = 2, seed: Long = 42L): Unit =
    layout.withLock {
      val (v, m) = current()
      val idx = load(m)
      val repaired = Similarity.repairDriftedCells(idx, corpus, idCol,
        vecCol, cells, splitInto, seed)
      val cellSet = cells.toSet
      val dir = s"epoch-${v + 1}"
      // only the re-routed rows land in the repair epoch: their cells
      // are exactly the FRESH ids the refit introduced (disjoint from
      // every live epoch's cells, so the filter is also how a reader
      // would never double-count)
      val freshCells = repaired.centroids.map(_._1)
        .filterNot(idx.centroids.map(_._1).toSet)
      writeEpoch(dir, repaired.codes
        .filter(col("cell").isin(freshCells.map(Integer.valueOf): _*)))
      writeCentroids(m.centroidVersion + 1, repaired.centroids)
      publish(v + 1, Manifest(m.centroidVersion + 1,
        m.log :+ Epoch(Seq(dir)), m.dead ++ cellSet))
    }

  /** Fold epochs + tombstones + dead cells into one fresh epoch — the
    * periodic debt collection ([[graft.streaming.ParquetReplica]]'s
    * compaction, same trade) — and vacuum what it folded: the old
    * epochs, tombstones, superseded centroid sets and manifests. So a
    * compaction INVALIDATES older snapshots: an index loaded before it
    * must be reloaded, as after [[TextSearch.saveBm25Index]]. */
  def compact(): Unit = layout.withLock {
    val (v, m) = current()
    val dir = s"epoch-${v + 1}"
    // reads the LIVE rows from the old epochs, writes a NEW directory —
    // never a self-overwrite
    writeEpoch(dir, load(m).codes)
    publish(v + 1,
      Manifest(m.centroidVersion, Seq(Epoch(Seq(dir))), Set.empty))
    layout.vacuum(v + 1, (_, lines) =>
      VersionedLayout.logDirs(VersionedLayout.parseLog(lines)) ++
        Seq("codebook", s"centroids-v${m.centroidVersion}"), async = true)
  }
}
