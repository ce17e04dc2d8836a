package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.StructType

/** The one versioned-layout primitive under every stored thing: the
  * replica ([[graft.streaming.ParquetReplica]]), the stored BM25 and
  * MinHash indexes ([[graft.ext.TextSearch]], [[graft.ext.TextDedup]])
  * and the standing ANN index ([[graft.ext.AnnIndexStore]]).
  *
  * Layout under `root/`:
  * {{{
  *   v{N}.manifest   version N as text lines: the store's own fields
  *                   (and, for index layouts, the ordered E/T log)
  *   LATEST          the current version number
  *   …               the data directories the manifests reference
  * }}}
  *
  * Commit rule: a writer writes FRESH data directories, then [[publish]]
  * writes the manifest and then the pointer, both through
  * [[Hcfs.writeAtomic]]. A reader sees the old version or the new one,
  * never a torn one, and a crashed writer leaves only unreferenced
  * directories and the old version current. The pointer publish is the
  * single commit point, so it is the one seam a store without atomic
  * rename (S3) swaps for a conditional put.
  *
  * Writers serialize on [[withLock]]: one JVM-wide lock per root, so two
  * writers on one layout never both read version N and publish N+1.
  * Readers take no lock; a loaded version is an immutable snapshot until
  * a vacuum reclaims it. Writers in different processes still need an
  * external coordinator.
  */
final class VersionedLayout(spark: SparkSession, val root: String) {
  import VersionedLayout._

  private def pointer = s"$root/$Pointer"
  private def manifestPath(v: Int) = s"$root/${manifestName(v)}"

  /** The published version; -1 before the first publish. */
  def currentVersion: Int =
    if (Hcfs.exists(spark, pointer))
      Hcfs.readString(spark, pointer).trim.toInt
    else -1

  /** Version `v`'s manifest lines, REQUIRED to exist: a published
    * version whose manifest is gone is storage corruption (reading it as
    * empty would silently drop every row on the next write), and a
    * time-travel read of a vacuumed version must fail loudly. Nil for
    * `v < 0`. */
  def read(v: Int): Seq[String] =
    if (v < 0) Nil
    else {
      val text =
        try Hcfs.readString(spark, manifestPath(v))
        catch { case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"layout $root: version $v has no manifest (vacuumed or corrupt)")
        }
      text.linesIterator.filter(_.nonEmpty).toSeq
    }

  /** Version `v`'s manifest lines; Nil for `v < 0` or a vacuumed
    * version. */
  def readIfPresent(v: Int): Seq[String] =
    if (v < 0 || !Hcfs.exists(spark, manifestPath(v))) Nil else read(v)

  /** The manifest of `version`, or of the current version when
    * `version < 0`, with the version it belongs to. */
  def load(version: Int = -1): (Int, Seq[String]) = {
    val v = if (version >= 0) version else currentVersion
    require(v >= 0, s"layout $root has no published version")
    (v, read(v))
  }

  /** Commit version `v`: the manifest first, then the pointer. */
  def publish(v: Int, lines: Seq[String]): Unit = {
    Hcfs.writeAtomic(spark, manifestPath(v), lines.mkString("\n"))
    Hcfs.writeAtomic(spark, pointer, v.toString)
  }

  /** Run `f` under this root's writer lock (reentrant). */
  def withLock[A](f: => A): A = lockFor(root).synchronized(f)

  /** Delete the root's children that no manifest of versions
    * `floor..current` references, and the manifests outside that range.
    * `refs(v, lines)` names the children version `v`'s manifest
    * references; `owned(name)` says whether a child belongs to the
    * layout at all (anything else stays). The pointer and in-flight temp
    * files always stay. `async` hands the doomed set to a background
    * delete: nothing reads an unreferenced directory, and a crash
    * mid-delete leaves garbage the next vacuum reclaims. Callers hold
    * [[withLock]]. */
  def vacuum(floor: Int, refs: (Int, Seq[String]) => Iterable[String],
      owned: String => Boolean = _ => true, async: Boolean = false): Unit = {
    val current = currentVersion
    if (current < 0) return
    val kept = math.max(0, floor) to current
    val live = kept.flatMap(v => refs(v, readIfPresent(v))).toSet ++
      kept.map(manifestName) + Pointer
    val doomed = Hcfs.listNames(spark, root).collect {
      case (name, _) if !live(name) && !name.endsWith(".tmp") &&
          (ManifestName.matches(name) || owned(name)) => s"$root/$name"
    }
    if (async) Hcfs.deleteAsync(spark, doomed)
    else doomed.foreach(Hcfs.delete(spark, _))
  }

  /** Reclaim every child the current version's E/T log does not
    * reference — run ONLY after a full rewrite (an index save or
    * compaction), which by contract invalidates older snapshots.
    * Extends and deletes never touch prior versions, so plain
    * maintenance keeps every in-flight reader's snapshot. */
  def vacuumLog(): Unit =
    vacuum(currentVersion, (_, lines) => logDirs(parseLog(lines)),
      async = true)

  /** A parquet scan of one layout directory under an explicit schema
    * (DDL) — inference costs one driver job per directory per load. */
  def scan(dir: String, ddl: String): DataFrame =
    spark.read.schema(StructType.fromDDL(ddl)).parquet(s"$root/$dir")

  /** A tombstone directory read as its one `key` column, typed like the
    * key field of the data schema `ddl`. */
  def keyScan(dir: String, ddl: String, key: String): DataFrame =
    spark.read.schema(StructType(Seq(StructType.fromDDL(ddl)(key))))
      .parquet(s"$root/$dir").select(col(key))
}

object VersionedLayout {
  private val Pointer = "LATEST"
  private def manifestName(v: Int): String = s"v$v.manifest"
  private val ManifestName = "v\\d+\\.manifest".r

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[graft] def lockFor(root: String): Object =
    locks.computeIfAbsent(root, _ => new Object)

  /** The manifest lines tagged `tag`, split into their fields. */
  def tagged(lines: Seq[String], tag: String): Seq[Array[String]] =
    lines.collect { case l if l.startsWith(s"$tag\t") =>
      l.drop(tag.length + 1).split("\t") }

  // ---- the ordered epoch/tombstone log of the index layouts ----

  /** One entry of an index layout's log, in publish order: an epoch of
    * fresh data directories (`E` line) or a batch of doomed ids (`T`
    * line). */
  sealed trait Entry
  final case class Epoch(dirs: Seq[String]) extends Entry
  final case class Tomb(dir: String) extends Entry

  def parseLog(lines: Seq[String]): Seq[Entry] = lines.collect {
    case l if l.startsWith("E\t") => Epoch(l.drop(2).split("\t").toSeq)
    case l if l.startsWith("T\t") => Tomb(l.drop(2))
  }

  def logLines(log: Seq[Entry]): Seq[String] = log.map {
    case Epoch(dirs) => ("E" +: dirs).mkString("\t")
    case Tomb(dir) => s"T\t$dir"
  }

  /** Every directory the log references. */
  private def logDirs(log: Seq[Entry]): Seq[String] = log.flatMap {
    case Epoch(dirs) => dirs
    case Tomb(dir) => Seq(dir)
  }

  def tombDirs(log: Seq[Entry]): Seq[String] =
    log.collect { case Tomb(dir) => dir }

  /** The `H` line carrying the schema (DDL) of one kind of epoch
    * directory. */
  def schemaLine(kind: String, ddl: String): String = s"H\t$kind\t$ddl"

  def schemaOf(lines: Seq[String], kind: String): String =
    lines.collectFirst {
      case l if l.startsWith(s"H\t$kind\t") => l.drop(3 + kind.length)
    }.getOrElse(sys.error(s"manifest has no H line for $kind"))

  /** The LIVE view of a log under the ORDER-AWARE tombstone rule: a `T`
    * entry hides ids only from the epochs published before it, so an id
    * deleted and then re-added by a later epoch is visible with its new
    * rows while its old rows stay hidden. Epochs that share the same
    * set of later tombstones (the common case: every epoch written
    * before the latest delete) union first and anti-join once, so a
    * one-delete-batch log costs a single broadcast anti-join on a
    * delete-batch-sized frame. `epoch` scans one epoch, `tomb` one
    * tombstone directory as its `key` column. */
  def live(log: Seq[Entry], key: String, epoch: Epoch => DataFrame,
      tomb: String => DataFrame): DataFrame = {
    val keyed = log.zipWithIndex.collect { case (e: Epoch, i) =>
      (tombDirs(log.drop(i + 1)), e)
    }
    require(keyed.nonEmpty, "a layout log needs at least one epoch")
    keyed.map(_._1).distinct.map { tombs =>
      val scan = keyed.collect { case (`tombs`, e) => epoch(e) }
        .reduce(_ unionByName _)
      if (tombs.isEmpty) scan
      else scan.join(broadcast(tombs.map(tomb).reduce(_ unionByName _)),
        Seq(key), "left_anti")
    }.reduce(_ unionByName _)
  }
}
