package graft.storage

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** Hadoop-FileSystem-portable metadata I/O for every pointer, manifest,
  * marker, and existence check the engine's persistence layer performs
  * (every [[VersionedLayout]]: ParquetReplica, AnnIndexStore and the
  * stored BM25 and MinHash index layouts).
  *
  * Why this exists: the DATA plane was always location-transparent —
  * every parquet read/write goes through Spark path-string I/O — but the
  * metadata plane (version pointers, manifests, tombstone-log
  * existence checks) used `java.io.File`, which only opens on a local
  * filesystem. A 100 TB deployment stores these layouts on HDFS or an
  * object store; routing the metadata through
  * `org.apache.hadoop.fs.FileSystem` makes the whole persistence story
  * open anywhere Spark itself can read (paths resolve through the
  * session's Hadoop configuration, so `file:`, `hdfs:`, `s3a:` …
  * schemes all work unchanged).
  *
  * Atomicity contract: [[writeAtomic]] writes a dot-prefixed temp file
  * in the target's directory and renames over the target atomically —
  * NIO `ATOMIC_MOVE` on local filesystems, `FileContext.rename(…,
  * Options.Rename.OVERWRITE)` (native overwriting rename) on HDFS — so
  * a reader can never observe a truncated manifest, an empty pointer,
  * or a missing-pointer window mid-write, and a crashed writer leaves
  * only a stray temp file. CAVEAT (object stores): S3-style stores
  * implement rename as copy+delete, which is NOT atomic. The commit
  * point of every stored thing is one call, [[VersionedLayout.publish]]'s
  * pointer write, so a production deployment on S3 swaps that single
  * seam for the store's conditional-put (if-none-match) primitive or a
  * small DynamoDB/metastore commit — the seam Delta's LogStore
  * abstracts.
  *
  * Configuration is FROZEN per session at first use: [[conf]] builds the
  * session's Hadoop configuration once, from the `fs.*` (and every
  * other) SQL conf set at that moment, and reuses it. A `spark.conf.set`
  * of an `fs.*` key after the session's first metadata call does not
  * reach this metadata plane (Spark's own data-plane reads still see
  * it); set filesystem confs before the first replica or index
  * operation.
  */
object Hcfs {

  // one Hadoop Configuration per session, built lazily and reused:
  // `newHadoopConf()` COPIES the full configuration on every call, and
  // the replica's micro-batch hot path makes several metadata calls per
  // merge — per-call copies are measurable latency at a 25 ms trigger
  // cadence. Reads of a built Configuration are thread-safe. The price:
  // the session's `fs.*` SQL confs are frozen at first use (see the
  // class doc; the same trade Spark's own broadcast Hadoop conf makes).
  private val confCache =
    new java.util.WeakHashMap[SparkSession,
      org.apache.hadoop.conf.Configuration]()
  private[graft] def conf(
      spark: SparkSession): org.apache.hadoop.conf.Configuration =
    confCache.synchronized {
      var c = confCache.get(spark)
      if (c == null) { c = spark.sessionState.newHadoopConf(); confCache.put(spark, c) }
      c
    }

  /** The filesystem `p` resolves to under the session's Hadoop conf —
    * local paths resolve to `file:`, fully-qualified URIs to their own
    * scheme. FileSystem instances are cached by Hadoop per (scheme,
    * authority, ugi), so per-call resolution costs a map lookup.
    *
    * The checksummed `LocalFileSystem` is unwrapped to its RAW form:
    * the client-side `.crc` sidecars it writes do not survive a
    * rename-with-OVERWRITE of an existing target (the old sidecar goes
    * stale and every subsequent read throws ChecksumException), and
    * metadata this small gains nothing from client checksums. HDFS
    * checksums server-side and object stores use ETags — both
    * unaffected. */
  def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(conf(spark)) match {
      case l: org.apache.hadoop.fs.LocalFileSystem => l.getRawFileSystem
      case other => other
    }

  def exists(spark: SparkSession, p: String): Boolean =
    fs(spark, p).exists(new Path(p))

  def mkdirs(spark: SparkSession, p: String): Unit = {
    fs(spark, p).mkdirs(new Path(p)); ()
  }

  /** Whole file as UTF-8 (manifests and pointers are metadata-sized). */
  def readString(spark: SparkSession, p: String): String = {
    val in = fs(spark, p).open(new Path(p))
    try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
  }

  /** Temp-file + rename-with-OVERWRITE publish (see class doc for the
    * atomicity contract and the object-store caveat).
    *
    * The rename path is scheme-dependent for a correctness reason:
    * `FileContext.rename(…, OVERWRITE)` is atomic on HDFS (native
    * overwriting rename), but on the LOCAL filesystem it falls back to
    * `AbstractFileSystem`'s default delete-then-rename — a window where
    * the target does not exist, which a concurrent pointer reader
    * observes as "never committed" (caught by StreamingPipelineSpec's
    * async-compaction race as a 0-row read). Local targets therefore
    * rename via NIO `ATOMIC_MOVE`, which really is atomic. */
  def writeAtomic(spark: SparkSession, p: String, body: String): Unit = {
    val target = new Path(p)
    val f = fs(spark, p)
    val tmp = new Path(target.getParent,
      s".${target.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = f.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    f match {
      case _: org.apache.hadoop.fs.RawLocalFileSystem =>
        java.nio.file.Files.move(
          java.nio.file.Paths.get(tmp.toUri.getPath),
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      case _ =>
        val fc = FileContext.getFileContext(f.getUri, conf(spark))
        fc.rename(tmp, target, Options.Rename.OVERWRITE)
    }
    ()
  }

  /** Recursive delete, idempotent (a missing path is a no-op). */
  def delete(spark: SparkSession, p: String): Unit = {
    val f = fs(spark, p)
    val path = new Path(p)
    if (f.exists(path)) { f.delete(path, true); () }
  }

  /** Fire-and-forget recursive delete of already-UNREFERENCED garbage
    * (a vacuum's doomed set, computed synchronously under the
    * publisher's single-writer discipline): deleting thousands of
    * small epoch files synchronously costs real wall time on the
    * maintenance path, and nothing reads the doomed dirs once the
    * manifest no longer lists them. A crash mid-delete just leaves
    * garbage the NEXT vacuum re-lists and reclaims. */
  def deleteAsync(spark: SparkSession, paths: Seq[String]): Unit = {
    if (paths.isEmpty) return
    val t = new Thread(() =>
      paths.foreach { p =>
        try delete(spark, p)
        catch { case e: Throwable =>
          System.err.println(s"[hcfs] async delete of $p failed: ${e.getMessage}")
        }
      }, s"hcfs-vacuum-${paths.head.hashCode}")
    t.setDaemon(true)
    t.start()
  }

  /** Child (name, isDirectory) pairs of `dir`; empty for a missing dir. */
  def listNames(spark: SparkSession, dir: String): Seq[(String, Boolean)] = {
    val f = fs(spark, dir)
    val path = new Path(dir)
    if (!f.exists(path)) Nil
    else f.listStatus(path).toSeq
      .map(st => (st.getPath.getName, st.isDirectory))
  }

  /** Exact row count of a just-written parquet directory from its file
    * FOOTERS — driver-side metadata I/O on the directory's files, never
    * a Spark job (the deferred-emptiness-check trick; at most a handful
    * of files per micro-batch epoch). */
  /** True when any parquet file under `dir` holds at least one row —
    * [[parquetRowCount]] `> 0` with a short-circuit: footers are read
    * only until the first non-empty one (the micro-batch merge path
    * asks exactly this emptiness question once per sub-second batch,
    * and a non-empty epoch usually answers on its first footer). */
  def parquetHasRows(spark: SparkSession, dir: String): Boolean = {
    val c = conf(spark)
    val f = fs(spark, dir)
    val path = new Path(dir)
    f.exists(path) && f.listStatus(path).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .exists { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, c)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount > 0L finally r.close()
      }
  }

  def parquetRowCount(spark: SparkSession, dir: String): Long = {
    val c = conf(spark)
    val f = fs(spark, dir)
    val path = new Path(dir)
    if (!f.exists(path)) 0L
    else f.listStatus(path).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, c)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
  }
}
