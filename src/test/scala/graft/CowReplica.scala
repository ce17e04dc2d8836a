package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.consumer.Persistor
import graft.storage.VersionedLayout

/** Thin copy-on-write replica: every commit writes a complete new table
  * directory and atomically repoints `LATEST` — the copy-on-write commit
  * mode of a transactional table format. Exists to prove the [[Replica]]
  * surface is storage-agnostic (the contract suite runs against both
  * implementations); [[ParquetReplica]] is the product path — this one
  * pays O(table) per COMMIT by design. Reads still prune: each version is
  * laid out in `__b=` bucket directories (hashed on `synced_id`) with the
  * count recorded in a per-version `_buckets` marker, so [[readBuckets]]
  * opens only the touched buckets — always hashing with the count the
  * layout was written with — and the engine's zero-full-read guarantee
  * (C11/C12) holds on this backend too. Versions without the marker
  * (legacy flat layouts, foreign writers) read correctly unpruned. A
  * spec-only double: no engine path constructs it. */
final class CowReplica(spark: SparkSession, root: String,
    schemaDDL: String, buckets: Int = 16) extends Replica {
  require(buckets > 0)
  import graft.storage.Hcfs
  Hcfs.mkdirs(spark, root)
  private def pointer = s"$root/LATEST"

  def currentVersion: Int =
    if (Hcfs.exists(spark, pointer))
      Hcfs.readString(spark, pointer).trim.toInt
    else -1

  override def neverCommitted: Boolean = currentVersion < 0

  private def schema = org.apache.spark.sql.types.StructType.fromDDL(schemaDDL)

  private def empty: DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Bucket-dir paths (relative to root) of version `v`. */
  private def bucketDirs(v: Int): Seq[String] =
    Hcfs.listNames(spark, s"$root/v$v")
      .collect { case (name, true) if name.startsWith("__b=") =>
        s"v$v/$name"
      }

  /** Bucket count the given version was written with (`_buckets` marker;
    * Spark's reader ignores underscore-prefixed files). None = a layout
    * written before bucketing existed, or by a different tool — readers
    * must not assume any hash layout for it. */
  private def bucketCountOf(v: Int): Option[Int] =
    if (Hcfs.exists(spark, s"$root/v$v/_buckets"))
      Some(Hcfs.readString(spark, s"$root/v$v/_buckets").trim.toInt)
    else None

  private def readDirs(dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) empty
    else spark.read.schema(schema).parquet(dirs.map(d => s"$root/$d"): _*)

  def read(): DataFrame = {
    val v = currentVersion
    if (v < 0) empty
    else {
      val dirs = bucketDirs(v)
      // no bucket dirs: an empty bucketed commit, or a legacy flat layout
      // (rows directly under v{n}) — both read correctly as the plain dir
      if (dirs.nonEmpty) readDirs(dirs)
      else spark.read.schema(schema).parquet(s"$root/v$v")
    }
  }

  override def readBuckets(keys: DataFrame): DataFrame = {
    val v = currentVersion
    if (v < 0) return empty
    bucketCountOf(v) match {
      case Some(nb) =>
        val touched = keys
          .select(pmod(hash(col("synced_id")), lit(nb)).as("__b")).distinct()
          .collect().map(_.getInt(0)).toSet
        readDirs(bucketDirs(v).filter(d =>
          touched(d.split("/").last.stripPrefix("__b=").toInt)))
      // unknown layout (legacy flat, foreign writer): correct, unpruned
      case None => read()
    }
  }

  def withLock[A](f: => A): A = VersionedLayout.lockFor(root).synchronized(f)

  def transform(f: DataFrame => DataFrame): Unit = withLock {
    val next = currentVersion + 1
    f(read()).withColumn("__b", pmod(hash(col("synced_id")), lit(buckets)))
      .repartition(buckets, col("__b"))
      .write.partitionBy("__b").mode("overwrite").parquet(s"$root/v$next")
    // record the hash layout BEFORE publishing the version: readBuckets
    // only ever prunes with the count the layout was actually written with
    Hcfs.writeAtomic(spark, s"$root/v$next/_buckets", buckets.toString)
    Hcfs.writeAtomic(spark, pointer, next.toString)
  }

  def merge(updates: DataFrame,
      prepare: (DataFrame, DataFrame) => DataFrame = Replica.identityPrepare): Unit =
    transform(current => Persistor.merge(current, prepare(current, updates)))

  def destroy(ids: DataFrame, idCol: String = "synced_id"): Unit =
    transform(_.join(ids.select(col(idCol).as("synced_id")),
      Seq("synced_id"), "left_anti"))

  def vacuum(retainVersions: Int = 0): Unit = withLock {
    val current = currentVersion
    if (current < 0) return
    val floor = math.max(0, current - retainVersions)
    Hcfs.listNames(spark, root).foreach { case (name, isDir) =>
      if (isDir && name.matches("v\\d+") &&
          name.stripPrefix("v").toInt < floor)
        Hcfs.delete(spark, s"$root/$name")
    }
  }
}
