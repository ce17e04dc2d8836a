package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.consumer.Persistor
import graft.model.Schemas.EventType

/** The consumer's storage surface — what `Persistor` needs from a replica
  * table. [[ParquetReplica]] implements it (the specs also run a thin
  * copy-on-write double against the same contract); the production
  * swap-in is a transactional table format (Delta/Iceberg
  * `MERGE INTO` / copy-on-write commit) behind the same five operations.
  * Everything above this trait ([[graft.Engine]], [[Persistor]]) is
  * storage-agnostic. */
trait Replica {
  /** Current table state. */
  def read(): DataFrame

  /** Current table state restricted to `columns` — a key-column read
    * (C11 doomed-key resolution) that storage able to scan fewer columns
    * overrides, so it never reads the payload. */
  def read(columns: Seq[String]): DataFrame = read().select(columns.map(col): _*)

  /** Current rows, restricted to the storage units that can contain the
    * given keys (`keys` must carry a `synced_id` column). The default is
    * the full table — storage layouts that can prune (hash buckets,
    * partitions, a transactional format's file-level stats) override this
    * so key-local reads (C12 change capture) cost O(batch ∩ buckets) I/O
    * instead of O(table). Callers must still filter/join: the result may
    * contain rows for OTHER keys that share a storage unit. */
  def readBuckets(keys: DataFrame): DataFrame = read()

  /** True when no commit has ever been published — a brand-new table.
    * The conservative default (`false`) claims nothing about unknown
    * storage. */
  def neverCommitted: Boolean = false

  /** LWW-merge `updates` (shaped per [[Persistor.merge]] contract).
    * `prepare` may reshape the updates against the current rows first
    * (key-local by construction). */
  def merge(updates: DataFrame,
      prepare: (DataFrame, DataFrame) => DataFrame = Replica.identityPrepare): Unit

  /** Hard-delete every key in `ids`. */
  def destroy(ids: DataFrame, idCol: String = "synced_id"): Unit

  /** Apply an arbitrary state transition over the FULL table — the
    * whole-table escape hatch; incremental callers should resolve keys and
    * use [[destroy]]/[[merge]] instead. */
  def transform(f: DataFrame => DataFrame): Unit

  /** Reclaim versions no longer reachable (the `VACUUM` analogue). */
  def vacuum(retainVersions: Int = 0): Unit

  /** Run `f` under this replica's writer lock — for callers composing a
    * read-and-write atomically (C11 disassociation, C12 change capture).
    * Reentrant with every other operation. */
  def withLock[A](f: => A): A
}

object Replica {
  /** The canonical no-op `prepare`. A SENTINEL, not just a convenience:
    * merge-on-read implementations test `prepare eq identityPrepare` (or
    * the other sentinel, [[preserveOnDestroy]]) to know the target will
    * never be evaluated (pure map-only delta append) versus a real
    * prepare that joins against current rows (which then gets a
    * bucket-pruned slice, not the full-table reconcile). Callers passing
    * their own `(_, u) => u` lambda still get correct results — just via
    * the pruned-slice path. */
  val identityPrepare: (DataFrame, DataFrame) => DataFrame = (_, u) => u

  /** Columns a destroy never takes from the current row: the key, its
    * LWW timestamp and cancel stamp, and the raw payload. */
  private val notPreserved =
    Set("synced_id", "synced_updated_at", "synced_canceled_at", "synced_data")

  /** The target columns a `destroyed` update keeps from the current row
    * under [[preserveOnDestroy]]: a model replica's attributes, link
    * columns and `synced_created_at` (of a column-pruned read, the
    * requested columns among them). */
  def preservedColumns(targetCols: Seq[String]): Seq[String] =
    targetCols.filterNot(notPreserved)

  /** The soft-delete `prepare` (C9; synchronizable_model.rb:40-50): a
    * `destroyed` update takes `coalesce(current, update)` for every
    * [[preservedColumns]] column — a key-only destroy payload stamps
    * `canceled_at` and keeps the record's attributes. A SENTINEL like
    * [[identityPrepare]]: merge-on-read [[ParquetReplica]] tests
    * `prepare eq preserveOnDestroy` and defers the coalesce to its
    * read-time LWW fold, so the merge stays the map-only one-job delta
    * append instead of this join against the current rows. Every other
    * replica (copy-on-write, custom storage, wrappers) calls it and gets
    * the write-time join. Expects at most one update row per key, as
    * [[graft.Engine]]'s in-batch keep-latest guarantees. */
  val preserveOnDestroy: (DataFrame, DataFrame) => DataFrame = (current, upd) => {
    val keep = preservedColumns(current.columns.toSeq)
    val cur = current.select(
      col("synced_id") +: keep.map(c => col(c).as(s"__cur_$c")): _*)
    upd.join(cur, Seq("synced_id"), "left")
      .select(upd.columns.filterNot(keep.contains).map(col) ++
        keep.map { c =>
          val u = if (upd.columns.contains(c)) col(c) else lit(null)
          when(col("event_type") === EventType.Destroyed,
            coalesce(col(s"__cur_$c"), u)).otherwise(u).as(c)
        }: _*)
  }

  /** Nullable boolean column a merge-on-read delta epoch written under
    * [[preserveOnDestroy]] carries: true on `destroyed` rows, null
    * otherwise. Base buckets and epochs written without the sentinel lack
    * it and read it as null. */
  val DestroyedMarker = "__destroyed"
}

/** Hash-bucketed, manifest-versioned parquet replica store — the
  * pure-Parquet stand-in for a transactional table (Delta `MERGE INTO` in
  * production; SURVEY §7.3).
  *
  * Layout: rows live in per-bucket directories (`v{n}/__b={k}`, bucket =
  * `pmod(hash(synced_id), buckets)`) under a [[graft.storage
  * .VersionedLayout]]: each version's manifest maps bucket → directory
  * and the pointer names the current version. A merge rewrites ONLY the
  * buckets containing updated keys — untouched buckets are carried
  * forward by reference, their files never rewritten
  * (the transaction-log pattern; O(batch ∩ buckets), not O(table), per
  * micro-batch). Merges are idempotent (LWW guard), so at-least-once
  * replay converges.
  *
  * At 100 TB this layer is a transactional table format with thousands of
  * buckets/partitions; the operator on top ([[Persistor.merge]]) and the
  * touched-bucket pruning are unchanged. The bucket count is a per-model
  * knob ([[graft.registry.ModelDef.buckets]]) recorded in each manifest
  * (so readers always hash with the count the layout was written with) and
  * changeable online via [[compact]].
  */
final class ParquetReplica(spark: SparkSession, root: String,
    schemaDDL: String, buckets: Int = 16,
    mergeOnRead: Boolean = false, compactEvery: Int = 8) extends Replica {
  require(buckets > 0)
  require(compactEvery > 0)
  // all metadata I/O goes through the Hadoop FileSystem API
  // (graft.storage.Hcfs): the metadata plane opens anywhere Spark itself
  // can read — file:, hdfs:, s3a: — not just a local disk
  import graft.storage.{Hcfs, VersionedLayout}
  Hcfs.mkdirs(spark, root)
  private val layout = new VersionedLayout(spark, root)

  def currentVersion: Int = layout.currentVersion

  override def neverCommitted: Boolean = currentVersion < 0

  /** One version's manifest: bucket → directory (relative to root), the
    * bucket count it was written with (`B` line; the constructor default
    * for pre-header manifests) and the merge-on-read delta log as
    * (seq, directory) in apply order (`D` lines; always empty in
    * copy-on-write mode). */
  private final case class Manifest(dirs: Map[Int, String], nb: Int,
      deltas: Seq[(Long, String)] = Nil) {
    def lines: Seq[String] = s"B\t$nb" +:
      (dirs.toSeq.sorted.map { case (b, p) => s"$b\t$p" } ++
        deltas.sortBy(_._1).map { case (s, p) => s"D\t$s\t$p" })
  }

  private def parse(lines: Seq[String]): Manifest = Manifest(
    lines.filterNot(l => l.startsWith("B\t") || l.startsWith("D\t"))
      .map { line =>
        val Array(b, path) = line.split("\t", 2)
        b.toInt -> path
      }.toMap,
    VersionedLayout.tagged(lines, "B").headOption
      .map(_(0).trim.toInt).getOrElse(buckets),
    VersionedLayout.tagged(lines, "D").map(f => f(0).toLong -> f(1))
      .sortBy(_._1))

  /** The given version's manifest; empty for vacuumed versions. */
  private def manifestAt(v: Int): Manifest = parse(layout.readIfPresent(v))

  /** The current version and its manifest, read once and REQUIRED to
    * exist: a pointer whose manifest is missing is storage corruption,
    * and treating it as an empty table would silently drop every row on
    * the next merge. */
  private def current(): (Int, Manifest) = {
    val v = currentVersion
    (v, parse(layout.read(v)))
  }

  private def publish(next: Int, m: Manifest): Unit =
    layout.publish(next, m.lines)

  /** bucket → directory (relative to root) of the given version; empty
    * for versions whose manifest was vacuumed. */
  def manifest(v: Int): Map[Int, String] = manifestAt(v).dirs

  /** Merge-on-read delta log of the given version: (seq, directory)
    * entries in apply order. Always empty in copy-on-write mode. */
  def deltaEntries(v: Int): Seq[(Long, String)] = manifestAt(v).deltas

  /** Bucket count the given version was written with. */
  def bucketCount(v: Int): Int = manifestAt(v).nb

  private def schema = org.apache.spark.sql.types.StructType.fromDDL(schemaDDL)

  /** On-disk schema of the current version (parquet footer of one stored
    * base — or, for a delta-only version, delta — directory); None when
    * the replica has never committed or the version holds no data dirs.
    * One driver-side footer read, no job. */
  def storedSchema: Option[org.apache.spark.sql.types.StructType] = {
    val m = manifestAt(currentVersion)
    m.dirs.values.headOption.orElse(m.deltas.headOption.map(_._2))
      .map(d => spark.read.parquet(s"$root/$d").schema)
  }

  /** Fail fast when the DECLARED schema's column types contradict what is
    * already stored — e.g. toggling `EngineOptions.syncedDataVariant` on a
    * workDir whose replicas hold the other encoding would otherwise make
    * every read force STRING parquet pages through a VARIANT reader (or
    * vice versa) and fail mid-merge with no indication of why. Columns
    * are matched by name; only columns present on BOTH sides are compared
    * (a pure column ADDITION is legitimate schema evolution — stored
    * files without the new column read back as nulls). Called by
    * [[graft.Engine]] on replica open; free on a fresh root. */
  def verifyStoredCompatible(): Unit =
    storedSchema.foreach { stored =>
      val storedTypes = stored.fields.map(f => f.name -> f.dataType).toMap
      schema.fields.foreach { f =>
        storedTypes.get(f.name).foreach { st =>
          if (st != f.dataType) throw new IllegalStateException(
            s"replica $root: column '${f.name}' is declared " +
              s"${f.dataType.sql} but v$currentVersion stores ${st.sql}. " +
              "If this is a synced_data STRING<->VARIANT mode change, " +
              "migrate the stored data first (Engine.migrateSyncedData / " +
              "ParquetReplica.migrateColumn) instead of toggling the " +
              "option on an existing workDir.")
        }
      }
    }

  /** Whole-table column-type migration: re-reads the CURRENT state under
    * `storedDdl` (the schema the data was actually written with), applies
    * `convert` to `colName`, and publishes the result as the next version
    * under THIS instance's declared schema — after which reads and merges
    * use the new type. MoR delta epochs are folded by the read, so the
    * new version starts delta-free; bucket count is preserved. A no-op
    * on a never-committed replica. */
  def migrateColumn(storedDdl: String, colName: String,
      convert: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit =
    withLock {
      val (v, m) = current()
      if (v >= 0) {
        val old = new ParquetReplica(spark, root, storedDdl, buckets,
          mergeOnRead, compactEvery)
        val next = v + 1
        val migrated = old.read()
          .withColumn(colName, convert(col(colName)))
          .select(schema.fieldNames.map(col).toSeq: _*)
        publish(next, Manifest(writeBuckets(migrated, next, m.nb), m.nb))
      }
    }

  private def readDirs(dirs: Seq[String],
      sch: org.apache.spark.sql.types.StructType = schema): DataFrame =
    if (dirs.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
    else spark.read.schema(sch).parquet(dirs.map(d => s"$root/$d"): _*)

  def read(): DataFrame = rows(current()._2)

  /** Column-pruned read: the scan and the merge-on-read fold carry only
    * `columns` plus the LWW inputs (`synced_id`, `synced_updated_at`,
    * `synced_created_at`; the destroy marker rides the delta scan), never
    * the payload. Equal to `read().select(columns)` while every delta
    * epoch holds at most one row per key — [[graft.Engine]]'s in-batch
    * keep-latest guarantees it — because then the fold's full-row
    * tiebreak never decides a winner. */
  override def read(columns: Seq[String]): DataFrame = {
    val keep = (columns ++
      Seq("synced_id", "synced_updated_at", "synced_created_at")).toSet
    val narrow = org.apache.spark.sql.types.StructType(
      schema.filter(f => keep(f.name)))
    val m = current()._2
    reconcile(m.dirs.values.toSeq, m.deltas, narrow)
      .select(columns.map(col): _*)
  }

  /** Every row of one version: its base buckets plus its delta log. */
  private def rows(m: Manifest): DataFrame =
    reconcile(m.dirs.values.toSeq, m.deltas)

  /** The bucket set the keys of `df` hash into — one bounded collect
    * (at most `nb` distinct values). */
  private def touchedBuckets(df: DataFrame, nb: Int): Set[Int] =
    df.select(bucketOf(col("synced_id"), nb).as("__b")).distinct()
      .collect().map(_.getInt(0)).toSet

  /** Bucket-pruned read: only the bucket directories the given keys hash
    * into are opened (one bounded collect for the bucket set, exactly as
    * [[merge]]/[[destroy]] compute theirs). The rows of those buckets are
    * returned unfiltered — callers join/filter down to their keys. In MoR
    * mode the (unbucketed) delta log is read in full and reconciled on
    * top; keys OUTSIDE the requested set may then surface with a
    * delta-only (unreconciled-against-base) image — within the contract,
    * since callers filter to their keys, but the reason this method's
    * result must never be treated as a full-table read. */
  override def readBuckets(keys: DataFrame): DataFrame = {
    val (_, m) = current()
    val touched = touchedBuckets(keys, m.nb)
    reconcile(m.dirs.filter(t => touched(t._1)).values.toSeq, m.deltas)
  }

  /** Read-time LWW resolution of base rows + delta-log rows (MoR mode;
    * identity when the delta log is empty — the CoW fast path).
    *
    * The C7 staleness rule is ORDER-DEPENDENT across merge epochs: a
    * null-timestamp source row persists over anything already stored
    * ("ties and NULLs persist" — it ranks +∞ while applying) but loses
    * to ANY later merge (stored with its null timestamp, it ranks −∞ as
    * a target). No static per-row sort key reproduces that — e.g.
    * ts=100@epoch4, null@epoch5, ts=1@epoch6 resolves to ts=1 though
    * ts=100 beats it pairwise — so the reconciliation REPLAYS the fold:
    * rows of a key sort by (epoch, effective-ts) and fold left with the
    * exact pairwise rule `x wins iff coalesce(x.ts, +∞) >=
    * coalesce(acc.ts, −∞)`. All codegen'd (array_sort + aggregate over a
    * collect_list), group size bounded by `compactEvery` (≤ 1 row per
    * key per epoch after the in-batch winner agg).
    *
    * The fold also applies [[Replica.preserveOnDestroy]] for epochs
    * written under it: a row carrying the [[Replica.DestroyedMarker]]
    * meets the accumulator — the fold of the base and every earlier
    * epoch, exactly the current row a write-time join would have read —
    * as if its [[Replica.preservedColumns]] were `coalesce(acc, x)`,
    * both in the comparison (its effective ts falls back to the kept
    * `synced_created_at`) and in the row it leaves when it wins. Base
    * rows and epochs without the column read the marker as null.
    *
    * `baseDirs` are the base bucket directories to read. `sch` is the
    * row shape folded: the replica schema, or the narrower one of a
    * column-pruned [[read]]. */
  private def reconcile(baseDirs: Seq[String], deltas: Seq[(Long, String)],
      sch: org.apache.spark.sql.types.StructType = schema): DataFrame = {
    if (deltas.isEmpty) return readDirs(baseDirs, sch)
    val marker = Replica.DestroyedMarker
    val deltaSchema = sch.add(marker,
      org.apache.spark.sql.types.BooleanType)
    // `__seq` derives from the manifest per delta directory (the write
    // path stopped storing it — see deltaMerge's codegen-cache note); a
    // pre-round-14 epoch that still stores the column reads fine — the
    // explicit schema drops it and the manifest value is identical.
    // ONE multi-path scan over the base buckets and every epoch, not a
    // union of per-directory reads (round-15): per-read analysis and
    // planning grew linearly in the delta-log length — bounded by
    // compactEvery, but a stalled compactor at scale made every MoR read
    // progressively costlier to PLAN — and each scan of a union is its
    // own generated stage. The epoch seq is recovered from each row's
    // source directory: [[deltaMerge]] names every epoch
    // `v<n>/delta-<seq>` and compaction only carries entries forward, so
    // a manifest entry of any other shape is corruption, not a layout to
    // read around. Base files sit in `__b=<b>` directories: they take
    // seq -1 and read the marker as null.
    deltas.foreach { case (sq, dir) =>
      require(dir.split("/").last == s"delta-$sq",
        s"replica $root: delta entry $sq -> $dir is not named delta-$sq")
    }
    val seqOf = regexp_extract(input_file_name(), "delta-([0-9]+)/[^/]*$", 1)
    val scanned = spark.read.schema(deltaSchema)
      .parquet((baseDirs ++ deltas.map(_._2)).map(d => s"$root/$d"): _*)
      .withColumn("__seq",
        when(seqOf === "", lit(-1L)).otherwise(seqOf.cast("long")))
    val cols = sch.fieldNames.toSeq
    val kept = Replica.preservedColumns(cols).toSet
    val maxTs = lit("9999-12-31 00:00:00").cast("timestamp")
    val minTs = lit("0001-01-01 00:00:00").cast("timestamp")
    val all = scanned
      .withColumn("__lww",
        Persistor.lwwTimestamp(col("synced_updated_at"), col("synced_created_at")))
    // VARIANT columns (the Spark-4 synced_data mode) are not orderable,
    // so the default array_sort — which compares the packed struct
    // including the full row `r` — fails analysis. The variant branch
    // packs a canonical JSON rendering `k` of the row as the
    // deterministic tiebreak (the role `r` plays in the default
    // ordering: rows of one key in ONE epoch with equal timestamps must
    // sort the same way on every executor, or the fold's winner flips
    // between reads) and sorts with an explicit (s, o, l, k) comparator
    // that never touches the variant itself. String mode keeps the
    // default ordering bit-for-bit; the marker `d` packs after `r`.
    val hasVariant = sch.exists(
      _.dataType.isInstanceOf[org.apache.spark.sql.types.VariantType])
    // sort key: epoch first, then effective-ts with null AS +∞ (within
    // one epoch the in-batch rule is the same max — null persists)
    val row = struct(cols.map(col): _*)
    val packed = struct(
      Seq(col("__seq").as("s"), coalesce(col("__lww"), maxTs).as("o"),
        col("__lww").as("l")) ++
        (if (hasVariant) Seq(to_json(row).as("k")) else Nil) ++
        Seq(row.as("r"), col(marker).as("d")): _*)
    val grouped = all.groupBy(col("synced_id"))
      .agg(collect_list(packed).as("__rows"))
    // fold the WHOLE sorted array from a null seed — the sorted array
    // is referenced exactly once, so it sorts once per key per read
    // (the earlier slice+element_at form inlined array_sort twice, and
    // a let-binding projection can be collapsed right back by the
    // optimizer)
    val packedType = grouped.schema("__rows").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // null `l` sorts FIRST in the comparator branch (matching the
    // default struct ordering's nulls-first) and `k` breaks remaining
    // ties totally — same epoch + same effective ts + same rendered row
    // means the rows are interchangeable for the fold
    val sortedRows =
      if (hasVariant) expr("""array_sort(__rows, (a, b) -> CASE
        WHEN a.s < b.s THEN -1 WHEN a.s > b.s THEN 1
        WHEN a.o < b.o THEN -1 WHEN a.o > b.o THEN 1
        WHEN a.l IS NULL AND b.l IS NOT NULL THEN -1
        WHEN a.l IS NOT NULL AND b.l IS NULL THEN 1
        WHEN a.l < b.l THEN -1 WHEN a.l > b.l THEN 1
        WHEN a.k < b.k THEN -1 WHEN a.k > b.k THEN 1
        ELSE 0 END)""")
      else expr("array_sort(__rows)")
    // a marked row over a live accumulator: its kept columns coalesce
    // onto the accumulator's, and so its effective ts is recomputed
    // with the kept synced_created_at
    def preserved(acc: org.apache.spark.sql.Column,
        x: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      def field(c: String) =
        if (kept(c)) coalesce(acc("r")(c), x("r")(c)) else x("r")(c)
      val l = Persistor.lwwTimestamp(field("synced_updated_at"),
        field("synced_created_at"))
      struct(packedType.fieldNames.toSeq.map {
        case "l" => l.as("l")
        case "r" => struct(cols.map(c => field(c).as(c)): _*).as("r")
        case f => x(f).as(f)
      }: _*)
    }
    grouped
      .select(aggregate(
        sortedRows,
        lit(null).cast(packedType),
        (acc, e) => when(acc.isNull, e).otherwise {
          val x = when(e("d"), preserved(acc, e)).otherwise(e)
          when(coalesce(x("l"), maxTs) >= coalesce(acc("l"), minTs), x)
            .otherwise(acc)
        }).getField("r").as("w"))
      .select(col("w.*"))
  }

  private def bucketOf(c: org.apache.spark.sql.Column, nb: Int) =
    pmod(hash(c), lit(nb))

  /** Write `df` bucket-partitioned under `v{next}` and return the bucket →
    * directory entries actually written (empty buckets leave no dir).
    * Repartitioned BY bucket first so each bucket directory holds one
    * file per version — without it every shuffle partition spills a
    * fragment into every bucket (a small-file explosion at any scale). */
  private def writeBuckets(df: DataFrame, next: Int, nb: Int): Map[Int, String] =
    writeBucketsTo(df, s"v$next", nb)

  private def writeBucketsTo(df: DataFrame, dirName: String,
      nb: Int): Map[Int, String] = {
    df.withColumn("__b", bucketOf(col("synced_id"), nb))
      .repartition(nb, col("__b"))
      .write.partitionBy("__b").mode("overwrite").parquet(s"$root/$dirName")
    Hcfs.listNames(spark, s"$root/$dirName")
      .collect { case (name, true) if name.startsWith("__b=") =>
        name.stripPrefix("__b=").toInt -> s"$dirName/$name"
      }.toMap
  }

  /** Run `f` under this replica's writer lock — for callers that must
    * compose a read-and-merge atomically (e.g. C12 change capture).
    * Reentrant with [[merge]]/[[transform]]/[[vacuum]]. */
  def withLock[A](f: => A): A = layout.withLock(f)

  /** Apply an arbitrary state transition over the FULL table and publish
    * the next version (whole-table operations only — compaction-style
    * maintenance; the consumer hot path is [[merge]]/[[destroy]], both
    * touched-bucket-incremental). Serialized per replica root (JVM-wide
    * lock): a model reachable through several topics is merged by several
    * concurrent streaming queries ([[graft.Engine]]); a transactional
    * table format serializes concurrent MERGEs the same way at the
    * storage layer. */
  def transform(f: DataFrame => DataFrame): Unit = withLock {
    val (v, m) = current()
    val next = v + 1
    publish(next, Manifest(writeBuckets(f(rows(m)), next, m.nb), m.nb))
  }

  /** Re-bucket the table to `newBuckets` buckets in one full rewrite —
    * the small-file / skew maintenance operation (Delta `OPTIMIZE`
    * analogue). Readers hash with the manifest's recorded count, so the
    * switch is atomic with the version publish. */
  def compact(newBuckets: Int): Unit = {
    require(newBuckets > 0)
    withLock {
      val (v, m) = current()
      val next = v + 1
      publish(next,
        Manifest(writeBuckets(rows(m), next, newBuckets), newBuckets))
    }
  }

  /** Bucket-pruned hard delete: remove every key in `ids`, rewriting only
    * the buckets those keys hash into (import-mode destroy, C10). An empty
    * id set touches nothing: no delta fold, no version bump, no Spark job
    * beyond the bucket probe — callers may destroy unconditionally. */
  def destroy(ids: DataFrame, idCol: String = "synced_id"): Unit =
    withLock {
      val (v0, m0) = current()
      val keyed = ids.select(col(idCol).as("synced_id"))
      // the emptiness probe is the bucket collect this method needs
      // anyway, taken BEFORE the MoR fold (which keeps the bucket count,
      // so the set stays valid): an empty id set never folds or publishes
      val touched = touchedBuckets(keyed, m0.nb)
      if (touched.nonEmpty) {
        // the anti-join below reads base buckets DIRECTLY — fold any MoR
        // delta log first so no pending upsert escapes the delete
        val (v, m) = foldDeltasLocked(v0, m0)
        val target = readDirs(m.dirs.filter(t => touched(t._1)).values.toSeq)
        val written = writeBuckets(
          target.join(keyed, Seq("synced_id"), "left_anti"), v + 1, m.nb)
        publish(v + 1, Manifest((m.dirs -- touched) ++ written, m.nb))
      }
    }

  /** Drop version directories and manifests no longer reachable from the
    * newest `retainVersions + 1` manifests — the Delta `VACUUM` analogue.
    * `retainVersions = 0` reclaims everything but the current version
    * (safe once writers/readers are drained); a positive retention keeps a
    * window for in-flight readers whose lazy plans still reference recent
    * versions. Concurrent writers are excluded by the root lock. */
  def vacuum(retainVersions: Int = 0): Unit = withLock {
    layout.vacuum(currentVersion - retainVersions,
      (v, lines) => {
        val m = parse(lines)
        (m.dirs.values ++ m.deltas.map(_._2)).map(_.split("/")(0)) ++
          Seq(s"v$v")
      },
      // an in-flight background compaction's half-written compact-v*
      // dir is legitimately unreferenced until its locked publish —
      // deleting it mid-write would hand the publish a manifest of
      // missing files. Skip compact dirs while one is running (the
      // publish also re-checks its dir, so even a foreign-instance
      // vacuum degrades to an abandoned compaction, never data loss).
      owned = name => name.matches("v\\d+") ||
        (name.matches("compact-v\\d+") && !compacting.get()))
  }

  /** LWW-merge `updates` (shaped per [[Persistor.merge]] contract) into
    * the replica, rewriting only the buckets that contain updated keys;
    * every other bucket is carried forward by reference. `prepare` may
    * reshape the updates against the current rows of the touched buckets
    * first (key-local by construction — e.g. [[Replica.preserveOnDestroy]]
    * keeping current attributes under a destroy). */
  def merge(updates: DataFrame,
      prepare: (DataFrame, DataFrame) => DataFrame = Replica.identityPrepare): Unit =
    withLock {
      // MoR defers the emptiness check to AFTER the write: deltaMerge
      // reads the written files' parquet footers (driver-local metadata,
      // no Spark job) and publishes nothing for an empty epoch — so the
      // sub-second latency path pays exactly ONE Spark job per merge
      // under either sentinel prepare, destroys included (the delta
      // write), with no isEmpty/take(1) probe job
      // in front of it, while a micro-batch that leaves a replica no
      // rows still never appends an epoch, bumps a version, or triggers
      // a pointless compaction
      if (mergeOnRead) deltaMerge(updates, prepare)
      else cowMerge(updates, prepare)
    }

  /** CoW-mode merge: rewrite the touched buckets, carry the rest. */
  private def cowMerge(updates: DataFrame,
      prepare: (DataFrame, DataFrame) => DataFrame): Unit = {
    val (v, m) = current()
    val next = v + 1
    // Pin `updates`: the touched-bucket collect and the rewrite below
    // must see the SAME rows — a nondeterministic updates plan
    // re-evaluated at write time could land rows in buckets the collect
    // never saw, and the manifest swap `(dirs -- touched) ++ written`
    // would then REPLACE such a bucket with only the new rows (silent
    // loss of its current rows). localCheckpoint (lazy) materializes on
    // the collect and the write reuses the blocks — evaluated once, or
    // fail loudly.
    val ups = updates.localCheckpoint(eager = false)
    val touched = touchedBuckets(ups, m.nb)
    // empty micro-batch slice: nothing to merge, keep the version stable
    if (touched.isEmpty) return
    val target = readDirs(m.dirs.filter(t => touched(t._1)).values.toSeq)
    val written =
      writeBuckets(Persistor.merge(target, prepare(target, ups)), next, m.nb)
    publish(next, Manifest((m.dirs -- touched) ++ written, m.nb))
  }

  /** MoR-mode merge: append the rowwise-shaped updates as one delta-log
    * epoch and publish — a map-only write of O(batch) bytes, never the
    * CoW path's O(touched buckets) rewrite. This is the write-
    * amplification trade a transactional table format calls
    * merge-on-read: at a 0.2 s micro-batch cadence CoW rewrites each hot
    * bucket 5×/second regardless of batch size, while the delta append
    * keeps the apply path at batch size and defers the rewrite to one
    * compaction per `compactEvery` epochs. Reads pay the reconcile
    * ([[reconcile]]) until then — the same bound.
    *
    * With either sentinel prepare the target is never constructed and
    * the path stays map-only. [[Replica.identityPrepare]] writes the
    * shaped rows as they are; [[Replica.preserveOnDestroy]] adds the
    * [[Replica.DestroyedMarker]] column in the same projection and
    * leaves the attribute coalesce to the read-time fold. A REAL prepare
    * (any other function — key-local by contract) gets the BUCKET-PRUNED
    * reconciled slice of the base, not the full table: without the
    * pruning it would re-read and re-fold the whole replica per merge.
    * The delta log itself is unbucketed and folds in full, but its size
    * is bounded by `compactEvery`. */
  private def deltaMerge(updates: DataFrame,
      prepare: (DataFrame, DataFrame) => DataFrame): Unit = {
    val (v, m) = current()
    val next = v + 1
    val seq = m.deltas.lastOption.map(_._1).getOrElse(-1L) + 1L
    val dir = s"v$next/delta-$seq"
    val marker =
      if (prepare eq Replica.preserveOnDestroy) Some(Replica.DestroyedMarker)
      else None
    // the sentinels evaluate `updates` exactly once (the write). Pin it
    // on the real-prepare path: the touched-bucket collect and the write
    // must see the SAME rows, or a nondeterministic updates plan could
    // hash re-evaluated rows into buckets the collect missed — prepare
    // would then find no current row for those keys and silently fall
    // back to update values.
    val prepared =
      if (marker.isDefined || (prepare eq Replica.identityPrepare)) updates
      else {
        val ups = updates.localCheckpoint(eager = false)
        // one bounded collect (≤ buckets values), the same cost the CoW
        // path pays; prepare joins on synced_id, so all rows for the
        // update keys live in these buckets
        val touched = touchedBuckets(ups, m.nb)
        prepare(reconcile(m.dirs.filter(t => touched(t._1)).values.toSeq,
          m.deltas), ups)
      }
    // overwrite (the writeBucketsTo rule): a crash between this write
    // and publish() leaves an orphan dir at the SAME next/seq, and the
    // micro-batch replay must clobber it, not wedge on ErrorIfExists.
    // Cast to the replica schema BEFORE writing: the shape null-fills
    // target columns absent from the payload, which as untyped lit(null)
    // (NullType) parquet rejects — CoW never sees this because
    // Persistor.merge unions with the typed target, but the delta epoch
    // writes the shaped rows directly.
    // NO per-epoch `__seq` literal in the written rows: the epoch seq is
    // already authoritative in the manifest (`D <seq> <dir>`), and
    // [[reconcile]] re-derives the column per delta directory at read
    // time. Embedding it here as `lit(seq)` made the write plan's
    // generated code differ per micro-batch (Literal codegen inlines
    // primitive values into the Java source), so EVERY delta append paid
    // a fresh Janino compile instead of hitting the codegen cache —
    // pure fixed latency on the sub-second merge path (round-14
    // optimization; the hot write plan is now batch-invariant).
    // shapeForMergeTyped = the shape + cast + __event-drop (+ marker) as
    // ONE projection (one analyzer pass — this path runs per micro-batch)
    val shaped = Persistor.shapeForMergeTyped(schema, prepared, marker)
    shaped.write.mode("overwrite").parquet(s"$root/$dir")
    // deferred emptiness check: the parquet FOOTERS of the files just
    // written carry exact row counts — a driver-local metadata read, no
    // Spark job. An empty micro-batch leaves no epoch and no version.
    if (!Hcfs.parquetHasRows(spark, s"$root/$dir")) {
      Hcfs.delete(spark, s"$root/$dir")
      return
    }
    val published = m.copy(deltas = m.deltas :+ (seq -> dir))
    publish(next, published)
    if (published.deltas.size >= compactEvery)
      compactDeltasAsync(next, published)
  }

  // one background compaction at a time; failures clear the flag and
  // leave the (still fully correct, just longer) delta log in place
  private val compacting = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Background compaction with SNAPSHOT isolation — the versioned
    * manifest makes it free: fold the deltas of the CURRENT version
    * outside the lock (merges keep appending new epochs meanwhile, the
    * heavy bucket rewrite stalls no micro-batch), then publish the
    * folded base plus exactly the epochs appended since the snapshot.
    * Sound because the log is append-only and the read-time fold is
    * left-associative: fold(base, d₁..dₙ₊ₖ) = fold(fold(base, d₁..dₙ),
    * dₙ₊₁..dₙ₊ₖ). Abandoned (log stays, nothing lost) if a concurrent
    * maintenance op rewrote the bucket layout mid-flight. `snap` is the
    * just-published version `snapV`. */
  private def compactDeltasAsync(snapV: Int, snap: Manifest): Unit = {
    if (!compacting.compareAndSet(false, true)) return
    val snapMaxSeq = snap.deltas.last._1
    val nb = snap.nb
    val t = new Thread(() => {
      try {
        // heavy part — NO lock held: reconcile the snapshot and write
        // the folded buckets to a compaction-private directory
        val written = writeBucketsTo(rows(snap), s"compact-v$snapV", nb)
        withLock {
          val cur = currentVersion
          val m = manifestAt(cur)
          // the snapshot's last epoch still in the log proves no other
          // base rewrite (sync compact / CoW merge / destroy) folded it
          // already — publishing over one would resurrect the old base.
          // The dir existence check covers a foreign-instance vacuum
          // that reclaimed the half-written compaction output.
          if (m.nb == nb && m.deltas.exists(_._1 == snapMaxSeq) &&
              Hcfs.exists(spark, s"$root/compact-v$snapV"))
            publish(cur + 1,
              Manifest(written, nb, m.deltas.filter(_._1 > snapMaxSeq)))
          // else: layout changed under us — abandon, log is still whole
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[replica $root] async compaction failed: ${e.getMessage}")
      } finally compacting.set(false)
    }, s"replica-compact-$root")
    t.setDaemon(true)
    t.start()
  }

  /** Fold the delta log of version `v` into the base buckets (one CoW
    * rewrite), publish the delta-free version and return it; `(v, m)`
    * unchanged when the log is empty. Runs under the caller's lock —
    * [[destroy]] calls it first so its direct base-bucket reads see a
    * complete table. */
  private def foldDeltasLocked(v: Int, m: Manifest): (Int, Manifest) =
    if (m.deltas.isEmpty) (v, m)
    else {
      val folded = Manifest(writeBuckets(rows(m), v + 1, m.nb), m.nb)
      publish(v + 1, folded)
      (v + 1, folded)
    }
}
