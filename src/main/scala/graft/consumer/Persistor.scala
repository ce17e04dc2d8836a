package graft.consumer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The replica-maintenance core: last-writer-wins merge with staleness
  * guard (C7), upsert (C8), soft-delete / restore / hard-delete resolution
  * (C9), bulk import/destroy (C10), to-many disassociation via anti-join
  * (C11), and change tracking (C12).
  *
  * Reference hot path: lib/dionysus/consumer/persistor.rb:46-96 +
  * synchronizable_model.rb:16-67. The row-at-a-time find-or-init/save loop
  * becomes one set-oriented merge; correctness never depends on arrival
  * order — only on the staleness guard (SURVEY §7.4.1):
  *
  *   persist iff `event.updated_at >= local.synced_updated_at`
  *   (either side falling back to created_at; ties and NULLs persist)
  *   — reference: synchronizable_model.rb:16-26.
  *
  * Storage: with a transactional table format this is a single
  * `MERGE INTO` (the guard is the `WHEN MATCHED AND` condition). On plain
  * parquet (this container) the merge produces the next snapshot via a
  * union + keep-winner aggregation, which the storage layer writes back
  * partition-wise. Both shuffle once on the key — at 100 TB the replica
  * should be bucketed/partitioned by `synced_id` range so the merge
  * co-locates with the table layout and only rewrites touched partitions.
  */
object Persistor {

  /** Effective LWW ordering timestamp (C7): `updated_at` falling back to
    * `created_at` (reference: synchronizable_model.rb:20-22). */
  def lwwTimestamp(updatedAt: Column, createdAt: Column): Column =
    coalesce(updatedAt, createdAt)

  /** C7+C8+C9 — merge a batch of deserialized events into the replica.
    *
    * `target`: current replica rows (must contain `synced_id`,
    * `synced_updated_at`, `synced_created_at`, `synced_canceled_at`).
    * `updates`: incoming records with columns `synced_id`,
    * `synced_updated_at`, `synced_created_at`, `canceled_at` (payload
    * value), `event_type` ∈ created/updated/destroyed, plus payload
    * columns. Only columns present on the target are persisted — the
    * "intersect with local columns" rule
    * (synchronizable_model.rb:33-37) is the projection below.
    *
    * Semantics per key, set-oriented:
    *  1. within the batch keep the latest by LWW timestamp (C2 already ran,
    *     but merge stays correct without it);
    *  2. the winner replaces the local row iff its LWW timestamp >= the
    *     local one, or the local row is absent (ties/NULLs persist — C7);
    *  3. `destroyed` events soft-delete: set `synced_canceled_at` from the
    *     payload, falling back to the event time (C9,
    *     synchronizable_model.rb:40-50); with `hardDelete` they remove the
    *     row (persistor.rb:66-74);
    *  4. create/update events *restore* — clear `synced_canceled_at` —
    *     when the payload lacks `canceled_at` (restorable?,
    *     synchronizable_model.rb:52-67).
    */
  /** The ROWWISE source-shaping half of [[merge]]: project `updates` onto
    * the target schema, resolve soft-delete/restore into
    * `synced_canceled_at` (C9), null-fill target columns the payload
    * lacks, and carry `event_type` along as `__event`. Depends only on
    * each update row — never on the target — which is what makes a
    * merge-on-read delta log possible ([[graft.streaming.ParquetReplica]]
    * MoR mode): shaped rows can be appended now and LWW-reconciled
    * against the base at read time. */
  def shapeForMerge(targetCols: Seq[String], updates: DataFrame): DataFrame = {
    // ONE projection, not a withColumn-per-missing-column fold: every
    // Dataset operation pays an eager analyzer pass over the whole
    // upstream plan, and this runs once per micro-batch on the
    // sub-second streaming merge path (round-15: the fold cost ~8
    // analyzer passes per batch of pure fixed latency)
    updates.select(targetCols.map {
      case "synced_canceled_at" => cancelStamp.as("synced_canceled_at")
      case c if updates.columns.contains(c) => col(c)
      case c => lit(null).as(c)
    } :+ col("event_type").as("__event"): _*)
  }

  /** [[shapeForMerge]] CAST to the target schema, without the `__event`
    * bookkeeping column — the merge-on-read delta-epoch projection
    * ([[graft.streaming.ParquetReplica]]): shaped rows are written
    * directly (no union with a typed target to coerce the null-filled
    * columns), so the epoch write needs explicit types. One projection,
    * one analyzer pass. `destroyedMarker` appends a nullable boolean
    * column of that name, true on `destroyed` rows and null otherwise,
    * for the read-time attribute preservation of
    * [[graft.streaming.Replica.preserveOnDestroy]]. */
  def shapeForMergeTyped(schema: org.apache.spark.sql.types.StructType,
      updates: DataFrame, destroyedMarker: Option[String] = None): DataFrame = {
    updates.select(schema.fields.toSeq.map { f =>
      val src =
        if (f.name == "synced_canceled_at") cancelStamp
        else if (updates.columns.contains(f.name)) col(f.name)
        else lit(null)
      src.cast(f.dataType).as(f.name)
    } ++ destroyedMarker.map(when(isDestroyed, lit(true)).as(_)): _*)
  }

  private val isDestroyed: Column = col("event_type") === "destroyed"

  /** C9's `synced_canceled_at` of an update row: a destroy stamps the
    * payload's `canceled_at`, else its event time; any other event takes
    * the payload value, so a null clears the stamp (restore). */
  private val cancelStamp: Column =
    when(isDestroyed, coalesce(col("canceled_at"), col("synced_updated_at")))
      .otherwise(col("canceled_at"))

  def merge(
      target: DataFrame,
      updates: DataFrame,
      hardDelete: Boolean = false): DataFrame = {
    val tCols = target.columns
    // project updates onto the target schema (+ bookkeeping)
    val withMissing = shapeForMerge(tCols.toSeq, updates)

    val src = withMissing.withColumn("__src", lit(1))
    val tgt = target.withColumn("__event", lit(null).cast("string"))
      .withColumn("__src", lit(0))

    // keep-winner: max (lww_ts, __src) per key — source wins ties (>=).
    // A source row with NO timestamp at all must still persist ("ties and
    // NULLs persist", synchronizable_model.rb:24-26) → null source ts ranks
    // as +infinity; a null target ts always loses (same rule).
    val combined = src.select(tgt.columns.map(col): _*).unionByName(tgt)
      .withColumn("__lww",
        when(col("__src") === 1,
          coalesce(
            lwwTimestamp(col("synced_updated_at"), col("synced_created_at")),
            lit("9999-12-31 00:00:00").cast("timestamp")))
        .otherwise(
          lwwTimestamp(col("synced_updated_at"), col("synced_created_at"))))
    val winner = combined
      .withColumn("__rank", struct(col("__lww"), col("__src")))
      .groupBy(col("synced_id"))
      .agg(max_by(struct(combined.columns.map(col): _*), col("__rank")).as("w"))
      .select(col("w.*"))

    val result =
      if (hardDelete) winner.filter(col("__event").isNull || col("__event") =!= "destroyed")
      else winner
    result.select(tCols.map(col): _*)
  }

  /** C10 — bulk destroy: remove (or soft-delete) every key present in
    * `ids` (reference: persistor.rb:12-40 import mode). Set-oriented by
    * construction; hard delete is a left-anti join. */
  def bulkDestroy(target: DataFrame, ids: DataFrame, idCol: String = "synced_id",
      hard: Boolean = true, now: Column = current_timestamp()): DataFrame =
    if (hard) target.join(ids.select(col(idCol)), Seq(idCol), "left_anti")
    else target.join(ids.select(col(idCol)).withColumn("__del", lit(true)), Seq(idCol), "left")
      .withColumn("synced_canceled_at",
        when(col("__del"), coalesce(col("synced_canceled_at"), now))
          .otherwise(col("synced_canceled_at")))
      .drop("__del")

  /** C11 — to-many disassociation: after persisting a parent's to-many
    * relationship, children of that parent *not in* the incoming id list
    * are removed (reference: persistor.rb:102-152; anti-join cleanup
    * README.md:869-874). `incoming` has (parentKey, childId) pairs. */
  def disassociateMissingChildren(
      children: DataFrame,
      incoming: DataFrame,
      parentKey: String,
      childKey: String): DataFrame = {
    val touchedParents = incoming.select(col(parentKey)).distinct()
    val keep = children.join(broadcast(touchedParents), Seq(parentKey), "left_anti")
    val kept = children.join(
      incoming.select(col(parentKey), col(childKey)), Seq(parentKey, childKey), "left_semi")
    keep.unionByName(kept)
  }

  /** C11, incremental form — the child KEYS to disassociate: children of
    * touched parents absent from their parent's incoming id list.
    * `parentLists` holds one row per touched parent: its key under
    * `parentKey` and its declared list (`array<bigint>`, possibly empty)
    * under `listCol`. The parent set is the micro-batch (bounded →
    * broadcast), so this is ONE broadcast left-semi join conditioned on
    * the list not containing the child; the storage layer then rewrites
    * only the buckets the RESULT keys hash into
    * ([[graft.streaming.ParquetReplica.destroy]]) — never the whole child
    * table (reference semantics: persistor.rb:102-152,
    * README.md:869-874). The join reads only the two key columns, but it
    * streams ALL of `children`: the caller's read of the child table
    * decides the real cost — [[graft.Engine]] passes a column-pruned
    * `Replica.read(columns)`, which under merge-on-read still folds every
    * key (base plus the whole delta log, one shuffle) on each call. */
  def disassociatedChildKeys(
      children: DataFrame,
      parentLists: DataFrame,
      parentKey: String,
      childKey: String,
      listCol: String): DataFrame = {
    val lists = parentLists.select(col(parentKey).as("__parent"),
      col(listCol).as("__list"))
    // a list holding a null element makes array_contains null for a
    // child it does not hold: that child is still absent from the list
    children.select(col(parentKey), col(childKey))
      .join(broadcast(lists), col(parentKey) === col("__parent") &&
        !coalesce(array_contains(col("__list"), col(childKey)), lit(false)),
        "left_semi")
      .select(col(childKey))
  }

  /** One child model's slice of an aggregate persist (C11). `updates`
    * carry the parent FK so disassociation knows the incoming id list. */
  final case class ChildBatch(
      target: DataFrame, updates: DataFrame,
      parentFk: String, childKey: String = "synced_id")

  /** C11 — aggregate persistence orchestration: merge the parent, merge
    * each nested child model as a non-aggregate-root event, then remove
    * children of touched parents that are absent from the incoming list
    * (reference: persistor.rb:102-152 recursion + README.md:869-874
    * anti-join cleanup). Returns (parent state, child states) — each an
    * independent merge, so the whole aggregate persists with one shuffle
    * per model. */
  def persistAggregate(
      parentTarget: DataFrame, parentUpdates: DataFrame,
      children: Seq[ChildBatch]): (DataFrame, Seq[DataFrame]) = {
    val parent = merge(parentTarget, parentUpdates)
    val childStates = children.map { cb =>
      val merged = merge(cb.target, cb.updates)
      disassociateMissingChildren(
        merged,
        cb.updates.select(col(cb.parentFk), col(cb.childKey)),
        cb.parentFk, cb.childKey)
    }
    (parent, childStates)
  }

  /** C12 — change tracking: diff the post-merge rows against the pre-merge
    * snapshot, emitting `map(attr → [old, new])` per changed key
    * (reference: persistor.rb:76,119,144). With a transactional format this
    * is the table's change feed; on parquet it is this join. */
  def localChanges(before: DataFrame, after: DataFrame, cols: Seq[String],
      idCol: String = "synced_id"): DataFrame = {
    val b = before.select((idCol +: cols).map(c => col(c).as(s"__b_$c")): _*)
      .withColumnRenamed(s"__b_$idCol", idCol)
    val entries = cols.map { c =>
      when(!(col(c) <=> col(s"__b_$c")),
        struct(lit(c).as("attr"),
          array(col(s"__b_$c").cast("string"), col(c).cast("string")).as("change")))
    }
    after.join(b, Seq(idCol), "left")
      .withColumn("local_changes",
        map_from_entries(filter(array(entries: _*), _.isNotNull)))
      .select(col(idCol), col("local_changes"))
      .filter(size(map_keys(col("local_changes"))) > 0)
  }
}
