package graft.consumer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Schemas

/** Consumer-side batch transforms: keep-latest dedup (C2), envelope decode
  * (C3/C4), reserved-attribute mapping (C5), message filters (C6), and the
  * synced_data column backfill (C16).
  */
object ConsumerOps {

  /** C2 — keep-latest dedup within a batch: group by `(event, id)`, keep
    * the record with max `updated_at`
    * (reference: remove_duplicates_strategy.rb:20-26; default-on per topic,
    * registry.rb:78-81).
    *
    * Window `row_number` over `(event, id)` ordered by `updated_at DESC`
    * with a deterministic tiebreak. Partial aggregation (`max_by`) would
    * also work; the window form preserves whole rows without struct
    * repacking. Nothing is kept across micro-batches: a resend or an
    * older version in a later batch meets the C7 LWW guard in the merge,
    * as in the reference.
    */
  def keepLatest(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      tiebreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((col(orderCol).desc +: tiebreak.map(_.desc)): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** C3/C4 — decode + deserialize: envelope JSON → one row per record with
    * both the parsed struct (registry schema) and the raw payload JSON
    * (unknown attributes must survive into `synced_data`,
    * reference: README.md:932-937). */
  def decodeRecords(topicFrame: DataFrame, payloadSchema: org.apache.spark.sql.types.StructType): DataFrame =
    graft.codec.EnvelopeCodec.explodeRecords(graft.codec.EnvelopeCodec.decode(topicFrame))
      .withColumn("rec", from_json(col("payload_json"), payloadSchema))
      .withColumn("synced_data", col("payload_json"))

  /** C5 — reserved-attribute mapping: `id→synced_id`,
    * `created_at→synced_created_at`, … links → `synced_<rel>_id` /
    * `synced_<rel singular>_ids` (reference: deserializer.rb:41-52,125-135).
    * Pure projection. */
  def mapReservedAttrs(df: DataFrame): DataFrame =
    Schemas.reservedRenames.foldLeft(df) { case (d, (from, to)) =>
      if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
    }

  /** C6 — message filters: predicate chain; matching rows are dropped from
    * the main flow and land in a quarantine side output
    * (reference: params_batch_processor.rb:30-34, default_message_filter.rb:11-24).
    * Returns (kept, quarantined). */
  def messageFilter(df: DataFrame, drop: Column): (DataFrame, DataFrame) =
    (df.filter(!coalesce(drop, lit(false))), df.filter(coalesce(drop, lit(false))))

  /** C17 — dead-letter pass-through: rows whose processing raises land in
    * a quarantine directory instead of failing the query (reference: the
    * consumer registry's dead-letter topic option, registry.rb:58-82).
    * Used inside `foreachBatch`: try the happy path for the whole batch;
    * on failure, persist the poison batch and continue. Batch-level (not
    * row-level) because Spark transforms are all-or-nothing per task —
    * row-level isolation belongs in upstream message filters (C6). */
  def withDeadLetter(batch: DataFrame, deadLetterDir: String,
      batchId: Long = -1L)
      (persist: DataFrame => Unit): Boolean =
    try { persist(batch); true }
    catch {
      case scala.util.control.NonFatal(_) =>
        // one parquet file per parked batch (micro-batches are bounded;
        // un-coalesced this is a small-files generator on a flaky topic).
        // With a batchId, park under a batch-keyed overwrite path so a
        // replayed poison batch re-parks onto the same partition instead
        // of duplicating (foreachBatch is at-least-once on restart);
        // batchId -1 (direct callers) keeps the plain append contract.
        if (batchId >= 0)
          batch.coalesce(1).write.mode("overwrite")
            .parquet(s"$deadLetterDir/__batch=$batchId")
        else
          batch.coalesce(1).write.mode("append").parquet(deadLetterDir)
        false
    }

  /** C14 — consumed-event publication: after a batch persists, emit one
    * event per record `{topic_name, event_name, model_name,
    * transformed_data, local_changes}` to an event bus / results topic
    * (reference: batch_events_publisher.rb:12-39). In streaming this runs
    * inside `foreachBatch` next to the merge.
    *
    * The event WIRE SHAPE is storage-mode-invariant: a VARIANT-typed
    * column (the `EngineOptions.syncedDataVariant` payload) is rendered
    * back to JSON text BEFORE the envelope, so `transformed_data` carries
    * it as a JSON-escaped string exactly like STRING mode — embedding the
    * variant directly would inline it as a nested object and change the
    * event schema consumers parse. The rendered text is the variant's
    * canonical form (keys sorted, numbers normalized), so the VALUE is
    * byte-equal to STRING mode whenever the stored payload was canonical
    * and semantically equal otherwise (spec: EngineVariantSpec). */
  def consumedEvents(batch: DataFrame, topicName: String, modelName: String,
      localChanges: Option[DataFrame] = None,
      idCol: String = "synced_id"): DataFrame = {
    val wireCols = batch.schema.fields.toSeq.map { f =>
      if (f.dataType.isInstanceOf[org.apache.spark.sql.types.VariantType])
        to_json(col(f.name)).as(f.name)
      else col(f.name)
    }
    val base = batch.select(
      lit(topicName).as("topic_name"),
      concat(lit(modelName + "_"), col("event_type")).as("event_name"),
      lit(modelName).as("model_name"),
      col(idCol),
      to_json(struct(wireCols: _*)).as("transformed_data"))
    localChanges match {
      case Some(lc) =>
        base.join(lc.select(col(idCol), to_json(col("local_changes")).as("local_changes")),
          Seq(idCol), "left")
      case None => base.withColumn("local_changes", lit(null).cast("string"))
    }
  }

  /** C16 — backfill local columns from the stored raw payload:
    * `record[col] = synced_data[col]` over the whole table
    * (reference: assign_columns_from_synced_data.rb:11-26). The reference
    * does id-batches of 1000 row-at-a-time; set-oriented Spark does it in
    * one scan+overwrite.
    *
    * Dispatches on the STORED type of `synced_data`: the default replica
    * carries raw JSON STRING (extracted with `get_json_object`, which
    * re-parses the payload per call); a Spark-4 VARIANT replica pays the
    * parse once at write and extracts with `try_variant_get` (binary
    * field lookup, no re-parse). Scalar fields return identical values
    * in both modes (spec-pinned): strings byte-equal; unquoted numbers
    * NORMALIZED identically by both parsers (`1e3`→`1000.0`,
    * `1.50`→`1.5`, `-2.5E-3`→`-0.0025` — Jackson and the variant
    * decoder agree, measured, VariantReplicaSpec pins it). The one
    * divergence: decimal literals beyond double precision (>17
    * significant digits) — `get_json_object` parses them to double and
    * truncates, variant stores decimal(38) and preserves every digit;
    * variant mode is the MORE faithful one, and the divergence is
    * spec-pinned rather than hidden. Nested objects differ in rendering
    * (JSON text vs variant-cast) and are outside the C16 contract — the
    * reference assigns scalar model columns only. */
  def backfillFromSyncedData(df: DataFrame, cols: Seq[String]): DataFrame = {
    val isVariant = df.schema("synced_data").dataType
      .isInstanceOf[org.apache.spark.sql.types.VariantType]
    cols.foldLeft(df) { (d, c) =>
      if (isVariant)
        d.withColumn(c, try_variant_get(col("synced_data"), s"$$.$c", "string"))
      else d.withColumn(c, get_json_object(col("synced_data"), s"$$.$c"))
    }
  }
}
