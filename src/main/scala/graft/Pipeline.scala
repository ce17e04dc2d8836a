package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.codec.EnvelopeCodec
import graft.consumer.{ConsumerOps, Persistor}
import graft.producer.EventClassifier

/** End-to-end CDC replication in batch miniature — the flagship `entry`.
  *
  * events (change stream) ──P2 classify──► envelope encode (P7/P11)
  *   ──wire JSON──► decode (C3/C4) ──C2 dedup──► C5 rename
  *   ──C7/C8/C9 LWW merge──► replica state
  *
  * The same operator chain runs under Structured Streaming in
  * [[graft.Engine]]; this batch form exists so the whole wire contract
  * (including the JSON envelope round trip) is exercised in one plan the
  * driver can smoke-check.
  */
object Pipeline {

  def replicateEvents(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.queries.Q.tbl(spark, dir, "events")

    // producer side: classify + serialize + envelope-encode
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val classified = events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("event",
        EventClassifier.eventType(
          op = when(col("prev_type").isNull, "insert").otherwise("update"),
          oldCanceled = when(col("prev_type") === "error", lit("x")),
          newCanceled = when(col("event_type") === "error", lit("x"))))
      .filter(col("event").isNotNull)
    val wire = EnvelopeCodec.encode(
      classified.select(
        concat(lit("event_"), col("event")).as("event"),
        lit("Event").as("model_name"),
        array(to_json(struct(
          col("user_id").as("id"),
          col("event_type"), col("value"),
          unix_micros(col("ts")).as("updated_us")))).as("data")))
      .select("value")

    // consumer side: decode → dedup → rename → merge into empty replica
    val decoded = ConsumerOps.decodeRecords(wire,
      org.apache.spark.sql.types.StructType.fromDDL(
        "id LONG, event_type STRING, value DOUBLE, updated_us LONG"))
      .select(
        col("event"),
        col("rec.id").as("synced_id"),
        col("rec.event_type").as("event_type_v"),
        col("rec.value").as("value"),
        timestamp_micros(col("rec.updated_us")).as("synced_updated_at"))
      .withColumn("synced_created_at", col("synced_updated_at"))
      .withColumn("canceled_at", lit(null).cast("timestamp"))
      .withColumn("event_type",
        regexp_extract(col("event"), "event_(.*)", 1))
    val deduped = ConsumerOps.keepLatest(decoded,
      keyCols = Seq("synced_id"), orderCol = "synced_updated_at")

    val replicaSchema = deduped
      .select(col("synced_id"), col("synced_updated_at"), col("synced_created_at"),
        lit(null).cast("timestamp").as("synced_canceled_at"), col("value"))
    val emptyReplica = replicaSchema.filter(lit(false))

    Persistor.merge(emptyReplica,
      deduped.select(col("synced_id"), col("synced_updated_at"),
        col("synced_created_at"), col("canceled_at"), col("event_type"), col("value")))
  }
}
