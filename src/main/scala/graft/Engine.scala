package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.codec.{EnvelopeCodec, LinksFlattener}
import graft.consumer.{ConsumerOps, Persistor}
import graft.model.Schemas.EventType
import graft.producer.{EventClassifier, Observers, Serializers}
import graft.registry.{ModelDef, Registry, TopicDef}
import graft.streaming.{FileTopics, ParquetReplica, Replica, TopicSink, TopicSource}

/** The registry-driven engine — the Spark analogue of
  * `Dionysus.initialize_application!` (reference: lib/dionysus.rb:23-41):
  * every producer responder and consumer is *generated from the registry*
  * (karafka_responder_generator.rb:16-68, karafka_consumer_generator.rb:10-48),
  * never hand-written per model.
  *
  * Producer side, derived per declared model: change classification (P2),
  * wire payload from declared attributes (P7), sideload embedding via a
  * stream-static join against the dependency model's snapshot (P8),
  * destroyed-record projection (P9), message key (P10), envelope encode
  * (P11). Consumer side, also derived: envelope decode with the
  * registry-derived `from_json` schema (C3/C4), reserved-attribute mapping
  * and links flattening (C5), recursive extraction of embedded sideload
  * records into their own model replicas (C4), LWW merge (C7/C8/C9), and
  * to-many disassociation of vanished children (C11).
  *
  * All topic queries start before any is awaited — the reference runs one
  * runner thread per topic (I5); here each topic is an independent
  * Structured Streaming query. `Trigger.AvailableNow` drains everything
  * and returns (test/backfill mode); a live deployment passes
  * `Trigger.ProcessingTime(...)` and keeps the returned queries running.
  *
  * Scale notes: the per-model wire projection is pure column logic (no
  * shuffle); the sideload embed shuffles child-by-FK once and joins — with
  * small dimension models Catalyst broadcasts, with large ones it
  * sort-merge-joins, both correct at 100 TB. Replicas are per *model* (the
  * consumer's tables), not per topic, so a model reachable through several
  * topics converges to one table; concurrent merges are serialized by the
  * storage layer ([[ParquetReplica.transform]] here, transactional MERGE in
  * production).
  */
object Engine {

  /** Binds declared models to physical change sources — the piece of the
    * deployment the registry cannot know (the reference gets it from
    * ActiveRecord; Spark gets it from whatever CDC feed exists).
    *
    * `changes` returns a *streaming* frame of the model's changed rows and
    * must carry: the primary-key column, every declared attribute column,
    * every `hasOne` FK column, and the meta columns `__op`
    * (insert/update/delete), `__old_canceled`/`__new_canceled` (soft-delete
    * column images, null when absent) and `__ts` (event-time timestamp).
    *
    * `snapshot` returns a *static* frame of the model's current rows
    * (attribute columns + primary key + FK columns + `__ts`), used to
    * embed sideloaded children at serialization time — the set-oriented
    * form of the reference fetching dependents from the database inside
    * the serializer (serializer.rb:17-51). */
  trait ModelBindings {
    def changes(spark: SparkSession, model: ModelDef): DataFrame
    def snapshot(spark: SparkSession, model: ModelDef): DataFrame
  }

  final case class EngineResult(
      topics: Seq[String],
      replicas: Map[String, Replica],
      /** Always empty: the engine no longer builds key indexes (C11
        * resolves doomed keys from a column-pruned read of the child
        * replica). Kept only because `perfbench`'s trace still reads it;
        * the field goes with the next `perfbench` change. */
      keyIndexes: Map[String, Replica] = Map.empty)

  /** Consumer-side behavior knobs, all registry-adjacent (the reference
    * configures these per consumer app):
    *  - `messageFilters`: per-topic drop predicate over the decoded frame
    *    (`event`, `model_name`, `payload_json`) — matching rows land in
    *    `workDir/quarantine/<topic>` instead of the replicas (C6).
    *  - `deadLetter`: poison micro-batches park in `workDir/dlq/<topic>`
    *    instead of failing the query (C17's DLQ topic).
    *  - `publishConsumedEvents`: after each merge, append
    *    `{topic_name, event_name, model_name, synced_id, transformed_data}`
    *    rows to `workDir/consumed/<topic>` — the C14 event bus.
    *  - `trackLocalChanges`: consumed events additionally carry the C12
    *    `attr → [old, new]` diff of what the merge actually changed
    *    (reference: persistor.rb:76,119,144) — costs one extra read of the
    *    touched keys per batch.
    *  - `dedupDelay`: watermark for the exact-resend dedup state (C2
    *    streaming form). Events arriving later than this behind the
    *    stream's max event time are DROPPED by the operator, not just
    *    dedup'd — so topics that replay old event times (genesis
    *    backfills) should set `dedupIncoming = false` on the TopicDef or
    *    widen this delay.
    *  - `replicaFactory`: swap the replica storage implementation
    *    engine-wide — `(spark, model, root) => Replica`. Default is the
    *    bucketed [[ParquetReplica]]; a transactional table format
    *    (Delta/Iceberg) plugs in here without touching any operator (the
    *    specs plug in a thin copy-on-write double the same way). A
    *    custom replica that does not override `Replica.readBuckets`
    *    silently degrades the C12 capture path to an O(table) read per
    *    micro-batch (the trait's documented fallback) — implement
    *    pruning for any at-scale backend; the contract suite pins it for
    *    ParquetReplica and the double. Likewise one that does not
    *    override `Replica.read(columns)` resolves C11's doomed keys from
    *    a full-width read of the child table.
    *  - `changesetKey`: P24 — when set, change feeds may carry their
    *    `__changeset` sealed at rest ([[graft.producer.ChangesetCrypto]],
    *    an opaque string column); observer resolution opens it
    *    transparently before matching. A sealed feed with no key fails
    *    at wiring time. The key is checked against
    *    `spark.redaction.string.regex` at wiring time — uncovered keys
    *    warn (or fail, with `strictKeyRedaction = true`) because plan
    *    strings and event logs would carry them verbatim. This
    *    wiring-time check covers CONSUMING engines only: a produce-only
    *    deployment sealing feeds itself passes the same intent directly
    *    via `ChangesetCrypto.seal(col, key, strict = true)`.
    *  - `maintainEvery` / `retainVersions`: live-mode storage maintenance.
    *    Every `maintainEvery` micro-batches, each of the topic's replicas
    *    runs `vacuum(retainVersions)` — without it a long-running
    *    `Engine.start` deployment accumulates one version per
    *    micro-batch per replica, unboundedly. `retainVersions` keeps a
    *    window for concurrent readers whose lazy plans still reference
    *    recent versions (the Delta retention analogue); 0 disables
    *    maintenance (`runAvailableNow` vacuums after the drain instead).
    *  - `batchTransforms`: per-topic `params_batch_transformation`
    *    lambda over the decoded micro-batch (custom case only — the
    *    reference's default dedup strategy is C2/C7), applied after
    *    `messageFilters`, before persistence and the DLQ boundary.
    *  - `sourceMaxFilesPerTrigger`: consumption pacing for the default
    *    file transport — bounds each micro-batch so a drained genesis
    *    backfill replays in rate-limited batches instead of one giant one
    *    (P17; the reference's rate-limited distributor, base_job.rb:11-28)
    *    and cannot starve live topics, which drain in parallel queries. */
  final case class EngineOptions(
      messageFilters: Map[String, Column] = Map.empty,
      deadLetter: Boolean = true,
      publishConsumedEvents: Boolean = false,
      trackLocalChanges: Boolean = false,
      dedupDelay: String = "1 hour",
      replicaFactory: Option[(SparkSession, ModelDef, String) => Replica] = None,
      changesetKey: Option[String] = None,
      strictKeyRedaction: Boolean = false,
      maintainEvery: Int = 0,
      retainVersions: Int = 8,
      sourceMaxFilesPerTrigger: Option[Int] = None,
      /** Per-topic `params_batch_transformation` lambda (reference
        * README.md:900-915): a custom transform of the DECODED
        * micro-batch frame, applied after message filters and before
        * persistence/DLQ. The reference's default remove-duplicates
        * strategy is already the engine's C2 dedup + C7 LWW merge —
        * this slot carries only genuinely custom batch logic. */
      batchTransforms: Map[String, DataFrame => DataFrame] = Map.empty,
      /** Build the default model replicas in [[ParquetReplica]]'s
        * MERGE-ON-READ mode: each micro-batch merge appends an O(batch)
        * delta-log epoch instead of rewriting touched buckets, with a
        * background snapshot-isolated compaction every
        * `replicaCompactEvery` epochs — the low-latency knob for
        * sub-second `Engine.start` cadences (see PERF.md round 10; CoW
        * rewrites every hot bucket once per micro-batch regardless of
        * batch size). Results are bit-identical to CoW (spec-pinned).
        * Every merge, destroyed rows included, is that one-job delta
        * append: a soft delete keeps the current attributes in the
        * read-time fold ([[Replica.preserveOnDestroy]]) instead of
        * joining against the current rows. C11 reads the child's key
        * columns through the same fold, and its destroy folds the delta
        * log before its anti-join. Ignored when a custom
        * `replicaFactory` is set. */
      mergeOnRead: Boolean = false,
      replicaCompactEvery: Int = 8,
      /** Store each model replica's `synced_data` payload as Spark-4
        * VARIANT instead of raw JSON STRING: parsed once at merge time,
        * extracted with binary field lookups thereafter (C16 backfill
        * dispatches automatically). Measured at sf0.1: 2.6× smaller
        * storage, 2.4× faster multi-field extraction (PERF.md round
        * 12). The WIRE stays JSON text either way — this is a storage
        * choice, invisible to producers. STRING remains the default:
        * byte-faithful passthrough and a directly hashable LWW
        * tiebreak. JDK 17 deployments must pin -Dfile.encoding=UTF-8
        * (see README deployment checklist). Ignored when a custom
        * `replicaFactory` is set (your factory owns its schema). */
      syncedDataVariant: Boolean = false)

  /** Soft-delete image of a snapshot frame: the optional `__canceled`
    * column when the binding provides it, else null (all rows live).
    * Snapshot-derived serializations (sideload embed, observer republish,
    * genesis) must carry it — serializing canceled_at as null would
    * RESTORE soft-deleted records on the consumer (C9 restore semantics:
    * a live payload lacking canceled_at clears it). */
  private def snapshotCanceled(snap: DataFrame): Column =
    if (snap.columns.contains("__canceled")) col("__canceled")
    else lit(null).cast("timestamp")

  /** Every model the consumer persists: published models plus sideloaded
    * dependency models (each gets its own replica table). */
  def consumedModels(registry: Registry): Seq[ModelDef] =
    (registry.allModels ++
      registry.allModels.flatMap(_.sideloads).distinct
        .flatMap(registry.modelDef)).distinctBy(_.name)

  /** Drain the registry end-to-end: all producer queries concurrently,
    * then all consumer queries concurrently, returning the per-model
    * replicas. The topic transport is a constructor argument — the default
    * file topics under `workDir` for this container, `new KafkaTopics
    * (bootstrapServers)` for a broker deployment (the reference's only
    * integration surface, spec/integration_spec.rb); swapping is a config
    * change, not a rewrite. */
  def runAvailableNow(
      spark: SparkSession,
      registry: Registry,
      bindings: ModelBindings,
      workDir: String,
      transport: Option[TopicSink with TopicSource] = None,
      options: EngineOptions = EngineOptions()): EngineResult = {
    registry.validate()
    val topics = transport.getOrElse(
      new FileTopics(s"$workDir/topics", options.sourceMaxFilesPerTrigger))

    // producer half: one query per topic, started together, then drained
    val producers = registry.topics.map { t =>
      produceTopic(spark, registry, t, bindings, topics,
        s"$workDir/cp/produce/${registry.topicName(t)}",
        Trigger.AvailableNow(), options)
    }
    producers.foreach(_.awaitTermination())

    // consumer half: replicas per model, one query per consumed topic
    // (genesis replica topics are consumed alongside their primaries,
    // as the reference's consumer subscribes both)
    val replicas = makeReplicas(spark, registry, workDir, options)
    val consumers = consumedTopicNames(registry).map { case (t, name) =>
      consumeTopic(spark, registry, t, name, topics, replicas,
        workDir, options, Trigger.AvailableNow())
    }
    consumers.foreach(_.awaitTermination())
    // drained: no concurrent writers, so reclaim unreachable versions
    replicas.values.foreach(_.vacuum())

    EngineResult(registry.topics.map(registry.topicName), replicas)
  }

  /** Live deployment form: start every producer and consumer query
    * concurrently under a continuous trigger and return them RUNNING —
    * the reference's long-lived runner processes (I5). The caller owns
    * the lifecycle (`awaitTermination` / `stop`); replicas fill as
    * micro-batches drain. Defaults to the reference's 0.2 s poll cadence
    * (config.rb outbox loop). */
  def start(
      spark: SparkSession,
      registry: Registry,
      bindings: ModelBindings,
      workDir: String,
      transport: Option[TopicSink with TopicSource] = None,
      options: EngineOptions = EngineOptions(),
      trigger: Trigger = Trigger.ProcessingTime("200 milliseconds")): (Seq[StreamingQuery], EngineResult) = {
    registry.validate()
    val topics = transport.getOrElse(
      new FileTopics(s"$workDir/topics", options.sourceMaxFilesPerTrigger))
    val replicas = makeReplicas(spark, registry, workDir, options)
    val producers = registry.topics.map { t =>
      produceTopic(spark, registry, t, bindings, topics,
        s"$workDir/cp/produce/${registry.topicName(t)}", trigger, options)
    }
    val consumers = consumedTopicNames(registry).map { case (t, name) =>
      consumeTopic(spark, registry, t, name, topics, replicas,
        workDir, options, trigger)
    }
    (producers ++ consumers,
      EngineResult(registry.topics.map(registry.topicName), replicas))
  }

  /** Every (topic, physical name) the consumer subscribes: the primary
    * topic plus, where declared, its `_genesis` replica twin. */
  private def consumedTopicNames(registry: Registry): Seq[(TopicDef, String)] =
    registry.topics.flatMap { t =>
      Seq(t -> registry.topicName(t)) ++
        (if (t.genesisReplica) Seq(t -> registry.genesisTopicName(t)) else Nil)
    }

  /** Replica schema for a model under the given payload mode: variant
    * mode swaps ONLY the `synced_data` column's storage type; the rest of
    * the replica schema (and the wire format) is unchanged. */
  private def replicaSchemaFor(m: ModelDef,
      variant: Boolean): org.apache.spark.sql.types.StructType =
    if (variant)
      org.apache.spark.sql.types.StructType(m.replicaSchema.map(f =>
        if (f.name == "synced_data")
          f.copy(dataType = org.apache.spark.sql.types.VariantType)
        else f))
    else m.replicaSchema

  private def makeReplicas(spark: SparkSession, registry: Registry,
      workDir: String, options: EngineOptions): Map[String, Replica] =
    consumedModels(registry).map { m =>
      val root = s"$workDir/replicas/${m.name}"
      val schema = replicaSchemaFor(m, options.syncedDataVariant)
      val replica = options.replicaFactory.map(f => f(spark, m, root))
        .getOrElse(
          new ParquetReplica(spark, root, schema.toDDL,
            buckets = m.buckets, mergeOnRead = options.mergeOnRead,
            compactEvery = options.replicaCompactEvery))
      // fail fast on open if the declared payload type contradicts what
      // an existing workDir already stores (a syncedDataVariant toggle
      // without migrateSyncedData) — one footer read, only when data
      // exists; custom replicaFactory storage owns its own evolution
      replica match {
        case pr: ParquetReplica => pr.verifyStoredCompatible()
        case _ =>
      }
      m.name -> replica
    }.toMap

  /** Migrate every consumed model replica under `workDir` between the two
    * `synced_data` storage modes IN PLACE: each table is read under its
    * stored schema, the payload column converted (`parse_json` to
    * VARIANT; canonical `to_json` text back to STRING), and published as
    * the replica's next version — the documented companion to the
    * fail-fast open check, for deployments flipping
    * `EngineOptions.syncedDataVariant` on existing data. Run OFFLINE (no
    * engine active on `workDir`); never-committed replicas are skipped.
    * STRING→VARIANT→STRING canonicalizes the JSON text (sorted keys,
    * normalized numbers) — extraction-equal, not byte-equal, per the C16
    * contract. Default [[ParquetReplica]] storage only: a custom
    * `replicaFactory`'s table format owns its own type evolution. */
  def migrateSyncedData(spark: SparkSession, registry: Registry,
      workDir: String, toVariant: Boolean,
      options: EngineOptions = EngineOptions()): Unit =
    consumedModels(registry).foreach { m =>
      val root = s"$workDir/replicas/${m.name}"
      val target = new ParquetReplica(spark, root,
        replicaSchemaFor(m, toVariant).toDDL, buckets = m.buckets,
        mergeOnRead = options.mergeOnRead,
        compactEvery = options.replicaCompactEvery)
      // idempotent: only rewrite when the stored payload type actually
      // differs (re-running a migration, or a replica created fresh in
      // the target mode, is a no-op)
      val storedIsVariant = target.storedSchema
        .flatMap(_.fields.find(_.name == "synced_data"))
        .map(_.dataType.isInstanceOf[org.apache.spark.sql.types.VariantType])
      if (storedIsVariant.contains(!toVariant))
        target.migrateColumn(replicaSchemaFor(m, !toVariant).toDDL,
          "synced_data",
          c => if (toVariant) parse_json(c) else to_json(c))
    }

  /** P16–P18 through the registry-derived serializer: stream the model's
    * current snapshot as `<model>_updated` / `<model>_destroyed` (already-
    * soft-deleted rows, standard_job.rb:34-38) wire rows into each topic
    * the model publishes to — the `_genesis` replica topic where declared,
    * the primary topic otherwise. The snapshot may carry a `__canceled`
    * column for the soft-delete image; dependency-only models are refused
    * (P19). The scan is one batch append per topic; pacing at scale is
    * writer partitioning ([[graft.producer.Genesis.assignBatchesDense]]),
    * not driver-side sleeps. */
  def genesis(
      spark: SparkSession,
      registry: Registry,
      bindings: ModelBindings,
      modelName: String,
      workDir: String,
      transport: Option[TopicSink with TopicSource] = None,
      /** When > 0, the backfill lands as this many files per topic, so a
        * consumer with `sourceMaxFilesPerTrigger` drains it in bounded
        * micro-batches alongside live topics (P17 pacing) instead of one
        * giant batch. 0 keeps the snapshot's natural partitioning. */
      paceFiles: Int = 0): Seq[String] = {
    registry.requireGenesisAllowed(modelName)
    val m = registry.modelDef(modelName).getOrElse(
      throw new IllegalArgumentException(s"unknown model $modelName"))
    val topics = transport.getOrElse(new FileTopics(s"$workDir/topics"))
    val snap = bindings.snapshot(spark, m)
    val changes = snap
      .withColumn("__op", lit("update"))
      .withColumn("__old_canceled", lit(null).cast("timestamp"))
      .withColumn("__new_canceled", snapshotCanceled(snap))
    registry.topics.filter(_.models.exists(_.name == modelName)).map { t =>
      val target =
        if (t.genesisReplica) registry.genesisTopicName(t)
        else registry.topicName(t)
      val wire = EnvelopeCodec.encode(
        modelWire(spark, registry, t, m, changes, bindings))
        .select("kafka_key", "partition_key", "value", "ts")
      topics.appendBatch(
        if (paceFiles > 0) wire.repartition(paceFiles) else wire, target)
      target
    }
  }

  // ----------------------------------------------------------------- producer

  /** One topic's producer query: union of the registry-derived wire frames
    * of its models, enveloped and written to the topic. */
  private def produceTopic(
      spark: SparkSession,
      registry: Registry,
      t: TopicDef,
      bindings: ModelBindings,
      sink: TopicSink,
      checkpointDir: String,
      trigger: Trigger,
      options: EngineOptions = EngineOptions()): StreamingQuery = {
    val primary = t.models.map(m =>
      modelWire(spark, registry, t, m, bindings.changes(spark, m), bindings))
    // P14/P15: models observing another model's attributes republish their
    // dependent records when a matching changeset arrives
    val observer = t.models.flatMap(m =>
      m.observers.map(o =>
        observerWire(spark, registry, t, m, o, bindings, options)))
    val wire = (primary ++ observer).reduce(_.unionByName(_))
    var enveloped = EnvelopeCodec.encode(wire)
      .select("kafka_key", "partition_key", "value", "ts")
    // P20: on compacted topics, hard deletes also expunge via tombstone
    if (t.tombstones) {
      val tomb = t.models.map { m =>
        bindings.changes(spark, m)
          .filter(col("__op") === "delete")
          .select(
            EnvelopeCodec.messageKey(lit(m.name), col(m.primaryKey))
              .as("kafka_key"),
            Serializers.partitionKey(t.partitionKeyFn,
              t.partitionKeyAttr.orElse(Some(m.primaryKey)), "account_id",
              Some(m))
              .as("partition_key"),
            lit(null).cast("string").as("value"),
            col("__ts").as("ts"))
      }.reduce(_.unionByName(_))
      enveloped = enveloped.unionByName(tomb)
    }
    sink(sink.prepare(enveloped).writeStream, registry.topicName(t))
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** One model's wire frame: classify (P2), embed sideloads (P8), project
    * the payload (P7/P9), key (P10). Everything except the sideload join is
    * a single codegen'd projection. */
  private def modelWire(
      spark: SparkSession,
      registry: Registry,
      t: TopicDef,
      m: ModelDef,
      changes: DataFrame,
      bindings: ModelBindings): DataFrame = {
    val classified = changes
      .withColumn("__et", EventClassifier.eventType(
        col("__op"), col("__old_canceled"), col("__new_canceled")))
      .filter(col("__et").isNotNull)

    // `serialize: false` DTO bypass (reference:
    // karafka_responder_generator.rb:72-75, README.md:180-213): the model
    // ships an IDs-only payload on EVERY event type — no attributes, no
    // sideload joins. Column pruning then reaches the source scan: the
    // whole wire frame reads just the primary key and the meta columns.
    if (!m.serialize) {
      val destroyed = col("__et") === EventType.Destroyed
      val canceledAt = coalesce(col("__new_canceled"),
        when(destroyed, col("__ts")))
      return classified.select(
        EventClassifier.eventName(lit(m.name), col("__et")).as("event"),
        lit(m.name).as("model_name"),
        array(to_json(Serializers.destroyedPayload(m,
          col("__ts"), col("__ts"), canceledAt))).as("data"),
        EnvelopeCodec.messageKey(lit(m.name), col(m.primaryKey)).as("kafka_key"),
        Serializers.partitionKey(t.partitionKeyFn,
          t.partitionKeyAttr.orElse(Some(m.primaryKey)), "account_id",
          Some(m)).as("partition_key"),
        col("__ts").as("ts"))
    }

    // P8: left-join each sideloaded child's snapshot, pre-aggregated by FK
    // into (embedded payload array, id array) — one shuffle per child model,
    // then a stream-static join Catalyst sizes (broadcast for small dims).
    val sideloaded = m.sideloads.foldLeft(classified) { (df, dep) =>
      val assoc = m.hasMany.find(_.model == dep).getOrElse(
        throw new IllegalArgumentException(
          s"sideload $dep on ${m.name} needs a matching hasMany association"))
      val child = registry.modelDef(dep).getOrElse(
        throw new IllegalArgumentException(s"unknown sideload model $dep"))
      val snap = bindings.snapshot(spark, child)
      val childPayload = Serializers.wirePayload(child,
        col("__ts"), col("__ts"), snapshotCanceled(snap))
      val nested = snap
        .select(col(assoc.fk).cast("long").as("__pk"),
          struct(col(child.primaryKey).cast("long").as("k"),
            childPayload.as("p")).as("__kp"))
        .groupBy(col("__pk"))
        // unique child keys ⇒ sort_array orders by k deterministically
        .agg(sort_array(collect_list(col("__kp"))).as("__kids"))
        .select(col("__pk"),
          col("__kids.p").as(s"__emb_$dep"),
          col("__kids.k").as(s"__ids_${assoc.name}"))
      df.join(nested, col(m.primaryKey).cast("long") === col("__pk"), "left")
        .drop("__pk")
    }

    // empty array, not null, when a parent has no children: a declared but
    // empty to-many list means "disassociate everything" on the consumer
    // (C11); a NULL list means "this payload makes no claim" (observer
    // republishes, destroys) and must not trigger disassociation
    val manyIds = m.sideloads
      .flatMap(dep => m.hasMany.find(_.model == dep))
      .map(a => a.name ->
        coalesce(col(s"__ids_${a.name}"), array().cast("array<bigint>")))
    val embedded = m.sideloads.map(dep => dep -> col(s"__emb_$dep"))

    val destroyed = col("__et") === EventType.Destroyed
    val canceledAt = coalesce(col("__new_canceled"),
      when(destroyed, col("__ts")))
    val payloadJson = when(destroyed,
      to_json(Serializers.destroyedPayload(m,
        col("__ts"), col("__ts"), canceledAt)))
      .otherwise(to_json(Serializers.wirePayload(m,
        col("__ts"), col("__ts"), canceledAt, manyIds, embedded)))

    sideloaded.select(
      EventClassifier.eventName(lit(m.name), col("__et")).as("event"),
      lit(m.name).as("model_name"),
      array(payloadJson).as("data"),
      EnvelopeCodec.messageKey(lit(m.name), col(m.primaryKey)).as("kafka_key"),
      Serializers.partitionKey(t.partitionKeyFn,
        t.partitionKeyAttr.orElse(Some(m.primaryKey)), "account_id",
        Some(m)).as("partition_key"),
      col("__ts").as("ts"))
  }

  /** P14/P15 — one observer's republish stream: filter the OBSERVED
    * model's change feed to rows whose changeset intersects the declared
    * attributes (`__changeset: map<string, array<string>>` on the feed,
    * built by [[EventClassifier.changeset]]), navigate the declared
    * association to the dependent records, and re-serialize them as
    * `<model>_updated` (reference: producer.rb:101-120 +
    * outbox/publisher.rb:41-61). Single-hop associations stream here;
    * dotted chains compose via [[graft.producer.Observers.resolve]] in
    * batch. The matched keys are the micro-batch (small side); the
    * dependent snapshot is the table — the join keeps the snapshot
    * unbroadcast, so the plan survives a dependent table of any size. */
  private def observerWire(
      spark: SparkSession,
      registry: Registry,
      t: TopicDef,
      m: ModelDef,
      o: graft.registry.ObserverDef,
      bindings: ModelBindings,
      options: EngineOptions = EngineOptions()): DataFrame = {
    val observed = registry.modelDef(o.model).getOrElse(
      throw new IllegalArgumentException(s"unknown observed model ${o.model}"))
    val rawFeed = bindings.changes(spark, observed)
    require(rawFeed.columns.contains("__changeset"),
      s"observer on ${o.model} needs a __changeset column in its change feed")
    // P24: a feed whose changeset arrives sealed (opaque string at rest)
    // is opened transparently before the attribute match
    val feed = rawFeed.schema("__changeset").dataType match {
      case org.apache.spark.sql.types.StringType =>
        val key = options.changesetKey.getOrElse(throw new
            IllegalArgumentException(
          s"feed for ${o.model} carries a sealed __changeset but no " +
            "changesetKey is configured (EngineOptions.changesetKey)"))
        graft.producer.ChangesetCrypto.checkRedaction(spark, key,
          strict = options.strictKeyRedaction)
        rawFeed.withColumn("__changeset",
          graft.producer.ChangesetCrypto.open(col("__changeset"), key))
      case _ => rawFeed
    }
    val matched = feed.filter(Observers.matches(col("__changeset"), o))
    // walk the association path (dotted chains supported,
    // reference: producer.rb:110-115): each hop joins the next model's
    // snapshot through the declared FK, carrying full rows so hasOne hops
    // can read their FK column at any depth
    var cur = observed
    var level: DataFrame = matched
    o.association.split('.').foreach { seg =>
      val assoc = (cur.hasMany ++ cur.hasOne).find(_.name == seg).getOrElse(
        throw new IllegalArgumentException(
          s"observer association segment $seg is not declared on ${cur.name}"))
      val isMany = cur.hasMany.exists(_.name == seg)
      val next = registry.modelDef(assoc.model).getOrElse(
        throw new IllegalArgumentException(s"unknown model ${assoc.model}"))
      val snap = bindings.snapshot(spark, next)
      level =
        if (isMany)
          // FK on the child: current-level ids → children by FK
          snap.join(
            level.select(col(cur.primaryKey).cast("long").as("__k")),
            col(assoc.fk).cast("long") === col("__k")).drop("__k")
        else
          // FK on the current row: its value IS the next-level key
          snap.join(
            level.select(col(assoc.fk).cast("long").as("__k")),
            col(next.primaryKey).cast("long") === col("__k")).drop("__k")
      cur = next
    }
    require(cur.name == m.name,
      s"observer path ${o.association} on ${o.model} ends at ${cur.name}, " +
        s"but ${m.name} declared it")
    val dependents = level
    dependents.select(
      lit(s"${m.name}_${EventType.Updated}").as("event"),
      lit(m.name).as("model_name"),
      array(to_json(Serializers.wirePayload(m,
        col("__ts"), col("__ts"), snapshotCanceled(dependents)))).as("data"),
      EnvelopeCodec.messageKey(lit(m.name), col(m.primaryKey)).as("kafka_key"),
      Serializers.partitionKey(t.partitionKeyFn,
        t.partitionKeyAttr.orElse(Some(m.primaryKey)), "account_id",
        Some(m)).as("partition_key"),
      col("__ts").as("ts"))
  }

  // ----------------------------------------------------------------- consumer

  /** One topic's consumer query: decode, watermarked exact-resend dedup
    * (C2 streaming form), then per micro-batch merge each declared model —
    * and each embedded sideload model — into its replica. */
  private def consumeTopic(
      spark: SparkSession,
      registry: Registry,
      t: TopicDef,
      topicName: String,
      source: TopicSource,
      replicas: Map[String, Replica],
      workDir: String,
      options: EngineOptions,
      trigger: Trigger): StreamingQuery = {
    val wire = source.open(spark, topicName)
    val deduped =
      if (t.dedupIncoming)
        // fixed-width dedup state: key on (kafka_key, 64-bit payload hash),
        // never the raw envelope — a megabyte-class sideloaded aggregate
        // would otherwise sit in the state store for the whole watermark.
        // Same exact-resend semantics (64-bit collision odds negligible).
        wire.withWatermark("ts", options.dedupDelay)
          .withColumn("__vh", xxhash64(col("kafka_key"), col("value")))
          .dropDuplicatesWithinWatermark("kafka_key", "__vh")
          .drop("__vh")
      else wire
    val events =
      if (t.singleRecordWire) EnvelopeCodec.decodeSingleRecords(deduped)
      else EnvelopeCodec.explodeRecords(EnvelopeCodec.decode(deduped))
    // live-mode maintenance cadence (one counter per topic query)
    val batchCounter = new java.util.concurrent.atomic.AtomicLong()
    val maintained: Seq[Replica] =
      t.models.flatMap(m => m.name +: m.sideloads).distinct
        .flatMap(replicas.get)
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$workDir/cp/consume/$topicName")
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        // one micro-batch feeds many actions (per model, per sideload,
        // quarantine, consumed events) — materialize it once
        val batch = batch0.persist()
        // C6: quarantine side output before anything persists.
        // Side outputs coalesce to one file per batch: un-coalesced, every
        // shuffle partition spills a fragment per micro-batch — a
        // small-files generator on any long-lived stream.
        // params_batch_transformation (reference README.md:900-915): an
        // opaque per-topic batch transform over the DECODED frame. It
        // runs BEFORE the message-filter gate to match the reference,
        // where the lambda receives the raw params batch and filters run
        // later inside ParamsBatchProcessor (karafka_consumer_generator
        // .rb:29) — so a transform that needs rows the filter would drop
        // (e.g. merge logic) sees them. The reference's DEFAULT strategy
        // (remove-duplicates keep-latest) is the engine's C2 dedup + C7
        // LWW merge and needs no hook; this slot is the custom-lambda
        // case — e.g. merging an import topic's per-record rows into
        // grouped batches.
        val transformed = options.batchTransforms.get(topicName)
          .map(_(batch)).getOrElse(batch)
        val kept = options.messageFilters.get(topicName) match {
          case Some(drop) =>
            val (ok, dropped) = ConsumerOps.messageFilter(transformed, drop)
            // side outputs write to a BATCH-KEYED partition dir with
            // overwrite: foreachBatch is at-least-once on restart (the
            // offset commit races the batch's writes), so a replayed
            // batch must land on the same path, not append a duplicate.
            // `__batch=<id>` is partition-style so a plain read of the
            // topic dir still works.
            dropped.coalesce(1).write.mode("overwrite")
              .parquet(s"$workDir/quarantine/$topicName/__batch=$batchId")
            ok
          case None => transformed
        }
        val consumedDir =
          if (options.publishConsumedEvents)
            Some(s"$workDir/consumed/$topicName") else None
        def persist(b: DataFrame): Unit = {
          // ONE aggregation job replaces every per-model / per-path
          // emptiness probe below: models (and sideload paths) absent from
          // this micro-batch skip their merge entirely, driver-side
          val stats = collectStats(b, t)
          t.models.foreach(
            mergeModel(registry, t, _, b, replicas, topicName,
              consumedDir, options, stats, batchId))
        }
        // C17: poison batches park in the DLQ instead of failing the query
        try {
          if (options.deadLetter)
            ConsumerOps.withDeadLetter(kept,
              s"$workDir/dlq/$topicName", batchId)(persist)
          else persist(kept)
        } finally batch.unpersist()
        // storage maintenance on a batch cadence: a live deployment must
        // not accumulate one version per micro-batch per replica forever
        if (options.maintainEvery > 0 &&
            batchCounter.incrementAndGet() % options.maintainEvery == 0)
          maintained.foreach(_.vacuum(options.retainVersions))
        ()
      }
      .trigger(trigger)
      .start()
  }

  /** Per-model facts of one micro-batch, collected in a single Spark job
    * over the cached batch: row count, destroy count, and — for every
    * declared to-many association — how many live payloads carry a
    * non-null incoming id list (the C11 participation test). */
  private final case class SliceStats(
      n: Long, nDestroyed: Long, links: Map[String, Long]) {
    def nLive: Long = n - nDestroyed
  }

  private def collectStats(batch: DataFrame, t: TopicDef): Map[String, SliceStats] = {
    import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
    // link probes keyed by (model, association): two models declaring
    // same-named to-many associations on one topic never share a count
    val byModel: Seq[(String, Seq[String])] = t.models.map(m =>
      m.name -> m.sideloads
        .flatMap(dep => m.hasMany.find(_.model == dep)).map(_.name).distinct)
      .filter(_._2.nonEmpty)
    val destroyed = eventTypeCol === EventType.Destroyed
    // ONE links-only from_json per model, carrying every probed
    // association, materialized as a column all of that model's probes
    // share (K associations cost one parse, not K). The probe parses with
    // from_json exactly like the merge path's incoming set
    // (rec.links.<name>) — a JSONPath probe diverges on case handling and
    // on association names carrying JSONPath-special chars. The when()
    // keeps rows of OTHER models from paying the parse at all.
    val withLinks = byModel.foldLeft(batch) { case (df, (mn, assocs)) =>
      val linksOnly = StructType(Seq(StructField("links",
        StructType(assocs.map(a => StructField(a, ArrayType(LongType)))))))
      df.withColumn(s"__lk_$mn",
        when(col("model_name") === mn && !destroyed,
          from_json(col("payload_json"), linksOnly).getField("links")))
    }
    val pairs = byModel.flatMap { case (mn, as) => as.map(mn -> _) }
    // index-based aliases: a name-composed form (`__lnk_${mn}__$a`) can
    // collide when names themselves contain `__` (model `a` + assoc
    // `b__c` vs model `a__b` + assoc `c`); extraction below is positional
    // either way, but the index makes uniqueness unconditional
    val aggs =
      count(lit(1)).as("__n") +:
        sum(when(destroyed, 1L).otherwise(0L)).as("__nd") +:
        pairs.zipWithIndex.map { case ((mn, a), i) =>
          sum(when(col(s"__lk_$mn").getField(a).isNotNull, 1L).otherwise(0L))
            .as(s"__lnk_$i")
        }
    withLinks.groupBy(col("model_name")).agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val model = r.getString(0)
        model -> SliceStats(r.getLong(1), r.getLong(2),
          pairs.zipWithIndex.collect { case ((mn, a), i) if mn == model =>
            a -> r.getLong(3 + i)
          }.toMap)
      }.toMap
  }

  /** Event-type suffix of a wire event name (`order_line_created` →
    * `created`). */
  private def eventTypeCol: Column =
    regexp_extract(col("event"), "_(created|updated|destroyed)$", 1)

  /** Merge one model's slice of a decoded batch (and, recursively, its
    * embedded sideload records) into the replicas. Import-mode topics
    * (reference: persistor.rb:12-24) bulk-upsert `created` batches and
    * HARD-destroy `destroyed` ids — no soft delete, no attribute
    * preservation. */
  private def mergeModel(
      registry: Registry,
      t: TopicDef,
      m: ModelDef,
      batch: DataFrame,
      replicas: Map[String, Replica],
      topicName: String,
      consumedDir: Option[String],
      options: EngineOptions,
      stats: Map[String, SliceStats],
      batchId: Long): Unit = {
    // a model with no rows in this micro-batch skips its whole merge path
    // (the common case on multi-model topics) — no empty-frame Spark jobs
    val slice = stats.getOrElse(m.name, SliceStats(0, 0, Map.empty))
    if (slice.n == 0) return
    val parsed = batch
      .filter(col("model_name") === m.name)
      .select(eventTypeCol.as("event_type"),
        from_json(col("payload_json"), m.aggregateSchema(registry)).as("rec"),
        col("payload_json"))

    if (t.importMode) {
      val shaped = shapeRecords(m, parsed, options.syncedDataVariant)
      if (slice.nLive > 0) replicas(m.name).merge(
        shaped.filter(col("event_type") =!= EventType.Destroyed))
      if (slice.nDestroyed > 0) replicas(m.name).destroy(
        shaped.filter(col("event_type") === EventType.Destroyed)
          .select(col("synced_id")))
      return
    }

    mergeRecords(m, parsed, replicas(m.name), topicName,
      consumedDir, options, batchId, hasDestroys = slice.nDestroyed > 0)

    // C4 recursion: embedded sideload payloads persist as their own models
    // (only live parent payloads embed children — skip when none)
    if (slice.nLive > 0) m.sideloads.foreach { dep =>
      val child = registry.modelDef(dep).getOrElse(
        throw new IllegalArgumentException(
          s"unknown sideload model $dep on ${m.name}"))
      val assoc = m.hasMany.find(_.model == dep).getOrElse(
        throw new IllegalArgumentException(
          s"sideload $dep on ${m.name} needs a matching hasMany association"))
      val live = parsed.filter(col("event_type") =!= EventType.Destroyed)
      val childParsed = live
        .select(explode(col(s"rec.$dep")).as("rec"))
        .select(lit(EventType.Updated).as("event_type"), col("rec"),
          to_json(col("rec")).as("payload_json"))
      // sideloaded children are all stamped `updated`: no destroys
      mergeRecords(child, childParsed, replicas(dep), topicName,
        consumedDir, options, batchId, hasDestroys = false)

      // C11: children of touched parents absent from the incoming id list
      // disassociate — needs the child replica to carry the FK attribute.
      // Only payloads that DECLARE a to-many list (non-null, possibly
      // empty) participate — observer republishes and destroys carry no
      // list and must not disassociate anything; the stats row already
      // counted them, so batches without lists skip driver-side.
      if (child.attributes.exists(_.name == assoc.fk) &&
          slice.links.getOrElse(assoc.name, 0L) > 0) {
        val incoming = live
          .filter(col(s"rec.links.${assoc.name}").isNotNull)
          .select(
            col("rec.id").as(assoc.fk),
            explode_outer(col(s"rec.links.${assoc.name}")).as("synced_id"))
        // bucket-pruned C11: resolve the doomed child KEYS first (one
        // semi+anti join with the micro-batch parent set broadcast,
        // collected in one action), then rewrite only the buckets those
        // keys hash into — never an O(child table) rewrite. The common
        // case, no child dropped, skips the destroy: no probe, no MoR
        // delta fold, no version. The keys resolve from a column-pruned
        // read of the child replica's (synced_id, fk) columns — the
        // reference's `WHERE parent_id = ?` lookup on the child table,
        // persistor.rb:102-152 — which never scans the payload. The
        // resolution is NOT bounded by the batch: it reads every child
        // key, and under merge-on-read folds the base plus every delta
        // epoch in one shuffle on each batch — O(child keys).
        val rep = replicas(dep)
        rep.withLock {
          val doomedKeys = Persistor.disassociatedChildKeys(
            rep.read(Seq("synced_id", assoc.fk)), incoming,
            parentKey = assoc.fk, childKey = "synced_id")
          val rows = doomedKeys.collect()
          if (rows.nonEmpty)
            rep.destroy(batch.sparkSession.createDataFrame(
              java.util.Arrays.asList(rows: _*), doomedKeys.schema))
        }
      }
    }
  }

  /** Project parsed records onto the model's replica update shape: C5
    * renames, link flattening, timestamp casts, raw payload carry
    * (`variantPayload` parses the carry into Spark-4 VARIANT — the
    * once-at-write half of `EngineOptions.syncedDataVariant`). */
  private def shapeRecords(m: ModelDef, parsed: DataFrame,
      variantPayload: Boolean): DataFrame = {
    val linkCols = m.linkKinds.map { case (rel, kind) =>
      LinksFlattener.colName(rel, kind)
    }
    val flattened =
      if (m.linkKinds.isEmpty) parsed
      else LinksFlattener.flatten(
        parsed.withColumn("links", col("rec.links")), m.linkKinds)
    flattened.select(
      col("event_type") +:
        col("rec.id").as("synced_id") +:
        m.attributes.map(a => col(s"rec.${a.name}").as(a.name)) ++:
        Seq(
          col("rec.created_at").cast("timestamp").as("synced_created_at"),
          col("rec.updated_at").cast("timestamp").as("synced_updated_at"),
          col("rec.canceled_at").cast("timestamp").as("canceled_at")) ++:
        linkCols.map(col) ++:
        Seq((if (variantPayload) parse_json(col("payload_json"))
             else col("payload_json")).as("synced_data")): _*)
  }

  /** LWW-merge one model's shaped records into its replica. Destroyed
    * events carry only the key and timestamps on the wire (P9), so their
    * merge preserves the current row's attributes — the reference's
    * `record.cancel` touches only `canceled_at`
    * (synchronizable_model.rb:40-50), through
    * [[Replica.preserveOnDestroy]]. `hasDestroys = false` (the slice
    * carries no destroyed row) passes [[Replica.identityPrepare]]. */
  private def mergeRecords(
      m: ModelDef,
      parsed: DataFrame,
      replica: Replica,
      topicName: String,
      consumedDir: Option[String],
      options: EngineOptions,
      batchId: Long,
      hasDestroys: Boolean): Unit = {
    val shaped = shapeRecords(m, parsed, options.syncedDataVariant)
    // deterministic tiebreak: equal-timestamp events (second-precision CDC
    // writing update+destroy in one tick) must pick the SAME winner on
    // at-least-once replay, or replicas diverge
    // payload tiebreak by 64-bit hash, not the raw JSON string: the window
    // sort compares fixed-width longs instead of whole payloads (same
    // determinism — any total order on equal-timestamp events works)
    // (variant payloads hash their canonical JSON rendering: VARIANT is
    // not hashable in Spark 4.1, and to_json(parse_json(x)) is a
    // deterministic function of the wire bytes — still a total order)
    val payloadTiebreak =
      if (options.syncedDataVariant) xxhash64(to_json(col("synced_data")))
      else xxhash64(col("synced_data"))
    val latest = ConsumerOps.keepLatest(shaped,
      keyCols = Seq("synced_id"), orderCol = "synced_updated_at",
      tiebreak = Seq(col("event_type"), payloadTiebreak))

    val touched = latest.select(col("synced_id"))
    // preserve current attributes under destroy (key-only payload). Both
    // prepares are sentinels: a merge-on-read replica keeps its map-only,
    // one-job delta append either way and preserves at read time; other
    // storage runs the key-local join. Without destroys there is nothing
    // to preserve.
    val prepare =
      if (hasDestroys) Replica.preserveOnDestroy else Replica.identityPrepare
    // the whole capture → merge → diff sequence holds the replica lock:
    // a model reachable through several topics is merged by several
    // concurrent queries, and a C12 diff against a snapshot another
    // query advanced would attribute foreign changes to this batch
    replica.withLock {
      // C12: touched keys' pre-merge state (no-op unless tracking) — read
      // only the buckets the touched keys hash into, never the full table
      val before =
        if (options.trackLocalChanges && consumedDir.isDefined)
          Some(replica.readBuckets(touched)
            .join(touched, Seq("synced_id"), "left_semi")
            .localCheckpoint(true))
        else None
      replica.merge(latest, prepare)
      // C14: publish consumed events next to the merge
      consumedDir.foreach { dir =>
        val localChanges = before.map { b =>
          val after = replica.readBuckets(touched)
            .join(touched, Seq("synced_id"), "left_semi")
          Persistor.localChanges(b, after, m.attributes.map(_.name))
        }
        // one file per micro-batch: repartition(1) keeps the upstream
        // join parallel and funnels only the (small) output rows.
        // Batch-keyed overwrite path (see the quarantine comment): a
        // replayed micro-batch after restart overwrites its own
        // partition instead of appending a duplicate consumed record —
        // the REPLICA merge is idempotent by construction (LWW upsert),
        // and this makes the C14 event bus match it. Keyed per
        // (batch, model): models on one topic share the dir.
        ConsumerOps.consumedEvents(latest, topicName, m.name, localChanges)
          .repartition(1).write.mode("overwrite")
          .parquet(s"$dir/__batch=$batchId-${m.name}")
      }
    }
  }
}
