package graft.registry

import org.apache.spark.sql.types._

/** Declaration DSL — which models publish to which topics, with which
  * dependencies / observers / partition keys.
  *
  * Reference: producer registry (lib/dionysus/producer/registry.rb:11-44,
  * 78-162) and consumer registry (lib/dionysus/consumer/registry.rb:11-82).
  * The Ruby class-macro DSL becomes plain Scala case classes: declarative
  * data the engine resolves into Spark pipelines at plan time, not runtime
  * metaprogramming. Validation mirrors
  * lib/dionysus/producer/registry/validator.rb:82-102 (observer attributes
  * must exist) and lib/dionysus/producer/genesis.rb:25-30 (dependency-only
  * models cannot be backfilled directly).
  */
/** One declared payload attribute. `computed` is the custom-serializer
  * slot (reference: README.md:125-135 — a user serializer class deriving
  * payload fields): when set, the producer serializes this expression
  * over the change/snapshot row instead of reading a source column of
  * the same name. The field still travels the wire and persists under
  * `name` with `dataType` on the consumer — derived once at publish
  * time, exactly like a custom Ruby serializer's method. */
final case class Attribute(name: String, dataType: DataType = StringType,
    computed: Option[org.apache.spark.sql.Column] = None)

/** A to-one / to-many relationship; `fk` is the foreign-key column on the
  * child (to-many) or on the parent (to-one). */
final case class Association(name: String, model: String, fk: String)

/** `observe:` config (reference: registry.rb:95-161): when `model`'s
  * changeset intersects `attributes`, republish the records reached via
  * `association` (possibly a dotted path `"a.b.c"`,
  * reference: producer.rb:110-115). */
final case class ObserverDef(model: String, attributes: Seq[String], association: String)

/** One published model (reference: `publish Model, with: [...]`,
  * registry.rb:78-80). `sideloads` are the `with:` dependency models whose
  * changes republish the parent (P15) and which are embedded in the parent
  * payload (P8). `serialize=false` is the bulk-delete DTO bypass that
  * projects IDs only (reference: karafka_responder_generator.rb:72-75). */
final case class ModelDef(
    name: String,
    primaryKey: String = "id",
    attributes: Seq[Attribute] = Nil,
    hasOne: Seq[Association] = Nil,
    hasMany: Seq[Association] = Nil,
    sideloads: Seq[String] = Nil,
    observers: Seq[ObserverDef] = Nil,
    softDeleteColumn: String = "canceled_at",
    serialize: Boolean = true,
    /** Replica hash-bucket count — the per-model storage layout knob
      * ([[graft.streaming.ParquetReplica]]); size it so one bucket's rows
      * fit an executor's memory (the 100 TB guidance is thousands of
      * buckets for the biggest models; re-bucket online via
      * `ParquetReplica.compact`). */
    buckets: Int = 16) {

  /** Registry-derived AGGREGATE StructType: the payload schema with
    * sideloaded dependency payloads embedded (to-one as struct, to-many as
    * array of struct). The reference's deserializer recurses unboundedly
    * (deserializer.rb:54-70); Spark schemas are fixed-depth, so the depth
    * comes from the registry and anything deeper fails loudly at plan time
    * (SURVEY §7.4.2). */
  def aggregateSchema(registry: Registry, maxDepth: Int = 3): StructType = {
    require(maxDepth > 0,
      s"aggregate nesting under $name exceeds the declared depth bound — " +
        "raise maxDepth explicitly or flatten the registry")
    val childFields = sideloads.flatMap { dep =>
      registry.modelDef(dep).map { child =>
        val childSchema = child.aggregateSchema(registry, maxDepth - 1)
        // to-many when the child carries our FK in hasMany, else to-one
        StructField(dep, ArrayType(childSchema))
      }
    }
    StructType(payloadSchema.fields ++ childFields)
  }

  /** Registry-derived payload StructType: declared attributes + reserved
    * columns + links (SURVEY §1.2 schema stance). Models with no declared
    * associations carry no `links` field (an empty struct round-trips as
    * JSON noise). */
  def payloadSchema: StructType = {
    val declared = attributes.map(a => StructField(a.name, a.dataType))
    val linkFields =
      hasOne.map(a => StructField(s"${a.name}", LongType)) ++
      hasMany.map(a => StructField(s"${a.name}", ArrayType(LongType)))
    val links =
      if (linkFields.isEmpty) Nil
      else Seq(StructField("links", StructType(linkFields)))
    StructType(
      Seq(StructField("id", LongType, nullable = false)) ++ declared ++ Seq(
        StructField("created_at", StringType),
        StructField("updated_at", StringType),
        StructField("canceled_at", StringType)) ++ links)
  }

  /** Declared link names with their flattening kind (C5). */
  def linkKinds: Seq[(String, graft.codec.LinksFlattener.LinkKind)] =
    hasOne.map(a => a.name -> (graft.codec.LinksFlattener.ToOne: graft.codec.LinksFlattener.LinkKind)) ++
      hasMany.map(a => a.name -> (graft.codec.LinksFlattener.ToMany: graft.codec.LinksFlattener.LinkKind))

  /** Consumer-side storage schema for this model's replica table: reserved
    * `synced_*` columns (C5 renames applied at plan time) + declared
    * attributes + flattened link columns + the raw payload (`synced_data`,
    * reference: README.md:932-937). The Spark analogue of the consumer's
    * per-model ActiveRecord table. */
  def replicaSchema: StructType = {
    import graft.codec.LinksFlattener
    val attrs = attributes.map(a => StructField(a.name, a.dataType))
    val links = linkKinds.map {
      case (rel, LinksFlattener.ToMany) =>
        StructField(LinksFlattener.colName(rel, LinksFlattener.ToMany),
          ArrayType(LongType))
      case (rel, kind) =>
        StructField(LinksFlattener.colName(rel, kind), LongType)
    }
    StructType(
      Seq(StructField("synced_id", LongType, nullable = false)) ++ attrs ++ Seq(
        StructField("synced_created_at", TimestampType),
        StructField("synced_updated_at", TimestampType),
        StructField("synced_canceled_at", TimestampType)) ++ links ++
        Seq(StructField("synced_data", StringType)))
  }
}

/** One topic (reference: `topic :name, partition_key:, genesis_replica:`,
  * registry.rb:62-68; consumer options registry.rb:58-82). */
final case class TopicDef(
    name: String,
    models: Seq[ModelDef],
    partitionKeyAttr: Option[String] = None,
    /** P10 lambda form (reference partition_key.rb:34-36: a per-topic
      * `lambda` called with the resource, result stringified): a Scala
      * function over the RESOURCE STRUCT — the full record as one struct
      * column — returning any column; the engine casts the result to
      * string, and a null result stays null (the reference's `&.to_s`).
      * Takes precedence over [[partitionKeyAttr]], mirroring the
      * reference's `respond_to?(:call)` branch ordering. */
    partitionKeyFn: Option[org.apache.spark.sql.Column =>
      org.apache.spark.sql.Column] = None,
    genesisReplica: Boolean = false,
    importMode: Boolean = false,
    /** Compacted-topic expunge (P20): hard deletes additionally publish a
      * null-value tombstone under the resource key
      * (reference: tombstone_publisher.rb:14-21). */
    tombstones: Boolean = false,
    /** Wire shape contract: one event with one record per envelope — what
      * this engine's producer (and the reference's per-record publish)
      * always writes. Enables the no-generator fast-path decode
      * ([[graft.codec.EnvelopeCodec.decodeSingleRecords]]). MUST be set
      * false for foreign topics whose producers batch several
      * events/records per message: on the fast path a multi-record
      * envelope raises (no silent truncation), and with the default
      * dead-letter option that parks the whole micro-batch in the DLQ
      * until the flag is corrected. */
    singleRecordWire: Boolean = true)

/** `dependencyModels` declares `with:`-only dependency models that are
  * never published directly but must be resolvable for sideload schemas —
  * the analogue of the reference registering the Ruby model class without
  * a `publish` line. */
final case class Registry(namespace: String, topics: Seq[TopicDef],
    dependencyModels: Seq[ModelDef] = Nil) {

  /** `"{namespace}_{name}"` (reference: topic_name.rb:12-14); genesis
    * replica gets a `_genesis` suffix (registry.rb:62-68). */
  def topicName(t: TopicDef): String = s"${namespace}_${t.name}"
  def genesisTopicName(t: TopicDef): String = s"${topicName(t)}_genesis"

  def allModels: Seq[ModelDef] = topics.flatMap(_.models).distinctBy(_.name)

  /** Resolve a model by name — published models first, then `with:`-only
    * dependency models (the reference resolves either through the same
    * Ruby constant lookup, registry.rb:78-80). */
  def modelDef(name: String): Option[ModelDef] =
    allModels.find(_.name == name).orElse(dependencyModels.find(_.name == name))

  /** Topics a model publishes to — the P3 fan-out mapping
    * (reference: publishable.rb:71-84). */
  def topicsFor(model: String): Seq[String] =
    topics.filter(_.models.exists(_.name == model)).map(topicName)

  /** Models that are *only* `with:` dependencies — Genesis must refuse them
    * (P19, reference: genesis.rb:25-30,49-62). */
  def dependencyOnlyModels: Set[String] = {
    val published = topics.flatMap(_.models.map(_.name)).toSet
    val deps = allModels.flatMap(_.sideloads).toSet
    deps -- published
  }

  def requireGenesisAllowed(model: String): Unit =
    require(!dependencyOnlyModels.contains(model),
      s"Genesis cannot be executed for dependency-only model $model — stream its parent instead")

  /** Plan-time validation (reference: validator.rb:82-102): every observed
    * attribute must be a declared column of the observed model, and every
    * observer association path — including dotted chains
    * (producer.rb:110-115) — must walk declared associations and end at
    * the model that declared the observer. Rejects a bad registry without
    * starting Spark: the failure surfaces at registration, not when the
    * first matching changeset arrives mid-stream. */
  def validate(): Unit = {
    for {
      m <- allModels
      o <- m.observers
      target <- modelDef(o.model)
      attr <- o.attributes
    } require(
      target.attributes.exists(_.name == attr) || graft.model.Schemas.reservedAttrs.contains(attr),
      s"observer on ${o.model} references unknown attribute $attr")
    for (m <- allModels; o <- m.observers) {
      val observed = modelDef(o.model).getOrElse(
        throw new IllegalArgumentException(
          s"observer on ${m.name} references unknown model ${o.model}"))
      val end = o.association.split('.').foldLeft(observed) { (cur, seg) =>
        val assoc = (cur.hasMany ++ cur.hasOne).find(_.name == seg).getOrElse(
          throw new IllegalArgumentException(
            s"observer path ${o.association} on ${o.model}: segment $seg " +
              s"is not a declared association of ${cur.name}"))
        modelDef(assoc.model).getOrElse(
          throw new IllegalArgumentException(
            s"observer path ${o.association} on ${o.model}: unknown model " +
              assoc.model))
      }
      require(end.name == m.name,
        s"observer path ${o.association} on ${o.model} ends at ${end.name}, " +
          s"but ${m.name} declared it")
    }
  }
}
