package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.registry._
import graft.streaming.{ParquetReplica, Replica}

/** Scale-path guarantees of the engine's consumer half: bucket-pruned
  * reads (C12 capture), key-column disassociation (C11), empty-slice
  * skipping, live-mode storage maintenance, genesis pacing, and the
  * multi-record wire path — the behaviors that decide whether a
  * micro-batch costs O(batch) or O(table) at 100 TB. */
class EngineScaleSpec extends SparkSpec {
  import spark.implicits._

  /** Replica proxy counting FULL-table reads issued by the engine — the
    * anti-pattern these tests exist to keep out of the merge hot path.
    * Bucket-pruned and column-pruned reads delegate without counting. */
  private final class CountingReplica(val underlying: ParquetReplica)
      extends Replica {
    val fullReads = new java.util.concurrent.atomic.AtomicInteger()
    def read(): DataFrame = { fullReads.incrementAndGet(); underlying.read() }
    override def read(columns: Seq[String]): DataFrame =
      underlying.read(columns)
    override def readBuckets(keys: DataFrame): DataFrame =
      underlying.readBuckets(keys)
    override def neverCommitted: Boolean = underlying.neverCommitted
    def merge(updates: DataFrame,
        prepare: (DataFrame, DataFrame) => DataFrame): Unit =
      underlying.merge(updates, prepare)
    def destroy(ids: DataFrame, idCol: String): Unit =
      underlying.destroy(ids, idCol)
    def transform(f: DataFrame => DataFrame): Unit = underlying.transform(f)
    def vacuum(retainVersions: Int): Unit = underlying.vacuum(retainVersions)
    def withLock[A](f: => A): A = underlying.withLock(f)
  }

  test("ParquetReplica.readBuckets opens only the touched bucket files") {
    val tmp = Files.createTempDirectory("graft-readbuckets").toString
    val rep = new ParquetReplica(spark, tmp,
      "synced_id LONG, synced_updated_at TIMESTAMP, synced_created_at TIMESTAMP, " +
        "synced_canceled_at TIMESTAMP, v DOUBLE", buckets = 16)
    rep.merge((1L to 200L).toDF("synced_id")
      .withColumn("event_type", lit("updated"))
      .withColumn("synced_updated_at", lit("2026-01-01 00:00:00").cast("timestamp"))
      .withColumn("synced_created_at", col("synced_updated_at"))
      .withColumn("canceled_at", lit(null).cast("timestamp"))
      .withColumn("v", col("synced_id") * 1.0))
    val keys = Seq(3L, 17L).toDF("synced_id")
    val pruned = rep.readBuckets(keys)
    val expectBuckets = Seq(3L, 17L).toDF("id")
      .select(pmod(hash($"id"), lit(16))).as[Int].collect().toSet
    // file-level: only the touched buckets' directories are in the plan
    val openedBuckets = pruned.inputFiles
      .map(f => "__b=(\\d+)".r.findFirstMatchIn(f).get.group(1).toInt).toSet
    assert(openedBuckets == expectBuckets, s"opened $openedBuckets")
    assert(pruned.inputFiles.length < rep.read().inputFiles.length)
    // row-level: pruned ⊇ the requested keys, ⊆ the full table
    val ids = pruned.select("synced_id").as[Long].collect().toSet
    assert(Set(3L, 17L).subsetOf(ids) && ids.subsetOf((1L to 200L).toSet))
  }

  /** The C11 fixture: `order` 1-8 sideloads `order_line` 1-32 (four lines
    * per order, FK `order_id`). `orderChange` feeds parent updates; the
    * lines in `dropped` vanish from the sideload snapshot, so the next
    * republish of their parent disassociates them. */
  private final class C11Fixture(regName: String) {
    val tmp = Files.createTempDirectory(s"graft-$regName").toString
    val src = s"$tmp/src"
    val work = s"$tmp/work"
    val reg = Registry(regName, Seq(TopicDef("orders", Seq(ModelDef("order",
        attributes = Seq(Attribute("total", org.apache.spark.sql.types.DoubleType)),
        hasMany = Seq(Association("order_lines", "order_line", fk = "order_id")),
        sideloads = Seq("order_line"))))),
      dependencyModels = Seq(ModelDef("order_line",
        attributes = Seq(Attribute("order_id", org.apache.spark.sql.types.LongType),
          Attribute("qty", org.apache.spark.sql.types.DoubleType)))))
    @volatile var dropped: Set[Long] = Set.empty
    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        s.readStream.schema(s.read.parquet(s"$src/f1").schema).parquet(s"$src/*")
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        (1L to 32L).filterNot(dropped).toDF("id")
          .select($"id", (($"id" - 1) / lit(4) + 1).cast("long").as("order_id"),
            ($"id" * 1.0).as("qty"),
            lit("2026-05-02 00:00:00").cast("timestamp").as("__ts"))
    }
    def orderChange(ids: Seq[Long], file: String, ts: String,
        op: String = "update"): Unit =
      ids.toDF("id").select($"id", ($"id" * 100.0).as("total"),
          lit(op).as("__op"),
          lit(null).cast("timestamp").as("__old_canceled"),
          lit(null).cast("timestamp").as("__new_canceled"),
          lit(ts).cast("timestamp").as("__ts"))
        .write.parquet(s"$src/$file")
    def run(opts: Engine.EngineOptions = Engine.EngineOptions()): Engine.EngineResult =
      Engine.runAvailableNow(spark, reg, bindings, work, options = opts)
    def childIds(res: Engine.EngineResult): Set[Long] =
      res.replicas("order_line").read()
        .select("synced_id").as[Long].collect().toSet
  }

  /** C11 disassociation with C12 capture on, every model replica behind a
    * [[CountingReplica]]: the dropped child leaves the replica, and no
    * engine path reads a full model table. */
  private def c11WithoutFullReads(mergeOnRead: Boolean): Unit = {
    val fx = new C11Fixture(if (mergeOnRead) "nscm" else "nsc")
    // compaction never runs on its own here: under merge-on-read the child
    // replica still holds pending delta epochs when the drop arrives
    val compactEvery = 100
    // every replica the engine touches goes through the counting proxy;
    // C12 tracking is ON, so the capture path runs too
    val proxies = scala.collection.concurrent.TrieMap.empty[String, CountingReplica]
    val opts = Engine.EngineOptions(
      publishConsumedEvents = true, trackLocalChanges = true,
      mergeOnRead = mergeOnRead, replicaCompactEvery = compactEvery,
      replicaFactory = Some((s, m, root) => proxies.getOrElseUpdate(m.name,
        new CountingReplica(new ParquetReplica(s, root, m.replicaSchema.toDDL,
          buckets = m.buckets, mergeOnRead = mergeOnRead,
          compactEvery = compactEvery)))))

    fx.orderChange(1L to 8L, "f1", "2026-05-01 00:00:00")
    fx.run(opts)
    val child = proxies("order_line").underlying
    if (mergeOnRead) assert(child.deltaEntries(child.currentVersion).nonEmpty,
      "the child replica must hold pending delta epochs")
    // parent 1 republishes with line 4 gone — the disassociating merge
    fx.dropped = Set(4L)
    fx.orderChange(Seq(1L), "f2", "2026-05-03 00:00:00")
    val res = fx.run(opts)
    val scans = proxies.map { case (n, p) => n -> p.fullReads.get() }.toMap

    // correctness: the vanished child disassociated, everything else kept
    val left = fx.childIds(res)
    assert(left == (1L to 32L).toSet - 4L, s"got $left")
    // the destroy folded the pending epochs before its anti-join
    if (mergeOnRead) assert(child.deltaEntries(child.currentVersion).isEmpty,
      "the C11 destroy must fold the delta log first")
    // THE point: no engine path issued a full-table read — C12 captures
    // went through readBuckets, C11 key resolution through read(columns)
    assert(scans.values.sum == 0, s"full-table reads during merges: $scans")
    // the child replica is the only table C11 reads or writes
    val keyIdx = Files.walk(java.nio.file.Paths.get(fx.work))
      .filter(_.getFileName.toString.contains("__keyidx")).count()
    assert(keyIdx == 0, "no key-index directory may be created")
  }

  test("C11/C12: merge, capture and disassociation never read a full table") {
    c11WithoutFullReads(mergeOnRead = false)
  }

  test("C11/C12 under merge-on-read: the dropped child leaves a replica " +
      "with pending delta epochs, with no full read") {
    c11WithoutFullReads(mergeOnRead = true)
  }

  test("merge-on-read: a batch that drops no child appends exactly one " +
      "epoch to the child replica, and no destroy publishes") {
    val fx = new C11Fixture("nsk")
    val opts = Engine.EngineOptions(mergeOnRead = true, replicaCompactEvery = 100)
    fx.orderChange(1L to 8L, "f1", "2026-05-01 00:00:00")
    val t = fx.run(opts).replicas("order_line").asInstanceOf[ParquetReplica]
    val (v, deltas) = t.currentVersion -> t.deltaEntries(t.currentVersion)
    // parent 1 republishes with all four lines: C11 runs, dooms nothing
    fx.orderChange(Seq(1L), "f2", "2026-05-03 00:00:00")
    assert(fx.childIds(fx.run(opts)) == (1L to 32L).toSet)
    // one version, one appended epoch: no fold and no destroy publish
    assert(t.currentVersion == v + 1, s"v$v -> v${t.currentVersion}")
    val now = t.deltaEntries(t.currentVersion)
    assert(now.size == deltas.size + 1 && now.startsWith(deltas),
      s"expected one appended epoch: $deltas -> $now")
  }

  test("merge-on-read: a batch carrying a parent destroy appends exactly " +
      "one epoch to the parent replica, which keeps the destroyed attributes") {
    val fx = new C11Fixture("nsd")
    val opts = Engine.EngineOptions(mergeOnRead = true, replicaCompactEvery = 100)
    fx.orderChange(1L to 8L, "f1", "2026-05-01 00:00:00")
    val parent = fx.run(opts).replicas("order").asInstanceOf[ParquetReplica]
    val (v, deltas) = parent.currentVersion -> parent.deltaEntries(parent.currentVersion)
    // order 3 is deleted (a key-only destroy on the wire) while 4 updates
    fx.orderChange(Seq(3L), "f2", "2026-05-03 00:00:00", op = "delete")
    fx.orderChange(Seq(4L), "f3", "2026-05-03 00:00:00")
    val res = fx.run(opts)
    val order = res.replicas("order").asInstanceOf[ParquetReplica]
    assert(order.currentVersion == v + 1, s"v$v -> v${order.currentVersion}")
    val now = order.deltaEntries(order.currentVersion)
    assert(now.size == deltas.size + 1 && now.startsWith(deltas),
      s"expected one appended epoch: $deltas -> $now")
    // the destroy soft-deletes and keeps the stored attribute
    val three = order.read().filter($"synced_id" === 3L)
      .select($"total", $"synced_canceled_at".isNotNull).as[(Double, Boolean)]
      .collect().toSeq
    assert(three == Seq((300.0, true)), s"order 3: $three")
  }

  test("C11 on a resumed workDir disassociates children merged before " +
      "the restart") {
    val fx = new C11Fixture("nsb")
    fx.orderChange(1L to 8L, "f1", "2026-05-01 00:00:00")
    fx.run()
    // a second engine run on the same workDir: parent 1 republishes with
    // line 4 gone, and C11 must find line 4 among the children the first
    // run merged, not only among this batch's {1,2,3}
    fx.dropped = Set(4L)
    fx.orderChange(Seq(1L), "f2", "2026-05-03 00:00:00")
    val left = fx.childIds(fx.run())
    assert(left == (1L to 32L).toSet - 4L, s"got $left")
  }

  test("models absent from a micro-batch skip their merge path entirely") {
    val tmp = Files.createTempDirectory("graft-skip").toString
    val chg = s"$tmp/chg"
    // the change feed carries ONLY click rows; view exists in the registry
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "value")
      .withColumn("__op", lit("update"))
      .withColumn("__old_canceled", lit(null).cast("timestamp"))
      .withColumn("__new_canceled", lit(null).cast("timestamp"))
      .withColumn("__ts", lit("2026-07-01 00:00:00").cast("timestamp"))
      .write.parquet(chg)
    val click = ModelDef("click",
      attributes = Seq(Attribute("value", org.apache.spark.sql.types.DoubleType)))
    val view = ModelDef("view",
      attributes = Seq(Attribute("value", org.apache.spark.sql.types.DoubleType)))
    val reg = Registry("skp", Seq(TopicDef("events", Seq(click, view))))
    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) = {
        val base = s.readStream.schema(s.read.parquet(chg).schema).parquet(chg)
        if (m.name == "click") base else base.filter(lit(false))
      }
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        throw new UnsupportedOperationException("no sideloads")
    }
    val res = Engine.runAvailableNow(spark, reg, bindings, s"$tmp/work")
    assert(res.replicas("click").read().count() == 2)
    assert(res.replicas("view").read().count() == 0)
    // the skip is structural, not just empty output: the view replica was
    // never merged, so it has no committed version at all — previously
    // every model paid keep-latest + merge jobs per batch, rows or not
    assert(!new java.io.File(s"$tmp/work/replicas/view/LATEST").exists(),
      "empty model slice must not publish a replica version")
    assert(new java.io.File(s"$tmp/work/replicas/click/LATEST").exists())
  }

  test("live mode: maintenance cadence bounds replica version count") {
    val tmp = Files.createTempDirectory("graft-maint").toString
    val src = s"$tmp/src"
    new java.io.File(src).mkdirs()
    // every batch updates the SAME key: each merge supersedes the previous
    // version's bucket file, so version dirs become unreachable as they age
    // out of retention — the accumulation the maintenance loop must bound
    // (batches touching disjoint buckets stay reachable by reference and
    // are correctly NOT reclaimed)
    def emit(i: Int): Unit =
      Seq((1L, i * 1.0)).toDF("user_id", "value")
        .select($"user_id", $"value", lit("click").as("event_type"),
          (lit(1735689600000000L + i * 1000000L) * 1000).as("ts"))
        .write.parquet(s"$src/f$i")
    emit(1)
    val reg = Registry("mnt", Seq(TopicDef("events", models = Seq(
      ModelDef("click",
        attributes = Seq(Attribute("value", org.apache.spark.sql.types.DoubleType)))))))
    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        s.readStream.schema(s.read.parquet(s"$src/f1").schema)
          .parquet(s"$src/*")
          .transform(graft.queries.Q.normalizeEventTs)
          .select($"user_id".as("id"), $"value",
            lit("update").as("__op"),
            lit(null).cast("timestamp").as("__old_canceled"),
            lit(null).cast("timestamp").as("__new_canceled"),
            $"ts".as("__ts"))
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        throw new UnsupportedOperationException("no sideloads")
    }
    val (queries, res) = Engine.start(spark, reg, bindings, s"$tmp/work",
      options = Engine.EngineOptions(maintainEvery = 2, retainVersions = 1),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    try {
      def await(pred: () => Boolean, what: String): Unit = {
        val deadline = System.nanoTime() + 90L * 1000000000L
        while (!pred() && System.nanoTime() < deadline) Thread.sleep(150)
        assert(pred(), s"timed out waiting for $what")
      }
      // 6 separate merge batches — 3× the retention window
      (1 to 6).foreach { i =>
        if (i > 1) emit(i)
        await(() => res.replicas("click").read()
          .filter($"value" === i * 1.0).count() == 1, s"update $i")
      }
      val probe = new ParquetReplica(spark, s"$tmp/work/replicas/click",
        reg.allModels.head.replicaSchema.toDDL)
      assert(probe.currentVersion >= 5, s"v=${probe.currentVersion}")
      // wait for the next maintenance tick to land, then check the bound
      await(() => versionDirs(s"$tmp/work/replicas/click") <= 4, "vacuum")
      val dirs = versionDirs(s"$tmp/work/replicas/click")
      // retainVersions=1 keeps ≤2 reachable versions; ≤2 more may appear
      // between maintenance ticks (maintainEvery=2) — bounded, not ∝ batches
      assert(dirs <= 4, s"$dirs version dirs survived maintenance")
      assert(res.replicas("click").read().count() == 1)
    } finally queries.foreach(_.stop())
  }

  private def versionDirs(root: String): Int =
    Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty)
      .count(f => f.isDirectory && f.getName.matches("v\\d+"))

  test("genesis pacing: paced backfill drains in bounded micro-batches") {
    val tmp = Files.createTempDirectory("graft-pace").toString
    val chg = s"$tmp/chg"
    Seq((1L, 10.0)).toDF("id", "total")
      .withColumn("__op", lit("update"))
      .withColumn("__old_canceled", lit(null).cast("timestamp"))
      .withColumn("__new_canceled", lit(null).cast("timestamp"))
      .withColumn("__ts", lit("2026-04-02 00:00:00").cast("timestamp"))
      .write.parquet(chg)
    val snap = spark.range(1, 13)
      .select($"id", ($"id" * 10.0).as("total"))
      .withColumn("__ts", lit("2026-04-01 00:00:00").cast("timestamp"))
    val reg = Registry("pac", Seq(TopicDef("orders",
      models = Seq(ModelDef("order",
        attributes = Seq(Attribute("total", org.apache.spark.sql.types.DoubleType)))),
      genesisReplica = true)))
    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        s.readStream.schema(s.read.parquet(chg).schema).parquet(chg)
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) = snap
    }
    // the backfill lands as 4 files; consumers pull at most 1 per trigger
    Engine.genesis(spark, reg, bindings, "order", s"$tmp/work", paceFiles = 4)
    val res = Engine.runAvailableNow(spark, reg, bindings, s"$tmp/work",
      options = Engine.EngineOptions(sourceMaxFilesPerTrigger = Some(1)))
    // everything arrived — backfill AND the live change
    assert(res.replicas("order").read().count() == 12)
    // …and the genesis topic drained over ≥4 rate-limited micro-batches
    // (one committed offset per batch), while the primary topic ran as its
    // own parallel query — a backfill cannot monopolize a trigger
    val offsets = Option(new java.io.File(
        s"$tmp/work/cp/consume/pac_orders_genesis/offsets").listFiles())
      .getOrElse(Array.empty).count(_.getName.matches("\\d+"))
    assert(offsets >= 4, s"genesis drained in only $offsets batches")
  }

  test("a child shared by two topics merges concurrently without divergence") {
    val tmp = Files.createTempDirectory("graft-sharedchild").toString
    val src = s"$tmp/src"
    // order (topic A) and invoice (topic B) both sideload `item`: their
    // consumer queries run CONCURRENTLY and both merge the item replica —
    // the per-root lock must keep either from losing the other's rows
    val orderDef = ModelDef("order",
      attributes = Seq(Attribute("total", org.apache.spark.sql.types.DoubleType)),
      hasMany = Seq(Association("items", "item", fk = "order_id")),
      sideloads = Seq("item"))
    val invoiceDef = ModelDef("invoice",
      attributes = Seq(Attribute("total", org.apache.spark.sql.types.DoubleType)),
      hasMany = Seq(Association("items", "item", fk = "invoice_id")),
      sideloads = Seq("item"))
    val itemDef = ModelDef("item",
      attributes = Seq(
        Attribute("order_id", org.apache.spark.sql.types.LongType),
        Attribute("invoice_id", org.apache.spark.sql.types.LongType)))
    val reg = Registry("shc", Seq(
      TopicDef("orders", Seq(orderDef)),
      TopicDef("invoices", Seq(invoiceDef))),
      dependencyModels = Seq(itemDef))

    def change(ids: Seq[Long], dir: String, ts: String): Unit =
      ids.toDF("id").select($"id", ($"id" * 10.0).as("total"),
          lit("update").as("__op"),
          lit(null).cast("timestamp").as("__old_canceled"),
          lit(null).cast("timestamp").as("__new_canceled"),
          lit(ts).cast("timestamp").as("__ts"))
        .write.mode("append").parquet(dir)
    change(1L to 8L, s"$src/order", "2026-07-01 00:00:00")
    change(1L to 8L, s"$src/invoice", "2026-07-01 00:00:00")
    // items 1-32 belong to orders, 101-132 to invoices: ONE union
    // snapshot serves both parents — each embeds children through its
    // own FK, disjoint id ranges flow through one shared replica
    val base = (1L to 32L).toDF("n")
    val itemsSnap =
      base.select($"n".as("id"),
          (($"n" - 1) / lit(4) + 1).cast("long").as("order_id"),
          lit(null).cast("long").as("invoice_id"))
        .unionByName(base.select(($"n" + 100).as("id"),
          lit(null).cast("long").as("order_id"),
          (($"n" - 1) / lit(4) + 1).cast("long").as("invoice_id")))
        .withColumn("__ts", lit("2026-07-01 00:00:00").cast("timestamp"))
    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) = {
        val dir = if (m.name == "order") s"$src/order" else s"$src/invoice"
        s.readStream.schema(s.read.parquet(s"$src/order").schema).parquet(dir)
      }
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) = itemsSnap
    }
    // both topics' consumer queries run CONCURRENTLY into `item`
    val res = Engine.runAvailableNow(spark, reg, bindings, s"$tmp/work")

    val items = res.replicas("item").read()
    val ids = items.select("synced_id").as[Long].collect().toSet
    // every order's items and every invoice's items arrived through the
    // two concurrent writers; nothing lost to interleaved merges
    assert(ids == ((1L to 32L) ++ (101L to 132L)).toSet, s"got $ids")
  }

  test("two models sharing an association name keep per-model link gates") {
    val tmp = Files.createTempDirectory("graft-assocname").toString
    val work = s"$tmp/work"
    // order.hasMany("items" -> a_item) and invoice.hasMany("items" ->
    // b_item) on ONE topic: the C11 participation gate must attribute
    // links.items counts per (model, association), never share them
    val orderDef = ModelDef("order",
      attributes = Seq(Attribute("total", org.apache.spark.sql.types.DoubleType)),
      hasMany = Seq(Association("items", "a_item", fk = "order_id")),
      sideloads = Seq("a_item"))
    val invoiceDef = ModelDef("invoice",
      attributes = Seq(Attribute("total", org.apache.spark.sql.types.DoubleType)),
      hasMany = Seq(Association("items", "b_item", fk = "invoice_id")),
      sideloads = Seq("b_item"))
    val aItem = ModelDef("a_item",
      attributes = Seq(Attribute("order_id", org.apache.spark.sql.types.LongType)))
    val bItem = ModelDef("b_item",
      attributes = Seq(Attribute("invoice_id", org.apache.spark.sql.types.LongType)))
    val reg = Registry("mx", Seq(TopicDef("mix", Seq(orderDef, invoiceDef))),
      dependencyModels = Seq(aItem, bItem))

    def ts(s: String) = s""""created_at":"$s","updated_at":"$s","canceled_at":null"""
    def child(fk: String, pid: Long, id: Long, t: String) =
      s"""{"id":$id,"$fk":$pid,${ts(t)}}"""
    def parent(model: String, dep: String, fk: String, id: Long, t: String,
        items: Option[Seq[Long]]) = {
      val links = items.map(is =>
        s""","links":{"items":[${is.mkString(",")}]},""" +
          s""""$dep":[${is.map(child(fk, id, _, t)).mkString(",")}]""").getOrElse("")
      s"""{"id":$id,"total":${id * 10.0},${ts(t)}$links}"""
    }
    def envelope(model: String, payload: String) =
      s"""{"message":[{"event":"${model}_updated","model_name":"$model","data":[$payload]}]}"""
    def write(rows: (String, String)*): Unit =
      rows.toSeq.toDF("kafka_key", "value")
        .withColumn("partition_key", lit(null).cast("string"))
        .withColumn("ts", lit("2026-06-01 00:00:00").cast("timestamp"))
        .select("kafka_key", "partition_key", "value", "ts")
        .write.mode("append").parquet(s"$work/topics/mx_mix")

    val empty = s"$tmp/empty"
    Seq.empty[(Long, Double)].toDF("id", "total")
      .withColumn("__op", lit("update"))
      .withColumn("__old_canceled", lit(null).cast("timestamp"))
      .withColumn("__new_canceled", lit(null).cast("timestamp"))
      .withColumn("__ts", lit(null).cast("timestamp"))
      .write.parquet(empty)
    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        s.readStream.schema(s.read.parquet(empty).schema).parquet(empty)
      // the producer contributes nothing; sideload embedding still asks
      // for a snapshot frame per dependency model
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType) +:
              m.attributes.map(a => org.apache.spark.sql.types.StructField(a.name, a.dataType)) :+
              org.apache.spark.sql.types.StructField("__ts",
                org.apache.spark.sql.types.TimestampType)))
    }

    // seed: order 1 owns a_items {1,2}; invoice 1 owns b_items {10,11}
    write(
      "order:1" -> envelope("order",
        parent("order", "a_item", "order_id", 1, "2026-06-01 00:00:00", Some(Seq(1L, 2L)))),
      "invoice:1" -> envelope("invoice",
        parent("invoice", "b_item", "invoice_id", 1, "2026-06-01 00:00:00", Some(Seq(10L, 11L)))))
    Engine.runAvailableNow(spark, reg, bindings, work)

    // order 1 republishes with item 2 gone (participates in C11);
    // invoice 1 republishes with NO links at all (observer shape — must
    // NOT disassociate its items)
    write(
      "order:1" -> envelope("order",
        parent("order", "a_item", "order_id", 1, "2026-06-02 00:00:00", Some(Seq(1L)))),
      "invoice:1" -> envelope("invoice",
        parent("invoice", "b_item", "invoice_id", 1, "2026-06-02 00:00:00", None)))
    val res = Engine.runAvailableNow(spark, reg, bindings, work)

    val aLeft = res.replicas("a_item").read()
      .select("synced_id").as[Long].collect().toSet
    val bLeft = res.replicas("b_item").read()
      .select("synced_id").as[Long].collect().toSet
    assert(aLeft == Set(1L), s"a_item: $aLeft")
    assert(bLeft == Set(10L, 11L), s"b_item: $bLeft")
  }

  test("scale curves: IVF probe cost is linear in corpus and a bounded " +
      "fraction of brute force; graph rounds are copy-invariant") {
    // The round-9 10x/100x dedup measurement (PERF.md) extended to the
    // ANN and graph families, as DETERMINISTIC structural pins — counts
    // and round trajectories, not wall-clock, so the curve holds on any
    // box. Measured timings for the same constructions at sf0.1 live in
    // PERF.md ("Measured scale-up: ANN + graph", round 10).
    import graft.ext.{Graphs, Similarity}
    val emb = graft.queries.Q.tbl(spark, sf(), "embeddings")
      .select($"vec_id".cast("long").as("id"),
        $"embedding".cast("array<double>").as("embedding"))
    def corpusX(times: Int): DataFrame =
      (0 until times).map(c =>
        emb.select(($"id" + c * 10000000L).as("id"), $"embedding"))
        .reduce(_ unionByName _)
    val queries = emb.filter($"id" < 16)
    val nQueries = queries.count()
    // centroids fixed across scales (fit once) — the production shape:
    // the coarse quantizer is a published constant, the corpus grows
    val cents = Similarity.ivfCentroids(emb, "id", "embedding",
      nCentroids = 16, seed = 42L)
    def probeCandidates(corpus: DataFrame): Long = {
      val assigned = Similarity.assignCells(
        corpus.select($"id".as("nid"), $"embedding".as("cv")), "cv", cents)
      val probes = Similarity.probeCells(
        queries, "id", "embedding", cents, nProbe = 4)
      assigned.join(broadcast(probes), "cell").count()
    }
    val c1 = probeCandidates(corpusX(1))
    val c8 = probeCandidates(corpusX(8))
    // 8x the corpus (identical copies → identical cell shapes) scores
    // EXACTLY 8x the candidates: probe cost is linear in corpus size,
    // with the per-query scan bounded by the probed cells — never the
    // quadratic queries x corpus of brute force
    assert(c8 == 8 * c1, s"probe candidates not linear: $c1 -> $c8")
    val brute = emb.count() * nQueries
    assert(c1 * 2 <= brute,
      s"probed fraction not bounded: $c1 candidates vs $brute brute pairs")

    // graphs: 8 vocabulary-disjoint copies leave the ROUND STRUCTURE
    // invariant — k-core peels each copy independently (per-round alive
    // counts scale exactly 8x, rounds unchanged) and label-prop
    // converges to exactly 8x the components in the same iterations.
    // An algorithm whose round count grew with corpus SIZE (not
    // diameter) would fail this pin at any replication factor.
    val docs = graft.queries.Q.tbl(spark, sf(), "documents")
      .select($"doc_id".cast("long").as("doc_id"))
    def edgesX(times: Int): DataFrame = {
      val e1 = Graphs.syntheticEdges(docs, "doc_id")
      (0 until times).map(c =>
        e1.select(($"src" + c * 10000000L).as("src"),
          ($"dst" + c * 10000000L).as("dst")))
        .reduce(_ unionByName _)
    }
    val k1 = Graphs.kCoreRounds(edgesX(1), k = 3, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val k8 = Graphs.kCoreRounds(edgesX(8), k = 3, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k1.keySet == k8.keySet)
    for ((round, alive) <- k1)
      assert(k8(round) == 8 * alive,
        s"k-core round $round: ${k8(round)} != 8 * $alive")
    val comp1 = graft.ext.Graphs.labelPropagation(edgesX(1), iters = 5)
      .select($"label").distinct().count()
    val comp8 = graft.ext.Graphs.labelPropagation(edgesX(8), iters = 5)
      .select($"label").distinct().count()
    assert(comp8 == 8 * comp1, s"label-prop components: $comp1 -> $comp8")
  }

  test("scale curves: BM25 probe candidates are isin-pruning-invariant " +
      "under vocabulary-disjoint growth; chunk corpus scales exactly") {
    // The retrieval-family companion of the ANN/graph pins above, as
    // DETERMINISTIC structure (counts, not wall-clock): growing the
    // corpus with vocabulary-disjoint copies (copy c appends ~c to
    // every token — the round-9 dedup construction) must leave a
    // copy-0 probe batch's pruned candidate set IDENTICAL, because the
    // isin gate admits only copy-0 tokens. What grows is the postings
    // scan, never the shuffled candidates — the invariant that makes
    // the standing-index probe sublinear at 100 TB (file-level pruning
    // removes the scan too once postings are bucketed by token).
    // Measured ×1/×8 wall-clock for the same constructions at sf0.1:
    // PERF.md "Measured scale-up: retrieval" (round 11).
    import graft.ext.{TextAnalysis, TextSearch}
    val docs = graft.queries.Q.tbl(spark, sf(), "documents")
      .select($"doc_id".cast("long").as("doc_id"), $"text")
    def corpusX(times: Int): DataFrame =
      (0 until times).map { c =>
        if (c == 0) docs
        else docs.select(($"doc_id" + c * 10000000L).as("doc_id"),
          regexp_replace($"text", "(\\S+)", "$1~" + c).as("text"))
      }.reduce(_ unionByName _)
    val probes = docs.filter($"doc_id" % 50 === 0)
      .select($"doc_id",
        concat_ws(" ", slice(split($"text", " "), 1, 5)).as("q"))
      .collect().map(r => (r.getLong(0).toInt, r.getString(1)))
      .toSeq.sortBy(_._1).take(8)
    val qterms = probes.flatMap(_._2.split(" ")).distinct
    val idx1 = TextSearch.buildBm25Index(corpusX(1), "doc_id", "text")
    val idx8 = TextSearch.buildBm25Index(corpusX(8), "doc_id", "text")
    // the index itself is linear: disjoint copies add disjoint postings
    assert(idx8.nDocs == 8 * idx1.nDocs &&
      idx8.totalTokens == 8 * idx1.totalTokens)
    assert(idx8.postings.count() == 8 * idx1.postings.count())
    // the PRUNED candidate set — the only rows that ever shuffle — is
    // EXACTLY invariant under 8x growth
    val p1 = idx1.postings.filter($"tok".isin(qterms: _*)).count()
    val p8 = idx8.postings.filter($"tok".isin(qterms: _*)).count()
    assert(p1 > 0 && p8 == p1,
      s"pruned candidates must not grow with disjoint corpus: $p1 -> $p8")
    // per-term document frequency is invariant too (df feeds the IDF)
    val df1 = idx1.postings.filter($"tok".isin(qterms: _*))
      .groupBy($"tok").count().as[(String, Long)].collect().toMap
    val df8 = idx8.postings.filter($"tok".isin(qterms: _*))
      .groupBy($"tok").count().as[(String, Long)].collect().toMap
    assert(df1 == df8)
    // and every answered neighbor at 8x is a copy-0 document — no
    // cross-copy candidate ever reaches ranking
    val nids = TextSearch.bm25TopKOnIndex(idx8, probes, k = 10)
      .select($"nid".cast("long")).as[Long].collect()
    assert(nids.nonEmpty && nids.forall(_ < 10000000L),
      s"cross-copy leak: ${nids.filter(_ >= 10000000L).toSeq}")
    // the x147 chunk corpus is scan-local derivation: exactly linear
    val ch1 = TextAnalysis.chunkWindows(corpusX(1), "doc_id", "text",
      window = 16, stride = 8).count()
    val ch8 = TextAnalysis.chunkWindows(corpusX(8), "doc_id", "text",
      window = 16, stride = 8).count()
    assert(ch1 > 0 && ch8 == 8 * ch1, s"chunks not linear: $ch1 -> $ch8")
  }

  test("multi-record wire: foreign envelopes decode through the general path") {
    val tmp = Files.createTempDirectory("graft-multirec").toString
    val work = s"$tmp/work"
    // a FOREIGN producer batches several events/records per envelope —
    // the engine's own producer never writes this shape
    def payload(id: Long, v: Double) =
      s"""{"id":$id,"value":$v,"created_at":"2026-01-01 00:00:00",""" +
        s""""updated_at":"2026-01-01 00:00:00","canceled_at":null}"""
    def env(events: Seq[(String, Seq[String])]) = {
      val msgs = events.map { case (ev, data) =>
        s"""{"event":"$ev","model_name":"thing","data":[${data.mkString(",")}]}"""
      }
      s"""{"message":[${msgs.mkString(",")}]}"""
    }
    val wire = Seq(
      // one event carrying TWO records
      ("thing:1", env(Seq("thing_updated" -> Seq(payload(1, 1.5), payload(2, 2.5))))),
      // TWO events in one envelope
      ("thing:3", env(Seq(
        "thing_updated" -> Seq(payload(3, 3.5)),
        "thing_updated" -> Seq(payload(4, 4.5))))))
      .toDF("kafka_key", "value")
      .withColumn("partition_key", lit(null).cast("string"))
      .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
      .select("kafka_key", "partition_key", "value", "ts")
    new java.io.File(s"$work/topics").mkdirs()
    wire.write.mode("append").parquet(s"$work/topics/frn_things")

    // the local producer contributes nothing; the topic declares the
    // multi-record contract so consumption takes the general decode
    val reg = Registry("frn", Seq(TopicDef("things",
      models = Seq(ModelDef("thing",
        attributes = Seq(Attribute("value", org.apache.spark.sql.types.DoubleType)))),
      singleRecordWire = false)))
    val empty = s"$tmp/empty"
    Seq.empty[(Long, Double)].toDF("id", "value")
      .withColumn("__op", lit("update"))
      .withColumn("__old_canceled", lit(null).cast("timestamp"))
      .withColumn("__new_canceled", lit(null).cast("timestamp"))
      .withColumn("__ts", lit(null).cast("timestamp"))
      .write.parquet(empty)
    val bindings = new Engine.ModelBindings {
      def changes(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        s.readStream.schema(s.read.parquet(empty).schema).parquet(empty)
      def snapshot(s: org.apache.spark.sql.SparkSession, m: ModelDef) =
        throw new UnsupportedOperationException("no sideloads")
    }
    val res = Engine.runAvailableNow(spark, reg, bindings, work)
    val got = res.replicas("thing").read()
      .select("synced_id", "value").as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 1.5, 2L -> 2.5, 3L -> 3.5, 4L -> 4.5), s"got $got")
  }
}
