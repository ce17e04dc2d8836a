package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Engine
import graft.registry.{Association, Attribute, ModelDef, Registry, TopicDef}

/** The benchmark's own declaration of the `order` aggregate: `order` (from
  * `orders`) sideloads its `order_line` children (from `lineitem`,
  * `id = l_orderkey * 8 + l_linenumber`) through a `hasMany`. Declared here,
  * not borrowed from product code, so the benchmark drives only the
  * engine's public API. `expected.py` mirrors these column names. */
object Aggregate {
  val lineDef: ModelDef = ModelDef("order_line",
    attributes = Seq(Attribute("order_id", LongType), Attribute("partkey", LongType),
      Attribute("quantity", DoubleType), Attribute("extendedprice", DoubleType),
      Attribute("returnflag", StringType)))
  val orderDef: ModelDef = ModelDef("order",
    attributes = Seq(Attribute("custkey", LongType), Attribute("status", StringType),
      Attribute("total", DoubleType), Attribute("priority", StringType)),
    hasMany = Seq(Association("order_lines", "order_line", fk = "order_id")),
    sideloads = Seq("order_line"))
  val registry: Registry = Registry("bench", Seq(TopicDef("orders", Seq(orderDef))),
    dependencyModels = Seq(lineDef))
  val topic: String = registry.topicName(registry.topics.head)

  /** Orders with `o_orderkey % 53 == 7` are soft-deleted in the snapshot,
    * canceled one day before the snapshot time (mirrored by inputs.py and
    * expected.py). */
  val canceledMod = 53
  val canceledRem = 7
  val canceledAgeUs: Long = 86400L * 1000000L

  val changeSchema: StructType = StructType.fromDDL(
    "id BIGINT, custkey BIGINT, status STRING, total DOUBLE, priority STRING, " +
      "__op STRING, __old_canceled TIMESTAMP, __new_canceled TIMESTAMP, __ts TIMESTAMP")

  /** Binds the two models to the generated snapshot and the change-file
    * directory. `dropLines` (line ids) removes children from the line
    * snapshot: the next publish of their parent disassociates them (C11). */
  final class Bindings(snapDir: String, changeDir: String, snapTsUs: Long,
      changeMaxFiles: Option[Int] = None) extends Engine.ModelBindings {
    @volatile var dropLines: Option[DataFrame] = None

    def changes(s: SparkSession, m: ModelDef): DataFrame = {
      require(m.name == "order", s"no change feed for ${m.name}")
      val r = s.readStream.schema(changeSchema)
      changeMaxFiles.foreach(n => r.option("maxFilesPerTrigger", n.toString))
      r.parquet(changeDir)
    }

    def snapshot(s: SparkSession, m: ModelDef): DataFrame = {
      val ts = timestamp_micros(lit(snapTsUs))
      m.name match {
        case "order" =>
          s.read.parquet(s"$snapDir/orders.parquet").select(
            col("o_orderkey").as("id"), col("o_custkey").as("custkey"),
            col("o_orderstatus").as("status"), col("o_totalprice").as("total"),
            col("o_orderpriority").as("priority"), ts.as("__ts"),
            when(col("o_orderkey") % canceledMod === canceledRem,
              timestamp_micros(lit(snapTsUs - canceledAgeUs))).as("__canceled"))
        case "order_line" =>
          val lines = s.read.parquet(s"$snapDir/lineitem.parquet").select(
            (col("l_orderkey") * 8 + col("l_linenumber")).as("id"),
            col("l_orderkey").as("order_id"), col("l_partkey").as("partkey"),
            col("l_quantity").as("quantity"),
            col("l_extendedprice").as("extendedprice"),
            col("l_returnflag").as("returnflag"), ts.as("__ts"))
          dropLines.fold(lines)(d => lines.join(d, Seq("id"), "left_anti"))
        case other => throw new IllegalArgumentException(s"unknown model $other")
      }
    }
  }

  /** One change row of a seeded plan (see inputs.py). */
  final case class PlanRow(file: Int, kind: String, id: Long, custkey: Long,
      status: String, total: Double, priority: String, ref: Int)

  def readPlan(path: String): IndexedSeq[PlanRow] = {
    val lines = Files.readAllLines(Paths.get(path)).toArray(Array.empty[String])
    lines.drop(1).map { l =>
      val f = l.split("\t", -1)
      PlanRow(f(0).toInt, f(1), f(2).toLong, f(3).toLong, f(4), f(5).toDouble,
        f(6), f(7).toInt)
    }.toIndexedSeq
  }

  /** Writes change files from this JVM (no Spark job, a few ms each), under
    * a hidden name, then moves them into place atomically so a polling
    * source never lists a half-written file. Assigns event times: a row's
    * time is its file's due time plus its index in µs; a stale replay sits
    * 1 ms before its key's latest published time; a resend repeats its
    * original exactly. Tracks soft-delete state so cancel and restore rows
    * carry the right column images. */
  final class Feeder(dir: String, plan: IndexedSeq[PlanRow], snapTsUs: Long) {
    private final case class Written(op: String, oldC: Option[Long],
        newC: Option[Long], ts: Long)
    private val written = new Array[Written](plan.size)
    private val lastTs = scala.collection.mutable.HashMap.empty[Long, Long]
    private val cancelTs = scala.collection.mutable.HashMap.empty[Long, Option[Long]]
    private val byFile = plan.indices.groupBy(i => plan(i).file)
    var publishedRows = 0L

    private val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message change {
        |  required int64 id;
        |  required int64 custkey;
        |  required binary status (UTF8);
        |  required double total;
        |  required binary priority (UTF8);
        |  required binary __op (UTF8);
        |  optional int64 __old_canceled (TIMESTAMP(MICROS,true));
        |  optional int64 __new_canceled (TIMESTAMP(MICROS,true));
        |  required int64 __ts (TIMESTAMP(MICROS,true));
        |}""".stripMargin)

    private def canceledAt(id: Long): Option[Long] =
      cancelTs.getOrElse(id,
        if (id % canceledMod == canceledRem) Some(snapTsUs - canceledAgeUs)
        else None)

    private def resolve(i: Int, ts: Long): Written = {
      val r = plan(i)
      def last = lastTs.getOrElse(r.id, snapTsUs)
      val w = r.kind match {
        case "upd" => Written("update", None, None, ts)
        case "ins" => Written("insert", None, None, ts)
        case "cancel" => Written("update", None, Some(ts), ts)
        case "uncancel" => Written("update", canceledAt(r.id), None, ts)
        case "upd_c" =>
          val c = canceledAt(r.id); Written("update", c, c, ts)
        case "stale" => Written("update", None, None, last - 1000L)
        case "resend" => written(r.ref)
        case k => throw new IllegalArgumentException(s"unknown plan kind $k")
      }
      r.kind match {
        case "upd" | "ins" => lastTs(r.id) = ts
        case "cancel" => lastTs(r.id) = ts; cancelTs(r.id) = Some(ts)
        case "uncancel" => lastTs(r.id) = ts; cancelTs(r.id) = None
        case _ =>
      }
      if (r.kind != "upd_c") publishedRows += 1
      w
    }

    /** Writes plan file `file` with event times based at `dueMs`. */
    def feed(file: Int, dueMs: Long): Unit = {
      val idx = byFile.getOrElse(file, IndexedSeq.empty)
      val tmp = Paths.get(dir, s".f-$file.parquet.tmp")
      val conf = new org.apache.hadoop.conf.Configuration()
      org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
      val fac = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
          new org.apache.hadoop.fs.Path(tmp.toUri), conf))
        .withConf(conf).build()
      try idx.zipWithIndex.foreach { case (i, k) =>
        val r = plan(i)
        val wr = resolve(i, dueMs * 1000L + k)
        written(i) = wr
        val g = fac.newGroup()
        g.add("id", r.id); g.add("custkey", r.custkey); g.add("status", r.status)
        g.add("total", r.total); g.add("priority", r.priority); g.add("__op", wr.op)
        wr.oldC.foreach(v => g.add("__old_canceled", v))
        wr.newC.foreach(v => g.add("__new_canceled", v))
        g.add("__ts", wr.ts)
        w.write(g)
      } finally w.close()
      Files.move(tmp, Paths.get(dir, f"f-$file%06d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Copies the final state of both replicas to parquet for expected.py. */
  def dumpReplicas(res: Engine.EngineResult, dir: String): Unit =
    Seq("order", "order_line").foreach { m =>
      res.replicas(m).read().drop("synced_data").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$m")
    }
}
