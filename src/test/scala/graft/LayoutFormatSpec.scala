package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import graft.ext.{AnnIndexStore, Similarity, TextDedup, TextSearch}
import graft.streaming.ParquetReplica

/** Pins the on-disk metadata of every versioned layout byte for byte: a
  * fixed sequence of operations on each store, then the pointer text and
  * the current manifest text after every step against literals. Layouts
  * already on disk must keep reading, so a change to any of these texts
  * is a format change, never a refactor. */
class LayoutFormatSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-fmt-$tag").toString

  private def text(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
      "UTF-8")

  /** (pointer, manifest) after one step. */
  private def snapshot(root: String): (String, String) = {
    val v = text(s"$root/LATEST")
    (v, text(s"$root/v${v.trim}.manifest"))
  }

  private def check(label: String, got: Seq[(String, String)],
      expected: Seq[(String, String)]): Unit = {
    val shown = got.map { case (p, m) =>
      "(" + quote(p) + ", " + quote(m) + ")" }.mkString(",\n")
    assert(got == expected, s"$label layout format moved; got:\n$shown")
  }

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\t", "\\t").replace("\n", "\\n") + "\""

  private val replicaDdl =
    "synced_id BIGINT, synced_updated_at TIMESTAMP, " +
      "synced_created_at TIMESTAMP, synced_canceled_at TIMESTAMP, " +
      "value DOUBLE"

  private def updates(day: Int, rows: (Long, Double)*): DataFrame = {
    val t = Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")
    rows.map { case (id, v) => (id, t, t, null: Timestamp, "updated", v) }
      .toDF("synced_id", "synced_updated_at", "synced_created_at",
        "canceled_at", "event_type", "value")
  }

  test("ParquetReplica: CoW merge, MoR merge, compact and destroy keep " +
      "their manifest and pointer bytes") {
    val root = tmpDir("replica")
    val cow = new ParquetReplica(spark, root, replicaDdl, buckets = 4)
    val mor = new ParquetReplica(spark, root, replicaDdl, buckets = 4,
      mergeOnRead = true)
    val steps = Seq[() => Unit](
      () => cow.merge(updates(1, (1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0))),
      () => mor.merge(updates(2, (2L, 20.0), (5L, 5.0))),
      () => cow.compact(2),
      () => cow.destroy(Seq(Tuple1(3L)).toDF("synced_id")))
    val got = steps.map { s => s(); snapshot(root) }
    check("replica", got, Seq(
      ("0", "B\t4\n0\tv0/__b=0\n1\tv0/__b=1\n3\tv0/__b=3"),
      ("1", "B\t4\n0\tv0/__b=0\n1\tv0/__b=1\n3\tv0/__b=3\nD\t0\tv1/delta-0"),
      ("2", "B\t2\n0\tv2/__b=0\n1\tv2/__b=1"),
      ("3", "B\t2\n0\tv2/__b=0\n1\tv3/__b=1")))
  }

  private def corpus(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"alpha beta w$i w${i % 3} gamma w${i % 5}"))
      .toDF("doc_id", "text")

  test("stored BM25: save, extend and remove keep their manifest and " +
      "pointer bytes") {
    val path = tmpDir("bm25")
    val steps = Seq[() => Unit](
      () => TextSearch.saveBm25Index(
        TextSearch.buildBm25Index(corpus(1 to 8), "doc_id", "text"),
        path, tokBuckets = 4),
      () => TextSearch.extendStoredBm25Index(
        TextSearch.loadBm25Index(spark, path), corpus(9 to 12),
        "doc_id", "text"),
      () => TextSearch.removeFromStoredBm25Index(
        TextSearch.loadBm25Index(spark, path),
        Seq(Tuple1(2L), Tuple1(10L)).toDF("nid"), "nid"))
    val got = steps.map { s => s(); snapshot(path) }
    val schemas = "H\tpostings\tnid BIGINT NOT NULL,dl BIGINT," +
      "tok STRING NOT NULL,tf BIGINT NOT NULL,tok_bucket INT\n" +
      "H\tdoclens\tnid BIGINT NOT NULL,dl BIGINT\n"
    val e0 = "E\tpostings-0\tdoclens-0"
    val e1 = "\nE\tpostings-1\tdoclens-1"
    check("bm25", got, Seq(
      ("0", "S\t8\t48\t4\n" + schemas + e0),
      ("1", "S\t12\t72\t4\n" + schemas + e0 + e1),
      ("2", "S\t10\t60\t4\n" + schemas + e0 + e1 + "\nT\ttomb-2")))
  }

  test("stored MinHash: save, extend and remove keep their manifest and " +
      "pointer bytes") {
    val path = tmpDir("minhash")
    val steps = Seq[() => Unit](
      () => TextDedup.saveMinhashIndex(
        TextDedup.minhashIndex(corpus(1 to 8), "doc_id", "text"),
        path, bandBuckets = 4, docBuckets = 4),
      () => TextDedup.extendStoredMinhashIndex(
        TextDedup.loadMinhashIndex(spark, path), corpus(9 to 12),
        "doc_id", "text"),
      () => TextDedup.removeFromStoredMinhashIndex(
        TextDedup.loadMinhashIndex(spark, path),
        Seq(Tuple1(2L), Tuple1(10L)).toDF("id")))
    val got = steps.map { s => s(); snapshot(path) }
    val schemas = "H\tbands\tband INT NOT NULL,bh BIGINT NOT NULL," +
      "id BIGINT NOT NULL,sz INT,sig ARRAY<BIGINT>,bb INT\n" +
      "H\tdocs\tid BIGINT NOT NULL,sz INT,toks ARRAY<BIGINT>," +
      "sig ARRAY<BIGINT>,db INT\n"
    val head = "S\t16\t8\t2\t4\t4\n" + schemas
    val e0 = "E\tbands-0\tdocs-0"
    val e1 = "\nE\tbands-1\tdocs-1"
    check("minhash", got, Seq(
      ("0", head + e0),
      ("1", head + e0 + e1),
      ("2", head + e0 + e1 + "\nT\ttomb-2")))
  }

  test("AnnIndexStore: init, extend and remove keep their manifest and " +
      "pointer bytes") {
    val vecs = (1 to 24).map(i =>
        (i.toLong, Seq((i % 4).toDouble, (i % 3).toDouble, i.toDouble / 8,
          (i % 2).toDouble)))
      .toDF("vec_id", "embedding")
    val root = tmpDir("ann-root")
    val ann = new AnnIndexStore(spark, root)
    val steps = Seq[() => Unit](
      () => ann.init(Similarity.buildIvfPqIndex(vecs.filter($"vec_id" <= 16),
        "vec_id", "embedding", nCentroids = 2, m = 2, codebookSize = 2)),
      () => ann.extend(vecs.filter($"vec_id" > 16), "vec_id", "embedding"),
      () => ann.remove(Seq(Tuple1(3L)).toDF("vec_id"), "vec_id"))
    val got = steps.map { s => s(); snapshot(root) }
    check("ann", got, Seq(
      ("0", "C\t0\nE\tepoch-0"),
      ("1", "C\t0\nE\tepoch-0\nE\tepoch-1"),
      ("2", "C\t0\nE\tepoch-0\nE\tepoch-1\nT\ttomb-2")))
  }
}
