package graft

import org.apache.spark.sql.functions._
import graft.ext.{Similarity, TextDedup, TextSearch}

/** Persisted standing-index layouts (round 12): BM25 postings
  * partitioned by `tok_bucket` + sorted by `tok`; IVF-PQ codes
  * partitioned by `cell`. The contract under test: storage is an
  * access-path choice, never a semantics choice — save→load→probe is
  * bit-identical to the in-memory index, the driver-side bucket hash
  * agrees with the Spark-side one, and every maintenance entry point
  * accepts a reloaded index unchanged. */
class IndexStorageSpec extends SparkSpec {

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  private lazy val docs =
    spark.read.parquet(s"${sf()}/documents.parquet")
  private lazy val emb =
    spark.read.parquet(s"${sf()}/embeddings.parquet")
  private lazy val qs: Seq[(Int, String)] = docs
    .filter(col("doc_id") % 10 === 0)
    .select(col("doc_id"),
      concat_ws(" ", slice(split(col("text"), " "), 1, 5)).as("q"))
    .collect().map(r => (r.getLong(0).toInt, r.getString(1)))
    .toSeq.sortBy(_._1)

  test("bm25: save→load round-trips scalars, postings, and probe results bit-exactly") {
    val idx = TextSearch.buildBm25Index(docs, "doc_id", "text")
    val path = tmpDir("bm25")
    TextSearch.saveBm25Index(idx, path, tokBuckets = 16)
    val stored = TextSearch.loadBm25Index(spark, path)
    assert(stored.nDocs === idx.nDocs)
    assert(stored.totalTokens === idx.totalTokens)
    assert(stored.tokBuckets === 16)
    // postings content identical (order-free compare)
    val a = idx.postings.collect().map(_.toString).sorted
    val b = stored.toIndex.postings
      .select(col("nid"), col("dl"), col("tok"), col("tf"))
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
    // probe bit-equality, float scores included
    val mem = TextSearch.bm25TopKOnIndex(idx, qs, k = 10)
      .collect().map(_.toString).sorted
    val st = TextSearch.bm25TopKOnStoredIndex(stored, qs, k = 10)
      .collect().map(_.toString).sorted
    assert(mem.length > 0 && mem.sameElements(st))
  }

  test("bm25: driver-side tokBucket agrees with the Spark-side save expression for every indexed token") {
    val idx = TextSearch.buildBm25Index(docs, "doc_id", "text")
    val n = 16
    val sparkSide = idx.postings.select(col("tok")).distinct()
      .withColumn("b", pmod(xxhash64(col("tok")), lit(n.toLong)).cast("int"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(sparkSide.nonEmpty)
    sparkSide.foreach { case (tok, b) =>
      assert(TextSearch.tokBucket(tok, n) === b, s"token '$tok'")
    }
  }

  test("bm25: stored-index probe scans only the query terms' bucket partitions") {
    val idx = TextSearch.buildBm25Index(docs, "doc_id", "text")
    val path = tmpDir("bm25prune")
    TextSearch.saveBm25Index(idx, path, tokBuckets = 16)
    val stored = TextSearch.loadBm25Index(spark, path)
    val someQs = qs.take(2)
    val qterms = someQs.flatMap(_._2.split(" ")).distinct
    val buckets = qterms.map(t => TextSearch.tokBucket(t, 16)).distinct
    // the pruned-postings scan (what scorePostings checkpoints) carries
    // a PartitionFilters entry on tok_bucket — file-level pruning
    val pruned = stored.postings
      .filter(col("tok_bucket").isin(buckets.map(Integer.valueOf): _*))
      .filter(col("tok").isin(qterms: _*))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("tok_bucket"), plan.take(800))
    // and the rows it reads are exactly the flat filter's rows
    val flat = stored.toIndex.postings.filter(col("tok").isin(qterms: _*))
      .collect().map(_.toString).sorted
    val viaBuckets = pruned.drop("tok_bucket")
      .collect().map(_.toString).sorted
    assert(flat.nonEmpty && flat.sameElements(viaBuckets))
  }

  test("bm25: stored-layout maintenance (map-only extend + tombstone " +
      "delete) equals an index rebuilt on the surviving corpus; deletes " +
      "idempotent; compact folds the log") {
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val added = docs.filter(col("doc_id") % 10 === 0)
    val doomed = docs.filter(col("doc_id") % 20 === 5)
      .select(col("doc_id").as("nid"))
    val path = tmpDir("bm25-life")
    TextSearch.saveBm25Index(
      TextSearch.buildBm25Index(base, "doc_id", "text"), path,
      tokBuckets = 16)
    var stored = TextSearch.loadBm25Index(spark, path)
    stored = TextSearch.extendStoredBm25Index(stored, added,
      "doc_id", "text")
    stored = TextSearch.removeFromStoredBm25Index(stored, doomed, "nid")
    // the x152 oracle rule: maintained stored state ≡ fresh build on
    // the survivors — scalars AND scores, bit-exactly
    val fresh = TextSearch.buildBm25Index(
      docs.filter(col("doc_id") % 20 =!= 5), "doc_id", "text")
    assert(stored.nDocs === fresh.nDocs)
    assert(stored.totalTokens === fresh.totalTokens)
    val expect = TextSearch.bm25TopKOnIndex(fresh, qs, k = 10)
      .collect().map(_.toString).sorted
    def probe() = TextSearch.bm25TopKOnStoredIndex(stored, qs, k = 10)
      .collect().map(_.toString).sorted
    assert(expect.nonEmpty && probe().sameElements(expect))
    // the delete visibly changed results (vacuity check)
    val full = TextSearch.bm25TopKOnIndex(
        TextSearch.buildBm25Index(docs, "doc_id", "text"), qs, k = 10)
      .collect().map(_.toString).sorted
    assert(!full.sameElements(expect),
      "delete set failed to change any probe result — test is vacuous")
    // idempotent: re-deleting must not double-decrement the scalars
    stored = TextSearch.removeFromStoredBm25Index(stored, doomed, "nid")
    assert(stored.nDocs === fresh.nDocs)
    assert(stored.totalTokens === fresh.totalTokens)
    assert(probe().sameElements(expect))
    // compact folds the log; scalars carry over; probes unchanged
    stored = TextSearch.compactStoredBm25Index(stored)
    assert(stored.tombstones.isEmpty)
    assert(stored.nDocs === fresh.nDocs)
    assert(probe().sameElements(expect))
  }

  test("bm25: a query STREAM against the maintained stored index gets " +
      "the batch answers — tombstones and live scalars flow through " +
      "toIndex into the stream-static join") {
    import spark.implicits._
    val path = tmpDir("bm25-stream-maint")
    TextSearch.saveBm25Index(
      TextSearch.buildBm25Index(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text"),
      path, tokBuckets = 16)
    var stored = TextSearch.loadBm25Index(spark, path)
    stored = TextSearch.extendStoredBm25Index(stored,
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
    stored = TextSearch.removeFromStoredBm25Index(stored,
      docs.filter(col("doc_id") % 20 === 5).select(col("doc_id").as("nid")),
      "nid")
    assert(stored.tombstones.nonEmpty)
    val qdf = docs.filter(col("doc_id") < 8)
      .select(col("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 5)).as("q"))
    val qSeq = qdf.collect().map(r => (r.getLong(0).toInt, r.getString(1)))
      .toSeq.sortBy(_._1)
    val want = TextSearch.bm25TopKOnStoredIndex(stored, qSeq, k = 5)
      .select(col("qid").cast("long"), col("rnk"),
        col("nid").cast("long"), col("score"))
      .as[(Long, Int, Long, Double)].collect().toSet
    val tmp = tmpDir("bm25-stream-maint-in")
    qdf.write.parquet(s"$tmp/in/f1")
    val in = spark.readStream
      .schema(spark.read.parquet(s"$tmp/in/f1").schema)
      .parquet(s"$tmp/in/*")
    val q = TextSearch.bm25TopKStreaming(in, stored.toIndex,
        "doc_id", "q", k = 5)
      .writeStream.outputMode("append")
      .format("memory").queryName("bm25_maint_stream")
      .option("checkpointLocation", s"$tmp/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("bm25_maint_stream")
      .select(col("qid"), col("rnk"), col("nid"), col("score"))
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(want.nonEmpty && got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("bm25: refuses to persist an empty index") {
    val empty = TextSearch.buildBm25Index(docs.limit(0), "doc_id", "text")
    assertThrows[IllegalArgumentException] {
      TextSearch.saveBm25Index(empty, tmpDir("bm25empty"))
    }
  }

  test("ivfpq: save→load round-trips fit artifacts and probe results bit-exactly") {
    val idx = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      nCentroids = 8, m = 4, codebookSize = 8, seed = 42L)
    val path = tmpDir("ivfpq")
    Similarity.saveIvfPqIndex(idx, path)
    val loaded = Similarity.loadIvfPqIndex(spark, path)
    // fit artifacts: exact doubles, same ids, same order after sort
    assert(loaded.centroids.map(_._1) === idx.centroids.map(_._1).sorted)
    idx.centroids.sortBy(_._1).zip(loaded.centroids).foreach {
      case ((i1, v1), (i2, v2)) =>
        assert(i1 === i2); assert(v1.toSeq === v2.toSeq)
    }
    idx.codebook.sortBy(t => (t._1, t._2)).zip(loaded.codebook).foreach {
      case ((s1, c1, v1), (s2, c2, v2)) =>
        assert(s1 === s2); assert(c1 === c2); assert(v1.toSeq === v2.toSeq)
    }
    // codes identical
    val a = idx.codes.collect().map(_.toString).sorted
    val b = loaded.codes.collect().map(_.toString).sorted
    assert(a.nonEmpty && a.sameElements(b))
    // probe bit-equality
    val queries = emb.filter(col("vec_id") % 25 === 0)
    val mem = Similarity.ivfPqTopKOnIndex(idx, queries,
      "vec_id", "embedding", k = 5, nProbe = 3)
      .collect().map(_.toString).sorted
    val st = Similarity.ivfPqTopKOnIndex(loaded, queries,
      "vec_id", "embedding", k = 5, nProbe = 3)
      .collect().map(_.toString).sorted
    assert(mem.nonEmpty && mem.sameElements(st))
  }

  test("ivfpq: maintenance ops compose over a RELOADED index (extend → remove → re-save → reload)") {
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val delta = emb.filter(col("vec_id") % 10 === 0)
    val doomed = emb.filter(col("vec_id") % 20 === 5).select(col("vec_id"))
    val mem = Similarity.removeFromIvfPqIndex(
      Similarity.extendIvfPqIndex(
        Similarity.buildIvfPqIndex(base, "vec_id", "embedding",
          nCentroids = 8, m = 4, codebookSize = 8, seed = 42L),
        delta, "vec_id", "embedding"),
      doomed, "vec_id")
    val root = tmpDir("ivfpq-maint")
    Similarity.saveIvfPqIndex(
      Similarity.buildIvfPqIndex(base, "vec_id", "embedding",
        nCentroids = 8, m = 4, codebookSize = 8, seed = 42L),
      s"$root/v0")
    val idx0 = Similarity.loadIvfPqIndex(spark, s"$root/v0")
    Similarity.saveIvfPqIndex(
      Similarity.removeFromIvfPqIndex(
        Similarity.extendIvfPqIndex(idx0, delta, "vec_id", "embedding"),
        doomed, "vec_id"),
      s"$root/v1")
    val idx1 = Similarity.loadIvfPqIndex(spark, s"$root/v1")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    val a = Similarity.ivfPqTopKOnIndex(mem, queries,
      "vec_id", "embedding", k = 5, nProbe = 3)
      .collect().map(_.toString).sorted
    val b = Similarity.ivfPqTopKOnIndex(idx1, queries,
      "vec_id", "embedding", k = 5, nProbe = 3)
      .collect().map(_.toString).sorted
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("ivfpq store: an id removed and then re-extended is live again, " +
      "before and after compaction (order-aware tombstones)") {
    import graft.ext.AnnIndexStore
    val idx = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      nCentroids = 8, m = 4, codebookSize = 8, seed = 42L)
    val moved = emb.filter(col("vec_id") % 20 === 5)
    val store = new AnnIndexStore(spark, tmpDir("ivfpq-store"))
    store.init(idx)
    store.remove(moved.select(col("vec_id")), "vec_id")
    store.extend(moved, "vec_id", "embedding")
    val mem = Similarity.extendIvfPqIndex(
      Similarity.removeFromIvfPqIndex(idx, moved.select(col("vec_id")),
        "vec_id"),
      moved, "vec_id", "embedding")
    def codes(df: org.apache.spark.sql.DataFrame) =
      df.select(col("nid"), col("cell").cast("int"), col("sub"), col("code"))
        .collect().map(_.toString).sorted
    val expect = codes(mem.codes)
    assert(expect.nonEmpty && codes(store.load().codes).sameElements(expect),
      "a re-extended id must be visible after the extend")
    store.compact()
    assert(codes(store.load().codes).sameElements(expect),
      "compaction must keep a re-extended id")
  }

  // ---- stored MinHash index (the dedup member of the trio) ----

  private def plantedBatch =
    docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))

  private def probeRows(stored: TextDedup.StoredMinhashIndex) =
    TextDedup.nearDupAgainstStoredIndex(plantedBatch, "doc_id", "text",
      stored).collect().map(_.toString).sorted

  test("minhash: save→load→probe is bit-exact vs the in-memory index") {
    val index = TextDedup.minhashIndex(docs, "doc_id", "text")
    val path = tmpDir("minhash-store")
    TextDedup.saveMinhashIndex(index, path, bandBuckets = 16)
    val stored = TextDedup.loadMinhashIndex(spark, path)
    assert(stored.k === 16 && stored.bands === 8 &&
      stored.shingleN === 2 && stored.bandBuckets === 16)
    val mem = TextDedup.nearDupAgainstIndex(plantedBatch, "doc_id", "text",
      index).collect().map(_.toString).sorted
    assert(mem.nonEmpty && mem.sameElements(probeRows(stored)))
  }

  test("minhash: extend + tombstone delete equal a fresh index on the " +
      "surviving corpus; deletes idempotent; compact folds the log") {
    val base = docs.filter(col("doc_id") % 100 =!= 0)
    val added = docs.filter(col("doc_id") % 100 === 0)
    val doomed = docs.filter(col("doc_id") % 100 === 50)
      .select(col("doc_id").as("id"))
    val path = tmpDir("minhash-life")
    TextDedup.saveMinhashIndex(
      TextDedup.minhashIndex(base, "doc_id", "text"), path,
      bandBuckets = 16)
    var stored = TextDedup.loadMinhashIndex(spark, path)
    stored = TextDedup.extendStoredMinhashIndex(stored, added,
      "doc_id", "text")
    stored = TextDedup.removeFromStoredMinhashIndex(stored, doomed)
    // the x152 oracle rule: maintained state must equal built-from-
    // scratch state over the survivors
    val survivors = docs.filter(col("doc_id") % 100 =!= 50)
    val expect = TextDedup.nearDupAgainstIndex(plantedBatch, "doc_id",
        "text", TextDedup.minhashIndex(survivors, "doc_id", "text"))
      .collect().map(_.toString).sorted
    assert(expect.nonEmpty && probeRows(stored).sameElements(expect))
    // a deleted doc must actually have stopped matching (the planted
    // copy of a %100==50 source exists in the batch and found its twin
    // before the delete)
    val full = TextDedup.nearDupAgainstIndex(plantedBatch, "doc_id",
        "text", TextDedup.minhashIndex(docs, "doc_id", "text"))
      .collect().map(_.toString).sorted
    assert(!full.sameElements(expect),
      "delete set failed to change any probe result — test is vacuous")
    // idempotent: re-deleting the same ids changes nothing
    stored = TextDedup.removeFromStoredMinhashIndex(stored, doomed)
    assert(probeRows(stored).sameElements(expect))
    // compact folds tombstones into a rewrite, probes unchanged
    stored = TextDedup.compactStoredMinhashIndex(stored)
    assert(stored.tombstones.isEmpty, "compaction must clear the log")
    assert(probeRows(stored).sameElements(expect))
  }

  test("minhash: stored probe partition-prunes the bands scan to the " +
      "probe's buckets") {
    val path = tmpDir("minhash-prune")
    TextDedup.saveMinhashIndex(
      TextDedup.minhashIndex(docs, "doc_id", "text"), path,
      bandBuckets = 16)
    val stored = TextDedup.loadMinhashIndex(spark, path)
    // one-doc probe: ≤ 8 band keys → at most 8 of 16 buckets survive
    val one = docs.filter(col("doc_id") === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    // the probe checkpoints its candidate frame (bucket collect + joins
    // must see the same rows), which hides the bands scan from the
    // returned plan — pin the probe's own pruning expression (a bb isin
    // on the loaded bands frame) the way the BM25 layout pin does
    val bandsPlan = stored.idxBands
      .filter(col("bb").isin(Seq(1, 2, 3).map(Integer.valueOf): _*))
      .queryExecution.executedPlan.toString
    val bandsScan = bandsPlan.linesIterator
      .filter(l => l.contains("PartitionFilters") && l.contains("bb"))
      .mkString("\n")
    assert(bandsScan.nonEmpty,
      s"bands scan must carry a bb PartitionFilters entry:\n${bandsPlan.take(1200)}")
    // the verification-toks fetch is NOT checkpointed: the full probe
    // plan must show the docs scan pruned to the candidates' buckets —
    // the heaviest column never full-scans per probe
    val plan = TextDedup.nearDupAgainstStoredIndex(one, "doc_id", "text",
      stored).queryExecution.executedPlan.toString
    val docsScan = plan.linesIterator
      .filter(l => l.contains("PartitionFilters") && l.contains("db"))
      .mkString("\n")
    assert(docsScan.nonEmpty,
      s"docs scan must carry a db PartitionFilters entry:\n${plan.take(1500)}")
  }

  test("minhash: refuses to persist an empty index") {
    assertThrows[IllegalArgumentException] {
      TextDedup.saveMinhashIndex(
        TextDedup.minhashIndex(docs.limit(0), "doc_id", "text"),
        tmpDir("minhash-empty"))
    }
  }

  // ---- round-14: snapshot isolation, order-aware tombstones and time
  //      travel on the versioned layouts ----

  test("bm25 + minhash: a LOADED index is an immutable snapshot — " +
      "maintenance publishing new versions never changes what it " +
      "answers (probe-during-extend isolation)") {
    // BM25
    val bPath = tmpDir("bm25-snap")
    TextSearch.saveBm25Index(
      TextSearch.buildBm25Index(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text"),
      bPath, tokBuckets = 16)
    val snap = TextSearch.loadBm25Index(spark, bPath)
    val before = TextSearch.bm25TopKOnStoredIndex(snap, qs, k = 10)
      .collect().map(_.toString).sorted
    // a writer extends AND deletes on disk — the snapshot must not move
    val afterExtend = TextSearch.extendStoredBm25Index(snap,
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
    TextSearch.removeFromStoredBm25Index(afterExtend,
      docs.filter(col("doc_id") % 20 === 5).select(col("doc_id").as("nid")),
      "nid")
    val after = TextSearch.bm25TopKOnStoredIndex(snap, qs, k = 10)
      .collect().map(_.toString).sorted
    assert(before.nonEmpty && before.sameElements(after),
      "snapshot moved under a concurrent extend/delete")
    // scalars are per-snapshot too; a reload sees the new state
    val fresh = TextSearch.loadBm25Index(spark, bPath)
    assert(fresh.nDocs !== snap.nDocs,
      "reload after maintenance must see the new version")
    // MinHash
    val mPath = tmpDir("minhash-snap")
    TextDedup.saveMinhashIndex(
      TextDedup.minhashIndex(
        docs.filter(col("doc_id") % 100 =!= 0), "doc_id", "text"),
      mPath, bandBuckets = 16)
    val mSnap = TextDedup.loadMinhashIndex(spark, mPath)
    val mBefore = probeRows(mSnap)
    val mExt = TextDedup.extendStoredMinhashIndex(mSnap,
      docs.filter(col("doc_id") % 100 === 0), "doc_id", "text")
    TextDedup.removeFromStoredMinhashIndex(mExt,
      docs.filter(col("doc_id") % 100 === 50).select(col("doc_id").as("id")))
    assert(mBefore.sameElements(probeRows(mSnap)),
      "minhash snapshot moved under a concurrent extend/delete")
    assert(!probeRows(TextDedup.loadMinhashIndex(spark, mPath))
      .sameElements(mBefore),
      "reload after maintenance must see the new version")
  }

  test("bm25: a tombstoned id RE-INGESTED by a later extend answers with " +
      "its new content only (order-aware tombstones), and a second " +
      "delete decrements exactly the live row") {
    val victim = docs.filter(col("doc_id") % 20 === 5)
    val victimIds = victim.select(col("doc_id").as("nid"))
    // re-ingested content differs from the original (text doubled)
    val reborn = victim.select(col("doc_id"),
      concat_ws(" ", col("text"), col("text")).as("text"))
    val path = tmpDir("bm25-reingest")
    TextSearch.saveBm25Index(
      TextSearch.buildBm25Index(docs, "doc_id", "text"), path,
      tokBuckets = 16)
    var stored = TextSearch.loadBm25Index(spark, path)
    stored = TextSearch.removeFromStoredBm25Index(stored, victimIds, "nid")
    stored = TextSearch.extendStoredBm25Index(stored, reborn,
      "doc_id", "text")
    // oracle: fresh build over survivors + reborn content
    val expectIdx = TextSearch.buildBm25Index(
      docs.filter(col("doc_id") % 20 =!= 5).select(col("doc_id"), col("text"))
        .unionByName(reborn), "doc_id", "text")
    assert(stored.nDocs === expectIdx.nDocs)
    assert(stored.totalTokens === expectIdx.totalTokens)
    val expect = TextSearch.bm25TopKOnIndex(expectIdx, qs, k = 10)
      .collect().map(_.toString).sorted
    val got = TextSearch.bm25TopKOnStoredIndex(stored, qs, k = 10)
      .collect().map(_.toString).sorted
    assert(expect.nonEmpty && got.sameElements(expect),
      "re-ingested content must answer; old content must stay hidden")
    // second delete: decrements the LIVE (reborn) row exactly once
    stored = TextSearch.removeFromStoredBm25Index(stored, victimIds, "nid")
    val survivorsIdx = TextSearch.buildBm25Index(
      docs.filter(col("doc_id") % 20 =!= 5), "doc_id", "text")
    assert(stored.nDocs === survivorsIdx.nDocs)
    assert(stored.totalTokens === survivorsIdx.totalTokens)
    val got2 = TextSearch.bm25TopKOnStoredIndex(stored, qs, k = 10)
      .collect().map(_.toString).sorted
    val expect2 = TextSearch.bm25TopKOnIndex(survivorsIdx, qs, k = 10)
      .collect().map(_.toString).sorted
    assert(got2.sameElements(expect2))
  }

  test("minhash: a tombstoned id RE-INGESTED by a later extend matches " +
      "with its new signature only") {
    val victim = docs.filter(col("doc_id") % 100 === 50)
    val path = tmpDir("minhash-reingest")
    TextDedup.saveMinhashIndex(
      TextDedup.minhashIndex(docs, "doc_id", "text"), path,
      bandBuckets = 16)
    var stored = TextDedup.loadMinhashIndex(spark, path)
    stored = TextDedup.removeFromStoredMinhashIndex(stored,
      victim.select(col("doc_id").as("id")))
    // re-ingest the SAME ids with their original text: the planted
    // %50==0 probe twins of the %100==50 docs must match again
    stored = TextDedup.extendStoredMinhashIndex(stored,
      victim.select(col("doc_id"), col("text")), "doc_id", "text")
    val expect = TextDedup.nearDupAgainstIndex(plantedBatch, "doc_id",
        "text", TextDedup.minhashIndex(docs, "doc_id", "text"))
      .collect().map(_.toString).sorted
    assert(expect.nonEmpty && probeRows(stored).sameElements(expect),
      "re-ingested ids must match exactly as a fresh full index")
  }

  test("bm25 + minhash: TIME-TRAVEL loads — a version-pinned load " +
      "reproduces that version's exact answers after later maintenance") {
    // BM25: v0 = base corpus; v1 = extend; v2 = delete
    val bPath = tmpDir("bm25-tt")
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    TextSearch.saveBm25Index(
      TextSearch.buildBm25Index(base, "doc_id", "text"), bPath,
      tokBuckets = 16)
    val v0 = TextSearch.extendStoredBm25Index(
      TextSearch.loadBm25Index(spark, bPath),
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
    TextSearch.removeFromStoredBm25Index(v0,
      docs.filter(col("doc_id") % 20 === 5).select(col("doc_id").as("nid")),
      "nid")
    val pinned = TextSearch.loadBm25Index(spark, bPath, 0)
    assert(pinned.nDocs === base.count())
    val expect = TextSearch.bm25TopKOnIndex(
        TextSearch.buildBm25Index(base, "doc_id", "text"), qs, k = 10)
      .collect().map(_.toString).sorted
    assert(expect.nonEmpty &&
      TextSearch.bm25TopKOnStoredIndex(pinned, qs, k = 10)
        .collect().map(_.toString).sorted.sameElements(expect),
      "version-0 load must answer as the original corpus")
    // MinHash: same discipline
    val mPath = tmpDir("minhash-tt")
    TextDedup.saveMinhashIndex(
      TextDedup.minhashIndex(
        docs.filter(col("doc_id") % 100 =!= 0), "doc_id", "text"),
      mPath, bandBuckets = 16)
    TextDedup.removeFromStoredMinhashIndex(
      TextDedup.loadMinhashIndex(spark, mPath),
      docs.filter(col("doc_id") % 100 === 50).select(col("doc_id").as("id")))
    val mPinned = TextDedup.loadMinhashIndex(spark, mPath, 0)
    val mExpect = TextDedup.nearDupAgainstIndex(plantedBatch, "doc_id",
        "text", TextDedup.minhashIndex(
          docs.filter(col("doc_id") % 100 =!= 0), "doc_id", "text"))
      .collect().map(_.toString).sorted
    assert(mExpect.nonEmpty && probeRows(mPinned).sameElements(mExpect))
  }

  test("bm25: concurrent maintenance ops on one layout serialize on the " +
      "writer lock — every batch lands, scalars exact") {
    val path = tmpDir("bm25-writers")
    TextSearch.saveBm25Index(
      TextSearch.buildBm25Index(
        docs.filter(col("doc_id") % 4 === 0), "doc_id", "text"),
      path, tokBuckets = 16)
    // three concurrent extends with disjoint slices: without the
    // per-path writer lock two would read the same version and the
    // second publish would orphan the first's epoch (lost batch)
    val slices = Seq(1, 2, 3).map(r =>
      docs.filter(col("doc_id") % 4 === r))
    val threads = slices.map { s =>
      val t = new Thread(() => {
        TextSearch.extendStoredBm25Index(
          TextSearch.loadBm25Index(spark, path), s, "doc_id", "text")
        ()
      })
      t.start(); t
    }
    threads.foreach(_.join())
    val fresh = TextSearch.buildBm25Index(docs, "doc_id", "text")
    val stored = TextSearch.loadBm25Index(spark, path)
    assert(stored.nDocs === fresh.nDocs,
      "a concurrent extend lost a batch")
    assert(stored.totalTokens === fresh.totalTokens)
    val expect = TextSearch.bm25TopKOnIndex(fresh, qs, k = 10)
      .collect().map(_.toString).sorted
    assert(TextSearch.bm25TopKOnStoredIndex(stored, qs, k = 10)
      .collect().map(_.toString).sorted.sameElements(expect))
  }
}
