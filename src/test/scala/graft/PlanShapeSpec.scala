package graft

import org.apache.spark.sql.DataFrame

/** Executed-plan shape assertions for the scale claims the docs make:
  * these turn PERF.md's plan-audit notes into enforced invariants, so a
  * regression that silently changes a join strategy or drops a map-side
  * limit fails CI instead of surfacing at 100 TB.
  */
class PlanShapeSpec extends SparkSpec {

  private def executedPlan(df: DataFrame): String = {
    df.collect() // AQE finalizes the plan only after execution
    df.queryExecution.executedPlan.toString
  }

  private def query(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf())

  test("x25 domain-cap plans a map-side WindowGroupLimit before its exchange") {
    val p = executedPlan(query("x25_domain_cap"))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    // partial (pre-shuffle) AND final forms must both be present
    assert(p.contains("Partial") && p.contains("Final"), p.take(2000))
  }

  test("q25 TPC-H Q3 takes its top-10 via TakeOrderedAndProject, dims broadcast") {
    val p = executedPlan(query("q25_tpch_q3"))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q26 TPC-H Q5 broadcasts every dimension — the fact never re-shuffles for a dim") {
    val p = executedPlan(query("q26_tpch_q5"))
    // four dims (supplier, customer, nation, region) all broadcast
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 4,
      p.take(3000))
    // the only sort-merge-grade exchange is the fact-fact l⋈o join and
    // the final aggregation — no dim is ever shuffle-joined
    assert(!p.contains("SortMergeJoin") ||
      p.linesIterator.count(_.contains("SortMergeJoin")) <= 1, p.take(3000))
  }

  test("single-record decode: raw-capture parse, no JSON-path scans, no Generate") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the fast-path decode's contract: the envelope is read via the
    // raw-capture from_json (whose per-operator copies codegen's
    // subexpression elimination shares at runtime — A/B measured 1.04 s
    // vs 1.84 s for the five-JSON-path form on c03), never via
    // get_json_object scans of the whole value, and with no Generate
    val dir = java.nio.file.Files.createTempDirectory("graft-decplan").toString
    (1L to 50L).map(i =>
      s"""{"message":[{"event":"thing_updated","model_name":"thing","data":["{\\"id\\":$i}"]}]}""")
      .toDF("value").write.parquet(s"$dir/wire")
    // a real datasource input — a local relation constant-folds the
    // whole decode at plan time and asserts nothing
    val frame = spark.read.parquet(s"$dir/wire")
    val decoded = graft.codec.EnvelopeCodec.decodeSingleRecords(frame)
      .groupBy("model_name").agg(count(lit(1)))
    decoded.collect()
    val plan = decoded.queryExecution.executedPlan.toString
    assert(plan.contains("from_json"), plan.take(2000))
    assert(!plan.contains("get_json_object"),
      "decode must not re-scan the envelope by JSON path")
    assert(!plan.contains("Generate"), "fast path must not plan a Generate")
  }

  test("x30: the per-source percentile bounds broadcast to the corpus") {
    // x30's bound frame is one row per source — corpus-independent-tiny,
    // so the corpus side must stream through a BroadcastHashJoin, never
    // re-shuffle for it. (x29's reference set is corpus-PROPORTIONAL by
    // design — its join strategy is legitimately size-dependent and is
    // not pinned here.)
    val p30 = executedPlan(query("x30_length_band"))
    assert(p30.contains("BroadcastHashJoin"), p30.take(2000))
  }

  test("x35 semantic dedup: the quadratic term stays inside a cluster-equi join") {
    // the self-join must be keyed on the cluster column — an equi join
    // (either strategy), never a cartesian/nested-loop over the corpus;
    // the threshold filter runs inside the join stage
    val p = executedPlan(query("x35_semantic_dedup"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("x38 outliers: label×dim centroids broadcast to the scoring scan") {
    // the centroid frame is labels×dim — corpus-independent-tiny, so the
    // corpus scoring pass must stream through a BroadcastHashJoin
    val p = executedPlan(query("x38_embedding_outliers"))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("IVF probe ranking at production cell counts: local relation, not a literal tree") {
    import spark.implicits._
    // 4096 cells × 64 dims — the scale where the former
    // array(struct(lit…)) form inlined ~260k literal nodes into the plan.
    // As a broadcast local relation the analyzed plan stays small and the
    // query executes; the probe result itself must be exact.
    val rnd = new scala.util.Random(3)
    val cents = (0 until 4096).map(i => (i, Array.fill(64)(rnd.nextGaussian())))
    val qs = (1 to 5).map(i => (i.toLong, Seq.fill(64)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
    val probes = graft.ext.Similarity.probeCells(qs, "vec_id", "embedding",
      cents, nProbe = 4)
    val planChars = probes.queryExecution.analyzed.treeString.length
    assert(planChars < 100000,
      s"analyzed plan is $planChars chars — the centroid table leaked into the tree")
    val got = probes.select($"qid", $"cell").as[(Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got.keySet == (1L to 5L).toSet && got.values.forall(_.size == 4))
    // exactness: nearest-4 centroids by squared distance, recomputed naively
    val qrows = qs.as[(Long, Seq[Double])].collect().toMap
    for ((qid, cells) <- got) {
      val want = cents.map { case (i, c) =>
        (i, c.zip(qrows(qid)).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.sortBy { case (i, d) => (d, i) }.take(4).map(_._1).toSet
      assert(cells == want, s"qid $qid: $cells vs $want")
    }
    // the map-only probe (what ivfTopK/ivfPqTopKOnIndex consume since
    // round 10 — no window, no exchange) picks the IDENTICAL cells: the
    // same (a−b)² fold and the same (d2, cell) tie rule, per contract
    val flat = graft.ext.Similarity.probeCellsFlat(qs, "vec_id", "embedding",
        cents, nProbe = 4)
      .select($"qid", $"cell").as[(Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(flat == got, s"probe forms diverged: $flat vs $got")
    // and its plan is window- and exchange-free
    val fp = graft.ext.Similarity.probeCellsFlat(qs, "vec_id", "embedding",
      cents, nProbe = 4)
    fp.collect()
    val plan = fp.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("Exchange"),
      plan.take(1500))
  }

  test("x45/x46 LSH sweeps: no explicit broadcast of the corpus-fraction query set") {
    // the audit-sweep queries are a fixed FRACTION of the corpus — an
    // explicit broadcast hint would pin a corpus-scaling frame onto every
    // executor at 100 TB. The plan must carry no hint at all (AQE may
    // still broadcast at runtime when the actual size allows — that's
    // adaptive, not structural).
    for (name <- Seq("x45_knn_vote_lsh", "x46_truncation_recall_lsh")) {
      val analyzed = query(name).queryExecution.analyzed.toString
      assert(!analyzed.contains("ResolvedHint"),
        s"$name carries a broadcast hint:\n${analyzed.take(2000)}")
    }
    // contrast: the small-batch forms (x05/x36) DO hint — that contract
    // stays pinned too
    val bf = query("x36_knn_label_vote").queryExecution.analyzed.toString
    assert(bf.contains("ResolvedHint"), bf.take(1500))
  }

  test("x54 dup-gram spans: the (gram, doc) shuffle is shared — corpus scans once") {
    // the AQE plan string repeats subtrees under "== Initial Plan ==" —
    // pin the final plan only
    val p = executedPlan(query("x54_dup_gram_spans"))
      .split("== Initial Plan ==").head
    // the per-gram total branch re-reads the shared (ng, doc_id) exchange
    // instead of re-scanning + re-exploding the corpus
    assert(p.contains("ReusedExchange"), p.take(3000))
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      p.take(3000))
  }

  test("objective-construction ops stay scan-local — only the output sort exchanges") {
    for (q <- Seq("x60_span_corruption", "x61_rag_chunks")) {
      val p = executedPlan(query(q)).split("== Initial Plan ==").head
      val exchanges = p.linesIterator.count(_.contains("Exchange"))
      assert(exchanges == 1, s"$q wants 1 exchange (the orderBy), " +
        s"got $exchanges:\n${p.take(2500)}")
    }
  }

  test("IVF-PQ index build: the encode stage is map-only — zero exchanges") {
    import graft.ext.Similarity
    val emb = graft.queries.Q.tbl(spark, sf(), "embeddings")
    val idx = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      nCentroids = 8, m = 4, codebookSize = 16)
    // the whole code table: scan → assignCells(udf) → pqEncode(udf) →
    // posexplode — cell label and subspace argmin both ride broadcast
    // VARIABLES, so no shuffle may appear anywhere in the build plan
    val p = executedPlan(idx.codes).split("== Initial Plan ==").head
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 0,
      s"index build wants 0 exchanges, got $exchanges:\n${p.take(2500)}")
  }

  test("incremental index maintenance plans: extend is map-only, " +
      "deletes are single-anti-join, drift stats shuffle once") {
    import org.apache.spark.sql.functions.col
    import graft.ext.{Similarity, TextSearch}
    val emb = graft.queries.Q.tbl(spark, sf(), "embeddings")
    val idx = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      nCentroids = 8, m = 4, codebookSize = 16)
    // upsert: the new batch's codes plan is the build plan — zero
    // exchanges (frozen constants ride broadcast variables)
    val ext = Similarity.extendIvfPqIndex(idx,
      emb.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")),
      "vec_id", "embedding")
    val pExt = executedPlan(ext.codes).split("== Initial Plan ==").head
    // union of two map-only encodes: still no exchange anywhere
    assert(pExt.linesIterator.count(_.contains("Exchange")) == 0,
      s"extend wants 0 exchanges:\n${pExt.take(2500)}")
    // vector delete over a MATERIALIZED index (the production shape —
    // the code table is persisted, IvfPqSpec round-trips it): one anti
    // join on the 4-int-wide codes, the float vectors never appear
    val standing = idx.copy(codes = idx.codes.localCheckpoint(true))
    val del = Similarity.removeFromIvfPqIndex(standing,
      emb.filter(col("vec_id") % 5 === 0).select(col("vec_id")), "vec_id")
    val pDel = executedPlan(del.codes).split("== Initial Plan ==").head
    assert(pDel.contains("LeftAnti"), pDel.take(2500))
    assert(!pDel.contains("embedding:array"),
      "delete must never read the float vector column")
    // drift stats: map-only assign + ONE aggregation exchange on cell
    val pDrift = executedPlan(Similarity.ivfCellStats(emb,
        "vec_id", "embedding", idx.centroids))
      .split("== Initial Plan ==").head
    val dx = pDrift.linesIterator.count(_.contains("Exchange"))
    assert(dx <= 2, // partial agg → exchange on cell (+AQE final agg read)
      s"drift stats want ≤2 exchanges, got $dx:\n${pDrift.take(2500)}")
    // BM25 delete: postings survive through one anti-join, text untouched
    val docs = graft.queries.Q.tbl(spark, sf(), "documents")
    val bIdx = TextSearch.buildBm25Index(docs, "doc_id", "text")
    val bDel = TextSearch.removeFromBm25Index(bIdx,
      docs.filter(col("doc_id") % 5 === 0).select(col("doc_id")), "doc_id")
    val pB = executedPlan(bDel.postings).split("== Initial Plan ==").head
    assert(pB.contains("LeftAnti"), pB.take(2500))
  }

  test("persisted index layouts: stored-BM25 probes partition-prune on " +
      "tok_bucket, loaded-IVF-PQ probes dynamic-partition-prune on cell") {
    import org.apache.spark.sql.functions._
    import graft.ext.{Similarity, TextSearch}
    val docs = graft.queries.Q.tbl(spark, sf(), "documents")
    val emb = graft.queries.Q.tbl(spark, sf(), "embeddings")
    val root = java.nio.file.Files
      .createTempDirectory("graft-planshape-idx").toString
    // BM25: the pruned-postings scan (the frame scorePostings
    // checkpoints) must carry a PARTITION filter on tok_bucket — the
    // file-level pruning the layout exists for — and a pushed data
    // filter on tok
    TextSearch.saveBm25Index(
      TextSearch.buildBm25Index(docs, "doc_id", "text"), s"$root/bm25",
      tokBuckets = 16)
    val stored = TextSearch.loadBm25Index(spark, s"$root/bm25")
    val qterms = Seq("hash", "join", "strategy")
    val buckets = qterms.map(t => TextSearch.tokBucket(t, 16)).distinct
    val pruned = stored.postings
      .filter(col("tok_bucket").isin(buckets.map(Integer.valueOf): _*))
      .filter(col("tok").isin(qterms: _*))
    val pB = pruned.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val scanLine = pB.linesIterator
      .find(l => l.contains("FileScan") || l.contains("Scan parquet"))
      .getOrElse(fail(s"no parquet scan in:\n${pB.take(1500)}"))
    assert(scanLine.contains("PartitionFilters") &&
      scanLine.contains("tok_bucket"),
      s"bucket filter must reach the scan's PartitionFilters:\n$scanLine")
    assert(scanLine.contains("PushedFilters") && scanLine.contains("tok"),
      s"term isin must push down:\n$scanLine")
    // IVF-PQ: the probe's broadcast cell gate must become a dynamic
    // partition pruning expression on the cell-partitioned codes scan
    // of the store's compacted epoch
    val ann = new graft.ext.AnnIndexStore(spark, s"$root/ivf")
    ann.init(Similarity.buildIvfPqIndex(
      emb.filter(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
      nCentroids = 8, m = 4, codebookSize = 16))
    ann.extend(emb.filter(col("vec_id") % 10 === 0), "vec_id", "embedding")
    ann.compact()
    val loaded = ann.load()
    val probe = Similarity.ivfPqTopKOnIndex(loaded,
      emb.filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
      k = 5, nProbe = 3)
    val pI = probe.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(pI.contains("dynamicpruningexpression"),
      s"cell gate must DPP the codes scan:\n${pI.take(2500)}")
  }

  test("stored-index tombstone logs apply as BROADCAST anti-joins on the " +
      "pruned probe rows — a delete log never costs a shuffle at probe time") {
    import org.apache.spark.sql.functions._
    import graft.ext.{TextDedup, TextSearch}
    val docs = graft.queries.Q.tbl(spark, sf(), "documents")
    val root = java.nio.file.Files
      .createTempDirectory("graft-planshape-tomb").toString
    // BM25: maintained layout with a live tombstone log
    TextSearch.saveBm25Index(
      TextSearch.buildBm25Index(docs, "doc_id", "text"), s"$root/bm25",
      tokBuckets = 16)
    val bm = TextSearch.removeFromStoredBm25Index(
      TextSearch.loadBm25Index(spark, s"$root/bm25"),
      docs.filter(col("doc_id") % 7 === 0).select(col("doc_id").as("nid")),
      "nid")
    assert(bm.tombstones.nonEmpty)
    // the probe checkpoints its pruned frame before scoring, so the
    // anti-join's plan lives in the checkpoint job — replicate the
    // probe's internal pruning expression (the layout-pin style above)
    // and assert on ITS plan
    val qterms = Seq("hash", "join", "strategy")
    val bmBuckets = qterms.map(t => TextSearch.tokBucket(t, 16)).distinct
    val prunedLive = bm.postings
      .filter(col("tok_bucket").isin(bmBuckets.map(Integer.valueOf): _*))
      .filter(col("tok").isin(qterms: _*))
      .join(broadcast(bm.tombstones.get), Seq("nid"), "left_anti")
    val pB = prunedLive.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(pB.contains("BroadcastHashJoin") && pB.contains("LeftAnti"),
      s"tombstone filter must be a broadcast anti-join:\n${pB.take(2000)}")
    assert(!pB.linesIterator.exists(l =>
        l.contains("SortMergeJoin") && l.contains("LeftAnti")),
      s"tombstone anti-join must never shuffle:\n${pB.take(2000)}")
    // MinHash: same contract on the stored near-dup probe
    TextDedup.saveMinhashIndex(
      TextDedup.minhashIndex(docs, "doc_id", "text"), s"$root/mh",
      bandBuckets = 8)
    val mh = TextDedup.removeFromStoredMinhashIndex(
      TextDedup.loadMinhashIndex(spark, s"$root/mh"),
      docs.filter(col("doc_id") % 7 === 0).select(col("doc_id").as("id")))
    val pM = TextDedup.nearDupAgainstStoredIndex(
        docs.filter(col("doc_id") === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")),
        "doc_id", "text", mh)
      .queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!pM.linesIterator.exists(l =>
        l.contains("SortMergeJoin") && l.contains("LeftAnti")),
      s"minhash tombstone anti-join must never shuffle:\n${pM.take(2000)}")
  }

  test("q02 pushdown: predicates and pruned schema reach the parquet scan") {
    val p = executedPlan(query("q02_filter_pushdown"))
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("l_shipdate"), p.take(2000))
    // projection pruned to the three referenced columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_returnflag"), readSchema)
  }

  test("x86 trajectories: the (user, sess) aggregation reuses the " +
    "session window's user_id partitioning — one data exchange") {
    import graft.ext.Curation
    val ev = graft.queries.Q.tbl(spark, sf(), "events")
    val p = executedPlan(Curation.sessionTrajectories(ev))
      .split("== Initial Plan ==").head
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1,
      s"wants 1 exchange (the user_id hash), got $exchanges:\n${p.take(2500)}")
  }

  test("x100 as-of states: one window exchange, cutoffs broadcast") {
    val p = executedPlan(query("x100_asof_states"))
      .split("== Initial Plan ==").head
    // the cutoff list must ride a broadcast join, never shuffle the log
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2500))
    // data exchanges: the user_id window + the final agg/sort pair —
    // the corpus is never re-scanned or re-shuffled per cutoff (the
    // cutoff list's BroadcastExchange is the intended non-shuffle)
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused") &&
        !l.contains("BroadcastExchange"))
    assert(exchanges <= 3, s"got $exchanges:\n${p.take(2500)}")
  }

  test("x104 HRW re-sharding is scan-local — no joins, one count agg") {
    val p = executedPlan(query("x104_hrw_resharding"))
      .split("== Initial Plan ==").head
    // both shard argmaxes are pure column algebra over one scan
    assert(!p.contains("Join") && !p.contains("Window"), p.take(2500))
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 2, s"got $exchanges:\n${p.take(2500)}")
  }

  test("x115 quota sample: quota table broadcasts, corpus pays one rank window") {
    val p = executedPlan(query("x115_quota_sample"))
      .split("== Initial Plan ==").head
    // the quota join must be broadcast — the corpus must NOT shuffle to
    // meet a strata-sized table
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    assert(!p.contains("SortMergeJoin"), p.take(2500))
  }

  test("x110 CDC minimize: ONE aggregation — no sort, no window, no join") {
    val p = executedPlan(query("x110_cdc_minimize"))
      .split("== Initial Plan ==").head
    // min_by/max_by ride the same hash aggregate; the log's op order
    // must never cost a sort or self-join
    assert(!p.contains("Window") && !p.contains("Join"), p.take(2500))
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate")
      || p.contains("SortAggregate"), p.take(2500))
  }

  test("x126 attribution: one per-user window, no purchases×views join") {
    val p = executedPlan(query("x126_last_touch_attribution"))
      .split("== Initial Plan ==").head
    assert(!p.contains("Join"), p.take(2500))
    val windows = p.linesIterator.count(_.contains("Window ["))
    assert(windows == 1, s"wants 1 window, got $windows:\n${p.take(2500)}")
  }

  test("x140 LSH band sweep: candidate pairs come from an equi-join — " +
      "no all-pairs shape, no distinct over candidates") {
    val p = executedPlan(query("x140_dedup_sweep_lsh"))
      .split("== Initial Plan ==").head
    // the crawl-scale contract vs x121: the ONLY pair-producing join is
    // the band-bucket equi-join — never a cartesian / nested-loop
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p.take(3000))
    // multi-band duplicate candidates dedup via the first-agreeing-band
    // filter, not a distinct over the (unthresholded) candidate set —
    // the aggregates here are the ≤11-row histogram, none keyed on ids
    assert(!p.contains("id_a#") ||
      !p.linesIterator.exists(l => l.contains("HashAggregate") &&
        l.contains("keys=[id_a")), p.take(3000))
  }

  test("verification intersect computes once — never inside a join condition") {
    // the Opaque barrier's contract: the O(|toks|) merge walk must live
    // in a Project, where within-projection CSE runs it once per pair —
    // never re-inlined into the verification join's condition (where the
    // pre-fix plans evaluated it 2–4x per candidate and AHEAD of the
    // cheap id< conjunct; x121 measured 6.7 -> 1.2 s at sf0.1)
    for (name <- Seq("x02_dedup_minhash_lsh", "x04_dedup_ngram_jaccard",
        "x121_dedup_threshold_sweep", "x140_dedup_sweep_lsh")) {
      val p = executedPlan(query(name)).split("== Initial Plan ==").head
      val bad = p.linesIterator.filter(l =>
        l.contains("Join") && l.contains("sorted_intersect_size")).toList
      assert(bad.isEmpty,
        s"$name evaluates the merge walk inside a join condition:\n" +
          bad.mkString("\n").take(1500))
      assert(p.contains("sorted_intersect_size"),
        s"$name lost the native merge walk entirely:\n${p.take(1500)}")
    }
    // same contract for the O(dim) vector dot in the embedding pair ops
    for (name <- Seq("x17_embedding_neardup", "x18_embedding_neardup_lsh")) {
      val p = executedPlan(query(name)).split("== Initial Plan ==").head
      val bad = p.linesIterator.filter(l =>
        l.contains("Join") && l.contains("vector_dot")).toList
      assert(bad.isEmpty,
        s"$name evaluates vector_dot inside a join condition:\n" +
          bad.mkString("\n").take(1500))
    }
  }

  test("opaque() never feeds a join condition or partitioning expression") {
    // Opaque's documented misuse mode (functions/Opaque.scala): its
    // deterministic=false flag makes a wrapped JOIN KEY un-pushable, so
    // an equi-join degrades to a cross-join-shaped plan with no warning.
    // Lint every query that uses the barrier, and prove the lint bites.
    import graft.plans.PlanLint
    for (name <- Seq("x02_dedup_minhash_lsh", "x04_dedup_ngram_jaccard",
        "x121_dedup_threshold_sweep", "x140_dedup_sweep_lsh",
        "x17_embedding_neardup", "x18_embedding_neardup_lsh")) {
      val bad = PlanLint.opaqueMisuse(query(name))
      assert(bad.isEmpty, s"$name: ${bad.mkString("; ")}")
    }
    // a LITERAL opaque() in a join condition is rejected by Spark's own
    // analyzer (nondeterministic-in-join check) — loud, not silent
    import org.apache.spark.sql.functions.{call_function, col}
    graft.functions.Functions.register(spark)
    val t = spark.range(4).toDF("k")
    intercept[org.apache.spark.sql.AnalysisException] {
      t.join(t.select(col("k").as("k2")),
        call_function("opaque", col("k")) === col("k2"))
        .queryExecution.analyzed
    }
    // the SILENT misuse — laundering opaque through a projection alias
    // and joining on the alias — analyzes fine; the lint catches it
    val laundered = t.withColumn("ok", call_function("opaque", col("k")))
    val joined = laundered.join(
      t.select(col("k").as("k2")), col("ok") === col("k2"))
    assert(PlanLint.opaqueMisuse(joined).nonEmpty,
      "lint missed an opaque()-derived join key")
    intercept[IllegalArgumentException] {
      PlanLint.assertNoOpaqueMisuse(joined)
    }
    // ... and an opaque()-derived repartitioning expression is caught too
    val rep = laundered.repartition(col("ok"))
    assert(PlanLint.opaqueMisuse(rep).nonEmpty,
      "lint missed an opaque()-derived repartitioning expression")
  }

  test("Par.widen rejects post-exchange inputs, accepts scan-rooted shapes") {
    import org.apache.spark.sql.functions.col
    // the contract's legal surface: a raw scan, a projection over it,
    // a filtered projection, and a union of projections (the x142 shape)
    val scan = graft.queries.Q.tbl(spark, sf(), "documents")
    for (df <- Seq(scan, scan.select(col("doc_id")),
        scan.filter(col("doc_id") > 3).select(col("doc_id")),
        scan.select(col("doc_id")).unionByName(scan.select(col("doc_id")))))
      graft.ext.Par.widen(df) // must not throw
    // post-exchange inputs fail fast instead of eagerly materializing
    for (df <- Seq(scan.groupBy(col("lang")).count(),
        scan.join(scan.select(col("doc_id").as("d2")),
          col("doc_id") === col("d2")),
        scan.orderBy(col("doc_id")),
        scan.repartition(7)))
      intercept[IllegalArgumentException] { graft.ext.Par.widen(df) }
  }

  test("x145 standing BM25 index: the postings artifact is computed " +
      "once and both probe batches scan the cached copy") {
    val p = executedPlan(query("x145_bm25_index_reuse"))
      .split("== Initial Plan ==").head
    // the reuse IS the query's thesis: NEITHER batch subtree re-derives
    // postings from the corpus text — the only Generate nodes are the
    // two query-term explodes (qtext), never the corpus tokenize (tk).
    // (The cached-postings scan itself hides behind scorePostings'
    // localCheckpoint RDD boundary, so the positive signal is the
    // checkpointed pruned-postings scans, one per batch.)
    val corpusGens = p.linesIterator.count(l =>
      l.contains("Generate explode") && l.contains("tk#"))
    assert(corpusGens == 0,
      s"a batch re-tokenized the corpus:\n${p.take(2500)}")
    // 2 batches x (dfreq + scoring) = 4 scans of the two checkpointed
    // pruned-postings artifacts — reads of materialized state, never
    // recomputation
    val rddScans = p.linesIterator.count(_.contains("Scan ExistingRDD"))
    assert(rddScans == 4,
      s"expected 4 checkpointed pruned-postings scans, got $rddScans:\n" +
        p.take(2500))
  }

  test("x146 chunking is scan-local — only the output sort exchanges") {
    val p = executedPlan(query("x146_chunk_windows"))
      .split("== Initial Plan ==").head
    assert(!p.contains("Join") && !p.contains("Window") &&
      !p.contains("HashAggregate"), p.take(2000))
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 1, s"got $exchanges:\n${p.take(2000)}")
  }

  test("x147 chunked retrieval reads the cached chunk corpus, not a " +
      "re-derivation") {
    val p = executedPlan(query("x147_chunked_retrieval"))
      .split("== Initial Plan ==").head
    // the chunk table derives once into the cache: the pruned-postings
    // branches read it through scoreTail's localCheckpoint (2 ExistingRDD
    // scans) and the fused corpus-stats branch (round-14: the stats
    // aggregate rides the scoring action) reads the SAME cache through an
    // InMemoryTableScan. The chunk posexplode may appear exactly once —
    // as that scan's printed cache-BUILD lineage — never as an inline
    // re-derivation (which would show a second posexplode, or none of
    // the InMemoryTableScan)
    assert(p.contains("InMemoryTableScan"),
      s"chunk-corpus cache unused in the scoring plan:\n${p.take(2000)}")
    val posexplodes = p.linesIterator.count(_.contains("Generate posexplode"))
    assert(posexplodes <= 1,
      s"chunk corpus re-derived in the scoring plan ($posexplodes " +
        s"posexplode generators):\n${p.take(2000)}")
    val rddScans = p.linesIterator.count(_.contains("Scan ExistingRDD"))
    assert(rddScans == 2,
      s"expected 2 checkpointed postings scans, got $rddScans:\n${p.take(2000)}")
  }

  test("x101 z-order key is scan-local — only the bucket agg exchanges") {
    val p = executedPlan(query("x101_zorder_layout"))
      .split("== Initial Plan ==").head
    // bit interleave must not introduce joins/windows: one partial-agg
    // exchange (bucket groupBy) + the output sort
    assert(!p.contains("Join") && !p.contains("Window"), p.take(2500))
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 2, s"got $exchanges:\n${p.take(2500)}")
  }
}
