package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set
  * against the corpus, score with higher-order functions (codegen'd, no
  * UDF), rank per query with a bounded window.
  *
  * Scale path: LSH bucketing via random-hyperplane signatures. The
  * hyperplanes are derived from a fixed seed so the signature is
  * deterministic and partition-independent; candidates come from a bucket
  * equi-join, so the corpus is scored only within matching buckets. At
  * 100 TB the corpus side stays partitioned by bucket (shuffle once,
  * reusable across query batches), and multi-probe (flipping low-margin
  * bits) trades recall for fan-out without rescanning.
  */
object Similarity {

  /** Dot product in double precision, sequential left-to-right —
    * deterministic and oracle-parity-safe. Uses the native codegen
    * [[graft.functions.VectorDot]] (similarity scoring runs this once per
    * candidate pair; the HOF form interprets with per-element boxing).
    * Callers must have run `Functions.register` on the session — every
    * Similarity entry point does. */
  def dot(a: Column, b: Column): Column = call_function("vector_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: every corpus row scored against every query
    * (queries broadcast), then per-query top-k. Norms are precomputed per
    * side so the cross join multiplies dot products only. */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    graft.functions.Functions.register(corpus.sparkSession)
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
    // zero-norm vectors (empty docs, all-zero embeddings) must rank
    // LAST, not first: 0/0 is NaN and Spark's descending sort places
    // NaN above every real double — a single empty row would become
    // rank-1 for every query. Null sim sorts NULLS LAST under desc.
    val scored = c.crossJoin(broadcast(q))
      .withColumn("sim", when(col("cn") * col("qn") > 0,
        dot(col("cv"), col("qv")) / (col("cn") * col("qn"))))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk"), col("sim"))
  }

  /** Two-stage matryoshka retrieval — the production deployment shape
    * for prefix-truncatable (MRL-trained) embeddings: stage 1 ranks the
    * corpus by the cheap `prefixDim`-dim prefix cosine and keeps a
    * `shortlist`; stage 2 fetches FULL vectors for the shortlist only
    * and reranks exactly. At scale the prefix rides a separate stored
    * column (prefixDim/dim of the scan bytes — 16/256 = 16× less memory
    * bandwidth in stage 1), and full vectors are only ever read for
    * `shortlist × queries` rows — which is why the stage-1 output
    * carries ids alone and stage 2 joins the corpus back by id.
    * x42/x46 audit what truncation loses; this is the operator that
    * exploits it. */
  def twoStageTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, prefixDim: Int,
      shortlist: Int, k: Int): DataFrame = {
    graft.functions.Functions.register(corpus.sparkSession)
    val cp = corpus.select(col(idCol).as("nid"),
        slice(col(vecCol).cast("array<double>"), 1, prefixDim).as("cp"))
      .withColumn("cpn", norm(col("cp")))
    val q = queries.select(col(idCol).as("qid"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qp", slice(col("qv"), 1, prefixDim))
      .withColumn("qpn", norm(col("qp")))
      .withColumn("qn", norm(col("qv")))
    val w1 = Window.partitionBy(col("qid"))
      .orderBy(col("psim").desc, col("nid"))
    val short = cp.crossJoin(broadcast(q))
      .withColumn("psim", when(col("cpn") * col("qpn") > 0,
        dot(col("cp"), col("qp")) / (col("cpn") * col("qpn"))))
      .withColumn("prnk", row_number().over(w1))
      .filter(col("prnk") <= shortlist)
      .select(col("qid"), col("nid"), col("qv"), col("qn"))
    // full vectors fetched for the shortlist ONLY
    val full = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("cv"))
    val w2 = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid"))
    short.join(full, "nid")
      .withColumn("cn", norm(col("cv")))
      .withColumn("sim", when(col("cn") * col("qn") > 0,
        dot(col("cv"), col("qv")) / (col("cn") * col("qn"))))
      .withColumn("rnk", row_number().over(w2))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("nid"), col("sim"))
  }

  /** Random-hyperplane LSH signature: bit_p = sign(v · plane_p), planes
    * drawn from a seeded Gaussian. Delegates to the native
    * [[graft.functions.HyperplaneSig]] expression: the plan carries three
    * scalars instead of `nBits × dim` literal nodes (~100k at production
    * embedding dims), and the plane matrix materializes once per executor
    * as a codegen reference object. Registers the native functions on the
    * active session first — a bare external call must not fail resolution
    * where the old pure-Column form would have worked. CAVEAT: the
    * unresolved `call_function` Column resolves against the owning
    * DataFrame's OWN session at analysis time, which in a multi-session
    * app may differ from the active/default session registered here —
    * external callers in that setting must run
    * `graft.functions.Functions.register(df.sparkSession)` first (the
    * pattern every internal call site uses). */
  def lshSignature(vec: Column, nBits: Int, dim: Int, seed: Long = 42L): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .foreach(graft.functions.Functions.register)
    call_function("hyperplane_sig", vec, lit(nBits), lit(dim), lit(seed))
  }

  /** Embedding-cosine near-duplicate pairs, exact, via a blocked
    * (chunk-pair) self-join — the distributed form of the all-pairs
    * triangle. Ids hash into `blocks` chunks; each unordered chunk pair
    * (lo ≤ hi) becomes one join bucket, a row joins as the LEFT role in
    * buckets `(ch, x ≥ ch)` and the RIGHT role in `(x ≤ ch, ch)`, so every
    * id pair meets in exactly one bucket exactly once — no `distinct`, no
    * broadcast, no nested-loop over the corpus. Per-task memory is two
    * chunks (~2n/blocks rows); shuffle volume is (blocks+1)× the vector
    * table. Exact all-pairs is inherently O(n²) compute — this spreads it
    * evenly across the cluster instead of funneling it through a broadcast
    * that would BE the corpus at 100 TB. For high thresholds where a
    * candidate filter is acceptable, [[cosineNearDupPairsLsh]] cuts the
    * quadratic term and is the preferred 100 TB path. */
  def cosineNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blocks: Int = 8): DataFrame = {
    graft.functions.Functions.register(df.sparkSession)
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("n", norm(col("v")))
      .withColumn("ch", pmod(xxhash64(col("id")), lit(blocks)).cast("int"))
    // sequence() is ascending here (ch <= blocks-1, 0 <= ch) — the a>b
    // descending trap does not apply
    val leftKeys = transform(sequence(col("ch"), lit(blocks - 1)),
      x => struct(col("ch").as("lo"), x.as("hi")))
    val rightKeys = transform(sequence(lit(0), col("ch")),
      x => struct(x.as("lo"), col("ch").as("hi")))
    val l = base.select(explode(leftKeys).as("pk"),
      col("id").as("id_l"), col("v").as("vl"), col("n").as("nl"))
    val r = base.select(explode(rightKeys).as("pk"),
      col("id").as("id_r"), col("v").as("vr"), col("n").as("nr"))
    l.join(r, Seq("pk"))
      // same-chunk bucket sees both orientations: keep the triangle half.
      // Cross-chunk buckets see each pair once in arbitrary orientation.
      .filter(col("pk.lo") =!= col("pk.hi") || col("id_l") < col("id_r"))
      // opaque(): keep the O(dim) dot in THIS projection — a pushed-down
      // sim >= θ re-evaluates it in the join condition and again here
      // (see graft.functions.Opaque). Project + filter still pipeline
      // inside the join's codegen stage, so only surviving pairs reach
      // any downstream exchange.
      .withColumn("sim", call_function("opaque",
        dot(col("vl"), col("vr")) / (col("nl") * col("nr"))))
      .filter(col("sim") >= threshold)
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"), col("sim"))
  }

  /** LSH-banded near-dup (the 100 TB default for high thresholds):
    * candidates share at least one band of a random-hyperplane signature,
    * exact cosine runs only within buckets. Recall is probabilistic —
    * a pair at similarity s shares a band with probability
    * 1-(1-(1-acos(s)/π)^bitsPerBand)^bands — so thresholds near 1 are
    * caught almost surely and the quadratic term shrinks to bucket sizes.
    * For exact semantics at loose thresholds use [[cosineNearDupPairs]]. */
  def cosineNearDupPairsLsh(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBits: Int = 64, bands: Int = 8, dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    // default 8 bits/band: a RANDOM pair collides in some band with
    // probability ≈ bands/2^bitsPerBand ≈ 3% — the quadratic term actually
    // shrinks. 4-bit bands would admit ~40% of all pairs as candidates.
    graft.functions.Functions.register(df.sparkSession)
    val bitsPerBand = nBits / bands
    val mask = (1L << bitsPerBand) - 1
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("n", norm(col("v")))
      .withColumn("sig", lshSignature(col("v"), nBits, dim, seed))
      .localCheckpoint(eager = false) // signature once, not per join side
    val banded = base.select(col("id"), col("v"), col("n"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sig"), b * bitsPerBand).bitwiseAND(lit(mask))
            .as("bits"))): _*)).as("bk"))
    banded.as("x").join(banded.as("y"), col("x.bk") === col("y.bk"))
      .filter(col("x.id") < col("y.id"))
      // score INSIDE the join stage: only above-threshold pairs reach the
      // dedup shuffle (pairs sharing several bands dedup on identical
      // sims). opaque() keeps the O(dim) dot computed ONCE in this
      // projection instead of re-inlined into the join condition; the
      // project + filter still pipeline within the join's codegen stage,
      // so the shuffle-reduction property is unchanged.
      .withColumn("sim", call_function("opaque",
        dot(col("x.v"), col("y.v")) / (col("x.n") * col("y.n"))))
      .filter(col("sim") >= threshold)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"), col("sim"))
      .distinct()
  }

  /** The IVF coarse-quantizer centroids as a published seeded constant of
    * the corpus (same contract as [[pqCodebook]]): ONE distributed action
    * samples the `fitSample` vectors with the smallest id-hashes
    * (TakeOrdered — map-side partial top-K, bounded driver memory,
    * deterministic), then seeded k-means++/Lloyd rounds run driver-
    * locally. A coarse quantizer needs usable cells, not converged ones —
    * recall is governed by nProbe — and distributed KMeans over what must
    * be a bounded sample anyway was measured to be pure scheduling
    * overhead (m × maxIter jobs). Returns (cell, centroid) pairs. */
  def ivfCentroids(
      corpus: DataFrame, idCol: String, vecCol: String, nCentroids: Int,
      seed: Long, fitSample: Int = 4096): Seq[(Int, Array[Double])] =
    ivfCentroidsFrom(
      sampleVectors(corpus, idCol, vecCol, fitSample), nCentroids, seed)

  /** The shared deterministic fit sample: the `fitSample` vectors with
    * the smallest id-hashes. One TakeOrdered action; [[ivfPqTopK]]
    * collects it once and feeds BOTH fits. */
  private def sampleVectors(corpus: DataFrame, idCol: String,
      vecCol: String, fitSample: Int): Array[Array[Double]] = corpus
    .select(col(idCol).as("nid"), col(vecCol).cast("array<double>").as("v"))
    .orderBy(pmod(xxhash64(col("nid")), lit(1000000007L)), col("nid"))
    .limit(fitSample)
    .select(col("v")).collect().map(_.getSeq[Double](0).toArray)

  private def ivfCentroidsFrom(sample: Array[Array[Double]],
      nCentroids: Int, seed: Long): Seq[(Int, Array[Double])] =
    localLloyd(sample, nCentroids, iters = 8, seed = seed)
      .zipWithIndex.map { case (c, i) => (i, c) }

  /** Label every row of `df` with the id of its nearest centroid (squared
    * L2, ties to the lower cell id) in a new `cell` column. Map-only: the
    * centroids ride to executors as a broadcast variable and the argmin
    * is a primitive loop per row — no shuffle, no per-centroid plan
    * nodes, the exact physical shape of MLlib's `model.transform`
    * (which is also a predict UDF over broadcast centers). */
  private[graft] def assignCells(df: DataFrame, vecCol: String,
      centroids: Seq[(Int, Array[Double])]): DataFrame = {
    // carry the centroid IDS alongside the vectors: the standard build
    // path labels with ids 0..n-1 where index == id, but the repair
    // path ([[repairDriftedCells]]) assigns against refit sub-centroids
    // whose ids sit ABOVE the standing set — returning the array index
    // there silently mislabeled every re-routed vector (round-11 bug,
    // caught by the x152 oracle before it shipped)
    val sorted = centroids.sortBy(_._1)
    val cents: Array[Array[Double]] = sorted.map(_._2).toArray
    val ids: Array[Int] = sorted.map(_._1).toArray
    val bc = df.sparkSession.sparkContext.broadcast((cents, ids))
    val predict = udf { (v: Seq[Double]) =>
      val (cs, cid) = bc.value
      val arr = v.toArray
      var best = 0
      var bd = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        var d = 0.0
        var t = 0
        val cv = cs(c)
        while (t < cv.length) { val x = arr(t) - cv(t); d += x * x; t += 1 }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      cid(best)
    }
    df.withColumn("cell", predict(col(vecCol)))
  }

  /** IVF (inverted-file) ANN: a k-means coarse quantizer partitions the
    * corpus into `nCentroids` cells; each query probes its `nProbe`
    * nearest cells and scores only those vectors. At 100 TB the corpus is
    * written partitioned by cell id (one shuffle, reused by every query
    * batch), centroids are driver-side constants, and `nProbe` trades
    * recall for scan fraction (~nProbe/nCentroids of the corpus). */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    graft.functions.Functions.register(corpus.sparkSession)
    val cents = ivfCentroids(corpus, idCol, vecCol, nCentroids, seed = 42L)
    val assigned = assignCells(
        corpus.select(col(idCol).as("nid"),
          col(vecCol).cast("array<double>").as("cv")),
        "cv", cents)
      .withColumn("cn", norm(col("cv")))

    val probes = probeCellsFlat(queries, idCol, vecCol, cents, nProbe)

    val scored = assigned.join(broadcast(probes), "cell")
      .withColumn("sim", when(col("cn") * col("qn") > 0,
        dot(col("cv"), col("qv")) / (col("cn") * col("qn"))))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk"), col("sim"))
  }

  /** Rank each query against the coarse-quantizer centroids and keep its
    * `nProbe` nearest cells. The centroids ride in a BROADCAST local
    * relation, not the plan tree: the former `array(struct(lit…))`
    * explode inlined nCentroids × dim literal nodes per query row — fine
    * at 16 cells, a plan-construction bomb at the 4k–64k cells a
    * production IVF uses (the same failure mode the native
    * `hyperplane_sig` expression killed for LSH planes). As a local
    * relation the plan carries one LocalTableScan regardless of cell
    * count, and the per-(query, centroid) distance is the identical
    * zip-with fold, so probe choice — and therefore ivfTopK output — is
    * unchanged. */
  private[graft] def probeCells(
      queries: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Array[Double])], nProbe: Int): DataFrame = {
    val session = queries.sparkSession
    import session.implicits._
    val centDf = centroids.toDF("cell", "cvec")
    val q = queries.select(col(idCol).as("qid"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv")))
      .crossJoin(broadcast(centDf))
      .withColumn("d2", aggregate(
        zip_with(col("qv"), col("cvec"), (x: Column, y: Column) => (x - y) * (x - y)),
        lit(0.0), (acc: Column, x: Column) => acc + x))
    val probeW = Window.partitionBy(col("qid")).orderBy(col("d2"), col("cell"))
    q.withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .select(col("qid"), col("qv"), col("qn"), col("cell"))
  }

  /** SemDeDup-style semantic deduplication: within each semantic cluster,
    * a vector is a duplicate when some LOWER-id vector in the same cluster
    * sits above the cosine threshold; `dup_of` records the smallest such
    * id. (The published SemDeDup greedy variant compares against the
    * *kept* set only; this dominance form is order-independent — a pure
    * join, no sequential pass — and identical whenever near-duplication is
    * transitive within a cluster, which at the 0.95+ thresholds used in
    * practice it is.)
    *
    * Scale shape: the quadratic term is confined to cluster-equi-join
    * buckets — at 100 TB the cluster column comes from a coarse quantizer
    * (the IVF KMeans cells of [[ivfTopK]] work as-is) sized so clusters
    * fit a task, and each side of the self-join shuffles the vector table
    * exactly once on the cluster key. Nothing is broadcast or collected.
    * Reference capability: corpus near-dup curation (see SURVEY §2 ext). */
  def semanticDedup(
      df: DataFrame, idCol: String, vecCol: String,
      clusterCol: String, threshold: Double): DataFrame = {
    graft.functions.Functions.register(df.sparkSession)
    val base = df.select(col(clusterCol).as("cluster"), col(idCol).as("id"),
        col(vecCol).as("v"))
      .withColumn("n", norm(col("v")))
      .localCheckpoint(eager = false) // feeds both join sides + the output
    val dups = base.as("a").join(base.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") > col("b.id"))
      // score inside the join stage: zero-norm rows yield null sim, which
      // fails the >= filter (they can never be duplicates of anything)
      .filter(when(col("a.n") * col("b.n") > 0,
        dot(col("a.v"), col("b.v")) / (col("a.n") * col("b.n")))
        >= threshold)
      .groupBy(col("a.id").as("id"))
      .agg(min(col("b.id")).as("dup_of"))
    base.select(col("id"), col("cluster"))
      .join(dups, Seq("id"), "left")
      .withColumn("kept", col("dup_of").isNull.cast("long"))
  }

  /** SemDeDup at corpus scale: [[semanticDedup]] with the cluster column
    * produced by the IVF coarse quantizer — the documented "IVF cells as
    * clusters at 100 TB" composition as working code, not a comment. One
    * bounded-sample centroid fit ([[ivfCentroids]]), one map-only scan to
    * label rows ([[assignCells]]), then the cluster-bucketed dominance
    * join: the quadratic term never leaves a cell, and cell count is the
    * knob that sizes cells to a task. */
  def semanticDedupIvf(
      df: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, threshold: Double = 0.35,
      seed: Long = 42L): DataFrame = {
    val cents = ivfCentroids(df, idCol, vecCol, nCells, seed = seed)
    val assigned = assignCells(
        df.select(col(idCol), col(vecCol).cast("array<double>").as("__arr")),
        "__arr", cents)
      .select(col(idCol), col("__arr").as(vecCol), col("cell").as("__cell"))
    semanticDedup(assigned, idCol, vecCol, "__cell", threshold)
  }

  /** kNN label vote: predict each query's label by majority among its `k`
    * nearest corpus neighbours (self excluded), ties broken toward the
    * higher vote count then the smaller label — the weak-supervision /
    * auto-labeling shape. Queries broadcast (a labeling batch is small
    * next to the corpus); the corpus is scanned once; votes partial-
    * aggregate before their single shuffle. At 100 TB swap the
    * brute-force candidate stage for [[lshTopK]]/[[ivfTopK]] buckets —
    * the vote pipeline after the rank is unchanged. */
  def knnPredict(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    graft.functions.Functions.register(corpus.sparkSession)
    val c = corpus.select(col(idCol).as("nid"), col(labelCol).as("nlabel"),
        col(vecCol).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val q = queries.select(col(idCol).as("qid"), col(labelCol).as("qlabel"),
        col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid")) // leave-one-out
      .withColumn("sim", when(col("cn") * col("qn") > 0,
        dot(col("cv"), col("qv")) / (col("cn") * col("qn"))))
    val nnW = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    val votes = scored.withColumn("rnk", row_number().over(nnW))
      .filter(col("rnk") <= k)
      .groupBy(col("qid"), col("qlabel"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
    val voteW = Window.partitionBy(col("qid"))
      .orderBy(col("votes").desc, col("nlabel"))
    votes.withColumn("pr", row_number().over(voteW))
      .filter(col("pr") === 1)
      .select(col("qid"), col("qlabel").as("true_label"),
        col("nlabel").as("pred_label"), col("votes"),
        (col("qlabel") === col("nlabel")).cast("long").as("correct"))
  }

  /** Hard-negative mining for contrastive training: per query, the `k`
    * most-similar corpus vectors with a DIFFERENT label — near the
    * query in embedding space yet labeled otherwise, the negatives that
    * actually teach a retriever (random negatives are trivially far).
    * Same candidate economics as [[knnPredict]]: queries broadcast for
    * a small mining batch; swap the candidate stage for
    * [[lshTopK]]-style buckets (no broadcast) when mining a corpus
    * fraction — the rank/filter tail is candidate-source-agnostic. */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    graft.functions.Functions.register(corpus.sparkSession)
    val c = corpus.select(col(idCol).as("nid"), col(labelCol).as("nlabel"),
        col(vecCol).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val q = queries.select(col(idCol).as("qid"), col(labelCol).as("qlabel"),
        col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nlabel") =!= col("qlabel")) // negatives only
      .withColumn("sim", when(col("cn") * col("qn") > 0,
        dot(col("cv"), col("qv")) / (col("cn") * col("qn"))))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("qlabel"), col("rnk"), col("nid"),
        col("nlabel"), col("sim"))
  }

  /** Embedding outlier detection: each vector's cosine to its label/cell
    * centroid, bottom-`bottomK` per label reported (smallest similarity =
    * farthest from the cluster mass — mislabeled or junk rows in a
    * training corpus).
    *
    * The centroid mean folds each component list in id order (sorted
    * collect per (label, position)), so the float sum — and therefore the
    * oracle hash — is pinned, not merely round-cushioned (the x31
    * pattern). That pinned fold holds cluster-sized lists per group; at
    * 100 TB swap it for plain `avg(x)` — same plan shape, one partial-
    * aggregated shuffle of label×dim groups, at the cost of bitwise
    * reproducibility of the last ulp. Centroids (labels × dim doubles)
    * broadcast to the scoring scan. Ranking runs on the ROUNDED
    * similarity so rank ties are deterministic across engines. */
  def centroidOutliers(
      df: DataFrame, idCol: String, vecCol: String, labelCol: String,
      bottomK: Int): DataFrame = {
    graft.functions.Functions.register(df.sparkSession)
    val base = df.select(col(labelCol).as("label"), col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .localCheckpoint(eager = false) // feeds the centroid pass AND scoring
    val parts = base.select(col("label"), col("id"),
      posexplode(col("v")).as(Seq("pos", "x")))
    val cent = parts.groupBy(col("label"), col("pos"))
      .agg((aggregate(
          transform(sort_array(collect_list(struct(col("id"), col("x")))),
            s => s.getField("x")),
          lit(0.0), (a: Column, x: Column) => a + x)
        / count(lit(1))).as("m"))
    val cvecs = cent.groupBy(col("label"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = base.withColumn("n", norm(col("v")))
      .join(broadcast(cvecs), Seq("label"))
      .withColumn("sim_centroid",
        round(dot(col("v"), col("cv")) / (col("n") * col("cn")), 4))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("sim_centroid").asc, col("id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= bottomK)
      .select(col("id"), col("label"), col("sim_centroid"), col("rk"))
  }

  /** Scalar int8 quantization audit: symmetric per-vector quantization
    * (`q_i = floor(127·x_i / max|x| + 0.5)`, the faiss/SQ8 storage shape
    * that cuts an embedding corpus 4× at 100 TB), scored by the cosine
    * between each original vector and its quantized form — cosine is
    * scale-invariant, so no dequantization pass is needed. The rounding
    * is explicit floor(·+0.5) rather than round(): x/mx is a dyadic
    * ratio that can land exactly on .5 (e.g. x = mx/2 → 63.5), where
    * round() tie modes differ across engines/versions; floor(·+0.5) is
    * the same IEEE ops everywhere. Everything is element-wise scan-local
    * arithmetic: zero shuffles, zero joins; the one aggregation is the
    * caller's. Zero vectors quantize to zero and report null fidelity
    * (no direction to preserve). */
  def quantizationAudit(
      df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    graft.functions.Functions.register(df.sparkSession)
    val v = col("v")
    val mx = array_max(transform(v, x => abs(x)))
    val qv = transform(v,
      x => floor(x * 127d / col("mx") + 0.5d).cast("double"))
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("mx", mx)
      .withColumn("qv", when(col("mx") > 0, qv))
      .withColumn("fidelity", when(col("mx") > 0,
        round(dot(v, col("qv")) / (norm(v) * norm(col("qv"))), 4)))
      .select(col("id"), col("fidelity"))
  }

  /** Product-quantization ANN — the compression half of IVF-PQ (Jégou,
    * Douze, Schmid 2011, "Product quantization for nearest neighbor
    * search"). Each dim-D vector splits into `m` contiguous subvectors; a
    * seeded KMeans codebook of `codebookSize` entries is fit per subspace;
    * the corpus is then stored as m small codes. At 256 codes and m=8 a
    * 64-dim float corpus shrinks 32× (256 B → 8 B/vector) — THE 100 TB
    * lever: queries rank against the code table alone and the float
    * vectors are never touched (or shuffled) at query time.
    *
    * Scoring is asymmetric distance (ADC): per query, a lookup table of
    * subvector→centroid squared L2 distances (m × codebookSize rows) is
    * joined against the code table and the partials are summed in fixed
    * subspace order (one `sum(when(sub=i))` term per subspace, added
    * 0..m-1 — deterministic double arithmetic, oracle-parity-safe).
    *
    * Scale shape: encoding is one broadcast-codebook join + a map-side-
    * combinable (id, sub) argmin — computed once, persisted beside the
    * corpus, reused by every query batch; scoring is a broadcast LUT join
    * plus a (qid, id) partial aggregation. The two driver-side actions are
    * bounded by construction: a 1-row dim probe and the m codebook fits
    * (KMeans over an `m`-th of the columns each; at 100 TB the fit input
    * must be a bounded sample, as with [[ivfTopK]]).
    *
    * Returns (qid, nid, rnk, adc): `adc` is the approximate squared L2
    * distance, ascending. Reference capability: corpus-scale similarity
    * search (SURVEY §2 ext); composes with the IVF cells of [[ivfTopK]]
    * for the full IVF-PQ shape. */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 4, codebookSize: Int = 16, seed: Long = 42L): DataFrame =
    pqTopKImpl(corpus, queries, idCol, vecCol, k, m, codebookSize, seed)

  /** Seeded Lloyd's k-means over a driver-local sample: k-means++ D²
    * seeding, `iters` assignment/update rounds, empty clusters keep
    * their previous center. Deterministic for a fixed (sample, k, seed)
    * — the codebook fit of [[pqTopK]], where the input is a bounded
    * sample by contract and distributed KMeans was measured to be pure
    * scheduling overhead. */
  private[graft] def localLloyd(pts: Array[Array[Double]], k: Int, iters: Int,
      seed: Long): Array[Array[Double]] = {
    require(pts.nonEmpty)
    val rnd = new scala.util.Random(seed)
    val n = pts.length
    val dim = pts(0).length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0
      var t = 0
      while (t < dim) { val x = a(t) - b(t); d += x * x; t += 1 }
      d
    }
    // k-means++ init: first center uniform, then D²-weighted draws
    val centers = Array.ofDim[Double](k, dim)
    centers(0) = pts(rnd.nextInt(n)).clone()
    val minD2 = Array.fill(n)(Double.MaxValue)
    var ci = 1
    while (ci < k) {
      var i = 0
      var total = 0.0
      while (i < n) {
        val d = d2(pts(i), centers(ci - 1))
        if (d < minD2(i)) minD2(i) = d
        total += minD2(i)
        i += 1
      }
      if (total == 0.0) {
        // fewer distinct points than k: repeat a point, cluster stays empty
        centers(ci) = pts(rnd.nextInt(n)).clone()
      } else {
        var r = rnd.nextDouble() * total
        // fallback when floating-point residue leaves r >= 0 after the
        // scan: the LAST point with positive D² mass — a valid draw from
        // the tail of the distribution — never index 0, which would bias
        // the seeding toward an already-covered point
        var pick = -1
        i = 0
        while (i < n && r >= 0.0) {
          r -= minD2(i)
          if (r < 0.0) pick = i
          else if (minD2(i) > 0.0) pick = i
          i += 1
        }
        if (pick < 0) pick = 0 // unreachable: total > 0 has a positive entry
        centers(ci) = pts(pick).clone()
      }
      ci += 1
    }
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < n) {
        var best = 0
        var bd = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0
          var t = 0
          while (t < dim) {
            val x = pts(i)(t) - centers(c)(t); d += x * x; t += 1
          }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.ofDim[Double](k, dim)
      val cnt = new Array[Int](k)
      i = 0
      while (i < n) {
        val a = assign(i)
        cnt(a) += 1
        var t = 0
        while (t < dim) { sums(a)(t) += pts(i)(t); t += 1 }
        i += 1
      }
      var c = 0
      while (c < k) {
        if (cnt(c) > 0) {
          var t = 0
          while (t < dim) { centers(c)(t) = sums(c)(t) / cnt(c); t += 1 }
        }
        c += 1
      }
      it += 1
    }
    centers
  }

  /** The PQ codebook as a published seeded constant of the corpus (the
    * LSH-planes precedent: a deterministic artifact both the engine and
    * an oracle consume as literals). Bounded-sample local fit — the
    * 100 TB contract was always "the fit input is a sample, never the
    * corpus", honored literally: ONE distributed action takes the
    * `fitSample` vectors with the smallest id-hashes (TakeOrdered:
    * map-side partial top-K, bounded driver memory, deterministic),
    * then all m codebooks run seeded k-means++ / Lloyd rounds
    * driver-locally over ≤ a few MB. Fit cost stops scaling with
    * m × maxIter Spark jobs — distributed KMeans on a 4096-row sample
    * was measured to be pure scheduling overhead (2.0 s → the
    * encode/score cost alone). Returns (sub, code, centroid) rows. */
  def pqCodebook(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, codebookSize: Int, seed: Long,
      fitSample: Int = 4096): Seq[(Int, Int, Array[Double])] =
    pqCodebookFrom(
      sampleVectors(corpus, idCol, vecCol, fitSample), m, codebookSize, seed)

  private def pqCodebookFrom(sample: Array[Array[Double]],
      m: Int, codebookSize: Int, seed: Long): Seq[(Int, Int, Array[Double])] = {
    require(sample.nonEmpty)
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    (0 until m).flatMap { subIdx =>
      val pts = sample.map(v =>
        java.util.Arrays.copyOfRange(v, subIdx * subDim, (subIdx + 1) * subDim))
      localLloyd(pts, codebookSize, iters = 8, seed = seed + subIdx)
        .zipWithIndex.map { case (c, ci) => (subIdx, ci, c) }
    }
  }

  private def pqTopKImpl(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int, codebookSize: Int, seed: Long): DataFrame = {
    val session = corpus.sparkSession
    import session.implicits._

    val base = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("v"))
    val dim = base.select(size(col("v"))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m

    def l2sq(x: Column, y: Column): Column = aggregate(
      zip_with(x, y, (a: Column, b: Column) => (a - b) * (a - b)),
      lit(0.0), (acc: Column, t: Column) => acc + t)
    // (sub, subvector) pairs of one vector, as an explodable array
    def subs(v: Column): Column = transform(
      sequence(lit(0), lit(m - 1)),
      (i: Column) => struct(i.as("sub"),
        slice(v, i * subDim + 1, lit(subDim)).as("sv")))

    val codebook = pqCodebook(corpus, idCol, vecCol, m, codebookSize, seed)
    val cbDf = broadcast(codebook
      .map { case (sub, code, c) => (sub, code, c.toSeq) }
      .toDF("sub", "code", "cvec"))

    // encode: per (vector, subspace), the nearest codebook entry —
    // map-only (broadcast-variable argmin + posexplode), zero exchanges
    val encoded = pqEncodeCodes(base, "v", codebook, m)
      .select(col("nid"), posexplode(col("codes_arr")))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "code")

    // per-query ADC lookup table: m × codebookSize partial distances
    val lut = queries
      .select(col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
      .select(col("qid"), explode(subs(col("qv"))).as("e"))
      .select(col("qid"), col("e.sub").as("sub"), col("e.sv").as("qsv"))
      .join(cbDf, "sub")
      .select(col("qid"), col("sub"), col("code"),
        l2sq(col("qsv"), col("cvec")).as("pd2"))

    // each (nid, sub) matches exactly one LUT row per qid, so every sum
    // term below aggregates a single value — exact, and the terms add in
    // fixed subspace order
    val adc = (0 until m)
      .map(i => sum(when(col("sub") === i, col("pd2")))).reduce(_ + _)
    val scored = encoded.join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col("qid"), col("nid"))
      .agg(adc.as("adc"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("nid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk"), col("adc"))
  }

  /** IVF-PQ ANN — the full production composition ([[ivfTopK]]'s coarse
    * cells × [[pqTopK]]'s compressed scoring), previously only promised
    * in prose. Each query probes its `nProbe` nearest cells; within
    * them, candidates rank by ADC against the PQ code table. The float
    * vectors are touched only at index-build time: at query time the
    * corpus contributes (cell, m codes) per vector — at 100 TB that
    * index is ~1/30th the corpus, written partitioned by cell, and a
    * query batch scans ~nProbe/nCentroids of it.
    *
    * Both constants are published seeded artifacts ([[ivfCentroids]],
    * [[pqCodebook]]), so the whole pipeline is deterministic and
    * naive-oracle-checkable. The cell id rides the PQ-encode groupBy as
    * a grouping column (constant per nid) — no corpus-keyed join
    * re-associates it. Returns (qid, nid, rnk, adc). */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4,
      m: Int = 4, codebookSize: Int = 16, seed: Long = 42L): DataFrame =
    ivfPqTopKOnIndex(
      buildIvfPqIndex(corpus, idCol, vecCol, nCentroids, m, codebookSize,
        seed),
      queries, idCol, vecCol, k, nProbe)

  /** The persistable IVF-PQ index: the two seeded fit artifacts plus the
    * per-vector code table `codes` — (nid, cell, sub: one row per
    * subspace, code). [[AnnIndexStore]] persists it (codes partitioned
    * by `cell`, the constants beside them) and every index entry point
    * accepts its `load()` unchanged, so the corpus floats are read
    * exactly once per index build, never per query batch. */
  final case class IvfPqIndex(
      centroids: Seq[(Int, Array[Double])],
      codebook: Seq[(Int, Int, Array[Double])],
      codes: DataFrame)

  /** Build the IVF-PQ index for a corpus: one sample action feeds both
    * seeded fits (the public per-fit entry points collect the identical
    * rows, so the artifacts are unchanged), then one corpus pass labels
    * cells (map-only [[assignCells]]) and PQ-encodes — the cell id rides
    * the encode groupBy as a grouping column (constant per nid), so no
    * corpus-keyed join re-associates it. */
  def buildIvfPqIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 16, m: Int = 4, codebookSize: Int = 16,
      seed: Long = 42L): IvfPqIndex = {
    val session = corpus.sparkSession
    import session.implicits._
    val base = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("v"))
    val dim = base.select(size(col("v"))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sample = sampleVectors(corpus, idCol, vecCol, fitSample = 4096)
    val cents = ivfCentroidsFrom(sample, nCentroids, seed)
    val codebook = pqCodebookFrom(sample, m, codebookSize, seed)
    // cell label and PQ codes are both map-only over broadcast constants
    // (assignCells + pqEncodeCodes): the whole code table materializes
    // with ZERO exchanges — one corpus scan, pinned in PlanShapeSpec
    val codes = pqEncodeCodes(assignCells(base, "v", cents), "v",
        codebook, m)
      .select(col("nid"), col("cell"), posexplode(col("codes_arr")))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "code")
      .select(col("nid"), col("cell"), col("sub"), col("code"))
    IvfPqIndex(cents, codebook, codes)
  }

  /** Extend a standing [[IvfPqIndex]] with a new vector batch WITHOUT
    * refitting: the index's centroids and codebook are FROZEN constants
    * (the production pattern — refitting would re-encode the whole
    * corpus and silently shift every stored code), so the new batch runs
    * the same map-only assignCells + pqEncodeCodes pass and its code
    * rows append. Query results over old vectors are bit-unchanged; new
    * vectors rank by the same ADC geometry. Caller contract: batch ids
    * are disjoint from the indexed corpus. Periodic refits (drifted
    * data) are a rebuild, by design. */
  def extendIvfPqIndex(index: IvfPqIndex, df: DataFrame,
      idCol: String, vecCol: String): IvfPqIndex = {
    val m = index.codebook.map(_._1).max + 1
    val base = df.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("v"))
    val newCodes = pqEncodeCodes(assignCells(base, "v", index.centroids),
        "v", index.codebook, m)
      .select(col("nid"), col("cell"), posexplode(col("codes_arr")))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "code")
      .select(col("nid"), col("cell"), col("sub"), col("code"))
    index.copy(codes = index.codes.unionByName(newCodes))
  }

  /** DELETE vectors from a standing [[IvfPqIndex]] without rebuild: the
    * code table drops the doomed ids (one anti-join on the 4-int-wide
    * codes, never the float corpus); centroids and codebook stay frozen.
    * Every surviving vector's ADC geometry is untouched, so query
    * results are bit-identical to an index encoded from the surviving
    * corpus with the same constants (pinned by x149 + IvfPqSpec). At
    * 100 TB the anti-join prunes to the deleted ids' cell partitions
    * when `codes` is stored partitioned by cell and the caller carries
    * the (id → cell) assignment — the same bucket-pruned delete shape as
    * [[graft.streaming.ParquetReplica.destroy]]. */
  def removeFromIvfPqIndex(index: IvfPqIndex, ids: DataFrame,
      idCol: String): IvfPqIndex =
    index.copy(codes = index.codes
      .join(ids.select(col(idCol).as("nid")), Seq("nid"), "left_anti"))

  /** The repair fit: `splitInto × |cells|` replacement centroids for a
    * set of drifted cells, fit over the vectors CURRENTLY ROUTED to
    * those cells (deterministic id-hash sample, the [[ivfCentroids]]
    * rule), with fresh ids ABOVE the standing set so surviving cells
    * keep theirs. Public for the same reason [[ivfCentroids]] is: the
    * fit is shared deterministic preprocessing; the naive oracle
    * re-derives everything downstream of it. */
  def repairCentroids(index: IvfPqIndex, corpus: DataFrame, idCol: String,
      vecCol: String, cells: Seq[Int], splitInto: Int = 2,
      seed: Long = 42L, fitSample: Int = 4096): Seq[(Int, Array[Double])] =
    repairCentroidsOf(index,
      affectedVectors(index, corpus, idCol, vecCol, cells),
      cells, splitInto, seed, fitSample)

  /** The affected-vector frame of a repair: the corpus rows whose ids
    * the index currently routes to `cells` — computed ONCE and shared
    * by the fit sample and the re-routing pass. */
  private def affectedVectors(index: IvfPqIndex, corpus: DataFrame,
      idCol: String, vecCol: String, cells: Seq[Int]): DataFrame = {
    val affectedIds = index.codes
      .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
      .select(col("nid")).distinct()
    corpus
      .select(col(idCol).as("nid"), col(vecCol).cast("array<double>").as("v"))
      .join(affectedIds, Seq("nid"), "left_semi")
  }

  private def repairCentroidsOf(index: IvfPqIndex, affected: DataFrame,
      cells: Seq[Int], splitInto: Int, seed: Long,
      fitSample: Int): Seq[(Int, Array[Double])] = {
    require(cells.nonEmpty && splitInto >= 1)
    val sample = affected
      .orderBy(pmod(xxhash64(col("nid")), lit(1000000007L)), col("nid"))
      .limit(fitSample)
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, s"no vectors routed to cells $cells")
    val maxId = index.centroids.map(_._1).max
    localLloyd(sample, math.min(cells.size * splitInto, sample.length),
        iters = 8, seed = seed)
      .zipWithIndex.map { case (c, i) => (maxId + 1 + i, c) }
  }

  /** REPAIR drifted cells in a standing [[IvfPqIndex]] without a
    * rebuild — the operational response to [[ivfCellDrift]] flagging
    * cells whose arrivals no longer fit the frozen quantizer (the
    * missing piece between "detect drift" and "rebuild everything",
    * which at 100 TB is the difference between re-routing one cell's
    * vectors and re-encoding the corpus):
    *
    *  - the drifted cells' centroids are REPLACED by `splitInto`
    *    refit sub-centroids each ([[repairCentroids]] — fresh ids, so
    *    surviving cells keep theirs and their code rows are
    *    bit-untouched);
    *  - ONLY the affected vectors re-route (map-only argmin over the
    *    refit subs); their PQ codes are UNCHANGED — the codebook is
    *    subspace-global and frozen, so repair rewrites one small int
    *    per affected row, never a re-encode;
    *  - probes against the repaired index rank over the composed
    *    centroid set.
    *
    * Boundary honesty: vectors of SURVIVING cells are not re-examined,
    * so one sitting closer to a new sub-centroid than to its own cell
    * keeps its old routing — the same approximation any IVF index
    * accepts at assignment time, and exactly what bounds repair cost
    * to the drifted cells. `corpus` must carry the affected ids'
    * vectors (the standing corpus table) — ENFORCED: repair fails
    * loudly if any affected code row finds no corpus vector, rather
    * than silently deleting it. */
  def repairDriftedCells(index: IvfPqIndex, corpus: DataFrame,
      idCol: String, vecCol: String, cells: Seq[Int], splitInto: Int = 2,
      seed: Long = 42L): IvfPqIndex = {
    // ONE affected-vector pass (codes filter + corpus semi-join) feeds
    // both the fit sample and the re-routing — a repair must not scan
    // the standing code table twice
    val affected = affectedVectors(index, corpus, idCol, vecCol, cells)
      .localCheckpoint(eager = false)
    val refit = repairCentroidsOf(index, affected, cells, splitInto,
      seed, fitSample = 4096)
    val cellSet = cells.toSet
    val survivors = index.centroids.filterNot(c => cellSet(c._1))
    val rerouted = assignCells(affected, "v", refit)
      .select(col("nid"), col("cell").as("__new_cell"))
    val doomedCodes = index.codes
      .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
      .drop("cell")
    val joined = doomedCodes.join(rerouted, Seq("nid"), "left")
    // Degrade loudly: the corpus contract ("must carry the affected
    // ids' vectors") is CHECKED, not assumed — an id absent from the
    // caller's corpus would otherwise vanish from the index here,
    // turning repair into an unlogged delete. One bounded agg over
    // the drifted cells' code rows, on a rare maintenance path.
    val cov = joined.agg(count(lit(1)), count(col("__new_cell"))).head()
    require(cov.getLong(0) == cov.getLong(1),
      s"repairDriftedCells: corpus is missing vectors for " +
        s"${cov.getLong(0) - cov.getLong(1)} of ${cov.getLong(0)} affected " +
        s"code rows in cells $cells — repair would silently drop them; " +
        "pass the standing corpus, or delete explicitly via " +
        "removeFromIvfPqIndex first")
    val repairedRows = joined
      .select(col("nid"), col("__new_cell").as("cell"), col("sub"), col("code"))
    index.copy(
      centroids = survivors ++ refit,
      codes = index.codes
        .filter(!col("cell").isin(cells.map(Integer.valueOf): _*))
        .unionByName(repairedRows))
  }

  /** Per-cell assignment stats of a vector batch against FROZEN
    * centroids: (cell, n, sum_d2_mil), where `sum_d2_mil` sums
    * `round(1000·d²)` per row as BIGINT. Integer so the aggregate is
    * shuffle-order-free (double addition is not associative — a float
    * mean would hash differently run to run), milli-scaled so the
    * quantization keeps three decimals of each squared distance.
    * Map-only up to the per-cell aggregate. */
  def ivfCellStats(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Array[Double])]): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val centDf = broadcast(centroids.map { case (i, c) => (i, c.toSeq) }
      .toDF("cell", "cvec"))
    val base = df.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("v"))
    assignCells(base, "v", centroids)
      .join(centDf, "cell")
      .select(col("cell"),
        round(l2sqCol(col("v"), col("cvec")) * 1000, 0).cast("long").as("d2m"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("d2m")).as("sum_d2_mil"))
  }

  /** STREAMING drift monitoring — the detection half of the index
    * maintenance loop run as a STANDING query: per-(event-time window,
    * cell) assignment stats of a vector stream against frozen
    * centroids, the continuous form of [[ivfCellStats]]. Map-only
    * assignment (broadcast constants), one stream⋈static join for the
    * centroid vectors, one windowed aggregation under a watermark —
    * bounded state, append output (window_start, cell, n, sum_d2_mil).
    * Join consecutive windows against the fit-time baseline for
    * drift_pm exactly as the batch audit does; cells trending hot feed
    * [[repairDriftedCells]]. Integer milli-scaled sums as in the batch
    * form, so a window's stats are bit-comparable to a batch run over
    * the same rows (spec-pinned). */
  def ivfCellStatsStreaming(stream: DataFrame, idCol: String,
      vecCol: String, tsCol: String,
      centroids: Seq[(Int, Array[Double])],
      windowDur: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    val session = stream.sparkSession
    import session.implicits._
    val centDf = centroids.map { case (i, c) => (i, c.toSeq) }
      .toDF("cell", "cvec")
    val base = stream.select(col(tsCol).as("__ts"), col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("v"))
    assignCells(base, "v", centroids)
      .join(broadcast(centDf), "cell") // pin the map-only shape (the
      // batch twin's hint) — an unhinted plan could shuffle per trigger
      .select(col("__ts"), col("cell"),
        round(l2sqCol(col("v"), col("cvec")) * 1000, 0).cast("long").as("d2m"))
      .withWatermark("__ts", watermark)
      .groupBy(window(col("__ts"), windowDur).as("w"), col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("d2m")).as("sum_d2_mil"))
      .select(col("w.start").as("window_start"), col("cell"),
        col("n"), col("sum_d2_mil"))
  }

  /** Per-cell DRIFT audit — the re-train signal for a standing index
    * maintained by [[extendIvfPqIndex]]/[[removeFromIvfPqIndex]]:
    * compares the mean assigned distance of `delta` (new arrivals)
    * against `base` (the indexed population) under the SAME frozen
    * centroids, as an integer per-mille ratio
    * (`1000·mean_d2_delta / mean_d2_base`, exact integer arithmetic
    * over the milli-scaled sums). Cells with `drift_pm` well above
    * 1000 are where the frozen quantizer no longer fits the data and
    * recall decays first — the operational rebuild trigger. Returns
    * (cell, n_base, n_delta, drift_pm); drift_pm is null for cells
    * with no delta arrivals or a zero base distance mass. */
  def ivfCellDrift(base: DataFrame, delta: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[(Int, Array[Double])]): DataFrame = {
    val b = ivfCellStats(base, idCol, vecCol, centroids)
      .select(col("cell"), col("n").as("n_base"), col("sum_d2_mil").as("sb"))
    val d = ivfCellStats(delta, idCol, vecCol, centroids)
      .select(col("cell"), col("n").as("n_delta"), col("sum_d2_mil").as("sd"))
    b.join(d, Seq("cell"), "full")
      .select(col("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        // DECIMAL(38) cross-products: the Long form overflowed at
        // exactly the populations this audit exists for (n_base ≈ 2e6,
        // sb ≈ 2e10 → 1000·sd·n_base ≈ 1e19 > Long.MaxValue, wrapping
        // negative and silently never firing the repair trigger)
        when(col("sb") > 0 && col("n_delta") > 0,
          floor((lit(1000).cast("decimal(38,0)") * col("sd") * col("n_base")) /
            (col("sb").cast("decimal(38,0)") * col("n_delta")))
            .cast("long")).as("drift_pm"))
  }

  /** Query a prebuilt [[IvfPqIndex]]: probe `nProbe` cells per query
    * against the centroid constants, gate candidates to probed cells,
    * rank by ADC against the code table. Touches only the index — the
    * corpus float vectors do not participate. */
  def ivfPqTopKOnIndex(
      index: IvfPqIndex, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 4): DataFrame = {
    val session = queries.sparkSession
    graft.functions.Functions.register(session)
    import session.implicits._
    val m = index.codebook.map(_._1).max + 1
    val subDim = index.codebook.head._3.length
    val cbDf = broadcast(
      index.codebook.map { case (s_, c_, v_) => (s_, c_, v_.toSeq) }
        .toDF("sub", "code", "cvec"))
    val probes = probeCellsFlat(queries, idCol, vecCol, index.centroids, nProbe)
      .select(col("qid"), col("cell"))
    val lut = queries
      .select(col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
      .select(col("qid"), explode(subsExpr(col("qv"), m, subDim)).as("e"))
      .select(col("qid"), col("e.sub").as("sub"), col("e.sv").as("qsv"))
      .join(cbDf, "sub")
      .select(col("qid"), col("sub"), col("code"),
        l2sqCol(col("qsv"), col("cvec")).as("pd2"))
    // each (nid, sub) matches exactly one LUT row per qid, so every sum
    // term aggregates a single value — exact, fixed subspace order
    val adc = (0 until m)
      .map(i => sum(when(col("sub") === i, col("pd2")))).reduce(_ + _)
    val scored = index.codes
      .join(broadcast(probes), Seq("cell")) // candidate gate: probed cells only
      .join(broadcast(lut), Seq("qid", "sub", "code"))
      .groupBy(col("qid"), col("nid"))
      .agg(adc.as("adc"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("nid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk"), col("adc"))
  }

  /** Squared L2 between two double arrays, left-to-right fold — the
    * shared ADC/encode arithmetic (addition order is part of the oracle
    * contract). */
  private def l2sqCol(x: Column, y: Column): Column = aggregate(
    zip_with(x, y, (a: Column, b: Column) => (a - b) * (a - b)),
    lit(0.0), (acc: Column, t: Column) => acc + t)

  /** PQ-encode, map-only: append `codes_arr` — the per-subspace nearest
    * codebook codes of `vecCol`, one array element per subspace. The
    * codebook rides to executors as a broadcast VARIABLE (the
    * [[assignCells]] shape) and the subspace argmin is a primitive loop,
    * so the encode stage has ZERO exchanges — the former
    * explode→join→groupBy-argmin pushed corpus×m rows through a shuffle
    * for no semantic gain (at 100 TB with m=8 that was 8 corpus-scans of
    * shuffle I/O per index build). Arithmetic is bit-identical to the
    * join form: the same left-to-right (a−b)² fold per subvector, and
    * strict `<` keeps the LOWER code on distance ties, exactly the old
    * `min(struct(d2, code))` tie-break. */
  private def pqEncodeCodes(df: DataFrame, vecCol: String,
      codebook: Seq[(Int, Int, Array[Double])], m: Int): DataFrame = {
    val cb: Array[Array[Array[Double]]] = Array.tabulate(m)(s =>
      codebook.filter(_._1 == s).sortBy(_._2).map(_._3).toArray)
    val bc = df.sparkSession.sparkContext.broadcast(cb)
    val enc = udf { (v: Seq[Double]) =>
      val cbv = bc.value
      val arr = v.toArray
      val subDim = arr.length / cbv.length
      val out = new Array[Int](cbv.length)
      var s = 0
      while (s < cbv.length) {
        val codes = cbv(s)
        val off = s * subDim
        var best = 0
        var bd = Double.MaxValue
        var c = 0
        while (c < codes.length) {
          val cv = codes(c)
          var d = 0.0
          var t = 0
          while (t < cv.length) { val x = arr(off + t) - cv(t); d += x * x; t += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        out(s) = best
        s += 1
      }
      out
    }
    df.withColumn("codes_arr", enc(col(vecCol)))
  }

  /** (sub, subvector) pairs of one vector, as an explodable array. */
  private def subsExpr(v: Column, m: Int, subDim: Int): Column = transform(
    sequence(lit(0), lit(m - 1)),
    (i: Column) => struct(i.as("sub"),
      slice(v, i * subDim + 1, lit(subDim)).as("sv")))

  /** MAP-ONLY probe selection: each row's `nProbe` nearest cells as an
    * array column — a primitive partial-selection loop over the
    * broadcast centroids (the [[assignCells]] shape generalized from
    * argmin to arg-top-n), ties to the lower cell id exactly like
    * [[probeCells]]'s `(d2, cell)` ordering, and the same left-to-right
    * (a−b)² distance fold — probe choice is IDENTICAL, bit for bit.
    * Unlike probeCells this plans NO exchange and NO window, which
    * makes it both the cheaper batch form at scale (probe choice per
    * query is a per-row computation, not a per-query-batch shuffle —
    * [[ivfTopK]]/[[ivfPqTopKOnIndex]] use it since round 10) and the
    * STREAMING-legal one (windows over streaming frames are
    * unsupported). [[probeCells]] remains as the expression-level
    * reference implementation the equality spec checks against. */
  private[graft] def probeCellsArr(df: DataFrame, vecCol: String,
      centroids: Seq[(Int, Array[Double])], nProbe: Int): DataFrame = {
    val cents: Array[(Int, Array[Double])] =
      centroids.sortBy(_._1).toArray
    val bc = df.sparkSession.sparkContext.broadcast(cents)
    val n = math.min(nProbe, centroids.size)
    val probe = udf { (v: Seq[Double]) =>
      val cs = bc.value
      // degenerate queries must DEGRADE, not kill the stage, exactly
      // like the window form they replace: a null vector sorts its
      // (null) distances first → lowest cell ids; a NaN distance sorts
      // LAST (Spark's NaN > any double) but still fills the probe set.
      // A LENGTH-MISMATCHED vector is degenerate too: the expression
      // form's zip_with pads with null → null distance → lowest cell
      // ids, so rank it exactly the same way (never a silently
      // truncated partial distance — that would break the bit-for-bit
      // parity with probeCells)
      val arr =
        if (v == null || (cs.length > 0 && v.length != cs(0)._2.length))
          Array.emptyDoubleArray
        else v.toArray
      // (d2, cell) selection sort of the top-n — nCentroids is small
      // (16..64k); n is tiny (2..16), so n passes beat a full sort
      val d2 = new Array[Double](cs.length)
      var i = 0
      while (i < cs.length) {
        val cv = cs(i)._2
        var d = 0.0
        var t = 0
        while (t < cv.length && t < arr.length) {
          val x = arr(t) - cv(t); d += x * x; t += 1
        }
        d2(i) = d
        i += 1
      }
      val taken = new Array[Boolean](cs.length)
      val out = new Array[Int](n)
      var r = 0
      while (r < n) {
        var best = -1
        var bd = Double.MaxValue
        var j = 0
        while (j < cs.length) {
          if (!taken(j) && !java.lang.Double.isNaN(d2(j)) &&
              (d2(j) < bd || (d2(j) == bd && best >= 0 &&
                cs(j)._1 < cs(best)._1))) { bd = d2(j); best = j }
          j += 1
        }
        if (best < 0) {
          // every remaining distance is NaN — rank them last, by cell id
          var j2 = 0
          while (j2 < cs.length && best < 0) {
            if (!taken(j2)) best = j2
            j2 += 1
          }
        }
        taken(best) = true
        out(r) = cs(best)._1
        r += 1
      }
      out
    }
    df.withColumn("__probe_cells", probe(col(vecCol)))
  }

  /** [[probeCellsArr]] exploded to [[probeCells]]'s exact output shape
    * (qid, qv, qn, cell) — the drop-in the batch ANN operators consume. */
  private[graft] def probeCellsFlat(
      queries: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Array[Double])], nProbe: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv")))
    probeCellsArr(q, "qv", centroids, nProbe)
      .select(col("qid"), col("qv"), col("qn"),
        explode(col("__probe_cells")).as("cell"))
  }

  /** STREAMING IVF-PQ ANN: a stream of query vectors answered against a
    * standing [[IvfPqIndex]] — append-mode (qid, nid, rnk, adc), exactly
    * [[ivfPqTopKOnIndex]]'s answers per arriving query (spec-pinned
    * equal). The plan is stream-legal end to end: probes via the
    * map-only [[probeCellsArr]] (no window), the LUT via broadcast
    * codebook join, candidates via the stream⋈static codes join, and
    * the per-query ADC + top-k inside ONE stateless
    * flatMapGroupsWithState group (the [[TextDedup.nearDupStreamingSig]]
    * vote-stage trick: every candidate term of a query is emitted in the
    * query's own arrival batch, so the group is complete by
    * construction, emits immediately, and stores NOTHING — zero state
    * however long the stream runs). Per-group memory is one (nid → adc)
    * map over the probed cells' candidates — the same cardinality the
    * batch agg shuffles, held per query; for query batches large enough
    * to need distributed ranking, run the batch operator per micro-batch
    * in foreachBatch instead. Query ids must be numeric (cast to long,
    * the streaming-op id contract). */
  def ivfPqTopKStreaming(queryStream: DataFrame, index: IvfPqIndex,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 4): DataFrame = {
    val session = queryStream.sparkSession
    graft.functions.Functions.register(session)
    import session.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val m = index.codebook.map(_._1).max + 1
    val subDim = index.codebook.head._3.length
    val cbSize = index.codebook.map(_._2).max + 1
    val q = queryStream.select(col(idCol).cast("long").as("qid"),
      col(vecCol).cast("array<double>").as("qv"))
    // the per-query ADC lookup table as an ARRAY column (m·codebookSize
    // doubles — 64 values at the defaults), computed MAP-ONLY against
    // the broadcast codebook with the exact left-to-right (a−b)² fold
    // of the batch path's l2sqCol. The batch operator builds this LUT
    // as a joined frame; on a stream that join would be
    // stream⋈stream against the candidate terms (unbounded join
    // state, no watermark to evict it — observed growing by the batch's
    // candidate count every trigger). As a column the LUT rides the
    // single stream⋈static codes join and the plan is stateless.
    val cbArr: Array[Array[Array[Double]]] = Array.tabulate(m)(s =>
      index.codebook.filter(_._1 == s).sortBy(_._2).map(_._3).toArray)
    val bcCb = session.sparkContext.broadcast(cbArr)
    val lutU = udf { (v: Seq[Double]) =>
      val cb = bcCb.value
      val arr = v.toArray
      val out = new Array[Double](m * cbSize)
      var s = 0
      while (s < m) {
        val off = s * subDim
        var c = 0
        while (c < cb(s).length) {
          val cv = cb(s)(c)
          var d = 0.0
          var t = 0
          while (t < cv.length) { val x = arr(off + t) - cv(t); d += x * x; t += 1 }
          out(s * cbSize + c) = d
          c += 1
        }
        s += 1
      }
      out
    }
    val probes = probeCellsArr(q, "qv", index.centroids, nProbe)
      .withColumn("__lut", lutU(col("qv")))
      .select(col("qid"), col("__lut"),
        explode(col("__probe_cells")).as("cell"))
    val terms = index.codes
      .join(probes, Seq("cell"))
      .select(col("qid"), col("nid"), col("sub"),
        element_at(col("__lut"), col("sub") * cbSize + col("code") + 1)
          .as("pd2"))
      .as[(Long, Long, Int, Double)]
    terms
      .groupByKey(_._1)
      .flatMapGroupsWithState[Int, (Long, Long, Int, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (qid, rows, _) =>
          // every (nid, sub) term of this query arrived in this batch —
          // sum the m subspace distances per candidate IN SUBSPACE ORDER
          // (the batch agg's fixed fold — float addition order is part
          // of the equality contract), rank, emit
          val bySub = scala.collection.mutable.HashMap.empty[Long, Array[Double]]
          rows.foreach { case (_, nid, sub, pd2) =>
            bySub.getOrElseUpdate(nid, new Array[Double](m))(sub) = pd2
          }
          bySub.iterator.map { case (nid, arr) =>
            var d = 0.0
            var i = 0
            while (i < m) { d += arr(i); i += 1 }
            (nid, d)
          }.toSeq.sortBy { case (nid, d) => (d, nid) }.take(k)
            .zipWithIndex.map { case ((nid, d), i) => (qid, nid, i + 1, d) }
            .iterator
      }
      .toDF("qid", "nid", "rnk", "adc")
  }

  /** LSH-bucketed ANN: candidates share the exact signature bucket; scored
    * and ranked within bucket only. Lower `nBits` → bigger buckets →
    * higher recall and cost.
    *
    * `broadcastQueries` controls the candidate join's build side: `true`
    * (default) broadcasts the query set — right for a labeling/search
    * batch that is small next to the corpus; set `false` when the query
    * set is a corpus FRACTION (an audit sweep, self-join-style sweeps):
    * the join then runs as a plain bucket equi-join — both sides shuffle
    * on the bucket key, nothing scales with the corpus on one executor,
    * and AQE is still free to broadcast at runtime when the actual size
    * allows. `excludeSelf` drops the query row itself from its candidate
    * set (the leave-one-out shape every self-audit needs). */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nBits: Int = 8, dim: Int = 64,
      excludeSelf: Boolean = false,
      broadcastQueries: Boolean = true): DataFrame = {
    graft.functions.Functions.register(corpus.sparkSession)
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("cv"))
      .withColumn("bucket", lshSignature(col("cv"), nBits, dim))
      .withColumn("cn", norm(col("cv")))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("bucket", lshSignature(col("qv"), nBits, dim))
      .withColumn("qn", norm(col("qv")))
    val joined = c.join(if (broadcastQueries) broadcast(q) else q, "bucket")
    val candidates = if (excludeSelf) joined.filter(col("nid") =!= col("qid"))
      else joined
    val scored = candidates
      .withColumn("sim", when(col("cn") * col("qn") > 0,
        dot(col("cv"), col("qv")) / (col("cn") * col("qn"))))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk"), col("sim"))
  }

  /** Majority-vote labeling over ANY ranked candidate frame: the vote
    * pipeline of [[knnPredict]] factored out so the candidate stage is
    * swappable — brute force for small query batches, [[lshTopK]] /
    * [[ivfTopK]] buckets when the query set is a corpus fraction (the
    * 100 TB default; neither broadcasts a corpus-scaling frame).
    * `topk`: (qid, nid, …) rows, at most k per query; `labels`: one
    * (id, label) row per corpus/query id — the joins move that
    * two-column projection only. Queries whose candidate set is empty
    * drop from the output (no neighbours — no vote). */
  def labelVote(topk: DataFrame, labels: DataFrame,
      idCol: String, labelCol: String): DataFrame = {
    val lab = labels.select(col(idCol).as("__id"), col(labelCol).as("__lab"))
    val votes = topk
      .join(lab.select(col("__id").as("nid"), col("__lab").as("nlabel")), "nid")
      .groupBy(col("qid"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
    val voteW = Window.partitionBy(col("qid"))
      .orderBy(col("votes").desc, col("nlabel"))
    votes.withColumn("pr", row_number().over(voteW))
      .filter(col("pr") === 1)
      .join(lab.select(col("__id").as("qid"), col("__lab").as("true_label")), "qid")
      .select(col("qid"), col("true_label"),
        col("nlabel").as("pred_label"), col("votes"),
        (col("true_label") === col("nlabel")).cast("long").as("correct"))
  }

  /** kNN label vote with LSH-bucketed candidates: [[lshTopK]]
    * (leave-one-out, NO query broadcast — the query set is a corpus
    * fraction in the auto-labeling audit shape this serves) feeding
    * [[labelVote]]. The brute-force [[knnPredict]] is the small-batch
    * twin; this is the form that survives 100 TB — every join is a
    * bucket/id equi-join, and the only per-executor state is a bucket's
    * worth of vectors. */
  def knnPredictLsh(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int,
      nBits: Int = 8, dim: Int = 64): DataFrame = {
    val topk = lshTopK(corpus, queries, idCol, vecCol, k, nBits, dim,
      excludeSelf = true, broadcastQueries = false)
    labelVote(topk, corpus, idCol, labelCol)
  }
}
