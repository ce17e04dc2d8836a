package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.Q._
import graft.ext.{Curation, Multimodal, Sharding, Similarity, TextAnalysis, TextDedup}

/** LLM-data-pipeline operators (BASELINE.json north star): deduplication,
  * similarity search, text analysis, multimodal columns — over the
  * `documents` and `embeddings` tables.
  * x02/x03/x13 (xxhash64 hash families, the KMeans quantizer) hash-check
  * against independent Spark-naive references instead
  * ([[NaiveOracles]], dumped by Verify as read_parquet oracles).
  * Everything else hash-matches DuckDB, including the hyperplane-LSH
  * queries (x06/x18/x45/x46), whose seeded planes inline into the
  * oracle SQL as literals.
  */
object ExtQueries {

  /** The LSH hyperplanes are deterministic doubles (seeded PRNG), so the
    * oracle can carry them as SQL literals: one `[…]` DuckDB list per
    * plane, `Double.toString` round-trip-exact. This is what promotes the
    * hyperplane queries (x06/x18) from rows-only to full hash-checked. */
  private def planeLits(nBits: Int, dim: Int, seed: Long = 42L): Seq[String] =
    graft.functions.HyperplaneSig.planesFor(nBits, dim, seed)
      .grouped(dim).toSeq
      .map(_.map(java.lang.Double.toString).mkString("[", ",", "]"))

  /** `sign(v · plane_p) → 2^p` signature terms over inlined plane
    * literals — the SQL twin of [[graft.functions.HyperplaneSig]]
    * (HUGEINT keeps bit 63 exact). `vcol` names the vector column the
    * signature reads (the truncated-dim audit signs a prefix column). */
  private def sigSql(nBits: Int, dim: Int, vcol: String = "v"): String =
    planeLits(nBits, dim).zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product($vcol, $p) > 0 " +
        s"THEN ${java.math.BigInteger.ONE.shiftLeft(i)}::HUGEINT ELSE 0::HUGEINT END)"
    }.mkString(" + ")

  val all: Map[String, Entry] = Map(

    // Exact dedup via content hash: the shuffle carries 32-byte hashes,
    // not documents.
    "x01_dedup_exact" -> entry(
      (s, dir) =>
        TextDedup.exact(tbl(s, dir, "documents"), "doc_id", "text")
          .select(col("rep_id"), col("n_copies"))
          .orderBy(col("rep_id")),
      """SELECT min(doc_id) AS rep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY rep_id""".stripMargin),

    // Vocabulary-coverage scoring (curation QA): fraction of each doc's
    // tokens outside the corpus top-1000 vocabulary. The vocab is a
    // deterministic top-k (count desc, token tiebreak) that broadcasts to
    // the token join; the per-doc aggregation partial-aggregates before
    // its single shuffle — the 100 TB shape for any "score docs against a
    // corpus-level dictionary" operator.
    "x20_oov_ratio" -> entry(
      (s, dir) => {
        val toks = tbl(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val vocab = toks.groupBy(col("tok"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok"))
          .limit(1000)
          .select(col("tok"), lit(1).as("__in"))
        toks.join(vocab, Seq("tok"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tok"),
            sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
          .select(col("doc_id"), col("n_tok"), col("n_oov"),
            (col("n_oov").cast("double") / col("n_tok")).as("oov_ratio"))
          .orderBy(col("doc_id"))
      },
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |vocab AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS n FROM toks GROUP BY tok
        |    ORDER BY n DESC, tok LIMIT 1000))
        |SELECT doc_id, count(*) AS n_tok,
        | CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        | CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS oov_ratio
        |FROM toks LEFT JOIN vocab v USING (tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Corpus length-distribution quantiles per source (curation QA):
    // exact interpolated percentiles — one partial-aggregated shuffle;
    // at 100 TB swap `percentile` for `percentile_approx` (fixed-memory
    // sketch, same plan shape).
    "x19_token_quantiles" -> entry(
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(col("source"), size(split(col("text"), " ")).as("n"))
          .groupBy(col("source"))
          .agg(percentile(col("n"), array(lit(0.25), lit(0.5), lit(0.75))).as("qs"))
          .select(col("source"),
            col("qs").getItem(0).as("q25"),
            col("qs").getItem(1).as("q50"),
            col("qs").getItem(2).as("q75"))
          .orderBy(col("source")),
      """SELECT source,
        | quantile_cont(n, 0.25) AS q25,
        | quantile_cont(n, 0.50) AS q50,
        | quantile_cont(n, 0.75) AS q75
        |FROM (SELECT source, len(string_split(text, ' ')) AS n FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin),

    // Benchmark decontamination: corpus docs sharing any word 5-gram with
    // the benchmark set (doc_id % 19 == 0 plays the benchmark here), with
    // contaminated-gram counts. Grams join as xxhash64 longs (counts are
    // collision-exact for all practical gram cardinalities); the oracle
    // joins the raw strings and must agree.
    "x21_decontamination" -> entry(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        Curation.contamination(
            docs.filter(col("doc_id") % 19 =!= 0), "doc_id", "text",
            docs.filter(col("doc_id") % 19 === 0), "text", n = 5)
          .orderBy(col("doc_id"))
      },
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        | grams AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 5
        |     THEN list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))
        |     ELSE [array_to_string(t, ' ')] END) AS g FROM toks),
        | bench AS (SELECT DISTINCT unnest(g) AS ng FROM grams WHERE doc_id % 19 = 0),
        | corpus AS (SELECT doc_id, len(g) AS n_grams, unnest(g) AS ng
        |            FROM grams WHERE doc_id % 19 <> 0)
        |SELECT doc_id, count(*) AS n_contaminated, n_grams,
        | CAST(count(*) AS DOUBLE) / n_grams AS contamination
        |FROM corpus WHERE ng IN (SELECT ng FROM bench)
        |GROUP BY doc_id, n_grams ORDER BY doc_id""".stripMargin),

    // Intra-document repetition quality signals (Gopher-style duplicate
    // n-gram fractions) — scan-local array expressions, oracle-checked.
    "x22_repetition" -> entry(
      (s, dir) =>
        Curation.repetitionScores(tbl(s, dir, "documents"), "doc_id", "text")
          .orderBy(col("doc_id")),
      """SELECT doc_id, len(t) AS n_tokens,
        | CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS distinct_token_ratio,
        | 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) AS dup_2gram_ratio,
        | 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) AS dup_3gram_ratio
        |FROM (SELECT doc_id, t,
        |   CASE WHEN len(t) >= 2
        |     THEN list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
        |     ELSE [array_to_string(t, ' ')] END AS g2,
        |   CASE WHEN len(t) >= 3
        |     THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
        |     ELSE [array_to_string(t, ' ')] END AS g3
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
        |ORDER BY doc_id""".stripMargin),

    // Deterministic domain-mix sampling: per-source keep rates decided by
    // an id residue — stable across replays, no global pass.
    "x23_domain_mix" -> entry(
      (s, dir) =>
        Curation.stratifiedSample(tbl(s, dir, "documents"), "doc_id", "source",
            pct = Map("src0" -> 80, "src1" -> 80, "src2" -> 50),
            defaultPct = 10)
          .select(col("doc_id"), col("source"))
          .orderBy(col("doc_id")),
      """SELECT doc_id, source FROM documents
        |WHERE doc_id % 100 < CASE
        |  WHEN source IN ('src0', 'src1') THEN 80
        |  WHEN source = 'src2' THEN 50 ELSE 10 END
        |ORDER BY doc_id""".stripMargin),

    // Sequence packing (concat-and-chunk): which training sequence does
    // each doc land in, at what offset, and does it span a boundary.
    // Per-shard windows — parallel in the shard count, no global sort.
    "x24_sequence_packing" -> entry(
      (s, dir) =>
        Curation.sequencePacking(tbl(s, dir, "documents"), "doc_id", "text",
            budget = 512, shards = 8)
          .orderBy(col("doc_id")),
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
        |             len(string_split(text, ' ')) AS n_tok FROM documents),
        |c AS (SELECT doc_id, shard, n_tok,
        |        CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
        |      FROM t)
        |SELECT doc_id, shard, n_tok, prev // 512 AS seq_id, prev % 512 AS off,
        |       CASE WHEN prev % 512 + n_tok > 512 THEN 1 ELSE 0 END AS spans
        |FROM c ORDER BY doc_id""".stripMargin),

    // Per-domain document-count caps (absolute-budget domain mix):
    // deterministic hash-ranked top-`cap` per source.
    "x25_domain_cap" -> entry(
      (s, dir) =>
        Curation.domainCap(tbl(s, dir, "documents"), "doc_id", "source",
            cap = 15)
          .select(col("doc_id"), col("source"), col("rk"))
          .orderBy(col("doc_id")),
      """SELECT doc_id, source, rk FROM (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY ((doc_id % 1000000007) * 2654435761) % 1000000007,
        |             doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 15 ORDER BY doc_id""".stripMargin),

    // Cross-document repeated 5-grams (C4-style boilerplate detection):
    // per affected doc, how many of its distinct grams appear in >= 2
    // documents corpus-wide.
    "x26_boilerplate" -> entry(
      (s, dir) =>
        Curation.crossDocRepeats(tbl(s, dir, "documents"), "doc_id", "text",
            n = 5, minDocs = 2)
          .orderBy(col("doc_id")),
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        | grams AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 5
        |     THEN list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))
        |     ELSE [array_to_string(t, ' ')] END) AS g FROM toks),
        | ex AS (SELECT doc_id, len(g) AS n_grams, unnest(g) AS ng FROM grams),
        | boiler AS (SELECT ng FROM ex GROUP BY ng HAVING count(*) >= 2)
        |SELECT doc_id, count(*) AS n_boiler, n_grams,
        | CAST(count(*) AS DOUBLE) / n_grams AS boiler_ratio
        |FROM ex WHERE ng IN (SELECT ng FROM boiler)
        |GROUP BY doc_id, n_grams ORDER BY doc_id""".stripMargin),

    // Curation filter funnel: every doc assigned its first failing rule
    // (language → length → repetition), one scan + one count shuffle.
    "x27_curation_funnel" -> entry(
      (s, dir) => {
        val toks = split(col("text"), " ")
        Curation.funnel(tbl(s, dir, "documents"), Seq(
            "lang" -> (col("lang") =!= "en"),
            "too_short" -> (size(toks) < 30),
            "repetition" -> (lit(1.0) -
              size(array_distinct(toks)).cast("double") / size(toks) > 0.6)))
          .orderBy(col("stage"))
      },
      """WITH staged AS (
        |  SELECT CASE
        |    WHEN lang <> 'en' THEN 'lang'
        |    WHEN len(string_split(text, ' ')) < 30 THEN 'too_short'
        |    WHEN 1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |         / len(string_split(text, ' ')) > 0.6 THEN 'repetition'
        |    ELSE 'kept' END AS stage
        |  FROM documents)
        |SELECT stage, count(*) AS n,
        |  CAST(count(*) AS DOUBLE) / sum(count(*)) OVER () AS share
        |FROM staged GROUP BY stage ORDER BY stage""".stripMargin),

    // Vocabulary-growth curve (Heaps'-law saturation diagnostic): tokens
    // first seen per id-decile of the corpus, with running vocab size.
    // Bucketing is exact integer division; one corpus-sized shuffle.
    "x37_vocab_growth" -> entry(
      (s, dir) =>
        Curation.vocabGrowth(tbl(s, dir, "documents"), "doc_id", "text",
            buckets = 10)
          .orderBy(col("bucket")),
      """WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
        |toks AS (SELECT (doc_id * 10) // (mx + 1) AS bucket,
        |           unnest(string_split(text, ' ')) AS tok
        |         FROM documents, mx),
        |tot AS (SELECT bucket, count(*) AS n_tokens FROM toks GROUP BY 1),
        |fst AS (SELECT min(bucket) AS bucket FROM toks GROUP BY tok),
        |nw AS (SELECT bucket, count(*) AS new_tokens FROM fst GROUP BY 1)
        |SELECT t.bucket, t.n_tokens, coalesce(n.new_tokens, 0) AS new_tokens,
        |  CAST(sum(coalesce(n.new_tokens, 0)) OVER (ORDER BY t.bucket)
        |    AS BIGINT) AS cum_vocab
        |FROM tot t LEFT JOIN nw n USING (bucket) ORDER BY bucket""".stripMargin),

    // Cross-source duplication matrix (which sources copy each other):
    // near-dup pairs from the blocked Jaccard operator — blocked by lang
    // here so pairs CROSS sources, with the LOSSLESS token-count band on
    // the block key (0.9 Jaccard bounds the size ratio to 1/0.9, so
    // adjacent log-width bands keep every true pair): a handful of langs
    // would otherwise make candidate generation O((n/|langs|)²) — the
    // band caps the quadratic term at band-bucket size instead — rolled
    // up into a symmetric (src_lo, src_hi) pair-count heatmap. The
    // id→source joins move (id, source) projections only.
    // Round-11 adjudication of the r9→r10 sweep movement (0.89→1.30 s):
    // NOISE. No code change since introduction (c1739f0); two isolated
    // runs on a calibration-clean box (cpu anchor 137 ms = idle nominal)
    // measured 0.98 / 1.07 s warm — between the two sweep readings and
    // within the documented ±15-30% box drift.
    "x41_source_dup_matrix" -> entry(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val pairs = TextDedup.ngramJaccardPairs(docs, "doc_id", "text",
          blockCol = "lang", n = 1, threshold = 0.9, lengthBanded = true)
        val src = docs.select(col("doc_id"), col("source"))
        pairs
          .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")), "id_a")
          .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")), "id_b")
          .select(least(col("src_a"), col("src_b")).as("src_lo"),
            greatest(col("src_a"), col("src_b")).as("src_hi"))
          .groupBy(col("src_lo"), col("src_hi"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("src_lo"), col("src_hi"))
      },
      """WITH t AS (SELECT doc_id, lang, source,
        |             list_distinct(string_split(text, ' ')) AS toks
        |           FROM documents)
        |SELECT least(a.source, b.source) AS src_lo,
        |  greatest(a.source, b.source) AS src_hi, count(*) AS n_pairs
        |FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |  / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
        |  >= 0.9
        |GROUP BY 1, 2 ORDER BY src_lo, src_hi""".stripMargin),

    // Truncated-dimension retrieval audit (the matryoshka storage
    // question: do the first 16 of 64 dims preserve the top-k?): per
    // query, how many of the full-precision top-5 the 16-dim prefix
    // retrieval recovers. EXACT ground truth via two brute-force passes
    // over a broadcast 4% query sample — the small-sample form; x46 is
    // the same audit on LSH retrieval with no broadcast, the form that
    // sweeps a corpus fraction at 100 TB.
    "x42_dim_truncation_recall" -> entry(
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") % 25 === 0)
        val full = Similarity.bruteForceTopK(emb, q,
          "vec_id", "embedding", k = 5)
        val emb16 = emb.withColumn("emb16", slice(col("embedding"), 1, 16))
          .select(col("vec_id"), col("emb16"))
        val q16 = emb16.filter(col("vec_id") % 25 === 0)
        val trunc = Similarity.bruteForceTopK(emb16, q16,
          "vec_id", "emb16", k = 5)
        full.join(trunc.select(col("qid"), col("nid"), lit(1).as("hit")),
            Seq("qid", "nid"), "left")
          .groupBy(col("qid"))
          .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_common"))
          .orderBy(col("qid"))
      },
      """WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |             CAST(embedding[1:16] AS DOUBLE[]) AS v16
        |           FROM embeddings),
        |fl AS (SELECT qid, nid FROM (
        |  SELECT q.vec_id AS qid, c.vec_id AS nid, row_number() OVER (
        |      PARTITION BY q.vec_id ORDER BY
        |        (CASE WHEN list_dot_product(c.v, c.v) > 0
        |               AND list_dot_product(q.v, q.v) > 0
        |          THEN list_cosine_similarity(c.v, q.v) END)
        |          DESC NULLS LAST, c.vec_id) AS rnk
        |  FROM b q JOIN b c ON q.vec_id % 25 = 0) WHERE rnk <= 5),
        |tr AS (SELECT qid, nid FROM (
        |  SELECT q.vec_id AS qid, c.vec_id AS nid, row_number() OVER (
        |      PARTITION BY q.vec_id ORDER BY
        |        (CASE WHEN list_dot_product(c.v16, c.v16) > 0
        |               AND list_dot_product(q.v16, q.v16) > 0
        |          THEN list_cosine_similarity(c.v16, q.v16) END)
        |          DESC NULLS LAST, c.vec_id) AS rnk
        |  FROM b q JOIN b c ON q.vec_id % 25 = 0) WHERE rnk <= 5)
        |SELECT fl.qid, CAST(count(tr.nid) AS BIGINT) AS n_common
        |FROM fl LEFT JOIN tr ON fl.qid = tr.qid AND fl.nid = tr.nid
        |GROUP BY fl.qid ORDER BY fl.qid""".stripMargin),

    // kNN label vote on LSH-bucketed candidates — the 100 TB form of
    // x36: the query set is 10% of the corpus, so nothing may broadcast
    // it; candidates come from a signature-bucket equi-join (both sides
    // shuffle on the bucket key), leave-one-out, then the same majority
    // vote. Oracle: x06's inlined-plane bucket join feeding x36's vote.
    "x45_knn_vote_lsh" -> entry(
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        Similarity.knnPredictLsh(
            corpus = emb,
            queries = emb.filter(col("vec_id") % 10 === 0),
            idCol = "vec_id", vecCol = "embedding", labelCol = "label",
            k = 10, nBits = 4)
          .orderBy(col("qid"))
      },
      s"""WITH base AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sig AS (
        |  SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm,
        |    CAST(${sigSql(nBits = 4, dim = 64)} AS INTEGER) AS bucket
        |  FROM base),
        |nn AS (SELECT q.vec_id AS qid, q.label AS tl, c.label AS cl,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      (CASE WHEN c.nrm * q.nrm > 0
        |        THEN list_dot_product(c.v, q.v) / (c.nrm * q.nrm) END)
        |        DESC NULLS LAST, c.vec_id) AS rnk
        |  FROM sig c JOIN sig q
        |    ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id % 10 = 0),
        |votes AS (SELECT qid, tl, cl, count(*) AS n FROM nn
        |          WHERE rnk <= 10 GROUP BY 1, 2, 3),
        |pred AS (SELECT qid, tl, cl, n, row_number() OVER (
        |    PARTITION BY qid ORDER BY n DESC, cl) AS pr FROM votes)
        |SELECT qid, tl AS true_label, cl AS pred_label, n AS votes,
        |  CAST(tl = cl AS BIGINT) AS correct
        |FROM pred WHERE pr = 1 ORDER BY qid""".stripMargin),

    // Truncated-dimension retrieval audit on LSH candidates — the 100 TB
    // form of x42: both the full-precision and the 16-dim-prefix top-5
    // come from signature-bucket retrieval (16-dim planes for the
    // prefix), no corpus-fraction broadcast anywhere; recall is then
    // "how many of the full-index top-5 the truncated index recovers" —
    // the question a storage-tiering decision actually asks of its
    // production index, not of an unaffordable exact scan.
    "x46_truncation_recall_lsh" -> entry(
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") % 25 === 0)
        val full = Similarity.lshTopK(emb, q, "vec_id", "embedding",
          k = 5, nBits = 4, dim = 64, broadcastQueries = false)
        val emb16 = emb.withColumn("emb16", slice(col("embedding"), 1, 16))
          .select(col("vec_id"), col("emb16"))
        val q16 = emb16.filter(col("vec_id") % 25 === 0)
        val trunc = Similarity.lshTopK(emb16, q16, "vec_id", "emb16",
          k = 5, nBits = 4, dim = 16, broadcastQueries = false)
        full.join(trunc.select(col("qid"), col("nid"), lit(1).as("hit")),
            Seq("qid", "nid"), "left")
          .groupBy(col("qid"))
          .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_common"))
          .orderBy(col("qid"))
      },
      s"""WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |             CAST(embedding[1:16] AS DOUBLE[]) AS v16
        |           FROM embeddings),
        |sf AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
        |    CAST(${sigSql(nBits = 4, dim = 64)} AS INTEGER) AS bucket
        |  FROM b),
        |st AS (SELECT vec_id, v16, sqrt(list_dot_product(v16, v16)) AS nrm,
        |    CAST(${sigSql(nBits = 4, dim = 16, vcol = "v16")} AS INTEGER) AS bucket
        |  FROM b),
        |fl AS (SELECT qid, nid FROM (
        |  SELECT q.vec_id AS qid, c.vec_id AS nid, row_number() OVER (
        |      PARTITION BY q.vec_id ORDER BY
        |        (CASE WHEN c.nrm * q.nrm > 0
        |          THEN list_dot_product(c.v, q.v) / (c.nrm * q.nrm) END)
        |          DESC NULLS LAST, c.vec_id) AS rnk
        |  FROM sf c JOIN sf q ON c.bucket = q.bucket AND q.vec_id % 25 = 0)
        |  WHERE rnk <= 5),
        |tr AS (SELECT qid, nid FROM (
        |  SELECT q.vec_id AS qid, c.vec_id AS nid, row_number() OVER (
        |      PARTITION BY q.vec_id ORDER BY
        |        (CASE WHEN c.nrm * q.nrm > 0
        |          THEN list_dot_product(c.v16, q.v16) / (c.nrm * q.nrm) END)
        |          DESC NULLS LAST, c.vec_id) AS rnk
        |  FROM st c JOIN st q ON c.bucket = q.bucket AND q.vec_id % 25 = 0)
        |  WHERE rnk <= 5)
        |SELECT fl.qid, CAST(count(tr.nid) AS BIGINT) AS n_common
        |FROM fl LEFT JOIN tr ON fl.qid = tr.qid AND fl.nid = tr.nid
        |GROUP BY fl.qid ORDER BY fl.qid""".stripMargin),

    // BM25 keyword retrieval (the text-side ANN): four fixed keyword
    // queries rank the corpus via the inverted-index join; one query
    // carries an out-of-vocabulary term that must contribute nothing.
    "x43_bm25_search" -> entry(
      (s, dir) =>
        graft.ext.TextSearch.bm25TopK(tbl(s, dir, "documents"),
            "doc_id", "text",
            queries = Seq(1 -> "hash join strategy", 2 -> "window sort order",
              3 -> "vector column scan", 4 -> "stream batch merge"),
            k = 10)
          .orderBy(col("qid"), col("rnk")),
      """WITH q(qid, qtext) AS (VALUES
        |    (1, 'hash join strategy'), (2, 'window sort order'),
        |    (3, 'vector column scan'), (4, 'stream batch merge')),
        |qt AS (SELECT qid, unnest(list_distinct(string_split(qtext, ' '))) AS tok
        |       FROM q),
        |tf AS (SELECT doc_id AS nid, tok, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) GROUP BY 1, 2),
        |dl AS (SELECT nid, sum(tf) AS dl FROM tf GROUP BY 1),
        |st AS (SELECT count(*)::DOUBLE AS n,
        |              sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
        |dfq AS (SELECT tok, count(*) AS dfq FROM tf GROUP BY 1),
        |terms AS (SELECT qt.qid, tf.nid, qt.tok,
        |    ln((st.n - dfq.dfq + 0.5) / (dfq.dfq + 0.5) + 1.0)
        |      * tf.tf * (1.2 + 1) / (tf.tf + 1.2 *
        |        ((1 - 0.75) + 0.75 * dl.dl / st.avgdl)) AS s
        |  FROM qt JOIN tf USING (tok) JOIN dfq USING (tok)
        |    JOIN dl ON tf.nid = dl.nid, st),
        |scored AS (SELECT qid, nid,
        |    round(list_reduce(list(s ORDER BY tok), (a, c) -> a + c), 4) AS score
        |  FROM terms GROUP BY 1, 2)
        |SELECT qid, rnk, nid, score FROM (
        |  SELECT qid, nid, score, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, nid) AS rnk FROM scored)
        |WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin),

    // Quality-aware retrieval (retrieve-then-rerank): BM25 top-20
    // candidates fused with a document-quality rank via reciprocal-rank
    // fusion (1/(60+r)); ranks are integers so the two-term RRF sum is
    // engine-exact. The quality join broadcasts the candidate list into
    // the corpus-wide metric scan — candidates are queries×20 rows at
    // any corpus size.
    "x44_quality_rerank" -> entry(
      (s, dir) => {
        val qs = Seq(1 -> "hash join strategy", 2 -> "window sort order",
          3 -> "vector column scan", 4 -> "stream batch merge")
        val cands = graft.ext.TextSearch.bm25TopK(
          tbl(s, dir, "documents"), "doc_id", "text", queries = qs, k = 20)
        val toks = split(col("text"), " ")
        val quality = tbl(s, dir, "documents")
          .select(col("doc_id").as("nid"),
            (size(filter(toks, (x: Column) => x.isin(
                "the", "a", "an", "of", "and", "or", "to", "in", "is", "on")))
              .cast("double") / size(toks)).as("quality"))
        graft.ext.TextSearch.rrfRerank(cands, quality, k = 5)
          .orderBy(col("qid"), col("frk"))
      },
      """WITH q(qid, qtext) AS (VALUES
        |    (1, 'hash join strategy'), (2, 'window sort order'),
        |    (3, 'vector column scan'), (4, 'stream batch merge')),
        |qt AS (SELECT qid, unnest(list_distinct(string_split(qtext, ' '))) AS tok
        |       FROM q),
        |tf AS (SELECT doc_id AS nid, tok, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) GROUP BY 1, 2),
        |dl AS (SELECT nid, sum(tf) AS dl FROM tf GROUP BY 1),
        |st AS (SELECT count(*)::DOUBLE AS n,
        |              sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
        |dfq AS (SELECT tok, count(*) AS dfq FROM tf GROUP BY 1),
        |terms AS (SELECT qt.qid, tf.nid, qt.tok,
        |    ln((st.n - dfq.dfq + 0.5) / (dfq.dfq + 0.5) + 1.0)
        |      * tf.tf * (1.2 + 1) / (tf.tf + 1.2 *
        |        ((1 - 0.75) + 0.75 * dl.dl / st.avgdl)) AS s
        |  FROM qt JOIN tf USING (tok) JOIN dfq USING (tok)
        |    JOIN dl ON tf.nid = dl.nid, st),
        |scored AS (SELECT qid, nid,
        |    round(list_reduce(list(s ORDER BY tok), (a, c) -> a + c), 4) AS score
        |  FROM terms GROUP BY 1, 2),
        |cands AS (SELECT qid, nid, rnk FROM (
        |  SELECT qid, nid, score, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, nid) AS rnk FROM scored)
        |  WHERE rnk <= 20),
        |qual AS (SELECT doc_id AS nid,
        |    CAST(len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the','a','an','of','and','or','to','in','is','on'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS quality
        |  FROM documents),
        |fused AS (SELECT c.qid, c.nid, c.rnk, row_number() OVER (
        |    PARTITION BY c.qid ORDER BY q.quality DESC, c.nid) AS r_q
        |  FROM cands c JOIN qual q USING (nid))
        |SELECT qid, frk, nid, rrf_e7 FROM (
        |  SELECT qid, nid,
        |    CAST((20000000 * (rnk + r_q + 120) + (60 + rnk) * (60 + r_q))
        |      // (2 * (60 + rnk) * (60 + r_q)) AS BIGINT) AS rrf_e7,
        |    row_number() OVER (PARTITION BY qid ORDER BY
        |      (20000000 * (rnk + r_q + 120) + (60 + rnk) * (60 + r_q))
        |        // (2 * (60 + rnk) * (60 + r_q)) DESC, nid) AS frk
        |  FROM fused)
        |WHERE frk <= 5 ORDER BY qid, frk""".stripMargin),

    // DSIR-style importance selection (Xie et al. 2023): score raw docs
    // by Σ ln p̂_target(tok) − ln p̂_raw(tok) (add-0.5 smoothing over the
    // joint vocabulary; target = doc_id % 19, the x21 benchmark split),
    // keep the top-20 per source. One conditional-aggregate shuffle
    // builds both count sides; the scoring join is token-keyed against
    // the vocab-sized frame (only scalar totals broadcast); the per-doc
    // fold is token-SORTED so the float sum — and the hash — is pinned.
    "x47_dsir_selection" -> entry(
      (s, dir) =>
        Curation.dsirSelection(tbl(s, dir, "documents"), "doc_id", "text",
            "source", isTarget = col("doc_id") % 19 === 0, perSource = 20)
          .orderBy(col("source"), col("rk")),
      """WITH toks AS (SELECT doc_id, source, doc_id % 19 = 0 AS t,
        |       unnest(string_split(text, ' ')) AS tok FROM documents),
        |counts AS (SELECT tok,
        |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |    CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS cr
        |  FROM toks GROUP BY 1),
        |tot AS (SELECT sum(ct)::DOUBLE AS tt, sum(cr)::DOUBLE AS tr,
        |               count(*)::DOUBLE AS v FROM counts),
        |scored AS (SELECT doc_id AS id, source,
        |    count(*) AS n_tok,
        |    round(list_reduce(list(
        |        ln((ct + 0.5) / (tt + 0.5 * v)) - ln((cr + 0.5) / (tr + 0.5 * v))
        |        ORDER BY tok), (a, b) -> a + b), 4) AS log_w
        |  FROM toks JOIN counts USING (tok), tot
        |  WHERE NOT t GROUP BY 1, 2)
        |SELECT id, source, n_tok, log_w, rk FROM (
        |  SELECT id, source, n_tok, log_w, row_number() OVER (
        |    PARTITION BY source ORDER BY log_w DESC, id) AS rk FROM scored)
        |WHERE rk <= 20 ORDER BY source, rk""".stripMargin),

    // Token-budget fill (mixture weights → an actual corpus): keep each
    // source's hash-ordered prefix while the running token total fits
    // the per-source budget — one cumulative window per stratum, the
    // x24/x25 shape; the hash order makes the fill replay-stable.
    "x48_token_budget_fill" -> entry(
      (s, dir) =>
        Curation.tokenBudgetFill(tbl(s, dir, "documents"), "doc_id", "text",
            "source", budget = 600L)
          .orderBy(col("id")),
      """SELECT id, source, n_tok, cum_tok FROM (
        |  SELECT doc_id AS id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(sum(len(string_split(text, ' '))) OVER (
        |      PARTITION BY source
        |      ORDER BY ((doc_id % 1000000007) * 2654435761) % 1000000007,
        |               doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tok
        |  FROM documents)
        |WHERE cum_tok <= 600 ORDER BY id""".stripMargin),

    // Per-doc TF-IDF keywords (corpus-level document indexing): top-3
    // tokens by tf×ln(N/df); ranked on the rounded score so rank order
    // is engine-independent.
    "x39_tfidf_keywords" -> entry(
      (s, dir) =>
        Curation.tfidfKeywords(tbl(s, dir, "documents"), "doc_id", "text",
            k = 3)
          .orderBy(col("id"), col("rk")),
      """WITH tf AS (SELECT doc_id, tok, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) GROUP BY 1, 2),
        |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*)::DOUBLE AS n FROM documents)
        |SELECT doc_id AS id, rk, tok, score FROM (
        |  SELECT doc_id, tok, round(tf * ln(n.n / df), 4) AS score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY round(tf * ln(n.n / df), 4) DESC, tok) AS rk
        |  FROM tf JOIN dfq USING (tok), n)
        |WHERE rk <= 3 ORDER BY id, rk""".stripMargin),

    // Int8 quantization audit (4× embedding storage cut at 100 TB):
    // per-vector symmetric scalar quantization, fidelity = cosine of the
    // original against its quantized self — scan-local, no shuffle.
    "x40_quantization_audit" -> entry(
      (s, dir) =>
        Similarity.quantizationAudit(tbl(s, dir, "embeddings"),
            "vec_id", "embedding")
          .orderBy(col("id")),
      """WITH b AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |q AS (SELECT id, v,
        |    list_max(list_transform(v, x -> abs(x))) AS mx FROM b),
        |qq AS (SELECT id, v,
        |    CASE WHEN mx > 0 THEN
        |      list_transform(v, x -> CAST(floor(x * 127 / mx + 0.5) AS DOUBLE))
        |    END AS qv FROM q)
        |SELECT id, CASE WHEN qv IS NOT NULL THEN
        |    round(list_dot_product(v, qv)
        |      / (sqrt(list_dot_product(v, v))
        |         * sqrt(list_dot_product(qv, qv))), 4)
        |  END AS fidelity
        |FROM qq ORDER BY id""".stripMargin),

    // MinHash+LSH near-dup candidates, verified with exact Jaccard.
    // Hash-checked against NaiveOracles.x02 (all-pairs HOF re-derivation
    // of the same xxhash64 family — not DuckDB-portable).
    "x02_dedup_minhash_lsh" -> rowsOnly(
      (s, dir) =>
        TextDedup.minhashLshPairs(tbl(s, dir, "documents"), "doc_id", "text",
            k = 16, bands = 8, shingleN = 2, threshold = 0.6)
          .orderBy(col("id_a"), col("id_b"))),

    // SimHash fingerprints + hamming-banded near-dup pairs. Hash-checked
    // against NaiveOracles.x03 (per-bit HOF vote folds, all pairs).
    "x03_dedup_simhash" -> rowsOnly(
      (s, dir) =>
        TextDedup.simhashPairs(tbl(s, dir, "documents"), "doc_id", "text",
            maxHamming = 6)
          .orderBy(col("id_a"), col("id_b"))),

    // n-gram Jaccard near-dup pairs within source blocks — exact integer
    // set arithmetic, fully oracle-checkable.
    "x04_dedup_ngram_jaccard" -> entry(
      (s, dir) =>
        TextDedup.ngramJaccardPairs(tbl(s, dir, "documents"), "doc_id", "text",
            blockCol = "source", n = 1, threshold = 0.9)
          .orderBy(col("id_a"), col("id_b")),
      """WITH t AS (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks
        |           FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |   / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jac
        |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |   / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin),

    // Asymmetric containment near-dup (sub-document copies): a short doc
    // pasted into a long one scores ~1.0 on |∩|/min while its Jaccard
    // stays low. The synthetic corpus has no natural sub-document copies,
    // so plant truncated halves of every 50th doc (id + 1e6) — the
    // operator must recover exactly those (plus the corpus's one real
    // containing pair), same planted-recall shape as x18. Every 100th doc
    // also plants a DEGENERATE 3-token fragment (id + 2e6, exactly one
    // real 3-gram — the host's first): those pair at containment 1.0
    // with their hosts by construction, and the minGrams = 3 floor must
    // exclude them from both join sides — the floor is load-bearing, not
    // decorative, and the oracle carries the same `len(g) >= 3`
    // predicate.
    "x34_dedup_containment" -> entry(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("source"))
        val toks = split(col("text"), " ")
        val half = docs.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat_ws(" ", slice(toks, lit(1),
              greatest(floor(size(toks) / 2), lit(3)).cast("int"))).as("text"),
            col("source"))
        val frag = docs.filter(col("doc_id") % 100 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat_ws(" ", slice(toks, 1, 3)).as("text"),
            col("source"))
        TextDedup.containmentPairs(docs.unionByName(half).unionByName(frag),
            "doc_id", "text", blockCol = "source", n = 3, threshold = 0.8,
            minGrams = 3)
          .orderBy(col("id_a"), col("id_b"))
      },
      """WITH half AS (SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string(tk[1:greatest(len(tk)//2, 3)], ' ') AS text, source
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk, source FROM documents)
        |  WHERE doc_id % 50 = 0),
        |frag AS (SELECT doc_id + 2000000 AS doc_id,
        |    array_to_string(tk[1:3], ' ') AS text, source
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk, source FROM documents)
        |  WHERE doc_id % 100 = 0),
        |corpus AS (SELECT doc_id, text, source FROM documents
        |           UNION ALL SELECT * FROM half
        |           UNION ALL SELECT * FROM frag),
        |t AS (SELECT doc_id, source, g FROM (
        |  SELECT doc_id, source,
        |    list_distinct(CASE WHEN len(tk) >= 3
        |      THEN list_transform(range(1, len(tk) - 1),
        |             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
        |      ELSE [array_to_string(tk, ' ')] END) AS g
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS tk FROM corpus))
        |  WHERE len(g) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.g, b.g))::DOUBLE / least(len(a.g), len(b.g))
        |    AS containment
        |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.g, b.g))::DOUBLE / least(len(a.g), len(b.g))
        |  >= 0.8
        |ORDER BY id_a, id_b""".stripMargin),

    // Chunk-level exact substring dedup (Lee et al. 2022 at fixed-width
    // granularity): keep-first over 10-token chunks, per-doc dup counts
    // and the reassembled surviving text.
    "x32_chunk_dedup" -> entry(
      (s, dir) =>
        Curation.chunkDedup(tbl(s, dir, "documents"), "doc_id", "text",
            chunk = 10)
          .orderBy(col("doc_id")),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |c AS (SELECT doc_id, i AS pos,
        |        array_to_string(tk[(i*10+1):((i+1)*10)], ' ') AS chunk
        |      FROM t, unnest(range(0, CAST(ceil(len(tk)::DOUBLE / 10) AS BIGINT)))
        |        AS u(i)),
        |f AS (SELECT doc_id, pos, chunk,
        |        CAST(row_number() OVER (PARTITION BY chunk
        |          ORDER BY doc_id, pos) > 1 AS BIGINT) AS dup
        |      FROM c)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(dup) AS BIGINT) AS n_dup_chunks,
        |  sum(dup)::DOUBLE / count(*) AS dup_ratio,
        |  coalesce(string_agg(chunk, ' ' ORDER BY pos) FILTER (WHERE dup = 0),
        |    '') AS kept_text
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Quality-score ensemble → per-source deciles (CCNet-style bucketing);
    // the score is three scan-local signals under fixed weights, the only
    // shuffle is the per-stratum ntile window with a total (score, id)
    // order.
    "x33_quality_deciles" -> entry(
      (s, dir) =>
        Curation.qualityDeciles(tbl(s, dir, "documents"), "doc_id", "text",
            strataCol = "source", buckets = 10)
          .orderBy(col("doc_id")),
      """WITH g AS (SELECT doc_id, source, tk,
        |    list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) AS g2
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS tk
        |        FROM documents)),
        |s AS (SELECT doc_id, source,
        |  0.5::DOUBLE * (len(list_distinct(tk))::DOUBLE / len(tk))
        |  + 0.3::DOUBLE * (CASE WHEN len(tk) >= 2
        |      THEN len(list_distinct(g2))::DOUBLE / len(g2) ELSE 1.0::DOUBLE END)
        |  + 0.2::DOUBLE * least(len(tk)::DOUBLE / 500.0, 1.0::DOUBLE) AS score
        |  FROM g)
        |SELECT doc_id, source, score,
        |  ntile(10) OVER (PARTITION BY source ORDER BY score, doc_id) AS decile
        |FROM s ORDER BY doc_id""".stripMargin),

    // Brute-force cosine top-k ANN baseline: broadcast query set, HOF dot
    // products in double precision, bounded per-query window.
    "x05_ann_cosine_topk" -> entry(
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        Similarity.bruteForceTopK(
            corpus = emb,
            queries = emb.filter(col("vec_id") % 100 === 0),
            idCol = "vec_id", vecCol = "embedding", k = 5)
          .select(col("qid"), col("rnk"), col("nid"), round(col("sim"), 4).as("sim"))
          .orderBy(col("qid"), col("rnk"))
      },
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id % 100 = 0)
        |SELECT qid, rnk, nid, round(sim, 4) AS sim FROM (
        | SELECT qid, e.vec_id AS nid,
        |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv) AS sim,
        |  row_number() OVER (PARTITION BY qid
        |    ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv) DESC, e.vec_id) AS rnk
        | FROM embeddings e, q)
        |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin),

    // Embedding-cosine near-dup pairs: exact triangle scoring above a
    // threshold (candidates come from LSH/IVF buckets at corpus scale).
    "x17_embedding_neardup" -> entry(
      (s, dir) =>
        Similarity.cosineNearDupPairs(tbl(s, dir, "embeddings"),
            "vec_id", "embedding", threshold = 0.4)
          .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
          .orderBy(col("id_a"), col("id_b")),
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                              CAST(b.embedding AS DOUBLE[])), 4) AS sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin),

    // LSH-banded near-dup (the 100 TB default for high thresholds):
    // candidates from hyperplane-signature bands, exact cosine within
    // buckets only. Oracle: same 64-bit signature over inlined plane
    // literals, HUGEINT floor-div/mod as the unsigned band extraction.
    "x18_embedding_neardup_lsh" -> entry(
      (s, dir) => {
        // high-threshold operating point — the regime banding is FOR:
        // 8-bit bands admit ~3% of random pairs while duplicates collide
        // surely (identical vectors share every band). The synthetic
        // corpus is random (no true near-dups), so plant one duplicate
        // per vector — the canonical repeated-asset dedup shape — and
        // LSH must recover exactly those pairs; loose thresholds belong
        // to the exact blocked path (x17).
        val e = tbl(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val corpus = e.unionByName(
          e.withColumn("vec_id", col("vec_id") + lit(1000000L)))
        Similarity.cosineNearDupPairsLsh(corpus,
            "vec_id", "embedding", threshold = 0.99)
          .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
          .orderBy(col("id_a"), col("id_b"))
      },
      s"""WITH base AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) FROM embeddings),
        |sig AS (
        |  SELECT id, v, sqrt(list_dot_product(v, v)) AS nrm,
        |    ${sigSql(nBits = 64, dim = 64)} AS sg
        |  FROM base),
        |banded AS (
        |  SELECT s.id, s.v, s.nrm, t.b,
        |    CAST((s.sg // ((1::BIGINT << (8 * t.b))::HUGEINT)) % 256 AS INTEGER) AS bits
        |  FROM sig s, range(8) t(b))
        |SELECT DISTINCT x.id AS id_a, y.id AS id_b,
        |  round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 4) AS sim
        |FROM banded x JOIN banded y
        |  ON x.b = y.b AND x.bits = y.bits AND x.id < y.id
        |WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= 0.99
        |ORDER BY id_a, id_b""".stripMargin),

    // LSH-bucketed ANN (scale path). Oracle: the 4-bit signature bucket
    // over inlined plane literals, then x05's top-k window shape.
    "x06_ann_lsh" -> entry(
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        Similarity.lshTopK(
            corpus = emb,
            queries = emb.filter(col("vec_id") % 100 === 0),
            idCol = "vec_id", vecCol = "embedding", k = 5, nBits = 4)
          .select(col("qid"), col("rnk"), col("nid"),
            round(col("sim"), 4).as("sim"))
          .orderBy(col("qid"), col("rnk"))
      },
      s"""WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sig AS (
        |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
        |    CAST(${sigSql(nBits = 4, dim = 64)} AS INTEGER) AS bucket
        |  FROM base)
        |SELECT qid, rnk, nid, round(sim, 4) AS sim FROM (
        |  SELECT q.vec_id AS qid, c.vec_id AS nid,
        |    CASE WHEN c.nrm * q.nrm > 0
        |         THEN list_dot_product(c.v, q.v) / (c.nrm * q.nrm) END AS sim,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      (CASE WHEN c.nrm * q.nrm > 0
        |            THEN list_dot_product(c.v, q.v) / (c.nrm * q.nrm) END)
        |        DESC NULLS LAST, c.vec_id) AS rnk
        |  FROM sig c JOIN sig q ON c.bucket = q.bucket AND q.vec_id % 100 = 0)
        |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin),

    // IVF ANN (scale path): KMeans coarse quantizer + multi-probe.
    // Hash-checked against NaiveOracles.x13 (shared quantizer fit, all
    // downstream stages re-derived naively).
    "x13_ann_ivf" -> rowsOnly(
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        Similarity.ivfTopK(
            corpus = emb,
            queries = emb.filter(col("vec_id") % 100 === 0),
            idCol = "vec_id", vecCol = "embedding", k = 5,
            nCentroids = 16, nProbe = 4)
          .orderBy(col("qid"), col("rnk"))
      }),

    // SemDeDup-style semantic dedup: within each semantic cluster (the
    // planted `label` here; IVF cells at scale), drop vectors dominated
    // by a lower-id neighbour above the cosine threshold. The quadratic
    // term never leaves a cluster-equi-join bucket.
    "x35_semantic_dedup" -> entry(
      (s, dir) =>
        Similarity.semanticDedup(tbl(s, dir, "embeddings"),
            "vec_id", "embedding", "label", threshold = 0.35)
          .orderBy(col("id")),
      """WITH b AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |d AS (SELECT a.vec_id AS id, min(b.vec_id) AS dup_of
        |      FROM b a JOIN b b ON a.label = b.label AND a.vec_id > b.vec_id
        |      WHERE (CASE WHEN list_dot_product(a.v, a.v) > 0
        |                   AND list_dot_product(b.v, b.v) > 0
        |             THEN list_cosine_similarity(a.v, b.v) END) >= 0.35
        |      GROUP BY 1)
        |SELECT b.vec_id AS id, b.label AS cluster, d.dup_of,
        |  CAST(d.dup_of IS NULL AS BIGINT) AS kept
        |FROM b LEFT JOIN d ON b.vec_id = d.id ORDER BY id""".stripMargin),

    // SemDeDup over IVF cells — x35's dominance dedup with the cluster
    // column coming from the coarse quantizer instead of a planted
    // label: the composition the 100 TB path actually runs (cells sized
    // to a task bound the quadratic term). Hash-checked against
    // NaiveOracles.x49 (shared fit; assignment + dominance re-derived).
    "x49_semantic_dedup_ivf" -> rowsOnly(
      (s, dir) =>
        Similarity.semanticDedupIvf(tbl(s, dir, "embeddings"),
            "vec_id", "embedding", nCells = 16, threshold = 0.35)
          .orderBy(col("id"))),

    // Product-quantization ANN (IVF-PQ's compression half): corpus stored
    // as 4 subspace codes, queries score against per-query ADC lookup
    // tables — the float vectors never move at query time. ML-fit
    // codebooks → Spark-naive oracle (NaiveOracles.x51).
    "x51_ann_pq" -> rowsOnly(
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        Similarity.pqTopK(
            corpus = emb,
            queries = emb.filter(col("vec_id") % 100 === 0),
            idCol = "vec_id", vecCol = "embedding", k = 5,
            m = 4, codebookSize = 16)
          .orderBy(col("qid"), col("rnk"))
      }),

    // IVF-PQ ANN (the full production composition): coarse cells gate the
    // candidates, PQ ADC ranks them — floats touched only at index build.
    // Published seeded constants → Spark-naive oracle (NaiveOracles.x56).
    "x56_ann_ivfpq" -> rowsOnly(
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        Similarity.ivfPqTopK(
            corpus = emb,
            queries = emb.filter(col("vec_id") % 100 === 0),
            idCol = "vec_id", vecCol = "embedding", k = 5,
            nCentroids = 16, nProbe = 4, m = 4, codebookSize = 16)
          .orderBy(col("qid"), col("rnk"))
      }),

    // Incremental near-dup: a planted batch (copies at id+2,000,000)
    // checked against the persisted-index form of the corpus — must
    // agree exactly with the whole-union pair family (NaiveOracles.x57).
    "x57_incremental_neardup" -> rowsOnly(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val batch = docs.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
        TextDedup.nearDupAgainstIndex(batch, "doc_id", "text",
            TextDedup.minhashIndex(docs, "doc_id", "text"))
          .orderBy(col("id"), col("dup_of"))
      }),

    // URL canonicalization + per-host cap (crawl curation): host
    // lower-cased, query/fragment dropped (the URL-dedup key), then a
    // per-host document cap — over deterministically synthesized messy
    // URLs (the corpus has no URL column; synthesis mirrored verbatim in
    // the oracle, the x53 pattern). Scan-local regexes; the only shuffle
    // is the per-host rank window.
    "x58_url_canonicalize" -> entry(
      (s, dir) => {
        val hostBase = concat(lit("site"), pmod(col("doc_id"), lit(7)),
          lit(".example.org"))
        val url = concat(lit("https://"),
          when(pmod(col("doc_id"), lit(2)) === 0, upper(hostBase))
            .otherwise(hostBase),
          lit("/p/"), pmod(col("doc_id"), lit(97)),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit("?utm_source=x&ref="), col("doc_id"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(lit("#sec"), pmod(col("doc_id"), lit(3)))).otherwise(lit("")))
        val rk = row_number().over(Window.partitionBy(col("host"))
          .orderBy(col("doc_id")))
        tbl(s, dir, "documents")
          .select(col("doc_id"), url.as("url"))
          .select(col("doc_id"),
            TextAnalysis.urlHost(col("url")).as("host"),
            TextAnalysis.canonicalUrl(col("url")).as("canon_url"))
          .withColumn("host_rank", rk.cast("long"))
          .withColumn("kept", (col("host_rank") <= 20).cast("long"))
          .orderBy(col("doc_id"))
      },
      """WITH u AS (SELECT doc_id,
        |    'https://' ||
        |    (CASE WHEN doc_id % 2 = 0
        |       THEN upper('site' || (doc_id % 7) || '.example.org')
        |       ELSE 'site' || (doc_id % 7) || '.example.org' END) ||
        |    '/p/' || (doc_id % 97) ||
        |    (CASE WHEN doc_id % 5 = 0
        |       THEN '?utm_source=x&ref=' || doc_id ELSE '' END) ||
        |    (CASE WHEN doc_id % 11 = 0
        |       THEN '#sec' || (doc_id % 3) ELSE '' END) AS url
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    lower(regexp_extract(url, '^https?://([^/?#]+)', 1)) AS host,
        |    'https://' || lower(regexp_extract(url, '^https?://([^/?#]+)', 1))
        |      || regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1) AS canon_url
        |  FROM u)
        |SELECT doc_id, host, canon_url,
        |  CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id)
        |    AS BIGINT) AS host_rank,
        |  CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id) <= 20
        |    AS BIGINT) AS kept
        |FROM c ORDER BY doc_id""".stripMargin),

    // Padding-waste audit for length-bucketed batching (the padded-batch
    // SFT counterpart of x24's concat-and-chunk): docs pad to their
    // 32-token bucket ceiling; per bucket, the token mass and the waste
    // the bucketing strategy pays. Scan-local lengths, one partial-agg
    // shuffle on the bucket key.
    //
    // waste_ratio_bp (basis points) is computed with EXACT integer
    // round-half-up — floor((2·1e4·num + den) / (2·den)) — never
    // round()-on-double: the ratio's denominator is power-of-2-rich
    // (buckets are multiples of 32), so 1e4·ratio lands on exactly
    // representable .5 ties (e.g. 1 − 31/32 → 312.5) where DuckDB
    // versions disagree on half-even vs half-away. Integer div is
    // engine-portable (operands are non-negative, so Spark `div`
    // truncation == DuckDB `//` floor).
    "x59_padding_audit" -> entry(
      (s, dir) => {
        val n = size(split(col("text"), " ")).cast("long")
        tbl(s, dir, "documents")
          .select(col("doc_id"), n.as("n"))
          .withColumn("bucket",
            (ceil(col("n") / lit(32.0)) * 32).cast("long"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("total_tokens"))
          .select(col("bucket"), col("n_docs"), col("total_tokens"),
            (col("n_docs") * col("bucket")).as("padded_tokens"))
          .withColumn("waste_ratio_bp",
            expr("(20000 * (padded_tokens - total_tokens) + padded_tokens)" +
              " div (2 * padded_tokens)"))
          .orderBy(col("bucket"))
      },
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |b AS (SELECT doc_id, n,
        |    CAST(ceil(n / 32.0) * 32 AS BIGINT) AS bucket FROM t),
        |a AS (SELECT bucket, count(*) AS n_docs,
        |    CAST(sum(n) AS BIGINT) AS total_tokens,
        |    CAST(count(*) * bucket AS BIGINT) AS padded_tokens
        |  FROM b GROUP BY bucket)
        |SELECT bucket, n_docs, total_tokens, padded_tokens,
        |  CAST((20000 * (padded_tokens - total_tokens) + padded_tokens)
        |    // (2 * padded_tokens) AS BIGINT) AS waste_ratio_bp
        |FROM a ORDER BY bucket""".stripMargin),

    // Sliding-window RAG chunking (width 16, stride 8 — 50% overlap),
    // tail-clamped; the retrieval-ingestion counterpart of x32's tiling.
    "x61_rag_chunks" -> entry(
      (s, dir) =>
        Curation.slidingChunks(tbl(s, dir, "documents"), "doc_id", "text",
            width = 16, stride = 8)
          .orderBy(col("doc_id"), col("chunk_idx")),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |s AS (SELECT doc_id, tk, len(tk) AS n,
        |    unnest(range(0,
        |      CAST(ceil(greatest(len(tk) - 16, 0) / 8.0) AS BIGINT) + 1)) AS ci
        |  FROM t)
        |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
        |  CAST(ci * 8 AS BIGINT) AS start_tok,
        |  CAST(least(16, n - ci * 8) AS BIGINT) AS n_tokens,
        |  array_to_string(tk[(ci*8+1):(ci*8+16)], ' ') AS chunk_text
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin),

    // Tokenizer-fertility audit: chars per token by language, for both
    // whitespace and BPE-ish tokenizations — the "how expensive is this
    // language for the tokenizer" diagnostic. One partial-agg shuffle on
    // lang; ratios from exact integer sums, scaled ×1e4 and rounded
    // half-up with pure integer arithmetic (floor((2·1e4·num + den) /
    // (2·den))) — see the x59 comment for why round()-on-double is
    // banned on integer-ratio outputs.
    "x64_tokenizer_fertility" -> entry(
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(col("lang"), col("n_chars"),
            TextAnalysis.whitespaceTokenCount(col("text")).as("ws"),
            TextAnalysis.bpeishTokenCount(col("text")).as("bpe"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("ws")).as("ws_tokens"),
            sum(col("bpe")).as("bpe_tokens"))
          .select(col("lang"), col("n_docs"), col("total_chars"),
            col("ws_tokens"), col("bpe_tokens"),
            expr("(20000 * total_chars + ws_tokens) div (2 * ws_tokens)")
              .as("chars_per_ws_token_x10k"),
            expr("(20000 * total_chars + bpe_tokens) div (2 * bpe_tokens)")
              .as("chars_per_bpe_token_x10k"))
          .orderBy(col("lang")),
      """WITH a AS (SELECT lang, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        |    CAST(sum(len(regexp_extract_all(text,
        |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS bpe_tokens
        |  FROM documents GROUP BY lang)
        |SELECT lang, n_docs, total_chars, ws_tokens, bpe_tokens,
        |  CAST((20000 * total_chars + ws_tokens) // (2 * ws_tokens)
        |    AS BIGINT) AS chars_per_ws_token_x10k,
        |  CAST((20000 * total_chars + bpe_tokens) // (2 * bpe_tokens)
        |    AS BIGINT) AS chars_per_bpe_token_x10k
        |FROM a ORDER BY lang""".stripMargin),

    // Domain-shift audit: per-source KL divergence to the corpus token
    // head (top-50 support; p=0 terms correctly absent), fold pinned in
    // token order.
    "x63_domain_shift_kl" -> entry(
      (s, dir) =>
        // NOT widened: A/B'd in round 14 (QProf min-warm 1.51 s as-is vs
        // 1.61 s widened) — the token explode runs single-task but the
        // widen shuffle costs more than the freed parallelism buys here
        Curation.domainShiftKl(tbl(s, dir, "documents"), "text", "source",
            topN = 50)
          .orderBy(col("source")),
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |cc AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
        |top AS (SELECT tok, c FROM (SELECT tok, c,
        |    row_number() OVER (ORDER BY c DESC, tok) AS r FROM cc)
        |  WHERE r <= 50),
        |ct AS (SELECT sum(c) AS tot FROM top),
        |sc AS (SELECT source, t.tok, count(*) AS s
        |       FROM tok t JOIN top USING (tok) GROUP BY source, t.tok),
        |st AS (SELECT source, sum(s) AS stot FROM sc GROUP BY source),
        |terms AS (SELECT sc.source, sc.tok,
        |    (CAST(sc.s AS DOUBLE) / st.stot) *
        |      ln((CAST(sc.s AS DOUBLE) / st.stot) /
        |         (CAST(top.c AS DOUBLE) / (SELECT tot FROM ct))) AS term
        |  FROM sc JOIN top USING (tok) JOIN st USING (source))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens_in_set,
        |  round(list_reduce(list(term ORDER BY tok), (a, b) -> a + b), 6)
        |    AS kl
        |FROM terms GROUP BY source ORDER BY source""".stripMargin),

    // Contrastive pair construction: doc-half positives + deterministic
    // same-source next-doc negatives (the harder kind), per-stratum lead
    // windows — no RNG, no global order.
    "x62_contrastive_pairs" -> entry(
      (s, dir) =>
        Curation.contrastivePairs(tbl(s, dir, "documents"), "doc_id",
            "text", "source")
          .orderBy(col("anchor_id"), col("label").desc, col("other_id")),
      """WITH t AS (SELECT doc_id, source,
        |    len(string_split(text, ' ')) AS n FROM documents),
        |h AS (SELECT doc_id, source,
        |    CAST(n // 2 AS BIGINT) AS n_front,
        |    CAST(n - n // 2 AS BIGINT) AS n_back
        |  FROM t WHERE n >= 2),
        |p AS (
        |  SELECT doc_id AS anchor_id, doc_id AS other_id, 1 AS label,
        |    n_front AS n_anchor_tokens, n_back AS n_other_tokens
        |  FROM h
        |  UNION ALL
        |  SELECT doc_id, lead(doc_id) OVER w, 0, n_front,
        |    lead(n_back) OVER w
        |  FROM h WINDOW w AS (PARTITION BY source ORDER BY doc_id))
        |SELECT anchor_id, other_id, CAST(label AS BIGINT) AS label,
        |  n_anchor_tokens, n_other_tokens
        |FROM p WHERE other_id IS NOT NULL
        |ORDER BY anchor_id, label DESC, other_id""".stripMargin),

    // T5-style span-corruption mask audit: deterministic seeded spans
    // (pure modular arithmetic — oracle-portable), ~15% corruption at
    // the canonical startPct=5/span=3. Scan-local; only the order sorts.
    "x60_span_corruption" -> entry(
      (s, dir) =>
        Curation.spanCorruptionStats(tbl(s, dir, "documents"),
            "doc_id", "text")
          .orderBy(col("doc_id")),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |m AS (SELECT doc_id, len(tk) AS n,
        |    list_transform(range(0, len(tk)), i ->
        |      CASE WHEN (doc_id * 1000003 + i * 7919) % 100 < 5
        |        THEN 1 ELSE 0 END) AS sf
        |  FROM t),
        |k AS (SELECT doc_id, n, sf,
        |    list_transform(range(0, n), i -> CASE WHEN
        |      sf[i+1] = 1 OR (i >= 1 AND sf[i] = 1) OR (i >= 2 AND sf[i-1] = 1)
        |      THEN 1 ELSE 0 END) AS mk
        |  FROM m)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(list_sum(mk) AS BIGINT) AS n_masked,
        |  CAST(list_sum(list_transform(range(0, n), i ->
        |    CASE WHEN mk[i+1] = 1 AND (i = 0 OR mk[i] = 0) THEN 1 ELSE 0 END))
        |    AS BIGINT) AS n_spans,
        |  CAST((20000 * list_sum(mk) + n) // (2 * n) AS BIGINT)
        |    AS mask_ratio_bp
        |FROM k ORDER BY doc_id""".stripMargin),

    // Temperature-scaled domain mix (XLM-R/mT5 α-resampling): quotas
    // from sqrt-scaled token mass (α=0.5 — the IEEE-exact exponent),
    // denominator folded in sorted domain order (x31 pattern).
    "x52_temperature_mix" -> entry(
      (s, dir) =>
        Curation.temperatureMix(tbl(s, dir, "documents"), "doc_id", "text",
            "source", budget = 300L)
          .select(col("id").as("doc_id"), col("strata").as("source"),
            col("mix_w"), col("quota"))
          .orderBy(col("doc_id")),
      """WITH per AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT source, sum(n_tok) AS toks, count(*) AS docs
        |      FROM per GROUP BY 1),
        |d AS (SELECT list_reduce(list(sqrt(CAST(toks AS DOUBLE))
        |        ORDER BY source), (a, b) -> a + b) AS denom FROM c),
        |q AS (SELECT source,
        |    sqrt(CAST(toks AS DOUBLE)) / denom AS w,
        |    least(docs, CAST(floor(300.0 * (sqrt(CAST(toks AS DOUBLE))
        |      / denom)) AS BIGINT)) AS quota
        |  FROM c, d),
        |r AS (SELECT p.doc_id, p.source, q.w, q.quota,
        |    row_number() OVER (PARTITION BY p.source ORDER BY p.doc_id) AS rn
        |  FROM per p JOIN q USING (source))
        |SELECT doc_id, source, round(w, 6) AS mix_w, quota
        |FROM r WHERE rn <= quota ORDER BY doc_id""".stripMargin),

    // Typed PII audit: per-category hit counts + typed redaction over a
    // deterministically synthesized PII column (the raw corpus has no
    // PII to find; the synthesis is mirrored verbatim in the oracle).
    "x53_pii_audit" -> entry(
      (s, dir) => {
        val piiText = concat_ws(" ", col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit("user"), col("doc_id"), lit("@mail.example.com"))),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit("10.0."), pmod(col("doc_id"), lit(256)), lit(".7"))),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(lit("+1-555-"),
              lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))),
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(lit("4111"),
              lpad(pmod(col("doc_id"), lit(100000)).cast("string"), 8, "0"))))
        val withPii = tbl(s, dir, "documents").withColumn("pt", piiText)
        withPii.select(
            Seq(col("doc_id")) ++
              TextAnalysis.piiCounts(col("pt")).map { case (n, c) => c.as(n) } ++
              Seq(TextAnalysis.piiRedacted(col("pt")).as("redacted")): _*)
          .orderBy(col("doc_id"))
      },
      """WITH p AS (SELECT doc_id, concat_ws(' ', text,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN 'user' || doc_id || '@mail.example.com' END,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN '10.0.' || (doc_id % 256) || '.7' END,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN '+1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') END,
        |    CASE WHEN doc_id % 11 = 0
        |      THEN '4111' || lpad(CAST(doc_id % 100000 AS VARCHAR), 8, '0') END
        |  ) AS pt FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(pt,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_email,
        |  CAST(len(regexp_extract_all(pt,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
        |  CAST(len(regexp_extract_all(pt,
        |    '\+\d{1,3}-\d{3}-\d{4}')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(pt, '\d{9,}')) AS BIGINT) AS n_longnum,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(pt,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d{1,3}-\d{3}-\d{4}', '<PHONE>', 'g'),
        |    '\d{9,}', '<NUM>', 'g') AS redacted
        |FROM p ORDER BY doc_id""".stripMargin),

    // Stride-1 duplicated-n-gram diagnostic (Lee et al. exact-substring
    // signal at sliding granularity): grams join as xxhash64 longs, the
    // oracle joins the raw strings and must agree (the x21 argument).
    "x54_dup_gram_spans" -> entry(
      (s, dir) =>
        Curation.duplicatedGramStats(tbl(s, dir, "documents"), "doc_id",
            "text", n = 5)
          .orderBy(col("doc_id")),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |g AS (SELECT doc_id, unnest(CASE WHEN len(tk) >= 5
        |    THEN list_transform(range(1, len(tk) - 3),
        |           i -> array_to_string(tk[i:i+4], ' '))
        |    ELSE [array_to_string(tk, ' ')] END) AS ng FROM t),
        |c AS (SELECT ng, count(*) AS c FROM g GROUP BY ng)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
        |    AS dup_ratio
        |FROM g JOIN c USING (ng)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Semi-structured property extraction: schema'd from_json over the
    // events.props JSON column, banded group-by, mean folded in
    // event_id order (x31 pattern) so the float path is order-exact.
    "x55_props_extract" -> entry(
      (s, dir) => {
        val k = from_json(col("props"), lit("k INT")).getField("k")
        tbl(s, dir, "events")
          .select(col("event_type"), col("event_id"), col("value"),
            // pmod floor-div form: exact on any sign (Spark div truncates,
            // DuckDB // floors — they only agree on non-negatives)
            ((k - pmod(k, lit(10))) / 10).cast("long").as("k_band"))
          .groupBy(col("event_type"), col("k_band"))
          .agg(count(lit(1)).as("n"),
            sort_array(collect_list(
              struct(col("event_id"), col("value")))).as("vs"))
          .select(col("event_type"), col("k_band"), col("n"),
            round(aggregate(
                transform(col("vs"), s => s.getField("value")),
                lit(0.0), (a: Column, v: Column) => a + v) / col("n"), 4)
              .as("avg_value"))
          .orderBy(col("event_type"), col("k_band"))
      },
      """WITH e AS (SELECT event_type, event_id, value,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |  FROM events)
        |SELECT event_type,
        |  CAST((k - ((k % 10 + 10) % 10)) / 10 AS BIGINT) AS k_band,
        |  count(*) AS n,
        |  round(list_reduce(list(value ORDER BY event_id), (a, b) -> a + b)
        |    / count(*), 4) AS avg_value
        |FROM e GROUP BY 1, 2 ORDER BY event_type, k_band""".stripMargin),

    // kNN label vote (auto-labeling / weak supervision): majority label
    // among the 10 nearest neighbours, self excluded, ties to the higher
    // count then the smaller label. Brute-force candidates with the
    // query set broadcast — the SMALL-BATCH form; x45 is the same vote
    // on LSH candidates with no broadcast, the corpus-fraction form.
    "x36_knn_label_vote" -> entry(
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        Similarity.knnPredict(
            corpus = emb,
            queries = emb.filter(col("vec_id") % 10 === 0),
            idCol = "vec_id", vecCol = "embedding", labelCol = "label",
            k = 10)
          .orderBy(col("qid"))
      },
      """WITH b AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |nn AS (SELECT q.vec_id AS qid, q.label AS tl, c.label AS cl,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      (CASE WHEN list_dot_product(c.v, c.v) > 0
        |             AND list_dot_product(q.v, q.v) > 0
        |        THEN list_cosine_similarity(c.v, q.v) END)
        |        DESC NULLS LAST, c.vec_id) AS rnk
        |  FROM b q JOIN b c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id % 10 = 0),
        |votes AS (SELECT qid, tl, cl, count(*) AS n FROM nn
        |          WHERE rnk <= 10 GROUP BY 1, 2, 3),
        |pred AS (SELECT qid, tl, cl, n, row_number() OVER (
        |    PARTITION BY qid ORDER BY n DESC, cl) AS pr FROM votes)
        |SELECT qid, tl AS true_label, cl AS pred_label, n AS votes,
        |  CAST(tl = cl AS BIGINT) AS correct
        |FROM pred WHERE pr = 1 ORDER BY qid""".stripMargin),

    // Hard-negative mining (contrastive retriever training): per query,
    // the top-5 most-similar vectors with a DIFFERENT label — close in
    // embedding space, labeled otherwise. Broadcast mining batch; the
    // rank/filter tail swaps onto LSH candidates for corpus-fraction
    // sweeps (the x45 pattern). Rounded sim pins rank determinism.
    "x50_hard_negatives" -> entry(
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        Similarity.hardNegatives(
            corpus = emb,
            queries = emb.filter(col("vec_id") % 20 === 0),
            idCol = "vec_id", vecCol = "embedding", labelCol = "label",
            k = 5)
          .select(col("qid"), col("qlabel"), col("rnk"), col("nid"),
            col("nlabel"), round(col("sim"), 4).as("sim"))
          .orderBy(col("qid"), col("rnk"))
      },
      """WITH b AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings)
        |SELECT qid, qlabel, rnk, nid, nlabel, round(sim, 4) AS sim FROM (
        |  SELECT q.vec_id AS qid, q.label AS qlabel, c.vec_id AS nid,
        |    c.label AS nlabel,
        |    (CASE WHEN list_dot_product(c.v, c.v) > 0
        |           AND list_dot_product(q.v, q.v) > 0
        |      THEN list_cosine_similarity(c.v, q.v) END) AS sim,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      (CASE WHEN list_dot_product(c.v, c.v) > 0
        |             AND list_dot_product(q.v, q.v) > 0
        |        THEN list_cosine_similarity(c.v, q.v) END)
        |        DESC NULLS LAST, c.vec_id) AS rnk
        |  FROM b q JOIN b c ON c.label <> q.label
        |  WHERE q.vec_id % 20 = 0)
        |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin),

    // Embedding outliers: bottom-10 cosine-to-label-centroid per label
    // (mislabeled/junk row detection). The centroid mean folds in id
    // order in both engines, so the hash is pinned (x31 pattern).
    "x38_embedding_outliers" -> entry(
      (s, dir) =>
        Similarity.centroidOutliers(tbl(s, dir, "embeddings"),
            "vec_id", "embedding", "label", bottomK = 10)
          .orderBy(col("label"), col("rk")),
      """WITH b AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |parts AS (SELECT label, vec_id,
        |            unnest(range(1, len(v) + 1)) AS i, unnest(v) AS x
        |          FROM b),
        |cent AS (SELECT label, i,
        |    list_reduce(list(x ORDER BY vec_id), (a, c) -> a + c)
        |      / count(*) AS m
        |  FROM parts GROUP BY 1, 2),
        |cv AS (SELECT label, list(m ORDER BY i) AS cv FROM cent GROUP BY 1),
        |scored AS (SELECT b.vec_id AS id, b.label,
        |    round(list_dot_product(b.v, cv.cv)
        |      / (sqrt(list_dot_product(b.v, b.v))
        |         * sqrt(list_dot_product(cv.cv, cv.cv))), 4) AS sim_centroid
        |  FROM b JOIN cv USING (label)),
        |ranked AS (SELECT id, label, sim_centroid, row_number() OVER (
        |    PARTITION BY label ORDER BY sim_centroid, id) AS rk FROM scored)
        |SELECT id, label, sim_centroid, rk FROM ranked
        |WHERE rk <= 10 ORDER BY label, rk""".stripMargin),

    // Quality scoring: length/stopword heuristics as scan-speed columns.
    "x07_text_quality" -> entry(
      (s, dir) => {
        val metrics = TextAnalysis.qualityMetrics(col("text"))
          .map { case (n, c) => c.as(n) }
        tbl(s, dir, "documents")
          .select((col("doc_id") +: metrics): _*)
          .orderBy(col("doc_id"))
      },
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |   / len(string_split(text, ' ')) AS avg_token_len,
        | CAST(len(list_filter(string_split(text, ' '),
        |       x -> x IN ('the','a','an','of','and','or','to','in','is','on'))) AS DOUBLE)
        |   / len(string_split(text, ' ')) AS stopword_ratio,
        | CAST(len(string_split(text, ' ')) BETWEEN 10 AND 10000
        |   AND CAST(len(list_filter(string_split(text, ' '),
        |       x -> x IN ('the','a','an','of','and','or','to','in','is','on'))) AS DOUBLE)
        |       / len(string_split(text, ' ')) >= 0.05 AS BIGINT) AS keep
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Language ID via marker-word profiles. The argmax-with-desc-lang
    // tiebreak is spelled out as CASE comparisons in the oracle (struct
    // sort semantics don't port across engines; greatest+CASE does).
    "x08_langid" -> entry(
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(col("doc_id"), col("lang").as("labeled"),
            TextAnalysis.langId(col("text")).as("predicted"))
          .orderBy(col("doc_id")),
      """WITH t AS (SELECT doc_id, lang AS labeled, string_split(text, ' ') AS tk
        |           FROM documents),
        |s AS (SELECT doc_id, labeled,
        |  len(list_filter(tk, x -> x IN ('the','and','of','is','a'))) AS s_en,
        |  len(list_filter(tk, x -> x IN ('der','die','das','und','ist'))) AS s_de,
        |  len(list_filter(tk, x -> x IN ('le','la','et','est','les'))) AS s_fr,
        |  len(list_filter(tk, x -> x IN ('el','la','y','es','los'))) AS s_es,
        |  len(list_filter(tk, x -> x IN ('de','shi','le','zai','he'))) AS s_zh
        |  FROM t)
        |SELECT doc_id, labeled,
        | CASE WHEN greatest(s_en,s_de,s_fr,s_es,s_zh) = 0 THEN 'und'
        |      WHEN s_zh = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'zh'
        |      WHEN s_fr = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'fr'
        |      WHEN s_es = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'es'
        |      WHEN s_en = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'en'
        |      ELSE 'de' END AS predicted
        |FROM s ORDER BY doc_id""".stripMargin),

    // Token counting: whitespace + BPE-ish pre-tokenizer regex.
    "x09_token_count" -> entry(
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.whitespaceTokenCount(col("text")).as("ws_tokens"),
            TextAnalysis.bpeishTokenCount(col("text")).as("bpe_tokens"))
          .orderBy(col("doc_id")),
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Order-sensitive polynomial rolling fingerprint — exact integer fold,
    // oracle-checkable (DuckDB list_reduce folds from the first element,
    // which equals Spark aggregate with zero=0 under acc·31+x).
    "x10_fingerprint" -> entry(
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
          .orderBy(col("doc_id")),
      """SELECT doc_id,
        | list_reduce(list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
        |             (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Approximate distinct via HLL++ sketches. At 100 TB this replaces
    // exact distinct wherever a ±2% answer is acceptable — mergeable,
    // single-pass, fixed memory. Sketch ESTIMATES are engine-specific
    // (Spark's HLL++ vs DuckDB's HLL disagree by construction), so the
    // declared query is the CONTRACT form below: the estimate must sit
    // within 3 standard errors (3·rsd) of the exact distinct count. The
    // oracle recomputes exact_users and pins within_bound = 1 — a sketch
    // drifting out of its documented bound breaks the hash. (A raw
    // rows-only "dump the estimates" form existed through round 9; it
    // added nothing the contract query doesn't compute, and its
    // oracle-less row polluted the driver artifact — removed round 10.)
    "x12_approx_distinct_bound" -> entry(
      (s, dir) =>
        tbl(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(approx_count_distinct(col("user_id"), rsd = 0.02)
              .as("approx_users"),
            countDistinct(col("user_id")).as("exact_users"))
          .select(col("event_type"), col("exact_users"),
            (abs(col("approx_users") - col("exact_users")) <=
              ceil(lit(3 * 0.02) * col("exact_users"))).cast("long")
              .as("within_bound"))
          .orderBy(col("event_type")),
      """SELECT event_type,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        | CAST(1 AS BIGINT) AS within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Text normalization / PII scrubbing — regex projection, portable to
    // the oracle (DuckDB needs the 'g' flag for global replacement).
    "x15_text_clean" -> entry(
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(col("doc_id"), TextAnalysis.cleaned(col("text")).as("clean"),
            length(TextAnalysis.cleaned(col("text"))).cast("long").as("clean_len"))
          .orderBy(col("doc_id")),
      """SELECT doc_id,
        | trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |   lower(text),
        |   '[a-z0-9._%+-]+@[a-z0-9.-]+', '<email>', 'g'),
        |   '[0-9]{7,}', '<num>', 'g'),
        |   '[^a-z0-9<> ]', ' ', 'g'),
        |   ' +', ' ', 'g')) AS clean,
        | CAST(length(trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |   lower(text),
        |   '[a-z0-9._%+-]+@[a-z0-9.-]+', '<email>', 'g'),
        |   '[0-9]{7,}', '<num>', 'g'),
        |   '[^a-z0-9<> ]', ' ', 'g'),
        |   ' +', ' ', 'g'))) AS BIGINT) AS clean_len
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Near-dup cluster resolution: Jaccard pairs → connected components →
    // one representative per cluster. The oracle rebuilds the same pair
    // list from raw token sets (x04's oracle shape) and resolves
    // components as min-reachable-id via a recursive CTE.
    "x16_dedup_clusters" -> entry(
      (s, dir) => {
        val pairs = TextDedup.ngramJaccardPairs(tbl(s, dir, "documents"),
          "doc_id", "text", blockCol = "source", n = 1, threshold = 0.9)
        TextDedup.connectedComponents(pairs)
          .groupBy(col("component"))
          .agg(count(lit(1)).as("cluster_size"))
          .orderBy(col("component"))
      },
      """WITH RECURSIVE
        |t AS (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks
        |      FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |    / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node),
        |labels AS (SELECT node AS id, min(r) AS component FROM reach GROUP BY node)
        |SELECT component, count(*) AS cluster_size FROM labels
        |GROUP BY component ORDER BY component""".stripMargin),

    // Dedup-cluster size histogram: x16's components banded into
    // power-of-2 size bins (integer CASE ladder — a float log2 would
    // reintroduce ulp-dependent binning) with cluster count, doc mass,
    // and removable dup mass (size − 1 per cluster) per bin — the
    // "how concentrated is my duplication" report that decides whether
    // dedup even pays at this corpus. Bins are a constant-size frame at
    // any scale.
    "x71_cluster_histogram" -> entry(
      (s, dir) => {
        val pairs = TextDedup.ngramJaccardPairs(tbl(s, dir, "documents"),
          "doc_id", "text", blockCol = "source", n = 1, threshold = 0.9)
        TextDedup.connectedComponents(pairs)
          .groupBy(col("component")).agg(count(lit(1)).as("sz"))
          .select(
            when(col("sz") <= 2, lit(1)).when(col("sz") <= 4, lit(2))
              .when(col("sz") <= 8, lit(3)).when(col("sz") <= 16, lit(4))
              .when(col("sz") <= 64, lit(5)).otherwise(lit(6))
              .cast("long").as("size_band"),
            col("sz"))
          .groupBy(col("size_band"))
          .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"),
            sum(col("sz") - 1).as("dup_mass"))
          .orderBy(col("size_band"))
      },
      """WITH RECURSIVE
        |t AS (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks
        |      FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |    / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node),
        |labels AS (SELECT node AS id, min(r) AS component FROM reach GROUP BY node),
        |sizes AS (SELECT component, count(*) AS sz FROM labels GROUP BY component)
        |SELECT CASE WHEN sz <= 2 THEN 1 WHEN sz <= 4 THEN 2
        |    WHEN sz <= 8 THEN 3 WHEN sz <= 16 THEN 4
        |    WHEN sz <= 64 THEN 5 ELSE 6 END AS size_band,
        |  count(*) AS n_clusters, CAST(sum(sz) AS BIGINT) AS n_docs,
        |  CAST(sum(sz - 1) AS BIGINT) AS dup_mass
        |FROM sizes GROUP BY 1 ORDER BY size_band""".stripMargin),

    // Character-level Shannon entropy (compressibility proxy, a standard
    // pre-training quality signal): pure column expressions, scan-speed.
    // Float parity is ORDER-pinned: both engines fold p·log2(p) over the
    // SORTED distinct characters, so the sum sequence is identical;
    // round(6) adds cushion.
    "x28_char_entropy" -> entry(
      (s, dir) => {
        val chars = split(col("text"), "")
        val n = size(chars).cast("double")
        // probability bound ONCE per distinct char (the O(len) occurrence
        // scan is the dominant cost), then folded — oracle mirrors the
        // same two-step shape so the float op sequence stays identical
        val probs = transform(sort_array(array_distinct(chars)),
          ch => size(filter(chars, (x: Column) => x === ch)).cast("double") / n)
        val entropy = aggregate(probs, lit(0.0),
          (acc: Column, p: Column) => acc + p * log2(p))
        tbl(s, dir, "documents")
          .select(col("doc_id"), round(-entropy, 6).as("char_entropy"))
          .orderBy(col("doc_id"))
      },
      """WITH c AS (SELECT doc_id, string_split(text, '') AS chars FROM documents),
        |u AS (SELECT doc_id, chars, len(chars)::DOUBLE AS n,
        |             list_sort(list_distinct(chars)) AS uniq FROM c)
        |SELECT doc_id,
        | round(-list_reduce(list_transform(
        |     list_transform(uniq, ch -> len(list_filter(chars, x -> x = ch)) / n),
        |     p -> p * log2(p)),
        |   (a, b) -> a + b), 6) AS char_entropy
        |FROM u ORDER BY doc_id""".stripMargin),

    // Cross-corpus dedup (decontaminate a training corpus against a held
    // reference set): canonical bag-of-words fingerprint — sha256 of the
    // sorted distinct token set — so permuted near-copies match; the join
    // carries 32-byte hashes, never documents, and the distinct reference
    // side broadcasts when small / shuffle-joins at scale.
    "x29_crosscorpus_dedup" -> entry(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val fp = sha2(
          array_join(sort_array(array_distinct(split(col("text"), " "))), " "),
          256)
        // both the reference set and the scored corpus derive from the
        // fingerprint frame — materialize it once (tokenize+hash is the
        // per-row cost here)
        val h = docs.select(col("doc_id"), col("source"), fp.as("ch"))
          .localCheckpoint(eager = false)
        val ref = h.filter(col("doc_id") % 7 === 0)
          .select(col("ch")).distinct().withColumn("__hit", lit(1))
        h.filter(col("doc_id") % 7 =!= 0)
          .join(ref, Seq("ch"), "left")
          .select(col("doc_id"), col("source"),
            coalesce(col("__hit"), lit(0)).cast("long").as("in_reference"))
          .orderBy(col("doc_id"))
      },
      """WITH h AS (SELECT doc_id, source,
        |  sha256(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS ch
        |  FROM documents),
        |ref AS (SELECT DISTINCT ch FROM h WHERE doc_id % 7 = 0)
        |SELECT h.doc_id, h.source,
        |  CAST(ref.ch IS NOT NULL AS BIGINT) AS in_reference
        |FROM h LEFT JOIN ref ON h.ch = ref.ch
        |WHERE h.doc_id % 7 <> 0 ORDER BY h.doc_id""".stripMargin),

    // Per-source token-length outlier band (trim the pathological tails
    // before training): exact percentile bounds per stratum (tiny frame,
    // broadcast back), keep flag per doc. At 100 TB swap `percentile`
    // for `percentile_approx` — same plan shape, fixed memory.
    "x30_length_band" -> entry(
      (s, dir) => {
        // the length frame feeds the bounds aggregation AND the join
        // back — materialize it once
        val t = tbl(s, dir, "documents").select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("double").as("n"))
          .localCheckpoint(eager = false)
        val b = t.groupBy(col("source")).agg(
          percentile(col("n"), lit(0.05)).as("lo"),
          percentile(col("n"), lit(0.95)).as("hi"))
        t.join(b, Seq("source"))
          .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
            col("lo"), col("hi"),
            (col("n") >= col("lo") && col("n") <= col("hi")).cast("long").as("keep"))
          .orderBy(col("doc_id"))
      },
      """WITH t AS (SELECT doc_id, source,
        |  len(string_split(text, ' '))::DOUBLE AS n FROM documents),
        |b AS (SELECT source, quantile_cont(n, 0.05) AS lo,
        |             quantile_cont(n, 0.95) AS hi FROM t GROUP BY source)
        |SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_tokens, b.lo, b.hi,
        |  CAST(t.n >= b.lo AND t.n <= b.hi AS BIGINT) AS keep
        |FROM t JOIN b USING (source) ORDER BY t.doc_id""".stripMargin),

    // Corpus-LM document scoring (the CCNet/Gopher perplexity-bucket
    // shape): a bigram model with add-k smoothing trained on the TRAIN
    // partition (doc_id % 5 != 0) scores the held-out docs by average
    // cross-entropy — held-out so the unseen-bigram smoothing branch is
    // actually live. Count tables partial-aggregate into one shuffle
    // each; scored bigrams reach them through shuffle equi-joins (the
    // bigram table is vocabulary-sized — never broadcast); only the
    // scalar vocab size (= ugc row count, no second token scan)
    // broadcasts. The per-doc fold runs over the (w1, w2)-SORTED log
    // list in both engines, so the float sum order — and therefore the
    // hash — is pinned, not merely round-cushioned.
    "x31_lm_score" -> entry(
      (s, dir) => {
        val t = tbl(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
        // bg feeds both training counts and scoring, ugc feeds both the
        // probability join and the vocab-size scalar — materialize each
        // once so neither branch re-tokenizes the corpus
        val bg = t.filter(size(col("tk")) >= 2)
          .select(col("doc_id"), explode(transform(
            slice(col("tk"), lit(1), size(col("tk")) - 1),
            (x: Column, i: Column) => struct(x.as("w1"),
              element_at(col("tk"), i + 2).as("w2")))).as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
          .localCheckpoint(eager = false)
        val bgc = bg.filter(col("doc_id") % 5 =!= 0)
          .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
        val ugc = t.filter(col("doc_id") % 5 =!= 0)
          .select(explode(col("tk")).as("w1"))
          .groupBy(col("w1")).agg(count(lit(1)).as("cu"))
          .localCheckpoint(eager = false)
        val vs = ugc.agg(count(lit(1)).cast("double").as("vs"))
        val logp = log2(
          (coalesce(col("cb"), lit(0L)) + lit(0.5)) /
            (coalesce(col("cu"), lit(0L)) + lit(0.5) * col("vs")))
        bg.filter(col("doc_id") % 5 === 0)
          .join(bgc, Seq("w1", "w2"), "left")
          .join(ugc, Seq("w1"), "left")
          .crossJoin(broadcast(vs))
          .select(col("doc_id"), col("w1"), col("w2"), logp.as("logp"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            sort_array(collect_list(
              struct(col("w1"), col("w2"), col("logp")))).as("lps"))
          .select(col("doc_id"), col("n_bigrams"),
            round(-aggregate(
                transform(col("lps"), s => s.getField("logp")),
                lit(0.0), (a: Column, p: Column) => a + p) /
              col("n_bigrams"), 4).as("cross_entropy"))
          .orderBy(col("doc_id"))
      },
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2
        |       FROM (SELECT doc_id, unnest(list_transform(range(1, len(tk)), i ->
        |               {'w1': tk[i], 'w2': tk[i+1]})) AS b
        |             FROM t WHERE len(tk) >= 2)),
        |bgc AS (SELECT w1, w2, count(*) AS cb FROM bg
        |        WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
        |ugc AS (SELECT tok AS w1, count(*) AS cu
        |        FROM (SELECT unnest(tk) AS tok FROM t WHERE doc_id % 5 <> 0)
        |        GROUP BY 1),
        |v AS (SELECT count(*)::DOUBLE AS vs FROM ugc),
        |scored AS (
        |  SELECT bg.doc_id, bg.w1, bg.w2,
        |    log2((coalesce(bgc.cb, 0) + 0.5)
        |      / (coalesce(ugc.cu, 0) + 0.5 * (SELECT vs FROM v))) AS logp
        |  FROM bg LEFT JOIN bgc USING (w1, w2) LEFT JOIN ugc USING (w1)
        |  WHERE bg.doc_id % 5 = 0)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(-list_reduce(list(logp ORDER BY w1, w2, logp), (a, b) -> a + b)
        |    / count(*), 4) AS cross_entropy
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Exact corpus-wide top-K frequent tokens (vocabulary discovery):
    // explode → partial-aggregated count → ordered limit. The sketch form
    // (FreqSketch SpaceSaving aggregate) covers the case where the
    // distinct-token shuffle itself is the bottleneck (see ExtOpsSpec).
    "x14_token_topk" -> entry(
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok"))
          .limit(20),
      """SELECT tok, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin),

    // Multimodal plumbing: opaque binary column + typed metadata; the
    // byte-length metadata is oracle-checkable, the decode stub is
    // exercised in ScalaTest.
    "x11_multimodal_meta" -> entry(
      (s, dir) => {
        val media = Multimodal.asMediaTable(tbl(s, dir, "documents"), "doc_id", "text")
        media.select(col("id"), col("format"),
            length(col("media")).cast("long").as("n_bytes"))
          .orderBy(col("id"))
      },
      """SELECT doc_id AS id,
        | ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS format,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY id""".stripMargin),

    // Span-level decontamination (x21's quarantine list upgraded to
    // occurrence granularity): WHICH token spans of each training doc
    // overlap a benchmark 5-gram, merged into maximal spans — the
    // operator that feeds contaminated-window CUTTING, not just doc
    // quarantine. Grams join as native xxhash64 longs with exact
    // positions (posexplode of hashed_ngrams_all); the oracle joins the
    // raw gram strings and must agree (the x21 argument). One gram join
    // + one per-doc window.
    "x65_contamination_spans" -> entry(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        Curation.contaminationSpans(
            docs.filter(col("doc_id") % 19 =!= 0), "doc_id", "text",
            docs.filter(col("doc_id") % 19 === 0), "text", n = 5)
          .orderBy(col("doc_id"), col("start_tok"))
      },
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(CASE WHEN len(t) >= 5 THEN range(0, len(t) - 4)
        |      ELSE [CAST(0 AS BIGINT)] END) AS pos,
        |    unnest(CASE WHEN len(t) >= 5
        |      THEN list_transform(range(1, len(t) - 3),
        |             i -> array_to_string(t[i:i+4], ' '))
        |      ELSE [array_to_string(t, ' ')] END) AS ng
        |  FROM toks),
        |bench AS (SELECT DISTINCT ng FROM g WHERE doc_id % 19 = 0),
        |hits AS (SELECT doc_id, pos FROM g
        |         WHERE doc_id % 19 <> 0 AND ng IN (SELECT ng FROM bench)),
        |isl AS (SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 5
        |      THEN 1 ELSE 0 END AS ns
        |  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |sp AS (SELECT doc_id, pos,
        |    sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS span_idx
        |  FROM isl)
        |SELECT doc_id, CAST(span_idx AS BIGINT) AS span_idx,
        |  CAST(min(pos) AS BIGINT) AS start_tok,
        |  CAST(max(pos) + 5 - min(pos) AS BIGINT) AS len_toks
        |FROM sp GROUP BY doc_id, span_idx
        |ORDER BY doc_id, start_tok""".stripMargin),

    // Distribution-drift monitor (binned two-sample KS): per source, the
    // max CDF gap between the even-id and odd-id snapshots' quality
    // (distinct-token-ratio) distributions. Binning and the gap maximand
    // are exact integers; only the final normalization divides (raw —
    // never round()-on-double). ≤ sources × 2 × 20 aggregate rows at any
    // corpus size.
    "x70_distribution_drift" -> entry(
      (s, dir) =>
        Curation.distributionDrift(tbl(s, dir, "documents"),
            "doc_id", "text", "source",
            isSnapshotA = col("doc_id") % 2 === 0, bins = 20)
          .orderBy(col("stratum")),
      """WITH b AS (SELECT source AS stratum,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS a,
        |    least((20 * len(list_distinct(string_split(text, ' '))))
        |      // len(string_split(text, ' ')), 19) AS bin
        |  FROM documents),
        |c AS (SELECT stratum, bin,
        |    CAST(sum(a) AS BIGINT) AS ca,
        |    CAST(sum(1 - a) AS BIGINT) AS cb
        |  FROM b GROUP BY 1, 2),
        |cum AS (SELECT stratum, bin, ca, cb,
        |    sum(ca) OVER (PARTITION BY stratum ORDER BY bin) AS cuma,
        |    sum(cb) OVER (PARTITION BY stratum ORDER BY bin) AS cumb,
        |    sum(ca) OVER (PARTITION BY stratum) AS tota,
        |    sum(cb) OVER (PARTITION BY stratum) AS totb
        |  FROM c)
        |SELECT stratum, CAST(tota AS BIGINT) AS n_a,
        |  CAST(totb AS BIGINT) AS n_b,
        |  CASE WHEN tota > 0 AND totb > 0 THEN
        |    CAST(max(abs(cuma * totb - cumb * tota)) AS DOUBLE)
        |      / (tota * totb) END AS ks
        |FROM cum GROUP BY stratum, tota, totb
        |ORDER BY stratum""".stripMargin),

    // Epoch/repetition planning under a token budget (the Muennighoff
    // et al. 2023 "scaling data-constrained LMs" table): budget 2× the
    // corpus, shares from sqrt-scaled token mass (the x52 α=0.5 form,
    // denominator folded in source order so the float path is pinned),
    // per-source allocation floored, and the implied epoch count capped
    // at 4 epochs (×100 fixed-point, exact integer div) — past which
    // repeated data stops helping. One partial-agg shuffle + a scalar
    // broadcast.
    "x69_epoch_plan" -> entry(
      (s, dir) => {
        val per = tbl(s, dir, "documents")
          .select(col("source"),
            size(split(col("text"), " ")).cast("long").as("n"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens"))
        val scalars = per.agg(
          aggregate(
            transform(
              sort_array(collect_list(struct(col("source"), col("tokens")))),
              x => sqrt(x.getField("tokens").cast("double"))),
            lit(0.0), (a: Column, x: Column) => a + x).as("denom"),
          sum(col("tokens")).as("total"))
        per.crossJoin(broadcast(scalars))
          .withColumn("alloc",
            floor(lit(2.0) * col("total") * sqrt(col("tokens").cast("double"))
              / col("denom")).cast("long"))
          .select(col("source"), col("n_docs"), col("tokens"), col("alloc"),
            least(lit(400L), expr("(100 * alloc) div tokens"))
              .as("epochs_x100"),
            least(col("alloc"), lit(4L) * col("tokens"))
              .as("repeated_tokens"))
          .orderBy(col("source"))
      },
      """WITH per AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1),
        |d AS (SELECT list_reduce(list(sqrt(CAST(tokens AS DOUBLE))
        |        ORDER BY source), (a, b) -> a + b) AS denom,
        |      CAST(sum(tokens) AS BIGINT) AS total FROM per),
        |a AS (SELECT source, n_docs, tokens,
        |    CAST(floor(2.0 * total * sqrt(CAST(tokens AS DOUBLE)) / denom)
        |      AS BIGINT) AS alloc
        |  FROM per, d)
        |SELECT source, n_docs, tokens, alloc,
        |  least(CAST(400 AS BIGINT), (100 * alloc) // tokens) AS epochs_x100,
        |  least(alloc, 4 * tokens) AS repeated_tokens
        |FROM a ORDER BY source""".stripMargin),

    // Retrieval self-recall audit (the "needle" eval run against every
    // standing index): each probe query is the leading 5 tokens of a
    // known document, and the audit reports where BM25 ranks the source
    // doc itself (0 = missed the top-10). The probe set is BOUNDED BY ID
    // RANGE (doc_id ≤ 2500, every 50th) — ≤ 50 queries at ANY corpus
    // scale, so the driver-side collect is constant, never a corpus
    // fraction. The scoring pipeline is x43's (scan-local pruning, exact
    // integer corpus stats).
    //
    // A/B'd against the standing-index form (round 10, sf0.1 warm):
    // one-shot ~3.2-3.8 s vs build-index-then-score ~3.1-3.9 s — a WASH
    // within one batch (the full-postings aggregation the index build
    // pays ≈ the tokenize+prefilter the one-shot pays), so this query
    // keeps the one-shot. Reusing ONE standing index across batches is
    // ~2x per batch (outputs bit-identical) — that winning shape is
    // declared as x145_bm25_index_reuse.
    "x68_retrieval_self_recall" -> entry(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val qs = docs
          .filter(col("doc_id") % 50 === 0 && col("doc_id") <= 2500)
          .select(col("doc_id"),
            concat_ws(" ", slice(split(col("text"), " "), 1, 5)).as("q"))
          .collect().map(r => (r.getLong(0).toInt, r.getString(1)))
          .toSeq.sortBy(_._1)
        // wide(): the corpus tokenize+explode is per-row CPU over a
        // byte-small single-file scan — one task unwidened (round-14)
        graft.ext.TextSearch.bm25TopK(wide(docs), "doc_id", "text", qs, k = 10,
          pinPostings = true)
          .groupBy(col("qid"))
          .agg(coalesce(
              min(when(col("nid") === col("qid").cast("long"), col("rnk"))),
              lit(0)).cast("long").as("self_rank"),
            count(lit(1)).as("n_results"))
          .orderBy(col("qid"))
      },
      """WITH tsrc AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents),
        |q AS (SELECT CAST(doc_id AS INT) AS qid,
        |    array_to_string(t[1:5], ' ') AS qtext
        |  FROM tsrc WHERE doc_id % 50 = 0 AND doc_id <= 2500),
        |qt AS (SELECT qid, unnest(list_distinct(string_split(qtext, ' '))) AS tok
        |       FROM q),
        |tf AS (SELECT doc_id AS nid, tok, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) GROUP BY 1, 2),
        |dl AS (SELECT nid, sum(tf) AS dl FROM tf GROUP BY 1),
        |st AS (SELECT count(*)::DOUBLE AS n,
        |              sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
        |dfq AS (SELECT tok, count(*) AS dfq FROM tf GROUP BY 1),
        |terms AS (SELECT qt.qid, tf.nid, qt.tok,
        |    ln((st.n - dfq.dfq + 0.5) / (dfq.dfq + 0.5) + 1.0)
        |      * tf.tf * (1.2 + 1) / (tf.tf + 1.2 *
        |        ((1 - 0.75) + 0.75 * dl.dl / st.avgdl)) AS s
        |  FROM qt JOIN tf USING (tok) JOIN dfq USING (tok)
        |    JOIN dl ON tf.nid = dl.nid, st),
        |scored AS (SELECT qid, nid,
        |    round(list_reduce(list(s ORDER BY tok), (a, c) -> a + c), 4) AS score
        |  FROM terms GROUP BY 1, 2),
        |cands AS (SELECT qid, nid, rnk FROM (
        |  SELECT qid, nid, score, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, nid) AS rnk FROM scored)
        |  WHERE rnk <= 10)
        |SELECT qid,
        |  CAST(coalesce(min(CASE WHEN nid = qid THEN rnk END), 0) AS BIGINT)
        |    AS self_rank,
        |  count(*) AS n_results
        |FROM cands GROUP BY qid ORDER BY qid""".stripMargin),

    // The decontamination REWRITE: x65's spans applied — contaminated
    // windows cut from the text, cleaned text + removal accounting per
    // affected doc. Spark rewrites SCAN-LOCALLY (positional filter
    // against the per-doc span list — corpus tokens never shuffle); the
    // oracle rebuilds the kept text by anti-joining unnested token
    // positions against span-expanded positions — different plan, must
    // agree byte-for-byte.
    "x67_decontaminated_rewrite" -> entry(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        Curation.decontaminatedRewrite(
            docs.filter(col("doc_id") % 19 =!= 0), "doc_id", "text",
            docs.filter(col("doc_id") % 19 === 0), "text", n = 5)
          .orderBy(col("doc_id"))
      },
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(CASE WHEN len(t) >= 5 THEN range(0, len(t) - 4)
        |      ELSE [CAST(0 AS BIGINT)] END) AS pos,
        |    unnest(CASE WHEN len(t) >= 5
        |      THEN list_transform(range(1, len(t) - 3),
        |             i -> array_to_string(t[i:i+4], ' '))
        |      ELSE [array_to_string(t, ' ')] END) AS ng
        |  FROM toks),
        |bench AS (SELECT DISTINCT ng FROM g WHERE doc_id % 19 = 0),
        |hits AS (SELECT doc_id, pos FROM g
        |         WHERE doc_id % 19 <> 0 AND ng IN (SELECT ng FROM bench)),
        |isl AS (SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 5
        |      THEN 1 ELSE 0 END AS ns
        |  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |sp AS (SELECT doc_id, pos,
        |    sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS si
        |  FROM isl),
        |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
        |          FROM sp GROUP BY doc_id, si),
        |acct AS (SELECT doc_id, count(*) AS n_spans,
        |    CAST(sum(e - s + 1) AS BIGINT) AS n_removed
        |  FROM spans GROUP BY doc_id),
        |bad AS (SELECT spans.doc_id,
        |    unnest(range(spans.s, spans.e + 1)) AS pos FROM spans),
        |tp AS (SELECT doc_id, unnest(range(0, len(t))) AS pos, unnest(t) AS tok
        |       FROM toks WHERE doc_id % 19 <> 0),
        |kept AS (SELECT tp.doc_id,
        |    coalesce(string_agg(CASE WHEN bad.pos IS NULL THEN tok END,
        |      ' ' ORDER BY tp.pos), '') AS kept_text
        |  FROM tp LEFT JOIN bad
        |    ON tp.doc_id = bad.doc_id AND tp.pos = bad.pos
        |  GROUP BY tp.doc_id)
        |SELECT a.doc_id,
        |  CAST(len(t.t) AS BIGINT) AS n_tokens, a.n_spans, a.n_removed,
        |  k.kept_text
        |FROM acct a JOIN kept k ON a.doc_id = k.doc_id
        |  JOIN toks t ON a.doc_id = t.doc_id
        |ORDER BY a.doc_id""".stripMargin),

    // REAL image decode audit: each doc_id deterministically synthesizes
    // a 24-bit BMP (pure-JVM encoder), which javax.imageio — an actual
    // codec, stock in the JDK — decodes back; the output is exact
    // integer pixel-channel sums. The ORACLE never decodes: it recomputes
    // the sums straight from the pixel formula, so a bug in either the
    // BMP writer or the decode path breaks the hash. Decode is map-only
    // inside mapPartitions (codec amortized per partition, no shuffle
    // until the output sort) — the 100 TB shape for media feature
    // extraction.
    "x66_image_decode_audit" -> entry(
      (s, dir) => {
        import s.implicits._
        val mkBmp = udf((id: Long) => Multimodal.syntheticBmp(id))
        // wide(): per-row BMP encode+decode CPU over a byte-small
        // single-file scan — same fix as x112 (round-14 optimization)
        val media = wide(tbl(s, dir, "documents"))
          .select(col("doc_id").cast("long").as("id"),
            lit("image").as("format"), mkBmp(col("doc_id")).as("media"))
          .as[Multimodal.MediaRecord]
        Multimodal.imageStats(media)
          .select(col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("n_px"), col("sum_r"), col("sum_g"), col("sum_b"))
          .orderBy(col("doc_id"))
      },
      """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |           FROM documents),
        |xs AS (SELECT unnest(range(0, 16)) AS x),
        |ys AS (SELECT unnest(range(0, 14)) AS y),
        |px AS (SELECT d.doc_id, d.w, d.h, xs.x, ys.y
        |       FROM d JOIN xs ON xs.x < d.w JOIN ys ON ys.y < d.h)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  CAST(sum((doc_id + 7 * x + 13 * y) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum((3 * doc_id + 11 * x + y) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((x * y + doc_id) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin),

    // REAL audio decode audit (the x66 argument applied to PCM): each
    // doc_id deterministically synthesizes a PCM16 WAV (pure-JVM RIFF
    // encoder), which the chunk-walking decoder parses back; output is
    // exact integer amplitude stats. The ORACLE never decodes — it
    // recomputes peak/sum straight from the sample formula, so a bug in
    // either the RIFF writer or the chunk walker breaks the hash.
    // Decode is map-only inside mapPartitions (codec amortized per
    // partition) — the 100 TB shape for audio feature extraction.
    "x72_audio_decode_audit" -> entry(
      (s, dir) => {
        import s.implicits._
        val mkWav = udf((id: Long) => Multimodal.syntheticWav(id))
        val media = tbl(s, dir, "documents")
          .select(col("doc_id").cast("long").as("id"),
            lit("audio").as("format"), mkWav(col("doc_id")).as("media"))
          .as[Multimodal.MediaRecord]
        Multimodal.audioStats(media)
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id"))
      },
      """WITH d AS (SELECT doc_id, 1 + doc_id % 2 AS c, 64 + doc_id % 33 AS nf
        |           FROM documents),
        |i AS (SELECT unnest(range(0, 194)) AS i),
        |s AS (SELECT d.doc_id, d.c, d.nf,
        |        (d.doc_id * 31 + 17 * i.i) % 4096 - 2048 AS v
        |      FROM d JOIN i ON i.i < d.nf * d.c)
        |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(c AS BIGINT) AS channels, CAST(nf AS BIGINT) AS n_frames,
        |  CAST(nf * 125 AS BIGINT) AS duration_us,
        |  CAST(max(abs(v)) AS BIGINT) AS peak_abs,
        |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs
        |FROM s GROUP BY doc_id, c, nf ORDER BY doc_id""".stripMargin),

    // Bloom-prefiltered exact-text decontamination (docs whose text
    // appears verbatim in the benchmark set — doc_id % 37 == 0 plays the
    // benchmark). The OUTPUT is the plain exact semi-join, so it
    // hash-checks against DuckDB's IN-subquery; the PLAN is the 100 TB
    // shape — benchmark folds to a fixed-size sketch in one bounded
    // action, the corpus scan probes it via the codegen'd native
    // `might_contain` with the sketch as a plan literal, and only
    // survivors (matches + ~1% fp) reach the verify join's exchange.
    // Exact dupes of benchmark docs inside the corpus match too, which is
    // what document-level decontamination wants.
    "x73_bloom_decontaminate" -> entry(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        Curation.bloomExactMatches(docs, "doc_id", "text",
            docs.filter(col("doc_id") % 37 === 0), "text")
          .orderBy(col("doc_id"))
      },
      """SELECT doc_id FROM documents
        |WHERE text IN (SELECT text FROM documents WHERE doc_id % 37 = 0)
        |ORDER BY doc_id""".stripMargin),

    // SpaceSaving heavy-hitter sketch CONTRACT query (the x12 pattern
    // applied to graft.functions.FreqSketch): for each language's exact
    // top-5 tokens, the sketch must contain the token (coverage law:
    // count > N/capacity ⇒ always present), estimate ≥ exact
    // (overestimate-only law), and estimate − exact ≤ N div capacity
    // (bounded-error law). All three laws are ORDER-INDEPENDENT — they
    // hold for any partitioning/merge order — so the pinned 1s are
    // robust to executor count, unlike the raw estimates, which stay out
    // of the hash. At 100 TB the sketch replaces the per-token shuffle
    // this audit's exact side runs; fixed `capacity`-sized buffers move.
    "x74_heavy_hitter_bound" -> entry(
      (s, dir) => {
        val cap = 256
        val toks = tbl(s, dir, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
          .localCheckpoint(eager = false) // feeds sketch AND exact branches
        val sk = toks.groupBy(col("lang"))
          .agg(graft.functions.FreqSketch(col("tok"), cap).as("sk"),
            count(lit(1)).as("n_toks"))
        val top = toks.groupBy(col("lang"), col("tok"))
          .agg(count(lit(1)).as("exact_cnt"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("lang"))
              .orderBy(col("exact_cnt").desc, col("tok"))))
          .filter(col("rk") <= 5)
        val est = col("sk").getItem(col("tok"))
        top.join(broadcast(sk), Seq("lang"))
          .select(col("lang"), col("rk").cast("long").as("rk"), col("tok"),
            col("exact_cnt"),
            est.isNotNull.cast("long").as("in_sketch"),
            (est >= col("exact_cnt")).cast("long").as("overest_ok"),
            (est - col("exact_cnt") <= expr(s"n_toks div $cap"))
              .cast("long").as("bound_ok"))
          .orderBy(col("lang"), col("rk"))
      },
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        |e AS (SELECT lang, tok, count(*) AS c FROM t GROUP BY lang, tok),
        |r AS (SELECT lang, tok, c,
        |        row_number() OVER (PARTITION BY lang
        |                           ORDER BY c DESC, tok) AS rk FROM e)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, tok,
        |  CAST(c AS BIGINT) AS exact_cnt,
        |  CAST(1 AS BIGINT) AS in_sketch,
        |  CAST(1 AS BIGINT) AS overest_ok,
        |  CAST(1 AS BIGINT) AS bound_ok
        |FROM r WHERE rk <= 5 ORDER BY lang, rk""".stripMargin),

    // Corpus snapshot diff between two ingestion runs: v_old drops
    // doc_id % 11 == 3, v_new drops doc_id % 17 == 5 and rewrites
    // doc_id % 13 == 0. Per id: added / removed / changed / unchanged.
    // Each side reduces scan-local to (id, xxhash64) before ONE
    // co-partitioned full outer join — text never shuffles.
    "x75_snapshot_diff" -> entry(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val vOld = docs.filter(col("doc_id") % 11 =!= 3)
          .select(col("doc_id"), col("text"))
        val vNew = docs.filter(col("doc_id") % 17 =!= 5)
          .select(col("doc_id"),
            when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
        Curation.snapshotDiff(vOld, vNew, "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 != 3),
        |n AS (SELECT doc_id,
        |        CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END
        |          AS text
        |      FROM documents WHERE doc_id % 17 != 5)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.text = n.text THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin),

    // Quantile-sketch CONTRACT query (x12/x74 pattern for
    // approx_percentile): the GK summary's returned value must have RANK
    // within ε·N of the target rank, ε = 1/accuracy — a DETERMINISTIC
    // guarantee that holds for any insertion/merge order, so the pinned
    // 1s are partitioning-robust while the raw approximate values (which
    // ARE order-sensitive) stay out of the hash. Completes the sketch
    // contract family: HLL (x12), SpaceSaving (x74), Bloom (x73 — exact
    // by construction), GK quantiles (here). At 100 TB this replaces
    // x19's exact per-group percentile sort with fixed-memory summaries.
    "x76_quantile_sketch_bound" -> entry(
      (s, dir) => {
        val acc = 1000
        val base = tbl(s, dir, "documents")
          .select(col("source"), size(split(col("text"), " ")).as("n"))
          .localCheckpoint(eager = false) // feeds sketch AND rank check
        val ap = base.groupBy(col("source"))
          .agg(percentile_approx(col("n"),
              array(lit(0.5), lit(0.9), lit(0.99)), lit(acc)).as("qs"),
            count(lit(1)).as("cnt"))
        def ok(p: Double, q: Column): Column = {
          // ε-rank law with ±1 integer slack: values strictly below q
          // stay under target+εN, values ≤ q reach target−εN
          val target = lit(p) * col("cnt")
          val slack = col("cnt") / lit(acc.toDouble) + lit(1.0)
          val lt = sum(when(col("n") < q, 1L).otherwise(0L))
          val le = sum(when(col("n") <= q, 1L).otherwise(0L))
          ((lt <= target + slack) && (le >= target - slack)).cast("long")
        }
        base.join(broadcast(ap), Seq("source"))
          .groupBy(col("source"), col("cnt"))
          .agg(ok(0.5, col("qs").getItem(0)).as("within_p50"),
            ok(0.9, col("qs").getItem(1)).as("within_p90"),
            ok(0.99, col("qs").getItem(2)).as("within_p99"))
          .select(col("source"), col("cnt"), col("within_p50"),
            col("within_p90"), col("within_p99"))
          .orderBy(col("source"))
      },
      """SELECT source, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(1 AS BIGINT) AS within_p50,
        |  CAST(1 AS BIGINT) AS within_p90,
        |  CAST(1 AS BIGINT) AS within_p99
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // Domain-blocklist filter with subdomain-suffix semantics (the crawl
    // rule set: 'd5.com' blocks every subdomain of d5.com, never
    // 'notd5.com'). Synthetic hosts from doc_id exercise all three rule
    // shapes: bare domain, ads. subdomain, exact multi-label host.
    // ZERO shuffle, zero join: the label-suffix chain (bounded by label
    // count) is built scan-local and probed against the rule set as a
    // plan literal — vs the rules×corpus LIKE cross-join a naive port
    // writes. Rule sets beyond literal size swap in the x73 bloom probe.
    "x77_host_blocklist" -> entry(
      (s, dir) => {
        val host = concat(lit("cdn"), (col("doc_id") % 3).cast("string"),
          lit("."),
          when(col("doc_id") % 4 === 0, lit("ads.")).otherwise(lit("")),
          lit("d"), (col("doc_id") % 17).cast("string"), lit(".com"))
        tbl(s, dir, "documents")
          .select(col("doc_id"), host.as("host"))
          .withColumn("rule", TextAnalysis.hostBlockRule(col("host"),
            Seq("ads.d8.com", "d5.com", "cdn1.ads.d11.com")))
          .filter(col("rule").isNotNull)
          .orderBy(col("doc_id"))
      },
      """WITH h AS (SELECT doc_id,
        |    'cdn' || (doc_id % 3) || '.' ||
        |    (CASE WHEN doc_id % 4 = 0 THEN 'ads.' ELSE '' END) ||
        |    'd' || (doc_id % 17) || '.com' AS host FROM documents),
        |m AS (SELECT doc_id, host,
        |    list_min(list_filter(
        |      list_transform(range(1, len(string_split(host, '.')) + 1),
        |        i -> array_to_string(string_split(host, '.')[i:], '.')),
        |      s -> s IN ('ads.d8.com', 'd5.com', 'cdn1.ads.d11.com')))
        |      AS rule
        |  FROM h)
        |SELECT doc_id, host, rule FROM m WHERE rule IS NOT NULL
        |ORDER BY doc_id""".stripMargin),

    // Leakage-safe train/val/test split: every member of a near-dup
    // cluster (8-word-prefix block) lands in the SAME split, decided by
    // a portable residue of the cluster representative — the assignment
    // hygiene that keeps templated twins out of held-out sets. One hash
    // shuffle (window min over the cluster key), no join, no RNG.
    "x78_leakage_safe_split" -> entry(
      (s, dir) =>
        Curation.leakageSafeSplit(tbl(s, dir, "documents"), "doc_id", "text")
          .orderBy(col("doc_id")),
      """WITH c AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY
        |      array_to_string(string_split(text, ' ')[1:8], ' ')) AS rep
        |    FROM documents)
        |SELECT doc_id, rep,
        |  CASE WHEN r < 90 THEN 'train' WHEN r < 95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, rep,
        |        ((rep % 1000000007) * 2654435761) % 1000000007 % 100 AS r
        |      FROM c)
        |ORDER BY doc_id""".stripMargin),

    // Deterministic weighted priority sample (A-ES integer form): top-k
    // by residue(id)/weight — heavier docs win proportionally more
    // races; integer-exact so every engine orders identically. Plans as
    // one TakeOrdered: per-partition top-k, k-row driver merge, no
    // corpus shuffle.
    "x79_weighted_sample" -> entry(
      (s, dir) =>
        Curation.weightedPrioritySample(tbl(s, dir, "documents"),
          "doc_id", "n_chars", k = 125),
      """SELECT doc_id, n_chars, pri FROM (
        |  SELECT doc_id, n_chars,
        |    ((((doc_id % 1000000007) * 2654435761) % 1000000007)
        |      * 1000000) // greatest(n_chars, 1) AS pri
        |  FROM documents)
        |ORDER BY pri, doc_id LIMIT 125""".stripMargin),

    // One distributed BPE merge iteration: corpus → word-frequency
    // table (map-side combine collapses heavy hitters), then adjacent
    // char-pair counts over DISTINCT words weighted by frequency — the
    // top pair is the tokenizer's next merge.
    "x80_bpe_pair_counts" -> entry(
      (s, dir) =>
        Curation.bpePairCounts(tbl(s, dir, "documents"), "text", top = 20),
      """WITH words AS (
        |  SELECT w, count(*) AS wf FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) >= 2 GROUP BY 1),
        |idx AS (SELECT w, wf, unnest(range(1, length(w))) AS i FROM words),
        |pairs AS (SELECT substr(w, CAST(i AS INT), 2) AS pair,
        |            sum(wf) AS cnt FROM idx GROUP BY 1)
        |SELECT pair, CAST(cnt AS BIGINT) AS cnt FROM pairs
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin),

    // Pairwise source-overlap matrix: exact shared-cluster counts and
    // integer basis-point Jaccard per source pair. The per-key source
    // set is bounded by |sources|, so the pair explosion never scales
    // with the corpus; the sizes join is sources² rows (AQE broadcast).
    "x81_source_overlap" -> entry(
      (s, dir) =>
        Curation.sourceOverlap(tbl(s, dir, "documents"), "text", "source")
          .orderBy(col("src_a"), col("src_b")),
      """WITH d AS (SELECT DISTINCT
        |    array_to_string(string_split(text, ' ')[1:8], ' ') AS k,
        |    source FROM documents),
        |s AS (SELECT source, count(*) AS n FROM d GROUP BY 1),
        |i AS (SELECT a.source AS src_a, b.source AS src_b,
        |        count(*) AS inter
        |      FROM d a JOIN d b ON a.k = b.k AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT src_a, src_b, inter, sa.n AS n_a, sb.n AS n_b,
        |  sa.n + sb.n - inter AS un,
        |  (10000 * inter) // (sa.n + sb.n - inter) AS jaccard_bp
        |FROM i JOIN s sa ON sa.source = src_a
        |       JOIN s sb ON sb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin),

    // Snake-balanced export shards over a distributed global rank
    // (range-partition + per-partition offsets — NOT the single-task
    // `row_number() OVER (ORDER BY …)` window): docs dealt by
    // descending token count boustrophedon-style into 8 shards of
    // near-equal token totals.
    "x82_shard_plan" -> entry(
      (s, dir) =>
        Sharding.shardPlan(tbl(s, dir, "documents"), "doc_id",
          size(split(col("text"), " ")).cast("long"), shards = 8),
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |r AS (SELECT doc_id, n_tok,
        |    row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1 AS r0
        |  FROM t)
        |SELECT CASE WHEN (r0 // 8) % 2 = 0 THEN r0 % 8
        |            ELSE 7 - (r0 % 8) END AS shard,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tokens
        |FROM r GROUP BY 1 ORDER BY shard""".stripMargin),

    // Canonical-document selection: per multi-member near-dup cluster,
    // keep the highest-quality member (tiebreak lowest id) and report
    // the reclaimed characters — the decision step after x01/x16's
    // dedup analysis. Rank and cluster totals ride one window shuffle.
    "x83_canonical_selection" -> entry(
      (s, dir) =>
        Curation.canonicalPerCluster(tbl(s, dir, "documents"),
            "doc_id", "text", "n_chars")
          .orderBy(col("keeper_id")),
      """WITH c AS (SELECT doc_id, n_chars,
        |    array_to_string(string_split(text, ' ')[1:8], ' ') AS k
        |  FROM documents),
        |r AS (SELECT doc_id, n_chars,
        |    row_number() OVER (PARTITION BY k
        |      ORDER BY n_chars DESC, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY k) AS n_members,
        |    sum(n_chars) OVER (PARTITION BY k) AS qt
        |  FROM c)
        |SELECT doc_id AS keeper_id, n_members,
        |  CAST(qt AS BIGINT) AS chars_total,
        |  CAST(qt - n_chars AS BIGINT) AS chars_saved
        |FROM r WHERE rk = 1 AND n_members > 1
        |ORDER BY keeper_id""".stripMargin),

    // Content-defined chunking dedup: boundaries where a word's
    // portable polynomial hash residue hits zero, so insertions SHIFT
    // later chunks without changing their content — they still dedup,
    // which fixed tiling (x32) structurally cannot do. Chunking is
    // scan-local array algebra (linear, no explode before chunking);
    // the only exchange is the groupBy on the 8-byte chunk hash.
    "x84_cdc_chunk_dedup" -> entry(
      (s, dir) =>
        Curation.cdcChunkDedup(tbl(s, dir, "documents"), "doc_id", "text")
          .orderBy(col("rep_doc"), col("chunk_hash")),
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |h AS (SELECT doc_id, w, list_transform(w, x -> list_reduce(
        |        list_transform(string_split(x, ''),
        |          c -> CAST(ascii(c) AS BIGINT)),
        |        (a, y) -> (a * 31 + y) % 1000000007)) AS wh FROM d),
        |b AS (SELECT doc_id, w, list_filter(range(1, len(w) + 1),
        |        i -> wh[CAST(i AS INT)] % 16 = 0) AS bp FROM h),
        |sp AS (SELECT doc_id, w,
        |        list_prepend(1, list_transform(bp, x -> x + 1)) AS ss,
        |        list_append(bp, len(w)) AS ee FROM b),
        |cl AS (SELECT doc_id, list_filter(
        |        list_transform(range(1, len(ss) + 1),
        |          i -> array_to_string(
        |            w[ss[CAST(i AS INT)]:ee[CAST(i AS INT)]], ' ')),
        |        c -> c != '') AS cs FROM sp),
        |ch AS (SELECT doc_id, unnest(cs) AS chunk FROM cl),
        |hh AS (SELECT doc_id, list_reduce(
        |        list_transform(string_split(chunk, ''),
        |          c -> CAST(ascii(c) AS BIGINT)),
        |        (a, y) -> (a * 31 + y) % 1000000007) AS chunk_hash,
        |        chunk FROM ch)
        |SELECT chunk_hash, count(*) AS n_copies,
        |  count(DISTINCT doc_id) AS n_docs, min(doc_id) AS rep_doc,
        |  CAST(min(len(string_split(chunk, ' '))) AS BIGINT) AS n_words
        |FROM hh GROUP BY 1 HAVING count(*) > 1
        |ORDER BY rep_doc, chunk_hash""".stripMargin),

    // Exact ED-1 similarity self-join via deletion neighborhoods
    // (FastSS): each name emits length+1 fixed keys; bucket sizes are
    // bounded by alphabet×positions, never the corpus — while the
    // oracle runs the NAIVE length-banded all-pairs join and the
    // outputs hash-match (same semantics, scale-appropriate plan).
    "x85_fuzzy_ed1_join" -> entry(
      (s, dir) =>
        graft.ext.Fuzzy
          .editDistanceOnePairs(tbl(s, dir, "customer"), "c_name")
          .orderBy(col("name_a"), col("name_b")),
      """WITH n AS (SELECT DISTINCT c_name FROM customer)
        |SELECT a.c_name AS name_a, b.c_name AS name_b
        |FROM n a JOIN n b ON a.c_name < b.c_name
        |  AND abs(length(a.c_name) - length(b.c_name)) <= 1
        |  AND levenshtein(a.c_name, b.c_name) = 1
        |ORDER BY name_a, name_b""".stripMargin),

    // Behavior-sequence example construction: one training example per
    // (user, session) — ordered event-type trajectory, duration,
    // outcome. ONE exchange: the session window partitions on user_id
    // and the (user, sess) aggregation reuses that partitioning.
    "x86_session_trajectories" -> entry(
      (s, dir) =>
        Curation.sessionTrajectories(tbl(s, dir, "events"))
          .orderBy(col("user_id"), col("sess")),
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS us FROM events),
        |sfl AS (SELECT *, CASE WHEN prev_us IS NULL
        |      OR us - prev_us > 1800 * 1000000 THEN 1 ELSE 0 END AS nw
        |  FROM (SELECT *, lag(us) OVER (PARTITION BY user_id
        |          ORDER BY us, event_id) AS prev_us FROM e)),
        |sess AS (SELECT user_id, event_id, event_type, us,
        |    sum(nw) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sess FROM sfl)
        |SELECT user_id, sess, n_events, duration_s, traj,
        |  string_split(traj, '>')[-1] AS outcome
        |FROM (SELECT user_id, CAST(sess AS BIGINT) AS sess,
        |    count(*) AS n_events,
        |    (max(us) - min(us)) // 1000000 AS duration_s,
        |    string_agg(event_type, '>' ORDER BY us, event_id) AS traj
        |  FROM sess GROUP BY 1, 2)
        |ORDER BY user_id, sess""".stripMargin),

    // Dense stable id assignment for incremental ingest: new docs get
    // max(existing)+rank ids via the distributed two-pass rank — no
    // single-task window, no auto-increment bottleneck; a replay
    // assigns the same ids.
    "x87_dense_id_assign" -> entry(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        Sharding.assignDenseIds(
            docs.filter(col("doc_id") % 7 =!= 0), "doc_id",
            docs.filter(col("doc_id") % 7 === 0)
              .select(col("doc_id"), col("source")),
            Seq(col("source"), col("doc_id")))
          .orderBy(col("doc_id"))
      },
      """WITH ex AS (SELECT max(doc_id) AS m FROM documents
        |            WHERE doc_id % 7 != 0),
        |inc AS (SELECT doc_id, source FROM documents WHERE doc_id % 7 = 0)
        |SELECT doc_id, source,
        |  m + row_number() OVER (ORDER BY source, doc_id) AS new_id
        |FROM inc, ex ORDER BY doc_id""".stripMargin),

    // Multi-iteration BPE learner: the merge table after 8 rounds over
    // the distributed word-frequency table. Hash-checked against an
    // INDEPENDENT local classic-BPE re-derivation (NaiveOracles) —
    // iterative training is outside the DuckDB dialect.
    "x88_bpe_learn" -> rowsOnly(
      (s, dir) =>
        Curation.bpeLearn(tbl(s, dir, "documents"), "text", merges = 8)
          .orderBy(col("iter"))),

    // Robust per-source outlier gate: median/MAD on doc length — the
    // heavy-tail-proof version of a mean/stddev cut. Exact interpolated
    // percentiles (same definition both engines); only IEEE arithmetic
    // downstream, so the doubles hash identically.
    "x89_mad_outliers" -> entry(
      (s, dir) =>
        Curation.madOutliers(tbl(s, dir, "documents"),
            "doc_id", "n_chars", "source")
          .orderBy(col("doc_id")),
      """WITH med AS (SELECT source, median(CAST(n_chars AS DOUBLE)) AS med
        |             FROM documents GROUP BY 1),
        |wm AS (SELECT d.doc_id, d.source, d.n_chars, m.med
        |       FROM documents d JOIN med m USING (source)),
        |mad AS (SELECT source,
        |    median(abs(CAST(n_chars AS DOUBLE) - med)) AS mad
        |  FROM wm GROUP BY 1)
        |SELECT wm.doc_id, wm.source, wm.n_chars, wm.med, mad.mad,
        |  abs(CAST(wm.n_chars AS DOUBLE) - wm.med) > 3.0 * mad.mad
        |    AS is_outlier
        |FROM wm JOIN mad USING (source)
        |ORDER BY wm.doc_id""".stripMargin),

    // Join-key skew audit over the hottest keys: share of table and
    // skew factor over the mean key as integer fixed-point — the
    // measurement that sizes ext.Skew.saltedJoin's salt count (or says
    // a plain join is fine) BEFORE the shuffle spills.
    "x90_skew_audit" -> entry(
      (s, dir) =>
        graft.ext.Skew.skewAudit(tbl(s, dir, "events"), "user_id", k = 5),
      """WITH c AS (SELECT user_id AS key, count(*) AS n FROM events
        |           GROUP BY 1),
        |s AS (SELECT count(*) AS n_keys, sum(n) AS total FROM c)
        |SELECT key, n, n_keys, CAST(total AS BIGINT) AS total,
        |  CAST((10000 * n) // total AS BIGINT) AS share_bp,
        |  CAST((100 * n * n_keys) // total AS BIGINT) AS skew_x100
        |FROM c, s ORDER BY n DESC, key LIMIT 5""".stripMargin),

    // Hashed linear-model inference (the fastText classifier shape):
    // tokens hash into weight buckets, score = mean bucket weight,
    // label = sign — a pure scan-local codegen'd fold, zero shuffle,
    // zero UDF; trained weights would broadcast into the same fold.
    "x91_hashed_linear_score" -> entry(
      (s, dir) =>
        Curation.hashedLinearScore(tbl(s, dir, "documents"),
            "doc_id", "text")
          .orderBy(col("doc_id")),
      """SELECT doc_id,
        |  list_reduce(list_transform(string_split(text, ' '), w ->
        |    (CAST(((list_reduce(list_transform(string_split(w, ''),
        |        c -> CAST(ascii(c) AS BIGINT)),
        |        (a, y) -> (a * 31 + y) % 1000000007) % 1024)
        |      * 2654435761 + 97) % 1000000007 AS DOUBLE) / 1000000007)
        |      * 2.0 - 1.0),
        |    (acc, x) -> acc + x)
        |    / len(string_split(text, ' ')) AS score,
        |  list_reduce(list_transform(string_split(text, ' '), w ->
        |    (CAST(((list_reduce(list_transform(string_split(w, ''),
        |        c -> CAST(ascii(c) AS BIGINT)),
        |        (a, y) -> (a * 31 + y) % 1000000007) % 1024)
        |      * 2654435761 + 97) % 1000000007 AS DOUBLE) / 1000000007)
        |      * 2.0 - 1.0),
        |    (acc, x) -> acc + x)
        |    / len(string_split(text, ' ')) > 0 AS keep
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Dedup-adjusted corpus sizing: raw vs effective (one copy per
    // near-dup cluster) token counts per source — the honest
    // denominator for token budgets and epoch planning over a
    // duplicated crawl.
    "x92_effective_tokens" -> entry(
      (s, dir) =>
        Curation.effectiveTokens(tbl(s, dir, "documents"),
            "doc_id", "text", "source")
          .orderBy(col("source")),
      """WITH c AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
        |    row_number() OVER (PARTITION BY
        |      array_to_string(string_split(text, ' ')[1:8], ' ')
        |      ORDER BY doc_id) AS rk
        |  FROM documents)
        |SELECT source, CAST(sum(tok) AS BIGINT) AS raw_tokens,
        |  CAST(sum(CASE WHEN rk = 1 THEN tok ELSE 0 END) AS BIGINT)
        |    AS effective_tokens,
        |  CAST((10000 * (sum(tok)
        |      - sum(CASE WHEN rk = 1 THEN tok ELSE 0 END)))
        |    // sum(tok) AS BIGINT) AS dup_overhead_bp
        |FROM c GROUP BY 1 ORDER BY source""".stripMargin),

    // BPE ENCODE: apply the x88-learned merge table to the corpus and
    // report per-doc token counts under the real tokenizer — the
    // sequence-length budgeter. Learn is the bounded x88 loop; encode is
    // ONE scan-local nested fold per word (merge table is a driver-side
    // constant — production vocabs ship broadcast, never a join). Hash-
    // checked against an independent classic-BPE local re-derivation
    // (NaiveOracles x93: its OWN merges from the textbook trainer + a
    // mutable left-to-right encoder) — iterative merge application is
    // outside the DuckDB dialect.
    "x93_bpe_encode" -> rowsOnly(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val merges = Curation.bpeLearn(docs, "text", merges = 8)
          .orderBy(col("iter")).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        // wide(): the 8-deep per-word contraction fold is pure CPU over
        // a byte-small scan — unwidened it runs as ONE task (Q.wide)
        Curation.bpeEncodeCounts(wide(docs), "doc_id", "text", merges)
          .orderBy(col("doc_id"))
      }),

    // Column-encoding advisor: exact distinct ratio / width / run-count
    // profile per column → parquet encoding recommendation. The storage
    // audit a 100 TB export runs before the write; runs counted within
    // each orderkey group (no global sort), ratios as exact scaled
    // integers.
    "x94_encoding_advisor" -> entry(
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
        Sharding.encodingAdvisor(li,
            col("l_orderkey"), col("l_linenumber"),
            Seq(
              "l_returnflag" -> col("l_returnflag"),
              "l_linestatus" -> col("l_linestatus"),
              "l_suppkey" -> col("l_suppkey"),
              "l_partkey" -> col("l_partkey"),
              "l_shipdate" -> col("l_shipdate")))
          .orderBy(col("col_name"))
      },
      """WITH s AS (
        |  SELECT 'l_returnflag' AS col_name, l_orderkey AS g,
        |    l_linenumber AS o, CAST(l_returnflag AS VARCHAR) AS val
        |  FROM lineitem
        |  UNION ALL SELECT 'l_linestatus', l_orderkey, l_linenumber,
        |    CAST(l_linestatus AS VARCHAR) FROM lineitem
        |  UNION ALL SELECT 'l_suppkey', l_orderkey, l_linenumber,
        |    CAST(l_suppkey AS VARCHAR) FROM lineitem
        |  UNION ALL SELECT 'l_partkey', l_orderkey, l_linenumber,
        |    CAST(l_partkey AS VARCHAR) FROM lineitem
        |  UNION ALL SELECT 'l_shipdate', l_orderkey, l_linenumber,
        |    CAST(l_shipdate AS VARCHAR) FROM lineitem),
        |r AS (SELECT col_name, val,
        |    CASE WHEN lag(val) OVER (PARTITION BY col_name, g
        |        ORDER BY o, val)
        |      IS DISTINCT FROM val THEN 1 ELSE 0 END AS rs FROM s),
        |a AS (SELECT col_name, count(*) AS n_rows,
        |    count(DISTINCT val) AS n_distinct,
        |    CAST(sum(length(val)) AS BIGINT) AS total_chars,
        |    CAST(sum(rs) AS BIGINT) AS runs
        |  FROM r GROUP BY 1)
        |SELECT col_name, n_rows, n_distinct, runs,
        |  (20000 * n_distinct + n_rows) // (2 * n_rows) AS distinct_bp,
        |  (200 * total_chars + n_rows) // (2 * n_rows) AS avg_len_x100,
        |  (20000 * runs + n_rows) // (2 * n_rows) AS runs_bp,
        |  CASE WHEN (20000 * n_distinct + n_rows) // (2 * n_rows) <= 100
        |      THEN 'DICT'
        |    WHEN (20000 * runs + n_rows) // (2 * n_rows) <= 2500 THEN 'RLE'
        |    WHEN (200 * total_chars + n_rows) // (2 * n_rows) >= 3200
        |      THEN 'PLAIN_ZSTD'
        |    ELSE 'PLAIN' END AS advice
        |FROM a ORDER BY col_name""".stripMargin),

    // Ingest-boundary JSONL parse with corrupt-record quarantine: a
    // deterministic JSONL rendering of `documents` with every 13th line
    // truncated mid-string; the PERMISSIVE parse null-fills the bad
    // lines and `ok` routes them to quarantine. The engine derives
    // EVERYTHING from the parse result; the oracle recomputes the
    // expectation from the construction rule — ground truth by design.
    // Scan-local (the parse adds no exchange; only the output sort).
    "x95_jsonl_ingest" -> entry(
      (s, dir) => {
        val raw = tbl(s, dir, "documents")
          .withColumn("j", concat(
            lit("{\"id\": "), col("doc_id"),
            lit(", \"lang\": \""), col("lang"),
            lit("\", \"text\": \""), col("text"), lit("\"}")))
          .withColumn("j",
            when(col("doc_id") % 13 === 0,
              expr("substring(j, 1, length(j) - 5)")).otherwise(col("j")))
        graft.sources.TableIO
          .parseJsonl(raw, "j", "id BIGINT, lang STRING, text STRING", "id")
          .select(col("doc_id"), col("ok"),
            col("parsed.id").as("id_parsed"),
            col("parsed.lang").as("lang_parsed"),
            length(col("parsed.text")).cast("long").as("n_text_chars"))
          .orderBy(col("doc_id"))
      },
      """SELECT doc_id, doc_id % 13 != 0 AS ok,
        |  CASE WHEN doc_id % 13 != 0 THEN doc_id END AS id_parsed,
        |  CASE WHEN doc_id % 13 != 0 THEN lang END AS lang_parsed,
        |  CASE WHEN doc_id % 13 != 0
        |    THEN CAST(length(text) AS BIGINT) END AS n_text_chars
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Range-partition planner: exact interpolated quantile boundaries
    // (identical definition both engines — the x89 precedent) over doc
    // length, plus the bucket histogram the split would produce. The
    // pre-flight audit for any range-partitioned write; the production
    // path swaps in the sampled approx percentile with the same shape.
    "x96_range_partition_plan" -> entry(
      (s, dir) =>
        Sharding.rangePartitionPlan(tbl(s, dir, "documents"),
            col("n_chars"), buckets = 8)
          .orderBy(col("bucket")),
      """WITH b AS (SELECT quantile_cont(CAST(n_chars AS DOUBLE),
        |    [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bounds
        |  FROM documents)
        |SELECT CAST(len(list_filter(b.bounds,
        |    x -> CAST(d.n_chars AS DOUBLE) > x)) AS BIGINT) AS bucket,
        |  count(*) AS n_rows,
        |  min(CAST(d.n_chars AS DOUBLE)) AS min_v,
        |  max(CAST(d.n_chars AS DOUBLE)) AS max_v
        |FROM documents d, b GROUP BY 1 ORDER BY bucket""".stripMargin),

    // Link-graph PageRank over the deterministic citation graph — the
    // host-authority signal web curation ranks on (Common Crawl drops
    // bottom-percentile link-spam neighborhoods by it). Integer
    // fixed-point mass (scale 1e12) so partial-agg `sum()` stays
    // order-free and both engines agree bit-for-bit — a float PageRank
    // would need an order-pinned fold per round. 5 synchronous rounds,
    // each ONE edges⋈mass join + ONE partial-agg shuffle (the Pregel
    // round in relational form); vertex state never broadcasts.
    "x97_pagerank" -> entry(
      (s, dir) =>
        graft.ext.Graphs.pageRankInt(
            graft.ext.Graphs.syntheticEdges(
              tbl(s, dir, "documents"), "doc_id"), iters = 5)
          .orderBy(col("id")),
      pageRankSql(5)),

    // Connected components via bounded-round min-label propagation on
    // the undirected closure: integer labels, plain min() partials.
    // Output is the component-membership histogram after 5 rounds — a
    // deterministic intermediate-state contract whatever the diameter.
    // Round-11 adjudication of the r9→r10 sweep movement (2.27→2.98 s):
    // r9's 2.27 was the LOW outlier, not r10 a regression. The cp=1
    // design commit (91b4f04, round 9) itself recorded "~2.9 s" as the
    // expected steady state, and two isolated round-11 runs on a
    // calibration-clean box (cpu anchor 137 ms) measured 2.91 / 2.95 s —
    // matching r10's sweep. cp=1 remains strictly the best cadence at
    // this scale (2.9 vs 4.8 at cp=2, 5.5 never) AND at 8× (the r10
    // scale-curve fix); nothing to change.
    "x98_components_lp" -> entry(
      (s, dir) =>
        // checkpointEvery=1: LP's round subtree (undirected-closure
        // union+distinct) is heavy enough that truncating lineage every
        // round beats re-analysis (measured ~2.9 s vs ~4.8 s at cp=2,
        // 5.5 s never) — PageRank's lighter round is the opposite and
        // keeps the default. Cost: one vertex-state checkpoint per
        // round held in executor storage for the query's lifetime.
        graft.ext.Graphs.labelPropagation(
            graft.ext.Graphs.syntheticEdges(
              tbl(s, dir, "documents"), "doc_id"), iters = 5,
            checkpointEvery = 1)
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_vertices"), min(col("id")).as("min_id"),
            max(col("id")).as("max_id"))
          .orderBy(col("label")),
      labelPropSql(5)),

    // Exact triangle counting with degree orientation (Suri &
    // Vassilvitskii WWW'11): wedges only form at each edge's
    // lower-(degree,id) endpoint, bounding wedge fan-out by O(√m) — the
    // naive wedge join the oracle runs is quadratic at hubs and exists
    // only as the sf-small truth. Integer counts, fully portable.
    "x99_triangle_count" -> entry(
      (s, dir) =>
        graft.ext.Graphs.triangleCounts(
            graft.ext.Graphs.ringEdges(
              tbl(s, dir, "documents"), "doc_id"))
          .orderBy(col("id")),
      """WITH c AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS c
        |           FROM documents),
        |e0 AS (SELECT CAST(doc_id AS BIGINT) AS src,
        |    CAST((doc_id+1) % c.c AS BIGINT) AS dst FROM documents, c
        |  UNION ALL SELECT CAST(doc_id AS BIGINT),
        |    CAST((doc_id+2) % c.c AS BIGINT) FROM documents, c
        |  UNION ALL SELECT CAST(doc_id AS BIGINT),
        |    CAST((doc_id*31+7) % c.c AS BIGINT) FROM documents, c),
        |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |      FROM e0 WHERE src != dst),
        |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS cc
        |      FROM e e1 JOIN e e2 ON e1.v = e2.u
        |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT id, count(*) AS n_triangles FROM (
        |  SELECT a AS id FROM t UNION ALL SELECT b FROM t
        |  UNION ALL SELECT cc FROM t)
        |GROUP BY id ORDER BY id""".stripMargin),

    // Time-travel reconstruction over the event log: per-user state at
    // four weekly cutoffs — the latest event at or before each instant —
    // rolled up to composition counts + exact DECIMAL value totals.
    // All cutoffs resolve in ONE corpus pass: a single per-user window
    // derives each event's validity interval [ts, next_ts), then a
    // broadcast join against the 4-row cutoff list keeps exactly the
    // state-defining rows (vs the naive k-replay: k scans, k shuffles).
    "x100_asof_states" -> entry(
      (s, dir) => {
        val cutoffs = Seq(1704672000L, 1705276800L, 1705881600L,
          1706486400L).map(_ * 1000000L) // Jan 8/15/22/29 2024 00:00 UTC
        graft.ext.Temporal.asOfStates(tbl(s, dir, "events"), "user_id",
            unix_micros(col("ts")), col("event_id"), cutoffs,
            Seq("state_type" -> col("event_type"),
              "state_value" -> col("value")))
          .groupBy(col("cutoff_us"), col("state_type"))
          .agg(count(lit(1)).as("n_users"),
            sum(col("state_value").cast("decimal(18,2)")).cast("double")
              .as("total_value"))
          .orderBy(col("cutoff_us"), col("state_type"))
      },
      """WITH e AS (SELECT user_id, event_id, event_type, value,
        |    epoch_us(ts) AS us FROM events),
        |iv AS (SELECT *, lead(us) OVER (PARTITION BY user_id
        |        ORDER BY us, event_id) AS next_us FROM e),
        |cuts AS (SELECT unnest([1704672000000000, 1705276800000000,
        |    1705881600000000, 1706486400000000]) AS cutoff_us)
        |SELECT cutoff_us, event_type AS state_type, count(*) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM iv JOIN cuts ON iv.us <= cuts.cutoff_us
        |  AND (iv.next_us IS NULL OR iv.next_us > cuts.cutoff_us)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),

    // Z-order (Morton) layout audit: interleave 8 bits of two lineitem
    // dims into one clustering key, cut it into 64 range buckets, and
    // report each bucket's per-dimension min/max span — every bucket
    // covers a 32x32 tile of the (part, supp) plane, the property that
    // lets file-level min/max stats prune on BOTH columns at once
    // (a lexicographic sort key prunes only its leading column). The
    // key is pure scan-local bit algebra; one aggregation shuffle.
    "x101_zorder_layout" -> entry(
      (s, dir) => {
        tbl(s, dir, "lineitem").select(
            pmod(col("l_partkey"), lit(256L)).cast("long").as("p8"),
            pmod(col("l_suppkey"), lit(256L)).cast("long").as("s8"))
          .withColumn("z", Sharding.zOrderKey(
            Seq(col("p8"), col("s8")), bits = 8))
          .withColumn("bucket", expr("z div 1024"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("p8")).as("min_p"), max(col("p8")).as("max_p"),
            min(col("s8")).as("min_s"), max(col("s8")).as("max_s"))
          .orderBy(col("bucket"))
      },
      s"""WITH b AS (SELECT CAST(l_partkey % 256 AS BIGINT) AS p8,
        |    CAST(l_suppkey % 256 AS BIGINT) AS s8 FROM lineitem),
        |z AS (SELECT p8, s8, ${zOrderSql("p8", "s8", 8)} AS z FROM b)
        |SELECT z // 1024 AS bucket, count(*) AS n_rows,
        |  min(p8) AS min_p, max(p8) AS max_p,
        |  min(s8) AS min_s, max(s8) AS max_s
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin),

    // Small-file compaction plan: next-fit bin packing of an ordered
    // file manifest into ~16 KB output files — files keep manifest
    // order (preserving the table's existing cluster order), bin =
    // prefix-bytes div target. The window runs over the FILE manifest
    // (corpus-size / file-size rows), never the corpus.
    "x102_compaction_plan" -> entry(
      (s, dir) => {
        val manifest = tbl(s, dir, "documents")
          .groupBy(expr("doc_id div 20").as("file_id"))
          .agg(sum(length(col("text"))).cast("long").as("bytes"))
        Sharding.compactionPlan(manifest, col("file_id"), col("bytes"),
            targetBytes = 16384L)
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_files"),
            sum(col("bytes")).as("total_bytes"),
            min(col("file_id")).as("first_file"),
            max(col("file_id")).as("last_file"))
          .orderBy(col("bin"))
      },
      """WITH m AS (SELECT doc_id // 20 AS file_id,
        |    sum(length(text)) AS bytes FROM documents GROUP BY 1),
        |c AS (SELECT file_id, bytes, COALESCE(sum(bytes) OVER (
        |    ORDER BY file_id ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND 1 PRECEDING), 0) AS cum FROM m)
        |SELECT CAST(cum // 16384 AS BIGINT) AS bin, count(*) AS n_files,
        |  CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |  min(file_id) AS first_file,
        |  max(file_id) AS last_file
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),

    // Mergeable per-shard stats manifest: (count, sum, sumsq, min, max)
    // per shard — a monoid, so shard manifests combine into exact
    // global stats WITHOUT rescanning the corpus (the incremental-
    // ingest contract: each new shard appends one manifest row; global
    // refresh is manifest-sized). The shard=-1 row IS that merge,
    // re-derived from the partials, not the corpus.
    "x103_stats_manifest" -> entry(
      (s, dir) => {
        val parts = tbl(s, dir, "documents")
          .select(expr("doc_id div 100").as("shard"),
            length(col("text")).cast("long").as("len"))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("len")).as("sum_chars"),
            sum(col("len") * col("len")).as("sumsq_chars"),
            min(col("len")).as("min_chars"),
            max(col("len")).as("max_chars"))
        val merged = parts.agg(
          lit(-1L).as("shard"),
          sum(col("n_docs")).as("n_docs"),
          sum(col("sum_chars")).as("sum_chars"),
          sum(col("sumsq_chars")).as("sumsq_chars"),
          min(col("min_chars")).as("min_chars"),
          max(col("max_chars")).as("max_chars"))
        parts.unionByName(merged).orderBy(col("shard"))
      },
      """WITH p AS (SELECT doc_id // 100 AS shard, count(*) AS n_docs,
        |    CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |    CAST(sum(length(text) * length(text)) AS BIGINT)
        |      AS sumsq_chars,
        |    min(length(text)) AS min_chars,
        |    max(length(text)) AS max_chars
        |  FROM documents GROUP BY 1)
        |SELECT * FROM p
        |UNION ALL
        |SELECT -1 AS shard, CAST(sum(n_docs) AS BIGINT),
        |  CAST(sum(sum_chars) AS BIGINT),
        |  CAST(sum(sumsq_chars) AS BIGINT),
        |  min(min_chars), max(max_chars) FROM p
        |ORDER BY shard""".stripMargin),

    // Rendezvous (HRW) re-sharding stability: assign every doc a shard
    // under 8 and under 9 shards, tabulate the transition matrix. The
    // contract: off-diagonal mass lands ONLY in new_shard = 8 (keys
    // move only TO the added shard, ~1/9 of the corpus), where modulo
    // sharding would move 8/9 of it — the difference between an
    // incremental copy and a full rewrite when a 100 TB keyed store
    // grows its fleet. Scan-local weight argmax, one count shuffle.
    "x104_hrw_resharding" -> entry(
      (s, dir) =>
        tbl(s, dir, "documents").select(
            Sharding.hrwShard(col("doc_id"), 8).as("old_shard"),
            Sharding.hrwShard(col("doc_id"), 9).as("new_shard"))
          .groupBy(col("old_shard"), col("new_shard"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("old_shard"), col("new_shard")),
      s"""WITH a AS (SELECT
        |    ${Sharding.hrwShardSql("doc_id", 8)} AS old_shard,
        |    ${Sharding.hrwShardSql("doc_id", 9)} AS new_shard
        |  FROM documents)
        |SELECT old_shard, new_shard, count(*) AS n_docs FROM a
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Largest-remainder eval-set quotas: split a 1000-row sample budget
    // across sources proportionally with EXACT integer quotas that sum
    // to exactly 1000 — floor shares + leftover units to the largest
    // remainders. No float shares (which round to total ± 1), no
    // ingestion-order bias; the window runs over the strata table.
    "x105_sample_quotas" -> entry(
      (s, dir) =>
        Curation.largestRemainderQuotas(
            tbl(s, dir, "documents"), col("source"), total = 1000L)
          .orderBy(col("stratum")),
      """WITH c AS (SELECT source AS stratum, count(*) AS n_docs
        |           FROM documents GROUP BY 1),
        |t AS (SELECT sum(n_docs) AS c FROM c),
        |b AS (SELECT stratum, n_docs, (1000 * n_docs) // t.c AS base,
        |    (1000 * n_docs) % t.c AS rem FROM c, t),
        |d AS (SELECT 1000 - sum(base) AS d FROM b),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, stratum)
        |    AS rk FROM b)
        |SELECT stratum, n_docs,
        |  CAST(base + CASE WHEN rk <= d.d THEN 1 ELSE 0 END AS BIGINT)
        |    AS quota
        |FROM r, d ORDER BY stratum""".stripMargin),

    // File-skipping audit: the quantitative case for x101's layout.
    // Both layouts cut the same 64-file budget; per file, min/max
    // column stats decide whether a 2-dim box predicate can skip it.
    // The p8-sorted layout prunes its leading column only (every file
    // spans all of s8), the z-order tiles bound BOTH dims — so the
    // same predicate scans ~4x fewer files. Everything is scan-local
    // bit algebra + one agg per layout.
    "x106_skipping_audit" -> entry(
      (s, dir) => {
        val b = tbl(s, dir, "lineitem").select(
          pmod(col("l_partkey"), lit(256L)).cast("long").as("p8"),
          pmod(col("l_suppkey"), lit(256L)).cast("long").as("s8"))
        val inBox = col("p8").between(50, 81) && col("s8").between(50, 81)
        def audit(layout: String, fileCol: Column) = b
          .withColumn("f", fileCol)
          .groupBy(col("f"))
          .agg(min(col("p8")).as("mnp"), max(col("p8")).as("mxp"),
            min(col("s8")).as("mns"), max(col("s8")).as("mxs"),
            sum(when(inBox, 1L).otherwise(0L)).as("rows_in_box"))
          .agg(count(lit(1)).as("n_files"),
            sum(when(col("mnp") <= 81 && col("mxp") >= 50 &&
              col("mns") <= 81 && col("mxs") >= 50, 1L).otherwise(0L))
              .as("files_scanned"),
            sum(col("rows_in_box")).as("rows_matching"))
          .select(lit(layout).as("layout"), col("n_files"),
            col("files_scanned"), col("rows_matching"))
        audit("lex_p8", shiftright(col("p8"), 2))
          .unionByName(audit("zorder", shiftright(
            Sharding.zOrderKey(Seq(col("p8"), col("s8")), bits = 8), 10)))
          .orderBy(col("layout"))
      },
      s"""WITH b AS (SELECT CAST(l_partkey % 256 AS BIGINT) AS p8,
        |    CAST(l_suppkey % 256 AS BIGINT) AS s8 FROM lineitem),
        |lex AS (SELECT p8 >> 2 AS f, min(p8) AS mnp, max(p8) AS mxp,
        |    min(s8) AS mns, max(s8) AS mxs,
        |    sum(CASE WHEN p8 BETWEEN 50 AND 81 AND s8 BETWEEN 50 AND 81
        |      THEN 1 ELSE 0 END) AS rows_in_box
        |  FROM b GROUP BY 1),
        |zf AS (SELECT ${zOrderSql("p8", "s8", 8)} >> 10 AS f,
        |    min(p8) AS mnp, max(p8) AS mxp, min(s8) AS mns,
        |    max(s8) AS mxs,
        |    sum(CASE WHEN p8 BETWEEN 50 AND 81 AND s8 BETWEEN 50 AND 81
        |      THEN 1 ELSE 0 END) AS rows_in_box
        |  FROM b GROUP BY 1)
        |SELECT 'lex_p8' AS layout, count(*) AS n_files,
        |  CAST(sum(CASE WHEN mnp <= 81 AND mxp >= 50 AND mns <= 81
        |    AND mxs >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
        |  CAST(sum(rows_in_box) AS BIGINT) AS rows_matching FROM lex
        |UNION ALL
        |SELECT 'zorder', count(*),
        |  CAST(sum(CASE WHEN mnp <= 81 AND mxp >= 50 AND mns <= 81
        |    AND mxs >= 50 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(rows_in_box) AS BIGINT) FROM zf
        |ORDER BY layout""".stripMargin),

    // Strict-order funnel: per (user, day), first view, first click
    // AFTER that view, first purchase AFTER that click — order
    // enforced, not mere presence. Each stage is a co-partitioned
    // (user, day) join + min-agg on the same key, so the three stages
    // ride one partitioning; daily conversion counts out.
    "x107_funnel" -> entry(
      (s, dir) => {
        val ev = tbl(s, dir, "events").select(col("user_id"),
          to_date(col("ts")).as("d"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        val v = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id"), col("d")).agg(min(col("us")).as("v_us"))
        val c = ev.filter(col("event_type") === "click")
          .join(v, Seq("user_id", "d")).filter(col("us") > col("v_us"))
          .groupBy(col("user_id"), col("d")).agg(min(col("us")).as("c_us"))
        val pch = ev.filter(col("event_type") === "purchase")
          .join(c, Seq("user_id", "d")).filter(col("us") > col("c_us"))
          .groupBy(col("user_id"), col("d")).agg(min(col("us")).as("p_us"))
        v.join(c, Seq("user_id", "d"), "left")
          .join(pch, Seq("user_id", "d"), "left")
          .groupBy(col("d"))
          .agg(count(lit(1)).as("users_view"),
            count(col("c_us")).as("users_click"),
            count(col("p_us")).as("users_purchase"))
          .orderBy(col("d"))
      },
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d, event_type,
        |    epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, d, min(us) AS v_us FROM e
        |      WHERE event_type = 'view' GROUP BY 1, 2),
        |c AS (SELECT e.user_id, e.d, min(e.us) AS c_us FROM e
        |      JOIN v ON e.user_id = v.user_id AND e.d = v.d
        |      WHERE e.event_type = 'click' AND e.us > v.v_us
        |      GROUP BY 1, 2),
        |p AS (SELECT e.user_id, e.d, min(e.us) AS p_us FROM e
        |      JOIN c ON e.user_id = c.user_id AND e.d = c.d
        |      WHERE e.event_type = 'purchase' AND e.us > c.c_us
        |      GROUP BY 1, 2)
        |SELECT v.d, count(*) AS users_view, count(c.c_us) AS users_click,
        |  count(p.p_us) AS users_purchase
        |FROM v LEFT JOIN c ON v.user_id = c.user_id AND v.d = c.d
        |  LEFT JOIN p ON v.user_id = p.user_id AND v.d = p.d
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Weekly cohort retention: users bucketed by first-seen week,
    // counted in each later week they were active — the engagement
    // matrix every event-log warehouse serves. Integer week ids from
    // exact epoch-day division; two key-compatible shuffles
    // (per-user first week, then the cohort matrix).
    "x108_cohort_retention" -> entry(
      (s, dir) => {
        val ev = tbl(s, dir, "events").select(col("user_id"),
          expr("(unix_micros(ts) div 86400000000) div 7").as("wk"))
        val uw = ev.distinct()
        val cohort = uw.groupBy(col("user_id")).agg(min(col("wk")).as("c0"))
        uw.join(cohort, "user_id")
          .groupBy(col("c0").as("cohort_week"),
            (col("wk") - col("c0")).as("week_offset"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("cohort_week"), col("week_offset"))
      },
      """WITH uw AS (SELECT DISTINCT user_id,
        |    (epoch_us(ts) // 86400000000) // 7 AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS c0 FROM uw GROUP BY 1)
        |SELECT c.c0 AS cohort_week, uw.wk - c.c0 AS week_offset,
        |  count(*) AS n_users
        |FROM uw JOIN c ON uw.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Watermark-sizing audit: log2-bucketed histogram of per-user
    // event-time lateness under a (deterministically) shuffled arrival
    // order — the distribution that picks `withWatermark`'s delay (the
    // bucket covering the tail = the delay that bounds loss). Per-KEY
    // running max, ONE hash window — never a global single-task window;
    // buckets via integer bit length, not libm log2 (not bit-portable).
    "x109_lateness_audit" -> entry(
      (s, dir) => {
        val ev = tbl(s, dir, "events").select(col("user_id"),
          unix_micros(col("ts")).as("us"),
          expr("(event_id * 2654435761L) % 1000000007L").as("arr"))
        graft.ext.Temporal
          .latenessHistogram(ev, "user_id", col("us"), col("arr"))
          .orderBy(col("lateness_bucket"))
      },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us,
        |    (event_id * 2654435761) % 1000000007 AS arr FROM events),
        |l AS (SELECT COALESCE(max(us) OVER (PARTITION BY user_id
        |        ORDER BY arr ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND 1 PRECEDING) - us, -1) AS late_us FROM e)
        |SELECT CASE WHEN late_us <= 0 THEN -1
        |    ELSE length(bin((late_us // 1000000) + 1)) - 1
        |  END AS lateness_bucket, count(*) AS n_events
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin),

    // CDC net-effect minimization: collapse each key's op run to the
    // single change a downstream consumer must apply — insert+…+delete
    // cancels to nothing, insert+updates re-emits one insert with the
    // final value, updates+delete is one delete. The log-offset
    // (event_id) IS the CDC order; first/last ride min_by/max_by in ONE
    // per-key aggregation — no sort, no window, no self-join. The
    // between-checkpoints compaction that turns an O(ops) replay into
    // O(keys).
    "x110_cdc_minimize" -> entry(
      (s, dir) => {
        val ops = tbl(s, dir, "events").select(col("user_id"),
          col("event_id"), col("value"),
          when(col("event_type") === "signup", "I")
            .when(col("event_type") === "error", "D")
            .otherwise("U").as("op"))
        // last_value via a sentinel COALESCE/NULLIF round-trip: DuckDB's
        // arg_max SKIPS rows whose value argument is NULL while Spark's
        // max_by returns the (possibly NULL) value at the max key — a
        // NULL value in the log would silently diverge the two engines.
        // With the sentinel neither aggregate ever sees a NULL value, so
        // both pick the true max-event_id row (sf0.01 has no NULL values
        // today; this pins the semantics against a regeneration that does).
        ops.groupBy(col("user_id"))
          .agg(min_by(col("op"), col("event_id")).as("first_op"),
            max_by(col("op"), col("event_id")).as("last_op"),
            nullif(max_by(coalesce(col("value"), lit(-1e308)),
              col("event_id")), lit(-1e308)).as("last_value"),
            count(lit(1)).as("n_ops"))
          .select(col("user_id"),
            when(col("first_op") === "I" && col("last_op") === "D", "none")
              .when(col("first_op") === "I", "insert")
              .when(col("last_op") === "D", "delete")
              .otherwise("update").as("net_op"),
            when(col("last_op") === "D", lit(null).cast("double"))
              .otherwise(col("last_value")).as("net_value"),
            col("n_ops"))
          .orderBy(col("user_id"))
      },
      """WITH o AS (SELECT user_id, event_id, value,
        |    CASE WHEN event_type = 'signup' THEN 'I'
        |         WHEN event_type = 'error' THEN 'D'
        |         ELSE 'U' END AS op FROM events),
        |a AS (SELECT user_id, arg_min(op, event_id) AS first_op,
        |    arg_max(op, event_id) AS last_op,
        |    NULLIF(arg_max(COALESCE(value, -1e308), event_id), -1e308)
        |      AS last_value,
        |    count(*) AS n_ops FROM o GROUP BY 1)
        |SELECT user_id,
        |  CASE WHEN first_op = 'I' AND last_op = 'D' THEN 'none'
        |       WHEN first_op = 'I' THEN 'insert'
        |       WHEN last_op = 'D' THEN 'delete'
        |       ELSE 'update' END AS net_op,
        |  CASE WHEN last_op = 'D' THEN NULL ELSE last_value END
        |    AS net_value,
        |  n_ops
        |FROM a ORDER BY user_id""".stripMargin),

    // Dedup saturation curve: as the corpus grows (id-order prefix
    // buckets), what fraction of each new slice is an exact duplicate
    // of anything earlier — the curve that says when further crawling
    // stops adding novel data. First-occurrence via a min-over-
    // fingerprint window (32-byte hashes shuffle, text never does);
    // the cumulative sum runs over the BUCKET table.
    "x111_dedup_saturation" -> entry(
      (s, dir) => {
        // 8-token-prefix fingerprint, not whole-text: the synthetic
        // corpus has no verbatim dups, but shared boilerplate openings
        // exist at every scale — and prefix dedup is the production
        // form for template/boilerplate saturation
        val d = tbl(s, dir, "documents").select(col("doc_id"),
          expr("doc_id div 100").as("bucket"),
          sha2(concat_ws(" ", slice(split(col("text"), " "), 1, 8)), 256)
            .as("fp"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
        val perBucket = d
          .withColumn("is_dup",
            (min(col("doc_id")).over(w) < col("doc_id")).cast("long"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_docs"), sum(col("is_dup")).as("n_dups"))
        val cw = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
        perBucket // bucket-count rows: the running sum is driver-cheap
          .withColumn("cum_dups", sum(col("n_dups")).over(cw))
          .orderBy(col("bucket"))
      },
      """WITH d AS (SELECT doc_id, doc_id // 100 AS bucket,
        |    sha256(array_to_string((string_split(text, ' '))[1:8], ' '))
        |      AS fp FROM documents),
        |f AS (SELECT bucket, CASE WHEN min(doc_id) OVER (PARTITION BY fp)
        |      < doc_id THEN 1 ELSE 0 END AS is_dup FROM d),
        |b AS (SELECT bucket, count(*) AS n_docs,
        |      CAST(sum(is_dup) AS BIGINT) AS n_dups
        |      FROM f GROUP BY 1)
        |SELECT bucket, n_docs, n_dups,
        |  CAST(sum(n_dups) OVER (ORDER BY bucket
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_dups
        |FROM b ORDER BY bucket""".stripMargin),

    // REAL video-shaped decode (the x66/x72 argument on a temporal
    // axis): each doc_id synthesizes a multi-frame animated GIF via the
    // JDK's sequence writer; the frame-sampling reader decodes ONLY
    // every 2nd frame (random-access reads — unsampled frames never
    // decode, the 100 TB frame-sampling shape) and emits exact integer
    // luma sums. The ORACLE never decodes — it recomputes each sampled
    // frame's sum from the pixel formula, so a bug in either codec
    // direction breaks the hash. Map-only inside mapPartitions.
    "x112_video_frame_audit" -> entry(
      (s, dir) => {
        import s.implicits._
        val mkGif = udf((id: Long) => Multimodal.syntheticGif(id))
        // wide(): 5 000 real GIF encodes + stride decodes are per-row
        // CPU over a byte-small single-file scan — unwidened this ran
        // as ONE task on one core (the x141-x143 media queries were
        // widened; this one had been missed — round-14 optimization
        // pass, 4.2 s → 1.4 s at sf0.1 same-window)
        val media = wide(tbl(s, dir, "documents"))
          .select(col("doc_id").cast("long").as("id"),
            lit("video").as("format"), mkGif(col("doc_id")).as("media"))
          .as[Multimodal.MediaRecord]
        Multimodal.videoFrameStats(media, stride = 2)
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id"), col("frame_no"))
      },
      """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
        |           2 + doc_id % 4 AS nf FROM documents),
        |fs AS (SELECT unnest(range(0, 6, 2)) AS f),
        |xs AS (SELECT unnest(range(0, 16)) AS x),
        |ys AS (SELECT unnest(range(0, 14)) AS y),
        |px AS (SELECT d.doc_id, d.w, d.h, fs.f, xs.x, ys.y FROM d
        |       JOIN fs ON fs.f < d.nf JOIN xs ON xs.x < d.w
        |       JOIN ys ON ys.y < d.h)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame_no,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(sum((doc_id + 7 * x + 13 * y + 53 * f) % 256) AS BIGINT)
        |    AS luma_sum
        |FROM px GROUP BY doc_id, f, w, h
        |ORDER BY doc_id, frame_no""".stripMargin),

    // Collocation mining (lift over the head vocabulary): which head
    // tokens co-occur in documents far above chance — integer-exact
    // lift in basis points, `10000·C·n_ab div (n_a·n_b)`, no float PMI
    // logs. The quadratic term is bounded by the HEAD VOCAB (≤ 64
    // tokens/doc enter the self-join), never the corpus vocabulary;
    // the head list is one TakeOrdered. At 1e10+ docs the lift product
    // needs DECIMAL(38,0) — noted at the site.
    "x113_collocation_lift" -> entry(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val tokd = docs.select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("tok"))
        val top = tokd.groupBy(col("tok")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("tok")).limit(64)
        // checkpointed: feeds na AND the per-doc pair unfold — without
        // it the explode+broadcast-probe scan re-runs per consumer
        val filtered = tokd.join(broadcast(top.select(col("tok"))), "tok")
          .localCheckpoint(eager = false)
        val na = filtered.groupBy(col("tok")).agg(count(lit(1)).as("n"))
        val cTot = docs.agg(count(lit(1)).as("__c"))
        // pair generation without the self-join (the x130 rewrite,
        // round-14): one shuffle gathers each doc's surviving head
        // tokens (≤ 64 by construction) into a sorted array, the
        // tok_a < tok_b pairs unfold scan-locally — the sort-merge
        // self-join on doc_id and its reshuffles disappear; identical
        // pair multiset (sorted array enumerates exactly the < pairs;
        // sort_array and the join's < share UTF8 binary order).
        // Explicit-N hash repartition on the grouping key: the unfold
        // is ~2k pair rows of CPU per doc over KB-scale shuffle bytes,
        // and AQE's byte-based coalescing was collapsing it onto ONE
        // task (measured: every stage 1 task, 3-5 s; REPARTITION_BY_NUM
        // is exempt from coalescing and the groupBy reuses its
        // partitioning, so the same single shuffle keeps cluster width)
        filtered.repartition(filtered.sparkSession.conf
            .get("spark.sql.shuffle.partitions").toInt, col("doc_id"))
          .groupBy(col("doc_id"))
          .agg(sort_array(collect_list(col("tok"))).as("ts"))
          .select(explode(expr(
            """flatten(transform(ts, (x, i) ->
              |  transform(slice(ts, i + 2, size(ts) - i - 1),
              |            y -> named_struct('a', x, 'b', y))))"""
              .stripMargin)).as("pr"))
          .select(col("pr.a").as("a"), col("pr.b").as("b"))
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("n_ab"))
          .filter(col("n_ab") >= 5)
          .join(broadcast(na.select(col("tok").as("a"), col("n").as("n_a"))),
            "a")
          .join(broadcast(na.select(col("tok").as("b"), col("n").as("n_b"))),
            "b")
          .crossJoin(broadcast(cTot))
          // BIGINT-safe to ~1e7 docs; DECIMAL(38,0) at crawl scale
          .select(col("a"), col("b"), col("n_ab"),
            expr("(10000L * __c * n_ab) div (n_a * n_b)").as("lift_bp"))
          .orderBy(col("lift_bp").desc, col("a"), col("b"))
          .limit(30)
      },
      """WITH td AS (SELECT doc_id, unnest(list_distinct(
        |      string_split(text, ' '))) AS tok FROM documents),
        |top AS (SELECT tok, count(*) AS c FROM td GROUP BY 1
        |        ORDER BY c DESC, tok LIMIT 64),
        |f AS (SELECT td.doc_id, td.tok FROM td JOIN top USING (tok)),
        |na AS (SELECT tok, count(*) AS n FROM f GROUP BY 1),
        |ct AS (SELECT count(*) AS c FROM documents),
        |p AS (SELECT x.tok AS a, y.tok AS b, count(*) AS n_ab
        |      FROM f x JOIN f y ON x.doc_id = y.doc_id AND x.tok < y.tok
        |      GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT a, b, n_ab,
        |  (10000 * ct.c * n_ab) // (xa.n * xb.n) AS lift_bp
        |FROM p JOIN na xa ON p.a = xa.tok JOIN na xb ON p.b = xb.tok, ct
        |ORDER BY lift_bp DESC, a, b LIMIT 30""".stripMargin),

    // ANN approximation-quality audit: recall@5 of a deliberately
    // under-probed IVF (nProbe=2 of 16 cells) against exact brute
    // force, per query — the measurement that TUNES nProbe (x13's
    // naive check proves the IVF implements its spec; this measures
    // how good the spec's approximation is). n_hits is an integer, so
    // the audit hash-checks against the independent HOF-arithmetic
    // naive (x114_naive), no float tolerance.
    "x114_ann_recall_audit" -> rowsOnly(
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") % 100 === 0)
        val brute = Similarity.bruteForceTopK(emb, qs,
            "vec_id", "embedding", k = 5)
          .select(col("qid"), col("nid"))
        val ivf = Similarity.ivfTopK(emb, qs, "vec_id", "embedding",
            k = 5, nCentroids = 16, nProbe = 2)
          .select(col("qid"), col("nid")).withColumn("hit", lit(1L))
        brute.join(ivf, Seq("qid", "nid"), "left")
          .groupBy(col("qid"))
          .agg(coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
          .orderBy(col("qid"))
      }),

    // End-to-end eval-set construction: x105's exact quotas drawn by
    // x25's portable hash rank — EXACTLY 1000 docs out, proportionally
    // stratified, replay-stable. The sample summary proves both halves
    // at once: per-source counts equal the quota table, total is
    // exactly the budget.
    "x115_quota_sample" -> entry(
      (s, dir) =>
        Curation.quotaSample(tbl(s, dir, "documents"),
            "doc_id", "source", total = 1000L)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_sampled"),
            min(col("doc_id")).as("min_id"),
            // order-free integer content check on WHICH docs were drawn
            sum(col("doc_id")).as("sum_ids"))
          .orderBy(col("source")),
      """WITH c AS (SELECT source AS stratum, count(*) AS n_docs
        |           FROM documents GROUP BY 1),
        |t AS (SELECT sum(n_docs) AS c FROM c),
        |b AS (SELECT stratum, n_docs, (1000 * n_docs) // t.c AS base,
        |    (1000 * n_docs) % t.c AS rem FROM c, t),
        |d AS (SELECT 1000 - sum(base) AS d FROM b),
        |q AS (SELECT stratum, base + CASE WHEN
        |      row_number() OVER (ORDER BY rem DESC, stratum) <= d.d
        |      THEN 1 ELSE 0 END AS quota FROM b, d),
        |r AS (SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source ORDER BY
        |      ((doc_id % 1000000007) * 2654435761) % 1000000007, doc_id)
        |    AS rk FROM documents)
        |SELECT source, count(*) AS n_sampled, min(doc_id) AS min_id,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM r JOIN q ON r.source = q.stratum
        |WHERE rk <= quota GROUP BY 1 ORDER BY 1""".stripMargin),

    // Conversion-lag percentiles: x107's strict funnel extended with
    // HOW LONG conversion takes — exact interpolated p50/p90 of the
    // first-view → first-purchase lag per day (the portable percentile
    // definition both engines share; inputs are exact integer µs).
    "x116_conversion_lag" -> entry(
      (s, dir) => {
        val ev = tbl(s, dir, "events").select(col("user_id"),
          to_date(col("ts")).as("d"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        val v = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id"), col("d")).agg(min(col("us")).as("v_us"))
        val c = ev.filter(col("event_type") === "click")
          .join(v, Seq("user_id", "d")).filter(col("us") > col("v_us"))
          .groupBy(col("user_id"), col("d")).agg(min(col("us")).as("c_us"))
        val pch = ev.filter(col("event_type") === "purchase")
          .join(c, Seq("user_id", "d")).filter(col("us") > col("c_us"))
          .groupBy(col("user_id"), col("d")).agg(min(col("us")).as("p_us"))
        pch.join(v, Seq("user_id", "d"))
          .select(col("d"), (col("p_us") - col("v_us")).as("lag_us"))
          .groupBy(col("d"))
          .agg(count(lit(1)).as("n_conversions"),
            percentile(col("lag_us"), array(lit(0.5), lit(0.9))).as("qs"))
          .select(col("d"), col("n_conversions"),
            col("qs").getItem(0).as("lag_p50_us"),
            col("qs").getItem(1).as("lag_p90_us"))
          .orderBy(col("d"))
      },
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d, event_type,
        |    epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, d, min(us) AS v_us FROM e
        |      WHERE event_type = 'view' GROUP BY 1, 2),
        |c AS (SELECT e.user_id, e.d, min(e.us) AS c_us FROM e
        |      JOIN v ON e.user_id = v.user_id AND e.d = v.d
        |      WHERE e.event_type = 'click' AND e.us > v.v_us
        |      GROUP BY 1, 2),
        |p AS (SELECT e.user_id, e.d, min(e.us) AS p_us FROM e
        |      JOIN c ON e.user_id = c.user_id AND e.d = c.d
        |      WHERE e.event_type = 'purchase' AND e.us > c.c_us
        |      GROUP BY 1, 2)
        |SELECT p.d, count(*) AS n_conversions,
        |  quantile_cont(p.p_us - v.v_us, 0.5) AS lag_p50_us,
        |  quantile_cont(p.p_us - v.v_us, 0.9) AS lag_p90_us
        |FROM p JOIN v ON p.user_id = v.user_id AND p.d = v.d
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // CSV quarantine ingest (x95's sibling for the second wire format):
    // schema'd PERMISSIVE from_csv; truncated lines surface as ok=false
    // with null fields — quarantined, never silently dropped, never
    // failing the batch. The ok gate checks field COUNT too: a
    // truncated line whose id still parses is caught.
    "x117_csv_ingest" -> entry(
      (s, dir) => {
        val raw = tbl(s, dir, "documents")
          .withColumn("line",
            when(col("doc_id") % 13 === 0, // truncated: last field lost
              concat(col("doc_id"), lit(","), col("lang")))
              .otherwise(concat(col("doc_id"), lit(","), col("lang"),
                lit(","), length(col("text")))))
        graft.sources.TableIO
          .parseCsv(raw, "line", "id BIGINT, lang STRING, n BIGINT", "id")
          // quarantined rows expose the RAW line only — PERMISSIVE's
          // half-parsed fields (id intact, tail null) must not leak as
          // if they were data
          .select(col("doc_id"), col("ok"),
            when(col("ok"), col("parsed.id")).as("id_parsed"),
            when(col("ok"), col("parsed.lang")).as("lang_parsed"),
            when(col("ok"), col("parsed.n")).as("n_parsed"))
          .orderBy(col("doc_id"))
      },
      """SELECT doc_id, doc_id % 13 != 0 AS ok,
        |  CASE WHEN doc_id % 13 != 0 THEN doc_id END AS id_parsed,
        |  CASE WHEN doc_id % 13 != 0 THEN lang END AS lang_parsed,
        |  CASE WHEN doc_id % 13 != 0 THEN length(text) END AS n_parsed
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Two-stage matryoshka retrieval: shortlist-50 by the 16-dim prefix
    // cosine (16x less scan bandwidth with a stored prefix column),
    // exact full-dim rerank over the shortlist only — the operator that
    // EXPLOITS the truncation x42/x46 audit. Full vectors are read for
    // shortlist x queries rows, never the corpus.
    "x118_twostage_retrieval" -> entry(
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        Similarity.twoStageTopK(emb,
            emb.filter(col("vec_id") % 100 === 0),
            "vec_id", "embedding", prefixDim = 16, shortlist = 50, k = 10)
          .select(col("qid"), col("rnk"), col("nid"),
            round(col("sim"), 4).as("sim"))
          .orderBy(col("qid"), col("rnk"))
      },
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
        |    (CAST(embedding AS DOUBLE[]))[1:16] AS qp
        |  FROM embeddings WHERE vec_id % 100 = 0),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv,
        |    (CAST(embedding AS DOUBLE[]))[1:16] AS cp FROM embeddings),
        |s1 AS (SELECT qid, nid, cv, qv, row_number() OVER (
        |    PARTITION BY qid ORDER BY list_cosine_similarity(cp, qp)
        |      DESC, nid) AS prnk FROM c, q)
        |SELECT qid, rnk, nid, round(sim, 4) AS sim FROM (
        |  SELECT qid, nid, list_cosine_similarity(cv, qv) AS sim,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY list_cosine_similarity(cv, qv) DESC, nid) AS rnk
        |  FROM s1 WHERE prnk <= 50)
        |WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin),

    // Per-DIMENSION int8 quantization error: x40 grades per-vector
    // fidelity; this finds WHICH dimensions drive the error — the input
    // to a mixed-precision layout (keep hot dims fp16, quantize the
    // rest). Same portable round-half-up code as x40; per-dim MAX of
    // identical IEEE doubles is order-free, so no output rounding is
    // needed. Scan-local posexplode + one dim-keyed aggregation.
    "x119_dim_quant_audit" -> entry(
      (s, dir) => {
        val b = tbl(s, dir, "embeddings")
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("v"))
          .withColumn("mx", array_max(transform(col("v"),
            x => abs(x))))
          .filter(col("mx") > 0)
          .withColumn("err", expr(
            """transform(v, (x, i) ->
              |  abs(floor(x * 127 / mx + 0.5d) * mx / 127 - x))"""
              .stripMargin))
        b.select(posexplode(col("err")).as(Seq("dim", "e")))
          .groupBy(col("dim").cast("long").as("dim"))
          .agg(count(lit(1)).as("n_vecs"), max(col("e")).as("max_abs_err"))
          .orderBy(col("dim"))
      },
      """WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) AS mx FROM b
        |  WHERE list_max(list_transform(v, x -> abs(x))) > 0),
        |e AS (SELECT unnest(list_transform(range(1, len(v) + 1),
        |      i -> abs(floor(v[i] * 127 / mx + 0.5) * mx / 127 - v[i])))
        |      AS e,
        |    unnest(range(0, len(v))) AS dim FROM q)
        |SELECT dim, count(*) AS n_vecs, max(e) AS max_abs_err
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin),

    // Experiment readout: users deterministically bucketed by the x25
    // portable hash (NOT user_id parity — sequential ids correlate with
    // signup cohorts), per-variant conversion and exact DECIMAL value;
    // integer basis-point rates, no float division in outputs. The
    // hash-bucket assignment is the same replay-stable primitive the
    // samplers use — an experiment framework needs nothing more from
    // the engine.
    "x120_ab_readout" -> entry(
      (s, dir) => {
        val p = 1000000007L
        val ev = tbl(s, dir, "events").select(col("user_id"),
          col("event_type"), col("value"),
          (pmod(pmod(col("user_id"), lit(p)) * lit(2654435761L), lit(p)) % 2)
            .as("variant"))
        ev.groupBy(col("variant"))
          .agg(countDistinct(col("user_id")).as("n_users"),
            countDistinct(when(col("event_type") === "purchase",
              col("user_id"))).as("n_converted"),
            sum(when(col("event_type") === "purchase",
              col("value").cast("decimal(18,2)"))).cast("double")
              .as("purchase_value"))
          .select(col("variant"), col("n_users"), col("n_converted"),
            expr("(10000 * n_converted) div n_users").as("conversion_bp"),
            col("purchase_value"))
          .orderBy(col("variant"))
      },
      """WITH e AS (SELECT user_id, event_type, value,
        |    ((user_id % 1000000007) * 2654435761) % 1000000007 % 2
        |      AS variant FROM events)
        |SELECT variant, count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT CASE WHEN event_type = 'purchase'
        |    THEN user_id END) AS n_converted,
        |  (10000 * count(DISTINCT CASE WHEN event_type = 'purchase'
        |    THEN user_id END)) // count(DISTINCT user_id) AS conversion_bp,
        |  CAST(sum(CASE WHEN event_type = 'purchase'
        |    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
        |    AS purchase_value
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin),

    // Dedup threshold sweep: how many near-dup pairs would each Jaccard
    // threshold remove — the tuning curve for θ, from ONE pass over the
    // blocked pairs (x04's block shape). This is the sf-small all-pairs
    // TRUTH; the declared crawl-scale sibling is x140_dedup_sweep_lsh,
    // which sweeps the SAME histogram over x02's banded LSH candidates
    // with zero quadratic joins. Bands are EXACT integer deciles of the
    // rational Jaccard — `(10·|∩|) div |∪|` — so no float threshold
    // comparison anywhere; the cumulative runs over the 11-row band
    // table.
    "x121_dedup_threshold_sweep" -> entry(
      (s, dir) => {
        graft.functions.Functions.register(s)
        val t = tbl(s, dir, "documents").select(col("doc_id"),
          col("source"),
          array_sort(array_distinct(split(col("text"), " "))).as("toks"))
        val inter = call_function("sorted_intersect_size",
          col("a.toks"), col("b.toks"))
        // wide(): the corpus is one byte-small file = one scan task, and
        // the broadcast-join probe loop (where every merge walk runs)
        // inherits that width — widen the PROBE side so the quadratic
        // CPU spreads across cores (the x85/x93 Par.widen rationale).
        // At a scale where the build side outgrows broadcast this query
        // is the wrong tool by declaration — x140 is the crawl-scale
        // sweep; a shuffle-join form here would also need bucket-pair
        // replication (20 source keys = 20 busy tasks otherwise).
        val right = wide(t)
        // the i > 0 gate reads an opaque()-wrapped column (the
        // graft.functions.Opaque barrier): a plain column filter pushes
        // down into the join condition, where it (a) re-evaluates the
        // O(|toks|) merge walk per pair (once in the condition, again
        // in the projection) and (b) sits AHEAD of the cheap doc_id<
        // conjunct, so every unordered candidate pays it twice. The
        // barrier keeps the join condition equi+< only and the
        // intersect computed once per pair; with the widen, 6.7 → 1.2 s
        // at sf0.1 on the regenerated r9 corpus. (A typed
        // .as[(Long, Long)] boundary works too but crashes on NULL-text
        // rows — a NULL `i` cannot deserialize into a primitive Long —
        // where this filter just drops them, like the pre-r9 form.)
        val pairs = t.as("a").join(right.as("b"),
            col("a.source") === col("b.source") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(call_function("opaque", inter).cast("long").as("i"),
            (size(col("a.toks")) + size(col("b.toks"))).cast("long").as("ss"))
          .filter(col("i") > 0)
          .select(expr("(10L * i) div (ss - i)").as("band"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("band").desc)
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        pairs.groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
          .withColumn("cum_at_or_above", sum(col("n_pairs")).over(w))
          .orderBy(col("band"))
      },
      """WITH t AS (SELECT doc_id, source,
        |    list_distinct(string_split(text, ' ')) AS toks FROM documents),
        |p AS (SELECT len(list_intersect(a.toks, b.toks)) AS i,
        |    len(a.toks) + len(b.toks) AS ss
        |  FROM t a JOIN t b ON a.source = b.source
        |    AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.toks, b.toks)) > 0),
        |b AS (SELECT (10 * i) // (ss - i) AS band, count(*) AS n_pairs
        |      FROM p GROUP BY 1)
        |SELECT band, n_pairs, CAST(sum(n_pairs) OVER (ORDER BY band DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_at_or_above
        |FROM b ORDER BY band""".stripMargin),

    // Join-size estimation WITHOUT running the join: |A ⋈ B on k| =
    // Σ_k n_A(k)·n_B(k), computable exactly from the per-key COUNT
    // tables — one row per distinct key instead of the join's output
    // rows. Here the self-join shape (Σ n²) that sizes per-user pair
    // work before x86-style sessionization; top contributors are the
    // keys x90's skew audit would salt. The count table is the ONLY
    // thing that shuffles.
    "x122_join_size_estimate" -> entry(
      (s, dir) => {
        val counts = tbl(s, dir, "events")
          .groupBy(col("user_id")).agg(count(lit(1)).as("n_rows"))
          .withColumn("pairs", col("n_rows") * col("n_rows"))
        val tot = counts.agg(sum(col("pairs")).as("__t"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("pairs").desc, col("user_id"))
        counts.crossJoin(broadcast(tot))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select(col("rnk").cast("long").as("rnk"), col("user_id"),
            col("n_rows"), col("pairs"),
            expr("(10000 * pairs) div __t").as("share_bp"),
            col("__t").as("total_join_rows"))
          .orderBy(col("rnk"))
      },
      """WITH c AS (SELECT user_id, count(*) AS n_rows,
        |    count(*) * count(*) AS pairs FROM events GROUP BY 1),
        |t AS (SELECT sum(pairs) AS t FROM c)
        |SELECT rnk, user_id, n_rows, pairs,
        |  CAST((10000 * pairs) // t.t AS BIGINT) AS share_bp,
        |  CAST(t.t AS BIGINT) AS total_join_rows
        |FROM (SELECT *, row_number() OVER (ORDER BY pairs DESC, user_id)
        |      AS rnk FROM c) r, t
        |WHERE rnk <= 5 ORDER BY rnk""".stripMargin),

    // Trailing-window robust anomaly flags on a daily metric: each
    // day's purchase total vs the median/MAD of the PRIOR 7 days —
    // x89's heavy-tail-proof gate on a rolling axis (one bad day
    // can't poison the baseline that judges the next). The corpus
    // aggregates to the DAILY table first; the trailing window runs
    // over day-count rows, where a single-partition frame is free.
    // Medians from exact DECIMAL-derived doubles; halving and abs are
    // IEEE-exact, so no output rounding.
    "x123_daily_anomaly" -> entry(
      (s, dir) => {
        val daily = tbl(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("d"))
          .agg(sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("v"))
        def med(l: String) =
          s"""CASE WHEN size($l) = 0 THEN CAST(NULL AS DOUBLE) ELSE
             |  (element_at(array_sort($l),
             |     CAST((size($l) + 1) div 2 AS INT)) +
             |   element_at(array_sort($l),
             |     CAST(size($l) div 2 + 1 AS INT))) / 2
             |END""".stripMargin
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("d"))
          .rowsBetween(-7, -1)
        daily.withColumn("L", collect_list(col("v")).over(w))
          .withColumn("med", expr(med("L")))
          .withColumn("mad",
            expr(med("transform(L, x -> abs(x - med))")))
          .select(col("d"), col("v"), col("med"), col("mad"),
            (col("mad") > 0 &&
              abs(col("v") - col("med")) > lit(3.0) * col("mad"))
              .as("flag"))
          .orderBy(col("d"))
      },
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |win AS (SELECT d, v, list(v) OVER (ORDER BY d
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS L FROM daily),
        |m AS (SELECT d, v, L, CASE WHEN len(L) = 0 THEN NULL ELSE
        |    (list_sort(L)[(len(L) + 1) // 2] +
        |     list_sort(L)[len(L) // 2 + 1]) / 2 END AS med FROM win),
        |mm AS (SELECT d, v, med,
        |    CASE WHEN len(L) = 0 THEN NULL ELSE
        |      (list_sort(list_transform(L, x -> abs(x - med)))
        |         [(len(L) + 1) // 2] +
        |       list_sort(list_transform(L, x -> abs(x - med)))
        |         [len(L) // 2 + 1]) / 2 END AS mad FROM m)
        |SELECT d, v, med, mad,
        |  (mad > 0 AND abs(v - med) > 3 * mad) AS flag
        |FROM mm ORDER BY d""".stripMargin),

    // Vocabulary coverage curve: corpus token mass covered by the top
    // 2^k vocabulary entries, per k — the plot that picks a tokenizer
    // vocab size. Frequency rank comes from the DISTRIBUTED global
    // rank (range-partition + zipWithIndex — x82's primitive), never a
    // single-task window over the vocabulary (millions of rows at
    // crawl scale); power-of-two buckets via integer bit length; the
    // cumulative runs over the ~20 bucket rows.
    "x124_vocab_coverage" -> entry(
      (s, dir) => {
        val tf = tbl(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) >= 1)
          .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        val ranked = Sharding.globalRowNumber(tf,
          Seq(col("cnt").desc, col("tok")))
        val buckets = ranked
          .select((length(bin(col("rn"))) - 1).cast("long").as("k"),
            col("cnt"))
          .groupBy(col("k"))
          .agg(count(lit(1)).as("n_tokens"), sum(col("cnt")).as("mass"))
        val tot = buckets.agg(sum(col("mass")).as("__t"))
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("k"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        buckets.crossJoin(broadcast(tot))
          .withColumn("cum_mass", sum(col("mass")).over(w))
          .select(col("k"), expr("CAST(pow(2, k + 1) - 1 AS BIGINT)")
              .as("vocab_size"),
            col("n_tokens"), col("mass"), col("cum_mass"),
            expr("(10000 * cum_mass) div __t").as("coverage_bp"))
          .orderBy(col("k"))
      },
      """WITH tf AS (SELECT tok, count(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE length(tok) >= 1 GROUP BY 1),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok)
        |      AS rn FROM tf),
        |b AS (SELECT length(bin(rn)) - 1 AS k, count(*) AS n_tokens,
        |      sum(cnt) AS mass FROM r GROUP BY 1),
        |t AS (SELECT sum(mass) AS t FROM b)
        |SELECT k, CAST(pow(2, k + 1) - 1 AS BIGINT) AS vocab_size,
        |  n_tokens, CAST(mass AS BIGINT) AS mass,
        |  CAST(sum(mass) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS cum_mass,
        |  CAST((10000 * sum(mass) OVER (ORDER BY k
        |      ROWS UNBOUNDED PRECEDING))
        |    // t.t AS BIGINT) AS coverage_bp
        |FROM b, t ORDER BY k""".stripMargin),

    // Code-switching detector: language-ID each HALF of a document and
    // flag mismatches — the mixed-language signal whole-doc ID (x08)
    // structurally misses, because one half's markers win the vote for
    // the whole. Every 10th doc additionally concatenates its
    // successor (successor via an equi-join on doc_id + 1 — no global
    // window) to exercise the doc-boundary-straddling case. On this
    // synthetic corpus (English-ish text under every label) the
    // off-diagonal mass is en↔und half disagreement — the same
    // asymmetric-marker-density signal that flags true cross-language
    // halves on real data. Output: (first-half, second-half) matrix.
    "x125_code_switching" -> entry(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val nxt = docs.select((col("doc_id") - 1).as("doc_id"),
          col("text").as("next_text"))
        val mixed = docs.join(nxt, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("doc_id") % 10 === 0 && col("next_text").isNotNull,
              concat(col("text"), lit(" "), col("next_text")))
              .otherwise(col("text")).as("mx"))
          .withColumn("tk", split(col("mx"), " "))
          .withColumn("h1", concat_ws(" ",
            expr("slice(tk, 1, CAST(size(tk) div 2 AS INT))")))
          .withColumn("h2", concat_ws(" ",
            expr("slice(tk, CAST(size(tk) div 2 + 1 AS INT), " +
              "CAST(size(tk) - size(tk) div 2 AS INT))")))
        mixed.select(
            TextAnalysis.langId(col("h1")).as("lang_a"),
            TextAnalysis.langId(col("h2")).as("lang_b"))
          .groupBy(col("lang_a"), col("lang_b"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("lang_a"), col("lang_b"))
      },
      s"""WITH nx AS (SELECT doc_id - 1 AS doc_id, text AS next_text
        |            FROM documents),
        |m AS (SELECT d.doc_id, CASE WHEN d.doc_id % 10 = 0
        |        AND nx.next_text IS NOT NULL
        |      THEN d.text || ' ' || nx.next_text ELSE d.text END AS mx
        |  FROM documents d LEFT JOIN nx ON d.doc_id = nx.doc_id),
        |h AS (SELECT doc_id, string_split(mx, ' ') AS tk FROM m),
        |l AS (SELECT doc_id,
        |    ${langCaseSql("(tk[1 : CAST(len(tk) // 2 AS BIGINT)])")} AS lang_a,
        |    ${langCaseSql("(tk[CAST(len(tk) // 2 + 1 AS BIGINT) : len(tk)])")}
        |      AS lang_b
        |  FROM h)
        |SELECT lang_a, lang_b, count(*) AS n_docs FROM l
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Last-touch attribution with a 7-day window: each purchase credits
    // the latest view at or before it within 7 days. ONE per-user
    // running-max window over the interleaved view/purchase stream —
    // views sort before purchases at equal timestamps, so a
    // same-instant view attributes — instead of the purchases×views
    // range join whose fan-out is unbounded at 100 TB. Revenue by
    // attribution day, exact DECIMAL; 'none' = outside every window.
    "x126_last_touch_attribution" -> entry(
      (s, dir) => {
        val ev = tbl(s, dir, "events")
          .filter(col("event_type").isin("view", "purchase"))
          .select(col("user_id"), col("event_id"), col("value"),
            unix_micros(col("ts")).as("us"),
            when(col("event_type") === "view", 0).otherwise(1).as("kind"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("us"), col("kind"), col("event_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        ev.withColumn("lv_us",
            max(when(col("kind") === 0, col("us"))).over(w))
          .filter(col("kind") === 1)
          .select(
            when(col("lv_us").isNotNull &&
              col("us") - col("lv_us") <= 7L * 86400000000L,
              expr("CAST(to_date(timestamp_micros(lv_us)) AS STRING)"))
              .otherwise("none").as("attr_day"),
            col("value"))
          .groupBy(col("attr_day"))
          .agg(count(lit(1)).as("n_purchases"),
            sum(col("value").cast("decimal(18,2)")).cast("double")
              .as("revenue"))
          .orderBy(col("attr_day"))
      },
      """WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS us,
        |    CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |r AS (SELECT *, max(CASE WHEN kind = 0 THEN us END) OVER (
        |    PARTITION BY user_id ORDER BY us, kind, event_id
        |    ROWS UNBOUNDED PRECEDING) AS lv_us FROM e)
        |SELECT CASE WHEN lv_us IS NOT NULL
        |    AND us - lv_us <= 7 * 86400000000
        |  THEN CAST(CAST(make_timestamp(lv_us) AS DATE) AS VARCHAR)
        |  ELSE 'none' END AS attr_day,
        |  count(*) AS n_purchases,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM r WHERE kind = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Referential-integrity audit across the TPC-H relationship chain:
    // orphan rate per FK edge (child rows whose parent key is missing)
    // via LEFT ANTI joins — the data-quality gate before any join-based
    // pipeline trusts its keys. Each edge is one anti join on its key;
    // integer basis-point rates. (The synthetic data is clean — zero
    // orphans IS the assertion; a real lake run flags rot here first.)
    "x127_fk_integrity" -> entry(
      (s, dir) => {
        // one aggregate per edge, all five unioned into ONE job: the
        // former shape ran 2 driver actions per edge (a count + an
        // anti-join count) — 10 sequential jobs whose scheduling gaps
        // dominated the audit. A left join against the distinct parent
        // keys + a null-count aggregate gives both numbers in one pass
        // per edge, and the union lets Spark run all five concurrently.
        def edge(name: String,
            child: org.apache.spark.sql.DataFrame, childKey: String,
            parent: org.apache.spark.sql.DataFrame,
            parentKey: String) =
          child.select(col(childKey))
            .join(parent.select(col(parentKey).as(childKey)).distinct()
                .withColumn("__hit", lit(1)), Seq(childKey), "left")
            // coalesce: sum over ZERO rows is NULL, but an empty child
            // table has 0 orphans (the oracle's count FILTER agrees)
            .agg(lit(name).as("edge"), count(lit(1)).as("n_children"),
              coalesce(sum(when(col("__hit").isNull, 1L).otherwise(0L)),
                lit(0L)).as("n_orphans"))
        val li = tbl(s, dir, "lineitem"); val o = tbl(s, dir, "orders")
        val c = tbl(s, dir, "customer"); val su = tbl(s, dir, "supplier")
        val n4 = tbl(s, dir, "nation")
        Seq(
          edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
          edge("lineitem->supplier", li, "l_suppkey", su, "s_suppkey"),
          edge("orders->customer", o, "o_custkey", c, "c_custkey"),
          edge("customer->nation", c, "c_nationkey", n4, "n_nationkey"),
          edge("supplier->nation", su, "s_nationkey", n4, "n_nationkey"))
          .reduce(_.unionByName(_))
          // n_children > 0 guard: ANSI `div` throws on an empty child
          // table where DuckDB `//` yields NULL — emit NULL on both
          .withColumn("orphan_bp",
            expr("CASE WHEN n_children > 0 THEN " +
              "(10000 * n_orphans) div n_children " +
              "ELSE CAST(NULL AS BIGINT) END"))
          .orderBy(col("edge"))
      },
      """WITH u AS (
        |  SELECT 'lineitem->orders' AS edge, count(*) AS n_children,
        |    count(*) FILTER (WHERE o_orderkey IS NULL) AS n_orphans
        |  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |  UNION ALL
        |  SELECT 'lineitem->supplier', count(*),
        |    count(*) FILTER (WHERE s_suppkey IS NULL)
        |  FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
        |  UNION ALL
        |  SELECT 'orders->customer', count(*),
        |    count(*) FILTER (WHERE c_custkey IS NULL)
        |  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |  UNION ALL
        |  SELECT 'customer->nation', count(*),
        |    count(*) FILTER (WHERE n_nationkey IS NULL)
        |  FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL
        |  SELECT 'supplier->nation', count(*),
        |    count(*) FILTER (WHERE n_nationkey IS NULL)
        |  FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey)
        |SELECT edge, n_children, n_orphans,
        |  CAST(CASE WHEN n_children > 0 THEN
        |      (10000 * n_orphans) // n_children
        |    ELSE NULL END AS BIGINT) AS orphan_bp
        |FROM u ORDER BY edge""".stripMargin),

    // SCD2 version table from the append-only log: each event opens a
    // version valid [ts, next_ts) per key — x100's interval derivation
    // MATERIALIZED as the warehouse's slowly-changing-dimension build.
    // One per-key window; the open (current) version carries a null
    // valid_to. Sampled to every 20th user for a bounded output.
    "x128_scd2_versions" -> entry(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        tbl(s, dir, "events").filter(col("user_id") % 20 === 0)
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
          .withColumn("ver", row_number().over(w).cast("long"))
          .withColumn("valid_to_us", lead(col("us"), 1).over(w))
          .select(col("user_id"), col("ver"), col("event_type"),
            col("us").as("valid_from_us"), col("valid_to_us"))
          .orderBy(col("user_id"), col("ver"))
      },
      """SELECT user_id,
        |  CAST(row_number() OVER w AS BIGINT) AS ver, event_type,
        |  epoch_us(ts) AS valid_from_us,
        |  lead(epoch_us(ts)) OVER w AS valid_to_us
        |FROM events WHERE user_id % 20 = 0
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY user_id, ver""".stripMargin),

    // Time-to-conversion curve: days from a user's first signup to
    // their first purchase AFTER it, with never-converted users kept
    // as the censored row (offset -1) — dropping them (the classic
    // survival-analysis mistake) would overstate conversion speed.
    // Two per-user min-aggregations on one key; exact integer day
    // offsets.
    "x129_time_to_convert" -> entry(
      (s, dir) => {
        val ev = tbl(s, dir, "events").select(col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("us"))
        val su = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("us")).as("s_us"))
        val fp = ev.filter(col("event_type") === "purchase")
          .join(su, "user_id").filter(col("us") >= col("s_us"))
          .groupBy(col("user_id")).agg(min(col("us")).as("p_us"))
        su.join(fp, Seq("user_id"), "left")
          .select(coalesce(
            expr("(p_us - s_us) div 86400000000L"), lit(-1L))
            .as("offset_days"))
          .groupBy(col("offset_days"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("offset_days"))
      },
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |           FROM events),
        |s AS (SELECT user_id, min(us) AS s_us FROM e
        |      WHERE event_type = 'signup' GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.us) AS p_us FROM e
        |      JOIN s ON e.user_id = s.user_id
        |      WHERE e.event_type = 'purchase' AND e.us >= s.s_us
        |      GROUP BY 1)
        |SELECT COALESCE((p.p_us - s.s_us) // 86400000000, -1)
        |    AS offset_days, count(*) AS n_users
        |FROM s LEFT JOIN p ON s.user_id = p.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Market-basket pair mining over TPC-H orders: parts bought
    // together, with exact integer lift in basis points (x113's
    // collocation algebra on baskets). The pair fan-out is bounded by
    // BASKET size (~7 lineitems), never the catalog; support floor
    // before the lift join.
    "x130_basket_pairs" -> entry(
      (s, dir) => {
        // Pair generation WITHOUT the self-join (round-14 optimization):
        // one shuffle groups each order's distinct parts into a sorted
        // basket array (partial map-side aggregation — the distinct's
        // separate exchange folds into it), then the x<y pairs unfold
        // scan-locally from each basket with a HOF — the sort-merge
        // self-join on `ok`, its two reshuffles of the (ok, pk) rows,
        // and its per-partition sorts all disappear. 3 Exchanges → 2;
        // identical pair multiset (a sorted-distinct basket enumerates
        // exactly the a.pk < b.pk pairs the join produced). Skew note:
        // a giant basket is quadratic under BOTH shapes; the basket
        // form additionally bounds it to one row's array instead of a
        // join partition.
        val li = tbl(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val baskets = li.groupBy(col("ok"))
          .agg(sort_array(array_distinct(collect_list(col("pk")))).as("ps"))
          .select(col("ps"))
          .localCheckpoint(eager = false) // feeds np AND the pair unfold
        val np = baskets.select(explode(col("ps")).as("pk"))
          .groupBy(col("pk")).agg(count(lit(1)).as("n"))
        val nOrders = tbl(s, dir, "orders")
          .agg(countDistinct(col("o_orderkey")).as("__c"))
        baskets
          .select(explode(expr(
            """flatten(transform(ps, (x, i) ->
              |  transform(slice(ps, i + 2, size(ps) - i - 1),
              |            y -> named_struct('p1', x, 'p2', y))))"""
              .stripMargin)).as("pr"))
          .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
          .groupBy(col("p1"), col("p2"))
          .agg(count(lit(1)).as("n_both"))
          .filter(col("n_both") >= 3)
          .join(broadcast(np.select(col("pk").as("p1"), col("n").as("n1"))),
            "p1")
          .join(broadcast(np.select(col("pk").as("p2"), col("n").as("n2"))),
            "p2")
          .crossJoin(broadcast(nOrders))
          .select(col("p1"), col("p2"), col("n_both"),
            expr("(10000L * __c * n_both) div (n1 * n2)").as("lift_bp"))
          .orderBy(col("lift_bp").desc, col("p1"), col("p2"))
          .limit(20)
      },
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |np AS (SELECT pk, count(*) AS n FROM li GROUP BY 1),
        |c AS (SELECT count(DISTINCT o_orderkey) AS c FROM orders),
        |p AS (SELECT a.pk AS p1, b.pk AS p2, count(*) AS n_both
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |      GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT p1, p2, n_both,
        |  (10000 * c.c * n_both) // (x1.n * x2.n) AS lift_bp
        |FROM p JOIN np x1 ON p.p1 = x1.pk JOIN np x2 ON p.p2 = x2.pk, c
        |ORDER BY lift_bp DESC, p1, p2 LIMIT 20""".stripMargin),

    // Behavior-flow transition matrix: consecutive event-type pairs per
    // user (the Sankey-diagram edge list, and a first-order Markov
    // model of the event stream). One per-user lag window; 'START'
    // marks each user's entry edge so row sums reconstruct user counts.
    "x131_event_transitions" -> entry(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        tbl(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
          .withColumn("prev",
            coalesce(lag(col("event_type"), 1).over(w), lit("START")))
          .groupBy(col("prev").as("from_type"),
            col("event_type").as("to_type"))
          .agg(count(lit(1)).as("n_transitions"))
          .orderBy(col("from_type"), col("to_type"))
      },
      """WITH t AS (SELECT COALESCE(lag(event_type) OVER (
        |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id),
        |      'START') AS from_type, event_type AS to_type FROM events)
        |SELECT from_type, to_type, count(*) AS n_transitions
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Spearman rank correlation with EXACT integer rank arithmetic:
    // is event value confounded with time of day, per event type? Ties
    // take average ranks kept integer by the ×2 trick
    // (2·min_rank + ties − 1); Σ(2d)² is an exact BIGINT, and ρ =
    // 1 − 3·Σ(2d)² / (2n(n²−1)) converts to double ONLY at the end —
    // int→double is exact below 2^53 (audit-sized partitions; at
    // larger n ship the two integers and divide downstream). No
    // negative integer division anywhere (Spark `div` truncates where
    // DuckDB `//` floors — they diverge on negatives).
    "x132_spearman_confounds" -> entry(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = tbl(s, dir, "events").select(col("event_type"),
          col("value"), expr("unix_micros(ts) % 86400000000L").as("tod"))
        def r2(c: String) =
          (rank().over(Window.partitionBy(col("event_type"))
            .orderBy(col(c))) * 2 +
            count(lit(1)).over(Window.partitionBy(col("event_type"),
              col(c))) - 1).cast("long")
        // rho as an EXACT scaled integer (the r7/r8 portability rule:
        // no float, no HUGEINT on the contract): rho_x10000 =
        // 10000 − floor(30000·d2x4 / (2n(n²−1))), all-BIGINT since the
        // floored term is non-negative. 30000·d2x4 ≤ 1.2e5·n³ fits a
        // Long through sf0.1 (n≈2e4 → ~1e18); a 100 TB corpus swaps
        // the multiply into DECIMAL(38,0) on both engines.
        ev.withColumn("rx", r2("value")).withColumn("ry", r2("tod"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum((col("rx") - col("ry")) * (col("rx") - col("ry")))
              .as("d2x4"))
          .select(col("event_type"), col("n"), col("d2x4"),
            // n > 1 guard: the denominator 2n(n²−1) is 0 for a
            // single-row group, where Spark's ANSI `div` would throw
            // DIVIDE_BY_ZERO while DuckDB's `//` quietly yields NULL —
            // make both engines emit NULL (rho is undefined at n = 1)
            expr("CASE WHEN n > 1 THEN " +
              "10000L - (30000L * d2x4) div (2L * n * (n * n - 1)) " +
              "ELSE CAST(NULL AS BIGINT) END")
              .as("rho_x10000"))
          .orderBy(col("event_type"))
      },
      """WITH r AS (SELECT event_type,
        |    2 * rank() OVER (PARTITION BY event_type ORDER BY value)
        |      + count(*) OVER (PARTITION BY event_type, value) - 1
        |      AS rx,
        |    2 * rank() OVER (PARTITION BY event_type
        |        ORDER BY epoch_us(ts) % 86400000000)
        |      + count(*) OVER (PARTITION BY event_type,
        |        epoch_us(ts) % 86400000000) - 1 AS ry
        |  FROM events),
        |a AS (SELECT event_type, count(*) AS n,
        |      CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS d2x4
        |      FROM r GROUP BY 1)
        |SELECT event_type, n, d2x4,
        |  CAST(CASE WHEN n > 1 THEN
        |      10000 - (30000 * d2x4) // (2 * n * (n * n - 1))
        |    ELSE NULL END AS BIGINT) AS rho_x10000
        |FROM a ORDER BY event_type""".stripMargin),

    // RFM segmentation: users quartiled on Recency (last purchase),
    // Frequency (purchase count) and Monetary (exact DECIMAL total) —
    // ntile over a TOTAL order (user_id tiebreak; ntile without one is
    // nondeterministic under ties and would break replay) — rolled up
    // to segment sizes. The user table is corpus-reduced before any
    // window.
    "x133_rfm_segments" -> entry(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val u = tbl(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(max(unix_micros(col("ts"))).as("last_us"),
            count(lit(1)).as("freq"),
            sum(col("value").cast("decimal(18,2)")).as("mon"))
        def q(c: String) = ntile(4).over(
          Window.orderBy(col(c), col("user_id"))).cast("long")
        u.withColumn("r_q", q("last_us")).withColumn("f_q", q("freq"))
          .withColumn("m_q", q("mon"))
          .groupBy(col("r_q"), col("f_q"), col("m_q"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("r_q"), col("f_q"), col("m_q"))
      },
      """WITH u AS (SELECT user_id, max(epoch_us(ts)) AS last_us,
        |    count(*) AS freq,
        |    sum(CAST(value AS DECIMAL(18,2))) AS mon
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |t AS (SELECT
        |    ntile(4) OVER (ORDER BY last_us, user_id) AS r_q,
        |    ntile(4) OVER (ORDER BY freq, user_id) AS f_q,
        |    ntile(4) OVER (ORDER BY mon, user_id) AS m_q FROM u)
        |SELECT r_q, f_q, m_q, count(*) AS n_users FROM t
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // Degree distribution of the synthetic citation graph, log2-binned
    // (integer bit length, the x109 bucket rule) — the first sanity
    // plot of any graph pipeline and the skew signal that sizes x99's
    // orientation threshold. Undirected-closure degrees, one count
    // shuffle + bucket agg.
    "x134_degree_distribution" -> entry(
      (s, dir) => {
        val e = graft.ext.Graphs.syntheticEdges(
          tbl(s, dir, "documents"), "doc_id")
        val und = e.select(col("src"), col("dst"))
          .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
          .filter(col("src") =!= col("dst")).distinct()
        und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .select((length(bin(col("deg"))) - 1).cast("long").as("k"),
            col("deg"))
          .groupBy(col("k"))
          .agg(count(lit(1)).as("n_vertices"),
            min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
          .orderBy(col("k"))
      },
      """WITH c AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS c
        |           FROM documents),
        |e0 AS (SELECT CAST(doc_id AS BIGINT) AS src,
        |    CAST((doc_id*31+7) % c.c AS BIGINT) AS dst FROM documents, c
        |  UNION ALL SELECT CAST(doc_id AS BIGINT),
        |    CAST((doc_id*57+13) % c.c AS BIGINT) FROM documents, c
        |  UNION ALL SELECT CAST(doc_id AS BIGINT),
        |    CAST((doc_id*97+29) % c.c AS BIGINT) FROM documents, c),
        |und AS (SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM e0 UNION ALL
        |    SELECT dst, src FROM e0) WHERE src != dst),
        |d AS (SELECT src, count(*) AS deg FROM und GROUP BY 1)
        |SELECT length(bin(deg)) - 1 AS k, count(*) AS n_vertices,
        |  min(deg) AS min_deg, max(deg) AS max_deg
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin),

    // Backlog aging: open orders by age bucket (days since order date,
    // measured against the corpus watermark = max order date, so the
    // audit is replay-stable without wall-clock), per status — counts
    // and exact DECIMAL value at risk. One broadcast scalar + one agg.
    "x136_backlog_aging" -> entry(
      (s, dir) => {
        val o = tbl(s, dir, "orders")
        val wm = o.agg(max(unix_micros(col("o_orderdate").cast("timestamp"))).as("__wm"))
        o.crossJoin(broadcast(wm))
          .select(col("o_orderstatus").as("status"),
            expr("(__wm - unix_micros(CAST(o_orderdate AS TIMESTAMP))) div (7 * 86400000000L)")
              .as("age_weeks"),
            col("o_totalprice"))
          .groupBy(col("status"), col("age_weeks"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("value_at_risk"))
          .orderBy(col("status"), col("age_weeks"))
      },
      """WITH wm AS (SELECT max(epoch_us(o_orderdate)) AS wm FROM orders)
        |SELECT o_orderstatus AS status,
        |  (wm.wm - epoch_us(o_orderdate)) // (7 * 86400000000)
        |    AS age_weeks,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS value_at_risk
        |FROM orders, wm GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Trending detector with INTEGER exponential decay: a part's score
    // halves per week of age (count >> weeks_ago) — bit-shift decay is
    // exact, partial-agg-safe, and portable where a float 0.5^age is
    // none of those. The cold-start recommendation baseline; top-15 by
    // decayed score with the undecayed count alongside to show the
    // re-ranking decay causes.
    "x137_trending_decay" -> entry(
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
          .join(tbl(s, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_partkey").as("pk"),
            expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("us"))
        val wm = li.agg(max(expr("us div (7 * 86400000000L)")).as("__w"))
        li.crossJoin(broadcast(wm))
          .select(col("pk"),
            expr("__w - (us div (7 * 86400000000L))").as("age"))
          .filter(col("age") < 8) // shifts beyond the horizon are zero
          .groupBy(col("pk"))
          .agg(count(lit(1)).as("n_orders"),
            sum(expr("1L << CAST(7 - age AS INT)")).as("score"))
          .orderBy(col("score").desc, col("pk"))
          .limit(15)
      },
      """WITH li AS (SELECT l_partkey AS pk, epoch_us(o_orderdate) AS us
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |wm AS (SELECT max(us // (7 * 86400000000)) AS w FROM li),
        |a AS (SELECT pk, wm.w - (us // (7 * 86400000000)) AS age
        |      FROM li, wm WHERE wm.w - (us // (7 * 86400000000)) < 8)
        |SELECT pk, count(*) AS n_orders,
        |  CAST(sum(1 << (7 - age)) AS BIGINT) AS score
        |FROM a GROUP BY 1 ORDER BY score DESC, pk LIMIT 15""".stripMargin),

    // Column completeness/cardinality profile — the first thing any
    // data-quality tool computes on an unfamiliar table: per column,
    // null count and EXACT distinct cardinality (swap
    // approx_count_distinct under x12's bound at 100 TB). One unioned
    // aggregate pass per column; exact integers only.
    "x138_column_profile" -> entry(
      (s, dir) => {
        val ev = tbl(s, dir, "events")
        def prof(cname: String) = ev.agg(
          lit(cname).as("column_name"), count(lit(1)).as("n_rows"),
          sum(when(col(cname).isNull, 1L).otherwise(0L)).as("n_null"),
          countDistinct(col(cname)).as("n_distinct"))
        Seq("event_id", "user_id", "event_type", "value", "props")
          .map(prof).reduce(_.unionByName(_))
          .orderBy(col("column_name"))
      },
      """WITH u AS (
        |  SELECT 'event_id' AS column_name, count(*) AS n_rows,
        |    CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_null,
        |    count(DISTINCT event_id) AS n_distinct FROM events
        |  UNION ALL SELECT 'user_id', count(*),
        |    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    count(DISTINCT user_id) FROM events
        |  UNION ALL SELECT 'event_type', count(*),
        |    CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    count(DISTINCT event_type) FROM events
        |  UNION ALL SELECT 'value', count(*),
        |    CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    count(DISTINCT value) FROM events
        |  UNION ALL SELECT 'props', count(*),
        |    CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    count(DISTINCT props) FROM events)
        |SELECT * FROM u ORDER BY column_name""".stripMargin),

    // The end-to-end curation funnel in ONE verified query: ingest →
    // quality gate → prefix-fingerprint dedup (keep-first) → exact
    // 500-doc quota sample — each stage one of the engine's families
    // (x27 funnel accounting, x111 fingerprints, x105/x115 quotas),
    // composed and hash-checked as a whole. Per-source stage counts;
    // the numbers ARE the pipeline's audit trail.
    "x139_curation_funnel" -> entry(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val q = docs.filter(col("n_chars").between(100, 5000))
        val fpw = org.apache.spark.sql.expressions.Window
          .partitionBy(sha2(concat_ws(" ",
            slice(split(col("text"), " "), 1, 8)), 256))
        val uniq = q.withColumn("__keep",
            col("doc_id") === min(col("doc_id")).over(fpw))
          .filter(col("__keep")).drop("__keep")
        val sampled = Curation.quotaSample(uniq, "doc_id", "source", 500L)
        def cnt(df: org.apache.spark.sql.DataFrame, name: String) =
          df.groupBy(col("source")).agg(count(lit(1)).as(name))
        cnt(docs, "n_ingested")
          .join(cnt(q, "n_quality"), Seq("source"), "left")
          .join(cnt(uniq, "n_unique"), Seq("source"), "left")
          .join(cnt(sampled, "n_sampled"), Seq("source"), "left")
          .na.fill(0L)
          .orderBy(col("source"))
      },
      """WITH q AS (SELECT * FROM documents
        |           WHERE n_chars BETWEEN 100 AND 5000),
        |u AS (SELECT * FROM (SELECT *, min(doc_id) OVER (PARTITION BY
        |      sha256(array_to_string((string_split(text, ' '))[1:8], ' ')))
        |      AS m FROM q) WHERE doc_id = m),
        |c AS (SELECT source AS stratum, count(*) AS n FROM u GROUP BY 1),
        |t AS (SELECT sum(n) AS c FROM c),
        |b AS (SELECT stratum, n, (500 * n) // t.c AS base,
        |    (500 * n) % t.c AS rem FROM c, t),
        |d AS (SELECT 500 - sum(base) AS d FROM b),
        |qt AS (SELECT stratum, base + CASE WHEN
        |      row_number() OVER (ORDER BY rem DESC, stratum) <= d.d
        |      THEN 1 ELSE 0 END AS quota FROM b, d),
        |r AS (SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source ORDER BY
        |      ((doc_id % 1000000007) * 2654435761) % 1000000007, doc_id)
        |    AS rk FROM u),
        |sm AS (SELECT r.source, count(*) AS n_sampled FROM r
        |       JOIN qt ON r.source = qt.stratum
        |       WHERE rk <= quota GROUP BY 1)
        |SELECT i.source, i.n_ingested,
        |  COALESCE(qq.n_quality, 0) AS n_quality,
        |  COALESCE(uu.n_unique, 0) AS n_unique,
        |  COALESCE(sm.n_sampled, 0) AS n_sampled
        |FROM (SELECT source, count(*) AS n_ingested FROM documents
        |      GROUP BY 1) i
        |LEFT JOIN (SELECT source, count(*) AS n_quality FROM q
        |           GROUP BY 1) qq ON i.source = qq.source
        |LEFT JOIN (SELECT source, count(*) AS n_unique FROM u
        |           GROUP BY 1) uu ON i.source = uu.source
        |LEFT JOIN sm ON i.source = sm.source
        |ORDER BY i.source""".stripMargin),

    // Bounded-round k-core peeling (k=6, 3 rounds): per-round survivor
    // counts as the graph sheds low-cohesion vertices — the dense-
    // neighborhood signal (spam/mirror rings) at a fixed round count so
    // every intermediate state is oracle-verifiable (the x98 argument).
    "x135_kcore_rounds" -> entry(
      (s, dir) =>
        graft.ext.Graphs.kCoreRounds(
            graft.ext.Graphs.syntheticEdges(
              tbl(s, dir, "documents"), "doc_id"), k = 6, rounds = 3)
          .orderBy(col("round")),
      kCoreSql(k = 6, rounds = 3)),

    // The crawl-scale dedup threshold sweep — x121's declared 100 TB
    // sibling: the identical band histogram swept over x02's banded LSH
    // candidate pairs instead of the quadratic per-source all-pairs
    // join. Multi-band duplicate candidates dedup STRUCTURALLY (first-
    // agreeing-band filter, no distinct); the only pair-producing join
    // is the band-bucket equi-join (PlanShapeSpec pins no cartesian).
    // Bands the LSH S-curve rarely surfaces (θ ≲ 0.3 at these k/bands)
    // under-count by design — that is what sweeping a candidate set
    // means; x121 IS the sf-small truth for the full curve. Hash-
    // checked against an independent all-pairs naive (NaiveOracles
    // x140) since the xxhash64 band family is not DuckDB-expressible.
    "x140_dedup_sweep_lsh" -> rowsOnly(
      (s, dir) =>
        graft.ext.TextDedup.lshBandSweep(
          tbl(s, dir, "documents"), "doc_id", "text")),

    // Perceptual image near-dup — the multimodal×dedup crossover: each
    // doc_id synthesizes a real BMP, the ENGINE decodes actual bytes
    // (javax.imageio) and computes the 8×8-crop average-hash
    // (division-free 64·gray > Σgray votes, packed into two 32-bit
    // halves), then the simhash band machinery finds hamming ≤ 3 pairs
    // (4×16-bit bands — pigeonhole-complete at ≤ 3). The ORACLE never
    // decodes: it recomputes the hash from the pixel formula, so a bug
    // in the BMP writer, the decoder, the vote, the bit packing, or
    // the banding breaks the hash. Near-dup structure is real: ids
    // congruent mod 256 render identical crops; adjacent ids are
    // global brightness shifts that flip almost no votes.
    "x141_image_ahash_neardup" -> entry(
      (s, dir) => {
        import s.implicits._
        val mkBmp = udf((id: Long) => Multimodal.syntheticBmp(id))
        val media = tbl(s, dir, "documents")
          .select(col("doc_id").cast("long").as("id"),
            lit("image").as("format"), mkBmp(col("doc_id")).as("media"))
        // wide(): the decode+hash is per-row CPU over a byte-small scan
        val h = Multimodal.imageAHash(
            wide(media).as[Multimodal.MediaRecord])
          .localCheckpoint(eager = false) // feeds both join sides
        val banded = h.select(col("id"), col("hash_hi"), col("hash_lo"),
          posexplode(array(
            shiftrightunsigned(col("hash_hi"), 16),
            col("hash_hi").bitwiseAND(lit(0xFFFFL)),
            shiftrightunsigned(col("hash_lo"), 16),
            col("hash_lo").bitwiseAND(lit(0xFFFFL))))
            .as(Seq("band", "bits")))
        def side(sfx: String) = banded.columns.foldLeft(banded)((d, c) =>
          d.withColumnRenamed(c,
            if (c == "band" || c == "bits") c else s"${c}_$sfx"))
        val ham = (expr("bit_count(hash_hi_a ^ hash_hi_b)") +
          expr("bit_count(hash_lo_a ^ hash_lo_b)")).cast("long")
        side("a").join(side("b"), Seq("band", "bits"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"), ham.as("hamming"))
          .filter(col("hamming") <= 3) // cheap popcount — no barrier needed
          .distinct() // multi-band duplicate candidates, tiny post-filter
          .orderBy(col("id_a"), col("id_b"))
      },
      """WITH xs AS (SELECT unnest(range(0, 8)) AS x),
        |ys AS (SELECT unnest(range(0, 8)) AS y),
        |g AS (SELECT doc_id, y * 8 + x AS i,
        |    (doc_id + 7 * x + 13 * y) % 256
        |      + (3 * doc_id + 11 * x + y) % 256
        |      + (x * y + doc_id) % 256 AS gray
        |  FROM documents, xs, ys),
        |t AS (SELECT doc_id, CAST(sum(gray) AS BIGINT) AS total
        |      FROM g GROUP BY 1),
        |h AS (SELECT g.doc_id,
        |    CAST(sum(CASE WHEN i < 32 AND 64 * gray > t.total
        |        THEN CAST(1 AS BIGINT) << (31 - i) ELSE 0 END)
        |      AS BIGINT) AS hash_hi,
        |    CAST(sum(CASE WHEN i >= 32 AND 64 * gray > t.total
        |        THEN CAST(1 AS BIGINT) << (63 - i) ELSE 0 END)
        |      AS BIGINT) AS hash_lo
        |  FROM g JOIN t USING (doc_id) GROUP BY 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.hash_hi, b.hash_hi))
        |     + bit_count(xor(a.hash_lo, b.hash_lo)) AS BIGINT) AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.hash_hi, b.hash_hi))
        |    + bit_count(xor(a.hash_lo, b.hash_lo)) <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    // Audio content-duplicate detection through the REAL codec: every
    // 50th doc plants a GENUINELY PERTURBED twin clip — the same audio
    // re-encoded at 3x gain (new id, every sample byte different, no
    // clipping since |sample| ≤ 2047·3) — and the energy-trend
    // fingerprint (Multimodal.audioFingerprint — 32 integer-boundary
    // windows, 31 adjacent-trend bits) collides each pair into an
    // n_clips=2 group while singletons stay apart: trend bits are
    // EXACTLY gain-invariant (e'(w) = 3·e(w) preserves every adjacent
    // comparison), so the headline robustness property — survive
    // re-encoding and uniform gain — is what the hash pins, not just
    // byte-identical decode. The ORACLE never decodes — it rebuilds
    // each fingerprint from the sample formula (gain included), so the
    // WAV writer, the chunk-walking decoder, the window boundaries,
    // and the bit packing are all hash-pinned too.
    "x142_audio_fingerprint_dedup" -> entry(
      (s, dir) => {
        import s.implicits._
        val mkWav = udf((seed: Long, gain: Int) =>
          Multimodal.syntheticWavGain(seed, gain))
        val docs = tbl(s, dir, "documents")
        val base = docs.select(col("doc_id").cast("long").as("id"),
          col("doc_id").cast("long").as("seed"), lit(1).as("gain"))
        val planted = docs.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 2000000L).as("id"),
            col("doc_id").cast("long").as("seed"), lit(3).as("gain"))
        val media = base.unionByName(planted)
          .select(col("id"), lit("audio").as("format"),
            mkWav(col("seed"), col("gain")).as("media"))
          .as[Multimodal.MediaRecord]
        Multimodal.audioFingerprint(wide(media.toDF())
            .as[Multimodal.MediaRecord])
          .groupBy(col("fp"))
          .agg(count(lit(1)).as("n_clips"),
            min(col("id")).as("min_id"), max(col("id")).as("max_id"))
          .orderBy(col("n_clips").desc, col("fp"))
          .limit(20)
      },
      """WITH d AS (
        |  SELECT doc_id, doc_id AS seed, 1 AS gain FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, doc_id, 3 FROM documents
        |  WHERE doc_id % 50 = 0),
        |geo AS (SELECT doc_id, seed, gain,
        |    (1 + seed % 2) * (64 + seed % 33) AS n FROM d),
        |i AS (SELECT unnest(range(0, 194)) AS i),
        |s AS (SELECT geo.doc_id, (32 * i.i) // geo.n AS w,
        |    abs(((geo.seed * 31 + 17 * i.i) % 4096 - 2048) * geo.gain) AS a
        |  FROM geo JOIN i ON i.i < geo.n),
        |e AS (SELECT doc_id, w, CAST(sum(a) AS BIGINT) AS e
        |      FROM s GROUP BY 1, 2),
        |b AS (SELECT doc_id, w,
        |    CASE WHEN e > lag(e) OVER (PARTITION BY doc_id ORDER BY w)
        |      THEN 1 ELSE 0 END AS bit FROM e),
        |f AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN w >= 1 AND bit = 1
        |        THEN CAST(1 AS BIGINT) << (31 - w) ELSE 0 END)
        |      AS BIGINT) AS fp
        |  FROM b GROUP BY 1)
        |SELECT fp, count(*) AS n_clips, min(doc_id) AS min_id,
        |  max(doc_id) AS max_id
        |FROM f GROUP BY 1 ORDER BY n_clips DESC, fp LIMIT 20""".stripMargin),

    // Video content-duplicate detection through the REAL codec — the
    // x142 trend trick on the (frame, row) axis. Every 50th doc plants
    // a PAIR of clips: a window-aligned base (4 frames × 8 rows = one
    // row sum per trend window, pixels 0..199) and its GENUINELY
    // PERTURBED twin — the same clip re-encoded with a uniform +40
    // brightness shift (every pixel byte different, no clamping). With
    // aligned windows the shift adds the same constant to every window
    // sum, so the spatiotemporal fingerprint (per-row luma sums of
    // every decoded frame → 32 windows → 31 trend bits) collides each
    // pair EXACTLY — the brightness-robustness headline is the pinned
    // property, not just byte-identical decode. The ORACLE recomputes
    // fingerprints from the GIF pixel formula (shift included) without
    // decoding, pinning the sequence writer, the frame reader, the
    // row-sum order, the window boundaries, and the bit packing.
    "x143_video_fingerprint_dedup" -> entry(
      (s, dir) => {
        import s.implicits._
        val mkGif = udf((seed: Long, shift: Int) =>
          if (shift < 0) Multimodal.syntheticGif(seed)
          else Multimodal.syntheticGifShift(seed, shift))
        val docs = tbl(s, dir, "documents")
        val base = docs.select(col("doc_id").cast("long").as("id"),
          col("doc_id").cast("long").as("seed"), lit(-1).as("shift"))
        val plantedBase = docs.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 1000000L).as("id"),
            col("doc_id").cast("long").as("seed"), lit(0).as("shift"))
        val plantedTwin = docs.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 2000000L).as("id"),
            col("doc_id").cast("long").as("seed"), lit(40).as("shift"))
        val media = base.unionByName(plantedBase).unionByName(plantedTwin)
          .select(col("id"), lit("video").as("format"),
            mkGif(col("seed"), col("shift")).as("media"))
        Multimodal.videoFingerprint(wide(media)
            .as[Multimodal.MediaRecord], stride = 1)
          .groupBy(col("fp"))
          .agg(count(lit(1)).as("n_clips"),
            min(col("id")).as("min_id"), max(col("id")).as("max_id"))
          .orderBy(col("n_clips").desc, col("fp"))
          .limit(20)
      },
      """WITH d AS (
        |  SELECT doc_id, doc_id AS seed, 0 AS fam FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, 1 FROM documents
        |  WHERE doc_id % 50 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, doc_id, 2 FROM documents
        |  WHERE doc_id % 50 = 0),
        |geo AS (SELECT doc_id, seed, 8 + seed % 9 AS w,
        |        CASE WHEN fam = 0 THEN 8 + seed % 7 ELSE 8 END AS h,
        |        CASE WHEN fam = 0 THEN 2 + seed % 4 ELSE 4 END AS nf,
        |        CASE WHEN fam = 0 THEN 256 ELSE 200 END AS m,
        |        CASE WHEN fam = 2 THEN 40 ELSE 0 END AS shift
        |  FROM d),
        |fs AS (SELECT unnest(range(0, 5)) AS f),
        |ys AS (SELECT unnest(range(0, 14)) AS y),
        |xs AS (SELECT unnest(range(0, 17)) AS x),
        |rs AS (SELECT geo.doc_id, geo.h, geo.nf, fs.f, ys.y,
        |    CAST(sum((geo.seed + 7 * xs.x + 13 * ys.y + 53 * fs.f) % geo.m
        |             + geo.shift)
        |      AS BIGINT) AS rowsum
        |  FROM geo JOIN fs ON fs.f < geo.nf JOIN ys ON ys.y < geo.h
        |    JOIN xs ON xs.x < geo.w
        |  GROUP BY 1, 2, 3, 4, 5),
        |e0 AS (SELECT doc_id,
        |    (32 * (f * h + y)) // (nf * h) AS wdw,
        |    CAST(sum(rowsum) AS BIGINT) AS e
        |  FROM rs GROUP BY 1, 2),
        |wd AS (SELECT unnest(range(0, 32)) AS wdw),
        |e AS (SELECT d.doc_id, wd.wdw, COALESCE(e0.e, 0) AS e
        |      FROM d CROSS JOIN wd
        |      LEFT JOIN e0 ON e0.doc_id = d.doc_id AND e0.wdw = wd.wdw),
        |b AS (SELECT doc_id, wdw,
        |    CASE WHEN e > lag(e) OVER (PARTITION BY doc_id ORDER BY wdw)
        |      THEN 1 ELSE 0 END AS bit FROM e),
        |f AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN wdw >= 1 AND bit = 1
        |        THEN CAST(1 AS BIGINT) << (31 - wdw) ELSE 0 END)
        |      AS BIGINT) AS fp
        |  FROM b GROUP BY 1)
        |SELECT fp, count(*) AS n_clips, min(doc_id) AS min_id,
        |  max(doc_id) AS max_id
        |FROM f GROUP BY 1 ORDER BY n_clips DESC, fp LIMIT 20""".stripMargin),

    // REAL image resize audit (closes the last closeable media stub):
    // synthetic formula → BMP encode → JDK decode → integer nearest-
    // neighbor sample (src = dst·srcDim div dstDim) → BMP re-encode →
    // JDK re-decode → per-image channel sums. The ORACLE recomputes the
    // sums from the pixel formula sampled at the SAME integer mapping,
    // without touching a codec — one flipped rounding mode, row order,
    // or channel swap anywhere in the decode→sample→encode→decode chain
    // breaks the hash (the x66 argument, applied twice).
    "x144_image_resize_audit" -> entry(
      (s, dir) => {
        import s.implicits._
        val mkBmp = udf((id: Long) => Multimodal.syntheticBmp(id))
        val media = tbl(s, dir, "documents")
          .select(col("doc_id").cast("long").as("id"),
            lit("image").as("format"), mkBmp(col("doc_id")).as("media"))
          .as[Multimodal.MediaRecord]
        val resized = Multimodal.resize(wide(media.toDF())
          .as[Multimodal.MediaRecord], 16, 12)
        Multimodal.imageStats(
            resized.select(col("id"), lit("image").as("format"),
              col("media")).as[Multimodal.MediaRecord])
          .select(col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("n_px"), col("sum_r"), col("sum_g"), col("sum_b"))
          .orderBy(col("doc_id"))
      },
      """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |           FROM documents),
        |xs AS (SELECT unnest(range(0, 16)) AS x),
        |ys AS (SELECT unnest(range(0, 12)) AS y),
        |px AS (SELECT d.doc_id,
        |         (xs.x * d.w) // 16 AS sx, (ys.y * d.h) // 12 AS sy
        |       FROM d CROSS JOIN xs CROSS JOIN ys)
        |SELECT doc_id, CAST(16 AS BIGINT) AS width,
        |  CAST(12 AS BIGINT) AS height,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  CAST(sum((doc_id + 7 * sx + 13 * sy) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum((3 * doc_id + 11 * sx + sy) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((sx * sy + doc_id) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // BM25 standing-index reuse — the x57 incremental pattern applied to
    // search, and the WINNING arm of x68's round-10 A/B: ONE inverted
    // index (cached postings + two exact corpus scalars) answers TWO
    // probe batches (leading-5-token and tokens-3..7 needles) at ~2x the
    // per-batch cost of re-deriving corpus state, with bit-identical
    // scores — what a production eval loop does against a persisted
    // `postings` table (README's bucketBy deployment). The oracle runs
    // the full BM25 pipeline per batch; the ENGINE computes postings
    // once, so score agreement across both batches pins index-vs-oneshot
    // equivalence end to end.
    "x145_bm25_index_reuse" -> entry(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        def probes(from: Int): Seq[(Int, String)] = docs
          .filter(col("doc_id") % 50 === 0 && col("doc_id") <= 2500)
          .select(col("doc_id"),
            concat_ws(" ", slice(split(col("text"), " "), from, 5)).as("q"))
          .collect().map(r => (r.getLong(0).toInt, r.getString(1)))
          .toSeq.sortBy(_._1)
        val idx0 = graft.ext.TextSearch.buildBm25Index(docs, "doc_id", "text")
        // loop-invariant artifact cached across the two batches (the
        // sweep unpersists between queries, like the iterative ops)
        val idx = idx0.copy(postings = idx0.postings.cache())
        def audit(batch: Int, qs: Seq[(Int, String)]) =
          graft.ext.TextSearch.bm25TopKOnIndex(idx, qs, k = 10)
            .groupBy(col("qid"))
            .agg(coalesce(
                min(when(col("nid") === col("qid").cast("long"), col("rnk"))),
                lit(0)).cast("long").as("self_rank"),
              count(lit(1)).as("n_results"))
            .withColumn("batch", lit(batch.toLong))
        audit(1, probes(1)).unionByName(audit(2, probes(3)))
          .select(col("batch"), col("qid"), col("self_rank"), col("n_results"))
          .orderBy(col("batch"), col("qid"))
      },
      """WITH tsrc AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents),
        |q AS (
        |  SELECT 1 AS batch, CAST(doc_id AS INT) AS qid,
        |      array_to_string(t[1:5], ' ') AS qtext
        |    FROM tsrc WHERE doc_id % 50 = 0 AND doc_id <= 2500
        |  UNION ALL
        |  SELECT 2, CAST(doc_id AS INT),
        |      array_to_string(t[3:7], ' ')
        |    FROM tsrc WHERE doc_id % 50 = 0 AND doc_id <= 2500),
        |qt AS (SELECT batch, qid,
        |         unnest(list_distinct(string_split(qtext, ' '))) AS tok
        |       FROM q),
        |tf AS (SELECT doc_id AS nid, tok, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) GROUP BY 1, 2),
        |dl AS (SELECT nid, sum(tf) AS dl FROM tf GROUP BY 1),
        |st AS (SELECT count(*)::DOUBLE AS n,
        |              sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
        |dfq AS (SELECT tok, count(*) AS dfq FROM tf GROUP BY 1),
        |terms AS (SELECT qt.batch, qt.qid, tf.nid, qt.tok,
        |    ln((st.n - dfq.dfq + 0.5) / (dfq.dfq + 0.5) + 1.0)
        |      * tf.tf * (1.2 + 1) / (tf.tf + 1.2 *
        |        ((1 - 0.75) + 0.75 * dl.dl / st.avgdl)) AS s
        |  FROM qt JOIN tf USING (tok) JOIN dfq USING (tok)
        |    JOIN dl ON tf.nid = dl.nid, st),
        |scored AS (SELECT batch, qid, nid,
        |    round(list_reduce(list(s ORDER BY tok), (a, c) -> a + c), 4) AS score
        |  FROM terms GROUP BY 1, 2, 3),
        |cands AS (SELECT batch, qid, nid, rnk FROM (
        |  SELECT batch, qid, nid, score, row_number() OVER (
        |    PARTITION BY batch, qid ORDER BY score DESC, nid) AS rnk
        |  FROM scored) WHERE rnk <= 10)
        |SELECT CAST(batch AS BIGINT) AS batch, qid,
        |  CAST(coalesce(min(CASE WHEN nid = qid THEN rnk END), 0) AS BIGINT)
        |    AS self_rank,
        |  count(*) AS n_results
        |FROM cands GROUP BY 1, 2 ORDER BY batch, qid""".stripMargin),

    // Sliding-window RAG chunking: 16-token windows every 8 tokens
    // (50% overlap), partial tail kept — the retrieval-ingestion shape,
    // distinct from fixed-chunk dedup (x84's cousin) and sequence
    // packing (x105). Scan-local posexplode, zero shuffle except the
    // output order. The oracle rebuilds every window by list slicing,
    // so offsets, overlap, tail truncation, and the rejoined chunk text
    // are all hash-pinned byte-for-byte.
    "x146_chunk_windows" -> entry(
      (s, dir) =>
        TextAnalysis.chunkWindows(
            tbl(s, dir, "documents"), "doc_id", "text",
            window = 16, stride = 8)
          .orderBy(col("doc_id"), col("chunk_no")),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents),
        |s AS (SELECT doc_id, tk,
        |        unnest(range(0, len(tk), 8)) AS start FROM t)
        |SELECT doc_id,
        |  CAST(start // 8 AS BIGINT) AS chunk_no,
        |  CAST(start AS BIGINT) AS start_tok,
        |  CAST(len(tk[start + 1 : start + 16]) AS BIGINT) AS n_toks,
        |  array_to_string(tk[start + 1 : start + 16], ' ') AS chunk
        |FROM s ORDER BY doc_id, chunk_no""".stripMargin),

    // The composed RAG retrieval path, end to end as ONE hash-checked
    // query (the x139-funnel argument applied to retrieval): documents
    // → sliding-window chunks (x146's operator) → BM25 over the CHUNK
    // corpus → needle probes (each doc's tokens 9–13, which straddle
    // the chunk-0/chunk-1 overlap) → per-query audit of where the
    // source document's chunks rank. The oracle rebuilds the chunk
    // table by list slicing and runs the full BM25 pipeline over it —
    // chunk boundaries, chunk-corpus statistics (N and avgdl are CHUNK
    // counts, not doc counts), scoring, and the doc-attribution
    // arithmetic (chunk_id div 1000) are all pinned in one hash.
    "x147_chunked_retrieval" -> entry(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        // the chunk corpus is DERIVED (split + slice per chunk) and the
        // BM25 pass walks it twice (exact stats, postings) — cache the
        // loop-invariant chunk table so the derivation string-work runs
        // once (the x145 cached-artifact pattern; the sweep unpersists
        // after each query), and widen the byte-small doc scan so that
        // one derivation spreads across cores (the x85/x93 rationale).
        // Cached as TOKEN ARRAYS (chunkWindowTokens + bm25TopKTokens,
        // round-14): the rejoined chunk text was re-`split` on every
        // corpus pass — join-then-split is lossless for split products,
        // so skipping both is bit-neutral and saves a full tokenize of
        // the chunk corpus per pass
        val chunks = TextAnalysis.chunkWindowTokens(wide(docs), "doc_id",
            "text", window = 16, stride = 8)
          .select((col("doc_id") * 1000L + col("chunk_no")).as("nid"),
            col("tk"))
          .cache()
        val qs = docs
          .filter(col("doc_id") % 50 === 0 && col("doc_id") <= 2500)
          .select(col("doc_id"),
            concat_ws(" ", slice(split(col("text"), " "), 9, 5)).as("q"))
          .collect().map(r => (r.getLong(0).toInt, r.getString(1)))
          .toSeq.sortBy(_._1)
        graft.ext.TextSearch.bm25TopKTokens(chunks, qs, k = 5,
          pinPostings = true)
          .groupBy(col("qid"))
          .agg(
            coalesce(min(when(expr("nid div 1000") === col("qid").cast("long"),
              col("rnk"))), lit(0)).cast("long").as("self_rank"),
            count(when(expr("nid div 1000") === col("qid").cast("long"),
              lit(1))).as("self_hits"),
            count(lit(1)).as("n_results"))
          .orderBy(col("qid"))
      },
      """WITH tsrc AS (SELECT doc_id, string_split(text, ' ') AS tk
        |              FROM documents),
        |ch AS (SELECT doc_id * 1000 + (start // 8) AS chunk_id,
        |         array_to_string(tk[start + 1 : start + 16], ' ') AS chunk
        |       FROM (SELECT doc_id, tk,
        |               unnest(range(0, len(tk), 8)) AS start FROM tsrc)),
        |q AS (SELECT CAST(doc_id AS INT) AS qid,
        |    array_to_string(tk[9:13], ' ') AS qtext
        |  FROM tsrc WHERE doc_id % 50 = 0 AND doc_id <= 2500),
        |qt AS (SELECT qid, unnest(list_distinct(string_split(qtext, ' '))) AS tok
        |       FROM q),
        |tf AS (SELECT chunk_id AS nid, tok, count(*) AS tf FROM (
        |    SELECT chunk_id, unnest(string_split(chunk, ' ')) AS tok
        |    FROM ch) GROUP BY 1, 2),
        |dl AS (SELECT nid, sum(tf) AS dl FROM tf GROUP BY 1),
        |st AS (SELECT count(*)::DOUBLE AS n,
        |              sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
        |dfq AS (SELECT tok, count(*) AS dfq FROM tf GROUP BY 1),
        |terms AS (SELECT qt.qid, tf.nid, qt.tok,
        |    ln((st.n - dfq.dfq + 0.5) / (dfq.dfq + 0.5) + 1.0)
        |      * tf.tf * (1.2 + 1) / (tf.tf + 1.2 *
        |        ((1 - 0.75) + 0.75 * dl.dl / st.avgdl)) AS s
        |  FROM qt JOIN tf USING (tok) JOIN dfq USING (tok)
        |    JOIN dl ON tf.nid = dl.nid, st),
        |scored AS (SELECT qid, nid,
        |    round(list_reduce(list(s ORDER BY tok), (a, c) -> a + c), 4) AS score
        |  FROM terms GROUP BY 1, 2),
        |cands AS (SELECT qid, nid, rnk FROM (
        |  SELECT qid, nid, score, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, nid) AS rnk FROM scored)
        |  WHERE rnk <= 5)
        |SELECT qid,
        |  CAST(coalesce(min(CASE WHEN nid // 1000 = qid THEN rnk END), 0)
        |    AS BIGINT) AS self_rank,
        |  CAST(count(CASE WHEN nid // 1000 = qid THEN 1 END) AS BIGINT)
        |    AS self_hits,
        |  count(*) AS n_results
        |FROM cands GROUP BY qid ORDER BY qid""".stripMargin),

    // Document CONTAINMENT detection — the partial-overlap case
    // doc-level MinHash misses (doc A quotes or embeds most of doc B,
    // but their full-document signatures diverge): DISJOINT 16-token
    // chunks (stride = window), rare-chunk equi-join (document
    // frequency 2..8 — boilerplate chunks shared by many docs are
    // excluded, which also bounds the join fan-out to df² pairs per
    // chunk value), doc pairs sharing ≥ 2 chunks, containment as the
    // exact integer percentage of the SMALLER side's chunks that are
    // shared. Shuffles only on the chunk value (the x21
    // decontamination shape) — never an all-pairs term.
    "x148_doc_containment" -> entry(
      (s, dir) =>
        TextDedup.docContainment(wide(tbl(s, dir, "documents")),
            "doc_id", "text", window = 16, minDf = 2, maxDf = 8,
            minShared = 2)
          .orderBy(col("id_a"), col("id_b")),
      """WITH tsrc AS (SELECT doc_id, string_split(text, ' ') AS tk
        |              FROM documents),
        |ch AS (SELECT DISTINCT doc_id,
        |         array_to_string(tk[start + 1 : start + 16], ' ') AS chunk
        |       FROM (SELECT doc_id, tk,
        |               unnest(range(0, len(tk), 16)) AS start FROM tsrc)),
        |per AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY 1),
        |rare AS (SELECT chunk FROM ch GROUP BY chunk
        |         HAVING count(*) BETWEEN 2 AND 8),
        |k AS (SELECT ch.doc_id, ch.chunk FROM ch JOIN rare USING (chunk)),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |        CAST(count(*) AS BIGINT) AS shared_chunks
        |      FROM k a JOIN k b ON a.chunk = b.chunk
        |        AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT id_a, id_b, shared_chunks,
        |  CAST((100 * shared_chunks) // least(pa.n_chunks, pb.n_chunks)
        |    AS BIGINT) AS containment_pct
        |FROM p JOIN per pa ON pa.doc_id = id_a
        |  JOIN per pb ON pb.doc_id = id_b
        |ORDER BY id_a, id_b""".stripMargin),

    // Incremental ANN index maintenance (the x57 pattern for vectors):
    // build a standing IVF-PQ index on 90% of the corpus, UPSERT the
    // remaining 10% against the frozen fit artifacts (map-only assign +
    // encode, codes append), DELETE a slice (anti-join on the code
    // table — the floats never move), then answer the probe set and
    // annotate each neighbor with its cell's drift audit (per-mille
    // mean-distance ratio of arrivals vs indexed population — the
    // re-train signal). Hash-checked against NaiveOracles.x149, which
    // re-encodes the FINAL corpus state brute-force with the same
    // frozen constants: incremental maintenance must be bit-identical
    // to a from-scratch encode.
    "x149_ann_index_upsert" -> rowsOnly(
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        val base = emb.filter(col("vec_id") % 10 =!= 0)
        val delta = emb.filter(col("vec_id") % 10 === 0)
        val doomed = emb.filter(col("vec_id") % 20 === 5)
          .select(col("vec_id"))
        val idx0 = Similarity.buildIvfPqIndex(base, "vec_id", "embedding",
          nCentroids = 16, m = 4, codebookSize = 16, seed = 42L)
        val idx = Similarity.removeFromIvfPqIndex(
          Similarity.extendIvfPqIndex(idx0, delta, "vec_id", "embedding"),
          doomed, "vec_id")
        val queries = emb.filter(col("vec_id") % 100 === 0)
        val topk = Similarity.ivfPqTopKOnIndex(idx, queries,
          "vec_id", "embedding", k = 5, nProbe = 4)
        val cellOf = idx.codes.filter(col("sub") === 0)
          .select(col("nid"), col("cell"))
        val drift = Similarity.ivfCellDrift(
          base.join(doomed, Seq("vec_id"), "left_anti"), delta,
          "vec_id", "embedding", idx0.centroids)
        topk.join(cellOf, "nid").join(drift, Seq("cell"), "left")
          .select(col("qid"), col("nid"), col("rnk"), col("adc"),
            col("cell"), col("n_base"), col("n_delta"), col("drift_pm"))
          .orderBy(col("qid"), col("rnk"))
      }),

    // REAL media feature extraction (closes the last stub): synthetic
    // BMP → JDK decode → integer 8×8 average-pool of r+g+b luma →
    // seeded {−1,0,+1} projection (a public random-features technique)
    // → exact-integer Float embedding. The oracle recomputes every
    // coordinate from the PIXEL FORMULA alone — pool cells by
    // (8x div w, 8y div h), integer mean, the same mod-3 weight matrix
    // — so the whole decode→pool→project pipeline is hash-pinned end to
    // end (the x144 pattern applied to the embedding path). A learned
    // encoder swaps in behind the same signature; this is the
    // deterministic geometry it replaces.
    "x150_media_features" -> entry(
      (s, dir) => {
        import s.implicits._
        val mkBmp = udf((id: Long) => Multimodal.syntheticBmp(id))
        val media = wide(tbl(s, dir, "documents")
            .select(col("doc_id").cast("long").as("id"),
              lit("image").as("format"), mkBmp(col("doc_id")).as("media")))
          .as[Multimodal.MediaRecord]
        Multimodal.features(media, dim = 16, seed = 42L)
          .select(col("id").as("doc_id"),
            posexplode(col("embedding")))
          .select(col("doc_id"), col("pos").cast("long").as("dim"),
            col("col").cast("long").as("feat"))
          .orderBy(col("doc_id"), col("dim"))
      },
      """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |           FROM documents),
        |px AS (SELECT d.doc_id, d.w, d.h, xs.x, ys.y,
        |         (d.doc_id + 7 * xs.x + 13 * ys.y) % 256
        |           + (3 * d.doc_id + 11 * xs.x + ys.y) % 256
        |           + (xs.x * ys.y + d.doc_id) % 256 AS luma
        |       FROM d
        |       CROSS JOIN (SELECT unnest(range(0, 16)) AS x) xs
        |       CROSS JOIN (SELECT unnest(range(0, 14)) AS y) ys
        |       WHERE xs.x < d.w AND ys.y < d.h),
        |cells AS (SELECT doc_id,
        |            (8 * y) // h * 8 + (8 * x) // w AS g,
        |            sum(luma) // count(*) AS pooled
        |          FROM px GROUP BY 1, 2),
        |dims AS (SELECT unnest(range(0, 16)) AS i)
        |SELECT c.doc_id, CAST(dims.i AS BIGINT) AS dim,
        |  CAST(sum(((42 + 31 * dims.i + 7 * c.g + dims.i * c.g) % 3 - 1)
        |    * c.pooled) AS BIGINT) AS feat
        |FROM cells c CROSS JOIN dims
        |GROUP BY 1, 2 ORDER BY doc_id, dim""".stripMargin),

    // Drift REPAIR on the standing ANN index — the operational response
    // to x149's drift audit, completing the maintenance lifecycle
    // (upsert → delete → detect → repair) without ever re-encoding the
    // corpus: the two most-populated cells are split into refit
    // sub-centroids (fresh ids, survivors untouched), ONLY their
    // vectors re-route (PQ codes unchanged — the codebook is
    // subspace-global), probes rank over the composed centroid set.
    // Hash-checked against NaiveOracles.x152, which re-derives routing,
    // probes and ADC from exploded literals around the same shared
    // deterministic fits.
    "x152_ann_drift_repair" -> rowsOnly(
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        val idx0 = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
          nCentroids = 16, m = 4, codebookSize = 16, seed = 42L)
        // deterministic repair target: the two fullest cells (ties by
        // lower cell id) — guaranteed non-empty at any sf
        val cells = idx0.codes.filter(col("sub") === 0)
          .groupBy(col("cell")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("cell")).limit(2)
          .collect().map(_.getInt(0)).toSeq.sorted
        val idx = Similarity.repairDriftedCells(idx0, emb,
          "vec_id", "embedding", cells, splitInto = 2)
        val queries = emb.filter(col("vec_id") % 100 === 0)
        Similarity.ivfPqTopKOnIndex(idx, queries, "vec_id", "embedding",
            k = 5, nProbe = 4)
          .join(idx.codes.filter(col("sub") === 0)
            .select(col("nid"), col("cell")), "nid")
          .select(col("qid"), col("nid"), col("rnk"), col("adc"),
            col("cell").cast("long").as("cell"),
            (col("cell") > 15).cast("long").as("in_refit_cell"))
          .orderBy(col("qid"), col("rnk"))
      }),

    // BM25 standing-index DELETE — mergeBm25Index's inverse and x149's
    // search-side twin, completing incremental index maintenance for
    // BOTH retrieval families: doomed docs' postings drop by anti-join
    // and the exact corpus scalars decrement by numbers recovered from
    // the index itself (never a re-tokenize). The oracle runs full
    // BM25 over the SURVIVING corpus only: pruned index ==
    // rebuilt-from-survivors, scores bit-identical.
    "x151_bm25_index_delete" -> entry(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val doomed = docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"))
        val idx = graft.ext.TextSearch.removeFromBm25Index(
          graft.ext.TextSearch.buildBm25Index(docs, "doc_id", "text"),
          doomed, "doc_id")
        graft.ext.TextSearch.bm25TopKOnIndex(idx,
            queries = Seq(1 -> "hash join strategy", 2 -> "window sort order",
              3 -> "vector column scan", 4 -> "stream batch merge"),
            k = 10)
          .orderBy(col("qid"), col("rnk"))
      },
      """WITH q(qid, qtext) AS (VALUES
        |    (1, 'hash join strategy'), (2, 'window sort order'),
        |    (3, 'vector column scan'), (4, 'stream batch merge')),
        |qt AS (SELECT qid, unnest(list_distinct(string_split(qtext, ' '))) AS tok
        |       FROM q),
        |tf AS (SELECT doc_id AS nid, tok, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents WHERE doc_id % 10 != 0) GROUP BY 1, 2),
        |dl AS (SELECT nid, sum(tf) AS dl FROM tf GROUP BY 1),
        |st AS (SELECT count(*)::DOUBLE AS n,
        |              sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
        |dfq AS (SELECT tok, count(*) AS dfq FROM tf GROUP BY 1),
        |terms AS (SELECT qt.qid, tf.nid, qt.tok,
        |    ln((st.n - dfq.dfq + 0.5) / (dfq.dfq + 0.5) + 1.0)
        |      * tf.tf * (1.2 + 1) / (tf.tf + 1.2 *
        |        ((1 - 0.75) + 0.75 * dl.dl / st.avgdl)) AS s
        |  FROM qt JOIN tf USING (tok) JOIN dfq USING (tok)
        |    JOIN dl ON tf.nid = dl.nid, st),
        |scored AS (SELECT qid, nid,
        |    round(list_reduce(list(s ORDER BY tok), (a, c) -> a + c), 4) AS score
        |  FROM terms GROUP BY 1, 2)
        |SELECT qid, rnk, nid, score FROM (
        |  SELECT qid, nid, score, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, nid) AS rnk FROM scored)
        |WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin),

    // BM25 over the PERSISTED index layout (round-12: the storage the
    // standing-deployment claims were about, as an API): build → save
    // (postings partitioned by tok_bucket, sorted by tok) → RELOAD →
    // probe. The probe prunes to its terms' bucket directories before
    // any file opens (plan-pinned in PlanShapeSpec; measured
    // files/rows-read reduction in PERF.md round 12) and must be
    // bit-identical to the one-shot BM25 the oracle computes — layout
    // is an access-path choice, never a semantics choice. Probe slice
    // is tokens 2–6 (x68 uses 1–5, x145 uses 1–5/3–7), so the three
    // retrieval audits stay distinct.
    "x153_bm25_stored_probe" -> entry(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val qs = docs
          .filter(col("doc_id") % 50 === 0 && col("doc_id") <= 2500)
          .select(col("doc_id"),
            concat_ws(" ", slice(split(col("text"), " "), 2, 5)).as("q"))
          .collect().map(r => (r.getLong(0).toInt, r.getString(1)))
          .toSeq.sortBy(_._1)
        // deterministic scratch path, overwritten per run (bounded
        // footprint across sweeps); keyed by sfDir so concurrent
        // sweeps at different scales never collide
        val path = s"${sys.props("java.io.tmpdir")}/graft-x153-" +
          s"${java.lang.Integer.toHexString(dir.hashCode)}"
        // tokBuckets 16 at sf-scale — the x158/x159 sizing rule applied
        // here too (round-14): 64 directories of KB-files was pure fs
        // overhead on the save; pruning semantics are count-invariant
        // (spec) and the probe output is bucket-count-independent
        graft.ext.TextSearch.saveBm25Index(
          graft.ext.TextSearch.buildBm25Index(docs, "doc_id", "text"),
          path, tokBuckets = 16)
        val stored = graft.ext.TextSearch.loadBm25Index(s, path)
        graft.ext.TextSearch.bm25TopKOnStoredIndex(stored, qs, k = 10)
          .groupBy(col("qid"))
          .agg(coalesce(
              min(when(col("nid") === col("qid").cast("long"), col("rnk"))),
              lit(0)).cast("long").as("self_rank"),
            count(lit(1)).as("n_results"))
          .orderBy(col("qid"))
      },
      """WITH tsrc AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents),
        |q AS (SELECT CAST(doc_id AS INT) AS qid,
        |    array_to_string(t[2:6], ' ') AS qtext
        |  FROM tsrc WHERE doc_id % 50 = 0 AND doc_id <= 2500),
        |qt AS (SELECT qid, unnest(list_distinct(string_split(qtext, ' '))) AS tok
        |       FROM q),
        |tf AS (SELECT doc_id AS nid, tok, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) GROUP BY 1, 2),
        |dl AS (SELECT nid, sum(tf) AS dl FROM tf GROUP BY 1),
        |st AS (SELECT count(*)::DOUBLE AS n,
        |              sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
        |dfq AS (SELECT tok, count(*) AS dfq FROM tf GROUP BY 1),
        |terms AS (SELECT qt.qid, tf.nid, qt.tok,
        |    ln((st.n - dfq.dfq + 0.5) / (dfq.dfq + 0.5) + 1.0)
        |      * tf.tf * (1.2 + 1) / (tf.tf + 1.2 *
        |        ((1 - 0.75) + 0.75 * dl.dl / st.avgdl)) AS s
        |  FROM qt JOIN tf USING (tok) JOIN dfq USING (tok)
        |    JOIN dl ON tf.nid = dl.nid, st),
        |scored AS (SELECT qid, nid,
        |    round(list_reduce(list(s ORDER BY tok), (a, c) -> a + c), 4) AS score
        |  FROM terms GROUP BY 1, 2),
        |cands AS (SELECT qid, nid, rnk FROM (
        |  SELECT qid, nid, score, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, nid) AS rnk FROM scored)
        |  WHERE rnk <= 10)
        |SELECT qid,
        |  CAST(coalesce(min(CASE WHEN nid = qid THEN rnk END), 0) AS BIGINT)
        |    AS self_rank,
        |  count(*) AS n_results
        |FROM cands GROUP BY qid ORDER BY qid""".stripMargin),

    // The PERSISTED ANN index through a full maintenance cycle: build
    // on 90% → save (codes partitioned by cell) → RELOAD → extend with
    // the 10% batch → delete a slice → save the MAINTAINED state to a
    // second location (never overwrite a layout your lazy codes still
    // read from) → reload → probe. Hash-checked against
    // NaiveOracles.x154, which brute-force re-encodes the final
    // survivor corpus from the same frozen fits: two parquet
    // round-trips and three maintenance ops must be bit-invisible.
    // Probes against the cell-partitioned layout dynamic-partition-
    // prune to the probed cells' directories (PlanShapeSpec).
    "x154_ann_stored_index" -> rowsOnly(
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        val base = emb.filter(col("vec_id") % 10 =!= 0)
        val delta = emb.filter(col("vec_id") % 10 === 0)
        val doomed = emb.filter(col("vec_id") % 20 === 5)
          .select(col("vec_id"))
        val root = s"${sys.props("java.io.tmpdir")}/graft-x154-" +
          s"${java.lang.Integer.toHexString(dir.hashCode)}"
        Similarity.saveIvfPqIndex(
          Similarity.buildIvfPqIndex(base, "vec_id", "embedding",
            nCentroids = 16, m = 4, codebookSize = 16, seed = 42L),
          s"$root/v0")
        val idx0 = Similarity.loadIvfPqIndex(s, s"$root/v0")
        Similarity.saveIvfPqIndex(
          Similarity.removeFromIvfPqIndex(
            Similarity.extendIvfPqIndex(idx0, delta, "vec_id", "embedding"),
            doomed, "vec_id"),
          s"$root/v1")
        val idx = Similarity.loadIvfPqIndex(s, s"$root/v1")
        val queries = emb.filter(col("vec_id") % 100 === 0)
        Similarity.ivfPqTopKOnIndex(idx, queries, "vec_id", "embedding",
            k = 5, nProbe = 4)
          .join(idx.codes.filter(col("sub") === 0)
            .select(col("nid"), col("cell")), "nid")
          .select(col("qid"), col("nid"), col("rnk"), col("adc"),
            col("cell"))
          .orderBy(col("qid"), col("rnk"))
      }),

    // Spark-4 VARIANT typed extraction through the FULL path a variant
    // replica exercises: row → JSON text (the wire) → parse_json (the
    // once-at-write parse) → variant_get with TYPED targets (long /
    // double / string / nested object field) → aggregate. The oracle
    // computes the same aggregates from the RAW COLUMNS — extraction
    // must be the identity, which checks the JSON encode, the variant
    // binary encode, and every typed cast in one hash. (c16_variant
    // covers the scalar string case; this pins long/double/nested.)
    "x156_variant_extract" -> entry(
      (s, dir) => {
        val o = tbl(s, dir, "orders")
        val j = o.select(to_json(struct(
          col("o_orderkey").as("k"), col("o_custkey").as("c"),
          col("o_totalprice").as("p"), col("o_orderstatus").as("st"),
          struct(col("o_orderpriority").as("pr")).as("meta"))).as("j"))
        val v = j.select(parse_json(col("j")).as("v"))
        v.select(
            try_variant_get(col("v"), "$.k", "long").as("k"),
            try_variant_get(col("v"), "$.c", "long").as("c"),
            try_variant_get(col("v"), "$.p", "double").as("p"),
            try_variant_get(col("v"), "$.st", "string").as("st"),
            try_variant_get(col("v"), "$.meta.pr", "string").as("pr"))
          .groupBy(col("st"))
          .agg(count(lit(1)).as("n"),
            sum(col("k")).as("sum_k"),
            sum(col("c")).as("sum_c"),
            sum(col("p")).as("sum_p"),
            count_distinct(col("pr")).as("n_pr"))
          .select(col("st"), col("n"), col("sum_k"), col("sum_c"),
            // exact-cent integer: the double sum's last bits depend on
            // add order (tools/README.md float rule)
            round(col("sum_p") * 100).cast("long").as("sum_p_cents"),
            col("n_pr"))
          .orderBy(col("st"))
      },
      """SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_k,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_c,
        |  CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS sum_p_cents,
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_pr
        |FROM orders GROUP BY o_orderstatus ORDER BY st""".stripMargin),

    // synced_data STRING→VARIANT migration as a GATED query (round-12
    // advice follow-through: the mode-toggle fail-fast's companion path
    // must be oracle-checked, not just spec-verified): build a replica
    // in STRING mode from `customer` (base batch + a fresher update
    // batch left UNFOLDED in the MoR delta log), migrate the stored
    // table in place with ParquetReplica.migrateColumn — which must
    // fold the delta log through the LWW replay WHILE converting the
    // payload column — then extract typed fields from the migrated
    // VARIANT and aggregate. The oracle computes the same aggregates
    // from the RAW columns with the update applied: the whole
    // merge→migrate→extract chain must be the identity.
    "x157_replica_migration" -> entry(
      (s, dir) => {
        val stringDdl = "synced_id BIGINT, synced_updated_at TIMESTAMP, " +
          "synced_created_at TIMESTAMP, synced_canceled_at TIMESTAMP, " +
          "synced_data STRING"
        val variantDdl = stringDdl.replace(
          "synced_data STRING", "synced_data VARIANT")
        // fresh root per run: replica roots are stateful and the
        // migration must exercise STRING→VARIANT, not no-op on a
        // previous run's already-migrated output
        val root = s"${sys.props("java.io.tmpdir")}/graft-x157-" +
          s"${java.lang.Integer.toHexString(dir.hashCode)}"
        graft.storage.Hcfs.delete(s, root)
        def shaped(rows: org.apache.spark.sql.DataFrame, ts: String,
            ev: String) = rows.select(
          col("c_custkey").as("synced_id"),
          lit(ts).cast("timestamp").as("synced_updated_at"),
          lit(ts).cast("timestamp").as("synced_created_at"),
          lit(null).cast("timestamp").as("canceled_at"),
          lit(ev).as("event_type"),
          to_json(struct(col("c_name").as("name"),
            col("c_acctbal").as("bal"),
            col("c_mktsegment").as("seg"))).as("synced_data"))
        val c = tbl(s, dir, "customer")
        val rep = new graft.streaming.ParquetReplica(s, root,
          stringDdl, buckets = 4, mergeOnRead = true, compactEvery = 100)
        rep.merge(shaped(c, "2026-01-01 00:00:00", "created"))
        rep.merge(shaped(
          c.filter(col("c_custkey") % 7 === 0)
            .withColumn("c_acctbal", col("c_acctbal") + lit(100.0)),
          "2026-01-02 00:00:00", "updated"))
        val vrep = new graft.streaming.ParquetReplica(s, root,
          variantDdl, buckets = 4, mergeOnRead = true, compactEvery = 100)
        vrep.migrateColumn(stringDdl, "synced_data", parse_json)
        vrep.verifyStoredCompatible() // the toggle check passes post-migration
        vrep.read().select(
            try_variant_get(col("synced_data"), "$.seg", "string").as("seg"),
            try_variant_get(col("synced_data"), "$.bal", "double").as("bal"),
            try_variant_get(col("synced_data"), "$.name", "string").as("nm"))
          .groupBy(col("seg"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("bal")) * 100).cast("long").as("bal_cents"),
            count_distinct(col("nm")).as("n_names"))
          .orderBy(col("seg"))
      },
      """SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(sum(CASE WHEN c_custkey % 7 = 0
        |      THEN c_acctbal + 100 ELSE c_acctbal END) * 100) AS BIGINT)
        |    AS bal_cents,
        |  CAST(count(DISTINCT c_name) AS BIGINT) AS n_names
        |FROM customer GROUP BY c_mktsegment ORDER BY seg""".stripMargin),

    // Stored MinHash index lifecycle, gated end-to-end (the dedup twin
    // of x154's stored-ANN lifecycle, completing the stored-index trio):
    // build on a partial corpus, SAVE as the bb-partitioned layout,
    // LOAD, map-only EXTEND with the rest, tombstone-DELETE a planted
    // slice (an O(batch) log append — no indexed file touched), then
    // probe the same planted batch as x57. NaiveOracles.x158 re-derives
    // the expected pairs from scratch over the SURVIVING corpus — the
    // maintained, twice-persisted index must agree exactly. Probes
    // partition-prune the bands scan to the probe's bb buckets
    // (IndexStorageSpec pins the plan shape).
    "x158_stored_minhash_probe" -> rowsOnly(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val root = s"${sys.props("java.io.tmpdir")}/graft-x158-" +
          s"${java.lang.Integer.toHexString(dir.hashCode)}"
        // stateful layout: each run exercises the full lifecycle
        graft.storage.Hcfs.delete(s, root)
        // bucket counts 16 (not the 64 default): sf-scale files stay
        // non-trivial — 64 dirs of KB-files is pure fs overhead here;
        // the pruning semantics are bucket-count-invariant (spec)
        TextDedup.saveMinhashIndex(
          TextDedup.minhashIndex(
            docs.filter(col("doc_id") % 100 =!= 0), "doc_id", "text"),
          root, bandBuckets = 16, docBuckets = 16)
        val loaded = TextDedup.loadMinhashIndex(s, root)
        val extended = TextDedup.extendStoredMinhashIndex(loaded,
          docs.filter(col("doc_id") % 100 === 0), "doc_id", "text")
        val pruned = TextDedup.removeFromStoredMinhashIndex(extended,
          docs.filter(col("doc_id") % 100 === 50)
            .select(col("doc_id").as("id")))
        val batch = docs.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
        TextDedup.nearDupAgainstStoredIndex(batch, "doc_id", "text",
            pruned)
          .orderBy(col("id"), col("dup_of"))
      }),

    // STORED-BM25 maintenance gated against full DuckDB BM25 over the
    // surviving corpus: build on 90%, save (tok_bucket layout), load,
    // map-only EXTEND with the 10%, tombstone-DELETE the %20==5 slice
    // (an O(batch) log append + one bounded scalar-decrement aggregate
    // — no indexed file touched), probe. The oracle recomputes BM25
    // from scratch over `documents WHERE doc_id % 20 <> 5` — df, avgdl,
    // N, scores, ranks: the maintained layout must be indistinguishable
    // from a rebuild (x151's in-memory pin, now on storage). Probe
    // slice is tokens 4–8 so the retrieval audits stay distinct
    // (x68: 1–5, x145: 1–5/3–7, x153: 2–6).
    "x159_bm25_stored_maintenance" -> entry(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val qs = docs
          .filter(col("doc_id") % 50 === 0 && col("doc_id") <= 2500)
          .select(col("doc_id"),
            concat_ws(" ", slice(split(col("text"), " "), 4, 5)).as("q"))
          .collect().map(r => (r.getLong(0).toInt, r.getString(1)))
          .toSeq.sortBy(_._1)
        // deterministic scratch path; saveBm25Index's overwrite + log
        // clear resets the layout, so reruns exercise the full lifecycle
        val path = s"${sys.props("java.io.tmpdir")}/graft-x159-" +
          s"${java.lang.Integer.toHexString(dir.hashCode)}"
        // tokBuckets 16 at sf-scale (the x158 sizing rule: 64 dirs of
        // KB-files is fs overhead; pruning semantics are count-invariant)
        graft.ext.TextSearch.saveBm25Index(
          graft.ext.TextSearch.buildBm25Index(
            docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text"),
          path, tokBuckets = 16)
        val loaded = graft.ext.TextSearch.loadBm25Index(s, path)
        val extended = graft.ext.TextSearch.extendStoredBm25Index(loaded,
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
        val maintained = graft.ext.TextSearch.removeFromStoredBm25Index(
          extended,
          docs.filter(col("doc_id") % 20 === 5)
            .select(col("doc_id").as("nid")), "nid")
        graft.ext.TextSearch.bm25TopKOnStoredIndex(maintained, qs, k = 10)
          .groupBy(col("qid"))
          .agg(coalesce(
              min(when(col("nid") === col("qid").cast("long"), col("rnk"))),
              lit(0)).cast("long").as("self_rank"),
            count(lit(1)).as("n_results"))
          .orderBy(col("qid"))
      },
      """WITH live AS (SELECT doc_id, text FROM documents
        |              WHERE doc_id % 20 <> 5),
        |tsrc AS (SELECT doc_id, string_split(text, ' ') AS t
        |         FROM documents),
        |q AS (SELECT CAST(doc_id AS INT) AS qid,
        |    array_to_string(t[4:8], ' ') AS qtext
        |  FROM tsrc WHERE doc_id % 50 = 0 AND doc_id <= 2500),
        |qt AS (SELECT qid, unnest(list_distinct(string_split(qtext, ' '))) AS tok
        |       FROM q),
        |tf AS (SELECT doc_id AS nid, tok, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM live) GROUP BY 1, 2),
        |dl AS (SELECT nid, sum(tf) AS dl FROM tf GROUP BY 1),
        |st AS (SELECT count(*)::DOUBLE AS n,
        |              sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
        |dfq AS (SELECT tok, count(*) AS dfq FROM tf GROUP BY 1),
        |terms AS (SELECT qt.qid, tf.nid, qt.tok,
        |    ln((st.n - dfq.dfq + 0.5) / (dfq.dfq + 0.5) + 1.0)
        |      * tf.tf * (1.2 + 1) / (tf.tf + 1.2 *
        |        ((1 - 0.75) + 0.75 * dl.dl / st.avgdl)) AS s
        |  FROM qt JOIN tf USING (tok) JOIN dfq USING (tok)
        |    JOIN dl ON tf.nid = dl.nid, st),
        |scored AS (SELECT qid, nid,
        |    round(list_reduce(list(s ORDER BY tok), (a, c) -> a + c), 4) AS score
        |  FROM terms GROUP BY 1, 2),
        |cands AS (SELECT qid, nid, rnk FROM (
        |  SELECT qid, nid, score, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, nid) AS rnk FROM scored)
        |  WHERE rnk <= 10)
        |SELECT qid,
        |  CAST(coalesce(min(CASE WHEN nid = qid THEN rnk END), 0) AS BIGINT)
        |    AS self_rank,
        |  count(*) AS n_results
        |FROM cands GROUP BY qid ORDER BY qid""".stripMargin)
  )

  /** Unrolled-round DuckDB twin of [[graft.ext.Graphs.kCoreRounds]]
    * over [[graft.ext.Graphs.syntheticEdges]] on `documents`. */
  private def kCoreSql(k: Int, rounds: Int): String = {
    val rcte = (1 to rounds).map { i =>
      val prev = if (i == 1) "a0" else s"a${i - 1}"
      s"""a$i AS (SELECT src AS v FROM (
         |    SELECT e.src, count(*) AS deg FROM und e
         |    JOIN $prev x ON e.src = x.v JOIN $prev y ON e.dst = y.v
         |    GROUP BY 1) WHERE deg >= $k)""".stripMargin
    }.mkString(",\n")
    val sel = (0 to rounds).map(i =>
      s"SELECT $i AS round, count(*) AS n_alive FROM a$i")
      .mkString("\nUNION ALL ")
    s"""WITH c AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS c
       |           FROM documents),
       |e0 AS (SELECT CAST(doc_id AS BIGINT) AS src,
       |    CAST((doc_id*31+7) % c.c AS BIGINT) AS dst FROM documents, c
       |  UNION ALL SELECT CAST(doc_id AS BIGINT),
       |    CAST((doc_id*57+13) % c.c AS BIGINT) FROM documents, c
       |  UNION ALL SELECT CAST(doc_id AS BIGINT),
       |    CAST((doc_id*97+29) % c.c AS BIGINT) FROM documents, c),
       |und AS (SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM e0 UNION ALL
       |    SELECT dst, src FROM e0) WHERE src != dst),
       |a0 AS (SELECT DISTINCT src AS v FROM (
       |    SELECT src FROM und UNION ALL SELECT dst FROM und)),
       |$rcte
       |$sel
       |ORDER BY round""".stripMargin
  }

  /** DuckDB twin of [[graft.ext.TextAnalysis.langId]] over a token-LIST
    * expression (x08's CASE, shared by the half-doc forms): the CASE
    * order mirrors the struct desc sort's tie rule (score desc, then
    * lang desc). */
  private def langCaseSql(tk: String): String = {
    def f(ws: Seq[String]) =
      s"len(list_filter($tk, x -> x IN (${ws.map(w => s"'$w'").mkString(",")})))"
    val en = f(Seq("the", "and", "of", "is", "a"))
    val de = f(Seq("der", "die", "das", "und", "ist"))
    val fr = f(Seq("le", "la", "et", "est", "les"))
    val es = f(Seq("el", "la", "y", "es", "los"))
    val zh = f(Seq("de", "shi", "le", "zai", "he"))
    val g = s"greatest($en, $de, $fr, $es, $zh)"
    s"""CASE WHEN $g = 0 THEN 'und'
       | WHEN $zh = $g THEN 'zh'
       | WHEN $fr = $g THEN 'fr'
       | WHEN $es = $g THEN 'es'
       | WHEN $en = $g THEN 'en'
       | ELSE 'de' END""".stripMargin
  }

  /** DuckDB twin of [[graft.ext.Sharding.zOrderKey]] for two dims:
    * bit i of `x` lands at 2i, of `y` at 2i+1 — integer sum of
    * disjoint bits ≡ OR, identical in both engines. */
  private def zOrderSql(x: String, y: String, bits: Int): String =
    ((0 until bits).map(i => s"((($x >> $i) & 1) << ${2 * i})") ++
      (0 until bits).map(i => s"((($y >> $i) & 1) << ${2 * i + 1})"))
      .mkString("(", " + ", ")")

  /** Unrolled-iteration DuckDB twin of [[graft.ext.Graphs.pageRankInt]]
    * over [[graft.ext.Graphs.syntheticEdges]] on `documents` — all
    * non-negative BIGINT floor division (`//` ≡ Spark `div`). */
  private def pageRankSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      val prev = if (i == 1) "m0" else s"m${i - 1}"
      s"""m$i AS (SELECT m.id,
         |    CAST(m.base + (85 * COALESCE(f.inflow, 0)) // 100 AS BIGINT)
         |      AS mass, m.base
         |  FROM $prev m LEFT JOIN (
         |    SELECT e.dst AS id,
         |      CAST(sum(m.mass // od.outdeg) AS BIGINT) AS inflow
         |    FROM e JOIN od USING (src) JOIN $prev m ON m.id = e.src
         |    GROUP BY e.dst) f USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH c AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS c
       |           FROM documents),
       |e AS (SELECT CAST(doc_id AS BIGINT) AS src,
       |    unnest([(doc_id*31+7) % c.c, (doc_id*57+13) % c.c,
       |            (doc_id*97+29) % c.c]) AS dst
       |  FROM documents, c),
       |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |vs AS (SELECT DISTINCT id FROM (
       |    SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
       |nv AS (SELECT count(*) AS n FROM vs),
       |m0 AS (SELECT id, 1000000000000 // n AS mass,
       |    (15 * (1000000000000 // n)) // 100 AS base FROM vs, nv),
       |$rounds
       |SELECT id, CAST(mass AS BIGINT) AS mass FROM m$iters
       |ORDER BY id""".stripMargin
  }

  /** Unrolled-iteration DuckDB twin of
    * [[graft.ext.Graphs.labelPropagation]] + the component histogram. */
  private def labelPropSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      val prev = if (i == 1) "l0" else s"l${i - 1}"
      s"""l$i AS (SELECT l.id,
         |    least(l.label, COALESCE(f.nmin, l.label)) AS label
         |  FROM $prev l LEFT JOIN (
         |    SELECT u.dst AS id, min(l.label) AS nmin
         |    FROM und u JOIN $prev l ON l.id = u.src
         |    GROUP BY u.dst) f USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH c AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS c
       |           FROM documents),
       |e0 AS (SELECT CAST(doc_id AS BIGINT) AS src,
       |    CAST((doc_id*31+7) % c.c AS BIGINT) AS dst FROM documents, c
       |  UNION ALL SELECT CAST(doc_id AS BIGINT),
       |    CAST((doc_id*57+13) % c.c AS BIGINT) FROM documents, c
       |  UNION ALL SELECT CAST(doc_id AS BIGINT),
       |    CAST((doc_id*97+29) % c.c AS BIGINT) FROM documents, c),
       |und AS (SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM e0 WHERE src != dst
       |    UNION ALL
       |    SELECT dst AS src, src AS dst FROM e0 WHERE src != dst)),
       |l0 AS (SELECT DISTINCT src AS id, src AS label FROM (
       |    SELECT src FROM und UNION ALL SELECT dst FROM und)),
       |$rounds
       |SELECT label, count(*) AS n_vertices, min(id) AS min_id,
       |  max(id) AS max_id
       |FROM l$iters GROUP BY label ORDER BY label""".stripMargin
  }
}
