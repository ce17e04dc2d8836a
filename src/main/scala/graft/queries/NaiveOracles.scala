package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.Q.tbl

/** Spark-naive oracle references for the queries whose semantics cannot
  * be expressed in the DuckDB dialect (xxhash64 hash families, the ML
  * coarse quantizer): an INDEPENDENT brute-force re-derivation — no
  * native graft expressions, no banded/bucketed candidate generation —
  * that [[graft.Verify]] dumps next to the query result and points the
  * oracle SQL at via `read_parquet`, so the driver's checker runs the
  * same rows + schema + hash compare it runs for DuckDB oracles (these
  * queries were previously rows-only).
  *
  * Independence inventory — what IS shared with the engine path, and why
  * that is sound:
  *  - `xxhash64` (a Spark built-in) and the minhash remix CONSTANTS
  *    ([[graft.functions.MinhashSigs.mixConsts]]): these are the
  *    hash-family SPEC. Every derived quantity — signatures, band
  *    hashes, estimates, exact overlaps — is recomputed here with plain
  *    column expressions (HOF folds, explicit per-index comparisons)
  *    instead of the native codegen expressions and band-key joins the
  *    engine uses.
  *  - the fitted KMeans centroids for x13: the quantizer is shared
  *    deterministic preprocessing (same data + seed inside the same
  *    Verify JVM). Cell assignment, probe ranking, scoring and top-k
  *    are all re-derived naively (exploded literal centroids, HOF
  *    argmin, fold dot products) — exactly the parts the old rows-only
  *    check could never see.
  * All-pairs enumeration is a broadcast-nested-loop over the corpus —
  * quadratic on purpose; this runs only in Verify at sf0.01.
  */
object NaiveOracles {

  /** Column twin of [[graft.functions.MinhashSigs.mix]]: xor-rotate
    * remix i of a base hash, from the shared constant table. */
  private def mixCol(h: Column, i: Int): Column =
    if (i == 0) h
    else {
      val r = (i * 7) % 61 + 1
      h.bitwiseXOR(shiftleft(h, r).bitwiseOR(shiftrightunsigned(h, 64 - r)))
        .bitwiseXOR(lit(graft.functions.MinhashSigs.mixConsts(i)))
    }

  /** Left-to-right double fold dot product — the documented evaluation
    * order of the native `vector_dot`, rebuilt from HOFs. */
  private def dotH(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (a: Column, b: Column) => a * b),
      lit(0.0), (acc: Column, v: Column) => acc + v)

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x02_dedup_minhash_lsh" -> (x02 _),
    "x03_dedup_simhash" -> (x03 _),
    "x13_ann_ivf" -> (x13 _),
    "x114_ann_recall_audit" -> (x114 _),
    "x49_semantic_dedup_ivf" -> (x49 _),
    "x51_ann_pq" -> (x51 _),
    "x56_ann_ivfpq" -> (x56 _),
    "x149_ann_index_upsert" -> (x149 _),
    "x152_ann_drift_repair" -> (x152 _),
    "x154_ann_stored_index" -> (x154 _),
    "x57_incremental_neardup" -> (x57 _),
    "x158_stored_minhash_probe" -> (x158 _),
    "x88_bpe_learn" -> (x88 _),
    "x93_bpe_encode" -> (x93 _),
    "x140_dedup_sweep_lsh" -> (x140 _))

  /** Naive x88: classic single-machine BPE (mutable left-to-right scan
    * over a driver-collected vocabulary) — the textbook trainer,
    * independent of the engine's distributed fold-contraction. Collecting
    * the vocab is verification-only (sf0.01); the engine path never
    * does. */
  private def x88(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    classicBpe(s, dir).toDF("iter", "left", "right", "cnt")
      .orderBy(col("iter"))
  }

  /** The textbook trainer's replace step: one left-to-right
    * non-overlapping contraction of (l, r) in a symbol sequence. */
  private def contractLocal(syms: Vector[String], l: String, r: String)
      : Vector[String] = {
    val b = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        b += (l + r); i += 2
      } else { b += syms(i); i += 1 }
    }
    b.result()
  }

  /** Classic single-machine BPE over a driver-collected vocabulary —
    * the shared x88/x93 reference trainer. */
  private def classicBpe(s: SparkSession, dir: String)
      : Seq[(Int, String, String, Long)] = {
    val words = tbl(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("wf"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var vocab = words.map { case (w, f) => (w.split("").toVector, f) }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var it = 1
    var done = false
    while (it <= 8 && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.toSeq
          .minBy { case ((l, r), c) => (-c, l, r) }
        out += ((it, l, r, c))
        vocab = vocab.map { case (sy, f) =>
          (contractLocal(sy, l, r), f)
        }
        it += 1
      }
    }
    out.result()
  }

  /** Naive x93: classic local BPE encode — trains its OWN merge table
    * with [[classicBpe]] (independent of the engine's distributed
    * learner), collects the documents, and applies the merges with the
    * mutable left-to-right encoder word by word. Agreement therefore
    * re-proves BOTH the merge table and the engine's nested-fold encode.
    * Driver-collecting the corpus is verification-only (sf0.01). */
  private def x93(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merges = classicBpe(s, dir).map { case (_, l, r, _) => (l, r) }
    val docs = tbl(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val rows = docs.map { case (id, text) =>
      val ws = text.split(" ", -1)
      val nBpe = ws.map { w =>
        merges.foldLeft(w.split("").toVector) { case (sy, (l, r)) =>
          contractLocal(sy, l, r)
        }.length.toLong
      }.sum
      (id, ws.length.toLong, text.length.toLong, nBpe)
    }
    rows.toSeq.toDF("doc_id", "n_words", "n_chars_ws", "n_bpe_tokens")
      .orderBy(col("doc_id"))
  }

  /** Naive x02: HOF-remixed minhash signatures over HOF-hashed distinct
    * shingles, ALL document pairs enumerated, band agreement as eight
    * explicit signature-slice comparisons, estimate as sixteen explicit
    * positional equalities, exact Jaccard via array_intersect. Mirrors
    * minhashLshPairs(k=16, bands=8, shingleN=2, threshold=0.6). */
  private def x02(s: SparkSession, dir: String): DataFrame =
    naiveMinhashPairs(tbl(s, dir, "documents"), threshold = 0.6)

  /** The shared x02/x57 machinery: HOF-remixed minhash over a (doc_id,
    * text) frame at k=16, bands=8, shingleN=2 — every step explicit,
    * none of the engine's native expressions or join staging. */
  private def naiveMinhashPairs(docs: DataFrame,
      threshold: Double): DataFrame = {
    val k = 16; val bands = 8; val rowsPerBand = k / bands
    val toks = transform(graft.ext.TextDedup.shingles(col("text"), 2),
      (g: Column) => xxhash64(g))
    val sigCols = (0 until k).map(i =>
      array_min(transform(col("toks"), (h: Column) => mixCol(h, i))).as(s"s$i"))
    val sigged = docs
      .select(col("doc_id").as("id"), toks.as("toks"))
      .withColumn("sz", size(col("toks")))
      .select(Seq(col("id"), col("toks"), col("sz")) ++ sigCols: _*)
    val bandCols = (0 until bands).map { bd =>
      val elems = (bd * rowsPerBand until (bd + 1) * rowsPerBand)
        .map(i => col(s"s$i"))
      xxhash64(elems: _*).as(s"bh$bd")
    }
    val base = sigged.select(
      Seq(col("id"), col("toks"), col("sz")) ++
        (0 until k).map(i => col(s"s$i")) ++ bandCols: _*)
    def side(sfx: String) = base.select(base.columns.map(c =>
      col(c).as(s"${c}_$sfx")): _*)
    val shareBand = (0 until bands)
      .map(bd => col(s"bh${bd}_a") === col(s"bh${bd}_b")).reduce(_ || _)
    val eqCount = (0 until k)
      .map(i => when(col(s"s${i}_a") === col(s"s${i}_b"), 1).otherwise(0))
      .reduce(_ + _)
    val estFloor = math.max(0.0,
      threshold - 2 * math.sqrt(threshold * (1 - threshold) / k))
    val inter = size(array_intersect(col("toks_a"), col("toks_b")))
    side("a").crossJoin(side("b"))
      .filter(col("id_a") < col("id_b"))
      .filter(shareBand)
      .withColumn("est_jac", eqCount.cast("double") / k)
      .filter(col("est_jac") >= estFloor)
      .withColumn("jac",
        inter.cast("double") / (col("sz_a") + col("sz_b") - inter))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jac"), col("jac"))
  }

  /** Naive x140: the LSH-candidate band sweep from ALL document pairs —
    * crossJoin enumeration, band agreement as eight explicit signature-
    * slice comparisons, pair membership = "shares ≥ 1 band" (the
    * candidate-set definition; no estimate floor, no threshold — a
    * sweep keeps every band), exact rational Jaccard deciles via
    * array_intersect, then the same ≤11-row histogram + cumulative.
    * Mirrors TextDedup.lshBandSweep(k=16, bands=8, shingleN=2). */
  private def x140(s: SparkSession, dir: String): DataFrame = {
    val k = 16; val bands = 8; val rowsPerBand = k / bands
    val docs = tbl(s, dir, "documents")
    val toks = transform(graft.ext.TextDedup.shingles(col("text"), 2),
      (g: Column) => xxhash64(g))
    val sigCols = (0 until k).map(i =>
      array_min(transform(col("toks"), (h: Column) => mixCol(h, i))).as(s"s$i"))
    val sigged = docs
      .select(col("doc_id").as("id"), toks.as("toks"))
      .withColumn("sz", size(col("toks")))
      .select(Seq(col("id"), col("toks"), col("sz")) ++ sigCols: _*)
    val bandCols = (0 until bands).map { bd =>
      val elems = (bd * rowsPerBand until (bd + 1) * rowsPerBand)
        .map(i => col(s"s$i"))
      xxhash64(elems: _*).as(s"bh$bd")
    }
    val base = sigged.select(
      Seq(col("id"), col("toks"), col("sz")) ++ bandCols: _*)
    def side(sfx: String) = base.select(base.columns.map(c =>
      col(c).as(s"${c}_$sfx")): _*)
    val shareBand = (0 until bands)
      .map(bd => col(s"bh${bd}_a") === col(s"bh${bd}_b")).reduce(_ || _)
    val inter = size(array_intersect(col("toks_a"), col("toks_b")))
    val pairs = side("a").crossJoin(side("b"))
      .filter(col("id_a") < col("id_b"))
      .filter(shareBand)
      .select(inter.cast("long").as("i"),
        (col("sz_a") + col("sz_b")).cast("long").as("ss"))
      .filter(col("i") > 0)
      .select(expr("(10L * i) div (ss - i)").as("band"))
    val w = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    pairs.groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
      .withColumn("cum_at_or_above", sum(col("n_pairs")).over(w))
      .orderBy(col("band"))
  }

  /** Naive x57: the one-corpus naive pair machinery over the SAME
    * planted union the engine query splits into batch + index (copies at
    * id+2,000,000), restricted to cross pairs and reoriented — the
    * incremental operator must agree with the whole-union family
    * exactly, which is precisely what it buys over re-pairing. */
  private def x57(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    naiveMinhashPairs(docs.union(planted), threshold = 0.8)
      .filter(col("id_a") < 2000000L && col("id_b") >= 2000000L)
      .select(col("id_b").as("id"), col("id_a").as("dup_of"),
        col("est_jac"), col("jac"))
  }

  /** Naive x158: x57's whole-union pair machinery over the SURVIVING
    * corpus (the `%100==50` slice deleted) — the stored-index lifecycle
    * the engine query runs (save→load→map-only extend→tombstone
    * delete→probe, two parquet round-trips) must agree exactly with a
    * from-scratch derivation over the survivors: the x152 oracle rule
    * applied to the dedup family. The planted batch still copies EVERY
    * `%50==0` doc (including deleted sources), so a wrong delete — or a
    * tombstone that failed to apply — changes the pair set visibly. */
  private def x158(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
    val surviving = docs.filter(col("doc_id") % 100 =!= 50)
    val planted = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    naiveMinhashPairs(surviving.union(planted), threshold = 0.8)
      .filter(col("id_a") < 2000000L && col("id_b") >= 2000000L)
      .select(col("id_b").as("id"), col("id_a").as("dup_of"),
        col("est_jac"), col("jac"))
  }

  /** Naive x03: 64 interpreted per-bit vote folds per document (the
    * pre-native HOF simhash), all pairs enumerated, the four 16-bit band
    * agreements as explicit comparisons. Mirrors simhashPairs
    * (maxHamming=6). */
  private def x03(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val th = transform(split(col("text"), " "), (t: Column) => xxhash64(t))
    val bits = (0 until 64).map { j =>
      val votes = aggregate(col("th"), lit(0),
        (acc: Column, h: Column) => acc +
          (shiftrightunsigned(h, j).bitwiseAND(lit(1L)).cast("int") * 2 - 1))
      when(votes > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    val base = docs.select(col("doc_id").as("id"), th.as("th"))
      .withColumn("sh", bits)
    val a = base.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = base.select(col("id").as("id_b"), col("sh").as("sh_b"))
    val share = (0 until 4).map(bd =>
      shiftright(col("sh_a"), bd * 16).bitwiseAND(lit(0xFFFFL)) ===
        shiftright(col("sh_b"), bd * 16).bitwiseAND(lit(0xFFFFL)))
      .reduce(_ || _)
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b") && share &&
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= 6)
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
  }

  /** Naive x49: the quantizer centroids are a PUBLISHED seeded constant
    * of the corpus ([[graft.ext.Similarity.ivfCentroids]]), cell
    * assignment by exploded-literal argmin (no predict UDF), then
    * all-pairs cosine dominance WITHIN each cell via a plain cross join
    * — no cluster-equi bucketing, no checkpointed shared frame. Mirrors
    * semanticDedupIvf(nCells=16, threshold=0.35). */
  private def x49(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val cents = graft.ext.Similarity.ivfCentroids(
      emb, "vec_id", "embedding", nCentroids = 16, seed = 42L)
    val centArr = array(cents.map { case (i, c) =>
      struct(lit(i).as("cell"), array(c.map(lit).toIndexedSeq: _*).as("cvec"))
    }: _*)
    val exp = emb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("c", explode(centArr))
      .withColumn("d2", aggregate(
        zip_with(col("v"), col("c.cvec"), (x: Column, y: Column) => (x - y) * (x - y)),
        lit(0.0), (acc: Column, x: Column) => acc + x))
    val aw = Window.partitionBy(col("id")).orderBy(col("d2"), col("c.cell"))
    val assigned = exp.withColumn("rn", row_number().over(aw))
      .filter(col("rn") === 1)
      .select(col("id"), col("v"), col("c.cell").as("cluster"))
      .withColumn("n", sqrt(dotH(col("v"), col("v"))))
    val a = assigned.select(col("id").as("ida"), col("v").as("va"),
      col("n").as("na"), col("cluster").as("ca"))
    val b = assigned.select(col("id").as("idb"), col("v").as("vb"),
      col("n").as("nb"), col("cluster").as("cb"))
    val dups = a.crossJoin(b)
      .filter(col("ca") === col("cb") && col("ida") > col("idb"))
      .filter(when(col("na") * col("nb") > 0,
        dotH(col("va"), col("vb")) / (col("na") * col("nb"))) >= 0.35)
      .groupBy(col("ida").as("id"))
      .agg(min(col("idb")).as("dup_of"))
    assigned.select(col("id"), col("cluster"))
      .join(dups, Seq("id"), "left")
      .withColumn("kept", col("dup_of").isNull.cast("long"))
  }

  /** Naive x51: the codebook is a PUBLISHED seeded constant of the corpus
    * ([[graft.ext.Similarity.pqCodebook]] — the LSH-planes precedent:
    * both sides consume the same deterministic artifact as literals),
    * then everything else re-derived without the engine's joins —
    * codebooks as exploded literal arrays, per-(vector, subspace) codes
    * by window argmin, and ADC computed directly on an all-pairs
    * queries × corpus cross join: per subspace, the squared L2 distance
    * between the query's subvector and the LITERAL centroid the doc's
    * code points at, summed in the same fixed subspace order. No
    * broadcast codebook relation, no LUT join, no struct-min argmin.
    * Mirrors pqTopK(k=5, m=4, codebookSize=16) over the %100 sample. */
  private def x51(s: SparkSession, dir: String): DataFrame = {
    val m = 4; val codebookSize = 16; val k = 5; val seed = 42L
    val emb = tbl(s, dir, "embeddings")
    val base = emb.select(col("vec_id").as("nid"),
      col("embedding").cast("array<double>").as("v"))
    val dim = base.select(size(col("v"))).head.getInt(0)
    val subDim = dim / m
    def l2sq(x: Column, y: Column): Column = aggregate(
      zip_with(x, y, (a: Column, b: Column) => (a - b) * (a - b)),
      lit(0.0), (acc: Column, t: Column) => acc + t)
    // per-subspace literal codebooks: the published artifact, as literals
    val cb = graft.ext.Similarity.pqCodebook(
      emb, "vec_id", "embedding", m, codebookSize, seed)
    val cents: Seq[Seq[Array[Double]]] = (0 until m).map { subIdx =>
      cb.filter(_._1 == subIdx).sortBy(_._2).map(_._3)
    }
    def litVec(c: Array[Double]): Column = array(c.map(lit): _*)
    // the centroid a subvector encodes to, resolved per subspace by
    // window argmin over the exploded literal codebook
    def codeCentroid(subIdx: Int): DataFrame = {
      val cb = array(cents(subIdx).zipWithIndex.map { case (c, ci) =>
        struct(lit(ci).as("code"), litVec(c).as("cvec"))
      }: _*)
      val sv = slice(col("v"), subIdx * subDim + 1, subDim)
      val exp = base.select(col("nid"), sv.as("sv"))
        .withColumn("c", explode(cb))
        .withColumn("d2", l2sq(col("sv"), col("c.cvec")))
      val w = Window.partitionBy(col("nid")).orderBy(col("d2"), col("c.code"))
      exp.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("nid"), col("c.cvec").as(s"cent$subIdx"))
    }
    val encoded = (0 until m).map(codeCentroid)
      .reduce((a, b) => a.join(b, "nid"))
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
    // fixed-order per-subspace partials, identical addition order to the
    // engine's sum(when(sub=i)) terms
    val adc = (0 until m).map { subIdx =>
      l2sq(slice(col("qv"), subIdx * subDim + 1, subDim), col(s"cent$subIdx"))
    }.reduce(_ + _)
    val scored = q.crossJoin(encoded).withColumn("adc", adc)
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("nid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk"), col("adc"))
  }

  /** Naive x13: the quantizer centroids are a PUBLISHED seeded constant
    * of the corpus ([[graft.ext.Similarity.ivfCentroids]] — the
    * LSH-planes precedent), then cell assignment by exploded-literal
    * argmin, probe ranking, scoring and top-k all re-derived with HOF
    * arithmetic — no predict UDF, no broadcast probe join. Mirrors
    * ivfTopK(k=5, nCentroids=16, nProbe=4) over the %100 query sample. */
  private def x13(s: SparkSession, dir: String): DataFrame =
    naiveIvf(s, dir, nProbe = 4)

  private def naiveIvf(s: SparkSession, dir: String,
      nProbe: Int): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val cents = graft.ext.Similarity.ivfCentroids(
      emb, "vec_id", "embedding", nCentroids = 16, seed = 42L)
    val centArr = array(cents.map { case (i, c) =>
      struct(lit(i).as("cell"), array(c.map(lit).toIndexedSeq: _*).as("cvec"))
    }: _*)
    def d2(v: Column, cvec: Column) = aggregate(
      zip_with(v, cvec, (x: Column, y: Column) => (x - y) * (x - y)),
      lit(0.0), (acc: Column, x: Column) => acc + x)
    val corpusExp = emb
      .select(col("vec_id").as("nid"),
        col("embedding").cast("array<double>").as("cv"))
      .withColumn("c", explode(centArr))
      .withColumn("d2", d2(col("cv"), col("c.cvec")))
    val aw = Window.partitionBy(col("nid")).orderBy(col("d2"), col("c.cell"))
    val assigned = corpusExp.withColumn("rn", row_number().over(aw))
      .filter(col("rn") === 1)
      .select(col("nid"), col("cv"), col("c.cell").as("cell"))
      .withColumn("cn", sqrt(dotH(col("cv"), col("cv"))))
    val queryExp = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
      .withColumn("c", explode(centArr))
      .withColumn("d2", d2(col("qv"), col("c.cvec")))
    val pw = Window.partitionBy(col("qid")).orderBy(col("d2"), col("c.cell"))
    val probes = queryExp.withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= nProbe)
      .select(col("qid"), col("qv"), col("c.cell").as("cell"))
      .withColumn("qn", sqrt(dotH(col("qv"), col("qv"))))
    val scored = assigned.join(probes, "cell")
      .withColumn("sim", when(col("cn") * col("qn") > 0,
        dotH(col("cv"), col("qv")) / (col("cn") * col("qn"))))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("nid"), col("rnk"), col("sim"))
  }

  /** Naive x114: recall@5 of the nProbe=2 IVF against exact brute
    * force, both re-derived with HOF arithmetic (fold dot products,
    * exploded-literal centroid argmin) — independent of the engine's
    * native `vector_dot` + broadcast probe join. n_hits is an integer,
    * so the audit is hash-exact as long as both sides resolve the same
    * float ordering — which they do, because `vector_dot` documents the
    * identical left-to-right fold [[dotH]] replays. */
  private def x114(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
    val c = emb.select(col("vec_id").as("nid"),
      col("embedding").cast("array<double>").as("cv"))
    val scored = c.crossJoin(q)
      .withColumn("cn", sqrt(dotH(col("cv"), col("cv"))))
      .withColumn("qn", sqrt(dotH(col("qv"), col("qv"))))
      .withColumn("sim", when(col("cn") * col("qn") > 0,
        dotH(col("cv"), col("qv")) / (col("cn") * col("qn"))))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    val brute = scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5).select(col("qid"), col("nid"))
    val ivf = naiveIvf(s, dir, nProbe = 2).select(col("qid"), col("nid"))
      .withColumn("hit", lit(1L))
    brute.join(ivf, Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg(coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
      .orderBy(col("qid"))
  }

  /** Naive x56: both constants are PUBLISHED seeded artifacts
    * ([[graft.ext.Similarity.ivfCentroids]] and `pqCodebook`); cell
    * assignment and probe ranking by exploded-literal argmin (the x13
    * naive), per-(vector, subspace) codes by window argmin over the
    * literal codebook and ADC against the LITERAL centroid each code
    * points at (the x51 naive), candidates restricted to probed cells
    * by a plain (qid, cell) join. Mirrors ivfPqTopK(k=5, nCentroids=16,
    * nProbe=4, m=4, codebookSize=16) over the %100 query sample. */
  private def x56(s: SparkSession, dir: String): DataFrame = {
    val m = 4; val codebookSize = 16; val k = 5; val seed = 42L
    val emb = tbl(s, dir, "embeddings")
    val cents = graft.ext.Similarity.ivfCentroids(
      emb, "vec_id", "embedding", nCentroids = 16, seed = seed)
    val centArr = array(cents.map { case (i, c) =>
      struct(lit(i).as("cell"), array(c.map(lit).toIndexedSeq: _*).as("cvec"))
    }: _*)
    val base = emb.select(col("vec_id").as("nid"),
      col("embedding").cast("array<double>").as("v"))
    val dim = base.select(size(col("v"))).head.getInt(0)
    val subDim = dim / m
    def l2sq(x: Column, y: Column): Column = aggregate(
      zip_with(x, y, (a: Column, b: Column) => (a - b) * (a - b)),
      lit(0.0), (acc: Column, t: Column) => acc + t)
    // cell per corpus vector: exploded-literal argmin
    val aw = Window.partitionBy(col("nid"))
      .orderBy(col("d2"), col("c.cell"))
    val cellOf = base
      .withColumn("c", explode(centArr))
      .withColumn("d2", l2sq(col("v"), col("c.cvec")))
      .withColumn("rn", row_number().over(aw))
      .filter(col("rn") === 1)
      .select(col("nid"), col("c.cell").as("cell"))
    // the centroid each (vector, subspace) encodes to, from the literal
    // codebook
    val cb = graft.ext.Similarity.pqCodebook(
      emb, "vec_id", "embedding", m, codebookSize, seed)
    val cents2: Seq[Seq[Array[Double]]] = (0 until m).map { subIdx =>
      cb.filter(_._1 == subIdx).sortBy(_._2).map(_._3)
    }
    def litVec(c: Array[Double]): Column = array(c.map(lit).toIndexedSeq: _*)
    def codeCentroid(subIdx: Int): DataFrame = {
      val cbArr = array(cents2(subIdx).zipWithIndex.map { case (c, ci) =>
        struct(lit(ci).as("code"), litVec(c).as("cvec"))
      }: _*)
      val sv = slice(col("v"), subIdx * subDim + 1, subDim)
      val exp = base.select(col("nid"), sv.as("sv"))
        .withColumn("c", explode(cbArr))
        .withColumn("d2", l2sq(col("sv"), col("c.cvec")))
      val w = Window.partitionBy(col("nid")).orderBy(col("d2"), col("c.code"))
      exp.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("nid"), col("c.cvec").as(s"cent$subIdx"))
    }
    val encoded = (0 until m).map(codeCentroid)
      .reduce((a, b) => a.join(b, "nid"))
      .join(cellOf, "nid")
    // probed cells per query: exploded-literal argmin, top nProbe
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
    val pw = Window.partitionBy(col("qid")).orderBy(col("d2"), col("c.cell"))
    val probes = q
      .withColumn("c", explode(centArr))
      .withColumn("d2", l2sq(col("qv"), col("c.cvec")))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= 4)
      .select(col("qid"), col("qv"), col("c.cell").as("cell"))
    // ADC on candidates in probed cells, fixed subspace addition order
    val adc = (0 until m).map { subIdx =>
      l2sq(slice(col("qv"), subIdx * subDim + 1, subDim), col(s"cent$subIdx"))
    }.reduce(_ + _)
    val scored = probes.join(encoded, "cell").withColumn("adc", adc)
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("nid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk"), col("adc"))
  }

  /** Naive x149: the incremental-maintenance equivalence, re-derived
    * from scratch — fit the constants on the BASE corpus (shared
    * deterministic fit, the x56 rule), then brute-force encode the
    * FINAL corpus state (base ∪ delta − deleted) with exploded-literal
    * argmins and windows; probe, ADC-rank, and recompute the per-cell
    * drift audit with plain expressions. The engine path must be
    * bit-identical: its extend/remove against the standing index is
    * exactly an encode of the final state under frozen constants. */
  private def x149(s: SparkSession, dir: String): DataFrame = {
    val m = 4; val codebookSize = 16; val k = 5; val seed = 42L
    val emb = tbl(s, dir, "embeddings")
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val delta = emb.filter(col("vec_id") % 10 === 0)
    val doomed = emb.filter(col("vec_id") % 20 === 5).select(col("vec_id"))
    val cents = graft.ext.Similarity.ivfCentroids(
      base, "vec_id", "embedding", nCentroids = 16, seed = seed)
    val cb = graft.ext.Similarity.pqCodebook(
      base, "vec_id", "embedding", m, codebookSize, seed)
    val centArr = array(cents.map { case (i, c) =>
      struct(lit(i).as("cell"), array(c.map(lit).toIndexedSeq: _*).as("cvec"))
    }: _*)
    def vecs(df: DataFrame): DataFrame = df.select(col("vec_id").as("nid"),
      col("embedding").cast("array<double>").as("v"))
    val corpus = vecs(base.unionByName(delta)
      .join(doomed, Seq("vec_id"), "left_anti"))
    val dim = corpus.select(size(col("v"))).head.getInt(0)
    val subDim = dim / m
    def l2sq(x: Column, y: Column): Column = aggregate(
      zip_with(x, y, (a: Column, b: Column) => (a - b) * (a - b)),
      lit(0.0), (acc: Column, t: Column) => acc + t)
    val aw = Window.partitionBy(col("nid")).orderBy(col("d2"), col("c.cell"))
    def assign(df: DataFrame): DataFrame = df
      .withColumn("c", explode(centArr))
      .withColumn("d2", l2sq(col("v"), col("c.cvec")))
      .withColumn("rn", row_number().over(aw))
      .filter(col("rn") === 1)
    val cellOf = assign(corpus).select(col("nid"), col("c.cell").as("cell"))
    val cents2: Seq[Seq[Array[Double]]] = (0 until m).map { subIdx =>
      cb.filter(_._1 == subIdx).sortBy(_._2).map(_._3)
    }
    def litVec(c: Array[Double]): Column = array(c.map(lit).toIndexedSeq: _*)
    def codeCentroid(subIdx: Int): DataFrame = {
      val cbArr = array(cents2(subIdx).zipWithIndex.map { case (c, ci) =>
        struct(lit(ci).as("code"), litVec(c).as("cvec"))
      }: _*)
      val sv = slice(col("v"), subIdx * subDim + 1, subDim)
      val exp = corpus.select(col("nid"), sv.as("sv"))
        .withColumn("c", explode(cbArr))
        .withColumn("d2", l2sq(col("sv"), col("c.cvec")))
      val w = Window.partitionBy(col("nid")).orderBy(col("d2"), col("c.code"))
      exp.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("nid"), col("c.cvec").as(s"cent$subIdx"))
    }
    val encoded = (0 until m).map(codeCentroid)
      .reduce((a, b) => a.join(b, "nid"))
      .join(cellOf, "nid")
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
    val pw = Window.partitionBy(col("qid")).orderBy(col("d2"), col("c.cell"))
    val probes = q
      .withColumn("c", explode(centArr))
      .withColumn("d2", l2sq(col("qv"), col("c.cvec")))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= 4)
      .select(col("qid"), col("qv"), col("c.cell").as("cell"))
    val adc = (0 until m).map { subIdx =>
      l2sq(slice(col("qv"), subIdx * subDim + 1, subDim), col(s"cent$subIdx"))
    }.reduce(_ + _)
    val scored = probes.join(encoded, "cell").withColumn("adc", adc)
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("nid"))
    val topk = scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk"), col("adc"), col("cell"))
    // drift audit re-derived: milli-scaled integer distance sums per cell
    def stats(df: DataFrame): DataFrame = assign(df)
      .select(col("c.cell").as("cell"),
        round(col("d2") * 1000, 0).cast("long").as("d2m"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("d2m")).as("smil"))
    val sb = stats(vecs(base.join(doomed, Seq("vec_id"), "left_anti")))
      .select(col("cell"), col("n").as("n_base"), col("smil").as("sb"))
    val sd = stats(vecs(delta))
      .select(col("cell"), col("n").as("n_delta"), col("smil").as("sd"))
    val drift = sb.join(sd, Seq("cell"), "full")
      .select(col("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        // decimal cross-products, mirroring the engine's overflow-safe
        // arithmetic exactly (same floor, same casts)
        when(col("sb") > 0 && col("n_delta") > 0,
          floor((lit(1000).cast("decimal(38,0)") * col("sd") * col("n_base")) /
            (col("sb").cast("decimal(38,0)") * col("n_delta")))
            .cast("long")).as("drift_pm"))
    topk.join(drift, Seq("cell"), "left")
      .select(col("qid"), col("nid"), col("rnk"), col("adc"),
        col("cell"), col("n_base"), col("n_delta"), col("drift_pm"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Naive x154: the stored-index lifecycle's END STATE re-derived —
    * identical final corpus and frozen fits to [[x149]] (build on 90%,
    * extend 10%, delete the %20==5 slice), WITHOUT the drift columns:
    * the query under test runs that lifecycle through [[graft.ext
    * .AnnIndexStore]] (init, extend, remove, compact, load), and this
    * oracle proves the store is bit-invisible. Brute-force
    * re-encode of the survivor corpus from exploded literals, the x149
    * kernel. */
  private def x154(s: SparkSession, dir: String): DataFrame = {
    val m = 4; val codebookSize = 16; val k = 5; val seed = 42L
    val emb = tbl(s, dir, "embeddings")
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val delta = emb.filter(col("vec_id") % 10 === 0)
    val doomed = emb.filter(col("vec_id") % 20 === 5).select(col("vec_id"))
    val cents = graft.ext.Similarity.ivfCentroids(
      base, "vec_id", "embedding", nCentroids = 16, seed = seed)
    val cb = graft.ext.Similarity.pqCodebook(
      base, "vec_id", "embedding", m, codebookSize, seed)
    val centArr = array(cents.map { case (i, c) =>
      struct(lit(i).as("cell"), array(c.map(lit).toIndexedSeq: _*).as("cvec"))
    }: _*)
    val corpus = base.unionByName(delta)
      .join(doomed, Seq("vec_id"), "left_anti")
      .select(col("vec_id").as("nid"),
        col("embedding").cast("array<double>").as("v"))
    val dim = corpus.select(size(col("v"))).head.getInt(0)
    val subDim = dim / m
    def l2sq(x: Column, y: Column): Column = aggregate(
      zip_with(x, y, (a: Column, b: Column) => (a - b) * (a - b)),
      lit(0.0), (acc: Column, t: Column) => acc + t)
    val aw = Window.partitionBy(col("nid")).orderBy(col("d2"), col("c.cell"))
    val cellOf = corpus
      .withColumn("c", explode(centArr))
      .withColumn("d2", l2sq(col("v"), col("c.cvec")))
      .withColumn("rn", row_number().over(aw))
      .filter(col("rn") === 1)
      .select(col("nid"), col("c.cell").as("cell"))
    val cents2: Seq[Seq[Array[Double]]] = (0 until m).map { subIdx =>
      cb.filter(_._1 == subIdx).sortBy(_._2).map(_._3)
    }
    def litVec(c: Array[Double]): Column = array(c.map(lit).toIndexedSeq: _*)
    def codeCentroid(subIdx: Int): DataFrame = {
      val cbArr = array(cents2(subIdx).zipWithIndex.map { case (c, ci) =>
        struct(lit(ci).as("code"), litVec(c).as("cvec"))
      }: _*)
      val sv = slice(col("v"), subIdx * subDim + 1, subDim)
      val exp = corpus.select(col("nid"), sv.as("sv"))
        .withColumn("c", explode(cbArr))
        .withColumn("d2", l2sq(col("sv"), col("c.cvec")))
      val w = Window.partitionBy(col("nid")).orderBy(col("d2"), col("c.code"))
      exp.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("nid"), col("c.cvec").as(s"cent$subIdx"))
    }
    val encoded = (0 until m).map(codeCentroid)
      .reduce((a, b) => a.join(b, "nid"))
      .join(cellOf, "nid")
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
    val pw = Window.partitionBy(col("qid")).orderBy(col("d2"), col("c.cell"))
    val probes = q
      .withColumn("c", explode(centArr))
      .withColumn("d2", l2sq(col("qv"), col("c.cvec")))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= 4)
      .select(col("qid"), col("qv"), col("c.cell").as("cell"))
    val adc = (0 until m).map { subIdx =>
      l2sq(slice(col("qv"), subIdx * subDim + 1, subDim), col(s"cent$subIdx"))
    }.reduce(_ + _)
    val scored = probes.join(encoded, "cell").withColumn("adc", adc)
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("nid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk"), col("adc"), col("cell"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Naive x152: drifted-cell repair re-derived — the shared
    * deterministic fits are [[graft.ext.Similarity.ivfCentroids]]/
    * [[graft.ext.Similarity.pqCodebook]] plus the Lloyd kernel for the
    * refit; everything downstream (cell routing, the repair target
    * choice, the affected set and its fit sample, re-routing, probe
    * ranking, ADC, top-k) is recomputed with exploded literals and
    * windows. */
  private def x152(s: SparkSession, dir: String): DataFrame = {
    val m = 4; val codebookSize = 16; val k = 5; val seed = 42L
    val emb = tbl(s, dir, "embeddings")
    val cents = graft.ext.Similarity.ivfCentroids(
      emb, "vec_id", "embedding", nCentroids = 16, seed = seed)
    val cb = graft.ext.Similarity.pqCodebook(
      emb, "vec_id", "embedding", m, codebookSize, seed)
    def centArrOf(cs: Seq[(Int, Array[Double])]): Column = array(cs.map {
      case (i, c) =>
        struct(lit(i).as("cell"), array(c.map(lit).toIndexedSeq: _*).as("cvec"))
    }: _*)
    val corpus = emb.select(col("vec_id").as("nid"),
      col("embedding").cast("array<double>").as("v"))
    val dim = corpus.select(size(col("v"))).head.getInt(0)
    val subDim = dim / m
    def l2sq(x: Column, y: Column): Column = aggregate(
      zip_with(x, y, (a: Column, b: Column) => (a - b) * (a - b)),
      lit(0.0), (acc: Column, t: Column) => acc + t)
    val aw = Window.partitionBy(col("nid")).orderBy(col("d2"), col("c.cell"))
    def assign(df: DataFrame, cs: Seq[(Int, Array[Double])]): DataFrame = df
      .withColumn("c", explode(centArrOf(cs)))
      .withColumn("d2", l2sq(col("v"), col("c.cvec")))
      .withColumn("rn", row_number().over(aw))
      .filter(col("rn") === 1)
      .select(col("nid"), col("v"), col("c.cell").as("cell"))
    val routed = assign(corpus, cents)
    // repair target: two fullest cells, ties to the lower id
    val cells = routed.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("cell")).limit(2)
      .collect().map(_.getInt(0)).toSeq.sorted
    // the affected vectors' deterministic fit sample, then the shared
    // Lloyd kernel with the engine's id-above-the-standing-set rule
    val sample = routed.filter(col("cell").isin(cells.map(Integer.valueOf): _*))
      .orderBy(pmod(xxhash64(col("nid")), lit(1000000007L)), col("nid"))
      .limit(4096).select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    val refit = graft.ext.Similarity
      .localLloyd(sample, math.min(cells.size * 2, sample.length),
        iters = 8, seed = seed)
      .zipWithIndex.map { case (c, i) => (16 + i, c) }
    val survivors = cents.filterNot(c => cells.contains(c._1))
    // re-route ONLY the affected vectors, over the refit subs
    val rerouted = assign(
      routed.filter(col("cell").isin(cells.map(Integer.valueOf): _*))
        .select(col("nid"), col("v")), refit)
    val cellOf = routed.filter(!col("cell").isin(cells.map(Integer.valueOf): _*))
      .select(col("nid"), col("cell"))
      .unionByName(rerouted.select(col("nid"), col("cell")))
    val cents2: Seq[Seq[Array[Double]]] = (0 until m).map { subIdx =>
      cb.filter(_._1 == subIdx).sortBy(_._2).map(_._3)
    }
    def litVec(c: Array[Double]): Column = array(c.map(lit).toIndexedSeq: _*)
    def codeCentroid(subIdx: Int): DataFrame = {
      val cbArr = array(cents2(subIdx).zipWithIndex.map { case (c, ci) =>
        struct(lit(ci).as("code"), litVec(c).as("cvec"))
      }: _*)
      val sv = slice(col("v"), subIdx * subDim + 1, subDim)
      val exp = corpus.select(col("nid"), sv.as("sv"))
        .withColumn("c", explode(cbArr))
        .withColumn("d2", l2sq(col("sv"), col("c.cvec")))
      val w = Window.partitionBy(col("nid")).orderBy(col("d2"), col("c.code"))
      exp.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("nid"), col("c.cvec").as(s"cent$subIdx"))
    }
    val encoded = (0 until m).map(codeCentroid)
      .reduce((a, b) => a.join(b, "nid"))
      .join(cellOf, "nid")
    val composed = survivors ++ refit
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
    val pw = Window.partitionBy(col("qid")).orderBy(col("d2"), col("c.cell"))
    val probes = q
      .withColumn("c", explode(centArrOf(composed)))
      .withColumn("d2", l2sq(col("qv"), col("c.cvec")))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= 4)
      .select(col("qid"), col("qv"), col("c.cell").as("cell"))
    val adc = (0 until m).map { subIdx =>
      l2sq(slice(col("qv"), subIdx * subDim + 1, subDim), col(s"cent$subIdx"))
    }.reduce(_ + _)
    val scored = probes.join(encoded, "cell").withColumn("adc", adc)
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("nid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk"), col("adc"),
        col("cell").cast("long").as("cell"),
        (col("cell") > 15).cast("long").as("in_refit_cell"))
      .orderBy(col("qid"), col("rnk"))
  }
}
