package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Design for 100 TB:
  *  - exact dedup groups on a 256-bit content hash, never on the raw text —
  *    the shuffle moves 32 bytes + id per row instead of documents;
  *  - MinHash signatures are built with one explode + one partial-aggregated
  *    groupBy (map-side combine collapses per-doc shingles before the
  *    shuffle); candidate generation joins on band keys so the cross
  *    product never materializes;
  *  - SimHash is computed entirely with higher-order array functions —
  *    zero shuffle per document — and near-dup candidates come from a
  *    16-bit band join (pigeonhole: hamming ≤ 3 ⇒ at least one of 4 bands
  *    equal);
  *  - exact Jaccard verification runs only on candidate pairs.
  */
object TextDedup {

  /** Tokenize on single spaces (kept dialect-portable for the oracle). */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word n-gram shingles of `text` — [[Curation.ngrams]] (the
    * single home of the raw builder and its short-doc guard) deduplicated,
    * so the dedup family and the curation family can never diverge on
    * what an n-gram is. */
  def shingles(text: Column, n: Int): Column =
    array_distinct(Curation.ngrams(text, n))

  /** Exact dedup: group by content hash, keep the smallest id as the
    * representative. Returns (rep_id, n_copies) per distinct content. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_copies"))

  /** Streaming exact dedup for continuous ingest: keep the first document
    * per content hash across micro-batches, with watermark-bounded state —
    * the state store holds one 32-byte hash per distinct document inside
    * the event-time window, never the documents, so state is bounded at
    * any corpus rate. Duplicates arriving later than `delay` behind the
    * stream may pass through; a periodic batch [[exact]] pass sweeps the
    * tail (the standard lambda cleanup). */
  def exactStreaming(stream: DataFrame, idCol: String, textCol: String,
      tsCol: String, delay: String = "1 hour"): DataFrame =
    stream
      .withColumn("content_hash", sha2(col(textCol), 256))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming NEAR-duplicate suppression: a document is flagged when a
    * PRIOR document sits within `maxHamming` bits of its 64-bit simhash.
    * "Prior" is arrival order across micro-batches (the `dropDuplicates`
    * streaming semantic — a late-arriving original cannot retroactively
    * flag an already-emitted copy) and `(event-time, id)` order within a
    * batch, so the result is deterministic given the batch sequence.
    *
    * The signature splits into `bands` disjoint bit-ranges; by pigeonhole
    * two signatures within `maxHamming` agree exactly on at least one
    * band when `bands > maxHamming`, so keying state by `(band, bits)`
    * has guaranteed candidate recall, and the exact hamming check inside
    * each group removes the false positives. Every band group applies the
    * same `(ts, id)` order and a matching pair always shares a group, so
    * `dup_of` (the smallest matching prior id, aggregated across bands)
    * is deterministic regardless of partitioning.
    *
    * Scale: state per band bucket is (ts, id, sig) triples — 24 bytes per
    * document per band, never text — and is DOUBLY bounded: by event time
    * (`expireAfter`) and by size (`maxPerBucket`). Priors count whether
    * or not they were themselves kept (dominance semantics — the batch
    * twin is [[simhashPairs]] + lowest-id resolution): flagged copies
    * enter state too, so a drifting chain A~B~C still collapses even
    * when A̸~C directly, which makes hot-bucket state linear in copies —
    * `maxPerBucket` (count-and-drop overflow: an arrival into a full
    * bucket is still CHECKED against the retained priors, and still
    * flagged, but is not itself retained) caps the degenerate case of a
    * viral template flooding one band bucket, where the linear scan per
    * arrival would otherwise go quadratic. The trade is bounded and
    * explicit: a dropped entry cannot anchor later chained drift, so a
    * copy whose only within-hamming prior was dropped passes — for a
    * flood of near-identical docs the retained priors flag it anyway.
    * Because that trade silently weakens `expireAfter = None`'s "exact
    * dominance" meaning, the bound is OPT-IN: the default
    * `Int.MaxValue` keeps the historical unbounded-recall semantics,
    * and a production deployment sets an explicit cap (8192 is a sane
    * choice) sized to its viral-template exposure.
    *
    * `expireAfter` bounds the state by EVENT time: an original is
    * forgotten once the watermark passes its timestamp plus the expiry —
    * duplicates arriving within `expireAfter` of their original's event
    * time are caught, later ones may pass (the
    * `dropDuplicatesWithinWatermark` contract; like [[exactStreaming]],
    * a periodic batch sweep catches the tail). `None` keeps band-bucket
    * state until `maxPerBucket` alone bounds it. With expiry on, Spark's
    * conservative multi-stateful-operator check must be disabled
    * (`spark.sql.streaming.statefulOperator.checkCorrectness.enabled=
    * false`): it guards downstream WATERMARK-EVICTING state against late
    * upstream emissions, but the per-doc vote here stores NOTHING (next
    * paragraph), so a "late" band verdict is simply processed in its
    * arrival batch rather than being dropped. This is PROVEN, not
    * asserted: the ExtOpsSpec out-of-order replay ("drops and duplicates
    * NO verdicts") feeds a late event-time arrival through the chained
    * stages with the flag off and pins exactly-one-verdict-per-document
    * against an independently computed dominance.
    *
    * The per-doc vote (OR across band verdicts) is a STATELESS pass-
    * through group stage: every band verdict of a document is emitted by
    * the band stage in the document's own arrival batch (the band
    * explode and the verdicts live inside one trigger), so the vote
    * group is complete by construction, emits immediately, and never
    * writes to its state store — end-to-end query state is exactly the
    * band buckets', and the `expireAfter`/`maxPerBucket` bounds hold for
    * the WHOLE query (an earlier form aggregated the vote in update
    * mode, whose per-id state grew with every document ever seen).
    * Returns an APPEND-mode stream of (id, dup_of, kept,
    * bucket_overflow), one row per document arrival. `bucket_overflow`
    * is the recall-loss signal `maxPerBucket` would otherwise hide:
    * true means at least one of the document's band buckets was already
    * full, so the document was NOT retained there and a future
    * near-duplicate of it may go unflagged — monitor the rate and raise
    * the cap (or shorten `expireAfter`) when it is nonzero. */
  def nearDupStreaming(stream: DataFrame, idCol: String, textCol: String,
      tsCol: String, maxHamming: Int = 3, bands: Int = 4,
      expireAfter: Option[java.time.Duration] = None,
      maxPerBucket: Int = Int.MaxValue): DataFrame = {
    graft.functions.Functions.register(stream.sparkSession)
    nearDupStreamingSig(
      stream.withColumn("__sig", simhash(col(textCol))),
      idCol, "__sig", tsCol, maxHamming, bands, expireAfter, maxPerBucket)
  }

  /** [[nearDupStreaming]] generalized to ANY precomputed 64-bit
    * locality-sensitive signature column — the streaming dedup state
    * machine is signature-agnostic (band split, pigeonhole recall,
    * bounded per-bucket state, stateless vote), so the same operator
    * suppresses near-duplicate TEXT (simhash — the [[nearDupStreaming]]
    * wrapper), IMAGES ([[Multimodal.imageAHash]]'s two halves packed
    * `hi << 32 | lo`), or any other modality with a hamming-meaningful
    * 64-bit sketch. Same semantics, bounds, and output contract as the
    * text form. Rows with a NULL signature, id, or timestamp are DROPPED
    * before the typed boundary — the media hashers return null for
    * undecodable bytes ([[Multimodal.aHash64]] on a corrupt payload), and
    * the batch operators' contract is that undecodable rows drop; without
    * the filter one garbage record would NPE the whole streaming query at
    * the Dataset[(Long,…)] deserializer. */
  def nearDupStreamingSig(stream: DataFrame, idCol: String, sigCol: String,
      tsCol: String, maxHamming: Int = 3, bands: Int = 4,
      expireAfter: Option[java.time.Duration] = None,
      maxPerBucket: Int = Int.MaxValue): DataFrame = {
    require(bands > maxHamming && 64 % bands == 0,
      "pigeonhole recall needs bands > maxHamming and bands | 64")
    val session = stream.sparkSession
    import session.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val watermarked = expireAfter.fold(stream)(d =>
      stream.withWatermark(tsCol, s"${d.toMillis} milliseconds"))
    // the watermarked timestamp column rides along untouched: event-time
    // timeout requires the event-time attribute to reach the stateful
    // operator's input (a derived long would shed the watermark tag)
    val banded = watermarked
      .filter(col(sigCol).isNotNull && col(idCol).isNotNull &&
        col(tsCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        unix_micros(col(tsCol)).as("tsu"),
        col(sigCol).cast("long").as("sig"),
        col(tsCol).as("evt"))
      .select(col("id"), col("tsu"), col("sig"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("sig"), b * width).bitwiseAND(lit(mask))
              .as("bits"))): _*)).as("bk"), col("evt"))
      .select(col("id"), col("tsu"), col("sig"),
        col("bk.band").as("band"), col("bk.bits").as("bbits"), col("evt"))
      .as[(Long, Long, Long, Int, Long, java.sql.Timestamp)]
    val timeoutConf = if (expireAfter.isDefined)
      GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    val expireMicros = expireAfter.map(_.toMillis * 1000L)
    val flagged = banded
      .groupByKey { case (_, _, _, band, bbits, _) => (band, bbits) }
      .flatMapGroupsWithState[Seq[(Long, Long, Long)], (Long, Long, Boolean)](
        OutputMode.Append, timeoutConf) {
        case (_, rows, state) =>
          if (state.hasTimedOut) {
            // the timeout fires only past max(tsu) + expiry, so every
            // entry is expired — drop the bucket wholesale
            state.remove()
            Iterator.empty
          } else {
            var seen = state.getOption.getOrElse(Seq.empty) // (tsu, id, sig)
            // event-time expiry: forget originals the watermark has passed
            // by more than the expiry window
            expireMicros.foreach { exp =>
              val wmMicros = state.getCurrentWatermarkMs() * 1000L
              if (wmMicros > 0) seen = seen.filter(_._1 + exp >= wmMicros)
            }
            val out = rows.toSeq.sortBy(r => (r._2, r._1)).map {
              case (id, tsu, sig, _, _, _) =>
                val dupOf = seen.iterator
                  .filter(s => java.lang.Long.bitCount(s._3 ^ sig) <= maxHamming)
                  .map(_._2).minOption
                // count-and-drop overflow: a full bucket still flags
                // against its retained priors but stops growing — and
                // REPORTS the drop, so lost future recall is observable
                val full = seen.size >= maxPerBucket
                if (!full) seen = seen :+ ((tsu, id, sig))
                (id, dupOf.getOrElse(-1L), full)
            }
            if (seen.isEmpty) state.remove()
            else {
              state.update(seen)
              expireMicros.foreach { exp =>
                // wholesale-removal point for a bucket that goes idle; a
                // late-arriving row can sit behind the watermark, and a
                // timeout must always be ahead of it
                state.setTimeoutTimestamp(math.max(
                  (seen.map(_._1).max + exp) / 1000L + 1L,
                  state.getCurrentWatermarkMs() + 1L))
              }
            }
            out.iterator
          }
      }
    // OR across the bands: keep the smallest matching prior id. All of a
    // document's band verdicts are emitted in its arrival batch, so this
    // group is complete by construction — emit immediately, store
    // nothing (state.update is never called; the store stays empty).
    flagged
      .groupByKey(_._1)
      .flatMapGroupsWithState[Int, (Long, Option[Long], Long, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (id, rows, _) =>
          val rs = rows.toSeq
          val dupOf = rs.collect { case (_, f, _) if f >= 0 => f }.minOption
          Iterator.single((id, dupOf, if (dupOf.isEmpty) 1L else 0L,
            rs.exists(_._3)))
      }
      .toDF("id", "dup_of", "kept", "bucket_overflow")
  }

  /** Exact Jaccard similarity of two token arrays (|∩| / |∪|), computed
    * from intersection size only — no union materialization. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** Natural-log width of one size band for Jaccard threshold `threshold`:
    * a pair at jac ≥ θ has size ratio max/min ≤ 1/θ (|∩| ≤ min and
    * |∪| ≥ max force jac ≤ min/max), so two true-pair sizes differ by at
    * most this much in log space — adjacent-band joining loses no true
    * pair. The (1+1e-9) stretch absorbs the ≤1-ulp error of Math.log at
    * exact-ratio boundaries; the max(…, 1e-12) floor keeps θ = 1 (equal
    * sizes ⇒ equal log ⇒ same band) finite. */
  private[graft] def bandWidthFor(threshold: Double): Double = {
    require(threshold > 0 && threshold <= 1,
      s"length banding needs a threshold in (0, 1], got $threshold")
    math.max(math.log(1.0 / threshold) * (1 + 1e-9), 1e-12)
  }

  /** n-gram Jaccard near-dup pairs within a blocking key. The block join is
    * the scale lever: candidates are generated per block, so the quadratic
    * term is bounded by block size, not corpus size. The per-pair
    * intersection uses the native codegen'd merge-walk
    * ([[graft.functions.SortedIntersectSize]]) over once-sorted HASHED
    * shingle arrays (distinct-then-hash, so set sizes — and therefore the
    * Jaccard value — are preserved; fixed-width longs halve both the join
    * payload and the per-pair compare cost vs raw strings) — this is the
    * engine's hottest inner loop.
    *
    * `lengthBanded = true` adds a LOSSLESS token-count band to the block
    * key: jac ≥ θ bounds the size ratio to 1/θ ([[bandWidthFor]]), so
    * banding shingle counts at that log width and joining adjacent bands
    * keeps every true pair while cutting candidate generation from
    * O(block²) to O(Σ band²) — the scale lever when the natural block
    * (a language, a source) is huge. `minGrams > 0` drops docs with
    * fewer distinct shingles from BOTH sides before the join (a floor on
    * min(|A|,|B|); tiny docs pair promiscuously and are rarely
    * meaningful dedup targets). Both knobs change which pairs are
    * REPORTED only via that documented contract — banding not at all,
    * the floor exactly per its predicate.
    * Returns (id_a, id_b, jac) with id_a < id_b and jac >= threshold. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, blockCol: String,
      n: Int = 1, threshold: Double = 0.9,
      lengthBanded: Boolean = false, minGrams: Int = 0): DataFrame = {
    val bw = if (lengthBanded) Some(bandWidthFor(threshold)) else None
    val (a, b) = blockedShinglePairSides(df, idCol, textCol, blockCol, n,
      minGrams, bw)
    val inter = call_function("sorted_intersect_size", col("toks_a"), col("toks_b"))
    a.join(b, Seq("block")).filter(col("id_a") < col("id_b"))
      // length prefilter: |∩| ≤ min(|a|,|b|) and |∪| ≥ max(|a|,|b|), so
      // jac ≤ min/max — pairs failing the size ratio cannot reach the
      // threshold and skip the merge-walk entirely. The 1e-6 slack keeps
      // float-boundary pairs; they fall through to the exact filter.
      .filter(least(col("sz_a"), col("sz_b")).cast("double") >=
        greatest(col("sz_a"), col("sz_b")) * threshold - 1e-6)
      .withColumn("jac",
        opq(inter.cast("double") / (col("sz_a") + col("sz_b") - inter)))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("jac"))
  }

  /** Shared scaffold of the pairwise shingle-overlap operators: both
    * sides of the blocked self-join, each row carrying its SORTED hashed
    * shingle array and its size, the base frame materialized once
    * (tokenize+sort once, not per join side).
    *
    * `minGrams` pre-filters BOTH sides to `sz >= minGrams`. `bandWidth`
    * augments the join key with a size band `⌊ln(sz)/W⌋`: the `id_a`
    * side carries its own band, the `id_b` side explodes to
    * `{band−1, band, band+1}`, so exactly the pairs within one band of
    * each other meet — each at most once, because the match band is
    * always the a-side's band and the b-side emits each band once. Docs
    * whose band is NULL (null text → null shingles) drop from the banded
    * join; they can never form a reported pair in the unbanded form
    * either (null/zero sizes fail every downstream filter), so reported
    * pairs are unchanged. The b-side explode triples that side's
    * pre-join rows — the candidate cut (quadratic → per-band quadratic)
    * dwarfs it on any block big enough to need banding. */
  private[graft] def blockedShinglePairSides(
      df: DataFrame, idCol: String, textCol: String, blockCol: String,
      n: Int, minGrams: Int = 0, bandWidth: Option[Double] = None)
      : (DataFrame, DataFrame) = {
    graft.functions.Functions.register(df.sparkSession)
    val t0 = df.select(col(idCol).as("id"), col(blockCol).as("block"),
      sort_array(hashedShingles(col(textCol), n)).as("toks"))
      .withColumn("sz", size(col("toks")))
    val t = (if (minGrams > 0) t0.filter(col("sz") >= minGrams) else t0)
      .localCheckpoint(eager = false)
    bandWidth match {
      case None =>
        (t.select(col("id").as("id_a"), col("block"),
          col("toks").as("toks_a"), col("sz").as("sz_a")),
          t.select(col("id").as("id_b"), col("block"),
            col("toks").as("toks_b"), col("sz").as("sz_b")))
      case Some(w) =>
        val band = floor(log(col("sz").cast("double")) / lit(w)).cast("long")
        val a = t.select(col("id").as("id_a"),
          struct(col("block").as("blk"), band.as("band")).as("block"),
          col("toks").as("toks_a"), col("sz").as("sz_a"))
        val b = t.withColumn("__band", band)
          .select(col("id").as("id_b"), col("block").as("blk"),
            explode(array(col("__band") - 1, col("__band"),
              col("__band") + 1)).as("band"),
            col("toks").as("toks_b"), col("sz").as("sz_b"))
          .select(col("id_b"),
            struct(col("blk"), col("band")).as("block"),
            col("toks_b"), col("sz_b"))
        (a, b)
    }
  }

  /** Asymmetric containment near-dup pairs within a blocking key:
    * containment = |∩| / min(|A|, |B|), the one-sided overlap that
    * catches SUB-DOCUMENT copies — a short doc pasted into a long one
    * scores ~1.0 here while its Jaccard (÷ union) stays low, so
    * [[ngramJaccardPairs]] never surfaces it. Same scale machinery:
    * distinct-then-hashed shingles, native merge-walk intersection,
    * block-bounded candidates. No size-ratio prefilter OR length band
    * exists for containment (Jaccard's ratio bound is exactly what the
    * ÷min denominator removes — a 5-gram fragment legitimately pairs
    * with a 5000-gram host), so thresholds here cost more than Jaccard
    * ones — use a higher n (default 3-grams) to keep gram sets
    * document-specific, and `minGrams` as the degenerate-doc guard: a
    * doc with a handful of distinct shingles scores containment ≈ 1
    * against half the corpus by chance alone, so flooring min(|A|,|B|)
    * (by pre-filtering both sides) is the one sound fan-out cut the
    * metric admits. Returns (id_a, id_b, containment) with id_a < id_b
    * and both sides' shingle counts >= minGrams. */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String, blockCol: String,
      n: Int = 3, threshold: Double = 0.8, minGrams: Int = 0): DataFrame = {
    val (a, b) = blockedShinglePairSides(df, idCol, textCol, blockCol, n,
      minGrams)
    val inter = call_function("sorted_intersect_size", col("toks_a"), col("toks_b"))
    a.join(b, Seq("block")).filter(col("id_a") < col("id_b"))
      .withColumn("containment",
        inter.cast("double") / least(col("sz_a"), col("sz_b")))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** Hashed shingles of `text`: one xxhash64 per distinct shingle — the
    * shared input of the MinHash signature ([[minhashSignatures]]) and the
    * exact-Jaccard verification merge-walk, so each shingle is hashed
    * exactly once per query. Computed by the native
    * [[graft.functions.HashedNgrams]] expression (one pass over the text
    * bytes, no gram-string materialization), bit-identical to
    * `transform(shingles(text, n), xxhash64)` — FunctionsSpec pins the
    * parity — with ONE deliberate divergence: NULL text yields NULL for
    * every n (the HOF form inconsistently produced `[xxhash64("")]` for
    * n ≥ 2 but null for n = 1, letting null-text docs pair at
    * containment/Jaccard 1.0 with empty-string docs). Null docs now
    * drop from every pair/contamination report uniformly; pre-filter
    * `text IS NOT NULL` explicitly if they must count. Callers must
    * register [[graft.functions.Functions]] on the session (every
    * public entry point here does). */
  def hashedShingles(text: Column, n: Int): Column = {
    require(n >= 1 && n <= 64,
      s"shingle n must be in 1..64 (word n-grams wider than 64 tokens " +
        s"are not supported by the native gram hasher), got $n")
    call_function("hashed_ngrams", text, lit(n))
  }

  /** MinHash signature columns: k permutations approximated by xor-rotate
    * remixes of one xxhash64 per shingle; signature_i = min over shingles
    * of hash_i(shingle). Computed scan-local by the native
    * [[graft.functions.MinhashSigs]] expression — one pass over the
    * hashed-shingle array, no explode, no shuffle (the former
    * explode + k-way-min groupBy moved every (doc, shingle) pair through
    * an exchange). */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, shingleN: Int = 2): DataFrame = {
    graft.functions.Functions.register(df.sparkSession)
    val sig = call_function("minhash_sigs",
      hashedShingles(col(textCol), shingleN), lit(k))
    df.select(col(idCol).as("id"), sig.as("__sig"))
      .select(col("id") +:
        (0 until k).map(i => element_at(col("__sig"), i + 1).as(s"mh_$i")): _*)
  }

  /** [[graft.functions.Opaque]] barrier: derived-column filters like
    * `jac >= θ` must NOT push down into the verification join's
    * condition, where Catalyst re-evaluates the O(|toks|) merge walk
    * 2–4× per candidate (once-to-twice in the condition, again in the
    * projection — no CSE spans the two). Wrapping the WHOLE derived
    * expression keeps it computed exactly once, in its projection
    * (within-projection CSE still applies), and the threshold filter
    * evaluates the finished column. */
  private def opq(c: Column): Column = call_function("opaque", c)

  /** The (band index, band hash) keys of a k-wide signature column —
    * shared by the one-corpus pair join and the incremental
    * batch-vs-index join (identical banding is what makes the persisted
    * index reusable). */
  private def bandKeyExprs(sig: Column, k: Int, bands: Int): Seq[Column] = {
    val rowsPerBand = k / bands
    (0 until bands).map { bd =>
      val cols = (bd * rowsPerBand until (bd + 1) * rowsPerBand)
        .map(i => element_at(sig, i + 1))
      struct(lit(bd).as("band"), xxhash64(cols: _*).as("bh"))
    }
  }

  /** The persistable MinHash signature index of a corpus: one row per
    * document — (id, sz, toks: sorted hashed shingles, sig: k-wide
    * signature). Everything [[nearDupAgainstIndex]] needs to admit new
    * batches without re-reading the indexed corpus text: band keys
    * re-derive from `sig`, the size-ratio prefilter from `sz`, exact
    * verification from `toks`. Write it as parquet beside the corpus and
    * append each accepted batch's own rows to it (the daily-ingest
    * loop). Shingle hashing is seedless xxhash64, so index and batch
    * agree across sessions by construction. */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, shingleN: Int = 2): DataFrame = {
    graft.functions.Functions.register(df.sparkSession)
    df.select(col(idCol).as("id"),
        sort_array(hashedShingles(col(textCol), shingleN)).as("toks"))
      .select(col("id"), size(col("toks")).as("sz"), col("toks"),
        call_function("minhash_sigs", col("toks"), lit(k)).as("sig"))
  }

  /** Incremental near-dup: which documents of a NEW batch near-duplicate
    * the already-indexed corpus — the shape a standing ingest pipeline
    * runs daily, where re-pairing the whole corpus (x02) would redo
    * quadratic work for a sliver of new rows. Batch docs build the same
    * signature frame ([[minhashIndex]] on the fly), band-bucket-join
    * against the index's re-derived band keys, and survive the identical
    * size-ratio → estimate-floor → exact-Jaccard cascade as
    * [[minhashLshPairs]] — IndexDedupSpec pins exact agreement with the
    * one-corpus operator on the union. Returns (id: batch doc,
    * dup_of: index doc, est_jac, jac ≥ threshold).
    *
    * Scale shape: the index is never re-read in full — band keys are
    * scan-local projections of its `sig` column, the bucket join moves
    * (id, sig, sz) fixed-width rows, and only candidate-surviving index
    * docs ship their shingle arrays into verification. `k`/`bands`/
    * `shingleN`/threshold must match the index build (band agreement is
    * meaningless across different families). */
  def nearDupAgainstIndex(batch: DataFrame, idCol: String, textCol: String,
      index: DataFrame, k: Int = 16, bands: Int = 8, shingleN: Int = 2,
      threshold: Double = 0.8): DataFrame = {
    graft.functions.Functions.register(batch.sparkSession)
    val newSide = minhashIndex(batch, idCol, textCol, k, shingleN)
      .localCheckpoint(eager = false) // feeds banding AND verification
    val idx = index.localCheckpoint(eager = false)
    def banded(side: DataFrame) = side.select(col("id"), col("sig"),
      col("sz"), explode(array(bandKeyExprs(col("sig"), k, bands): _*)).as("bk"))
    val eqCount = call_function("positional_eq_count", col("x.sig"), col("y.sig"))
    val estFloor = math.max(0.0,
      threshold - 2 * math.sqrt(threshold * (1 - threshold) / k))
    val cands = banded(newSide).as("x")
      .join(banded(idx).as("y"), col("x.bk") === col("y.bk"))
      .filter(least(col("x.sz"), col("y.sz")).cast("double") >=
        greatest(col("x.sz"), col("y.sz")) * threshold - 1e-6)
      .select(col("x.id").as("id"), col("y.id").as("dup_of"),
        opq(eqCount.cast("double") / k).as("est_jac"))
      .filter(col("est_jac") >= estFloor)
    val inter = call_function("sorted_intersect_size", col("toks_a"), col("toks_b"))
    cands
      .join(newSide.select(col("id"), col("toks").as("toks_a")), "id")
      .join(idx.select(col("id").as("dup_of"), col("toks").as("toks_b")),
        "dup_of")
      .withColumn("jac",
        opq(inter.cast("double") /
          (size(col("toks_a")) + size(col("toks_b")) - inter)))
      .filter(col("jac") >= threshold)
      .select(col("id"), col("dup_of"), col("est_jac"), col("jac"))
      .distinct()
  }

  /** Streaming incremental near-dup: a continuous ingest stream checked
    * against the static persisted index — the stream-static form of
    * [[nearDupAgainstIndex]], and the missing half of the ingest loop
    * ([[nearDupStreaming]] covers stream-internal duplicates; this
    * covers duplicates of the already-indexed corpus).
    *
    * COMPLETELY STATELESS: the band-bucket match is a stream-static
    * equi-join (no watermark, no state store, append mode), and the
    * multi-band candidate duplicate that the batch operator removes with
    * a final `distinct()` is eliminated STRUCTURALLY instead — both
    * sides carry their full band-hash array, and a candidate survives
    * only on its FIRST agreeing band (`array_position` over the zipped
    * equality), so each (doc, index doc) pair exits the join exactly
    * once. The same size-ratio → estimate-floor → exact-Jaccard cascade
    * follows, scan-local. Emits (id, dup_of, est_jac, jac) per arrival,
    * one row per matched index doc; docs with no match emit nothing
    * (gate on the output to drop dups, anti-join to keep clean docs).
    *
    * The stream side carries its shingle array through the band join
    * (a micro-batch is small; a self-join-back would be a stream-stream
    * join needing watermarks for no benefit). The static side is
    * re-evaluated per trigger — callers with a large index should pass
    * a persisted/cached frame. `k`/`bands`/`shingleN`/threshold must
    * match the index build. */
  def nearDupAgainstIndexStreaming(stream: DataFrame, idCol: String,
      textCol: String, index: DataFrame, k: Int = 16, bands: Int = 8,
      shingleN: Int = 2, threshold: Double = 0.8): DataFrame = {
    graft.functions.Functions.register(stream.sparkSession)
    def withBhs(side: DataFrame) = side.withColumn("bhs",
      array(bandKeyExprs(col("sig"), k, bands).map(_.getField("bh")): _*))
    val newSide = withBhs(stream
      .select(col(idCol).as("id"),
        sort_array(hashedShingles(col(textCol), shingleN)).as("toks"))
      .select(col("id"), size(col("toks")).as("sz"), col("toks"),
        call_function("minhash_sigs", col("toks"), lit(k)).as("sig")))
      .select(col("id"), col("sz"), col("toks"), col("sig"), col("bhs"),
        posexplode(col("bhs")).as(Seq("band", "bh")))
    val idxSide = withBhs(index)
      .select(col("id").as("dup_of"), col("sz").as("sz_b"),
        col("toks").as("toks_b"), col("sig").as("sig_b"), col("bhs").as("bhs_b"),
        posexplode(col("bhs")).as(Seq("band", "bh")))
    val eqCount = call_function("positional_eq_count", col("sig"), col("sig_b"))
    val estFloor = math.max(0.0,
      threshold - 2 * math.sqrt(threshold * (1 - threshold) / k))
    // first agreeing band (1-based from array_position; the join key
    // guarantees at least one)
    val firstAgree = array_position(
      zip_with(col("bhs"), col("bhs_b"), (a: Column, b: Column) => a === b),
      true)
    val inter = call_function("sorted_intersect_size", col("toks"), col("toks_b"))
    newSide.join(idxSide, Seq("band", "bh"))
      .filter(col("band") === firstAgree - 1)
      .filter(least(col("sz"), col("sz_b")).cast("double") >=
        greatest(col("sz"), col("sz_b")) * threshold - 1e-6)
      .withColumn("est_jac", opq(eqCount.cast("double") / k))
      .filter(col("est_jac") >= estFloor)
      .withColumn("jac",
        opq(inter.cast("double") / (col("sz") + col("sz_b") - inter)))
      .filter(col("jac") >= threshold)
      .select(col("id"), col("dup_of"), col("est_jac"), col("jac"))
  }

  /** MinHash+LSH candidate pairs: split the k-wide signature into `bands`
    * bands of k/bands rows each, bucket-join on (band index, band hash),
    * then verify candidates with exact Jaccard. Returns
    * (id_a, id_b, est_jac, jac) with jac >= threshold. */
  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 8, shingleN: Int = 2,
      threshold: Double = 0.8): DataFrame = {
    graft.functions.Functions.register(df.sparkSession)
    // ONE base frame carries both the sorted hashed shingles (verification
    // input) and the signature derived from them scan-local (native
    // minhash_sigs — min is order-invariant, so the sorted array feeds it
    // too): each shingle is hashed once, and the frame feeds every branch
    // (banding, estimate, both verification sides) — materialize it once
    val base = df.select(col(idCol).as("id"),
        sort_array(hashedShingles(col(textCol), shingleN)).as("toks"))
      .withColumn("sig", call_function("minhash_sigs", col("toks"), lit(k)))
      .localCheckpoint(eager = false)
    val bandKeys = bandKeyExprs(col("sig"), k, bands)
    // carry the whole signature on the banded rows: the estimate then
    // computes inside the candidate join — no signature-lookup joins
    // later. Signature agreement runs once per candidate pair (the
    // quadratic hot path), so it uses the native codegen expression.
    // The shingle-set size rides along too: jac ≥ θ bounds the size
    // ratio to 1/θ (the ngramJaccardPairs prefilter), so candidates
    // failing it are discarded INSIDE the join stage before the
    // estimate — they could never survive exact verification.
    val bucketed = base.select(col("id"), col("sig"), size(col("toks")).as("sz"),
      explode(array(bandKeys: _*)).as("bk"))
    val eqCount = call_function("positional_eq_count", col("x.sig"), col("y.sig"))
    // NO distinct here: multi-band duplicate candidates (a few percent)
    // ride through verification and dedup AFTER the threshold filter,
    // where the row count is orders of magnitude smaller — one large
    // shuffle traded for a tiny one, identical results
    // conservative estimate floor ahead of the (expensive) verification
    // join: a true pair at the threshold has est ≈ Binomial(k, θ)/k, so
    // θ − 2σ with σ = sqrt(θ(1−θ)/k) keeps ≳98% of borderline true pairs
    // while cutting the candidate fan-out severalfold on self-similar
    // corpora — pairs below the floor would fail exact verification with
    // high probability anyway, and banding is already probabilistic.
    // The filter runs INSIDE the candidate join stage, before any shuffle.
    val estFloor = math.max(0.0,
      threshold - 2 * math.sqrt(threshold * (1 - threshold) / k))
    val cands = bucketed.as("x").join(bucketed.as("y"), col("x.bk") === col("y.bk"))
      .filter(col("x.id") < col("y.id"))
      // size-ratio bound first (two longs), estimate second (k-element
      // walk) — the cheap filter shields the expensive one. The 1e-6
      // slack keeps float-boundary pairs for the exact filter to decide.
      .filter(least(col("x.sz"), col("y.sz")).cast("double") >=
        greatest(col("x.sz"), col("y.sz")) * threshold - 1e-6)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        opq(eqCount.cast("double") / k).as("est_jac"))
      .filter(col("est_jac") >= estFloor)
    // verify on HASHED shingles: sorted long arrays are ~2× smaller to
    // move and ~2× faster to merge-walk than the raw strings; 64-bit
    // collisions are negligible for near-dup verification. Reuses the
    // checkpointed base frame — shingles were hashed and sorted once.
    val toks = base.select(col("id"), col("toks"))
    val inter = call_function("sorted_intersect_size", col("toks_a"), col("toks_b"))
    // verification is a shuffle equi-join on id: the hashed-shingle table
    // streams through one exchange per side — each doc's shingles move
    // exactly twice, regardless of candidate fan-out, and nothing is
    // broadcast, so the plan survives a corpus that does not fit on one
    // executor (a broadcast here would BE the corpus at 100 TB)
    cands
      .join(toks.select(col("id").as("id_a"), col("toks").as("toks_a")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("toks").as("toks_b")), "id_b")
      .withColumn("jac",
        opq(inter.cast("double") /
          (size(col("toks_a")) + size(col("toks_b")) - inter)))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jac"), col("jac"))
      .distinct()
  }

  /** Crawl-scale dedup threshold sweep: the x121 tuning curve computed
    * over the LSH CANDIDATE pairs instead of all pairs — how many
    * near-dup pairs each Jaccard threshold would remove, from one pass
    * over the banded bucket join. Bands are exact integer deciles of
    * the rational Jaccard on hashed shingles — `(10·|∩|) div |∪|` —
    * so no float comparison anywhere; the cumulative runs over the
    * ≤11-row band table. Returns (band, n_pairs, cum_at_or_above).
    *
    * Scale shape: NOTHING here is quadratic in a source block — the
    * only pair-producing join is the band-bucket equi-join, exactly
    * x02's candidate stage (PlanShapeSpec pins the absence of a
    * cartesian). A candidate that agrees on several bands must count
    * ONCE, and a `distinct()` over the (unthresholded) candidate set
    * would be the sweep's biggest shuffle — instead both sides carry
    * their band-hash array and a pair survives only on its FIRST
    * agreeing band (the [[nearDupAgainstIndexStreaming]] trick), so
    * dedup is structural and shuffle-free. The sweep sees only pairs
    * the banding surfaces (θ below the LSH S-curve knee is
    * under-counted — that is the documented contract of sweeping a
    * candidate set; x121 remains the sf-small all-pairs truth). */
  def lshBandSweep(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 8, shingleN: Int = 2): DataFrame = {
    graft.functions.Functions.register(df.sparkSession)
    val base = df.select(col(idCol).as("id"),
        sort_array(hashedShingles(col(textCol), shingleN)).as("toks"))
      .withColumn("sig", call_function("minhash_sigs", col("toks"), lit(k)))
      .withColumn("bhs",
        array(bandKeyExprs(col("sig"), k, bands).map(_.getField("bh")): _*))
      .localCheckpoint(eager = false) // feeds both join sides once
    val side = base.select(col("id"), size(col("toks")).as("sz"),
      col("toks"), col("bhs"),
      posexplode(col("bhs")).as(Seq("band", "bh")))
    def sfx(s: String) = side.columns.foldLeft(side)((d, c) =>
      d.withColumnRenamed(c, if (c == "band" || c == "bh") c else s"${c}_$s"))
    val firstAgree = array_position(
      zip_with(col("bhs_a"), col("bhs_b"), (a: Column, b: Column) => a === b),
      true)
    val inter = call_function("sorted_intersect_size",
      col("toks_a"), col("toks_b"))
    val pairBands = sfx("a").join(sfx("b"), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("band") === firstAgree - 1) // structural pair dedup
      .select(opq(inter).as("i"),
        (col("sz_a") + col("sz_b")).cast("long").as("ss"))
      .filter(col("i") > 0)
      .select(expr("(10L * i) div (ss - i)").as("band"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("band").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    pairBands.groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
      .withColumn("cum_at_or_above", sum(col("n_pairs")).over(w))
      .orderBy(col("band"))
  }

  /** Near-dup cluster resolution: connected components over a pair list by
    * min-label propagation with pointer jumping — each round a node adopts
    * the smallest label in its closed neighborhood, then shortcuts to its
    * label's label (`c ← c[c]`, the path-doubling step of Shiloach–Vishkin
    * -style CC). Reach roughly doubles per round, so convergence is
    * O(log diameter) rounds instead of O(diameter). Input: (id_a, id_b)
    * pairs; output: (id, component) with component = min id of the cluster
    * — identical fixpoint to plain propagation, reached in fewer rounds.
    * The standard last step of a dedup pipeline: keep one representative
    * per component.
    *
    * Each round is three bounded shuffles over the edge/label lists; the
    * convergence probe is shuffle-free (a changed flag carried on the
    * checkpointed label frame). At 100 TB the label frame is one row per
    * *node that appears in a near-dup pair* — orders of magnitude smaller
    * than the corpus — and lineage is cut every round via eager
    * localCheckpoint. */
  def connectedComponents(pairs: DataFrame, maxIterations: Int = 10,
      localEdgeThreshold: Long = 1000000L): DataFrame = {
    // eager: the loop reuses edges and labels every round — lazy
    // checkpoints would re-derive the full upstream lineage per iteration.
    // Checkpoint the pair list BEFORE symmetrizing: a union of two selects
    // over the raw `pairs` would evaluate the (expensive) pair-generation
    // plan once per branch.
    val p0 = pairs.select(col("id_a"), col("id_b"))
      .localCheckpoint(eager = true)
    val edgeCount = p0.count()
    val longIds = p0.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)

    // size-bounded local solve: the dup graph is one edge per NEAR-DUP
    // PAIR — orders of magnitude smaller than the corpus. Below the bound
    // (a few tens of MB on the driver) a union-find beats O(log diameter)
    // rounds of distributed shuffles by ~10×: each round pays 3 shuffles
    // + a checkpoint of scheduling floor even when the labels fit in one
    // task. The distributed loop below remains the path for dup graphs
    // that genuinely don't fit one machine (threshold is a knob) — and
    // for non-long ids (string/UUID keys), which it handles generically
    // via orderable min-labels.
    if (longIds && edgeCount <= localEdgeThreshold) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != c) {
          val next = parent.getOrDefault(c, c); parent.put(c, r); c = next
        }
        r
      }
      val it = p0.toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        val (a, b) = (row.getLong(0), row.getLong(1))
        parent.putIfAbsent(a, a)
        parent.putIfAbsent(b, b)
        val (ra, rb) = (find(a), find(b))
        // union by MIN root: the fixpoint (component = min id of the
        // cluster) matches the distributed min-propagation exactly
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      val spark = pairs.sparkSession
      import scala.jdk.CollectionConverters._
      val labels = parent.keySet().asScala.toSeq.map(k => (k, find(k)))
      import spark.implicits._
      return labels.toDF("id", "component")
    }

    // right-size the loop's shuffles to the dup graph, not the session
    // default: the label/edge frames are bounded by the pair count (tiny
    // vs the corpus), and AQE cannot coalesce inside a checkpointed loop.
    // Explicit per-frame repartitioning — NOT a session-conf change, which
    // would corrupt concurrent queries' plans. ~500k edges per partition
    // keeps tasks meaningful at any scale.
    val defaultParts =
      pairs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val parts = math.max(1L,
      math.min(edgeCount * 2 / 500000L, defaultParts.toLong)).toInt
    val edges = p0.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(p0.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .repartition(parts, col("dst"))
      .localCheckpoint(eager = true)
    connectedComponentsLoop(edges, parts, maxIterations)
  }

  private def connectedComponentsLoop(
      edges: DataFrame, parts: Int, maxIterations: Int): DataFrame = {
    var labels = edges.select(col("src").as("id"))
      .distinct()
      .withColumn("component", col("id"))
    var converged = false
    var i = 0
    while (!converged && i < maxIterations) {
      // propagate: candidate label = min over neighbors' labels and own
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst2"),
          col("dst") === col("dst2"))
        .repartition(parts, col("src"))
        .groupBy(col("src").as("id"))
        .agg(min(col("component")).as("nb_component"))
      val hop = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"), col("component").as("old"),
          least(col("component"), coalesce(col("nb_component"), col("component")))
            .as("c1"))
      // pointer jump: follow the adopted label to ITS freshly-adopted
      // label — labels are node ids, so this is a self-join on the frame
      val jump = hop.select(col("id").as("jid"), col("c1").as("jc"))
      val next = hop.join(jump, col("c1") === col("jid"), "left")
        .select(col("id"),
          coalesce(col("jc"), col("c1")).as("component"),
          (coalesce(col("jc"), col("c1")) =!= col("old")).as("__changed"))
        .repartition(parts, col("id"))
        .localCheckpoint(eager = true)
      // probe the checkpointed frame directly: no join, no shuffle
      converged = next.filter(col("__changed")).limit(1).count() == 0
      labels = next.select(col("id"), col("component"))
      i += 1
    }
    labels
  }

  /** 64-bit SimHash over tokens (no shuffle, no UDF): each token votes ±1
    * per bit via its xxhash64; the sign of the per-bit sum is the
    * fingerprint bit. One xxhash per token, then the native scan-local
    * [[graft.functions.SimhashBits]] expression folds all 64 bit-votes in
    * a tight loop (the former higher-order-function fold evaluated ~64
    * interpreted lambdas per token — the dominant cost of the whole
    * simhash pipeline). Callers must register
    * [[graft.functions.Functions]] on the session. */
  def simhash(text: Column): Column =
    call_function("simhash_bits",
      transform(tokens(text), (t: Column) => xxhash64(t)))

  /** SimHash near-dup pairs with hamming distance <= maxHamming, candidates
    * via 4×16-bit band join (pigeonhole over 4 bands covers hamming <= 3).
    *
    * The hamming filter runs INSIDE the join stage, before any shuffle —
    * band buckets can be huge on self-similar corpora, and shuffling the
    * raw candidate pairs through a distinct would dominate; filtering
    * first means only true near-dups reach the dedup shuffle. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    graft.functions.Functions.register(df.sparkSession)
    // materialize signatures once: both sides of the self-join would
    // otherwise re-evaluate the fingerprint per row
    val sh = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sh"))
      .localCheckpoint(eager = false)
    val banded = sh.select(col("id"), col("sh"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sh"), b * 16).bitwiseAND(0xFFFFL).as("bits"))): _*)).as("bk"))
    banded.as("x").join(banded.as("y"), col("x.bk") === col("y.bk"))
      .filter(col("x.id") < col("y.id") &&
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))) <= maxHamming)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).as("hamming"))
      .distinct()
  }

  /** Document CONTAINMENT detection — the partial-overlap case
    * document-level MinHash misses (doc A quotes or embeds most of
    * doc B while their full-document signatures diverge): DISJOINT
    * `window`-token chunks ([[TextAnalysis.chunkWindows]] at
    * stride = window), a rare-chunk equi-join (chunk document
    * frequency in [minDf, maxDf] — boilerplate chunks shared by many
    * docs are excluded, which also bounds the join fan-out to df²
    * pairs per chunk value), doc pairs sharing at least `minShared`
    * chunks, and containment as the EXACT integer percentage of the
    * smaller side's chunks that are shared. Shuffles only on the
    * chunk value (the decontamination shape) — never an all-pairs
    * term. Returns (id_a, id_b, shared_chunks, containment_pct),
    * id_a < id_b. */
  def docContainment(df: DataFrame, idCol: String, textCol: String,
      window: Int = 16, minDf: Int = 2, maxDf: Int = 8,
      minShared: Int = 2): DataFrame = {
    require(minDf >= 2 && maxDf >= minDf && minShared >= 1)
    val ch = TextAnalysis.chunkWindows(df, idCol, textCol, window, window)
      .select(col(idCol), col("chunk")).distinct()
    val perDoc = ch.groupBy(col(idCol)).agg(count(lit(1)).as("n_chunks"))
    val rare = ch.groupBy(col("chunk")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
      .select(col("chunk"))
    val keyed = ch.join(rare, "chunk")
    keyed.select(col("chunk"), col(idCol).as("id_a"))
      .join(keyed.select(col("chunk"), col(idCol).as("id_b")), "chunk")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_chunks"))
      .filter(col("shared_chunks") >= minShared)
      // NO broadcast hint on perDoc: it is O(nDocs) rows — collecting it
      // to the driver contradicts the at-scale story. The surviving-pair
      // side (>= minShared) is the small side; a shuffle join on the doc
      // id is the right shape, and AQE still elects a broadcast when
      // perDoc is genuinely small.
      .join(perDoc.withColumnRenamed(idCol, "id_a")
        .withColumnRenamed("n_chunks", "na"), "id_a")
      .join(perDoc.withColumnRenamed(idCol, "id_b")
        .withColumnRenamed("n_chunks", "nb"), "id_b")
      .select(col("id_a"), col("id_b"), col("shared_chunks"),
        expr("(100 * shared_chunks) div least(na, nb)")
          .as("containment_pct"))
  }

  // ------------------------------------------------------------------
  // Persisted standing MinHash index (storage layout) — the dedup-side
  // completion of the stored-index trio (BM25 `tok_bucket`, IVF-PQ
  // `cell`, and now minhash `bb`).
  // ------------------------------------------------------------------

  /** A [[minhashIndex]] persisted as the standing-ingest layout:
    *
    *  - `path/bands/bb=<b>/…` — the index EXPLODED to one row per
    *    (band, band-hash): `(band, bh, id, sz, sig)`, partitioned by
    *    `bb = pmod(xxhash64(band, bh), bandBuckets)` and sorted by
    *    `(band, bh)` within files. A probe batch derives its own band
    *    keys, collects its ≤ bandBuckets distinct bucket ids (one
    *    bounded job, the ParquetReplica touched-bucket idiom), and the
    *    candidate join prunes to those bucket DIRECTORIES before any
    *    file opens — a probe reads O(its buckets), never O(corpus).
    *    Carrying `sig`+`sz` on the band rows costs ~(k+2) longs ×
    *    bands per doc, and buys running the size-ratio and
    *    estimate-floor cuts BEFORE any shingle array ships — only
    *    verification survivors touch `docs/`.
    *  - `path/docs/…` — the un-exploded [[minhashIndex]] frame
    *    `(id, sz, toks, sig)` sorted by id: the exact-verification
    *    side, fetched per candidate survivor by id equi-join (row-group
    *    min/max on the sorted id answers it).
    *  - `path/tomb-{n}/…` — one delete batch's doc ids: a delete is an
    *    O(delete batch) map-only write (the MoR pattern), applied by
    *    the live views as a broadcast anti-join on the candidate rows;
    *    [[compactStoredMinhashIndex]] folds accumulated tombstones into
    *    a rewrite. Deletes of unknown ids are no-ops by construction.
    *  - a [[graft.storage.VersionedLayout]] manifest per version — the
    *    versioned commit (the replica's discipline: fresh epoch dirs +
    *    atomic publish, so a LOADED index is an immutable snapshot and
    *    a probe racing an extend sees either version, never a torn
    *    batch). The S line carries k / bands / shingleN /
    *    bandBuckets / docBuckets: the banding-family parameters travel
    *    WITH the index, because band agreement across different
    *    families is meaningless (the [[nearDupAgainstIndex]] doc's
    *    contract, made structural). E/T lines are the ordered
    *    epoch/tombstone log: a T hides ids only from epochs BEFORE it,
    *    so a deleted id re-ingested by a later extend is visible with
    *    its new content while its old rows stay hidden.
    *
    * `bandBuckets` sizes directories, not correctness (the BM25 rule:
    * sf-scale keeps files non-trivial at 64; a 100 TB deployment raises
    * it so each bucket is a few hundred MB). Dir names above are the
    * epoch form `bands-{n}`/`docs-{n}`; `idxBands`/`docs` here are the
    * LIVE views (epoch scans minus their subsequent tombstone batches),
    * `tombstones` the pending log's id union (informational — the live
    * views already applied it). */
  final case class StoredMinhashIndex(k: Int, bands: Int, shingleN: Int,
      bandBuckets: Int, docBuckets: Int, path: String, idxBands: DataFrame,
      docs: DataFrame, tombstones: DataFrame)

  /** One row per (band, band-hash) of a signature frame, bucketed for
    * the stored layout — shared by save, extend, and the probe side so
    * the three can never disagree on the bucket expression. */
  private def explodedBands(index: DataFrame, k: Int, bands: Int,
      bandBuckets: Int): DataFrame =
    index.select(col("id"), col("sz"), col("sig"),
        explode(array(bandKeyExprs(col("sig"), k, bands): _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.bh").as("bh"),
        col("id"), col("sz"), col("sig"))
      .withColumn("bb",
        pmod(xxhash64(col("band"), col("bh")), lit(bandBuckets.toLong))
          .cast("int"))

  // ---- versioned-layout bookkeeping: graft.storage.VersionedLayout
  //      owns the pointer, publish, vacuum, writer lock and the
  //      order-aware E/T log (so a deleted id may be re-ingested by a
  //      later extend); this layout's own manifest fields are the
  //      banding parameters (S line) and the H schemas ----

  import graft.storage.{Hcfs, VersionedLayout}
  import VersionedLayout.{Entry, Epoch, Tomb}

  /** One version of the layout; an epoch's dirs are (bands, docs). The
    * `H` schemas (DDL) let readers construct scans with an EXPLICIT
    * schema — parquet inference costs one driver job per directory per
    * load (the BM25 layout's rule, measured round 14). */
  private final case class MhLog(k: Int, bands: Int, shingleN: Int,
      bandBuckets: Int, docBuckets: Int, bandsDdl: String, docsDdl: String,
      entries: Seq[Entry], version: Int) {
    def lines: Seq[String] =
      Seq(s"S\t$k\t$bands\t$shingleN\t$bandBuckets\t$docBuckets",
        VersionedLayout.schemaLine("bands", bandsDdl),
        VersionedLayout.schemaLine("docs", docsDdl)) ++
        VersionedLayout.logLines(entries)
  }

  /** The manifest of `version` (the current one when negative). */
  private def readMhLog(layout: VersionedLayout, version: Int = -1): MhLog = {
    val (v, lines) = layout.load(version)
    val s = VersionedLayout.tagged(lines, "S").headOption
      .getOrElse(sys.error(
        s"minhash manifest version $v at ${layout.root} has no S line"))
    MhLog(s(0).toInt, s(1).toInt, s(2).toInt, s(3).toInt, s(4).toInt,
      VersionedLayout.schemaOf(lines, "bands"),
      VersionedLayout.schemaOf(lines, "docs"),
      VersionedLayout.parseLog(lines), v)
  }

  /** Tombstone frames hold exactly the docs `id` field. */
  private def mhTombScan(layout: VersionedLayout,
      log: MhLog): String => DataFrame =
    layout.keyScan(_, log.docsDdl, "id")

  /** LIVE views over the stored layout: per-epoch scans (band/doc
    * partition filters prune inside every branch) minus the applicable
    * tombstone batches ([[VersionedLayout.live]]). */
  private def liveMhBands(layout: VersionedLayout, log: MhLog): DataFrame =
    VersionedLayout.live(log.entries, "id",
      e => layout.scan(e.dirs(0), log.bandsDdl)
        .select(col("band"), col("bh"), col("id"), col("sz"), col("sig"),
          col("bb")),
      mhTombScan(layout, log))

  private def liveMhDocs(layout: VersionedLayout, log: MhLog): DataFrame =
    VersionedLayout.live(log.entries, "id",
      e => layout.scan(e.dirs(1), log.docsDdl)
        .select(col("id"), col("sz"), col("toks"), col("sig"), col("db")),
      mhTombScan(layout, log))

  /** Doc rows partitioned by id bucket: the verification-toks fetch is a
    * join by candidate id, and without a partition column it reads the
    * WHOLE corpus' shingle arrays — the heaviest column — per probe.
    * Bucketed, the probe prunes to its candidates' directories (the bb
    * idiom applied to the fetch side). */
  private def docRows(idx: DataFrame, docBuckets: Int): DataFrame =
    idx.select(col("id"), col("sz"), col("toks"), col("sig"))
      .withColumn("db",
        pmod(xxhash64(col("id")), lit(docBuckets.toLong)).cast("int"))

  /** Persist a [[minhashIndex]] frame as a [[StoredMinhashIndex]]
    * layout: a fresh `bands-{v}`/`docs-{v}` epoch pair (one shuffle
    * co-locates each band bucket; the docs side writes id-bucketed and
    * sorted) published as the layout's next version. A full save IS
    * the compacted state: it vacuums every prior version's directories
    * (the one layout op that invalidates older snapshots). */
  def saveMinhashIndex(index: DataFrame, path: String, k: Int = 16,
      bands: Int = 8, shingleN: Int = 2, bandBuckets: Int = 64,
      docBuckets: Int = 64): Unit = {
    require(docBuckets > 0, s"docBuckets must be positive, got $docBuckets")
    // one signature evaluation feeds the emptiness check + both writes
    val idx = index.localCheckpoint(eager = false)
    require(!idx.isEmpty, s"refusing to persist an empty index to $path")
    val layout = new VersionedLayout(index.sparkSession, path)
    layout.withLock {
      val next = layout.currentVersion + 1
      val bandRows = explodedBands(idx, k, bands, bandBuckets)
      bandRows
        .repartition(col("bb"))
        .sortWithinPartitions(col("band"), col("bh"))
        .write.mode("overwrite").partitionBy("bb")
        .parquet(s"$path/bands-$next")
      val docs = docRows(idx, docBuckets)
      docs
        .repartition(col("db"))
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").partitionBy("db").parquet(s"$path/docs-$next")
      layout.publish(next, MhLog(k, bands, shingleN, bandBuckets, docBuckets,
        bandRows.schema.toDDL, docs.schema.toDDL,
        Seq(Epoch(Seq(s"bands-$next", s"docs-$next"))), next).lines)
      layout.vacuumLog()
    }
  }

  /** Reload a persisted index as an immutable SNAPSHOT of its current
    * version: lazy scans over exactly the manifest's directories — no
    * corpus-sized action; later extends/deletes publish new versions
    * and never mutate these files. `tombstones` is the pending log's id
    * union (empty when compacted) — informational: the live views have
    * already applied it order-aware. */
  def loadMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): StoredMinhashIndex = loadMinhashIndex(spark, path, -1)

  /** TIME-TRAVEL load: pin a published version instead of the current
    * one (the BM25 layout's rule — see [[TextSearch.loadBm25Index]]):
    * any un-vacuumed version reproduces its exact probe results. */
  def loadMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, version: Int): StoredMinhashIndex = {
    val layout = new VersionedLayout(spark, path)
    val log = readMhLog(layout, version)
    val docs = liveMhDocs(layout, log)
    val tombs = VersionedLayout.tombDirs(log.entries)
    val tomb =
      if (tombs.isEmpty) docs.select(col("id")).limit(0)
      else tombs.map(mhTombScan(layout, log)).reduce(_ unionByName _)
    StoredMinhashIndex(log.k, log.bands, log.shingleN, log.bandBuckets,
      log.docBuckets, path, liveMhBands(layout, log), docs, tomb)
  }

  /** Append a new batch to a stored index WITHOUT touching indexed
    * data: the batch's band and doc rows write as FRESH epoch dirs and
    * one atomic manifest publish adds them to the log — O(batch) work,
    * the daily-ingest step. A concurrent probe on a previously loaded
    * index keeps its snapshot. Caller contract: batch ids are disjoint
    * from the LIVE corpus (the BM25 merge rule — probe with
    * [[nearDupAgainstStoredIndex]] first, that IS the ingest loop);
    * previously DELETED ids may be re-ingested — the order-aware
    * tombstone rule keeps their old rows hidden while the new epoch
    * answers. Returns the reloaded index. */
  def extendStoredMinhashIndex(sidx: StoredMinhashIndex, batch: DataFrame,
      idCol: String, textCol: String): StoredMinhashIndex = {
    val spark = batch.sparkSession
    val layout = new VersionedLayout(spark, sidx.path)
    layout.withLock {
      val log = readMhLog(layout)
      val next = log.version + 1
      val add = minhashIndex(batch, idCol, textCol, log.k, log.shingleN)
        .localCheckpoint(eager = false) // one evaluation feeds both writes
      explodedBands(add, log.k, log.bands, log.bandBuckets)
        .write.mode("overwrite").partitionBy("bb")
        .parquet(s"${sidx.path}/bands-$next")
      docRows(add, log.docBuckets).write.mode("overwrite").partitionBy("db")
        .parquet(s"${sidx.path}/docs-$next")
      layout.publish(next, log.copy(
        entries = log.entries :+ Epoch(Seq(s"bands-$next", s"docs-$next")),
        version = next).lines)
      loadMinhashIndex(spark, sidx.path)
    }
  }

  /** DELETE documents from a stored index: one fresh tombstone
    * directory (O(delete batch) — the ids write as-is, the index is
    * never read) + one atomic manifest publish; live views apply the
    * log as broadcast anti-joins and [[compactStoredMinhashIndex]]
    * folds it. Idempotent BY THE ORDER-AWARE RULE, with no
    * intersection job: a re-deleted (already-dead) or never-indexed id
    * hides nothing a probe can observe — its rows are already gone or
    * never existed, and a FUTURE re-ingest lands in a later epoch the
    * tombstone does not reach — so such ids are merely inert log rows
    * until compaction (unlike the BM25 twin, there are no scalars to
    * decrement, hence nothing to compute). An all-empty batch (checked
    * from the written parquet footers — driver-side, no extra action)
    * publishes no version at all. */
  def removeFromStoredMinhashIndex(sidx: StoredMinhashIndex,
      ids: DataFrame, idCol: String = "id"): StoredMinhashIndex = {
    val spark = ids.sparkSession
    val layout = new VersionedLayout(spark, sidx.path)
    layout.withLock {
      val log = readMhLog(layout)
      val next = log.version + 1
      val dir = s"${sidx.path}/tomb-$next"
      ids.select(col(idCol).as("id")).distinct()
        .write.mode("overwrite").parquet(dir)
      if (Hcfs.parquetHasRows(spark, dir))
        layout.publish(next, log.copy(
          entries = log.entries :+ Tomb(s"tomb-$next"), version = next).lines)
      else Hcfs.delete(spark, dir)
      loadMinhashIndex(spark, sidx.path)
    }
  }

  /** Fold the epoch/tombstone log into one fresh epoch pair — the
    * amortized maintenance op (ParquetReplica.compact's analogue; run
    * when the log grows past a few percent of the corpus). Survivor
    * rows are materialized (eager checkpoint) before the rewrite so it
    * never reads files the save's vacuum is deleting. */
  def compactStoredMinhashIndex(
      sidx: StoredMinhashIndex): StoredMinhashIndex = {
    val spark = sidx.docs.sparkSession
    // `docs` is the live view — already net of tombstones
    val survivors = sidx.docs
      .select(col("id"), col("sz"), col("toks"), col("sig"))
      .localCheckpoint(true)
    saveMinhashIndex(survivors, sidx.path, sidx.k, sidx.bands,
      sidx.shingleN, sidx.bandBuckets, sidx.docBuckets)
    loadMinhashIndex(spark, sidx.path)
  }

  /** [[nearDupAgainstIndex]] against a STORED index: identical rows for
    * the same surviving corpus (IndexStorageSpec pins bit-equality),
    * but the candidate side prunes in two stages the in-memory frame
    * cannot express — the probe's `bb isin` set (static PARTITION
    * pruning: only its band keys' bucket directories are listed, inside
    * every epoch branch of the live view) then the (band, bh) equi-join
    * (row-group pruning via the sorted columns' min/max). Tombstoned
    * docs are already excluded by the live view's broadcast anti-joins,
    * applied to the pruned candidate rows only. The shingle arrays of
    * the docs side ship only for candidates that survive the size-ratio
    * and estimate-floor cuts — the same cascade, now an I/O
    * statement. */
  def nearDupAgainstStoredIndex(batch: DataFrame, idCol: String,
      textCol: String, sidx: StoredMinhashIndex,
      threshold: Double = 0.8): DataFrame = {
    graft.functions.Functions.register(batch.sparkSession)
    val k = sidx.k
    val newSide = minhashIndex(batch, idCol, textCol, k, sidx.shingleN)
      .localCheckpoint(eager = false) // feeds banding AND verification
    // one evaluation feeds the bucket collect AND the join: the two must
    // see the SAME band keys (the ParquetReplica touched-set rule)
    val banded = explodedBands(newSide, k, sidx.bands, sidx.bandBuckets)
      .localCheckpoint(eager = false)
    // bounded driver-side collect: at most bandBuckets distinct values
    val buckets = banded.select(col("bb")).distinct()
      .collect().map(_.getInt(0)).toSeq
    if (buckets.isEmpty) // empty probe batch: nothing can match
      return newSide.select(col("id"), col("id").as("dup_of"),
        lit(0.0).as("est_jac"), lit(0.0).as("jac")).limit(0)
    val idx = sidx.idxBands
      .filter(col("bb").isin(buckets.map(Integer.valueOf): _*))
    val eqCount = call_function("positional_eq_count", col("x.sig"), col("y.sig"))
    val estFloor = math.max(0.0,
      threshold - 2 * math.sqrt(threshold * (1 - threshold) / k))
    val cands = banded.as("x")
      .join(idx.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .filter(least(col("x.sz"), col("y.sz")).cast("double") >=
        greatest(col("x.sz"), col("y.sz")) * threshold - 1e-6)
      .select(col("x.id").as("id"), col("y.id").as("dup_of"),
        opq(eqCount.cast("double") / k).as("est_jac"))
      .filter(col("est_jac") >= estFloor)
      // one evaluation feeds the docs-bucket collect AND the
      // verification joins (the touched-set rule again)
      .localCheckpoint(eager = false)
    // verification fetch pruned to the candidates' doc buckets: without
    // this the toks join reads EVERY doc's shingle array — the heaviest
    // column in the layout — per probe. Bounded collect (≤ docBuckets
    // distinct values).
    val dbs = cands.select(
        pmod(xxhash64(col("dup_of")), lit(sidx.docBuckets.toLong))
          .cast("int").as("db"))
      .distinct().collect().map(_.getInt(0)).toSeq
    if (dbs.isEmpty)
      return cands.select(col("id"), col("dup_of"),
        col("est_jac"), lit(0.0).as("jac")).limit(0)
    val docsSide =
      sidx.docs.filter(col("db").isin(dbs.map(Integer.valueOf): _*))
    val inter = call_function("sorted_intersect_size", col("toks_a"), col("toks_b"))
    cands
      .join(newSide.select(col("id"), col("toks").as("toks_a")), "id")
      .join(docsSide.select(col("id").as("dup_of"), col("toks").as("toks_b")),
        "dup_of")
      .withColumn("jac",
        opq(inter.cast("double") /
          (size(col("toks_a")) + size(col("toks_b")) - inter)))
      .filter(col("jac") >= threshold)
      .select(col("id"), col("dup_of"), col("est_jac"), col("jac"))
      .distinct()
  }
}
