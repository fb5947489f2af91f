package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.CacheScope

/** Text-analysis operators for a training-data pipeline (SURVEY §2.11 X6):
  * tokenization, token statistics, language-ID heuristic, quality scoring,
  * and document fingerprinting — all built-in column expressions (codegen,
  * no UDFs), each a single scan + at most one hash aggregation, so each
  * scales linearly over a 100 TB corpus.
  */
object TextOps {

  /** [[dsirWeights]] geometry — interpolated into the x43 oracle SQL so
    * the two sides can't desynchronize (the x37 discipline)
    */
  val DsirBuckets = 1024
  val DsirTargetMod = 10L

  /** whitespace tokens, one row per (doc_id, pos, tok); the canonical
    * exploded form used by dedup/lang-id. At scale this is a generate
    * (no shuffle) — downstream aggs shuffle on doc_id only.
    */
  def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))

  /** per-doc token statistics: counts, distinct counts, char stats, and a
    * BPE-ish token estimate (word-or-punct regex matches + the chars/4
    * rule of thumb).
    */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      size(split(col("text"), " ")).as("n_tokens"),
      size(array_distinct(split(col("text"), " "))).as("n_distinct_tokens"),
      size(regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0)))
        .as("n_bpe_ish"),
      ceil(length(col("text")) / 4.0).as("n_tokens_c4"))

  /** per-doc token-distribution diversity — the lexical-diversity
    * quality signals: type-token ratio, Gini–Simpson index
    * `1 − Σ(c_t/n)²`, and (production route) Shannon entropy. A
    * low-diversity doc is boilerplate or keyword stuffing; diversity
    * complements the n-gram repetition signals (x23) by looking at the
    * whole token DISTRIBUTION, not adjacent runs. Simpson stays
    * ALL-RATIONAL — `Σc²` and `n²` are exact integers, one
    * correctly-rounded double division and one IEEE subtraction — so
    * the oracle gate is bit-exact. Entropy
    * (`H = ln n − (Σ c·ln c)/n`) needs libm `ln`, whose last-ulp bits
    * differ cross-engine, so it ships only on the `shannon = true`
    * production route, tolerance-spec'd (the lnWeights discipline,
    * x22/x24 precedent).
    *
    * Scale: one (doc_id, tok) hash agg — map-side combine collapses
    * token multiplicities before the shuffle — then one doc_id agg;
    * both linear, no window, no amplification beyond the tokenizer
    * generate.
    */
  def tokenDiversity(docs: DataFrame, shannon: Boolean = false): DataFrame = {
    val tc = tokens(docs).groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val aggs = Seq(
      sum(col("c")).as("n_tokens"),
      count(lit(1)).as("n_types"),
      sum(col("c") * col("c")).as("sumsq")) ++
      (if (shannon)
        Seq(sum(col("c").cast("double") * log(col("c").cast("double")))
          .as("clnc"))
      else Nil)
    val agg = tc.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val n = col("n_tokens")
    agg.select(Seq(col("doc_id"), n, col("n_types"),
      (col("n_types").cast("double") / n.cast("double")).as("ttr"),
      (lit(1.0) - col("sumsq").cast("double") / (n * n).cast("double"))
        .as("simpson")) ++
      (if (shannon)
        Seq((log(n.cast("double")) - col("clnc") / n.cast("double"))
          .as("entropy"))
      else Nil): _*)
  }

  /** corpus drift monitor — per-token chi-square contributions between
    * two corpus slices (yesterday's ingest vs today's, crawl N vs
    * crawl N+1): for each high-frequency token, how far its observed
    * split count deviates from the expected proportional split. The
    * top-K contributors ARE the drift report — a changed boilerplate
    * header, a new spam campaign, or a source mix shift surfaces as
    * named tokens, which is what an operator acts on (a single scalar
    * divergence would only say "something changed"). All-integer counts;
    * expected values and contributions are fixed-order double
    * arithmetic mirrored operation-for-operation in the oracle —
    * bit-exact with no libm.
    *
    * Scale: one (tok) hash agg per slice (map-side combined), a
    * vocab-sized full-outer merge, and a 1-row totals broadcast. The
    * top-K contributors come from a distributed
    * `orderBy(...).limit(topK)` (`TakeOrderedAndProject` — bounded
    * per-partition heaps, r8 verdict task 1; the previous global rank
    * window pushed every `minCount` survivor through one task's sort,
    * and at corpus scale `minCount = 5` bounds nothing). The rank
    * window then orders only the ≤ topK survivors — same
    * `(combined desc, tok asc)` tie-break, bit-identical output. The
    * merged count table persists — totals and ranking both read it —
    * until the open [[graft.core.CacheScope]] closes.
    */
  def corpusDrift(docsA: DataFrame, docsB: DataFrame, topK: Int = 100,
      minCount: Long = 5L): DataFrame = {
    val ca = tokens(docsA).groupBy(col("tok")).agg(count(lit(1)).as("c_a"))
    val cb = tokens(docsB).groupBy(col("tok")).agg(count(lit(1)).as("c_b"))
    val tc = CacheScope.keep(ca.join(cb, Seq("tok"), "full_outer")
      .select(col("tok"), coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b")))
    val totals = tc.agg(sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy((col("c_a") + col("c_b")).desc, col("tok").asc)
    val t = (col("c_a") + col("c_b")).cast("double")
    val dA = col("c_a").cast("double") - col("e_a")
    val dB = col("c_b").cast("double") - col("e_b")
    // e_x = 0 exactly when slice x is globally empty (n_x = 0), and then
    // c_x = 0 and d_x = 0 too: the 0²/0 contribution is 0 by the usual
    // chi-square convention (an empty slice drifts nowhere). Unguarded,
    // ANSI mode throws DIVIDE_BY_ZERO on any empty/disjoint slice — the
    // r10 st16 sf0.1 crash.
    def contrib(d: Column, e: Column): Column =
      when(e > 0d, d * d / e).otherwise(lit(0d))
    tc.filter(col("c_a") + col("c_b") >= minCount)
      .orderBy((col("c_a") + col("c_b")).desc, col("tok").asc).limit(topK)
      .withColumn("rank", row_number().over(w).cast("long"))
      .crossJoin(broadcast(totals))
      .withColumn("e_a", t * col("n_a").cast("double") /
        (col("n_a") + col("n_b")).cast("double"))
      .withColumn("e_b", t * col("n_b").cast("double") /
        (col("n_a") + col("n_b")).cast("double"))
      .select(col("rank"), col("tok"), col("c_a"), col("c_b"),
        (contrib(dA, col("e_a")) + contrib(dB, col("e_b"))).as("chi2"))
  }

  /** tiny per-language stopword table for the lang-ID heuristic — joined
    * as a broadcast dimension, never a per-row closure. Derived from
    * [[graft.functions.LangBest.LangWords]] (r14 advice): the broadcast
    * join here and the native `lang_best` expression are two surfaces of
    * ONE table, so an edit to either can no longer drift them apart.
    */
  def stopwords(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.functions.LangBest.LangWords
      .flatMap { case (l, ws) => ws.map(w => (l, w)) }
      .toDF("lang_cand", "stopword")
  }

  /** language-ID heuristic: stopword-hit voting per language; the winner
    * is (most hits, then lexicographically first language); docs with zero
    * stopword hits come out "unknown". Broadcast-join + one agg.
    */
  def langId(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    // one hash agg with a struct-ordered min_by replaces the former
    // window-rank: (-hits, lang_cand) ascending IS (hits desc, lang_cand
    // asc), so the winner is identical but there is no per-doc sort, and
    // the winner's hit count is just max(hits)
    val top = tokens(docs)
      .join(broadcast(stopwords(spark)), col("tok") === col("stopword"))
      .groupBy(col("doc_id"), col("lang_cand"))
      .agg(count(lit(1)).as("hits"))
      .groupBy(col("doc_id"))
      .agg(
        min_by(col("lang_cand"),
          struct((-col("hits")).as("nh"), col("lang_cand").as("lc")))
          .as("lang_cand"),
        max(col("hits")).as("hits"))
    docs.select(col("doc_id"), col("lang").as("labeled_lang"))
      .join(top, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lang_cand"), lit("unknown")).as("pred_lang"),
        coalesce(col("hits"), lit(0L)).as("stopword_hits"),
        col("labeled_lang"))
  }

  /** quality scoring: punctuation ratio, whitespace ratio, mean token
    * length, stopword ratio — folded into a [0,1] score with a fixed
    * formula (identical double-arithmetic order in the oracle).
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val (punctRatio, meanLen, score) = qualityScoreCols(col("text"))
    docs.select(col("doc_id"), punctRatio.as("punct_ratio"),
      meanLen.as("mean_tok_len"), score.as("quality_score"))
  }

  /** the x22 (punct_ratio, mean_tok_len, quality_score) column triple
    * over a text column — exposed so composers (x74's budget cut) can
    * fold the score into their own single projection instead of paying
    * a second corpus scan + a doc_id self-join.
    */
  def qualityScoreCols(text: Column): (Column, Column, Column) = {
    val n = length(text).cast("double")
    // alnum = #chars in [a-z0-9A-Z ]. Computed by SUBTRACTION with
    // `translate` (delete the alnum alphabet, count what remains)
    // instead of `length(regexp_replace(text, "[^a-z0-9A-Z ]", ""))`:
    // value-identical on every string (each char is either in the
    // 63-char alphabet or not), but translate is a per-char map lookup
    // while Spark's regexp_replace ran at ~0.4 MB/s/core — measured
    // 45 s of x74's 49 s at the ×300 corpus against DuckDB's 1.6 s
    // total for the same oracle formula (the oracle keeps the regex
    // spelling; only this side's evaluation strategy changes).
    val alnumAlphabet =
      "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 "
    val alnum = (n - length(translate(text, alnumAlphabet, ""))
      .cast("double"))
    val punctRatio = when(n > 0, (n - alnum) / n).otherwise(0.0)
    val toks = split(text, " ")
    val nTok = size(toks).cast("double")
    val meanLen = when(nTok > 0,
      (n - (nTok - 1)) / nTok).otherwise(0.0) // chars minus separators
    val lenTerm = abs(meanLen - 5.0) / 10.0
    val score = greatest(lit(0.0),
      least(lit(1.0), lit(1.0) - punctRatio - lenTerm))
    (punctRatio, meanLen, score)
  }

  /** document fingerprint: md5 of the normalized text (lowercased,
    * whitespace collapsed) + an 8-hex prefix bucket — the exact-dedup key
    * and a cheap shard key for a 100 TB dedup shuffle.
    */
  def fingerprint(docs: DataFrame): DataFrame = {
    val norm = regexp_replace(lower(col("text")), " +", " ")
    docs.select(col("doc_id"), md5(norm).as("fp"),
      substring(md5(norm), 1, 8).as("fp8"))
  }

  /** winnowing fingerprints (the rolling-hash local-fingerprint scheme of
    * MOSS): hash every char k-gram to a u32, slide a window of w hashes,
    * keep each window's MIN, emit the distinct mins per doc. Guarantees a
    * shared fingerprint for any common substring of length ≥ k + w - 1 —
    * the local near-dup signal whole-doc hashing (x11) can't give.
    *
    * Shape — tuned against the measured traps (11× end-to-end):
    *   - EXPLICIT `repartition(parallelism, doc_id)` BEFORE the k-gram
    *     explode: the input bytes are tiny relative to the ~len×
    *     amplification that follows, so AQE (sizing by shuffle bytes)
    *     would coalesce the exchange to one task and serialize the whole
    *     pipeline; pinning the count keeps the heavy map distributed, and
    *     the window reuses the same partitioning — ONE exchange total.
    *   - grams via codegen'd `substr(text, pos, k)` over an exploded
    *     position sequence, not a `transform` lambda (interpreted HOF
    *     eval measured 3× slower than codegen here).
    *   - u32 = `conv(md5-prefix)` (one codegen call); the oracle parses
    *     the same digits positionally — same value, engine-idiomatic
    *     implementations.
    *   - sliding min as a window function: each hash evaluated once (an
    *     array transform-over-slice would re-evaluate the hash array per
    *     window inside the HOF lambda — the round-2 x02 lesson).
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 5, w: Int = 16): DataFrame = {
    // per-doc distinct fingerprints from ONE native in-row pass
    // (graft.functions.WinnowFps: k-gram md5s + monotonic-deque sliding
    // min + distinct) — the former shape paid a repartition shuffle, a
    // per-CHARACTER-position explode, and a doc-keyed window sort for a
    // per-document pure function; fingerprint sets spec-pinned
    // identical (incl. the short-doc single-window rule)
    graft.functions.WinnowFps.register(docs.sparkSession)
    docs
      .select(col("doc_id"),
        explode(call_function("winnow_fps", col("text"),
          lit(k), lit(w))).as("fp"))
  }

  /** exact duplicated-span detection (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 —
    * the substring-level complement of document-level MinHash): every
    * k-token window is hashed, a window is DUPLICATED when the
    * identical span appears in ≥ `minDf` DISTINCT documents, and each
    * doc reports its window count, duplicated-window count/fraction,
    * and the LONGEST consecutive duplicated run — the passage a
    * span-level dedup pass would cut. Runs are gaps-and-islands over
    * the duplicated positions (run id = pos − row_number, the q31
    * sessionization discipline).
    *
    * Scale shape: the paper builds a single-machine suffix array; for
    * fixed k the hash-grouped formulation is the distributable
    * equivalent — windows are a generate (no shuffle) off the token
    * split, the df agg shuffles on the window md5 only, and the
    * islands pass shuffles on doc_id. No candidate pairs, no quadratic
    * group: linear end-to-end.
    */
  def dupSpans(docs: DataFrame, k: Int = 5, minDf: Int = 2): DataFrame = {
    val wins = docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= k)
      // sequence() flips to a DESCENDING range when stop < start, so the
      // >= k guard above is load-bearing, as in [[Dedup.shingles]]
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("tk")) - (k - 1))).as("pos"),
        col("tk"))
      .select(col("doc_id"), col("pos"),
        md5(concat_ws(" ", slice(col("tk"), col("pos"), lit(k)))).as("wh"))
    val wdf = wins.groupBy(col("wh"))
      .agg(countDistinct(col("doc_id")).as("wdf"))
    val wrn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val perDoc = wins.join(wdf, Seq("wh"))
      .filter(col("wdf") >= minDf)
      .withColumn("grp", col("pos") - row_number().over(wrn))
      .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id"))
      .agg(sum(col("run")).as("n_dup_windows"),
        max(col("run")).as("longest_dup_run"))
    val counts = docs.select(col("doc_id"),
      greatest(lit(0), size(split(col("text"), " ")) - (k - 1))
        .cast("long").as("n_windows"))
    counts.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("longest_dup_run"), lit(0L)).as("longest_dup_run"),
        when(col("n_windows") > 0,
          coalesce(col("n_dup_windows"), lit(0L)).cast("double") /
            col("n_windows").cast("double"))
          .otherwise(0.0).as("dup_frac"))
  }

  /** bigram-LM fluency score — the distributable, rational-arithmetic
    * analogue of the CCNet/Gopher LM-perplexity quality cut: the corpus
    * itself is the language model (P(w2|w1) = c(w1 w2) / c(w1 ·) over
    * corpus bigram counts), and each document scores the MEAN
    * conditional probability of its own transitions — high = built
    * from common word transitions, low = garbled/unnatural text. No
    * `ln` (the cross-engine libm constraint of [[tfidfTopTerms]]); a
    * true log-perplexity is the monotone ln wrap, the lnWeights
    * precedent.
    *
    * Exactness: the per-doc mean reduces VALUE-SORTED probabilities
    * left-to-right (the [[graft.llm.Similarity.kmeans]] discipline) —
    * per-group memory is O(doc tokens), bounded by document length,
    * never corpus-sized. Shuffles: two bigram-keyed count aggs + the
    * doc-keyed mean — linear end-to-end.
    */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    val bg = docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("tk")) - 1)).as("pos"), col("tk"))
      .select(col("doc_id"), element_at(col("tk"), col("pos")).as("w1"),
        element_at(col("tk"), col("pos") + 1).as("w2"))
    val cBi = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val cW1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("cw"))
    val p = bg.join(cBi, Seq("w1", "w2")).join(cW1, Seq("w1"))
      .select(col("doc_id"),
        (col("cb").cast("double") / col("cw").cast("double")).as("p"))
    val perDoc = p.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (aggregate(sort_array(collect_list(col("p"))), lit(0.0),
          (acc, x) => acc + x) / count(lit(1))).as("lm_score"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_score"), lit(0.0)).as("lm_score"))
  }

  /** DSIR-style hashed n-gram importance weights (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * score every raw-corpus document by how target-domain-like its
    * hashed n-gram feature distribution is, for importance resampling
    * of pretraining data toward a target domain.
    *
    * Features are word unigrams AND bigrams hashed into [[DsirBuckets]]
    * buckets (the paper's hashed n-gram generative model; md5-prefix
    * bucket per the engine-wide convention). The bucket distributions
    * fit on the target slice (the deterministic `doc_id % targetMod ==
    * 0` stand-in, the [[decontaminate]] convention) and the raw rest,
    * with add-one smoothing, so each bucket's likelihood ratio
    *
    *   r[k] = (ct[k]+1)·(Sq+B) / ((cq[k]+1)·(St+B))
    *
    * is two fixed-order double products and one division — IEEE-exact
    * in both engines at any corpus size (no BIGINT overflow at 100 TB
    * gram counts, unlike an integer cross-product).
    *
    * Two scoring routes (the [[tfidfTopTerms]] convention):
    *   - `lnWeights = false` (the BIT-EXACT GATE route, x43): per-doc
    *     score = VALUE-SORTED mean of its grams' bucket ratios — the
    *     [[bigramLmScore]] sorted-fold discipline (deterministic
    *     left-to-right double accumulation, libm-free; equal terms make
    *     tie order irrelevant under IEEE addition);
    *   - `lnWeights = true` (the PRODUCTION route): the paper's
    *     log-importance-weight Σ ln r[k] over the doc's grams (same
    *     sorted fold over the ln terms; tolerance-spec'd).
    *
    * Scale shape — fit collects, score streams (the
    * [[graft.llm.Similarity]] centroid discipline): the FIT pass is one
    * gram generate + a bucket-keyed count agg that collapses map-side
    * to B = [[DsirBuckets]] rows, whose totals re-aggregate those same
    * B rows; the B-double ratio table then collects to the driver
    * (KB-sized at any corpus size, like k-means centroids) and
    * constant-folds into a literal lookup array. The SCORE pass is one
    * shuffle-free, join-free codegen projection over the raw slice —
    * gram array, bucket indexes, and the sorted fold all in-row, state
    * bounded by document length. Total: one corpus-sized shuffle
    * (map-combined to ≤ B rows per task) + one scan.
    */
  def dsirWeights(docs: DataFrame, buckets: Int = DsirBuckets,
      targetMod: Long = DsirTargetMod,
      lnWeights: Boolean = false): DataFrame =
    dsirScore(docs.filter(col("doc_id") % targetMod =!= 0),
      dsirRatios(docs, buckets, targetMod), buckets, lnWeights)

  private def dsirBiArr(tk: Column): Column =
    when(size(tk) >= 2,
      transform(sequence(lit(1), size(tk) - 1), i =>
        concat_ws(" ", element_at(tk, i), element_at(tk, i + 1))))
      .otherwise(array().cast("array<string>"))

  private def dsirBucketOf(g: Column, buckets: Int): Column =
    pmod(conv(substring(md5(g), 1, 8), 16, 10).cast("long"),
      lit(buckets.toLong))

  /** the FIT half of [[dsirWeights]]: corpus → B-row bucket counts →
    * the add-one-smoothed likelihood-ratio lookup (KB-sized at any
    * corpus size). One scan + one generate (uni+bi concat in-row,
    * single explode); totals re-aggregate the collected B rows.
    */
  def dsirRatios(docs: DataFrame, buckets: Int = DsirBuckets,
      targetMod: Long = DsirTargetMod): Array[Double] = {
    val tk = col("tk")
    val grams = docs
      .select((col("doc_id") % targetMod === 0).as("is_target"),
        split(col("text"), " ").as("tk"))
      .select(col("is_target"),
        explode(concat(tk, dsirBiArr(tk))).as("gram"))
      .select(dsirBucketOf(col("gram"), buckets).as("bucket"),
        col("is_target"))
    val perBucket = grams.groupBy(col("bucket")).agg(
      sum(when(col("is_target"), lit(1L)).otherwise(lit(0L))).as("ct"),
      sum(when(!col("is_target"), lit(1L)).otherwise(lit(0L))).as("cq"))
      .collect().map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2)))
      .toMap
    // totals from the B-row counts — integer-exact, no second corpus pass
    val st = perBucket.valuesIterator.map(_._1).sum
    val sq = perBucket.valuesIterator.map(_._2).sum
    val bD = buckets.toDouble
    Array.tabulate(buckets) { k =>
      val (ct, cq) = perBucket.getOrElse(k, (0L, 0L))
      ((ct.toDouble + 1.0) * (sq.toDouble + bD)) /
        ((cq.toDouble + 1.0) * (st.toDouble + bD))
    }
  }

  /** the SCORE half of [[dsirWeights]]: one shuffle-free, join-free,
    * STATELESS projection — the fitted ratios ride as a literal vector
    * inside the native codegen `dsir_terms` expression
    * ([[graft.functions.DsirScore]]: gram stream, md5 bucket, ratio
    * lookup, and the sorted sum fused into one pass per row — the
    * former formulation dispatched an interpreted lambda PER GRAM with
    * a MessageDigest + hex round-trip inside, spec-pinned identical),
    * so this applies to a STREAMING frame unchanged (st10: batch-fit,
    * stream-score). `buckets` must match the fitted table's length —
    * the expression buckets by `ratios.length`.
    */
  def dsirScore(raw: DataFrame, ratios: Array[Double],
      buckets: Int = DsirBuckets, lnWeights: Boolean = false): DataFrame = {
    require(ratios.length == buckets,
      s"dsirScore: ${ratios.length} fitted ratios for $buckets buckets")
    val weighted =
      if (lnWeights) ratios.map(math.log) else ratios
    graft.functions.DsirScore.register(raw.sparkSession)
    val ts = call_function("dsir_terms", col("tk"),
      array(weighted.toSeq.map(lit): _*))
    raw.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), ts.as("ts"))
      .select(col("doc_id"),
        col("ts.n_grams").as("n_grams"),
        (if (lnWeights) col("ts.s")
         else col("ts.s") / col("ts.n_grams").cast("double"))
          .as("dsir_score"))
  }

  /** pairwise source-vocabulary Jaccard — the mixture-design audit:
    * two sources with near-identical vocabularies are candidates for
    * merging (or one is a scrape of the other), and a source whose
    * vocabulary barely overlaps anything may be noise. Exact set
    * Jaccard `|A∩B| / (|A|+|B|−|A∩B|)` over distinct token sets — all
    * integers until one final double division, so bit-exact
    * cross-engine.
    *
    * Scale shape: the corpus collapses to distinct `(source, token)`
    * rows (vocab × sources at worst) in one map-side-combined agg,
    * PERSISTED — four branches read it (both self-join sides and both
    * size aggs), and without the persist each would rescan the corpus
    * (the x45 lesson). The self-join on token produces at most
    * `vocab × sources²` rows (each token appears once per source) —
    * never corpus-sized. Source count is assumed small (dozens);
    * output is the source-pair triangle. The open CacheScope releases
    * the vocabulary table.
    */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val st = CacheScope.keep(docs
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .distinct())
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n_vocab"))
    val inter = st.as("a")
      .join(st.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    sizes.as("sa").join(broadcast(sizes.as("sb")),
        col("sa.source") < col("sb.source"))
      .select(col("sa.source").as("src_a"), col("sb.source").as("src_b"),
        col("sa.n_vocab").as("n_a"), col("sb.n_vocab").as("n_b"))
      .join(inter, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        (coalesce(col("n_inter"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") - coalesce(col("n_inter"), lit(0L)))
            .cast("double")).as("jaccard"))
  }

  /** vocabulary coverage — the tokenizer-training precursor: rank
    * corpus tokens by frequency and report each candidate's cumulative
    * share of all token occurrences, answering "how large a vocabulary
    * covers X% of the corpus" before committing to a BPE/unigram vocab
    * size. Rank and cumulative sum run over `(count desc, token asc)` —
    * fully deterministic in both engines; the share is one integer
    * cumsum divided by the integer total (a single double division).
    *
    * Scale shape: one token hash agg (map-side combined), PERSISTED —
    * the count table is vocabulary-sized, and both the total and the
    * ranking read it without a second corpus pass (the x44 lesson:
    * a branched frame recomputes its subtree). The top-K cut is a
    * distributed `orderBy(...).limit(topK)` — Spark plans a
    * `TakeOrderedAndProject` (per-partition bounded heaps, then a
    * topK-sized driver merge), so NO task ever sorts more than its own
    * partition's survivors (r8 verdict task 1: the previous global rank
    * window funneled every `count >= minCount` token — hundreds of
    * millions at corpus scale — into ONE task's sort). The rank and
    * cumulative-share window then runs over the ≤ topK survivors only;
    * the same `(count desc, token asc)` tie-break makes the pre-cut
    * bit-identical to ranking the full table, and the cumulative sum
    * at rank r ≤ topK only ever reads rows with rank ≤ r — all
    * survivors. The open CacheScope releases the count table.
    */
  def vocabCoverage(docs: DataFrame, topK: Int = 200,
      minCount: Long = 2L): DataFrame = {
    val counts = CacheScope.keep(tokens(docs).groupBy(col("tok"))
      .agg(count(lit(1)).as("c")))
    val total = counts.agg(sum(col("c")).as("total"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("tok").asc)
    counts.filter(col("c") >= minCount)
      .orderBy(col("c").desc, col("tok").asc).limit(topK)
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("c")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("tok"), col("c"), col("cum"),
        (col("cum").cast("double") / col("total").cast("double"))
          .as("cum_frac"))
  }

  /** TF-IDF-style top terms per document: tf × rarity, ranked per doc.
    *
    * Two weight routes (r7 verdict task 4):
    *   - `lnWeights = false` (the BIT-EXACT GATE route, x22): the
    *     rarity weight is the RATIONAL `N/df` rather than `ln(N/df)` —
    *     libm `log` bits differ between the JVM and DuckDB in the last
    *     ulp on ~0.1% of idf-shaped inputs (measured over N ∈ {500, 5k,
    *     50k}, df ∈ 1..N: 55/55500 mismatches), which would break the
    *     bit-exact cross-engine gate; division and multiplication are
    *     IEEE-exact in both engines, so the rational weight hashes
    *     identically;
    *   - `lnWeights = true` (the PRODUCTION route): the textbook
    *     `ln(N/df)` idf — what a user-facing scoring pipeline should
    *     run; spec-checked at 1e-12 relative tolerance instead of the
    *     hash gate.
    *
    * Shape: two hash aggs (tf per (doc, term), df per term) + a broadcast
    * 1-row corpus count + one per-doc window — shuffles on doc/term keys
    * only, linear at corpus scale.
    */
  def tfidfTopTerms(docs: DataFrame, topK: Int = 5,
      lnWeights: Boolean = false): DataFrame = {
    val toks = tokens(docs).select(col("doc_id"), col("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    // tf rows are one per (doc, term), so df = row count per term
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val rarity = col("n_docs").cast("double") / col("df").cast("double")
    val scored = tf.join(dfreq, Seq("tok")).crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf").cast("double") *
        (if (lnWeights) log(rarity) else rarity))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("tok").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("tok").as("term"), col("tf"), col("df"),
        col("n_docs"), col("tfidf"), col("rank"))
  }

  /** repetition signals (the Gopher-style quality cuts): most frequent
    * word bigram + its share, share of bigram occurrences that are
    * repeats, and the distinct-token ratio — all rational arithmetic over
    * integer counts (bit-exact cross-engine; see [[tfidfTopTerms]]).
    * One generate + two hash aggs + a per-doc window.
    */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    // per-doc bigram stats are a pure function of the row — the native
    // codegen `bigram_stats` expression ([[graft.functions.BigramStats]])
    // computes (top_bigram, top_n, dup_n) in one in-row pass, where the
    // former shape exploded bigrams and paid TWO corpus-sized shuffles
    // (groupBy(doc_id, bigram), then the per-doc rollup) plus a doc_id
    // join back to the dims. Winner/count/dup-mass spec-pinned
    // bit-identical to the grouped min_by/max/sum (ties resolve by the
    // same binary string order); a null stats struct is the old left
    // join's MISS (docs under 2 tokens), coalesced identically below.
    graft.functions.BigramStats.register(docs.sparkSession)
    val tk = col("tk")
    val nt = size(tk)
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
    val staged = base.select(col("doc_id"), nt.as("n_tokens"),
      size(array_distinct(tk)).as("n_distinct"),
      call_function("bigram_stats", col("tk")).as("bs"))
    val nBg = (col("n_tokens") - 1).cast("double")
    staged
      .select(col("doc_id"), col("bs.top_bigram").as("top_bigram"),
        coalesce(col("bs.top_n"), lit(0L)).as("top_bigram_n"),
        col("n_tokens"),
        when(col("n_tokens") >= 2,
          coalesce(col("bs.top_n"), lit(0L)).cast("double") / nBg)
          .otherwise(0.0).as("top_bigram_frac"),
        when(col("n_tokens") >= 2,
          coalesce(col("bs.dup_n"), lit(0L)).cast("double") / nBg)
          .otherwise(0.0).as("dup_bigram_frac"),
        (col("n_distinct").cast("double") / col("n_tokens").cast("double"))
          .as("distinct_token_ratio"))
  }

  /** BM25-family relevance for a FIXED query term set, one score per
    * matching doc. With `lnWeights = false` (the BIT-EXACT GATE route,
    * x24) the idf factor is the rational Robertson–Spärck-Jones odds
    * `(N - df + 0.5) / (df + 0.5)` without the usual `ln` — same
    * cross-engine libm constraint as [[tfidfTopTerms]] (the ln wrap is
    * monotone, so per-term ordering is unchanged). `lnWeights = true`
    * is the PRODUCTION route: the standard `ln(odds)` BM25 idf from the
    * literature, spec-checked at 1e-12 relative tolerance (r7 verdict
    * task 4). Per-term contributions are summed in FIXED term order via
    * conditional aggregation (each term's sum has at most one non-zero
    * element per doc, and adding exact zeros is order-insensitive), so
    * the float total is deterministic — the same discipline as the
    * decimal-moment sums.
    *
    * Shape: token scan filtered to the term set (predicate on the
    * generated column), tf/df hash aggs, broadcast 1-row corpus stats —
    * no shuffle beyond the doc/term keys.
    */
  def bm25Odds(docs: DataFrame, terms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75, lnWeights: Boolean = false): DataFrame = {
    require(terms.nonEmpty && terms == terms.distinct)
    val toks = tokens(docs).select(col("doc_id"), col("tok"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(sum(col("dl")).as("sum_dl"),
      count(lit(1)).as("n_docs"))
    val tf = toks.filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val k1p1 = k1 + 1.0
    val oneMinusB = 1.0 - b
    val scored = tf.join(dfreq, Seq("tok")).join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("odds",
        (col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
          (col("df").cast("double") + 0.5))
      .withColumn("contrib",
        (if (lnWeights) log(col("odds")) else col("odds")) *
        ((col("tf").cast("double") * k1p1) /
          (col("tf").cast("double") +
            lit(k1) * (lit(oneMinusB) +
              lit(b) * (col("dl").cast("double") / col("avgdl"))))))
    val perTerm = terms.map(t =>
      sum(when(col("tok") === t, col("contrib")).otherwise(lit(0.0)))
        .as(s"c_$t"))
    val total = terms.map(t => col(s"c_$t")).reduce(_ + _)
    scored.groupBy(col("doc_id"), col("dl"))
      .agg(perTerm.head, perTerm.tail: _*)
      .select(col("doc_id"), col("dl"), total.as("bm25_odds"))
  }

  /** the composed QUALITY GATE a training pipeline actually runs: the
    * per-doc signals ([[langId]], [[qualityScore]],
    * [[repetitionSignals]], token counts) fold into one keep/drop
    * decision with the FIRST failing rule as the reason — order-pinned
    * CASE semantics identical in both engines, all-rational thresholds.
    *
    * Shape (round-10 restructure — the x26 amplified residual): the
    * gate is ONE shuffle-free projection. Every input signal is
    * per-row-computable, so the former three-branch composition
    * (explode → stopword join → two hash aggs → two doc_id joins) is
    * replaced by array expressions over the split token array:
    *   - lang-ID = per-language stopword hit counts via
    *     `filter(tk, array_contains(...))` against the same literal
    *     stopword lists, folded in ascending language order with a
    *     strict `>` — identical winner and tie-break to [[langId]]'s
    *     `min_by((-hits, lang))`, zero hits → "unknown"
    *     (spec-asserted equal on the fixture corpus);
    *   - duplicate-bigram mass = sort the bigram array once and count
    *     positions inside a run of length ≥ 2 — exactly
    *     [[repetitionSignals]]' Σ{c : c ≥ 2} without the (doc, bigram)
    *     shuffle, O(n log n) per row;
    *   - quality score = [[qualityScore]]'s formula (already a map).
    * All counts are exact integers and the divisions are the same
    * expressions, so the output is bit-identical to the joined
    * composition — and at 100 TB the filter stage before write-out is
    * a pure map: no shuffle, no joins, scan throughput.
    */
  def qualityGate(docs: DataFrame, minTokens: Int = 10,
      maxTokens: Int = 100000, minQuality: Double = 0.5,
      maxDupBigram: Double = 0.2, lang: String = "en"): DataFrame = {
    // EXPLICIT projection stages so every lambda references a bound
    // attribute, never an inlined expression: higher-order functions
    // are interpreted (no codegen CSE), so an expression inside a
    // lambda body is re-evaluated PER ELEMENT — an inlined `split` or
    // `array_sort` there turns the per-row cost quadratic (measured:
    // the first cut of this restructure hung the ×30 bench).
    // CollapseProject keeps these boundaries because the aliases are
    // non-cheap and multiply-referenced.
    val tk = col("tk")
    val nt = size(tk)
    val staged = docs.select(col("doc_id"), col("text"),
      split(col("text"), " ").as("tk"))
    // per-language stopword hits → strict-> argmax in ASCENDING language
    // order (first language wins ties, all-zero stays "unknown"),
    // reproducing min_by((-hits, lang)) — fused into the native codegen
    // `lang_best` expression (graft.functions.LangBest): ONE pass over
    // the token array with a token→language-bitmask lookup. The former
    // five-filter fold dispatched an interpreted lambda per element per
    // language (HOFs run outside whole-stage codegen) and its wall was
    // JIT-luck-dependent at ×30 stream scale; winner bit-identical
    // (spec-pinned against the fold on tie/overlap/unicode corpora).
    graft.functions.LangBest.register(docs.sparkSession)
    val best = coalesce(call_function("lang_best", tk), lit("unknown"))
    val staged2 = staged.select(col("doc_id"), col("text"), col("tk"),
      best.as("best_lang"))
    // duplicate-bigram occurrences = Σ{c : c ≥ 2} over bigram counts —
    // the native codegen `dup_bigram_count` expression
    // (graft.functions.DupBigramCount) fuses bigram construction, sort,
    // and run count into ONE call off the bound token array: the former
    // composition paid three interpreted higher-order steps per row
    // (transform-concat, array_sort, aggregate fold — HOFs get no
    // whole-stage codegen and dispatch a lambda per ELEMENT). Identical
    // counts (spec-asserted against the fold composition); at toy scale
    // the wall-clock delta sits inside host-load noise — the claim is
    // the removed interpretation, not a measured constant.
    graft.functions.DupBigramCount.register(docs.sparkSession)
    val dupN = call_function("dup_bigram_count", col("tk"))
    val dupFrac = when(nt >= 2,
      dupN.cast("double") / (nt - 1).cast("double")).otherwise(0.0)
    // qualityScore's formula, inlined (identical expressions — incl.
    // the translate-not-regex alnum count, see qualityScoreCols)
    val n = length(col("text")).cast("double")
    val alnum = (n - length(translate(col("text"),
      "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 ",
      "")).cast("double"))
    val punctRatio = when(n > 0, (n - alnum) / n).otherwise(0.0)
    val nTokD = nt.cast("double")
    val meanLen = when(nTokD > 0, (n - (nTokD - 1)) / nTokD).otherwise(0.0)
    val score = greatest(lit(0.0),
      least(lit(1.0), lit(1.0) - punctRatio - abs(meanLen - 5.0) / 10.0))
    val sig = staged2.select(col("doc_id"),
      col("best_lang").as("pred_lang"),
      nt.as("n_tokens"), score.as("quality_score"),
      dupFrac.as("dup_bigram_frac"))
    val reason = when(col("n_tokens") < minTokens, "too_short")
      .when(col("n_tokens") > maxTokens, "too_long")
      .when(col("pred_lang") =!= lang, "wrong_lang")
      .when(col("quality_score") < minQuality, "low_quality")
      .when(col("dup_bigram_frac") > maxDupBigram, "repetitive")
      .otherwise(lit("pass"))
    sig.select(col("doc_id"), col("pred_lang"), col("n_tokens"),
      col("quality_score"), col("dup_bigram_frac"),
      reason.as("gate_reason"), (reason === "pass").as("keep"))
  }

  /** sliding-window token chunking — the sequence-prep step of a
    * training pipeline: fixed `chunkSize`-token windows advancing by
    * `stride` (overlap = chunkSize - stride), the last window covering
    * the tail, short docs yielding one whole-doc chunk. Pure generate
    * over the token array (integer arithmetic for the chunk count, one
    * `slice` per chunk) — no shuffle at all; at 100 TB this is a map.
    */
  def chunkTokens(docs: DataFrame, chunkSize: Int = 32,
      stride: Int = 24): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize)
    val tk = col("tk")
    val ntok = size(tk)
    // chunks = ceil(max(0, ntok - chunkSize) / stride) + 1
    val extra = greatest(ntok - chunkSize, lit(0))
    val nChunks = ((extra + (stride - 1)) / stride).cast("int") + 1
    docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), tk, ntok.as("n_tokens"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * stride + 1).as("start_pos"),
        size(slice(tk, col("chunk_id") * stride + 1, lit(chunkSize)))
          .as("n_chunk_tokens"),
        concat_ws(" ",
          slice(tk, col("chunk_id") * stride + 1, lit(chunkSize)))
          .as("chunk_text"))
  }

  /** winnowing fingerprints → near-dup CANDIDATE PAIRS (r3 verdict task
    * 7): docs sharing ≥ `minShared` kept fingerprints, with the shared
    * count as the local-similarity signal whole-doc hashing can't give.
    *
    * Scale shape: a fingerprint's document frequency bounds its pair
    * fan-out, so fps with df > `maxDf` are dropped BEFORE pairing — they
    * are boilerplate (the sf0.1 corpus has one fp shared by 78% of all
    * docs, which alone would emit ~7.5M meaningless pairs) and
    * non-discriminative by definition. This is the MOSS-style df cut;
    * unlike [[Dedup.candidatePairs]]' cap+re-shard it needs no recall
    * trade bookkeeping because the filter IS the spec, applied
    * identically in the oracle. After the cut every fp bucket has ≤
    * maxDf members, so per-bucket pair work is ≤ maxDf² and total work
    * is Σ df² over kept fps — linear in corpus size for fixed maxDf.
    * Pair expansion reuses the O(bucket)-memory slice-explode shape.
    */
  def winnowPairs(docs: DataFrame, k: Int = 5, w: Int = 16,
      maxDf: Int = 64, minShared: Int = 2): DataFrame = {
    val fps = CacheScope.keep(winnowFingerprints(docs, k, w))
    val keep = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("fp"))
    val buckets = fps.join(keep, Seq("fp"))
      .groupBy(col("fp"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
    buckets
      .select(posexplode(col("ds")).as(Seq("i", "doc_a")), col("ds"))
      .select(col("doc_a"),
        explode(slice(col("ds"), col("i") + lit(2), size(col("ds"))))
          .as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_fps"))
      .filter(col("n_shared_fps") >= minShared)
  }

  /** eval-set decontamination — the n-gram-overlap check pretraining
    * pipelines run before training (the GPT-3/Pile discipline: drop or
    * flag training docs sharing token n-grams with the benchmark). The
    * eval set here is the deterministic `doc_id % evalMod == 0` slice
    * standing in for a benchmark table; every remaining doc is scored by
    * how many DISTINCT n-grams it shares with ANY eval doc.
    *
    * Scale shape: real eval sets are tiny (thousands of docs), so their
    * distinct gram set broadcasts — but the join is left UNHINTED and AQE
    * picks the strategy from the measured build size: with the doc_id %
    * evalMod stand-in the eval side is ~1/evalMod of the CORPUS, which at
    * 100 TB is itself TB-sized and a forced broadcast would OOM the
    * driver. (Against a genuinely small benchmark table AQE broadcasts it
    * anyway.) The corpus side is one generate (gram explode — position
    * sequence + codegen `slice`, no lambda), the join, and one
    * groupBy(doc_id) agg. The only corpus-sized shuffle key is doc_id.
    * The guarded `when(size >= n)` matters: Spark's `sequence(1, 0)`
    * DESCENDS instead of returning empty.
    */
  def decontaminate(docs: DataFrame, n: Int = 4,
      evalMod: Long = 50): DataFrame = {
    val tk = col("tk")
    val posArr = when(size(tk) >= n,
      sequence(lit(1), size(tk) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), explode(posArr).as("pos"), tk)
      .select(col("doc_id"),
        concat_ws(" ", slice(tk, col("pos"), lit(n))).as("gram"))
    val evalGrams = grams.filter(col("doc_id") % evalMod === 0)
      .select(col("gram")).distinct()
    val hits = grams.filter(col("doc_id") % evalMod =!= 0)
      .join(evalGrams, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("n_shared_grams"))
    docs.filter(col("doc_id") % evalMod =!= 0).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        (coalesce(col("n_shared_grams"), lit(0L)) > 0).as("contaminated"))
  }

  /** concat-then-split sequence packing — the standard GPT-style layout:
    * per shard, documents are laid one after another in doc_id order as
    * a single token stream and cut into fixed `capacity`-token training
    * sequences; each doc lands at (begin_seq, seq_offset) and may
    * straddle a boundary (begin_seq != end_seq).
    *
    * Scale shape: the only shuffle is the hash partition on `shard`
    * (set shards ≈ cluster parallelism at 100 TB; 8 here for the toy
    * corpus); within a shard the layout is one running-sum window in
    * doc_id order. Integer arithmetic only (`div`, `pmod`), so the
    * assignment is deterministic and hash-exact cross-engine.
    */
  def packSequences(docs: DataFrame, capacity: Int = 256,
      shards: Int = 8): DataFrame = {
    require(capacity > 0 && shards > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    docs
      .select(col("doc_id"), pmod(col("doc_id"), lit(shards)).as("shard"),
        size(split(col("text"), " ")).as("n_tokens"))
      .withColumn("offset_tokens",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        col("offset_tokens"),
        expr(s"offset_tokens div $capacity").as("begin_seq"),
        expr(s"(offset_tokens + n_tokens - 1) div $capacity").as("end_seq"),
        pmod(col("offset_tokens"), lit(capacity.toLong)).as("seq_offset"))
  }

  /** email pattern shared by [[redactPii]] and its oracle: character
    * classes + bounded quantifiers only, so the Java regex engine and
    * DuckDB's RE2 agree on every match (no lookaround, no backreferences,
    * no alternation-order ambiguity).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** international-format phone pattern (`+C-AAA-BBB-NNNN`), same
    * engine-portable subset as [[EmailRe]]
    */
  val PhoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** PII scrub — the redaction pass pretraining pipelines run before
    * write-out (the C4/RefinedWeb discipline): count and mask email
    * addresses and phone numbers. Emails are replaced first, then phones,
    * in both engines — the patterns cannot overlap, but pinning the order
    * keeps the composition deterministic by construction.
    *
    * Shape: pure per-row map (two codegen'd regexp_replace + two
    * regexp_extract_all counts), no shuffle at all — at 100 TB this
    * pipelines with the scan and costs one pass over the text bytes.
    */
  /** deterministic PII injection for the x29/st08 demos — the synthetic
    * corpus contains no emails/phones, so a doc_id-keyed subset gets one
    * of each appended (the redaction op itself is corpus-agnostic)
    */
  def injectDemoPii(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" reach me at user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" or call +1-555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-0042"))).otherwise(lit(""))).as("text"))

  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0)))
        .as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0)))
        .as("n_phones"),
      regexp_replace(regexp_replace(col(textCol), EmailRe, "[EMAIL]"),
        PhoneRe, "[PHONE]").as("redacted"))

  /** corpus-level boilerplate segment removal — the CCNet/RefinedWeb
    * line-dedup discipline (hash every line, strike lines repeated
    * across documents) adapted to a newline-free corpus: the token
    * stream is cut into consecutive `k`-token segments, each segment's
    * document frequency is counted corpus-wide, and segments appearing
    * in >= minDf DISTINCT documents (headers, footers, boilerplate) are
    * struck from every document; the survivors re-join in stream order.
    *
    * Scale shape: segmentation is a pure map (integer slice positions;
    * `tk` is a bound column — the no-CSE-in-lambdas discipline of
    * [[Dedup.shingles]]); df is one hash agg keyed on the segment's md5
    * (fixed-width shuffle key, not the segment text) and the df join is
    * keyed the same; reassembly is one groupBy(doc_id) whose per-doc
    * order is restored by an in-row array_sort, so the only shuffle keys
    * anywhere are (seg_hash, doc_id) — both corpus-proportional, no
    * window over a low-cardinality key. Tokens past the last full
    * segment are dropped (both engines, documented).
    */
  def segmentDedup(docs: DataFrame, k: Int = 3, minDf: Int = 3): DataFrame = {
    require(k > 0 && minDf > 1)
    val tk = col("tk")
    val posArr = when(size(tk) >= k,
      sequence(lit(1), floor(size(tk) / k).cast("int")))
      .otherwise(array().cast("array<int>"))
    val segs = docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), explode(posArr).as("seg_i"), tk)
      .select(col("doc_id"), col("seg_i"),
        concat_ws(" ", slice(tk, (col("seg_i") - 1) * k + 1, lit(k)))
          .as("seg"))
    val df = segs
      .groupBy(md5(col("seg")).as("sh"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val agg = segs.withColumn("sh", md5(col("seg")))
      .join(df, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(array_sort(collect_list(
          when(col("df") < minDf, struct(col("seg_i"), col("seg"))))),
          s => s.getField("seg")), " ").as("cleaned"))
    docs.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** linear quality-classifier weights in MILLI units (integer, so the
    * per-doc accumulation is exact integer arithmetic both engines
    * perform identically — the x24/x42 no-libm discipline). Interpolated
    * into the x66 oracle's VALUES list so the two sides can't
    * desynchronize (the x37/x43 pattern). The terms mirror a
    * fasttext-style bag-of-words model fitted offline: "trained weights
    * arrive as a table", which is exactly how a production quality
    * classifier ships to the cluster.
    */
  val ClassifierBiasMilli = -100L
  val ClassifierLenFreeTokens = 30L
  val ClassifierLenPenaltyMilli = 5L
  val ClassifierWeights: Seq[(String, Long)] = Seq(
    "fast" -> 400L, "spark" -> 300L, "query" -> 250L, "vector" -> 200L,
    "merge" -> 150L, "join" -> 100L, "row" -> 50L,
    "small" -> -50L, "big" -> -50L, "the" -> -150L, "a" -> -150L,
    "slow" -> -400L)

  /** fasttext-style linear classifier INFERENCE over the corpus — the
    * model-based quality filter that complements the heuristic gates
    * (x10/x26): logit = bias + Σ_token w(token) − lenPenalty·max(0,
    * n_tokens − free), every term integer milli-units, one double
    * division at the end. The weight table is a LITERAL map folded over
    * the bound token array — per-row, shuffle-free, broadcast-free: at
    * 100 TB this runs at scan throughput as a pure projection, the same
    * argument as the mapped x26 gate (a joined shape would shuffle
    * token-volume rows per corpus pass just to apply a KB-sized model).
    * The lambda touches only the lambda variable, the accumulator, and
    * the map literal (no-CSE-in-lambdas discipline).
    */
  def classifierScore(docs: DataFrame): DataFrame = {
    graft.functions.TokenWeightSum.register(docs.sparkSession)
    val wmap = typedLit(ClassifierWeights.toMap)
    val tk = col("tk")
    val nt = size(tk).cast("long")
    // one fused codegen pass (hash-probe per token) — the interpreted
    // `aggregate` fold with linear map-literal lookups measured 7.8×
    // DuckDB at ×30; identity to the fold is spec-asserted
    val folded = call_function("token_weight_sum", tk, wmap)
    val staged = docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), nt.as("n_tokens"), folded.as("f"))
    val milli = lit(ClassifierBiasMilli) + col("f").getField("s") -
      lit(ClassifierLenPenaltyMilli) *
        greatest(lit(0L), col("n_tokens") - lit(ClassifierLenFreeTokens))
    staged.select(col("doc_id"), col("n_tokens").cast("int").as("n_tokens"),
      col("f").getField("h").as("vocab_hits"),
      (milli.cast("double") / 1000.0).as("logit"),
      (milli >= 0L).as("keep"))
  }
}
