package graft.llm

import scala.util.Using

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.CacheScope

/** Round-7 pipeline operators: segment-level boilerplate removal,
  * SemDeDup, per-domain caps, fuzzy (MinHash) decontamination.
  */
class PipelineOpsSpec extends SparkSpec {

  private def docsDf(rows: Seq[(Long, String, String)]) = {
    val s = spark
    import s.implicits._
    rows.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def embDf(rows: Seq[(Long, Seq[Float])]) = {
    val s = spark
    import s.implicits._
    rows.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
  }

  test("segmentDedup strikes cross-doc boilerplate, keeps order, drops tail") {
    val header = "subscribe to newsletter" // one 3-token segment
    val df = docsDf(Seq(
      (0L, s"$header alpha beta gamma tail1", "s"),
      (1L, s"$header delta epsilon zeta", "s"),
      (2L, s"$header eta theta iota", "s"),
      (3L, "only unique words here", "s"),
      (4L, "xx", "s"))) // < k tokens: zero segments
    val res = TextOps.segmentDedup(df, k = 3, minDf = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_segs"), r.getAs[Long]("n_removed"),
          r.getAs[String]("cleaned")))).toMap
    // doc 0: segs = [header, "alpha beta gamma"]; "tail1" dropped (7th token)
    assert(res(0L) == ((2L, 1L, "alpha beta gamma")))
    assert(res(1L) == ((2L, 1L, "delta epsilon zeta")))
    assert(res(2L) == ((2L, 1L, "eta theta iota")))
    assert(res(3L) == ((1L, 0L, "only unique words")))
    assert(res(4L) == ((0L, 0L, "")))
  }

  test("segmentDedup reassembles multi-segment survivors in stream order") {
    val df = docsDf(Seq(
      (0L, "a b c d e f g h i", "s"),
      (1L, "d e f x y z", "s"),
      (2L, "d e f p q r", "s")))
    val m = TextOps.segmentDedup(df, k = 3, minDf = 3).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("cleaned")).toMap
    // "d e f" appears in all 3 docs -> struck; doc 0 keeps segs 1 and 3
    assert(m(0L) == "a b c g h i")
  }

  test("semDedup drops the higher-id member of an identical pair only") {
    val v1 = Seq(1f, 0f, 0f, 0f)
    val v2 = Seq(0f, 1f, 0f, 0f)
    val df = embDf(Seq(0L -> v1, 1L -> v1, 2L -> v2))
    val res = Similarity.semDedup(df, initIds = Seq(0L, 2L), tau = 0.9)
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cluster"), r.getAs[Long]("n_close"),
          r.getAs[Boolean]("keep")))).toMap
    assert(res(0L) == ((0L, 0L, true)))
    assert(res(1L) == ((0L, 1L, false))) // dup of 0 in the same cluster
    assert(res(2L) == ((2L, 0L, true)))
  }

  test("semDedup ignores near-dups that land in DIFFERENT clusters") {
    // ids 5 and 6 are near-identical (cos ≈ 0.995) but straddle the
    // cluster boundary: cross-cluster dups are (by design) not compared
    val df = embDf(Seq(
      0L -> Seq(1f, 0f, 0f), 2L -> Seq(0f, 1f, 0f),
      5L -> Seq(1f, 0.9f, 0f), 6L -> Seq(0.9f, 1f, 0f)))
    val res = Similarity.semDedup(df, initIds = Seq(0L, 2L), tau = 0.95)
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cluster"), r.getAs[Boolean]("keep")))).toMap
    assert(res(5L)._1 == 0L && res(6L)._1 == 2L)
    assert(res(5L)._2 && res(6L)._2, "cross-cluster near-dups both survive")
  }

  test("domainCap keeps exactly ceil(sqrt(n)) per source, deterministically") {
    val rows = (0L until 25L).map(i => (i, s"text $i", "big")) ++
      Seq((100L, "solo", "small"))
    val df = docsDf(rows)
    val out = Sampling.domainCap(df).collect()
    val byCap = out.groupBy(_.getAs[String]("source"))
    assert(byCap("big").count(_.getAs[Boolean]("kept")) == 5) // ceil(sqrt 25)
    assert(byCap("big").head.getAs[Long]("cap") == 5L)
    assert(byCap("small").map(r =>
      (r.getAs[Long]("cap"), r.getAs[Boolean]("kept"))).toSeq == Seq((1L, true)))
    val again = Sampling.domainCap(df).collect()
      .filter(_.getAs[Boolean]("kept")).map(_.getAs[Long]("doc_id")).toSet
    assert(again == out.filter(_.getAs[Boolean]("kept"))
      .map(_.getAs[Long]("doc_id")).toSet)
  }

  test("fuzzyDecontam flags the doc that duplicates an eval doc") {
    val evalText = "the quick brown fox jumps over the lazy dog again and again"
    val rows = Seq(
      (10L, evalText, "s"), // eval slice (id % 10 == 0)
      (11L, evalText, "s"), // train copy of the eval doc
      (12L, "completely unrelated words with no shared shingles at all", "s"))
    val res = Dedup.fuzzyDecontam(docsDf(rows), evalMod = 10L).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_eval_hits"), r.getAs[Boolean]("contaminated"))))
      .toMap
    assert(!res.contains(10L), "eval docs are not scored")
    assert(res(11L) == ((1L, true)))
    assert(res(12L) == ((0L, false)))
  }

  test("cmsHeavyHitters never underestimates and flags the dominant token") {
    // N = 127 tokens, so the φ=1% bar is est·100 >= 127: singletons can
    // only cross it through a (deterministic, md5-fixed) all-4-row
    // collision, which this vocabulary does not produce
    val df = docsDf(Seq(
      (0L, Seq.fill(100)("hot").mkString(" "), "s"),
      (1L, "cold a b c d e f g h i j k l m n o p q r s t u v w x y z", "s")))
    val res = Sketches.cmsHeavyHitters(df).collect()
      .map(r => r.getAs[String]("tok") ->
        ((r.getAs[Long]("est"), r.getAs[Long]("true_cnt"),
          r.getAs[Long]("overcount"), r.getAs[Boolean]("heavy")))).toMap
    assert(res.size == 28) // hot + cold + 26 letters
    assert(res.values.forall { case (est, t, over, _) =>
      est >= t && over == est - t && over >= 0 })
    assert(res("hot") == ((100L, 100L, 0L, true)))
    assert(!res("cold")._4, "1/127 of the stream is not a 1% heavy hitter")
  }

  test("lshNearDup caps a degenerate bucket and still surfaces pairs") {
    // 600 IDENTICAL vectors: every band has ONE bucket holding all of
    // them. Uncapped, pair work would be C(600,2) per band; with
    // maxBucket=50 each band re-shards into 12 sub-buckets, bounding
    // candidates at ~bands * shards * C(50,2) << all-pairs.
    val v = Seq(0.6f, -0.2f, 0.7f, 0.1f)
    val df = embDf((0L until 600L).map(_ -> v))
    val out = Similarity.lshNearDup(df, minCos = 0.9, nBands = 2,
      bitsPerBand = 4, dim = 4, maxBucket = 50)
    val n = out.count()
    val allPairs = 600L * 599 / 2
    assert(n > 0, "re-sharded buckets must still emit within-shard pairs")
    assert(n < allPairs / 4,
      s"candidate volume must be capped well below all-pairs ($n vs $allPairs)")
    assert(out.filter(col("cos") < 0.999999).count() == 0,
      "identical vectors verify at cosine 1")
  }

  test("semDedup caps a synthetic giant cluster; diagnostic reports it") {
    // 12 identical vectors all land in centroid 0's cluster. Uncapped,
    // the pair scan does C(12,2)=66 comparisons in ONE group and keeps
    // exactly the min-id exemplar; with maxCluster=4 the cluster splits
    // into 3 md5 sub-shards, per-group work is bounded at ~C(4+,2), and
    // each sub-shard keeps its own min-id member (the documented
    // cross-shard recall trade).
    val v = Seq(0.3f, -0.8f, 0.5f, 0.1f)
    val df = embDf((0L until 12L).map(_ -> v))
    val uncapped = Similarity.semDedup(df, initIds = Seq(0L), tau = 0.9)
      .collect()
    assert(uncapped.count(_.getAs[Boolean]("keep")) == 1)
    assert(uncapped.map(_.getAs[Long]("n_close")).sum == 66L)
    val capped = Similarity.semDedup(df, initIds = Seq(0L), tau = 0.9,
      maxCluster = 4).collect()
    val keeps = capped.count(_.getAs[Boolean]("keep"))
    val pairs = capped.map(_.getAs[Long]("n_close")).sum
    assert(pairs < 66L, "cross-shard pairs must be dropped")
    assert(pairs > 0L, "within-shard dups must still be found")
    assert(keeps >= 1 && keeps <= 3, "one exemplar per non-empty sub-shard")
    val over = Similarity.oversizedClusters(df, Seq(0L), maxCluster = 4)
      .collect()
    assert(over.length == 1 && over(0).getAs[Long]("cid") == 0L
      && over(0).getAs[Long]("csz") == 12L)
    assert(Similarity.oversizedClusters(df, Seq(0L)).isEmpty,
      "the 2k default never splits the fixture")
  }

  test("capped semDedup keeps a superset of the uncapped keeps") {
    // dropping cross-shard pairs can only LOWER each vector's n_close,
    // so keep (n_close == 0) is monotone in the cap: anything kept
    // uncapped stays kept under any cap — the recall trade loses drops,
    // never keeps
    val rnd = new scala.util.Random(19)
    val df = embDf((0L until 40L).map(i =>
      i -> Seq.fill(4)(rnd.nextFloat() - 0.3f)))
    def run(cap: Int) = Similarity.semDedup(df, initIds = Seq(0L, 1L, 2L),
        tau = 0.8, maxCluster = cap).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("n_close"), r.getAs[Boolean]("keep")))).toMap
    val uncapped = run(Dedup.MaxBucket)
    val capped = run(3)
    assert(uncapped.keySet == capped.keySet)
    uncapped.foreach { case (id, (n, keep)) =>
      assert(capped(id)._1 <= n, s"vec $id: capped n_close must not grow")
      if (keep) assert(capped(id)._2, s"vec $id: uncapped keep must survive")
    }
  }

  test("oversizedVecBuckets surfaces the degenerate LSH bucket") {
    val v = Seq(0.6f, -0.2f, 0.7f, 0.1f)
    val df = embDf((0L until 600L).map(_ -> v))
    val over = Similarity.oversizedVecBuckets(df, nBands = 2,
      bitsPerBand = 4, dim = 4, maxBucket = 50).collect()
    assert(over.length == 2, "one all-members bucket per band")
    assert(over.forall(_.getAs[Long]("bsz") == 600L))
    assert(Similarity.oversizedVecBuckets(df, nBands = 2, bitsPerBand = 4,
      dim = 4).isEmpty, "the 2k default reports nothing here")
  }

  test("quantized index: build/query matches one-shot") {
    import org.apache.spark.storage.StorageLevel
    val rnd = new scala.util.Random(3)
    val df = embDf((0L until 40L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() - 0.5f)))
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Int]("rank"))).toSet
    // the one-shot form's index stays cached until its scope closes
    val oneShot = Using.resource(CacheScope.open())(_ =>
      key(Similarity.quantizedTopK(df, nQueries = 3, k = 5).collect()))
    val idx = Similarity.buildQuantizedIndex(df)
    assert(idx.df.storageLevel != StorageLevel.NONE, "index is persisted")
    assert(key(Similarity.quantizedTopK(idx, 3, 5).collect()) == oneShot)
  }

  test("dupSpans finds shared k-token runs via gaps-and-islands") {
    // docs 0 and 1 share the 6-token passage "p q r s t u": with k=3
    // that is 4 consecutive duplicated windows in each doc; context
    // windows straddling the passage boundary are unique and break the
    // run. Doc 2 is all-unique; doc 3 is shorter than k.
    val df = docsDf(Seq(
      (0L, "a b p q r s t u c", "s"), // 9 tokens, 7 windows, dup at 3-6
      (1L, "p q r s t u x y", "s"), // 8 tokens, 6 windows, dup at 1-4
      (2L, "completely different words here now", "s"),
      (3L, "xx yy", "s")))
    val res = TextOps.dupSpans(df, k = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup_windows"),
          r.getAs[Long]("longest_dup_run"), r.getAs[Double]("dup_frac"))))
      .toMap
    assert(res(0L) == ((7L, 4L, 4L, 4.0 / 7.0)))
    assert(res(1L) == ((6L, 4L, 4L, 4.0 / 6.0)))
    assert(res(2L) == ((3L, 0L, 0L, 0.0)))
    assert(res(3L) == ((0L, 0L, 0L, 0.0)))
  }

  test("dupSpans: an exact copy makes every window duplicated, frac 1.0") {
    val t = "one two three four five six"
    val df = docsDf(Seq((0L, t, "s"), (1L, t, "s")))
    TextOps.dupSpans(df, k = 3).collect().foreach { r =>
      assert(r.getAs[Long]("n_windows") == 4L)
      assert(r.getAs[Long]("n_dup_windows") == 4L)
      assert(r.getAs[Long]("longest_dup_run") == 4L)
      assert(r.getAs[Double]("dup_frac") == 1.0)
    }
  }

  test("dupSpans separates two disjoint duplicated runs in one doc") {
    // doc 0 shares "m n o" with doc 1 AND "x y z" with doc 2, with a
    // unique gap between: two islands of 1 window each, longest run 1
    val df = docsDf(Seq(
      (0L, "m n o gapword1 gapword2 x y z", "s"),
      (1L, "m n o other words", "s"),
      (2L, "x y z more words", "s")))
    val r0 = TextOps.dupSpans(df, k = 3).collect()
      .find(_.getAs[Long]("doc_id") == 0L).get
    assert(r0.getAs[Long]("n_dup_windows") == 2L)
    assert(r0.getAs[Long]("longest_dup_run") == 1L)
  }

  test("bigramLmScore: repeated transitions score high, garbled text low") {
    // corpus bigram counts: "a b" appears 3x (docs 0+1), c(a ·)=3, so
    // every "a b" transition has P=1.0; doc 2's transitions are all
    // unique among FIRST-word groups shared with nobody → each P is
    // 1/c(w1 ·) over its own occurrences only = 1.0 too... so make doc
    // 2 share first words with different continuations: "a x" vs "a b"
    val df = docsDf(Seq(
      (0L, "a b a b", "s"), // transitions: (a b)x2, (b a)x1
      (1L, "a b", "s"), // (a b)x1
      (2L, "a x", "s"), // (a x): P = 1/c(a ·) = 1/4
      (3L, "solo", "s"))) // < 2 tokens
    val res = TextOps.bigramLmScore(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("lm_score")))).toMap
    // c(a b)=3, c(a x)=1, c(a ·)=4; c(b a)=1, c(b ·)=1
    assert(res(0L)._1 == 3L)
    assert(res(0L)._2 == (3.0 / 4 + 3.0 / 4 + 1.0) / 3)
    assert(res(1L) == ((1L, 3.0 / 4)))
    assert(res(2L) == ((1L, 1.0 / 4)))
    assert(res(3L) == ((0L, 0.0)))
    assert(res(2L)._2 < res(1L)._2, "the rare transition scores lower")
  }

  private val dsirCorpus = docsDf(Seq(
    // target slice (doc_id % 10 == 0): the "alpha beta" domain
    (0L, "alpha beta alpha beta alpha", "s"),
    (10L, "alpha beta alpha beta", "s"),
    (20L, "beta alpha beta alpha", "s"),
    // raw docs: 1 and 3 target-like, 2 fully off-domain
    (1L, "alpha beta alpha", "s"),
    (2L, "gamma delta epsilon zeta", "s"),
    (3L, "alpha beta", "s")))

  test("dsirWeights: target-like raw docs outscore the off-domain one") {
    val res = TextOps.dsirWeights(dsirCorpus).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Double]("dsir_score")))).toMap
    // the target slice never appears in the output
    assert(res.keySet == Set(1L, 2L, 3L))
    // n_grams = unigrams + bigrams
    assert(res(1L)._1 == 5L) // 3 + 2
    assert(res(2L)._1 == 7L) // 4 + 3
    assert(res(3L)._1 == 3L) // 2 + 1
    // grams shared with the target push the likelihood ratio above the
    // never-in-target buckets' sub-1 smoothed ratio
    assert(res(1L)._2 > res(2L)._2)
    assert(res(3L)._2 > res(2L)._2)
  }

  test("dsirWeights ln route: the paper's log-weight keeps the ordering") {
    val res = TextOps.dsirWeights(dsirCorpus, lnWeights = true).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dsir_score"))
      .toMap
    assert(res(1L) > res(2L) && res(3L) > res(2L))
    // every gram of doc 2 has ct = 0 -> ratio < 1 -> each ln term < 0
    assert(res(2L) < 0.0)
  }

  test("dsirResample: deterministic thinning, max-weight doc always kept") {
    val res = Sampling.dsirResample(dsirCorpus).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("dsir_score"), r.getAs[Double]("u")))).toMap
    val weights = TextOps.dsirWeights(dsirCorpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dsir_score"))
      .toMap
    val wMax = weights.values.max
    // every kept row satisfies the rule; the argmax doc is kept (u < 1)
    res.foreach { case (id, (w, u)) =>
      assert(u >= 0.0 && u < 1.0)
      assert(u * wMax < w)
    }
    val argmax = weights.maxBy(_._2)._1
    assert(res.contains(argmax), "max-weight doc must always survive")
    // repeatable: a second run keeps the identical set
    val again = Sampling.dsirResample(dsirCorpus).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(again == res.keySet)
  }

  test("vocabCoverage: deterministic rank, exact cumulative shares") {
    val df = docsDf(Seq(
      (0L, "a a a b b c", "s"),
      (1L, "a b d", "s"),
      (2L, "a", "s")))
    // counts: a=5, b=3, c=1, d=1; total=10; minCount=2 keeps a, b
    val res = TextOps.vocabCoverage(df, topK = 10, minCount = 2)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[String]("tok"),
        r.getAs[Long]("c"), r.getAs[Long]("cum"),
        r.getAs[Double]("cum_frac")))
    assert(res.toSeq == Seq(
      (1L, "a", 5L, 5L, 0.5),
      (2L, "b", 3L, 8L, 0.8)))
  }

  test("vocabCoverage: count ties rank alphabetically, topK truncates") {
    val df = docsDf(Seq((0L, "z z y y x", "s")))
    val res = TextOps.vocabCoverage(df, topK = 1, minCount = 1)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[String]("tok")))
    // y and z tie at 2 — y wins alphabetically; topK=1 keeps only it
    assert(res.toSeq == Seq((1L, "y")))
  }

  test("temperatureResample: smallest domain keeps all, p_keep = sqrt ratio") {
    val rows = (0L until 16L).map(i => (i, s"text $i", "big")) ++
      (100L until 104L).map(i => (i, s"t $i", "small"))
    val res = Sampling.temperatureResample(docsDf(rows)).collect()
    val bySrc = res.groupBy(_.getAs[String]("source"))
    // small is the min domain: p_keep = 1.0, every doc kept
    assert(bySrc("small").forall(r =>
      r.getAs[Double]("p_keep") == 1.0 && r.getAs[Boolean]("kept")))
    // big: p_keep = sqrt(4/16) = 0.5 exactly; n_min/n_source recorded
    assert(bySrc("big").forall(r =>
      r.getAs[Double]("p_keep") == 0.5 &&
        r.getAs[Long]("n_source") == 16L && r.getAs[Long]("n_min") == 4L))
    // kept iff u < p_keep, and the acceptance set is run-stable
    assert(res.forall(r =>
      r.getAs[Boolean]("kept") == (r.getAs[Double]("u") < r.getAs[Double]("p_keep"))))
    val again = Sampling.temperatureResample(docsDf(rows)).collect()
      .filter(_.getAs[Boolean]("kept")).map(_.getAs[Long]("doc_id")).toSet
    assert(again == res.filter(_.getAs[Boolean]("kept"))
      .map(_.getAs[Long]("doc_id")).toSet)
  }

  test("sourceOverlap: exact pairwise Jaccard incl. a zero-overlap pair") {
    val df = docsDf(Seq(
      (0L, "a b c", "s1"), (1L, "b c d", "s1"),   // s1 vocab {a,b,c,d}
      (2L, "c d e", "s2"),                        // s2 vocab {c,d,e}
      (3L, "x y", "s3")))                         // s3 vocab {x,y}
    val res = TextOps.sourceOverlap(df).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Long]("n_inter"), r.getAs[Double]("jaccard")))).toMap
    assert(res.size == 3)
    assert(res(("s1", "s2")) == ((4L, 3L, 2L, 0.4)))       // {c,d} / 5
    assert(res(("s1", "s3")) == ((4L, 2L, 0L, 0.0)))
    assert(res(("s2", "s3")) == ((3L, 2L, 0L, 0.0)))
  }

  test("incrementalDedup: corpus hit, lower-id in-batch rule, short-doc pass") {
    val corpus = docsDf(Seq(
      (100L, "the quick brown fox jumps over the lazy dog", "s"),
      (101L, "completely different corpus material here today", "s")))
    val batch = docsDf(Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "s"), // = corpus 100
      (2L, "fresh unseen batch text alpha beta gamma", "s"),
      (3L, "fresh unseen batch text alpha beta gamma", "s"),    // = batch 2
      (4L, "another novel document with original words", "s"),
      (5L, "hi there", "s")))                                    // <3 tokens
    val res = Dedup.incrementalDedup(corpus, batch).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("dup_vs_corpus"), r.getAs[Boolean]("dup_in_batch"),
          r.getAs[Boolean]("keep")))).toMap
    assert(res.size == 5)
    assert(res(1L) == ((true, false, false)))
    assert(res(2L) == ((false, false, true)))  // lower id of the pair kept
    assert(res(3L) == ((false, true, false)))
    assert(res(4L) == ((false, false, true)))
    assert(res(5L) == ((false, false, true))) // no bands, never a dup
  }

  test("incrementalDedup ≡ gate against a parquet-round-tripped band index") {
    val corpus = docsDf(Seq(
      (100L, "the quick brown fox jumps over the lazy dog", "s"),
      (101L, "completely different corpus material here today", "s")))
    val batch = docsDf(Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "s"),
      (2L, "fresh unseen batch text alpha beta gamma", "s")))
    val dir = java.nio.file.Files
      .createTempDirectory("band_index").toString + "/idx.parquet"
    Dedup.bandKeyIndex(corpus).write.parquet(dir)
    val viaIndex = Dedup
      .incrementalDedupWithIndex(spark.read.parquet(dir), batch)
      .collect().map(_.toSeq).toSet
    val direct = Dedup.incrementalDedup(corpus, batch)
      .collect().map(_.toSeq).toSet
    assert(viaIndex == direct && viaIndex.nonEmpty)
  }

  test("pqQuery ≡ pqTopK, including through a saved/loaded index") {
    import org.apache.spark.sql.functions.col
    val embs = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "embeddings")
    val cents = Seq(100L, 150L, 200L, 250L, 300L, 350L, 400L, 450L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("adist"), r.getAs[Int]("rank"))).toSet
    val direct = rows(Similarity.pqTopK(embs, cents, nQueries = 5, k = 3))
    val queries = embs.filter(col("vec_id") < 5)
    val built = Similarity.buildPqIndex(embs, cents)
    assert(rows(Similarity.pqQuery(built, queries, k = 3)) == direct)
    val dir = java.nio.file.Files
      .createTempDirectory("pq_index").toString
    Similarity.savePqIndex(built, dir)
    val loaded = Similarity.loadPqIndex(spark, dir)
    assert(loaded.dim == 64 && loaded.codebook == built.codebook)
    assert(rows(Similarity.pqQuery(loaded, queries, k = 3)) == direct)
  }

  test("lshRecallAudit: identical pair hits decile 9, disjoint pairs miss") {
    val df = docsDf(Seq(
      (0L, "w1 w2 w3 w4 w5 w6", "s"),
      (1L, "w1 w2 w3 w4 w5 w6", "s"),    // J(0,1) = 1 and a sure candidate
      (2L, "z1 z2 z3 z4", "s"),          // J vs 0/1 = 0, no collision
      (3L, "a b", "s")))                 // no shingles — excluded
    val out = Dedup.lshRecallAudit(df, sampleMod = 1).collect()
      .map(r => r.getAs[Int]("j_bucket") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_cand"),
          r.getAs[Double]("hit_rate")))).toMap
    assert(out.size == 2)
    assert(out(9) == ((1L, 1L, 1.0)))
    assert(out(0) == ((2L, 0L, 0.0)))
  }

  test("corpusDrift: hand-computed chi-square, count-then-token ranking") {
    val a = docsDf(Seq((0L, "a a a b", "s")))
    val b = docsDf(Seq((1L, "a b b b", "s")))
    val out = TextOps.corpusDrift(a, b, topK = 10, minCount = 1L).collect()
      .map(r => r.getAs[String]("tok") ->
        ((r.getAs[Long]("rank"), r.getAs[Long]("c_a"), r.getAs[Long]("c_b"),
          r.getAs[Double]("chi2")))).toMap
    // e_a = e_b = 2 for both tokens; chi2 = 1/2 + 1/2 = 1 exactly
    assert(out.size == 2)
    assert(out("a") == ((1L, 3L, 1L, 1.0)))  // tie on count → token asc
    assert(out("b") == ((2L, 1L, 3L, 1.0)))
  }

  test("communityQuality matches a driver-side recomputation on sf0.001") {
    // ground truth rebuilt from the SAME graph: union-find over the
    // strong (cos >= tau) edges, then modularity/conductance from
    // integer tallies over the FULL ranked edge set in the identical
    // double arithmetic — exact equality expected, bit for bit
    val tau = 0.3
    val embs = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "embeddings")
    val g = Similarity.knnGraph(embs, k = 5, nBands = 4, bitsPerBand = 8)
    val ua = g.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("cos"))
      .groupBy(col("a"), col("b")).agg(max(col("cos")).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val nodes = embs.select(col("vec_id")).collect().map(_.getLong(0))
    val idx = nodes.sorted.zipWithIndex.toMap
    val parent = Array.tabulate(nodes.length)(identity)
    def find(x: Int): Int = if (parent(x) == x) x
      else { parent(x) = find(parent(x)); parent(x) }
    ua.filter(_._3 >= tau).foreach { case (a, b, _) =>
      val (ra, rb) = (find(idx(a)), find(idx(b)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val rev = idx.map(_.swap)
    val commOf = nodes.map(n => n -> rev(find(idx(n)))).toMap
      .map { case (n, rootIdxId) => n -> rootIdxId }
    // min-id label per component: rootIdxId is the min because idx is
    // ordered by id and union always roots at the smaller index
    val m = ua.length.toLong
    val size = commOf.values.groupBy(identity).map { case (c, v) => c -> v.size.toLong }
    val internal = ua.filter { case (a, b, _) => commOf(a) == commOf(b) }
      .groupBy { case (a, _, _) => commOf(a) }
      .map { case (c, v) => c -> v.size.toLong }
    val cut = ua.filter { case (a, b, _) => commOf(a) != commOf(b) }
      .flatMap { case (a, b, _) => Seq(commOf(a), commOf(b)) }
      .groupBy(identity).map { case (c, v) => c -> v.size.toLong }
    val out = Similarity.communityQuality(embs, minCos = tau, k = 5,
      nBands = 4, bitsPerBand = 8).collect()
    assert(out.length == size.size)
    assert(out.map(_.getAs[Double]("modularity")).sum <= 1.0 + 1e-12)
    out.foreach { r =>
      val c = r.getAs[Long]("community_id")
      val ni = internal.getOrElse(c, 0L)
      val nc = cut.getOrElse(c, 0L)
      val vol = 2L * ni + nc
      assert(r.getAs[Long]("community_size") == size(c), s"size $c")
      assert(r.getAs[Long]("n_internal") == ni, s"internal $c")
      assert(r.getAs[Long]("n_cut") == nc, s"cut $c")
      assert(r.getAs[Long]("volume") == vol, s"volume $c")
      val mD = m.toDouble
      val expMod = if (m > 0) ni.toDouble / mD -
        (vol.toDouble / (2.0 * mD)) * (vol.toDouble / (2.0 * mD)) else 0.0
      val minSide = math.min(vol.toDouble, 2.0 * mD - vol.toDouble)
      val expCond = if (minSide > 0) nc.toDouble / minSide else 0.0
      assert(r.getAs[Double]("modularity") == expMod, s"modularity $c")
      assert(r.getAs[Double]("conductance") == expCond, s"conductance $c")
      val cond = r.getAs[Double]("conductance")
      assert(cond >= 0.0 && cond <= 1.0, s"conductance range $c")
    }
    // the fixture must actually exercise both edge classes
    assert(out.map(_.getAs[Long]("n_internal")).sum > 0)
    assert(out.map(_.getAs[Long]("n_cut")).sum > 0,
      "tau must leave some weak cross-community edges")
  }

  test("curationFunnel: sequential attrition consistent with the gates") {
    val docs = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "documents")
    val rows = Pipeline.curationFunnel(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    assert(rows.map(_._2).toSeq ==
      Seq("quality_gate", "near_dedup", "eval_decontam", "domain_cap"))
    assert(rows.head._3 == 500L, "stage 1 n_in = corpus size")
    rows.foreach { case (_, st, nIn, nOut, nDrop) =>
      assert(nDrop == nIn - nOut && nOut <= nIn && nOut >= 0, st)
    }
    // chained: stage k's n_in is stage k-1's n_out
    rows.sliding(2).foreach { case Array(a, b) => assert(b._3 == a._4) }
    // independent cross-checks of the endpoints
    val nQuality = TextOps.qualityGate(docs).filter(col("keep")).count()
    assert(rows(0)._4 == nQuality)
    assert(rows(3)._4 > 0, "some docs must survive the whole funnel")
  }

  test("budgetSelect equals the global greedy rule incl. boundary bucket") {
    // real corpus slice so scores spread across buckets AND collide
    // within one (the boundary-refinement path must actually run for
    // most fractions); ground truth = driver-side global greedy
    val docs = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "documents")
    val rows = TextOps.qualityScore(docs)
      .select(col("doc_id"), col("quality_score"))
      .join(docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("nt")), Seq("doc_id"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    for (frac <- Seq(0.0, 0.25, 0.5, 0.9, 1.0)) {
      val total = rows.map(_._3).sum
      val budget = math.floor(frac * total).toLong
      val ordered = rows.sortBy { case (id, sc, _) => (-sc, id) }
      var acc = 0L
      val expect = ordered.map { case (id, _, nt) =>
        val kept = acc < budget; acc += nt; id -> kept
      }.toMap
      val out = Sampling.budgetSelect(docs, budgetFrac = frac,
        nBuckets = 64).collect()
        .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
      assert(out.size == rows.length, s"frac=$frac")
      rows.foreach { case (id, _, _) =>
        assert(out(id) == expect(id), s"frac=$frac doc=$id")
      }
    }
  }

  test("tokenShards equals the global first-fit packing, shards balanced") {
    val docs = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "documents")
    val out = Sampling.tokenShards(docs, shardTokens = 512L,
      nBuckets = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // driver ground truth: global hash-order first-fit
    val ordered = out.sortBy { case (id, u, _, _) => (u, id) }
    var acc = 0L
    ordered.foreach { case (id, _, nt, shard) =>
      assert(shard == acc / 512L,
        s"doc $id: shard $shard != ${acc / 512L}")
      acc += nt
    }
    // balance property: through the end of every non-final shard s the
    // cumulative token count reaches (s+1)·shardTokens — each shard is
    // "full" once its boundary doc is counted
    val byShard = ordered.groupBy(_._4).toSeq.sortBy(_._1)
    var cum = 0L
    byShard.init.foreach { case (s, ds) =>
      cum += ds.map(_._3).sum
      assert(cum >= (s + 1) * 512L, s"shard $s under-full: cum=$cum")
    }
    assert(byShard.size >= 5, s"expected several shards, got ${byShard.size}")
  }

  test("clusterSafeSplit: no near-dup pair straddles a split boundary") {
    // dup-heavy corpus (sliding-window texts chain into multi-doc
    // clusters — the same fixture as the CC ground-truth test); the
    // x53-style audit over the cluster-keyed split must find ZERO
    // cross-split candidate pairs, while the doc-keyed split (x17's)
    // demonstrably leaks on the same corpus
    // 10 DISJOINT chained groups (docs 10g..10g+9 share sliding-window
    // vocabulary within the group only) → 10 multi-doc clusters, so the
    // cluster-keyed hash actually spreads over several splits
    val df = docsDf((0 until 100).map { i =>
      val g = i / 10
      val words = (0 until 40).map(j => s"g${g}tok$j")
      (i.toLong, words.slice(i % 10, i % 10 + 20).mkString(" "), "s")
    })
    val split = Sampling.clusterSafeSplit(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(split.size == 100)
    val pairs = Dedup.candidatePairs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(split(a)._2 == split(b)._2,
        s"near-dup pair ($a,$b) must share a split")
      assert(split(a)._1 == split(b)._1)
    }
    // same-cluster docs share the split by construction; the doc-keyed
    // split leaks on this corpus (sanity that the fixture is hard)
    val docKeyed = df.select(col("doc_id"),
      Sampling.hashSplit(col("doc_id"), "split").as("s")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pairs.exists { case (a, b) => docKeyed(a) != docKeyed(b) },
      "fixture should make the naive doc-keyed split leak")
    // all three splits occupied across clusters (hash spread sanity)
    assert(split.values.map(_._2).toSet.size >= 2)
  }

  test("assignToCommunities: adopt best match's community, found new ones") {
    // corpus: two tight pairs (near-identical directions) → two
    // communities {0,1} and {2,3}; batch: 10 ≈ copy of 0 (adopts
    // community 0), 11 ≈ copy of 2 (adopts community 2), 12 orthogonal
    // to everything (new singleton). 2-dim vectors, 1-bit bands so
    // half-space buckets collide broadly.
    val corpus = embDf(Seq(
      (0L, Seq(1f, 0.05f)), (1L, Seq(1f, 0.06f)),
      (2L, Seq(0.05f, 1f)), (3L, Seq(0.06f, 1f))))
    val comms = Similarity.knnCommunities(corpus, minCos = 0.9, k = 2,
      nBands = 4, bitsPerBand = 1, dim = 2)
      .select(col("vec_id"), col("community_id"))
    val cm = comms.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cm(0L) == 0L && cm(1L) == 0L && cm(2L) == 2L && cm(3L) == 2L)
    val batch = embDf(Seq(
      (10L, Seq(1f, 0.04f)), (11L, Seq(0.04f, 1f)),
      (12L, Seq(-1f, 1f))))
    val out = Similarity.assignToCommunities(corpus, comms, batch,
      minCos = 0.9, nBands = 4, bitsPerBand = 1, dim = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        r.getBoolean(4)))).toMap
    assert(out(10L)._1 == 0L && !out(10L)._3, s"$out")
    assert(out(11L)._1 == 2L && !out(11L)._3, s"$out")
    assert(out(12L) == ((12L, None, true)),
      s"orthogonal vector must found a new community: $out")
    // the adopted match must be the HIGHEST-cosine corpus neighbor
    assert(out(10L)._2.contains(0L) || out(10L)._2.contains(1L))
  }

  test("communityQualityWith(stored artifacts) equals the one-shot form") {
    val embs = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "embeddings")
    val oneShot = Similarity.communityQuality(embs, minCos = 0.3, k = 5,
      nBands = 4, bitsPerBand = 8).collect()
      .map(r => r.toSeq.toList).toSet
    // the stored artifacts a deployment would materialize
    val g = Similarity.knnGraph(embs, k = 5, nBands = 4, bitsPerBand = 8)
    val ua = g.select(least(col("src"), col("dst")).as("doc_a"),
        greatest(col("src"), col("dst")).as("doc_b"), col("cos"))
      .groupBy(col("doc_a"), col("doc_b")).agg(max(col("cos")).as("cos"))
    val comms = Similarity.knnCommunities(embs, minCos = 0.3, k = 5,
      nBands = 4, bitsPerBand = 8)
    val stored = Similarity.communityQualityWith(
      ua.select(col("doc_a"), col("doc_b")),
      comms.select(col("vec_id"), col("community_id"))).collect()
      .map(r => r.toSeq.toList).toSet
    assert(stored == oneShot)
  }

  test("graphRefreshCycleWith(stored artifacts) equals the in-query build") {
    val docs = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "documents")
    val embs = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "embeddings")
    val newDocs = docs.filter(col("doc_id") % 7 =!= 3)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, upper(col("text")))
          .otherwise(col("text")))
    val oneShot = graft.llm.Similarity.graphRefreshCycle(docs, newDocs,
        embs, minCos = 0.3, k = 5, nBands = 4, bitsPerBand = 8)
      .collect().map(_.toSeq.toList).toSet
    // the stored artifacts a deployment materializes at full rebuild
    val changed = graft.llm.Dedup.snapshotDiff(docs, newDocs)
      .filter(col("status") === "changed")
      .select(col("doc_id").as("vec_id"))
    val corpus = embs.join(changed, Seq("vec_id"), "left_anti")
    val batch = embs.join(changed, Seq("vec_id"), "left_semi")
    val g = Similarity.knnGraph(corpus, k = 5, nBands = 4, bitsPerBand = 8)
    val ua = g.select(least(col("src"), col("dst")).as("doc_a"),
        greatest(col("src"), col("dst")).as("doc_b"))
      .distinct()
    val comms = Similarity.knnCommunities(corpus, minCos = 0.3, k = 5,
        nBands = 4, bitsPerBand = 8)
      .select(col("vec_id"), col("community_id"))
    val stored = Similarity.graphRefreshCycleWith(corpus, batch, ua,
        comms, minCos = 0.3, nBands = 4, bitsPerBand = 8)
      .collect().map(_.toSeq.toList).toSet
    assert(stored == oneShot && oneShot.nonEmpty)
  }

  test("corpusDrift: an empty incoming slice yields finite chi2, no crash") {
    // the r10 st16 sf0.1 failure: n_b = 0 makes e_b = 0 for every row
    // and the unguarded d²/e threw ANSI DIVIDE_BY_ZERO. The guarded
    // contribution is 0 (c_b = 0 → d_b = 0 → 0²/0 ≡ 0 by convention),
    // so drift reduces to the reference side's own deviation — which is
    // also 0 when the reference equals the pooled total: chi2 = 0.
    val a = docsDf(Seq((0L, "a a a b", "s"), (2L, "a b c", "s")))
    val b = a.filter(col("doc_id") < 0L) // empty slice, same schema
    val out = TextOps.corpusDrift(a, b, topK = 10, minCount = 1L).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val chi2 = r.getAs[Double]("chi2")
      assert(!chi2.isNaN && !chi2.isInfinite && chi2 == 0.0,
        s"empty slice must contribute zero drift: $r")
      assert(r.getAs[Long]("c_b") == 0L)
    }
  }

  test("embeddingDrift: an empty slice yields finite chi2, no crash") {
    val df = embDf(Seq(
      (0L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (4L, Seq(0.8f, 0.2f))))
    // isA always true → slice B globally empty → e_b = 0 everywhere
    val out = Similarity.embeddingDrift(df, Seq(0L), isA = lit(true))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val chi2 = r.getAs[Double]("chi2")
      assert(!chi2.isNaN && !chi2.isInfinite && chi2 == 0.0, s"$r")
    }
  }

  test("embeddingDrift: hand-computed cluster-occupancy chi-square") {
    val df = embDf(Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)),        // the two centroids
      (2L, Seq(0.9f, 0.1f)), (4L, Seq(0.8f, 0.2f)), // cluster 0, slice A
      (5L, Seq(0.7f, 0.3f)),                        // cluster 0, slice B
      (3L, Seq(0.1f, 0.9f))))                       // cluster 1, slice B
    val out = Similarity.embeddingDrift(df, Seq(0L, 1L)).collect()
      .map(r => r.getAs[Long]("cluster") ->
        ((r.getAs[Long]("c_a"), r.getAs[Long]("c_b"),
          r.getAs[Double]("chi2")))).toMap
    assert(out.size == 2)
    // cluster 0: {0,2,4 | 5}: e=2 each → 1/2 + 1/2; cluster 1: {∅ | 1,3}
    assert(out(0L) == ((3L, 1L, 1.0)))
    assert(out(1L) == ((0L, 2L, 2.0)))
  }

  /** independent md5 reference for Sampling.hashSplit (seed "split") */
  private def splitOf(id: Long): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"split:$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val u = java.lang.Long.parseLong(hex.substring(0, 8), 16)
    if (u < math.floor(0.8 * 4294967296.0).toLong) "train"
    else if (u < math.floor(0.9 * 4294967296.0).toLong) "val"
    else "test"
  }

  test("splitLeakage: exactly the cross-split near-dup pairs surface") {
    // 0, 1 → train; 10 → test; 31 → val (independent reference below)
    val ids = Seq(0L, 1L, 10L, 31L)
    assert(ids.map(splitOf).toSet.size == 3)
    val df = docsDf(
      ids.map(i => (i, "shared leaking passage one two three four", "s")) :+
        (2L, "entirely different innocent content here", "s"))
    val out = Dedup.splitLeakage(df).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[String]("split_a"), r.getAs[String]("split_b"))).toSet
    val expected = (for {
      a <- ids; b <- ids if a < b && splitOf(a) != splitOf(b)
    } yield (a, b, splitOf(a), splitOf(b))).toSet
    assert(expected.size == 5) // (0,1) train-train stays out
    assert(out == expected)
  }

  test("pipeline manifest equals the manual composition of its gates") {
    val rnd = new scala.util.Random(7)
    val rows = (0L until 80L).map { i =>
      val words = Seq.fill(5 + rnd.nextInt(10))(s"w${rnd.nextInt(20)}")
      (i, words.mkString(" "), s"src${i % 3}")
    }
    val df = docsDf(rows)
    val keptIds = Sampling.domainCap(df)
      .filter(col("kept")).collect().map(_.getAs[Long]("doc_id")).toSet
    val cleanIds = Dedup.fuzzyDecontam(df)
      .filter(!col("contaminated")).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val splits = Sampling.splitAndSample(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val expected = rows
      .filter { case (id, _, _) => keptIds(id) && cleanIds(id) }
      .groupBy { case (id, _, src) => (src, splits(id)) }
      .map { case ((src, sp), xs) =>
        (src, sp) -> ((xs.size.toLong,
          xs.map(_._2.split(" ").length.toLong).sum,
          xs.map(_._2.length.toLong).sum)) }
    val got = Pipeline.manifest(df).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("split")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_chars")))).toMap
    assert(got == expected)
    assert(got.nonEmpty && !got.keys.exists { case (_, sp) =>
      !Set("train", "val", "test")(sp) })
  }

  private def semKey(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
    r.getAs[Long]("vec_id") -> ((r.getAs[Long]("cluster"),
      r.getAs[Long]("n_close"), r.getAs[Boolean]("keep")))).toMap

  test("semDedupRefined (atScale) matches the exact-kmeans composition") {
    // two tight groups + an in-group near-dup; inits deliberately poor
    // (both from group A) so the refinement has real work: Lloyd pulls
    // one centroid onto group B, and only the REFINED assignment puts
    // 10/11 in their own cluster
    val df = embDf(Seq(
      0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(0.98f, 0.02f, 0f, 0f),
      2L -> Seq(0.97f, 0f, 0.03f, 0f),
      10L -> Seq(0f, 1f, 0f, 0f), 11L -> Seq(0f, 0.99f, 0.01f, 0f)))
    val inits = Seq(0L, 1L)
    val exact = semKey(Similarity.semDedupRefinedExact(df, inits,
      iters = 3, tau = 0.9).collect())
    val scaled = semKey(Similarity.semDedupRefined(df, inits, tau = 0.9,
      maxIters = 3).collect())
    assert(scaled == exact, "partial-agg means land in the same clusters")
    // the refinement separated the groups: 10's cluster differs from 0's
    assert(exact(10L)._1 != exact(0L)._1)
    // in-group near-dups dropped, exemplars kept
    assert(exact(0L)._3 && exact(10L)._3 && !exact(11L)._3)
  }

  test("sem index: build/reuse at two taus matches one-shots") {
    import org.apache.spark.storage.StorageLevel
    val rnd = new scala.util.Random(11)
    val df = embDf((0L until 30L).map(i =>
      i -> Seq.fill(6)(rnd.nextFloat() - 0.5f)))
    val inits = Seq(0L, 7L, 14L)
    def oneShot(tau: Double) = Using.resource(CacheScope.open())(_ =>
      semKey(Similarity.semDedup(df, inits, tau = tau).collect()))
    val (strict, loose) = (oneShot(0.95), oneShot(0.5))
    val e = df.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("v"))
    val cents = e.filter(col("vec_id").isin(inits: _*))
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val idx = Similarity.buildSemIndex(df, cents)
    assert(idx.assigned.storageLevel != StorageLevel.NONE)
    assert(semKey(Similarity.semDedup(idx, 0.95,
      Dedup.MaxBucket).collect()) == strict)
    assert(semKey(Similarity.semDedup(idx, 0.5,
      Dedup.MaxBucket).collect()) == loose)
  }

  test("vec band index: build/query matches one-shot") {
    import org.apache.spark.storage.StorageLevel
    val rnd = new scala.util.Random(5)
    val df = embDf((0L until 60L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() - 0.5f)))
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val oneShot = key(Similarity.lshNearDup(df, minCos = 0.2, nBands = 2,
      bitsPerBand = 4, dim = 8).collect())
    val idx = Similarity.buildVecBandIndex(df, nBands = 2, bitsPerBand = 4,
      dim = 8)
    assert(idx.vecs.storageLevel != StorageLevel.NONE)
    assert(idx.buckets.storageLevel != StorageLevel.NONE)
    assert(key(Similarity.lshNearDup(idx, 0.2,
      Dedup.MaxBucket).collect()) == oneShot)
  }

  test("embIngestGate flags only batch vectors with a close corpus neighbor") {
    val corpus = embDf(Seq(
      0L -> Seq(1f, 0f, 0f, 0f), 2L -> Seq(0f, 1f, 0f, 0f)))
    val batch = embDf(Seq(
      10L -> Seq(0.999f, 0.001f, 0f, 0f), // near-dup of corpus 0
      11L -> Seq(0f, 0f, 1f, 0f))) // orthogonal to everything
    val out = Similarity.embIngestGate(corpus, batch, minCos = 0.9,
      nBands = 2, bitsPerBand = 4, dim = 4).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("corpus_id"),
        r.getAs[Double]("cos")))
    assert(out.map(t => (t._1, t._2)).toSet == Set((10L, 0L)))
    assert(out.head._3 > 0.99)
  }

  test("epochSchedule: sqrt-temperature weights, budget split, epoch cap") {
    // big: 12 tokens across 2 docs; small: 3 tokens in 1 doc — the
    // imbalance makes the √-flattened schedule want > maxEpochs of the
    // small source, so the cap binds exactly there
    val df = docsDf(Seq(
      (0L, "a b c d e f", "big"), (1L, "g h i j k l", "big"),
      (2L, "m n o", "small")))
    val out = Pipeline.epochSchedule(df, budgetMult = 2.0, maxEpochs = 4.0)
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Double]("weight"), r.getAs[Double]("epochs"),
          r.getAs[Double]("tokens_served"), r.getAs[Boolean]("capped"))))
      .toMap
    val z = math.sqrt(3.0) + math.sqrt(12.0) // sorted ascending fold
    val wBig = math.sqrt(12.0) / z
    val wSmall = math.sqrt(3.0) / z
    assert(out("big") == ((2L, 12L, wBig,
      2.0 * 15.0 * wBig / 12.0, 2.0 * 15.0 * wBig / 12.0 * 12.0,
      false)))
    // small source: raw epochs = 30·w/3 = 10·w ≈ 3.66 < 4 — uncapped
    assert(!out("small")._6 && out("small")._4 < 4.0)
    // weights sum to 1 within one ulp-ish tolerance
    assert(math.abs(out.values.map(_._3).sum - 1.0) < 1e-12)
    // with a bigger budget the small source hits the cap
    val capped = Pipeline.epochSchedule(df, budgetMult = 3.0)
      .collect().map(r => r.getAs[String]("source") ->
        r.getAs[Boolean]("capped")).toMap
    assert(capped("small") && !capped("big"))
  }

  /** driver ground truth for [[Sampling.refineBoundary]]: global greedy
    * prefix over (score desc, doc_id asc), kept iff tokens-before <
    * budget
    */
  private def greedyExpect(rows: Seq[(Long, Double, Long)],
      budget: Long): Map[Long, Boolean] = {
    var acc = 0L
    rows.sortBy { case (id, sc, _) => (-sc, id) }.map {
      case (id, _, nt) => val kept = acc < budget; acc += nt; id -> kept
    }.toMap
  }

  test("refineBoundary: continuous scores — collects bounded ≤ 2·nBuckets," +
      " greedy-exact") {
    val s = spark
    import s.implicits._
    // every score distinct (golden-ratio low-discrepancy sequence): the
    // r11 scale edge — the old exact-value level-2 collect would pull
    // ~n rows to the driver here
    val n = 20000
    val rows = (0 until n).map { i =>
      (i.toLong, (i * 0.6180339887498949) % 1.0, 1L + i % 7)
    }
    val budget = rows.map(_._3).sum / 2
    val nBuckets = 64
    val collects = scala.collection.mutable.ListBuffer[(String, Int)]()
    val out = Sampling.refineBoundary(
        rows.toDF("doc_id", "quality_score", "n_tokens"), 0L, budget,
        nBuckets, lo = 0.0, hi = 1.0, maxId = (n - 1).toLong,
        (k, c) => collects += k -> c)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out.size == n)
    val expect = greedyExpect(rows, budget)
    rows.foreach { case (id, _, _) => assert(out(id) == expect(id), id) }
    // the r11 verdict's bound: EVERY driver collect ≤ 2·nBuckets+1 rows
    assert(collects.nonEmpty)
    collects.foreach { case (kind, c) =>
      assert(c <= 2 * nBuckets + 1, s"$kind collected $c > ${2 * nBuckets + 1}")
    }
    // continuous scores must have taken at least one subdivide level
    assert(collects.exists(_._1 == "subdivide"))
  }

  test("refineBoundary: clamp atom hiding in a continuous cell isolates") {
    val s = spark
    import s.implicits._
    // half the corpus massed at one exact score (the least(1.0,…) clamp
    // shape), half continuous — the mix neither pure path handles: the
    // atom must isolate into its own sub-range and exit via the exact
    // (score × id-range) path
    val n = 8000
    val atomScore = 0.5
    val rows = (0 until n).map { i =>
      val sc = if (i % 2 == 0) atomScore
        else (i * 0.6180339887498949) % 1.0
      (i.toLong, sc, 1L + i % 5)
    }
    // half the total tokens: ~a quarter sits above the atom, so the
    // greedy cut lands INSIDE the massed score — the recursion must
    // reach and split the atom, not skip it wholesale
    val budget = rows.map(_._3).sum / 2
    val nBuckets = 64
    val collects = scala.collection.mutable.ListBuffer[(String, Int)]()
    val out = Sampling.refineBoundary(
        rows.toDF("doc_id", "quality_score", "n_tokens"), 0L, budget,
        nBuckets, lo = 0.0, hi = 1.0, maxId = (n - 1).toLong,
        (k, c) => collects += k -> c)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out.size == n)
    val expect = greedyExpect(rows, budget)
    rows.foreach { case (id, _, _) => assert(out(id) == expect(id), id) }
    collects.foreach { case (kind, c) =>
      assert(c <= 2 * nBuckets + 1, s"$kind collected $c > ${2 * nBuckets + 1}")
    }
  }

  test("clusterLabels equals clustersFromPairs minus the size column") {
    val s = spark
    import s.implicits._
    val ids = (0L to 9L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L), (6L, 5L), (3L, 3L))
      .toDF("doc_a", "doc_b")
    val full = Dedup.clustersFromPairs(ids, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val labels = Dedup.clusterLabels(ids, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labels == full)
    assert(Dedup.clusterLabels(ids, pairs).columns.toSeq ==
      Seq("doc_id", "cluster_id"))
  }
}
