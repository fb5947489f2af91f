package graft.llm

import scala.util.Random

import graft.SparkSpec

/** seeded property tests for the round-7 pipeline ops — randomized
  * corpora with FIXED seeds, so failures reproduce exactly.
  */
class PipelinePropsSpec extends SparkSpec {

  private def randCorpus(seed: Long, nDocs: Int, vocab: Int,
      maxLen: Int): Seq[(Long, String, String)] = {
    val rnd = new Random(seed)
    (0 until nDocs).map { i =>
      val n = 1 + rnd.nextInt(maxLen)
      val words = Seq.fill(n)(s"w${rnd.nextInt(vocab)}")
      (i.toLong, words.mkString(" "), s"src${rnd.nextInt(4)}")
    }
  }

  private def docsDf(rows: Seq[(Long, String, String)]) = {
    val s = spark
    import s.implicits._
    rows.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("segmentDedup with an unreachable df threshold is the identity " +
      "on full segments") {
    val rows = randCorpus(seed = 41, nDocs = 40, vocab = 30, maxLen = 25)
    val df = docsDf(rows)
    val out = TextOps.segmentDedup(df, k = 3, minDf = 1000).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_removed"), r.getAs[String]("cleaned")))).toMap
    rows.foreach { case (id, text, _) =>
      val toks = text.split(" ")
      val full = toks.take(toks.length / 3 * 3).mkString(" ")
      assert(out(id) == ((0L, full)),
        s"doc $id must keep every full segment in order")
    }
  }

  test("segmentDedup removal counts are consistent with corpus-wide dfs") {
    val rows = randCorpus(seed = 42, nDocs = 60, vocab = 8, maxLen = 15)
    val df = docsDf(rows)
    // tiny vocab -> many repeated 3-grams; recompute dfs in plain Scala
    val segsByDoc = rows.map { case (id, text, _) =>
      val toks = text.split(" ")
      id -> (0 until toks.length / 3).map(i =>
        toks.slice(i * 3, i * 3 + 3).mkString(" "))
    }.toMap
    val dfCount = segsByDoc.toSeq
      .flatMap { case (id, segs) => segs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (s, xs) => s -> xs.size }
    val out = TextOps.segmentDedup(df, k = 3, minDf = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_segs"), r.getAs[Long]("n_removed"),
          r.getAs[String]("cleaned")))).toMap
    segsByDoc.foreach { case (id, segs) =>
      val kept = segs.filter(s => dfCount(s) < 3)
      val removed = segs.size - kept.size
      assert(out(id) == ((segs.size.toLong, removed.toLong,
        kept.mkString(" "))), s"doc $id mismatch")
    }
  }

  test("cmsHeavyHitters: est >= exact on a randomized corpus and the " +
      "estimate sum per row is conserved") {
    val rows = randCorpus(seed = 43, nDocs = 50, vocab = 200, maxLen = 40)
    val df = docsDf(rows)
    val out = Sketches.cmsHeavyHitters(df).collect()
    val nTotal = rows.map(_._2.split(" ").length.toLong).sum
    assert(out.length == rows.flatMap(_._2.split(" ")).distinct.size)
    out.foreach { r =>
      assert(r.getAs[Long]("est") >= r.getAs[Long]("true_cnt"))
      assert(r.getAs[Long]("overcount") ==
        r.getAs[Long]("est") - r.getAs[Long]("true_cnt"))
      assert(r.getAs[Boolean]("heavy") ==
        (r.getAs[Long]("est") * 100 >= nTotal))
    }
  }

  test("domainCap: per-source kept set has exactly ceil(sqrt(n)) members " +
      "and ranks are a permutation") {
    val rows = randCorpus(seed = 44, nDocs = 120, vocab = 50, maxLen = 10)
    val out = Sampling.domainCap(docsDf(rows)).collect()
    out.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      val n = rs.length
      val cap = math.ceil(math.sqrt(n.toDouble)).toLong
      assert(rs.head.getAs[Long]("n_source") == n.toLong)
      assert(rs.count(_.getAs[Boolean]("kept")) == cap)
      assert(rs.map(_.getAs[Long]("rk")).sorted.toSeq ==
        (1L to n.toLong).toSeq)
      // kept rows are exactly ranks 1..cap
      assert(rs.filter(_.getAs[Boolean]("kept"))
        .map(_.getAs[Long]("rk")).sorted.toSeq == (1L to cap).toSeq)
    }
  }

  // plain-Scala Sennrich BPE: a second, independent implementation —
  // same overlap counting, (cnt desc, pair asc) winner order, and
  // greedy leftmost non-overlapping merge application
  private def refBpe(wordCounts: Map[String, Long], nMerges: Int)
      : Seq[(String, String, String, Long)] = {
    def applyMerge(syms: Vector[String], l: String, r: String,
        m: String): Vector[String] = {
      val b = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
          b += m; i += 2
        } else { b += syms(i); i += 1 }
      }
      b.result()
    }
    var dict: Map[Vector[String], Long] = wordCounts.map {
      case (w, c) => w.map(_.toString).toVector -> c
    }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, Long)]
    var done = false
    while (out.length < nMerges && !done) {
      val pairs = dict.toSeq.flatMap { case (syms, c) =>
        syms.zip(syms.tail).map(p => p -> c)
      }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
      val best = pairs.toSeq
        .sortBy { case ((l, r), c) => (-c, s"$l $r") }.headOption
      best match {
        case Some(((l, r), c)) if c >= 2L =>
          out += ((l, r, l + r, c))
          dict = dict.toSeq.map { case (syms, wc) =>
            applyMerge(syms, l, r, l + r) -> wc
          }.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
        case _ => done = true
      }
    }
    out.toSeq
  }

  test("bpeTrain matches an independent plain-Scala BPE on random corpora") {
    val rnd = new Random(45)
    for (trial <- 0 until 3) {
      val alpha = "abcd"
      val rows = (0 until 40).map { i =>
        val n = 1 + rnd.nextInt(8)
        val words = Seq.fill(n)(
          Seq.fill(1 + rnd.nextInt(5))(
            alpha(rnd.nextInt(alpha.length))).mkString)
        (i.toLong, words.mkString(" "), "s")
      }
      val wordCounts = rows.flatMap(_._2.split(" "))
        .groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
      val expected = refBpe(wordCounts, nMerges = 8)
      val got = Bpe.bpeTrain(docsDf(rows), nMerges = 8).collect()
        .sortBy(_.getAs[Long]("rank"))
        .map(r => (r.getAs[String]("left"), r.getAs[String]("right"),
          r.getAs[String]("merged"), r.getAs[Long]("cnt"))).toSeq
      assert(got == expected, s"trial $trial: merge tables diverge")
    }
  }

  test("temperatureResample: every column re-derivable from an " +
      "independent md5 + sqrt recomputation") {
    val rows = randCorpus(seed = 46, nDocs = 150, vocab = 40, maxLen = 8)
    val bySrc = rows.groupBy(_._3).map { case (s, xs) => s -> xs.size.toLong }
    val nMin = bySrc.values.min
    val mdig = java.security.MessageDigest.getInstance("MD5")
    def refU(id: Long): Double = {
      val h = mdig.digest(s"temp:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(h, 16).toDouble / 4294967296.0
    }
    val out = Sampling.temperatureResample(docsDf(rows)).collect()
    assert(out.length == rows.length)
    out.foreach { r =>
      val src = r.getAs[String]("source")
      val u = refU(r.getAs[Long]("doc_id"))
      val pKeep = math.sqrt(nMin.toDouble / bySrc(src).toDouble)
      assert(r.getAs[Long]("n_source") == bySrc(src))
      assert(r.getAs[Long]("n_min") == nMin)
      assert(r.getAs[Double]("p_keep") == pKeep)
      assert(r.getAs[Double]("u") == u)
      assert(r.getAs[Boolean]("kept") == (u < pKeep))
    }
  }

  test("domainCapAtScale is bitwise-identical to domainCap on random " +
      "corpora, at several shard counts") {
    val rows = randCorpus(seed = 52, nDocs = 200, vocab = 30, maxLen = 6)
    val df = docsDf(rows)
    val plain = Sampling.domainCap(df).collect()
      .map(_.toSeq).toSet
    Seq(2, 16, 256).foreach { shards =>
      val sharded = Sampling.domainCapAtScale(df, shards).collect()
        .map(_.toSeq).toSet
      assert(sharded == plain, s"shards=$shards")
    }
  }

  test("sourceOverlap matches an independent set-Jaccard on random corpora") {
    val rows = randCorpus(seed = 47, nDocs = 80, vocab = 25, maxLen = 12)
    val vocabBySrc = rows.groupBy(_._3)
      .map { case (s, xs) => s -> xs.flatMap(_._2.split(" ")).toSet }
    val out = TextOps.sourceOverlap(docsDf(rows)).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Long]("n_inter"), r.getAs[Double]("jaccard")))).toMap
    val srcs = vocabBySrc.keys.toSeq.sorted
    val expPairs = for (a <- srcs; b <- srcs if a < b) yield (a, b)
    assert(out.keySet == expPairs.toSet)
    expPairs.foreach { case (a, b) =>
      val (va, vb) = (vocabBySrc(a), vocabBySrc(b))
      val inter = (va & vb).size.toLong
      val j = inter.toDouble / (va.size + vb.size - inter).toDouble
      assert(out((a, b)) == ((va.size.toLong, vb.size.toLong, inter, j)))
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  test("tokenDiversity matches an independent count-based recomputation") {
    val rows = randCorpus(seed = 48, nDocs = 100, vocab = 12, maxLen = 20)
    val out = TextOps.tokenDiversity(docsDf(rows)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_types"),
          r.getAs[Double]("ttr"), r.getAs[Double]("simpson")))).toMap
    rows.foreach { case (id, text, _) =>
      val counts = text.split(" ").groupBy(identity).map(_._2.length.toLong)
      val n = counts.sum
      val sumsq = counts.map(c => c * c).sum
      val exp = (n, counts.size.toLong,
        counts.size.toLong.toDouble / n.toDouble,
        1.0 - sumsq.toDouble / (n * n).toDouble)
      assert(out(id) == exp, s"doc $id")
      assert(exp._4 >= 0.0 && exp._4 < 1.0)
    }
  }

  test("incrementalDedup invariants: exact cover of the batch, copied " +
      "text always flagged vs corpus, keep = neither flag") {
    val corpusRows = randCorpus(seed = 49, nDocs = 40, vocab = 20,
      maxLen = 15)
    val rnd = new Random(50)
    // half the batch copies corpus texts (re-keyed), half is fresh
    val batchRows = (0 until 20).map { i =>
      val id = 1000L + i
      if (i % 2 == 0) (id, corpusRows(rnd.nextInt(corpusRows.size))._2, "b")
      else (id, Seq.fill(5)(s"fresh${rnd.nextInt(50)}").mkString(" "), "b")
    }
    val res = Dedup.incrementalDedup(docsDf(corpusRows), docsDf(batchRows))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("dup_vs_corpus"), r.getAs[Boolean]("dup_in_batch"),
          r.getAs[Boolean]("keep")))).toMap
    assert(res.keySet == batchRows.map(_._1).toSet)
    batchRows.foreach { case (id, text, _) =>
      val (dvc, dib, keep) = res(id)
      assert(keep == (!dvc && !dib), s"doc $id")
      // an exact copy of a >=3-token corpus doc shares every band
      if (id % 2 == 0 && text.split(" ").length >= 3)
        assert(dvc, s"copied doc $id must flag vs corpus")
    }
  }

  test("corpusDrift: chi2 >= 0 and bitwise-symmetric under slice swap") {
    val rows = randCorpus(seed = 51, nDocs = 120, vocab = 15, maxLen = 10)
    val (a, b) = rows.partition(_._1 % 2 == 0)
    val fwd = TextOps.corpusDrift(docsDf(a), docsDf(b), topK = 50,
      minCount = 1L).collect()
      .map(r => r.getAs[String]("tok") ->
        ((r.getAs[Long]("rank"), r.getAs[Long]("c_a"), r.getAs[Long]("c_b"),
          r.getAs[Double]("chi2")))).toMap
    val rev = TextOps.corpusDrift(docsDf(b), docsDf(a), topK = 50,
      minCount = 1L).collect()
      .map(r => r.getAs[String]("tok") ->
        ((r.getAs[Long]("rank"), r.getAs[Long]("c_a"), r.getAs[Long]("c_b"),
          r.getAs[Double]("chi2")))).toMap
    assert(fwd.nonEmpty && fwd.keySet == rev.keySet)
    fwd.foreach { case (tok, (rank, ca, cb, chi2)) =>
      assert(chi2 >= 0.0, s"$tok")
      // swapped slices: counts swap, rank and chi2 identical (IEEE
      // addition is commutative; both expected values swap roles)
      assert(rev(tok) == ((rank, cb, ca, chi2)), s"$tok")
    }
  }
}
