package graft.llm

import graft.SparkSpec

/** BPE tokenizer training: hand-computed merge tables on tiny corpora,
  * greedy leftmost application semantics, regex-metachar safety, and
  * the encode/train equivalence (encoding the training corpus with the
  * learned merges reproduces the trainer's final symbol sequences).
  */
class BpeSpec extends SparkSpec {

  private def docsDf(rows: Seq[(Long, String, String)]) = {
    val s = spark
    import s.implicits._
    rows.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("bpeTrain: hand-computed merge table (Sennrich counts, overlaps)") {
    // words: aaab ×3 → "a a a b"; ab ×2 → "a b"
    // r1: (a,a) = 2·3 = 6 beats (a,b) = 3+2 = 5 → merge "aa"
    // r2: aaab is now "aa a b": (aa,a)=3, (a,b)=3+2=5 → merge "ab"
    // r3: aaab is "aa ab": (aa,ab)=3 → merge "aaab"
    val df = docsDf(Seq(
      (0L, "aaab aaab ab", "s"), (1L, "aaab ab", "s")))
    val m = Bpe.bpeTrain(df, nMerges = 3).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("left"),
        r.getAs[String]("right"), r.getAs[String]("merged"),
        r.getAs[Long]("cnt"))).sortBy(_._1)
    assert(m.toSeq == Seq(
      (1L, "a", "a", "aa", 6L),
      (2L, "a", "b", "ab", 5L),
      (3L, "aa", "ab", "aaab", 3L)))
  }

  test("bpeTrain: greedy leftmost — a run of four merges to two pairs") {
    // "aaaa" ×2 → r1 (a,a) cnt 6 (overlapping count: 3 per word × 2);
    // after the merge the seq must be "aa aa", NOT "aa a a" (the
    // boundary space is shared between back-to-back occurrences)
    val df = docsDf(Seq((0L, "aaaa aaaa", "s")))
    val m1 = Bpe.bpeTrain(df, nMerges = 2).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("merged"),
        r.getAs[Long]("cnt"))).sortBy(_._1)
    // r1: (a,a)=6 → "aa"; r2 over "aa aa": (aa,aa)=2 → "aaaa"
    assert(m1.toSeq == Seq((1L, "aa", 6L), (2L, "aaaa", 2L)))
  }

  test("bpeTrain: regex metacharacters in symbols are inert") {
    val df = docsDf(Seq((0L, "$$ $$ ..", "s")))
    val m = Bpe.bpeTrain(df, nMerges = 2).collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"),
        r.getAs[String]("merged"), r.getAs[Long]("cnt")))
    // ($,$) cnt 2 merges first; (.,.) cnt 1 stops the loop (< 2)
    assert(m.toSeq == Seq(("$", "$", "$$", 2L)))
  }

  test("encode with trained merges reproduces the trainer's sequences") {
    val df = docsDf(Seq(
      (0L, "aaab aaab ab", "s"), (1L, "aaab ab", "s")))
    val merges = Bpe.bpeTrain(df, nMerges = 2).collect().sortBy(
      _.getAs[Long]("rank")).map(r =>
      (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
    val enc = Bpe.encode(df, merges).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[String](1)).toMap
    // after (a,a) then (a,b): aaab → [aa, ab]; ab → [ab]
    assert(enc(0L) == Seq("aa", "ab", "aa", "ab", "ab"))
    assert(enc(1L) == Seq("aa", "ab", "ab"))
  }

  test("pairRanking: overlap counting and deterministic tie order") {
    val df = docsDf(Seq((0L, "aaa bc bc", "s")))
    val res = Bpe.pairRanking(df, topK = 10).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("pair"),
        r.getAs[Long]("cnt"))).sortBy(_._1)
    // aaa → (a,a)×2; bc ×2 → (b,c)=2; tie at 2 breaks "a a" < "b c"
    assert(res.toSeq == Seq((1L, "a a", 2L), (2L, "b c", 2L)))
  }

  test("single-char and empty-tail words produce no pairs") {
    val df = docsDf(Seq((0L, "x y z", "s")))
    assert(Bpe.pairRanking(df, topK = 10).collect().isEmpty)
    assert(Bpe.bpeTrain(df, nMerges = 3).collect().isEmpty)
  }

  private def mergeTable(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("rank"), r.getAs[String]("left"),
      r.getAs[String]("right"), r.getAs[String]("merged"),
      r.getAs[Long]("cnt"))).sortBy(_._1).toSeq

  test("bpeTrainIncremental: bit-identical merge table to the recount path") {
    // corpus with overlapping runs, shared prefixes, ties, and regex
    // metachars — everything that exercises the delta bookkeeping
    val rnd = new scala.util.Random(13)
    val vocab = Seq("alpha", "alps", "beta", "bet", "aaaa", "a$b", "ab",
      "banana", "bandana", "ana")
    val rows = (0L until 40L).map { i =>
      (i, Seq.fill(6)(vocab(rnd.nextInt(vocab.length))).mkString(" "), "s")
    }
    val df = docsDf(rows)
    val full = mergeTable(Bpe.bpeTrain(df, nMerges = 10))
    val inc = mergeTable(Bpe.bpeTrainIncremental(df, nMerges = 10))
    assert(full.nonEmpty && inc == full)
    // the r13 local finish (default cap) and the forced distributed
    // loop must produce the same table as the recount ground truth
    val dist = mergeTable(Bpe.bpeTrainIncremental(df, nMerges = 10,
      localDictCap = 0))
    assert(dist == full)
  }

  test("tie-break uses UTF-8 byte order — supplementary-plane ties agree " +
      "between the local finish and the distributed path (r13 advice)") {
    // U+1F600 (😀) is UTF-16 surrogates 0xD83D,0xDE00 — BELOW U+FFFD in
    // Java String order — but UTF-8 bytes 0xF0… — ABOVE U+FFFD's 0xEF…
    // in UTF8String order. A (cnt) tie between pairs led by these two
    // characters picks DIFFERENT winners under the two orderings, so
    // this corpus detects any local argmax that compares UTF-16 units.
    val astral = new String(Character.toChars(0x1F600))
    val bmp = "�"
    val df = docsDf(Seq(
      (0L, s"${astral}a ${astral}a ${bmp}a ${bmp}a", "s")))
    val full = mergeTable(Bpe.bpeTrain(df, nMerges = 2))
    val local = mergeTable(Bpe.bpeTrainIncremental(df, nMerges = 2))
    val dist = mergeTable(Bpe.bpeTrainIncremental(df, nMerges = 2,
      localDictCap = 0))
    assert(full.size == 2 && local == full && dist == full)
    // the UTF-8-smaller pair (the BMP replacement char) must win round 1
    assert(full.head._2 == bmp,
      s"round-1 winner must be the UTF-8-smaller pair, got $full")
  }

  test("bpeTrainIncremental: carried plan stays flat across rounds (r9 regression guard)") {
    // the r9 x48 regression was multiplicative logical-plan growth in the
    // carried count table (persist does not truncate lineage); with the
    // per-round checkpoint every round's analyzed plan must be the same
    // constant size — assert node count flat after round 1 (round 1 sees
    // the pre-checkpoint pairCounts plan, rounds 2+ the LogicalRDD)
    val rnd = new scala.util.Random(7)
    val vocab = Seq("alpha", "alps", "beta", "banana", "bandana", "ana")
    val rows = (0L until 30L).map { i =>
      (i, Seq.fill(5)(vocab(rnd.nextInt(vocab.length))).mkString(" "), "s")
    }
    val sizes = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    Bpe.bpeTrainIncremental(docsDf(rows), nMerges = 12,
      planProbe = (r, n, d) => sizes += ((r, n, d)), localDictCap = 0)
    val later = sizes.toSeq.filter(_._1 >= 2).map(_._2)
    assert(later.nonEmpty, "expected at least 2 rounds")
    assert(later.distinct.size == 1,
      s"carried count-table plan must be flat across rounds, got $sizes")
    assert(later.head <= 10,
      s"checkpointed plan should be a handful of nodes, got ${later.head}")
    // Dataset.checkpoint carries ORIGIN stats (the r10 x71 lesson):
    // this loop's one-join-per-round shape grows the carried
    // sizeInBytes multiplicatively — a few digits per round is the
    // expected linear creep; squaring-per-round (the x71 class) would
    // blow the per-round bound immediately
    val digits = sizes.toSeq.filter(_._1 >= 2).map(_._3)
    val growth = digits.zip(digits.tail).map { case (a, b) => b - a }
    assert(growth.forall(_ <= 6),
      s"carried stats digits must grow at most linearly per round: $sizes")
  }

  test("bpeTrainIncremental: early stop and empty corpus behave like bpeTrain") {
    val single = docsDf(Seq((0L, "x y z", "s")))
    assert(Bpe.bpeTrainIncremental(single, nMerges = 3).collect().isEmpty)
    val df = docsDf(Seq((0L, "$$ $$ ..", "s")))
    assert(mergeTable(Bpe.bpeTrainIncremental(df, nMerges = 2)) ==
      Seq((1L, "$", "$", "$$", 2L)))
  }
}
