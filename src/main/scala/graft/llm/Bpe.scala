package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.CacheScope

/** Byte-pair-encoding tokenizer training (Sennrich et al. 2016) — the
  * third leg of the tokenizer-prep stool next to the vocabulary-coverage
  * curve (x45) and token statistics (x08).
  *
  * Scale shape — the corpus collapses ONCE: BPE never iterates over
  * documents, it iterates over the word-frequency dict (`word → count`),
  * which is vocabulary-sized. One corpus-sized token shuffle builds the
  * dict; every merge round after that is a vocab-sized pair count
  * (map-side combined) + a 1-row argmax collect + a pure-map regex
  * rewrite of the symbol sequences. At 100 TB the dict is millions of
  * rows — each round is a small job, and the merge loop's cost is
  * independent of corpus size.
  *
  * Determinism: merge winners order by `(count desc, pair asc)` — ties
  * break identically on every run and engine; greedy leftmost merge
  * application is Java regex's non-overlapping left-to-right replace
  * with space-boundary lookarounds (the boundary spaces are NOT
  * consumed, so back-to-back occurrences like `a a a a` merge to
  * `aa aa`, matching the reference BPE behavior).
  */
object Bpe {

  /** unsigned lexicographic byte comparison — the local argmax's twin of
    * UTF8String's binary ordering (what `orderBy(pair asc)` compares).
    * `y == null` means "no best yet" and always loses.
    */
  private[llm] def utf8Less(x: Array[Byte], y: Array[Byte]): Boolean = {
    if (y == null) return true
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** word-frequency dict with the initial symbol sequence (one symbol
    * per character, space-joined). `regexp_extract_all("(?s).")` splits
    * to code points without the trailing-empty artifact of
    * `split(word, "")`.
    */
  def initDict(docs: DataFrame): DataFrame =
    TextOps.tokens(docs)
      .groupBy(col("tok").as("word"))
      .agg(count(lit(1)).as("wc"))
      .select(col("word"), col("wc"),
        concat_ws(" ",
          regexp_extract_all(col("word"), lit("(?s)."), lit(0))).as("seq"))

  /** adjacent pair array of one space-joined symbol sequence — the
    * explode source shared by [[pairCounts]] and the incremental
    * trainer's delta
    */
  private def seqPairs(seqCol: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val sym = split(seqCol, " ")
    when(size(sym) >= 2,
      transform(sequence(lit(1), size(sym) - 1), i =>
        concat(element_at(sym, i), lit(" "), element_at(sym, i + 1))))
      .otherwise(array().cast("array<string>"))
  }

  /** adjacent symbol-pair counts over a dict's current sequences,
    * weighted by word count — overlapping occurrences all count
    * (`a a a` contributes `(a,a)` twice), per the reference algorithm.
    * Output is candidate-pair-sized (≤ vocab × max word length).
    */
  def pairCounts(dict: DataFrame): DataFrame =
    dict.select(col("wc"), explode(seqPairs(col("seq"))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("cnt"))

  /** the x47 query surface: round-1 BPE merge candidates — character
    * pairs ranked by corpus-weighted frequency, `(cnt desc, pair asc)`.
    * The top-K cut is a distributed `orderBy(...).limit(topK)`
    * (`TakeOrderedAndProject`: per-partition bounded heaps + a
    * topK-sized driver merge, r8 verdict task 1 — the candidate-pair
    * table is vocab × word-length sized, which at corpus scale is still
    * far too large for one task's sort); the rank window then orders
    * only the ≤ topK survivors with the same tie-break — bit-identical
    * to ranking the full table.
    */
  def pairRanking(docs: DataFrame, topK: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("pair").asc)
    pairCounts(initDict(docs))
      .orderBy(col("cnt").desc, col("pair").asc).limit(topK)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("pair"), col("cnt"))
  }

  /** run `nMerges` BPE merge rounds over the corpus; returns the merge
    * table `(rank, left, right, merged, cnt)` — the trained tokenizer
    * artifact. Stops early if no pair occurs twice (cnt < 2 means every
    * remaining pair is unique — merging it buys nothing).
    *
    * Each round: vocab-sized pair count → 1-row argmax collect (the
    * k-means centroid discipline: the collect truncates lineage and
    * drives the loop) → one `regexp_replace` map over the dict with the
    * winner quoted (`Pattern.quote`) and space-boundary lookarounds.
    * Round N's argmax is also round N's materializer: dict N caches on
    * that collect, and only THEN is dict N−1 released — one job per
    * round, never a dedicated `count()`, and the live set stays at two
    * vocab-sized tables with O(1) recompute depth. The open
    * [[graft.core.CacheScope]] releases the last one.
    */
  def bpeTrain(docs: DataFrame, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    var dict = CacheScope.keep(initDict(docs))
    var prev: DataFrame = null
    val merges = scala.collection.mutable.ArrayBuffer.empty[
      (Long, String, String, String, Long)]
    var round = 1
    var done = false
    while (round <= nMerges && !done) {
      val top = pairCounts(dict)
        .orderBy(col("cnt").desc, col("pair").asc).limit(1).collect()
      if (prev != null) { CacheScope.release(prev); prev = null }
      if (top.isEmpty || top(0).getAs[Long]("cnt") < 2L) done = true
      else {
        val pair = top(0).getAs[String]("pair")
        val cnt = top(0).getAs[Long]("cnt")
        val Array(l, r) = pair.split(" ", 2)
        val merged = l + r
        merges += ((round.toLong, l, r, merged, cnt))
        val pat = "(?<= )" + java.util.regex.Pattern.quote(pair) + "(?= )"
        val rep = java.util.regex.Matcher.quoteReplacement(merged)
        val next = CacheScope.keep(dict.withColumn("seq",
          trim(regexp_replace(concat(lit(" "), col("seq"), lit(" ")),
            lit(pat), lit(rep)))))
        prev = dict
        dict = next
        round += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "left", "right", "merged", "cnt")
  }

  /** [[bpeTrain]] with INCREMENTAL pair counts (r8 advice item 5) —
    * bit-identical merge tables (spec-asserted), different round shape:
    * instead of re-exploding EVERY word's pair list each round, the
    * pair-count table carries over and only the words containing the
    * winning pair (the `" l r "` substring test on the space-padded
    * sequence is exact — symbols are space-bounded) contribute a delta:
    * minus their old pairs, plus their rewritten pairs. That is the
    * classic learn-BPE dict-update, Spark-shaped: per-round explode work
    * is AFFECTED-words-sized (merges quickly become rare → tiny deltas)
    * and the only vocab-sized jobs are the carried count table's
    * full-outer merge and the flag-guarded rewrite projection (a pure
    * map, no shuffle). At a 100 TB corpus's million-row dict this is the
    * difference between re-shuffling every symbol per round and
    * shuffling a few thousand delta rows.
    *
    * Persistence discipline — CHECKPOINT, not persist (the Dedup CC
    * lesson, `Dedup.scala` `clustersFromPairs`): both carried tables are
    * re-referenced every round (the delta reads the old AND new dict;
    * the count merge reads the old count table), and persist does NOT
    * truncate the LOGICAL plan — with persist alone round N's plan
    * embeds round N−1's plans multiply, and driver-side Catalyst
    * analysis over that tree came to dominate the query (measured at
    * sf0.1: 121 s vs 4 s for the recount loop — r9 verdict). A lazy
    * `checkpoint()` per round pins each table's plan to a `LogicalRDD`;
    * round N+1's argmax (still the only job) materializes both
    * checkpoints in one pass, so recompute depth stays O(1) and every
    * round's plan is the same constant size (spec-pinned via
    * `planProbe`). Checkpoint I/O is one write+scan of the vocab-sized
    * tables per round — at deployment the checkpoint dir is durable
    * storage, which also bounds recompute on executor loss to one round.
    *
    * `planProbe(round, nodes, statsDigits)` receives the analyzed-plan
    * node count AND the decimal digit count of the carried count
    * table's `sizeInBytes` estimate — `Dataset.checkpoint` preserves
    * the ORIGIN plan's statistics in its `LogicalRDD` (the r10 x71
    * lesson), and this loop's one-join-per-round shape grows that
    * estimate multiplicatively (linearly in digits), so BpeSpec pins
    * the per-round digit GROWTH small on top of the flat node count.
    * Historically `planProbe(round, nodes)` — it receives the analyzed-plan node count of
    * the carried count table each round — the TopKPlanSpec idea applied
    * to loops; BpeSpec asserts it stays flat.
    */
  /** `localDictCap` (r13, the CC `localEdgeCap` discipline applied to
    * the second iterative loop in this engine): when the WORD DICT fits
    * under the cap (`limit(cap+1)` — under the cap the collected dict
    * is provably complete), the whole merge loop runs in driver memory
    * — recount, argmax with the same `(cnt desc, pair asc)` tie-break,
    * and a left-to-right non-overlapping scan-merge that reproduces the
    * distributed path's space-lookaround `regexp_replace` exactly
    * (spec-pinned bit-identical). Real tokenizer trainers are in-memory
    * for exactly this reason: the dict is vocab-sized, not corpus-
    * sized. A corpus whose vocabulary outgrows the cap (the 100 TB
    * million-word dict) takes the incremental distributed loop
    * unchanged; 0 disables (the plan-pinning spec forces that path).
    */
  def bpeTrainIncremental(docs: DataFrame, nMerges: Int,
      planProbe: (Int, Int, Int) => Unit = (_, _, _) => (),
      localDictCap: Int = 1 << 17): DataFrame = {
    val spark = docs.sparkSession
    if (localDictCap > 0) {
      val head = initDict(docs).limit(localDictCap + 1).collect()
      if (head.length <= localDictCap) {
        import spark.implicits._
        val words: Array[(Long, Array[String])] =
          head.map(r => (r.getLong(1), r.getString(2).split(" ")))
        val merges = scala.collection.mutable.ArrayBuffer.empty[
          (Long, String, String, String, Long)]
        var round = 1
        var done = false
        while (round <= nMerges && !done) {
          val counts =
            scala.collection.mutable.HashMap.empty[(String, String), Long]
          words.foreach { case (wc, sym) =>
            var i = 0
            while (i + 1 < sym.length) {
              val k = (sym(i), sym(i + 1))
              counts(k) = counts.getOrElse(k, 0L) + wc
              i += 1
            }
          }
          if (counts.isEmpty) done = true
          else {
            // max count, tie → smallest "l r" key in UTF-8 BYTE order —
            // the distributed orderBy(cnt desc, pair asc) compares
            // UTF8String bytes (code-point order), and Java String
            // compareTo compares UTF-16 code units, which disagree for
            // supplementary-plane characters (surrogates 0xD800–0xDFFF
            // sort BELOW U+E000–U+FFFF in UTF-16 but their UTF-8 form
            // 0xF0… sorts ABOVE 0xE0…). r13 ADVICE item 1.
            var bestL: String = null; var bestR: String = null
            var bestC = Long.MinValue; var bestKey: Array[Byte] = null
            counts.foreach { case ((a, b), c) =>
              if (c >= bestC) {
                val key = (a + " " + b)
                  .getBytes(java.nio.charset.StandardCharsets.UTF_8)
                if (c > bestC || utf8Less(key, bestKey)) {
                  bestL = a; bestR = b; bestC = c; bestKey = key
                }
              }
            }
            val (l, r, cnt) = (bestL, bestR, bestC)
            if (cnt < 2L) done = true
            else {
              merges += ((round.toLong, l, r, l + r, cnt))
              var wi = 0
              while (wi < words.length) {
                val (wc, sym) = words(wi)
                var has = false
                var i = 0
                while (!has && i + 1 < sym.length) {
                  has = sym(i) == l && sym(i + 1) == r; i += 1
                }
                if (has) {
                  // left-to-right non-overlapping merge — exactly the
                  // padded " l r " regexp_replace's match order
                  val out = scala.collection.mutable.ArrayBuffer
                    .empty[String]
                  var j = 0
                  while (j < sym.length) {
                    if (j + 1 < sym.length && sym(j) == l &&
                        sym(j + 1) == r) { out += (l + r); j += 2 }
                    else { out += sym(j); j += 1 }
                  }
                  words(wi) = (wc, out.toArray)
                }
                wi += 1
              }
              round += 1
            }
          }
        }
        return merges.toSeq.toDF("rank", "left", "right", "merged", "cnt")
      }
    }
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(
        graft.stream.StreamOps.checkpointDir("bpe-train"))
    var dict = initDict(docs).checkpoint(eager = false)
    var pc = pairCounts(dict).checkpoint(eager = false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[
      (Long, String, String, String, Long)]
    var round = 1
    var done = false
    while (round <= nMerges && !done) {
      planProbe(round,
        pc.queryExecution.analyzed.collect { case p => p }.length,
        pc.queryExecution.optimizedPlan.stats.sizeInBytes.toString.length)
      val top = pc.orderBy(col("cnt").desc, col("pair").asc).limit(1).collect()
      if (top.isEmpty || top(0).getAs[Long]("cnt") < 2L) done = true
      else {
        val pair = top(0).getAs[String]("pair")
        val cnt = top(0).getAs[Long]("cnt")
        val Array(l, r) = pair.split(" ", 2)
        val merged = l + r
        merges += ((round.toLong, l, r, merged, cnt))
        val pat = "(?<= )" + java.util.regex.Pattern.quote(pair) + "(?= )"
        val rep = java.util.regex.Matcher.quoteReplacement(merged)
        val padded = concat(lit(" "), col("seq"), lit(" "))
        val hit = padded.contains(" " + pair + " ")
        val newSeq = trim(regexp_replace(padded, lit(pat), lit(rep)))
        val nextDict = dict
          .withColumn("hit", hit)
          .withColumn("seq", when(col("hit"), newSeq).otherwise(col("seq")))
          .checkpoint(eager = false)
        val delta = nextDict.filter(col("hit"))
          .select(col("wc").as("w"), explode(seqPairs(col("seq"))).as("pair"))
          .unionAll(dict.filter(hit)
            .select((-col("wc")).as("w"),
              explode(seqPairs(col("seq"))).as("pair")))
          .groupBy(col("pair")).agg(sum(col("w")).as("d"))
          .filter(col("d") =!= 0L)
        val nextPc = pc.join(delta, Seq("pair"), "full_outer")
          .select(col("pair"),
            (coalesce(col("cnt"), lit(0L)) + coalesce(col("d"), lit(0L)))
              .as("cnt"))
          .filter(col("cnt") > 0L)
          .checkpoint(eager = false)
        dict = nextDict
        pc = nextPc
        round += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "left", "right", "merged", "cnt")
  }

  /** apply a trained merge list to a corpus — the tokenizer ENCODE step.
    * Per word (BPE never merges across word boundaries): char-split,
    * then fold the merges in rank order, each one the same quoted
    * lookaround `regexp_replace` the trainer used — encode(train corpus)
    * reproduces the trainer's final symbol sequences exactly (spec'd).
    * The whole thing is one codegen'd projection — `nMerges` nested
    * regex replaces inside a `transform` lambda; no shuffle, no join,
    * no state. At 100 TB this is the ideal operator shape: a pure map
    * whose cost is per-row work × a constant.
    */
  def encode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.Column
    val spaced: Column => Column = w =>
      concat_ws(" ", regexp_extract_all(w, lit("(?s)."), lit(0)))
    val applyAll: Column => Column = w =>
      merges.foldLeft(spaced(w)) { case (acc, (l, r)) =>
        val pat = "(?<= )" +
          java.util.regex.Pattern.quote(l + " " + r) + "(?= )"
        val rep = java.util.regex.Matcher.quoteReplacement(l + r)
        trim(regexp_replace(concat(lit(" "), acc, lit(" ")),
          lit(pat), lit(rep)))
      }
    docs.select(col("doc_id"),
      flatten(transform(split(col("text"), " "),
        w => split(applyAll(w), " "))).as("bpe_tokens"))
  }
}
