package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.CacheScope

/** Mergeable frequency sketches for corpus-scale token statistics.
  *
  * Count-Min (Cormode & Muthukrishnan 2005) is THE mergeable shape for
  * heavy-hitter mining at 100 TB: the sketch is a d×w counter grid whose
  * cells add, so map-side partial aggregation reduces every partition to
  * ≤ d·w rows before the shuffle, and two corpus shards' sketches merge
  * by cell-wise addition — the property exact per-token counts lack when
  * the vocabulary itself is huge (URLs, n-grams, typos).
  *
  * Row hashes are the Kirsch–Mitzenmacher family over ONE md5 per
  * distinct token (the [[Dedup]] discipline — the md5 expression
  * instantiates a MessageDigest per call, so digest count is the cost
  * driver): h_r = ((u1 + (r+1)·u2) mod p) mod w, integer arithmetic any
  * engine reproduces bit-for-bit. The first x37 cut hashed every token
  * OCCURRENCE d times (4M digests at sf0.1 — 7.1 s); hashing the
  * vocabulary once after the count agg is algebraically identical
  * because cell counts are additive.
  */
object Sketches {

  /** sketch geometry: 4 independent rows × 1024 columns — error bound
    * N/w per row, min over 4 rows; enough for the φ=1% heavy-hitter
    * audit below and small enough to broadcast (4k longs)
    */
  val CmsDepth = 4
  val CmsWidth = 1024

  /** default integer φ denominator: heavy ⇔ est·DefaultPhiDen >= N (1%) */
  val DefaultPhiDen = 100L

  /** φ-heavy-hitter audit over the token stream: build the CMS, read
    * every distinct token's estimate back out of it, and report it next
    * to the exact count — `est >= true` always (CMS never
    * underestimates) and `heavy` uses the classic relative threshold
    * est·phiDen >= N in INTEGER arithmetic (a double φ would make the
    * boundary case engine-dependent).
    *
    * Scale shape: the ONLY corpus-sized operation is the token-keyed
    * count agg (map-side combine; the same shuffle any vocabulary audit
    * pays). Everything downstream — hashing, the d×w cell agg, the
    * broadcast probe — is vocabulary-sized, and the sketch itself is ≤
    * d·w rows. When the vocabulary is too large even for its own
    * shuffle, the same grid builds directly from occurrences by one
    * partial-aggregating count over (r, c) cells — cell additivity is
    * what makes the two formulations identical; this audit needs the
    * exact counts anyway, so it hashes each distinct token once.
    *
    * Cache contract: the hashed-vocabulary table stays persisted until
    * the open [[graft.core.CacheScope]] closes — same convention as
    * [[graft.llm.Similarity.quantizedTopK]]'s one-shot form.
    */
  def cmsHeavyHitters(docs: DataFrame,
      phiDen: Long = DefaultPhiDen): DataFrame = {
    val exact = CacheScope.keep(docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("true_cnt"))
      // one digest per distinct token; two u32 halves seed the KM family
      .withColumn("mh", md5(concat(lit("cms:"), col("tok"))))
      .select(col("tok"), col("true_cnt"),
        conv(substring(col("mh"), 1, 8), 16, 10).cast("long").as("u1"),
        conv(substring(col("mh"), 9, 8), 16, 10).cast("long").as("u2")))
    val cells = exact.select(col("tok"), col("true_cnt"),
        explode(array((0 until CmsDepth).map { r =>
          val h = pmod(col("u1") + lit((r + 1).toLong) * col("u2"),
            lit(Dedup.MinhashMod))
          struct(lit(r).as("r"), pmod(h, lit(CmsWidth.toLong)).as("c"))
        }: _*)).as("rc"))
      .select(col("tok"), col("true_cnt"),
        col("rc.r").as("r"), col("rc.c").as("c"))
    val sketch = cells.groupBy(col("r"), col("c"))
      .agg(sum(col("true_cnt")).as("cell"))
    val est = cells.join(broadcast(sketch), Seq("r", "c"))
      .groupBy(col("tok"), col("true_cnt"))
      .agg(min(col("cell")).as("est"))
    val total = exact.agg(sum(col("true_cnt")).as("n_total"))
    est.join(broadcast(total))
      .select(col("tok"), col("est"), col("true_cnt"),
        (col("est") - col("true_cnt")).as("overcount"),
        (col("est") * phiDen >= col("n_total")).as("heavy"))
  }
}
