package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Banded candidate generation, the one owner of the bucket cap: every
  * near-dup and neighbour search sizes its band buckets, re-shards an
  * oversized one into nsh = ceil(size / maxBucket) sub-buckets by an md5
  * of (bucket, row id), and groups members per (keys, sub) here; callers
  * pick the sizing, the member payload and the emitter. Per-group pair
  * work is bounded at ~maxBucket²; cross-shard pairs of a degenerate
  * bucket are dropped (the recall-for-boundedness trade — near-identical
  * rows share MANY buckets, so a pair capped in one band usually
  * survives another).
  */
private[llm] object Banded {

  /** how a bucket learns its size — chosen per call site by how it was
    * measured, never a setting
    */
  sealed trait Sizing

  /** an unordered count window over the bucket keys: the same keys
    * shuffle the member grouping needs anyway, and window partitions
    * spill, never OOM. The TEXT side keeps it because its band rows
    * carry 128 minhash md5s per doc, so [[SizeJoin]]'s second band
    * projection would not be free; [[Similarity.knnGraph]] keeps it
    * because the (keys, sub) grouping's clustering is SATISFIED by the
    * window's hash partitioning (sub refines the bucket), so its
    * vectors-inline agg runs in place without a second exchange.
    */
  case object CountWindow extends Sizing

  /** a map-side-combinable count agg joined back (r15): a whole-partition
    * count window would shuffle AND SORT every band row before the
    * group's own shuffle. The size table is bounded by the band VALUE
    * space (≤ nBands·2^keyBits rows), so at keyBits ≤ 16 it is broadcast
    * by construction and the band rows cross the wire exactly once,
    * unsorted, straight into the grouping; the band projection computes
    * twice, which is free for a shift+mask or a persisted band table.
    */
  final case class SizeJoin(keyBits: Int) extends Sizing

  /** the member-array column of [[pairGroups]] and [[probeGroups]] */
  val Members = "ms"

  /** the size table: (keys…, bsz) per occupied bucket */
  def sizes(rows: DataFrame, keys: Seq[String]): DataFrame =
    rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("bsz"))

  /** capped-bucket diagnostic: the [[sizes]] rows the cap re-shards
    * (nsh > 1), so a recall trade at scale is visible, not silent
    */
  def oversized(rows: DataFrame, keys: Seq[String],
      maxBucket: Int): DataFrame =
    sizes(rows, keys).filter(shards(col("bsz"), maxBucket) > 1)

  private def shards(bsz: Column, maxBucket: Int): Column =
    ceil(bsz.cast("double") / maxBucket).cast("int")

  /** deterministic sub-shard of an oversized bucket: md5(bucketKey #
    * rowKey) mod `nsh` — ONE definition shared by every banded candidate
    * generator (r17 review: the incantation had grown four hand-copies,
    * and any drift in the hash scheme would silently desync pair
    * generation between paths)
    */
  private def subShard(bucketKey: Column, rowKey: Column, nsh: Column): Column =
    when(nsh <= 1, lit(0)).otherwise(
      pmod(conv(substring(md5(concat_ws("#", bucketKey, rowKey)), 1, 7),
        16, 10).cast("long"), nsh).cast("int"))

  /** `rows` plus their bucket size `bsz`, shard count `nsh` and sub-shard
    * `sub`. `keys` name the bucket; the last key is the within-band
    * bucket value the sub-shard hashes together with the row's `id`.
    * Singleton buckets drop unless `keepSingletons` (a probe target or a
    * cluster scan still needs them).
    */
  def capped(rows: DataFrame, keys: Seq[String], id: String,
      maxBucket: Int, sizing: Sizing, keepSingletons: Boolean): DataFrame = {
    val sized = sizing match {
      case CountWindow =>
        val w = rows.withColumn("bsz",
          count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
        if (keepSingletons) w else w.filter(col("bsz") > 1)
      case SizeJoin(keyBits) =>
        val s = sizes(rows, keys)
        val t = if (keepSingletons) s else s.filter(col("bsz") > 1)
        rows.join(if (keyBits <= 16) broadcast(t) else t, keys)
    }
    sized.withColumn("nsh", shards(col("bsz"), maxBucket))
      .withColumn("sub", subShard(col(keys.last), col(id), col("nsh")))
  }

  /** pair-generation groups: (keys…, sub, [[Members]]) with the sorted
    * `member` values of each capped bucket shard of size ≥ 2 — the input
    * of [[clique]], [[star]] and the kNN graph's directed ranking
    */
  def pairGroups(rows: DataFrame, keys: Seq[String], id: String,
      member: Column, maxBucket: Int, sizing: Sizing): DataFrame =
    capped(rows, keys, id, maxBucket, sizing, keepSingletons = false)
      .groupBy((keys :+ "sub").map(col): _*)
      .agg(sort_array(collect_list(member)).as(Members))
      .filter(size(col(Members)) > 1)

  /** probe-target groups: (keys…, sub, [[Members]]) for EVERY bucket
    * shard, singletons included, in no order — a probe joins every sub
    * of its bucket, so re-sharding never drops a target
    */
  def probeGroups(rows: DataFrame, keys: Seq[String], id: String,
      member: Column, maxBucket: Int, sizing: Sizing): DataFrame =
    capped(rows, keys, id, maxBucket, sizing, keepSingletons = true)
      .groupBy((keys :+ "sub").map(col): _*)
      .agg(collect_list(member).as(Members))

  /** every within-group pair (a, b), a before b in member order: one row
    * per (member, later-partner array) — slice() keeps per-row state at
    * O(group), never the O(group²) array that made the r2 shape OOM
    */
  def clique(groups: DataFrame, a: String, b: String): DataFrame =
    groups.select(posexplode(col(Members)).as(Seq("i", a)), col(Members))
      .select(col(a), explode(slice(col(Members), col("i") + lit(2),
        size(col(Members)))).as(b))

  /** CONNECTIVITY-ONLY edges: each group member links to the group's
    * first member — d−1 edges per group instead of [[clique]]'s C(d,2),
    * with identical connected components
    */
  def star(groups: DataFrame, a: String, b: String): DataFrame =
    groups.select(element_at(col(Members), 1).as(a),
      explode(slice(col(Members), lit(2), size(col(Members)))).as(b))

  /** `rows` × band ∈ [0, nBands) with the band's `bucket` of the 64-bit
    * code column `hash`: bits [band·bpb, (band+1)·bpb), bpb = 64/nBands.
    * Arithmetic >> then mask: the sign-extension bits of a negative hash
    * land outside the band mask.
    */
  def hammingBands(rows: DataFrame, hash: String, nBands: Int): DataFrame = {
    require(64 % nBands == 0 && nBands >= 2 && nBands <= 64,
      s"nBands must divide 64 (got $nBands)")
    val bpb = 64 / nBands
    rows.select(col("*"), explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .withColumn("bucket",
        expr(s"($hash >> (band * $bpb)) & ${(1L << bpb) - 1}L"))
  }
}
