package graft.rel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.CacheScope

/** Scale utilities (SURVEY §7.4): the join/aggregation shapes that keep
  * working when one key is hot or both sides are fact-sized.
  *
  *   - [[saltedJoin]] — explicit skew mitigation for the case AQE's
  *     runtime skew-split cannot reach (e.g. skewed AGGREGATION input or
  *     non-sort-merge plans): the hot side's key is salted into
  *     `saltFactor` sub-keys and the other side is replicated across
  *     them, so a single hot key spreads over `saltFactor` reducers.
  *   - [[approxDistinct]] — HyperLogLog++ count-distinct: mergeable
  *     sketch, constant memory per group, the 100 TB path where exact
  *     `countDistinct`'s expand-shuffle is unaffordable (A19).
  */
object Scale {

  /** join `big` (skewed on `key`) with `small`, salting the hot side.
    * `small` is replicated `saltFactor`× — keep it dimension-sized.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      saltFactor: Int): DataFrame = {
    val salted = big.withColumn("__salt",
      pmod(hash(monotonically_increasing_id()), lit(saltFactor)))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** per-group HLL distinct counts with the standard-error knob exposed */
  def approxDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
      rsd: Double = 0.01): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(approx_count_distinct(col(valueCol), rsd).as(s"approx_$valueCol"))

  /** EXACT quantiles (`quantile_cont` semantics: linear interpolation
    * between the two neighboring order statistics at rank p·(n−1))
    * WITHOUT a global sort — the 100 TB alternative to both q13's
    * `percentile` (single-reducer sort per group at scale) and q30's
    * `approx_percentile` (not exact, sketch-dependent bits): the
    * recursive range-histogram discipline of the budget/shard family
    * applied to order statistics.
    *
    * Per level, ONE distributed job histograms the still-unresolved
    * value ranges into `nBuckets` sub-ranges each, collecting
    * (range, bucket) → (count, min, max) — ≤ 2·|probs|·nBuckets rows,
    * never data-sized. A target rank resolves the moment its bucket
    * holds one distinct value (min == max — ties collapse into this
    * case); otherwise it recurses into its bucket's OBSERVED [min,
    * max] with a rank offset. Two distinct doubles always split into
    * different buckets (the bucket function spans the observed range),
    * so depth is bounded by the 52-bit mantissa (~6 levels past the
    * first) and in practice 2–3 levels resolve everything. The final
    * interpolation mirrors DuckDB's spelling bit-for-bit:
    * `(crn−rn)·v_lo + (rn−frn)·v_hi`, the exact rank case returning
    * the order statistic untouched.
    *
    * Scale shape: level 1 scans the column once; each later level
    * scans with a range predicate covering ~1/nBuckets of the data
    * (parquet min/max pruning skips whole row groups). The oracle is
    * the full sort this decomposition avoids.
    *
    * NaN values are excluded alongside nulls (a NaN `max` would poison
    * every bucket width into NaN and the loop could never split); and
    * when a range's width underflows so far that `(hi−lo)/nBuckets`
    * rounds to zero (ulp-adjacent subnormals), the loop detects the
    * stall and resolves the residual range by an exact bounded
    * distinct-value sort — such a range holds only a handful of
    * distinct doubles by construction (r12 ADVICE items 1).
    */
  def exactQuantiles(df: DataFrame, valueCol: String,
      probs: Seq[Double], nBuckets: Int = 1024): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vals = CacheScope.keep(df
      .select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull && !isnan(col("v"))))
    val st = vals.agg(count(lit(1)).as("n"), min(col("v")).as("lo"),
      max(col("v")).as("hi")).collect()(0)
    val n = st.getLong(0)
    if (n == 0L)
      return Seq.empty[(Double, Double)].toDF("prob", "value")
    // target order-statistic indices (0-based) for every prob
    val ranks: Seq[(Double, Double, Long, Long)] = probs.map { p =>
      val rn = (n - 1).toDouble * p
      val frn = math.floor(rn).toLong
      val crn = math.ceil(rn).toLong
      (p, rn, frn, crn)
    }
    var pending: Map[Long, (Int, Long)] =
      ranks.flatMap { case (_, _, f, c) => Seq(f, c) }.distinct
        .map(i => i -> (0, i)).toMap // idx -> (rangeId, rankWithinRange)
    var ranges: Map[Int, (Double, Double)] =
      Map(0 -> (st.getDouble(1), st.getDouble(2)))
    val resolved = scala.collection.mutable.Map[Long, Double]()
    var depth = 0
    var lastSig = Set.empty[(Long, (Double, Double), Long)]
    var stalled = false
    while (pending.nonEmpty && !stalled && depth < 64) {
      depth += 1
      val rlist = ranges.toSeq.sortBy(_._1)
      // one job: histogram every active range into nBuckets sub-ranges
      val rangeId = rlist.tail.foldLeft(
        when(col("v").between(rlist.head._2._1, rlist.head._2._2),
          lit(rlist.head._1))) { case (acc, (id, (lo, hi))) =>
        acc.when(col("v").between(lo, hi), lit(id))
      }
      val subFor: Map[Int, Column] = rlist.map { case (id, (lo, hi)) =>
        val w = (hi - lo) / nBuckets
        id -> (if (w > 0d)
          least(lit(nBuckets - 1), greatest(lit(0),
            floor((col("v") - lit(lo)) / lit(w)).cast("int")))
        else lit(0))
      }.toMap
      val subCol = rlist.tail.foldLeft(
        when(col("r") === rlist.head._1, subFor(rlist.head._1))) {
        case (acc, (id, _)) => acc.when(col("r") === id, subFor(id))
      }
      val cells: Array[(Int, Int, Long, Double, Double)] = vals
        .filter(rlist.map { case (_, (lo, hi)) =>
          col("v").between(lo, hi) }.reduce(_ || _))
        .select(col("v"), rangeId.as("r"))
        .withColumn("sub", subCol)
        .groupBy(col("r"), col("sub"))
        .agg(count(lit(1)).as("c"), min(col("v")).as("mn"),
          max(col("v")).as("mx"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4)))
      val byRange = cells.groupBy(_._1)
      var nextRanges = Map.empty[Int, (Double, Double)]
      var nextPending = Map.empty[Long, (Int, Long)]
      var nextId = 0
      val bucketKey = scala.collection.mutable.Map[(Int, Int), Int]()
      pending.foreach { case (idx, (rid, rank)) =>
        val subs = byRange(rid).sortBy(_._2)
        var acc = 0L
        var placed = false
        for ((_, sub, c, mn, mx) <- subs if !placed) {
          if (rank < acc + c) {
            placed = true
            if (mn == mx) resolved(idx) = mn
            else {
              val key = (rid, sub)
              val nid = bucketKey.getOrElseUpdate(key,
                { val i = nextId; nextId += 1; i })
              nextRanges += nid -> (mn, mx)
              nextPending += idx -> (nid, rank - acc)
            }
          } else acc += c
        }
        assert(placed, s"rank $rank not found in range $rid")
      }
      ranges = nextRanges
      pending = nextPending
      // stall detection: a level that neither resolves a rank nor
      // shrinks any range (width-underflow) would spin to the depth cap
      val sig = pending.toSeq
        .map { case (idx, (rid, rank)) => (idx, ranges(rid), rank) }.toSet
      stalled = sig.nonEmpty && sig == lastSig
      lastSig = sig
    }
    // exact residual fallback: anything still pending sits in a range
    // the histogram can no longer split — few distinct doubles by
    // construction, so one bounded ordered collect per range resolves it
    if (pending.nonEmpty) {
      val cap = 1 << 16
      pending.groupBy(_._2._1).foreach { case (rid, members) =>
        val (lo, hi) = ranges(rid)
        val dv = vals.filter(col("v").between(lo, hi))
          .groupBy(col("v")).agg(count(lit(1)).as("c"))
          .orderBy(col("v")).limit(cap + 1).collect()
          .map(r => (r.getDouble(0), r.getLong(1)))
        require(dv.length <= cap,
          s"residual range [$lo,$hi] holds >$cap distinct values")
        members.foreach { case (idx, (_, rank)) =>
          var acc = 0L
          var hit = Option.empty[Double]
          for ((v, c) <- dv if hit.isEmpty) {
            if (rank < acc + c) hit = Some(v) else acc += c
          }
          resolved(idx) = hit.getOrElse(
            sys.error(s"rank $rank beyond residual range [$lo,$hi]"))
        }
      }
    }
    CacheScope.release(vals)
    val out = ranks.map { case (p, rn, frn, crn) =>
      val vlo = resolved(frn)
      val v = if (crn == frn) vlo
        else {
          val vhi = resolved(crn)
          (crn - rn) * vlo + (rn - frn) * vhi
        }
      (p, v)
    }
    out.toDF("prob", "value")
  }

  /** [[exactQuantiles]] PER GROUP, still one distributed job per
    * refinement level across ALL groups simultaneously: each level
    * histograms every group's still-unresolved value ranges in a
    * single pass (range predicates carry the group equality), so the
    * job count stays ~3 regardless of how many groups × probs are in
    * flight. Driver state is (groups × probs)-sized — the
    * dashboard-grouping class (q13's l_returnflag etc.), NOT an
    * unbounded-group path: for millions of groups use q30's mergeable
    * sketch per group instead. Completes the exact-quantile matrix:
    * q13 = exact per-group but sort bounded by value cardinality;
    * [[exactQuantiles]] = exact, cardinality-unbounded, global;
    * this = exact, cardinality-unbounded, per-group.
    */
  def exactQuantilesByGroup(df: DataFrame, groupCol: String,
      valueCol: String, probs: Seq[Double],
      nBuckets: Int = 1024): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vals = CacheScope.keep(df
      .select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull && !isnan(col("v"))))
    val gstats: Array[(String, Long, Double, Double)] = vals
      .groupBy(col("g")).agg(count(lit(1)).as("n"), min(col("v")).as("lo"),
        max(col("v")).as("hi"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    if (gstats.isEmpty)
      return Seq.empty[(String, Double, Double)].toDF("g", "prob", "value")
        .withColumnRenamed("g", groupCol)
    // per (group, prob): target order statistics
    val ranks: Seq[(String, Double, Double, Long, Long)] =
      gstats.toSeq.flatMap { case (g, n, _, _) =>
        probs.map { p =>
          val rn = (n - 1).toDouble * p
          (g, p, rn, math.floor(rn).toLong, math.ceil(rn).toLong)
        }
      }
    var pending: Map[(String, Long), (Int, Long)] =
      ranks.flatMap { case (g, _, _, f, c) => Seq((g, f), (g, c)) }
        .distinct.map { case (g, i) => (g, i) -> (-1, i) }.toMap
    var ranges: Map[Int, (String, Double, Double)] = Map.empty
    locally {
      var id = 0
      val byG = gstats.map { case (g, _, lo, hi) =>
        val r = id -> (g, lo, hi); id += 1; r
      }.toMap
      ranges = byG
      val gTo = ranges.map { case (i, (g, _, _)) => g -> i }
      pending = pending.map { case ((g, idx), (_, rank)) =>
        (g, idx) -> (gTo(g), rank)
      }
    }
    val resolved = scala.collection.mutable.Map[(String, Long), Double]()
    var depth = 0
    var lastSig = Set.empty[((String, Long), (String, Double, Double), Long)]
    var stalled = false
    // null-safe group match: `=== null` never matches, so a NULL group
    // (GROUP BY keeps it) would leave its ranges cell-less and crash the
    // rank walk (r12 ADVICE item 2)
    def eqG(g: String) =
      if (g == null) col("g").isNull else col("g") === g
    def inRange(g: String, lo: Double, hi: Double) =
      eqG(g) && col("v").between(lo, hi)
    while (pending.nonEmpty && !stalled && depth < 64) {
      depth += 1
      val rlist = ranges.toSeq.sortBy(_._1)
      val rangeId = rlist.tail.foldLeft(
        when(inRange(rlist.head._2._1, rlist.head._2._2,
          rlist.head._2._3), lit(rlist.head._1))) {
        case (acc, (id, (g, lo, hi))) => acc.when(inRange(g, lo, hi), lit(id))
      }
      val subFor: Map[Int, Column] = rlist.map { case (id, (_, lo, hi)) =>
        val w = (hi - lo) / nBuckets
        id -> (if (w > 0d)
          least(lit(nBuckets - 1), greatest(lit(0),
            floor((col("v") - lit(lo)) / lit(w)).cast("int")))
        else lit(0))
      }.toMap
      val subCol = rlist.tail.foldLeft(
        when(col("r") === rlist.head._1, subFor(rlist.head._1))) {
        case (acc, (id, _)) => acc.when(col("r") === id, subFor(id))
      }
      val cells: Array[(Int, Int, Long, Double, Double)] = vals
        .filter(rlist.map { case (_, (g, lo, hi)) =>
          inRange(g, lo, hi) }.reduce(_ || _))
        .select(col("v"), rangeId.as("r"))
        .withColumn("sub", subCol)
        .groupBy(col("r"), col("sub"))
        .agg(count(lit(1)).as("c"), min(col("v")).as("mn"),
          max(col("v")).as("mx"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4)))
      val byRange = cells.groupBy(_._1)
      var nextRanges = Map.empty[Int, (String, Double, Double)]
      var nextPending = Map.empty[(String, Long), (Int, Long)]
      var nextId = 0
      val bucketKey = scala.collection.mutable.Map[(Int, Int), Int]()
      pending.foreach { case (key @ (g, _), (rid, rank)) =>
        val subs = byRange(rid).sortBy(_._2)
        var acc = 0L
        var placed = false
        for ((_, sub, c, mn, mx) <- subs if !placed) {
          if (rank < acc + c) {
            placed = true
            if (mn == mx) resolved(key) = mn
            else {
              val nid = bucketKey.getOrElseUpdate((rid, sub),
                { val i = nextId; nextId += 1; i })
              nextRanges += nid -> (g, mn, mx)
              nextPending += key -> (nid, rank - acc)
            }
          } else acc += c
        }
        assert(placed, s"rank $rank not found in range $rid")
      }
      ranges = nextRanges
      pending = nextPending
      val sig = pending.toSeq
        .map { case (key, (rid, rank)) => (key, ranges(rid), rank) }.toSet
      stalled = sig.nonEmpty && sig == lastSig
      lastSig = sig
    }
    if (pending.nonEmpty) {
      val cap = 1 << 16
      pending.groupBy(_._2._1).foreach { case (rid, members) =>
        val (g, lo, hi) = ranges(rid)
        val dv = vals.filter(inRange(g, lo, hi))
          .groupBy(col("v")).agg(count(lit(1)).as("c"))
          .orderBy(col("v")).limit(cap + 1).collect()
          .map(r => (r.getDouble(0), r.getLong(1)))
        require(dv.length <= cap,
          s"residual range g=$g [$lo,$hi] holds >$cap distinct values")
        members.foreach { case (key, (_, rank)) =>
          var acc = 0L
          var hit = Option.empty[Double]
          for ((v, c) <- dv if hit.isEmpty) {
            if (rank < acc + c) hit = Some(v) else acc += c
          }
          resolved(key) = hit.getOrElse(
            sys.error(s"rank $rank beyond residual range g=$g [$lo,$hi]"))
        }
      }
    }
    CacheScope.release(vals)
    val out = ranks.map { case (g, p, rn, frn, crn) =>
      val vlo = resolved((g, frn))
      val v = if (crn == frn) vlo
        else {
          val vhi = resolved((g, crn))
          (crn - rn) * vlo + (rn - frn) * vhi
        }
      (g, p, v)
    }
    out.toDF(groupCol, "prob", "value")
  }
}
