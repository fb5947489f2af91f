package graft.rel

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.SparkSpec

class ScaleSpec extends SparkSpec {

  test("saltedJoin matches the plain join result under a hot key") {
    val s = spark
    import s.implicits._
    // 10k rows on ONE key + a tail — the classic hot-key shape
    val big = ((1 to 10000).map(_ => ("hot", 1)) ++
      (1 to 100).map(i => (s"k$i", i))).toDF("key", "v")
    val small = Seq(("hot", "H"), ("k1", "A"), ("k50", "B")).toDF("key", "label")
    val plain = big.join(small, "key").groupBy("label").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Scale.saltedJoin(big, small, "key", saltFactor = 8)
      .groupBy("label").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    assert(salted("H") == 10000L)
  }

  test("salted big side spreads the hot key across salt buckets") {
    val s = spark
    import s.implicits._
    val big = (1 to 1000).map(_ => ("hot", 1)).toDF("key", "v")
    val buckets = big.withColumn("__salt",
        pmod(hash(monotonically_increasing_id()), lit(8)))
      .groupBy("__salt").count().collect()
    assert(buckets.length == 8) // every bucket gets a share
    assert(buckets.map(_.getLong(1)).max < 1000) // no bucket holds it all
  }

  test("approxDistinct is within rsd of exact on the test data") {
    val li = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = Scale.approxDistinct(li, Seq("l_returnflag"), "l_partkey")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n).toDouble / n < 0.05)
    }
  }

  /** driver reference in DuckDB's own interpolation spelling */
  private def quantileContRef(sorted: Array[Double],
      p: Double): Double = {
    val rn = (sorted.length - 1).toDouble * p
    val frn = math.floor(rn).toLong
    val crn = math.ceil(rn).toLong
    if (crn == frn) sorted(frn.toInt)
    else (crn - rn) * sorted(frn.toInt) + (rn - frn) * sorted(crn.toInt)
  }

  test("exactQuantiles equals the sorted reference, incl. tie-heavy data") {
    val s = spark
    import s.implicits._
    val probs = Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0)
    // continuous values, duplicate-heavy values, and a single value
    val cases = Seq(
      (1 to 5000).map(i => ((i * 7919) % 5000) / 3.0),
      (1 to 5000).map(i => (i % 7).toDouble), // massed ties
      (1 to 100).map(_ => 42.0))              // one distinct value
    cases.zipWithIndex.foreach { case (vs, ci) =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "value")
      val out = Scale.exactQuantiles(df, "value", probs, nBuckets = 32)
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      val sorted = vs.toArray.sorted
      probs.foreach { p =>
        val ref = quantileContRef(sorted, p)
        assert(out(p) == ref, s"case $ci p=$p: ${out(p)} != $ref")
      }
    }
  }

  test("exactQuantilesByGroup equals the per-group sorted reference") {
    val s = spark
    import s.implicits._
    val probs = Seq(0.25, 0.5, 0.75)
    // three groups with very different shapes: continuous, tie-heavy,
    // and a single-row group (the n=1 rank edge)
    val rows =
      (1 to 3000).map(i => ("a", ((i * 7919) % 3000) / 7.0)) ++
      (1 to 2000).map(i => ("b", (i % 5).toDouble)) ++
      Seq(("c", 42.0))
    val df = rows.zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v) }
      .toDF("id", "grp", "value")
    val out = Scale.exactQuantilesByGroup(df, "grp", "value", probs,
        nBuckets = 32).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    rows.groupBy(_._1).foreach { case (g, gv) =>
      val sorted = gv.map(_._2).toArray.sorted
      probs.foreach { p =>
        val ref = quantileContRef(sorted, p)
        assert(out((g, p)) == ref, s"g=$g p=$p: ${out((g, p))} != $ref")
      }
    }
    assert(out.size == 9)
  }

  test("exactQuantiles excludes NaN (no bucket-width poisoning)") {
    val s = spark
    import s.implicits._
    // NaN is MAX in Spark's ordering: before the fix it became `hi`,
    // every bucket width went NaN, and the loop spun to the depth cap
    val vs = (1 to 200).map(_.toDouble) ++ Seq(Double.NaN, Double.NaN)
    val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "value")
    val probs = Seq(0.0, 0.5, 1.0)
    val out = Scale.exactQuantiles(df, "value", probs, nBuckets = 16)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val sorted = vs.filterNot(_.isNaN).toArray.sorted
    probs.foreach(p => assert(out(p) == quantileContRef(sorted, p)))
  }

  test("exactQuantiles resolves ulp-adjacent subnormals via the exact " +
      "residual fallback (bucket width underflows to zero)") {
    val s = spark
    import s.implicits._
    val u = java.lang.Double.MIN_VALUE // smallest positive subnormal
    // width (4u − 0)/nBuckets underflows to 0 → the histogram cannot
    // split; before the fix the loop spun 64 levels then threw
    val vs = Seq(0.0, u, 2 * u, 3 * u, 4 * u, 4 * u)
    val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "value")
    val probs = Seq(0.0, 0.25, 0.5, 1.0)
    val out = Scale.exactQuantiles(df, "value", probs, nBuckets = 16)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val sorted = vs.toArray.sorted
    probs.foreach(p => assert(out(p) == quantileContRef(sorted, p)))
  }

  test("exactQuantilesByGroup keeps the NULL group (null-safe match)") {
    val s = spark
    import s.implicits._
    val rows: Seq[(Option[String], Double)] =
      (1 to 100).map(i => (Some("a"), i.toDouble)) ++
      (1 to 50).map(i => (None: Option[String], (i * 3).toDouble))
    val df = rows.zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v) }
      .toDF("id", "grp", "value")
    val probs = Seq(0.25, 0.5, 0.75)
    val out = Scale.exactQuantilesByGroup(df, "grp", "value", probs,
        nBuckets = 16).collect()
      .map(r => (Option(r.getString(0)), r.getDouble(1)) -> r.getDouble(2))
      .toMap
    assert(out.size == 6)
    rows.groupBy(_._1).foreach { case (g, gv) =>
      val sorted = gv.map(_._2).toArray.sorted
      probs.foreach { p =>
        assert(out((g, p)) == quantileContRef(sorted, p),
          s"g=$g p=$p")
      }
    }
  }

  test("exactQuantiles ignores nulls and handles the empty input") {
    val s = spark
    import s.implicits._
    val df = Seq[(Long, Option[Double])]((0L, Some(1.0)), (1L, None),
      (2L, Some(3.0)), (3L, Some(2.0))).toDF("id", "value")
    val out = Scale.exactQuantiles(df, "value", Seq(0.5), nBuckets = 4)
      .collect()
    assert(out.length == 1 && out(0).getDouble(1) == 2.0)
    val empty = Scale.exactQuantiles(df.filter(col("id") < 0L), "value",
      Seq(0.5))
    assert(empty.collect().isEmpty)
  }
}

/** bucketed tables co-locate join keys at WRITE time, so the join plan
  * needs no shuffle at READ time — the 100 TB repeated-join pattern
  */
class BucketingSpec extends SparkSpec {

  test("bucketed-by-key tables join with zero shuffle exchanges") {
    val dir = "/root/testdata/sf0.001"
    graft.core.Tables.load(spark, dir, "orders")
      .write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("orders_b")
    graft.core.Tables.load(spark, dir, "lineitem")
      .write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("lineitem_b")
    try {
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").count()
      val shuffles = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      // the join itself is shuffle-free; only the final tiny groupBy
      // aggregation may exchange
      assert(shuffles.size <= 1,
        s"expected bucketing to remove the join shuffle, got: $shuffles")
      assert(joined.count() >= 1)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }
}
