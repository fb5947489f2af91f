package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** [[Banded]] candidate generation: cap arithmetic, sub-shard assignment,
  * singleton policy, emitters and the equivalence of its two sizings.
  */
class BandedSpec extends SparkSpec {

  private val Keys = Seq("band", "bh")

  /** (id, band, bh) band rows; `buckets` maps a bucket key to its ids */
  private def rows(buckets: (String, Seq[Long])*): DataFrame = {
    val s = spark
    import s.implicits._
    buckets.flatMap { case (bh, ids) => ids.map(i => (i, 1, bh)) }
      .toDF("id", "band", "bh")
  }

  /** the sub-shard expression as Dedup.subShard spelled it before
    * [[Banded]] owned it — the assignment Banded must keep
    */
  private def legacySubShard(bucketKey: Column, rowKey: Column,
      nsh: Column): Column =
    when(nsh <= 1, lit(0)).otherwise(
      pmod(conv(substring(md5(concat_ws("#", bucketKey, rowKey)), 1, 7),
        16, 10).cast("long"), nsh).cast("int"))

  private def groupSet(g: DataFrame): Set[(String, Int, Seq[Long])] =
    g.collect().map(r => (r.getAs[String]("bh"), r.getAs[Int]("sub"),
      r.getSeq[Long](r.fieldIndex(Banded.Members)))).toSet

  private val Sizings = Seq(Banded.CountWindow, Banded.SizeJoin(8),
    Banded.SizeJoin(32))

  test("a bucket of 2·maxBucket+1 members splits into 3 subs, as the old " +
      "sub-shard assigned them") {
    val m = 5
    val big = rows("big" -> (100L until 111L), "small" -> Seq(7L, 8L))
    Sizings.foreach { sz =>
      val c = Banded.capped(big, Keys, "id", m, sz, keepSingletons = false)
        .withColumn("legacy", legacySubShard(col("bh"), col("id"), lit(3)))
        .collect()
      val (b, s) = c.partition(_.getAs[String]("bh") == "big")
      assert(b.length == 11 && b.forall(_.getAs[Long]("bsz") == 11L))
      assert(b.forall(_.getAs[Int]("nsh") == 3), s"$sz: ceil(11/5) shards")
      assert(b.map(_.getAs[Int]("sub")).toSet == Set(0, 1, 2))
      b.foreach(r => assert(r.getAs[Int]("sub") == r.getAs[Int]("legacy"),
        s"$sz: id ${r.getAs[Long]("id")}"))
      assert(s.forall(r => r.getAs[Int]("nsh") == 1 && r.getAs[Int]("sub") == 0))
      val g = groupSet(Banded.pairGroups(big, Keys, "id", col("id"), m, sz))
      val bigGroups = g.filter(_._1 == "big").toSeq
      assert(bigGroups.map(_._2).toSet == Set(0, 1, 2))
      assert(bigGroups.flatMap(_._3).sorted == (100L until 111L))
      assert(g.forall { case (_, _, ms) => ms == ms.sorted && ms.size > 1 })
    }
    // what the cap re-shards is exactly what the diagnostic lists:
    // size maxBucket stays whole, maxBucket + 1 splits
    val edge = rows("at" -> (0L until 5L), "over" -> (10L until 16L))
    assert(Banded.oversized(edge, Keys, m).collect()
      .map(r => r.getAs[String]("bh") -> r.getAs[Long]("bsz")).toSeq ==
      Seq("over" -> 6L))
  }

  test("singleton buckets drop unless kept, under both sizings") {
    val in = rows("one" -> Seq(1L), "two" -> Seq(2L, 3L),
      "three" -> Seq(4L, 5L, 6L))
    Sizings.foreach { sz =>
      def bucketsOf(keep: Boolean) = Banded.capped(in, Keys, "id", 2, sz, keep)
        .collect().map(_.getAs[String]("bh")).toSet
      assert(bucketsOf(keep = false) == Set("two", "three"), s"$sz")
      assert(bucketsOf(keep = true) == Set("one", "two", "three"), s"$sz")
      val pairs = groupSet(Banded.pairGroups(in, Keys, "id", col("id"), 2, sz))
      assert(!pairs.exists(_._1 == "one") && pairs.forall(_._3.size > 1))
      val probe = Banded.probeGroups(in, Keys, "id", col("id"), 2, sz)
        .collect().map(r => r.getAs[String]("bh") ->
          r.getSeq[Long](r.fieldIndex(Banded.Members)).toSet)
      assert(probe.toSet.contains("one" -> Set(1L)), s"$sz")
      assert(probe.flatMap(_._2).sorted.toSeq == (1L to 6L))
    }
  }

  test("clique gives C(d,2) pairs; star gives d−1 edges, same components") {
    // band 1: {0..5} and {10..13}; band 2 links 5 to 10 and leaves 20-21
    val s = spark
    import s.implicits._
    val in = ((0L to 5L).map(i => (i, 1, "a")) ++
      (10L to 13L).map(i => (i, 1, "b")) ++
      Seq((5L, 2, "c"), (10L, 2, "c"), (20L, 2, "d"), (21L, 2, "d")))
      .toDF("id", "band", "bh")
    val g = Banded.pairGroups(in, Keys, "id", col("id"), 100,
      Banded.CountWindow)
    def edges(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSeq
    val clique = edges(Banded.clique(g, "a", "b"))
    val star = edges(Banded.star(g, "a", "b"))
    assert(clique.size == 15 + 6 + 1 + 1, "Σ C(d,2) over d = 6, 4, 2, 2")
    assert(clique.forall { case (a, b) => a < b })
    assert(clique.toSet.size == clique.size)
    assert(star.size == 5 + 3 + 1 + 1, "Σ (d−1)")
    assert(star.toSet.subsetOf(clique.toSet))
    def components(es: Seq[(Long, Long)]): Set[Set[Long]] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) => parent(find(a)) = find(b) }
      parent.keys.toSeq.groupBy(find).values.map(_.toSet).toSet
    }
    assert(components(star) == components(clique))
    assert(components(clique) ==
      Set((0L to 5L).toSet ++ (10L to 13L).toSet, Set(20L, 21L)))
  }

  test("count-window and size-join sizings give equal groups") {
    val rnd = new scala.util.Random(9)
    // 40 ids over 6 buckets in 2 bands: sizes from 1 up to past the cap
    val s = spark
    import s.implicits._
    val in = (0L until 40L).flatMap(i => Seq(1, 2).map(b =>
      (i, b, s"k${rnd.nextInt(if (b == 1) 2 else 6)}"))).toDF("id", "band", "bh")
    def full(sz: Banded.Sizing, probe: Boolean) = {
      val g = if (probe) Banded.probeGroups(in, Keys, "id", col("id"), 7, sz)
        else Banded.pairGroups(in, Keys, "id", col("id"), 7, sz)
      g.collect().map((r: Row) => (r.getAs[Int]("band"), r.getAs[String]("bh"),
        r.getAs[Int]("sub"), r.getSeq[Long](r.fieldIndex(Banded.Members)).sorted))
        .toSet
    }
    val window = full(Banded.CountWindow, probe = false)
    assert(window.exists(_._3 > 0), "the fixture must trigger the cap")
    Sizings.tail.foreach { sz =>
      assert(full(sz, probe = false) == window, s"$sz")
      assert(full(sz, probe = true) == full(Banded.CountWindow, probe = true),
        s"$sz")
    }
  }

  test("hamming band rows: shift-and-mask per band, nBands must divide 64") {
    val s = spark
    import s.implicits._
    val in = Seq((1L, -1L), (2L, 0x0102030405060708L)).toDF("id", "h")
    val got = Banded.hammingBands(in, "h", 8).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("band")) ->
        r.getAs[Long]("bucket")).toMap
    assert((0 until 8).forall(b => got((1L, b)) == 255L),
      "sign-extension bits stay outside the mask")
    assert((0 until 8).map(b => got((2L, b))) == (8L to 1L by -1L))
    intercept[IllegalArgumentException](Banded.hammingBands(in, "h", 3))
  }
}
