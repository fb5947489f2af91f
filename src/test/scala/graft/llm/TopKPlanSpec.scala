package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Window => LWindow}

/** r8 verdict task 1 — the top-K ranking operators (x45 vocabCoverage,
  * x54 corpusDrift, x47 Bpe.pairRanking) must NOT funnel the full count
  * table through a single-partition global rank window: the plan must
  * pre-cut with a distributed `TakeOrderedAndProject` (per-partition
  * bounded heaps) and only then run the rank/cum window over the ≤ topK
  * survivors. These specs pin the plan shape so a refactor cannot
  * silently reintroduce the unbounded one-task sort.
  */
class TopKPlanSpec extends SparkSpec {

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private val docs = docsDf(Seq(
    (0L, "the quick brown fox jumps over the lazy dog the end"),
    (1L, "the quick brown fox sat on the mat"),
    (2L, "a b c d e f g the quick fox")))

  /** every Window in the optimized logical plan must sit ABOVE a limit
    * (its subtree contains a GlobalLimit), i.e. the window's input is
    * the topK-sized cut, never the full count table; and the physical
    * plan must realize that cut as TakeOrderedAndProject.
    */
  private def assertTopKShape(df: DataFrame, label: String): Unit = {
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: LWindow => w
    }
    assert(windows.nonEmpty, s"$label: expected a rank window")
    windows.foreach { w =>
      val limited = w.collectFirst { case g: GlobalLimit => g }
      assert(limited.nonEmpty,
        s"$label: a Window runs over an un-limited input (the r8 " +
          "single-partition global sort defect)")
    }
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("TakeOrderedAndProject"),
      s"$label: top-K cut did not plan as TakeOrderedAndProject:\n$phys")
  }

  test("x45 vocabCoverage plans a TakeOrderedAndProject pre-cut") {
    assertTopKShape(TextOps.vocabCoverage(docs, topK = 5, minCount = 1L),
      "vocabCoverage")
  }

  test("x54 corpusDrift plans a TakeOrderedAndProject pre-cut") {
    assertTopKShape(
      TextOps.corpusDrift(docs, docsDf(Seq(
        (3L, "the slow brown dog naps under the quick tree"),
        (4L, "x y z the fox"))), topK = 5, minCount = 1L),
      "corpusDrift")
  }

  test("x47 Bpe.pairRanking plans a TakeOrderedAndProject pre-cut") {
    assertTopKShape(Bpe.pairRanking(docs, topK = 5), "pairRanking")
  }

  test("x68 diverseSelect: global pick window only above the k-row cut") {
    val s = spark
    import s.implicits._
    // 3 tight clusters of 3 around orthogonal axes; centroids = one
    // member of each, so assignment is unambiguous
    def v(x: Double, y: Double, z: Double, j: Double) =
      Array(x, y, z, j).map(_.toFloat)
    val e = Seq(
      (0L, v(1, 0.1, 0, 0)), (1L, v(1, 0, 0.1, 0)), (2L, v(1, 0, 0, 0.1)),
      (10L, v(0.1, 1, 0, 0)), (11L, v(0, 1, 0.1, 0)), (12L, v(0, 1, 0, 0.1)),
      (20L, v(0.1, 0, 1, 0)), (21L, v(0, 0.1, 1, 0)), (22L, v(0, 0, 1, 0.1)))
      .toDF("vec_id", "embedding")
      .withColumn("label", org.apache.spark.sql.functions.lit(0))
    val out = Similarity.diverseSelect(e, Seq(0L, 10L, 20L), k = 7)
    // plan shape: the pick_order window must sit above the GlobalLimit
    val windows = out.queryExecution.optimizedPlan.collect {
      case w: LWindow => w
    }
    val global = windows.filter(_.partitionSpec.isEmpty)
    assert(global.nonEmpty, "expected the unpartitioned pick window")
    global.foreach { w =>
      assert(w.collectFirst { case g: GlobalLimit => g }.nonEmpty,
        "pick_order window runs over an un-limited input")
    }
    // round-robin semantics: all rank-1 picks (one per cluster) precede
    // every rank-2 pick, clusters in cid order within a round
    val rows = out.collect().sortBy(_.getAs[Int]("pick_order"))
    val ranks = rows.map(_.getAs[Int]("rank_in_cluster")).toSeq
    assert(ranks == ranks.sorted, "picks must advance round by round")
    assert(ranks.take(3) == Seq(1, 1, 1) && rows.length == 7)
    assert(rows.take(3).map(_.getAs[Long]("cid")).toSeq ==
      rows.take(3).map(_.getAs[Long]("cid")).toSeq.sorted)
  }

  test("vocabCoverage pre-cut is bit-identical to ranking the full table") {
    // the unbounded reference shape the operator used before r9: rank
    // the FULL filtered count table, then keep rank <= topK
    import org.apache.spark.sql.functions._
    val counts = TextOps.tokens(docs).groupBy(col("tok"))
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("tok").asc)
    val total = counts.agg(sum(col("c")).as("total"))
    val ref = counts.filter(col("c") >= 1L)
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("c")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)))
      .filter(col("rank") <= 5)
      .crossJoin(broadcast(total))
      .select(col("rank"), col("tok"), col("c"), col("cum"),
        (col("cum").cast("double") / col("total").cast("double"))
          .as("cum_frac"))
    val got = TextOps.vocabCoverage(docs, topK = 5, minCount = 1L)
    assert(got.collect().toSeq.sortBy(_.getAs[Long]("rank")) ==
      ref.collect().toSeq.sortBy(_.getAs[Long]("rank")))
  }
}
