package graft

import org.apache.spark.sql.functions.col

import graft.core.CacheScope

/** Each graft.Trace mode on two fixture-backed metadata queries (their
  * sfDir argument is unused). `main` is not called: it stops the session.
  */
class TraceSpec extends SparkSpec {

  private val names = Seq("m01_list_tables", "m04_op_distribution")
  private val qs = SparkEntry.select("^(m01_list_tables|m04_op_distribution)$")

  private def withMetrics[A](f: QueryMetrics => A): A = {
    val m = new QueryMetrics
    spark.sparkContext.addSparkListener(m)
    try f(m) finally spark.sparkContext.removeSparkListener(m)
  }

  test("select picks queries by regex, sorted") {
    assert(qs.map(_._1) == names)
  }

  test("census: one row per query with jobs") {
    val rows = withMetrics(Trace.census(spark, _, qs, "-"))
    assert(rows.map(_._1) == names)
    rows.foreach { case (n, r) =>
      assert(r.complete && r.totals.jobs >= 1 && r.totals.stages >= 1, n)
    }
  }

  test("jobs: one row per Spark job of one run") {
    names.foreach { n =>
      val r = withMetrics(Trace.jobs(spark, _, n, "-"))
      assert(r.totals.jobs >= 1 && r.jobs.size == r.totals.jobs, n)
    }
  }

  test("phases: build / plan / exec split per query") {
    val ps = withMetrics(Trace.phases(spark, _, qs, "-"))
    assert(ps.map(_.name) == names)
    ps.foreach { p =>
      assert(p.buildS >= 0 && p.planS > 0 && p.run.totals.jobs >= 1 && p.execS > 0, p.name)
    }
  }

  test("explain: a formatted plan per query") {
    val plans = Trace.explain(spark, qs, "-")
    assert(plans.map(_._1) == names)
    plans.foreach { case (n, p) => assert(p.contains("== Physical Plan =="), n) }
  }

  test("explain: frames a query keeps are released after its plan") {
    val keeps: SparkEntry.QueryFn = (s, _) =>
      CacheScope.keep(s.range(10).toDF("id")).filter(col("id") > 3)
    val plans = Trace.explain(spark, Seq("keeps" -> keeps), "-")
    assert(plans.head._2.contains("InMemoryRelation"))
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
