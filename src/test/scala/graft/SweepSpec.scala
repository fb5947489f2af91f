package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame

import graft.QueryMetrics.{Run, Totals}

/** The timed-run protocol on small `spark.range` bodies, and the key
  * sequences of Bench's JSON lines. */
class SweepSpec extends SparkSpec {

  private def withSweep[A](f: Sweep => A): A = {
    val m = new QueryMetrics
    spark.sparkContext.addSparkListener(m)
    try f(new Sweep(spark, m, "sweep-spec")) finally spark.sparkContext.removeSparkListener(m)
  }

  private def count(n: Long): () => Unit = () => { spark.range(0, n, 1, 2).count(); () }

  test("a warm-up run plus N sweeps give N runs per name, each with its jobs and complete") {
    val runs = withSweep(_(Seq("a" -> count(10), "b" -> count(20)), 3)())
    assert(runs.keys.toSeq == Seq("a", "b"))
    runs.foreach { case (n, rs) =>
      assert(rs.size == 3, n)
      rs.foreach(r => assert(r.complete && r.totals.jobs >= 1, n))
    }
  }

  test("onPass sees the warm-up runs, then the sweep runs so far") {
    val seen = scala.collection.mutable.ListBuffer.empty[Int]
    withSweep(_(Seq("a" -> count(10)), 2)(rs => seen += rs("a").size))
    assert(seen == Seq(1, 1, 2))
  }

  test("a body that throws on its second call is failed once and not run again") {
    var calls = 0
    val flaky = () => {
      calls += 1
      if (calls == 2) throw new IllegalStateException("second call\nsecond line")
      spark.range(0, 5, 1, 1).count(); ()
    }
    val (runs, failed) = withSweep(s => (s(Seq("flaky" -> flaky, "ok" -> count(10)), 3)(), s.failed))
    assert(calls == 2)
    assert(failed.toSeq == Seq("flaky" -> "second call"))
    assert(runs.keys.toSeq == Seq("ok") && runs("ok").size == 3)
  }

  test("a frame persisted outside CacheScope.keep is named a leak and released") {
    val kept = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val leaky = () => {
      val df = spark.range(0, 100 + kept.size, 1, 2).toDF("leak").persist()
      kept += df
      df.count(); ()
    }
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try {
      val leaks = withSweep { s => s(Seq("leaky" -> leaky, "clean" -> count(10)), 1)(); s.leaks }
      assert(leaks.toSeq == Seq("leaky"))
      assert(kept.size == 2 && (spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    } finally kept.foreach(_.unpersist(blocking = true))
  }

  private def keys(line: String): Seq[String] =
    new ObjectMapper().readTree(line).fieldNames().asScala.toSeq

  private val report = Bench.Report(
    sf = scala.collection.mutable.LinkedHashMap("q01" -> Seq(Run("g", 1.5, Totals(jobs = 2, stages = 3), Nil, true))),
    m = scala.collection.mutable.LinkedHashMap.empty, failed = Map("x01" -> "boom \"quoted\""),
    leaks = Nil, incomplete = Nil, unmapped = 0, gate = Sweep.Gate("ok", 0.5, 0), loads = Seq(0.5, 0.7),
    passes = 4, staged = true, amplify = 0, sfDir = "/data/sf0.1", mSelected = 0, fullSelection = false)

  test("the compact final Bench line keeps its key sequence") {
    assert(keys(report.line(Bench.Line.Final)) == Seq("metric", "value", "unit", "m_total",
      "m_guard", "load_gate", "start_load", "quiet_wait_s", "canonical", "task_time_total_s",
      "stages_total", "m_floor_ratio", "total_min", "staged", "amplify", "load_avg", "failed",
      "n_ok", "n_failed", "sf", "queries_file"))
  }

  test("the partial, stdout and file Bench lines keep their key sequences") {
    val tail = Seq("staged", "amplify", "load_avg", "failed", "n_ok", "n_failed", "sf")
    val gate = Seq("m_guard", "load_gate", "start_load", "quiet_wait_s", "canonical",
      "task_time_total_s", "stages_total", "m_floor_ratio")
    assert(keys(report.line(Bench.Line.Partial)) == Seq("metric", "value", "unit", "partial",
      "passes", "queries", "m_total", "total_min") ++ tail)
    assert(keys(report.line(Bench.Line.Stdout)) ==
      Seq("metric", "value", "unit", "queries", "m_total") ++ gate ++ ("total_min" +: tail))
    assert(keys(report.line(Bench.Line.File)) == Seq("metric", "value", "unit", "queries",
      "queries_min", "m_queries", "m_queries_min", "task_time_s", "stages", "cpu_s", "jobs",
      "shuffle_mb", "spill_mb", "metrics_incomplete", "cache_leaks", "unmapped", "m_total") ++
      gate ++ ("total_min" +: tail))
  }
}
