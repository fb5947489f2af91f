package graft.analytics

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.meta.{FixtureCatalog, Model}

/** fixture-driven end-to-end checks (scores hand-computed from
  * analytics.rs semantics) + the clamp property
  */
class HealthSpec extends SparkSpec {

  private lazy val cat = FixtureCatalog.default
  private lazy val metrics =
    Health.tableMetrics(cat.snapshots(spark), cat.tableMeta(spark),
      Model.AsOfMs)

  private def byTable[T](df: org.apache.spark.sql.DataFrame, col: String): Map[String, Any] =
    df.collect().map(r =>
      r.getAs[String]("name") -> r.getAs[Any](col)).toMap

  test("overall scores reproduce the analytics.rs fold on every fixture table") {
    val scores = byTable(Health.healthScore(metrics), "health_score")
    assert(scores == Map(
      "orders_hot" -> 50.0, // -30 small files crit, -20 freq crit
      "orders_cold" -> 75.0, // -25 compaction crit
      "clicks" -> 90.0, // -10 never compacted
      "features" -> 85.0, // -15 growth crit
      "training_runs" -> 90.0, // -10 never compacted
      "scratch" -> 90.0)) // -10 empty history ⇒ no compaction data
  }

  test("windowed activity counts use strict > bounds (analytics.rs:143-151)") {
    val m = metrics.collect().map(r =>
      r.getAs[String]("name") ->
        (r.getAs[Long]("last_hour"), r.getAs[Long]("last_day"),
          r.getAs[Long]("last_week"))).toMap
    assert(m("orders_hot") == ((25L, 30L, 35L)))
    // clicks: snapshots at exactly -7d and -1d are NOT counted (strict >)
    assert(m("clicks") == ((0L, 1L, 6L)))
    assert(m("scratch") == ((0L, 0L, 0L)))
  }

  test("file-size heuristic splits with `as u64` truncation (analytics.rs:92-104)") {
    val m = metrics.filter("name = 'features'").collect()(0)
    assert(m.getAs[Long]("total_files") == 5803L)
    assert(m.getAs[Long]("optimal_files") == 4062L) // floor(5803*0.7)
    assert(m.getAs[Long]("large_files") == 1740L) // floor(5803*0.3)
    assert(m.getAs[Double]("small_file_ratio") == 0.0)
  }

  test("compaction metrics: truncating num_hours/num_days math") {
    val m = metrics.collect().map(r => r.getAs[String]("name") -> r).toMap
    assert(m("orders_cold").getAs[Double]("days_since_compaction") == 20.0)
    assert(m("orders_hot").getAs[Double]("days_since_compaction") == 2.0)
    assert(m("orders_hot").getAs[Double]("avg_compaction_frequency_days") == 18.0)
    assert(m("clicks").isNullAt(m("clicks").fieldIndex("days_since_compaction")))
  }

  test("alerts: critical suppresses warning per category; growth stays Warning") {
    val alerts = Health.alerts(metrics, Model.AsOfMs).collect()
      .map(r => (r.getAs[String]("name"), r.getAs[String]("category"),
        r.getAs[String]("severity"))).toSet
    assert(alerts == Set(
      ("orders_hot", "small_files", "critical"),
      ("orders_hot", "high_snapshot_frequency", "critical"),
      ("orders_cold", "compaction_needed", "critical"),
      ("features", "storage_growth", "warning")))
  }

  test("recommendations: alert-driven rules + per-table retention stub") {
    val recs = Health.recommendations(
      Health.alerts(metrics, Model.AsOfMs), cat.tableMeta(spark)).collect()
      .map(r => (r.getAs[String]("name"), r.getAs[String]("action_type"),
        r.getAs[String]("priority")))
    assert(recs.count(_._2 == "retention_policy") == 6) // every table
    assert(recs.contains(("orders_hot", "compaction", "high")))
    assert(recs.contains(("orders_hot", "optimization", "medium")))
    assert(recs.contains(("orders_cold", "compaction", "high")))
    // StorageGrowth alerts generate no recommendation (analytics.rs:485)
    assert(!recs.exists(r => r._1 == "features" && r._2 != "retention_policy"))
  }

  test("property: health score is always clamped to [0, 100]") {
    val s = spark
    import s.implicits._
    val gen = for {
      ratio <- Gen.choose(0.0, 1.5)
      lastHour <- Gen.choose(0L, 100L)
      days <- Gen.option(Gen.choose(0.0, 60.0))
      growth <- Gen.choose(-100.0, 2000.0)
    } yield (ratio, lastHour, days, growth)
    val rows = (0 until 300).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(11L + i)))
    val df = rows.map { case (r, h, d, g) => ("c", "n", s"t$r$h", r, h, d, g) }
      .toDF("catalog", "namespace", "name", "small_file_ratio", "last_hour",
        "days_since_compaction", "storage_growth_rate_gb_per_day")
    val scores = Health.healthScore(df).select("health_score")
      .collect().map(_.getDouble(0))
    assert(scores.forall(v => v >= 0.0 && v <= 100.0))
    // max possible deduction = 30+20+25+15 = 90 ⇒ also ≥ 10 here
    assert(scores.forall(_ >= 10.0))
  }

  test("honest trend upgrade: regr_slope directions over recent history") {
    val t = Health.trendsExact(cat.snapshots(spark)).collect()
      .map(r => r.getAs[String]("name") ->
        r.getAs[String]("storage_growth_trend")).toMap
    assert(t("features") == "degrading") // ~800 GB/day growth
    // one end-of-history drop over a 52-day ramp stays under the ±5%
    // relative-slope threshold
    assert(t("orders_cold") == "stable")
    assert(!t.contains("scratch")) // no history, no trend row
    assert(t.values.toSet.subsetOf(Set("improving", "stable", "degrading")))
  }

  test("sub-scores and statuses (components.rs:1881-1946)") {
    val sub = Health.subScores(metrics).collect()
      .map(r => r.getAs[String]("name") -> r).toMap
    assert(sub("orders_hot").getAs[Double]("file_score") == 60.0) // -30 -10
    assert(sub("orders_hot").getAs[String]("file_status") == "Critical")
    assert(sub("orders_cold").getAs[Double]("storage_score") == 90.0) // stale
    assert(sub("orders_cold").getAs[String]("storage_status") == "Good")
    assert(sub("clicks").getAs[Double]("file_score") == 90.0) // avg 0 < 16
    assert(sub("scratch").getAs[Double]("operational_score") == 100.0)
  }
}
