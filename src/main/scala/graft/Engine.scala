package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analytics.Health
import graft.meta.{MetaCatalog, Model}
import graft.ops.MetaOps

/** The catalog-and-health façade: the metadata explorer's user journey
  * over one connected catalog — browse and search tables, filter
  * snapshots and time-travel, inspect schema evolution and partition
  * specs, read the health dashboard — one method per step, each
  * returning a lazy DataFrame the caller composes further.
  *
  * The data pipelines are libraries, not façade methods: `graft.llm`
  * (dedup, similarity, text, sampling, media), `graft.stream`
  * (streaming gates and windows) and `graft.rel` (relational scale
  * operators) are called directly.
  *
  * Deterministic by construction: `asOfMs` pins the clock for every
  * analytics computation (the reference reads wall-clock mid-compute).
  */
class Engine(spark: SparkSession, catalog: MetaCatalog,
    asOfMs: Long = Model.AsOfMs) {

  private lazy val snaps = catalog.snapshots(spark)
  private lazy val meta = catalog.tableMeta(spark)
  private lazy val metricsDf = Health.tableMetrics(snaps, meta, asOfMs)

  // ---- catalog browsing (S4-S6, F8-F11) ------------------------------
  def tables: DataFrame = catalog.listing(spark)
  def searchTables(query: String): DataFrame =
    MetaOps.searchTables(tables, query)
  def treeCounts(query: String): DataFrame =
    MetaOps.treeFilterCountsMulti(tables, Seq(query))

  // ---- snapshot exploration (S7, F1-F4, O1, J8) ----------------------
  def snapshots: DataFrame = snaps
  def filterSnapshots(p: MetaOps.SnapshotFilterParams): DataFrame =
    snaps.filter(MetaOps.snapshotFilter(p))
  def timeTravel(tsMs: Long): DataFrame =
    MetaOps.timeTravel(snaps, meta, tsMs)

  // ---- schema / partition metadata (J1-J3) ---------------------------
  def schemaEvolution(cat: String, ns: String, table: String): DataFrame =
    MetaOps.schemaEvolution(catalog.schemaVersions(spark), cat, ns, table)
  def partitionFields: DataFrame =
    MetaOps.partitionResolve(catalog.partitionSpecs(spark),
      catalog.schemaVersions(spark))

  // ---- health dashboard (A1-A18) -------------------------------------
  def metrics: DataFrame = metricsDf
  def healthScores: DataFrame = Health.healthScore(metricsDf)
  def subScores: DataFrame = Health.subScores(metricsDf)
  def alerts: DataFrame = Health.alerts(metricsDf, asOfMs)
  def recommendations: DataFrame =
    Health.recommendations(alerts, meta)
  def trends: DataFrame = Health.trendsExact(snaps)
}
