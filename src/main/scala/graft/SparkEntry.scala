package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every [[QueryPack]]: each pack contributes named queries
  * (`(spark, sfDir) => DataFrame`) and, where ANSI-SQL expressible, the
  * DuckDB oracle SQL the driver checks them against.
  */
object SparkEntry {

  private val packs: Seq[QueryPack] = Seq(
    rel.RelQueries,
    meta.MetaQueries,
    llm.LlmQueries,
    stream.StreamQueries
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q05_region_revenue")(spark, "/root/testdata/sf0.001")

  type QueryFn = (SparkSession, String) => DataFrame

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, QueryFn] =
    packs.flatMap(_.queries).toMap

  /** the queries whose name matches `regex`, sorted by name */
  def select(regex: String): Seq[(String, QueryFn)] = {
    val r = regex.r
    queries.toSeq.filter { case (n, _) => r.findFirstIn(n).isDefined }.sortBy(_._1)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracles).toMap
}
