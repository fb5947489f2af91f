package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.Normalize

/** Metadata-domain operators (SURVEY §2.3/§2.4/§2.7/§2.8): snapshot
  * filters, search, the hierarchical tree filter, schema-evolution pivot,
  * partition-source resolve, and time-travel. All pure DataFrame plans —
  * filters/joins the optimizer can push and broadcast.
  */
object MetaOps {

  /** Snapshot-filter parameters, mirroring `SnapshotFilters`
    * (`/root/reference/src/components.rs:19-35`): `None` = bound disabled.
    * Default operation set is {append, overwrite, delete}.
    */
  case class SnapshotFilterParams(
      operationTypes: Seq[String] = Seq("append", "overwrite", "delete"),
      filesAddedMin: Option[Long] = None,
      filesAddedMax: Option[Long] = None,
      recordsAddedMin: Option[Long] = None,
      recordsAddedMax: Option[Long] = None,
      dateStart: Option[String] = None, // "YYYY-MM-DD"
      dateEnd: Option[String] = None)

  /** A17 — number of active filter groups, ≤ 4 (`components.rs:681-696`;
    * the op-type group counts as active when narrowed below the default 3)
    */
  def activeFilterCount(p: SnapshotFilterParams): Int =
    Seq(
      p.operationTypes.size < 3,
      p.filesAddedMin.isDefined || p.filesAddedMax.isDefined,
      p.recordsAddedMin.isDefined || p.recordsAddedMax.isDefined,
      p.dateStart.isDefined || p.dateEnd.isDefined).count(identity)

  /** "YYYY-MM-DD" → epoch millis at 00:00:00 (or 23:59:59) UTC; None on a
    * malformed date — which DISABLES the bound (`components.rs:755-779`).
    */
  def dayMs(d: String, endOfDay: Boolean): Option[Long] =
    try {
      val epochDay = java.time.LocalDate.parse(d).toEpochDay
      Some(epochDay * 86400000L + (if (endOfDay) 86399000L else 0L))
    } catch { case _: java.time.format.DateTimeParseException => None }

  /** F1-F4 conjunction (`components.rs:698-786`) over a normalized
    * snapshot frame. Fidelity notes:
    *   - F2/F3: a bound only fires when the summary exists, the key is
    *     present AND the value parses as an unsigned integer — otherwise
    *     the row PASSES (the reference's predicate lives inside
    *     `if let Ok(parse)`; SURVEY §7.5.2 flags this as the top
    *     divergence risk). [[Normalize.asU64]] encodes the parse.
    *   - F4: bounds are inclusive, [start 00:00:00, end 23:59:59] UTC in
    *     millis; a malformed date string disables that bound
    *     (`components.rs:754-780`).
    */
  def snapshotFilter(p: SnapshotFilterParams): Column = {
    def rangePass(v: Column, min: Option[Long], max: Option[Long]): Column = {
      val minOk = min.map(m => v.isNull || v >= m).getOrElse(lit(true))
      val maxOk = max.map(m => v.isNull || v <= m).getOrElse(lit(true))
      minOk && maxOk
    }

    val opOk =
      if (p.operationTypes.isEmpty) lit(true)
      else col("op").isin(p.operationTypes: _*)
    val filesOk = rangePass(col("added_files"), p.filesAddedMin, p.filesAddedMax)
    val recsOk =
      rangePass(col("added_records"), p.recordsAddedMin, p.recordsAddedMax)
    val startOk = p.dateStart.flatMap(dayMs(_, endOfDay = false))
      .map(ms => col("ts_ms") >= ms).getOrElse(lit(true))
    val endOk = p.dateEnd.flatMap(dayMs(_, endOfDay = true))
      .map(ms => col("ts_ms") <= ms).getOrElse(lit(true))
    opOk && filesOk && recsOk && startOk && endOk
  }

  /** F8 — global table search (`main.rs:653-667`): case-insensitive
    * substring on full_name OR name OR namespace, top-10 by O3
    * (`main.rs:740`) with a deterministic order (reference preserves
    * listing order; the engine totals the order on full_name).
    */
  def searchTables(listing: DataFrame, query: String): DataFrame = {
    val q = query.toLowerCase
    val full = Normalize.fullName(col("namespace"), col("table_name"))
    listing
      .withColumn("full_name", full)
      .filter(lower(col("full_name")).contains(q) ||
        lower(col("table_name")).contains(q) ||
        lower(col("namespace")).contains(q))
      .orderBy(col("full_name"))
      .limit(10)
  }

  /** F10 + A18 — hierarchical tree filter counts (`main.rs:839-940`),
    * for a BATCH of filter queries in one pass: a table is listed iff
    * its NAME matches; a namespace is shown iff its name matches OR it
    * has matching tables; a catalog is shown iff its name matches OR it
    * has shown namespaces. The listing is scanned once against the
    * exploded query set and the match bits aggregate bottom-up (table →
    * namespace → catalog → query) with three hash aggregations total,
    * so N concurrent filter queries cost one scan, not N (r3 verdict
    * task 8). One row per query; over an empty listing its counts are 0.
    */
  def treeFilterCountsMulti(listing: DataFrame,
      queries: Seq[String]): DataFrame = {
    val base = listing
      .select(col("catalog_name"), col("namespace"), col("table_name"),
        explode(array(queries.map(lit): _*)).as("query"))
      .withColumn("q", lower(col("query")))
      .withColumn("tbl_match", lower(col("table_name")).contains(col("q")))
    val ns = base
      .groupBy(col("query"), col("q"), col("catalog_name"), col("namespace"))
      .agg(sum(when(col("tbl_match"), 1L).otherwise(0L)).as("n_tbl"))
      .withColumn("ns_shown",
        lower(col("namespace")).contains(col("q")) || col("n_tbl") > 0)
    val cat = ns
      .groupBy(col("query"), col("q"), col("catalog_name"))
      .agg(sum(col("n_tbl")).as("n_tbl"),
        sum(when(col("ns_shown"), 1L).otherwise(0L)).as("n_ns"))
      .withColumn("cat_shown",
        lower(col("catalog_name")).contains(col("q")) || col("n_ns") > 0)
    // one zero row per query, so a query with no listing rows still counts
    val zeros = listing.sparkSession
      .createDataFrame(queries.map(q => (q, 0L, 0L, false)))
      .toDF("query", "n_tbl", "n_ns", "cat_shown")
    cat.select("query", "n_tbl", "n_ns", "cat_shown").unionByName(zeros)
      .groupBy(col("query"))
      .agg(sum(when(col("cat_shown"), 1L).otherwise(0L)).as("n_catalogs"),
        sum(col("n_ns")).as("n_namespaces"),
        sum(col("n_tbl")).as("n_tables"))
  }

  /** J2 + J3 + U1 — schema-evolution matrix (`components.rs:533-605`):
    * explode every schema version's fields, pivot field-id × schema-version
    * presence with the rendered cell "type[ REQ]"; the row label is the
    * field's name in the FIRST schema version carrying it
    * (`components.rs:548-552` → min schema_id); rows sorted by field_id
    * (`components.rs:541-542`). Pivot values are passed explicitly from a
    * cheap distinct so the plan width is deterministic (SURVEY §7.5.5).
    */
  def schemaEvolution(schemaVersions: DataFrame, catalog: String,
      ns: String, table: String): DataFrame = {
    val fields = schemaVersions
      .filter(col("catalog") === catalog && col("namespace") === ns &&
        col("name") === table)
      .select(col("schema_id"), explode(col("fields")).as("f"))
      .select(col("schema_id"), col("f.id").as("field_id"),
        col("f.name").as("fname"), col("f.required"), col("f.ftype"))
    val versions = fields.select("schema_id").distinct()
      .orderBy("schema_id").collect().map(_.getInt(0)).toSeq
    val cell = concat(col("ftype"), when(col("required"), " REQ").otherwise(""))
    val labels = fields.groupBy(col("field_id"))
      .agg(min_by(col("fname"), col("schema_id")).as("field_name"))
    val matrix = fields.withColumn("cell", cell)
      .groupBy(col("field_id"))
      .pivot("schema_id", versions.map(v => v: Any))
      .agg(first(col("cell")))
    val renamed = versions.foldLeft(matrix) { (df, v) =>
      df.withColumnRenamed(v.toString, s"s$v")
    }
    labels.join(renamed, "field_id").orderBy("field_id")
  }

  /** J1 + P6 — partition-source resolve (`components.rs:1592-1598`):
    * spec fields left-joined to the CURRENT schema's fields on
    * source_id = field.id; a miss renders the literal "Field {id}".
    * Schema side is tiny → broadcast.
    */
  def partitionResolve(partitionSpecs: DataFrame,
      schemaVersions: DataFrame): DataFrame = {
    val key = Seq("catalog", "namespace", "name")
    val specFields = partitionSpecs
      .select(col("catalog"), col("namespace"), col("name"), col("spec_id"),
        col("is_default"), explode(col("fields")).as("pf"))
      .select(key.map(col) ++ Seq(col("spec_id"), col("is_default"),
        col("pf.source_id"), col("pf.field_id"), col("pf.name").as("part_name"),
        col("pf.transform")): _*)
    val currentFields = schemaVersions.filter(col("is_current"))
      .select(col("catalog"), col("namespace"), col("name"),
        explode(col("fields")).as("f"))
      .select(key.map(col) ++ Seq(col("f.id").as("src_id"),
        col("f.name").as("src_name")): _*)
    specFields
      .join(broadcast(currentFields),
        key.map(k => specFields(k) === currentFields(k))
          .reduce(_ && _) && specFields("source_id") === currentFields("src_id"),
        "left")
      .select(specFields("catalog"), specFields("namespace"), specFields("name"),
        col("spec_id"), col("is_default"), col("source_id"), col("field_id"),
        col("part_name"), col("transform"),
        coalesce(col("src_name"),
          format_string("Field %d", col("source_id"))).as("source_field"))
  }

  /** J8 + J4 — time travel: the latest snapshot at-or-before `asOfMs` per
    * table, tagged with whether it is the table's current snapshot.
    * One shuffle on the table key; `max_by` keeps it a partial-aggregable
    * hash agg (no per-table sort).
    */
  def timeTravel(snapshots: DataFrame, tableMeta: DataFrame,
      asOfMs: Long): DataFrame = {
    val key = Seq("catalog", "namespace", "name")
    val picked = snapshots.filter(col("ts_ms") <= asOfMs)
      .groupBy(key.map(col): _*)
      .agg(max_by(struct(col("snapshot_id"), col("ts_ms"), col("op")),
        col("ts_ms")).as("s"))
      .select(col("catalog"), col("namespace"), col("name"),
        col("s.snapshot_id").as("snapshot_id"),
        timestamp_millis(col("s.ts_ms")).as("ts"), col("s.op").as("op"))
    picked.join(broadcast(tableMeta.select(col("catalog"), col("namespace"),
        col("name"), col("current_snapshot_id"))), key)
      .withColumn("is_current",
        col("snapshot_id") === col("current_snapshot_id"))
      .drop("current_snapshot_id")
  }
}
