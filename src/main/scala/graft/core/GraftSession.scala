package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory: UTC, AQE on, shuffle partitions sized to local cores
  * (the 100 TB deployment overrides via spark-submit conf; these are the
  * local-mode defaults per SURVEY.md §7.1).
  */
object GraftSession {

  /** Builder pre-configured for this engine. `cores` drives both the local
    * master threads and shuffle parallelism — on a real cluster the same
    * code runs with `spark.sql.shuffle.partitions` sized to the cluster.
    */
  def builder(appName: String, cores: String): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      // shuffle parallelism defaults to the core count but is its own
      // knob (a cluster sizes it to executors × cores; tiny local inputs
      // can size it down to cut per-reducer fixed overhead)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cores))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // static auto-broadcast stays ON: file-stat-derived estimates are
      // reliable and the metadata family's fixture joins depend on them
      // (turning it off engine-wide doubled m_total — measured, then
      // reverted). The UNRELIABLE estimates are generator-derived
      // candidate tables (posexplode pair sets), whose static size is a
      // schema-default guess an under-estimate of which statically plans
      // a BroadcastHashJoin AQE cannot demote — those join sites carry
      // explicit merge hints instead (Similarity.noStaticBroadcast).
      // scan-split sizing stays at the cluster defaults (128 MB
      // partitions / 4 MB open cost): measured locally, shrinking them to
      // fan toy-MB tables across all 32 cores costs more in task overhead
      // than the extra scan parallelism returns — Bench's multi-file
      // staging already breaks the 1-row-group → 1-task floor (r2 verdict
      // task 3), and a deployment's row groups are real 128 MB units.
      // always use the sort-based (serialized) shuffle writer (r16 floor
      // forensics): with shuffle.partitions=32 ≤ the 200 default
      // bypassMergeThreshold, local mode silently took the bypass-merge
      // writer — nPartitions spill files opened per MAP task — which a
      // real deployment (thousands of partitions) never uses. Forcing
      // the production writer cut the 48-query sub-second sweep 23%
      // wall / 34% summed task time (measured, graft.Trace census); this aligns
      // local execution with the at-scale code path rather than tuning
      // for the bench.
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // spark.driver.maxResultSize stays at the 1 GB default ON PURPOSE
      // (r13 verdict item 5): the cap is the guardrail that catches an
      // accidental driver-side collect in a future operator. Only the
      // Bench/Verify entry points raise it (their memory-sink streams
      // legitimately collect ~1 GB on duplication-heavy amplified
      // corpora; a deployment writes streams to files/Kafka instead).
      // native expression registration for every session (SURVEY §4)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // events.parquet carries TIMESTAMP(NANOS) which Spark cannot represent;
      // read as long nanos and convert once at ingest (Tables.load).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
