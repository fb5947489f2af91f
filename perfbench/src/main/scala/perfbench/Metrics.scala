package perfbench

/** One metric the benchmark reports: its layer, and the end-to-end
  * metric (and workload) a change in it should move.
  */
final case class MetricDef(name: String, unit: String, better: String,
    layer: String, moves: String, bound: Option[Double] = None)

/** The benchmark's metric catalog: every name the result line can carry. */
object Metrics {
  private def lo(n: String, u: String, layer: String, moves: String) =
    MetricDef(n, u, "lower", layer, moves)
  private def hi(n: String, u: String, layer: String, moves: String) =
    MetricDef(n, u, "higher", layer, moves)

  /** gated in timed runs (tracing off); every workload reports each one */
  val EndToEnd: Seq[MetricDef] = Seq(
    MetricDef("setup_s", "s", "lower", "end_to_end",
      "median of 3 warm re-setups in one JVM, each a new Spark session, " +
        "the seeded inputs and the catalog server; the cold set-up from " +
        "process start is cold_setup_s in the report line",
      Some(0.25)),
    MetricDef("pass_s", "s", "lower", "end_to_end",
      "headline pass: catalog_explore the median connect (connect_s: a " +
        "new RestHttpCatalog to its listing collected, over 6 connects); " +
        "corpus_curation the full build (docs_per_s = docs / pass_s); " +
        "media_funnel mediaCurationFunnel (files_per_s = files / pass_s)",
      Some(0.24)),
    MetricDef("op_mean_ms", "ms", "lower", "end_to_end",
      "mean latency of the follow-up ops: catalog_explore one interactive " +
        "Engine op of each kind; corpus_curation the incremental refresh " +
        "(= refresh_s); media_funnel mediaDedupKeep", Some(0.24)))

  private val opTypes = CatOp.Kinds
  private val meta = "graft.meta"
  private val ops = "graft.ops+graft.analytics"
  private val core = "graft.core"
  private val llm = "graft.llm+graft.functions"
  private val src = "graft.sources"
  private val media = "graft.llm.Multimodal"
  private val connect = "pass_s (= connect_s) on catalog_explore"
  private val opLat = "op_mean_ms on catalog_explore"
  private val docs = "pass_s (docs_per_s) on corpus_curation"
  private val refresh = "op_mean_ms (refresh_s) on corpus_curation"
  private val files = "pass_s (files_per_s) on media_funnel"
  private val sparkMoves = "op_mean_ms on catalog_explore, pass_s and " +
    "op_mean_ms on corpus_curation, pass_s on media_funnel"

  /** reported by traced runs; a layer a workload never calls reads 0 */
  val PerLayer: Seq[MetricDef] = Seq(
    lo("meta.http_requests", "count", meta, connect),
    lo("meta.requests_per_table", "ratio", meta, connect),
    lo("meta.req_list", "count", meta, connect),
    lo("meta.req_load", "count", meta, connect),
    lo("meta.retries", "count", meta, connect),
    lo("meta.bytes_served", "bytes", meta, connect),
    lo("meta.server_busy_s", "s", meta, connect),
    lo("meta.parse_s", "s", meta, connect),
    lo("meta.frame_build_s", "s", meta, connect)) ++
    opTypes.flatMap(t => Seq("build", "plan", "exec")
      .map(p => lo(s"op.$t.${p}_ms", "ms", ops, opLat))) ++
    Seq(
      lo("spark.jobs_per_op", "count", ops, opLat),
      lo("spark.jobs", "count", core, sparkMoves),
      lo("spark.stages", "count", core, sparkMoves),
      lo("spark.tasks", "count", core, sparkMoves),
      lo("spark.cpu_s", "s", core, sparkMoves),
      lo("spark.run_s", "s", core, sparkMoves),
      lo("spark.gc_s", "s", core, sparkMoves),
      lo("spark.shuffle_read_bytes", "bytes", core, sparkMoves),
      lo("spark.shuffle_write_bytes", "bytes", core, sparkMoves),
      lo("spark.spill_bytes", "bytes", core, sparkMoves),
      hi("spark.cpu_util", "ratio", core, sparkMoves),
      lo("spark.unmapped", "count", core, "none: stages or tasks no job " +
        "group claimed (attribution completeness)"),
      hi("functions.minhash_rows_per_s", "1/s", llm, docs),
      lo("text.quality_gate_s", "s", llm, docs),
      lo("dedup.cluster_s", "s", llm, docs),
      lo("funnel.s", "s", llm, docs),
      lo("dedup.candidate_pairs", "count", llm, docs),
      hi("dedup.verified_pairs", "count", llm, docs),
      hi("dedup.pair_yield", "ratio", llm, docs),
      lo("sim.knn_graph_s", "s", llm, docs),
      lo("sim.communities_s", "s", llm, docs),
      lo("refresh.diff_s", "s", llm, refresh),
      lo("refresh.probe_s", "s", llm, refresh),
      lo("refresh.rescore_s", "s", llm, refresh),
      lo("sources.write_s", "s", src, docs),
      lo("sources.bytes_written", "bytes", src, docs),
      lo("sources.read_s", "s", src, refresh),
      hi("media.decode_mb_per_s", "MB/s", media, files),
      lo("media.phash_s", "s", media, files),
      lo("media.keep_s", "s", media, "op_mean_ms on media_funnel"),
      lo("media.hamming_candidates", "count", media, files),
      hi("media.hamming_pairs", "count", media, files),
      hi("media.pair_yield", "ratio", media, files),
      lo("media.funnel_jobs", "count", media, files),
      lo("media.funnel_cpu_s", "s", media, files),
      lo("trace.overhead_ratio", "ratio", "trace", "none"),
      lo("trace.self_s", "s", "trace", "none: summed span self time of " +
        "the traced loop, at most trace.wall_s"),
      lo("trace.wall_s", "s", "trace", "none"))
}

/** Prints the metric catalog as JSON (the source of perfbench/metrics.json
  * and of the metric lists in BENCHMARK.json).
  */
object Describe {
  def main(args: Array[String]): Unit = {
    val root = Report.M.createObjectNode()
    def put(key: String, ds: Seq[MetricDef]): Unit = {
      val arr = root.putArray(key)
      ds.foreach { d =>
        val o = arr.addObject()
        o.put("name", d.name); o.put("unit", d.unit)
        o.put("better", d.better); o.put("layer", d.layer)
        o.put("moves", d.moves)
        d.bound.foreach(o.put("bound", _))
      }
    }
    put("end_to_end", Metrics.EndToEnd)
    put("per_layer", Metrics.PerLayer)
    println(Report.M.writerWithDefaultPrettyPrinter().writeValueAsString(root))
  }
}
