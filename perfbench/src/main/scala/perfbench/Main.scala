package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** Runs one workload for one seed and prints the result as the last line
  * of standard output.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work-dir <dir>
  * }}}
  *
  * A set-up is a new Spark session, the seeded inputs and, for
  * catalog_explore, the catalog server. A run sets up once cold, timed
  * from process start (`cold_setup_s` in the report line), then tears
  * down and sets up [[WarmSetUps]] more times in the same JVM; `setup_s`
  * is the median of these warm re-setups. The workload's untimed warm-up
  * follows, then the measured loop: whole sessions or passes, at least
  * one, until `--seconds` have passed.
  *
  * Timed runs (`--trace 0`) report the end-to-end metrics with tracing
  * off. Traced runs (`--trace 1`) trace the same loop, attribute Spark
  * work to each op's job group, then time the workload's warm probe
  * untraced and traced for the tracing overhead; the spans are written to
  * `<work-dir>/trace.jsonl` at the end.
  */
object Main {
  val WarmSetUps = 3
  val Workloads = Seq("catalog_explore", "corpus_curation", "media_funnel")
  val CorpusDocs = 4000
  val MediaImages = 80
  /** the media set the corpus workload's traced run attributes: at 200
    * images the keep gate's banded hamming join has about a thousand
    * candidate pairs, at 80 or fewer it often has none (the planted
    * variants share their base's exact hash)
    */
  val MediaAttrImages = 200

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, workDir: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    val w = need("--workload")
    require(Workloads.contains(w), s"unknown workload $w")
    Args(w, need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--work-dir")))
  }

  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  def session(workDir: Path): SparkSession = {
    val s = graft.core.GraftSession.builder("perfbench", cores.toString)
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "catalog_explore" => new CatalogExplore(ctx)
    case "corpus_curation" => new CorpusCuration(ctx, CorpusDocs)
    case "media_funnel" => new MediaFunnel(ctx, MediaImages)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // the engine's artifact store writes under java.io.tmpdir
    val tmp = a.workDir.resolve("tmp")
    Files.createDirectories(tmp)
    System.setProperty("java.io.tmpdir", tmp.toString)

    var startNs = System.nanoTime() - 1000000L *
      (System.currentTimeMillis - ManagementFactory.getRuntimeMXBean.getStartTime)
    val setupS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val digests = scala.collection.mutable.ArrayBuffer.empty[String]
    var ctx: Ctx = null
    var wl: Workload = null
    for (_ <- 0 to WarmSetUps) {
      if (wl != null) {
        wl.close(); ctx.spark.stop()
        System.gc()
        startNs = System.nanoTime()
      }
      ctx = new Ctx(session(a.workDir), a.seed, new Tracer(false), a.workDir,
        cores)
      wl = workload(a.workload, ctx)
      wl.prepare()
      digests += wl.inputDigest
      setupS += (System.nanoTime() - startNs) / 1e9
    }
    // equal seeds must give byte-identical inputs in every set-up
    val rec = new Recorder
    rec.attempt()
    if (digests.distinct.size != 1) rec.fail("inputs", "set-ups differ")
    // the warm-up's failures count; its latencies do not
    val w0 = System.nanoTime()
    val warm = new Recorder
    wl.warmUp(warm)
    rec.addCounts(warm)
    val warmS = (System.nanoTime() - w0) / 1e9
    // the loop's memory high-water mark, not the warm-up's
    System.gc()
    Stats.resetPeakRss()

    val result =
      try if (a.trace) traced(a, ctx, wl, rec)
        else timed(a, wl, rec, setupS.toSeq, warmS)
      finally { wl.close(); ctx.spark.stop() }
    println(result.toJson)
    System.out.flush()
  }

  private def host(a: Args): Seq[(String, Any)] = Seq(
    "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
    "trace" -> a.trace, "nproc" -> Runtime.getRuntime.availableProcessors,
    "spark_cores" -> cores,
    "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
    "java" -> System.getProperty("java.version"),
    "spark" -> org.apache.spark.SPARK_VERSION)

  private def timed(a: Args, wl: Workload, rec: Recorder,
      setupS: Seq[Double], warmS: Double): Result = {
    val t0 = System.nanoTime()
    wl.loop(rec, t0 + a.seconds * 1000000000L)
    val wallS = (System.nanoTime() - t0) / 1e9
    // memory is reported, not gated: both figures move by tens of percent
    // between runs of the same code
    val peakRss = Stats.peakRssMb()
    val metrics = Seq("setup_s" -> Metric(Stats.median(setupS.tail), "s")) ++
      wl.endToEnd(rec)
    println(Report.line(host(a) ++ Seq("wall_s" -> wallS,
      "cold_setup_s" -> setupS.head,
      "setup_samples_s" -> setupS.tail.mkString(","), "warmup_s" -> warmS,
      "peak_rss_mb" -> peakRss, "retained_heap_mb" -> Stats.retainedHeapMb(),
      "error_rate" -> rec.failed.toDouble / rec.attempted) ++
      wl.report(rec) ++ metrics.map { case (k, m) => k -> m.value }))
    Result(rec.failed == 0, rec.attempted, rec.failed, metrics)
  }

  private def traced(a: Args, ctx: Ctx, wl: Workload, rec: Recorder): Result = {
    val sc = ctx.spark.sparkContext
    val tracer = new Tracer(true)
    val jobs = new JobAttribution
    ctx.tracer = tracer
    sc.addSparkListener(jobs)
    val t0 = System.nanoTime()
    wl.loop(rec, t0 + a.seconds * 1000000000L)
    val wallS = (System.nanoTime() - t0) / 1e9
    val drained = BenchBus.drain(sc, 30000)
    val groups = jobs.groups
    val unmapped = jobs.unmapped
    val selfS = tracer.selfNs.values.sum / 1e9
    val spans = tracer.spans.size

    // tracing overhead: the probe untraced, then traced (the
    // listener stays attached: it is part of tracing)
    def probe(t: Tracer): Double = {
      ctx.tracer = t
      val p0 = System.nanoTime()
      wl.probe(rec)
      (System.nanoTime() - p0) / 1e9
    }
    val plainS = { sc.removeSparkListener(jobs); probe(new Tracer(false)) }
    val tracedS = { sc.addSparkListener(jobs); probe(new Tracer(true)) }

    ctx.tracer = tracer
    sc.setJobGroup("attribution", "attribution")
    val extra = wl.attribute(rec)
    sc.clearJobGroup()
    sc.removeSparkListener(jobs)
    tracer.write(a.workDir.resolve("trace.jsonl"))

    val layer = Layers.compute(tracer, groups, ctx.cores, wallS) ++ extra ++
      Map(
        "spark.unmapped" -> Metric(unmapped.toDouble, "count"),
        "trace.overhead_ratio" -> Metric(tracedS / plainS, "ratio"),
        "trace.self_s" -> Metric(selfS, "s"),
        "trace.wall_s" -> Metric(wallS, "s"))
    val metrics = Metrics.PerLayer.map(d =>
      d.name -> layer.getOrElse(d.name, Metric(0.0, d.unit)))
    // the loop is single-threaded: its spans' self times cannot add up to
    // more than its wall, and the bus must have delivered every event
    rec.attempt()
    if (selfS > wallS || !drained)
      rec.fail("trace", s"self $selfS s vs wall $wallS s, bus drained: $drained")
    println(Report.line(host(a) ++ Seq(
      "error_rate" -> rec.failed.toDouble / rec.attempted, "spans" -> spans,
      "probe_untraced_s" -> plainS, "probe_traced_s" -> tracedS) ++
      metrics.map { case (k, m) => k -> m.value }))
    Result(rec.failed == 0, rec.attempted, rec.failed, metrics)
  }
}

/** Per-layer metrics the traced loop yields for every workload. */
object Layers {
  /** per-op summed duration of spans named `name`, then the median, ms */
  def medianPerOpMs(t: Tracer, name: String): Double = {
    val per = t.spans.filter(_.name == name).groupBy(_.opId).values
      .map(_.map(_.durNs).sum / 1e6).toSeq
    if (per.isEmpty) 0.0 else Stats.median(per)
  }

  def compute(t: Tracer, groups: Map[String, GroupTotals], cores: Int,
      wallS: Double): Map[String, Metric] = {
    def kindOf(g: String) = g.takeWhile(_ != '#')
    val work = groups.filter { case (g, _) => g.contains('#') &&
      !g.startsWith("check#") }
    val all = new GroupTotals
    work.values.foreach(all.add)
    def ofKind(k: String) = {
      val out = new GroupTotals
      work.foreach { case (g, v) => if (kindOf(g) == k) out.add(v) }
      out
    }
    val opCounts = work.keys.groupBy(kindOf).map { case (k, v) => k -> v.size }
    val interactive = CatOp.Kinds.filter(opCounts.contains)
    val perOpJobs =
      if (interactive.nonEmpty)
        interactive.map(k => ofKind(k).jobs).sum.toDouble /
          interactive.map(opCounts).sum
      else if (work.nonEmpty) all.jobs.toDouble / work.size else 0.0
    val opSplit = CatOp.Kinds.flatMap { k =>
      Seq("build", "plan", "exec").map(p =>
        s"op.$k.${p}_ms" -> Metric(medianPerOpMs(t, s"op.$k.$p"), "ms"))
    }
    def s(name: String) = medianPerOpMs(t, name) / 1000
    (opSplit ++ Seq(
      "spark.jobs_per_op" -> Metric(perOpJobs, "count"),
      "spark.jobs" -> Metric(all.jobs.toDouble, "count"),
      "spark.stages" -> Metric(all.stages.toDouble, "count"),
      "spark.tasks" -> Metric(all.tasks.toDouble, "count"),
      "spark.cpu_s" -> Metric(all.cpuNs / 1e9, "s"),
      "spark.run_s" -> Metric(all.runMs / 1e3, "s"),
      "spark.gc_s" -> Metric(all.gcMs / 1e3, "s"),
      "spark.shuffle_read_bytes" -> Metric(all.shuffleRead.toDouble, "bytes"),
      "spark.shuffle_write_bytes" ->
        Metric(all.shuffleWrite.toDouble, "bytes"),
      "spark.spill_bytes" -> Metric(all.spill.toDouble, "bytes"),
      "spark.cpu_util" -> Metric(all.cpuNs / 1e9 / (wallS * cores), "ratio"),
      "funnel.s" -> Metric(s("funnel"), "s"),
      "sim.knn_graph_s" -> Metric(s("knn_graph"), "s"),
      "sim.communities_s" -> Metric(s("communities"), "s"),
      "refresh.diff_s" -> Metric(s("refresh.diff"), "s"),
      "refresh.rescore_s" -> Metric(s("refresh.rescore"), "s"),
      "sources.write_s" -> Metric(s("write"), "s"),
      "sources.read_s" -> Metric(s("sources.read"), "s"))).toMap
  }
}
