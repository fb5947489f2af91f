package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.llm.Multimodal

/** Synthetic PNG, WAV and MP4 files through the media curation funnel
  * (`Multimodal.mediaCurationFunnel`) and the cross-modal dedup keep gate
  * (`Multimodal.mediaDedupKeep`), one after the other, in a closed loop.
  */
final class MediaFunnel(ctx: Ctx, nImg: Int) extends Workload {
  val name = "media_funnel"
  private val spark = ctx.spark
  import spark.implicits._

  private var set: MediaSet = _
  private def path = ctx.workDir.resolve("inputs").resolve("media").toString
  private def media = spark.read.parquet(path)

  def prepare(): Unit = {
    set = MediaGen.generate(ctx.seed, nImg)
    spark.createDataFrame(set.files).repartition(ctx.cores)
      .write.mode("overwrite").parquet(path)
  }

  def inputDigest: String = Digest.of(set.files.iterator.flatMap(f =>
    Iterator(Digest.str(s"${f.media_id}|${f.kind}|${f.duration_ms}|"),
      f.payload)))

  private def funnel(rec: Recorder): Unit =
    ctx.op(rec, "media_funnel") { _ =>
      Multimodal.mediaCurationFunnel(media).collect()
    }(MediaFunnel.checkFunnel(set, _))

  /** share of exposure-class variants clustered with their base, from
    * the last keep verdicts (reported, not checked)
    */
  private var exposureRecall = Double.NaN

  private def keep(rec: Recorder): Unit =
    ctx.op(rec, "media_keep") { _ =>
      Multimodal.mediaDedupKeep(media)
        .select("media_id", "cluster_id", "keep")
        .as[(Long, Long, Boolean)].collect()
    } { rows =>
      val cluster = rows.map(r => r._1 -> r._2).toMap
      exposureRecall = set.exposureVariants.count { case (b, v) =>
        cluster.get(b).isDefined && cluster.get(b) == cluster.get(v)
      }.toDouble / set.exposureVariants.size.max(1)
      MediaFunnel.checkKeep(set, rows)
    }

  private def onePass(rec: Recorder): Unit = {
    funnel(rec); spark.catalog.clearCache()
    keep(rec); spark.catalog.clearCache()
  }

  def warmUp(rec: Recorder): Unit = {
    Parallel.all(ctx.cores)(() => funnel(rec), () => keep(rec))
    spark.catalog.clearCache()
  }

  def probe(rec: Recorder): Unit = { keep(rec); spark.catalog.clearCache() }

  /** whole passes until the deadline, at least one */
  def loop(rec: Recorder, deadlineNs: Long): Unit =
    do { System.gc(); onePass(rec) } while (System.nanoTime() < deadlineNs)

  def endToEnd(rec: Recorder): Seq[(String, Metric)] = Seq(
    "pass_s" -> Metric(Stats.median(rec.of("media_funnel")) / 1000, "s"),
    "op_mean_ms" -> Metric(Stats.mean(rec.of("media_keep")), "ms"))

  def report(rec: Recorder): Seq[(String, Any)] = Seq(
    "files" -> set.files.size,
    "payload_mb" -> set.bytes / 1e6,
    "funnels" -> rec.of("media_funnel").size,
    "files_per_s" ->
      set.files.size / (Stats.median(rec.of("media_funnel")) / 1000),
    "keep_s" -> Stats.median(rec.of("media_keep")) / 1000,
    "planted_variants" -> set.variants.size,
    "exposure_variants" -> set.exposureVariants.size,
    "exposure_variant_recall" -> exposureRecall)

  /** the funnel and the keep gate once each under their own job groups,
    * then the decode and pHash layers alone, and the keep gate's hamming
    * edge generator (`Multimodal.hammingCcEdges`, image and audio, with
    * the keep gate's band geometry) with its candidate and verified rows
    * read from the executed plan
    */
  def attribute(rec: Recorder): Map[String, Metric] = {
    def timed(span: String)(body: => Unit): Double =
      ctx.span(span, -1) {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val sc = spark.sparkContext
    val jobs = new JobAttribution
    sc.addSparkListener(jobs)
    sc.setJobGroup("media#funnel", "media")
    timed("media.funnel")(Multimodal.mediaCurationFunnel(media).collect())
    spark.catalog.clearCache()
    sc.setJobGroup("media#keep", "media")
    val keepS = timed("media.keep")(Multimodal.mediaDedupKeep(media).collect())
    spark.catalog.clearCache()
    org.apache.spark.BenchBus.drain(sc, 30000)
    sc.removeSparkListener(jobs)
    val funnel = jobs.groups.getOrElse("media#funnel", new GroupTotals)
    sc.setJobGroup("media#layers", "media")
    val decodeS = timed("media.decode")(noop(Multimodal.mediaExtractAll(media)))
    val phashS = timed("media.phash")(noop(Multimodal.imagePhash(media)))
    val x = Multimodal.mediaExtractAll(media)
    val (cand, pairs) = Seq("phash64", "audiofp64").map { h =>
      val edges = Multimodal.hammingCcEdges(
        x.select("media_id", "kind", h), h, tau = 7, nBands = 8)
      edges.collect()
      HammingRows.of(edges.queryExecution.executedPlan)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    if (cand == 0)
      System.err.println("[perfbench] no banded hamming join in the plan " +
        "of hammingCcEdges; media.hamming_* read 0")
    spark.catalog.clearCache()
    Map(
      "media.decode_mb_per_s" -> Metric(set.bytes / 1e6 / decodeS, "MB/s"),
      "media.phash_s" -> Metric(phashS, "s"),
      "media.keep_s" -> Metric(keepS, "s"),
      "media.hamming_candidates" -> Metric(cand.toDouble, "count"),
      "media.hamming_pairs" -> Metric(pairs.toDouble, "count"),
      "media.pair_yield" ->
        Metric(if (cand == 0) 0.0 else pairs.toDouble / cand, "ratio"),
      "media.funnel_jobs" -> Metric(funnel.jobs.toDouble, "count"),
      "media.funnel_cpu_s" -> Metric(funnel.cpuNs / 1e9, "s"))
  }

  def close(): Unit = ()
}

/** Rows of the engine's banded hamming join, from the SQL metrics of an
  * executed plan: the candidate pairs its bucket explode emitted (one per
  * shared band, before the cross-band distinct) and the ones its
  * hamming ≤ τ filter passed.
  */
object HammingRows extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): (Long, Long) = {
    val filters = collect(plan) {
      case f: FilterExec if f.condition.sql.contains("bit_count") => f
    }
    def rows(p: SparkPlan) = p.metrics.get("numOutputRows").fold(0L)(_.value)
    (filters.flatMap(_.collectFirst { case g: GenerateExec => g }).map(rows).sum,
      filters.map(rows).sum)
  }
}

object MediaFunnel {
  /** the quality stage sees every generated file, dedup sees exactly the
    * quality survivors, and no stage keeps more than it saw
    */
  def checkFunnel(set: MediaSet,
      rows: Array[org.apache.spark.sql.Row]): Option[String] = {
    def at(stage: String) = rows.filter(_.getAs[String]("stage") == stage)
      .map(r => r.getAs[String]("kind") ->
        (r.getAs[Long]("n_in"), r.getAs[Long]("n_kept"))).toMap
    val q = at("quality")
    val d = at("dedup")
    val input = Seq("image", "audio", "video").map(k => k -> set.countOf(k))
    if (input.exists { case (k, n) => q.get(k).map(_._1) != Some(n) })
      Some("quality stage input differs from the generated files")
    else if (q.exists { case (k, (_, kept)) =>
        kept > 0 && d.get(k).map(_._1) != Some(kept) })
      Some("dedup stage input differs from quality survivors")
    else if ((q.values ++ d.values).exists { case (i, k) => k > i })
      Some("a stage kept more files than it saw")
    else None
  }

  /** one verdict per file, keep + drop = input with one kept file per
    * cluster, and every planted variant shares its base's cluster
    */
  def checkKeep(set: MediaSet, rows: Array[(Long, Long, Boolean)]): Option[String] = {
    val cluster = rows.map(r => r._1 -> r._2).toMap
    val kept = rows.count(_._3)
    val missed = set.variants.filter { case (b, v) =>
      cluster.get(b).isEmpty || cluster.get(b) != cluster.get(v) }
    if (rows.length != set.files.size ||
        cluster.keySet != set.files.map(_.media_id).toSet)
      Some(s"keep verdicts for ${rows.length} of ${set.files.size} files")
    else if (kept + rows.count(!_._3) != set.files.size ||
        kept != cluster.values.toSet.size)
      Some("keep + drop != input")
    else if (missed.nonEmpty) Some(s"${missed.size} planted variants " +
      s"left their base: ${missed.take(5).mkString(" ")}")
    else None
  }
}
