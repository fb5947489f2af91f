package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{ImageCodec, Mp4Meta, Multimodal, WavCodec}

/** Amplified-scale probe for the perceptual media family (x80–x85).
  *
  * The committed fixture prices CORRECTNESS on ~25 rows; this main
  * prices the SCALE story: it generates a deterministic synthetic media
  * corpus (`SPARK_GRAFT_MEDIA_N` images, N/4 WAVs, N/8 clips — real
  * PNG/RIFF/ISO-BMFF payloads through the engine's own encoders, with a
  * planted 20% near-dup variant rate: brightness-shifted re-encodes,
  * gain-halved re-masters, trimmed clip prefixes), stages it once
  * (atomic-rename, reused across runs), then times the two phases the
  * production pipeline separates:
  *
  *   - `extract_*`: decode + perceptual hash + write the stored hash
  *     artifact (the [[Multimodal.imagePhash]] materialization rule) —
  *     embarrassingly parallel scan throughput, no shuffle. A SQL engine
  *     has no codec, so this phase is a capability claim measured in
  *     MB/s, not a DuckDB ratio.
  *   - `nd_*`: the banded hamming / containment near-dup search FROM the
  *     stored artifact — the phase with a fair relational twin
  *     (`tools/bench_media_duck.py` runs the same banded algorithm in
  *     DuckDB SQL over the same hash parquet).
  *
  * Timing shares Bench's sweep runner ([[Sweep]]): staged input, the
  * start-load gate, warm-up + 3 interleaved sweeps, each run in its own
  * CacheScope and QueryMetrics group, noop/parquet sink. Each phase
  * reports its median and min wall and its min CPU time and stages; a
  * phase that throws is listed in `failed` and the main exits nonzero.
  * One JSON line.
  */
object MediaBench {

  /** splitmix64 — the deterministic per-id parameter stream */
  private def mix(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** uniform [0,1) draw k for seed id */
  private def unif(seed: Long, k: Int): Double =
    (mix(seed * 1000003L + k) >>> 11).toDouble / (1L << 53).toDouble

  val W = 64
  val H = 48

  /** id-parameterized smooth-texture luma plane (frame `f` of a clip);
    * six id-derived sinusoid coefficients spread the DCT spectrum so
    * perceptual hashes don't collapse into a handful of band buckets
    */
  def lumaFrame(seed: Long, f: Int): Array[Byte] = {
    val a = 0.5 + 3.0 * unif(seed, 1)
    val b = 0.5 + 3.0 * unif(seed, 2)
    val c = 2.0 * unif(seed, 3) - 1.0
    val d = 2.0 * unif(seed, 4) - 1.0
    val e = 2.0 * unif(seed, 5) - 1.0
    val phi = 2.0 * StrictMath.PI * unif(seed, 6)
    val tau = 2.0 * StrictMath.PI
    Array.tabulate(W * H) { j =>
      val fx = (j % W).toDouble / (W - 1)
      val fy = (j / W).toDouble / (H - 1)
      val v = StrictMath.sin(tau * (a * fx + b * fy + c * fx * fy +
        d * fx * fx + e * fy * fy) + phi + 0.35 * f)
      val i0 = StrictMath.round(128.0 + 110.0 * v).toInt
      (if (i0 < 0) 0 else if (i0 > 255) 255 else i0).toByte
    }
  }

  /** ids ≡ 4 (mod 5) are near-dup variants of id−1 (which is ≡ 3, so
    * variants never chain) — the 20% planted duplicate rate
    */
  @inline private def baseOf(id: Long): (Long, Boolean) =
    if (id % 5 == 4) (id - 1, true) else (id, false)

  /** PNG payload: unique texture, or a +6 brightness-shifted re-encode
    * of the previous id's pixels (the x80 invariance class).
    *
    * `mega` plants the adversarial MEGA-CLUSTER (r16 verdict task 4):
    * every id ≡ 2 (mod 5) — 20% of the corpus, disjoint from the
    * planted-variant rule — renders ONE fixed texture, so 20% of files
    * share a single pHash and every band geometry has one fully
    * degenerate bucket. This is the corpus shape where a naive
    * work-budget policy would blow up: the auto geometry pick and the
    * re-shard cap must together keep the funnel's wall at the
    * measured-best manual geometry.
    */
  def pngFor(id: Long, mega: Boolean = false): Array[Byte] = {
    val (base0, variant) = baseOf(id)
    val base = if (mega && id % 5 == 2) 0x4d454741L else base0
    val lum = lumaFrame(base, 0)
    val img = new java.awt.image.BufferedImage(W, H,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var j = 0
    while (j < W * H) {
      val v0 = lum(j) & 0xff
      val v = if (variant) math.min(255, v0 + 6) else v0
      img.setRGB(j % W, j / W, (v << 16) | (v << 8) | v)
      j += 1
    }
    ImageCodec.encode(img)
  }

  /** 0.5 s 16 kHz three-tone WAV, or a gain-halved re-master of the
    * previous id's mix (the x82 invariance class)
    */
  def wavFor(id: Long): Array[Byte] = {
    val (base, variant) = baseOf(id)
    val rate = 16000
    val f1 = 200.0 + 1800.0 * unif(base, 11)
    val f2 = 200.0 + 1800.0 * unif(base, 12)
    val f3 = 200.0 + 1800.0 * unif(base, 13)
    val gain = if (variant) 0.5 else 1.0
    val tau = 2.0 * StrictMath.PI
    val samples = Array.tabulate(8000) { t =>
      val tt = t.toDouble / rate
      val v = 0.5 * StrictMath.sin(tau * f1 * tt) +
        0.3 * StrictMath.sin(tau * f2 * tt) +
        0.2 * StrictMath.sin(tau * f3 * tt)
      (gain * v * 12000.0).toShort
    }
    WavCodec.encode(samples, rate)
  }

  /** 8-frame raw-luma MP4 clip, or the TRIMMED 5-frame prefix of the
    * previous id's clip (the x85 containment class). Seed salted away
    * from the image stream so the two modalities draw different textures.
    */
  def mp4For(id: Long, avcAll: Boolean = false): Array[Byte] = {
    val (base, variant) = baseOf(id)
    val nF = if (variant) 5 else 8
    val frames = (0 until nF).map(f => lumaFrame(mix(base) ^ 0x56494445L, f))
    // all-intra H.264 class (r18): base ≡ 11 mod 19 mirrors the
    // MediaCorpus mix; `avcAll` turns EVERY clip avc for the dedicated
    // decode-throughput point (extract_vid then prices the spec
    // decoder's CAVLC+transform+prediction+deblock per frame instead of
    // a raw-plane memcpy). A variant re-encodes the same source frames
    // all-intra, so hash containment stays exact by construction.
    if (avcAll || base % 19 == 11) {
      val cfg = graft.llm.h264.H264Encoder.Cfg(
        qp = 22 + (base % 3).toInt * 4, deblock = base % 2 == 0)
      Mp4Meta.encodeVideoAvc(timescale = 1000, frameW = W, frameH = H,
        frameDelta = 500,
        accessUnits = frames.map(fr =>
          graft.llm.h264.H264Encoder.encodeFrame(fr, W, H, cfg)._1))
    } else
      Mp4Meta.encodeVideo(timescale = 1000, frameW = W, frameH = H,
        frameDelta = 500, frames = frames)
  }

  /** media_id offsets giving each modality a DISJOINT id space (the
    * cross-modal keep gate unions them into one vertex set); offsets are
    * multiples of 5 so the id%5==4 planted-variant rule survives the
    * shift. Generation params still derive from the LOCAL id.
    */
  def offsets(n: Long, audX: Int = 1): (Long, Long) = {
    def up5(x: Long) = (x + 4) / 5 * 5
    val audOff = up5(n)
    (audOff, audOff + up5(math.max(8L, n / 4) * audX))
  }

  /** generate + stage the synthetic corpus once per n (atomic rename,
    * `.staged` marker reuse — the Bench staging discipline); payload
    * parquet per modality in the fixture's MediaIn column layout.
    * `_v2`: disjoint per-modality id spaces (the ArtifactStore
    * recipe-version lesson — a recipe change renames the dir).
    */
  /** the corpus-knob suffix shared by the staged-payload and
    * hash-artifact dirs — ONE definition (r17 review: two hand-kept
    * copies meant a knob added to one but not the other would silently
    * read hashes extracted from a DIFFERENT corpus)
    */
  private def knobSuffix(vidX: Int, audX: Int, mega: Boolean,
      avcAll: Boolean = false): String =
    (if (vidX > 1) s"_vx$vidX" else "") +
      (if (audX > 1) s"_ax$audX" else "") +
      (if (mega) "_mc" else "") +
      (if (avcAll) "_avc" else "")

  def stageMedia(spark: SparkSession, n: Long, vidX: Int = 1,
      audX: Int = 1, mega: Boolean = false,
      avcAll: Boolean = false): String = {
    val out =
      s"${System.getProperty("java.io.tmpdir")}/graft_media_scale/n${n}_v3" +
        knobSuffix(vidX, audX, mega, avcAll)
    Bench.stagedAtomically(out) { tmp =>
      import spark.implicits._
      val nAud = math.max(8L, n / 4) * audX
      val nVid = math.max(8L, n / 8) * vidX
      val (audOff, vidOff) = offsets(n, audX)
      spark.range(0, n, 1, 32)
        .map(id => (id, "image", pngFor(id, mega), Some(W), Some(H),
          None: Option[Long], None: Option[Int]))
        .toDF("media_id", "kind", "payload", "width", "height",
          "duration_ms", "sample_rate")
        .write.parquet(s"$tmp/images.parquet")
      spark.range(0, nAud, 1, 32)
        .map(id => (audOff + id, "audio", wavFor(id), None: Option[Int],
          None: Option[Int], Some(500L), Some(16000)))
        .toDF("media_id", "kind", "payload", "width", "height",
          "duration_ms", "sample_rate")
        .write.parquet(s"$tmp/audio.parquet")
      spark.range(0, nVid, 1, 32)
        .map(id => (vidOff + id, "video", mp4For(id, avcAll), Some(W), Some(H),
          Some(if (id % 5 == 4) 2500L else 4000L), None: Option[Int]))
        .toDF("media_id", "kind", "payload", "width", "height",
          "duration_ms", "sample_rate")
        .write.parquet(s"$tmp/video.parquet")
    }
    out
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_MEDIA_N", "20000").toLong
    // video-heavy corpus knob (r14, the x85 amplified point): multiplies
    // the clip count (default n/8) without paying n more images/WAVs —
    // the modality mix of a video-dominated ingest
    val vidX = sys.env.getOrElse("SPARK_GRAFT_MEDIA_VID_X", "1").toInt
    // audio-heavy corpus knob (r14, the nd_aud design-scale point):
    // multiplies the WAV count (default n/4) without paying 4n images
    val audX = sys.env.getOrElse("SPARK_GRAFT_MEDIA_AUD_X", "1").toInt
    // adversarial clustered corpus (r16 verdict task 4): 20% of images
    // share one pHash — see pngFor's mega doc
    val mega = sys.env.get("SPARK_GRAFT_MEDIA_MEGA").contains("1")
    // every clip all-intra H.264 (r18): the dedicated decode-throughput
    // point for the spec codec (the default mix carries 1-in-19)
    val avcAll = sys.env.get("SPARK_GRAFT_MEDIA_AVC").contains("1")
    val spark = core.GraftSession.builder("graft-media-bench",
        Bench.benchCores.toString)
      // harness-only maxResultSize raise — see the Bench.main note
      .config("spark.driver.maxResultSize", "8g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // binary-payload tables break the vectorized reader's default
    // 4096-row batches at scale (measured at the 1M point: ~33 KB WAV
    // payloads × batch rows overflow WritableColumnVector's contiguous
    // byte reserve — FAILED_READ_FILE). 256 rows × ~35 KB ≈ 9 MB/batch
    // column. A 100 TB deployment sets this per payload-table scan; the
    // metadata/hash tables keep the default.
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "256")

    val dir = stageMedia(spark, n, vidX, audX, mega, avcAll)
    val hdir =
      s"${System.getProperty("java.io.tmpdir")}/graft_media_scale/hashes_n$n" +
        knobSuffix(vidX, audX, mega, avcAll)
    def payload(t: String): DataFrame = spark.read.parquet(s"$dir/$t.parquet")
    def hashes(t: String): DataFrame = spark.read.parquet(s"$hdir/$t.parquet")

    // extraction: decode + hash + write the stored artifact (timed as a
    // unit — the artifact write IS the production shape)
    val extract: Seq[(String, () => Unit)] = Seq(
      "extract_img" -> (() => Multimodal.imagePhash(payload("images"))
        .write.mode("overwrite").parquet(s"$hdir/img_hash.parquet")),
      "extract_aud" -> (() => Multimodal.audioFingerprint(payload("audio"))
        .write.mode("overwrite").parquet(s"$hdir/aud_fp.parquet")),
      "extract_vid" -> (() => Multimodal.videoPhash(payload("video"))
        .write.mode("overwrite").parquet(s"$hdir/vid_hash.parquet")),
      // the quality gate's payload-free input (decode once, gate many)
      "extract_stats" -> (() => Multimodal.mediaDecodeStats(
          payload("images").unionByName(payload("audio"))
            .unionByName(payload("video")))
        .write.mode("overwrite").parquet(s"$hdir/stats.parquet")),
      // r15 (r14 verdict item 3): the FUSED one-pass extractor — stats +
      // pHash + audio FP + frame hashes from a single payload scan and a
      // single decode. Compare against extract_img+aud+vid+stats: the
      // fused pass does the union of their work for ~the cost of
      // extract_stats alone (the other three passes' payload I/O and
      // decode are the duplication it deletes)
      "extract_fused" -> (() => Multimodal.mediaExtractAll(
          payload("images").unionByName(payload("audio"))
            .unionByName(payload("video")))
        .write.mode("overwrite").parquet(s"$hdir/extract_all.parquet")))

    val nAud = math.max(8L, n / 4) * audX
    val nVid = math.max(8L, n / 8) * vidX
    // recall on the PLANTED variant pairs (id−1, id) for id ≡ 4 (mod 5):
    // the re-shard cap may drop incidental cross-texture pairs inside
    // oversized buckets, but a planted pair's codes agree on (nearly)
    // every band, so it gets ~8 independent chances to co-shard — this
    // measures that claim instead of asserting it
    def plantedOf(df: DataFrame, total: Long): Double = df
      .filter(col("id_b") === col("id_a") + 1 && col("id_b") % 5 === 4)
      .count().toDouble / total
    val plantedAll = n / 5 + nAud / 5 + nVid / 5
    // funnel recall at a given image band geometry: no planted variant
    // may survive BOTH stages (a video variant drops at quality —
    // 2.5 s < MinClipMs; image/audio variants drop at dedup)
    def funnelRecall(imgTau: Int, imgBands: Int): Double = {
      val kept = Multimodal.mediaDedupKeepFrom(
          Multimodal.qualitySurvivors(hashes("extract_all")), imgTau,
          imgBands)
        .filter(col("keep") && col("media_id") % 5 === 4).count()
      (plantedAll - kept).toDouble / plantedAll
    }
    // files dropped across both funnel stages
    def funnelDropped(f: DataFrame): Long =
      f.agg(sum(col("n_in") - col("n_kept"))).head().getLong(0)

    /** a search FROM the stored artifacts (the DuckDB-twinned phase): the
      * timed body writes `frame` to the noop sink, full compute per run;
      * `pairs` counts it and `recall` reads it once, untimed */
    final case class Probe(name: String, frame: () => DataFrame, pairs: DataFrame => Long,
        recall: DataFrame => Double)
    def nearDup(name: String, planted: Long)(frame: => DataFrame) =
      Probe(name, () => frame, _.count(), plantedOf(_, planted))
    val probes = Seq(
      nearDup("nd_img", n / 5)(Multimodal.imageNearDupFrom(hashes("img_hash"))),
      nearDup("nd_aud", nAud / 5)(Multimodal.hammingNearDupFrom(hashes("aud_fp"),
        "audiofp64", 7, 8, llm.Dedup.MaxBucket)),
      nearDup("nd_vid", nVid / 5)(Multimodal.videoNearDupFrom(hashes("vid_hash"))),
      // the WIDER-BAND geometry (4×16-bit, τ≤3 — recall-exact for
      // τ < nBands) the x81 scaladoc prescribes past the 8-bit bands'
      // saturation: 65536 bucket values per band, so candidate volume
      // stays linear where 8×8 goes ~n²/256 (the planted brightness
      // variants hash at hamming 0, so τ=3 loses none of them)
      nearDup("nd_img_wide", n / 5)(Multimodal.imageNearDupFrom(
        hashes("img_hash"), tau = 3, nBands = 4)),
      // the same wide-band geometry on the audio fingerprints (r13
      // verdict task 4: the ≥1M-file design-scale point for nd_aud) —
      // gain-halved re-masters fingerprint at hamming 0, so τ=3 keeps
      // the planted recall while 16-bit bands keep candidates linear
      nearDup("nd_aud_wide", nAud / 5)(Multimodal.hammingNearDupFrom(
        hashes("aud_fp"), "audiofp64", 3, 4, llm.Dedup.MaxBucket)),
      // r15 (r14 verdict item 4): the AUTO-WIDENED cap — the fixed-2000
      // re-shard dropped 8.6% of incidental pairs at 1M tone-mix WAVs;
      // autoCap widens until the candidate-work budget, so a clustered
      // corpus recovers them instead of silently losing recall
      nearDup("nd_aud_auto", nAud / 5)(Multimodal.hammingNearDupAuto(
        hashes("aud_fp"), "audiofp64", 3, 4)),
      // the cross-modal keep gate (x86) from the stored fused extract:
      // pair generation + the large-star/small-star CC + one verdict per
      // file — the phase whose relational twin pays a recursive closure.
      // Its "pairs" are the files DROPPED, its recall the share of planted
      // variants dropped
      Probe("nd_keep", () => Multimodal.mediaDedupKeepFrom(hashes("extract_all")),
        _.filter(!col("keep")).count(),
        _.filter(col("media_id") % 5 === 4 && !col("keep")).count().toDouble / plantedAll),
      // the x91 curation funnel off the stored fused extract: quality
      // projection → survivor filter → cross-modal keep gate → the
      // per-(stage, kind) attrition rollup (the DuckDB twin runs the
      // same CASE + survivor-restricted recursive-CTE closure)
      Probe("funnel", () => Multimodal.mediaCurationFunnelFrom(hashes("extract_all")),
        funnelDropped, _ => funnelRecall(7, 8)),
      // the funnel at the WIDE image geometry (4×16-bit, τ=3) — the
      // documented 8-band saturation remedy measured on the composition,
      // not just on nd_img: past ~300k surviving images this is the
      // production geometry (r15, the funnel-ladder knee)
      Probe("funnel_wide", () => Multimodal.mediaCurationFunnelFrom(
          hashes("extract_all"), imgTau = 3, imgBands = 4),
        funnelDropped, _ => funnelRecall(3, 4)))
    val searches: Seq[(String, () => Unit)] =
      probes.map(p => p.name -> (() => Sweep.noop(p.frame()))) ++ Seq(
      // r16 (r15 verdict task 6): the AUTO-selected geometry — the
      // x93 policy measured at the ladder corpora, so the auto pick can
      // be compared against the measured-best manual geometry at each
      // point (the selection agg rides inside the timed run — it IS
      // part of the auto funnel's cost)
      "funnel_auto" -> (() => {
        val x = hashes("extract_all")
        val (nBands, tau) = Multimodal.autoBandGeometry(x, "phash64")
        Sweep.noop(Multimodal.mediaCurationFunnelFrom(x, imgTau = tau, imgBands = nBands))
      }),
      // the st22 streaming perceptual gate at amplified upload volume:
      // catalog = stored hashes of the lower id half, uploads = the
      // upper half decoded + hashed IN-FLIGHT (no SQL twin exists for
      // the stream side — this prices the gate's decode+probe
      // throughput; runToTable materializes the collision listing)
      "st_gate" -> (() => {
        graft.stream.StreamOps.mediaPhashGateStream(spark, dir,
          hashes("img_hash").filter(col("media_id") < n / 2),
          sinkName = s"st_media_gate_bench_n$n", table = "images",
          split = n / 2).count()
        ()
      }))

    // optional phase filter (SPARK_GRAFT_MEDIA_PHASES regex): the 1M+
    // points run extraction + the wide-band probe only — the 8×8-bit
    // geometry is BY DESIGN out of regime there (~8·n²/256 candidates).
    // The warm-up pass also materializes the hash artifacts the searches
    // read.
    val phaseRe = sys.env.get("SPARK_GRAFT_MEDIA_PHASES").map(_.r)
    val gate = Sweep.awaitQuiet("media-bench")
    val metrics = new QueryMetrics
    spark.sparkContext.addSparkListener(metrics)
    val sweep = new Sweep(spark, metrics, "media-bench")
    val runs = sweep((extract ++ searches)
      .filter(p => phaseRe.forall(_.findFirstIn(p._1).isDefined)), 3)()
    def perPhase[A](f: Seq[QueryMetrics.Run] => A): Seq[(String, A)] =
      runs.toSeq.map { case (name, rs) => name -> f(rs) }
    val med = perPhase { rs => val s = rs.map(_.wallS).sorted; s(s.size / 2) }

    // corpus descriptors + result volumes (once, untimed)
    def mb(t: String): Double = payload(t)
      .agg(sum(length(col("payload")))).head().getLong(0) / 1e6
    val bytesMb = Seq("images" -> mb("images"), "audio" -> mb("audio"),
      "video" -> mb("video"))
    val live = probes.filter(p => runs.contains(p.name))
    val pairs = live.map(p => p.name -> p.pairs(p.frame()))
    val recall = live.map(p => p.name -> p.recall(p.frame()))

    // r15 (r14 verdict item 4): the measured recall-vs-cap CURVE for the
    // audio hamming join — the x52-S-curve discipline applied to the
    // re-shard cap. Per cap: candidate-pair volume and planted recall,
    // plus the incidental-pair fraction recovered vs the widest point.
    // Env-gated (each point runs the full join) — turn on for the
    // design-scale adjudication runs.
    val capCurve: Seq[(Int, Long, Double)] =
      if (sys.env.get("SPARK_GRAFT_MEDIA_CAPCURVE").contains("1")) {
        val capsLadder = Seq(500, 2000, 8000, 32000, 128000)
        capsLadder.map { cap =>
          val df = Multimodal.hammingNearDupFrom(hashes("aud_fp"),
            "audiofp64", 3, 4, cap)
          val p = df.count()
          (cap, p, plantedOf(df, nAud / 5))
        }
      } else Seq.empty
    // -1 when a phase filter skipped audio extraction and no artifact
    // exists from an earlier run
    val audAutoCap = scala.util.Try(
      Multimodal.autoCap(hashes("aud_fp"), "audiofp64", 4)).getOrElse(-1)
    // record the geometry the auto policy picked on THIS corpus, so the
    // BASELINE point is self-describing (mega-cluster runs must show
    // the narrow pick)
    val autoGeo = scala.util.Try(
      Multimodal.autoBandGeometry(hashes("img_hash"), "phash64"))
      .map { case (b, t) => s"${b}x$t" }.getOrElse("n/a")

    val j = Json.obj(Seq(
      "metric" -> Json.str("media_bench"),
      "value" -> Json.r3(med.map(_._2).sum),
      "unit" -> Json.str("sec"),
      "n" -> n.toString,
      "queries" -> Json.nums(med),
      "queries_min" -> Json.nums(perPhase(_.map(_.wallS).min)),
      // min across sweeps, as in Bench: the window-insensitive evidence a
      // wall-time A/B on a loaded host cannot give
      "cpu_s" -> Json.nums(perPhase(_.map(_.totals.cpuS).min)),
      "stages" -> Json.obj(perPhase(_.map(_.totals.stages).min.toString)),
      "pairs" -> Json.obj(pairs.map { case (k, v) => k -> v.toString }),
      "planted_recall" -> Json.nums(recall),
      "auto_cap_aud" -> audAutoCap.toString,
      "mega" -> mega.toString,
      "auto_geo" -> Json.str(autoGeo)) ++
      (if (capCurve.isEmpty) Nil
      else Seq("cap_curve_aud" -> Json.obj(capCurve.map { case (c, p, r) =>
        c.toString -> Json.obj(Seq("pairs" -> p.toString, "recall" -> Json.r3(r))) }))) ++ Seq(
      "bytes_mb" -> Json.nums(bytesMb),
      "cache_leaks" -> Json.strs(sweep.leaks),
      "metrics_incomplete" -> Json.strs(sweep.incomplete),
      "failed" -> Json.obj(sweep.failed.map { case (k, v) => k -> Json.str(v) }),
      "load_gate" -> Json.str(gate.verdict),
      "start_load" -> Json.r3(gate.startLoad),
      "quiet_wait_s" -> gate.quietWaitS.toString,
      "load_avg" -> Json.arr(sweep.loads.map(Json.r3)),
      "hash_dir" -> Json.str(hdir)))
    Files.writeString(Paths.get("media_bench_out.json"), j + "\n")
    println(j)
    spark.stop()
    if (sweep.failed.nonEmpty) sys.exit(2)
  }
}
