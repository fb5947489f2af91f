package graft.llm

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.CacheScope

/** Multimodal-column handling (north star: images/audio/video ride along
  * a 100 TB pipeline as opaque binary columns + typed metadata).
  *
  * The Spark-side plumbing is real: binary payloads with magic-sniffing,
  * typed metadata struct, batch-wise decode via `mapPartitions` over a
  * typed Dataset (the JVM analogue of an Arrow-batched decode UDF). PNG
  * AND JPEG rows are REAL images decoded with the JDK's `javax.imageio`
  * ([[ImageCodec]], r2+r3 verdict task 5) — width/height/brightness come
  * from actual pixels — WAV rows are REAL RIFF/PCM audio decoded by the
  * hand-rolled [[WavCodec]] (the container needs no codec library at
  * all) — duration/rate/amplitude come from actual samples — and MP4
  * rows carry a REAL raw-luma video track (r7 verdict task 6): the ISO
  * BMFF sample tables are parsed for real and every frame's luma bytes
  * are sliced out of `mdat` by [[Mp4Meta.decodeFrames]] ([[videoFrames]],
  * x39). The one remaining seam is COMPRESSED video (H.264 etc.), which
  * genuinely needs a codec library: a compressed sample entry makes
  * `decodeFrames` return None.
  */
object Multimodal {

  /** fixture row; `px_brightness` (images) and `amp_mean` (audio) are
    * the EXPECTED content statistics (the oracle reads them; the engine
    * must re-derive them from the bytes). For PNG and WAV they equal the
    * source signal's statistics (lossless containers); for JPEG they are
    * computed by decoding the ENCODED bytes at authoring time, so the
    * lossy round trip cancels out.
    */
  case class MediaFx(
      media_id: Long, kind: String, payload: Array[Byte],
      width: Option[Int], height: Option[Int],
      duration_ms: Option[Long], sample_rate: Option[Int],
      px_brightness: Option[Double], amp_mean: Option[Double],
      rs8x6_brightness: Option[Double], rs8x6_md5: Option[String],
      fr_ts_ms: Option[Seq[Long]], fr_brightness: Option[Seq[Double]],
      phash64: Option[Long], audiofp64: Option[Long],
      fr_phash64: Option[Seq[Long]],
      // PNG text-chunk metadata (x89/x90): authored keyword/value pairs
      // and the strip-audit digest; defaulted so only the planted rows
      // carry them
      txt_keys: Option[Seq[String]] = None,
      txt_vals: Option[Seq[String]] = None,
      stripped_md5: Option[String] = None,
      // video codec tag for clips whose track is COMPRESSED ("mjpeg" —
      // x92); None for raw-luma clips and non-video rows. Oracle filter
      // key only — the engine derives the codec from the stsd box.
      codec: Option[String] = None)

  private val HexDigits = "0123456789abcdef".getBytes("US-ASCII")

  /** md5 of the lowercase-hex rendering — the one binary digest both
    * engines agree on (DuckDB has no md5 over BLOB), mirrored here for
    * authoring-time expected values.
    *
    * r15: streams table-looked-up hex bytes into the digest in fixed
    * chunks instead of materializing a 2n-char String via per-byte
    * `String.format` (the former x90 hot path: ~100k format calls per
    * payload). Output is bit-identical — same lowercase hex, same md5.
    */
  private[llm] def md5OfHex(bytes: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](8192)
    var bi = 0
    var i = 0
    while (i < bytes.length) {
      val v = bytes(i) & 0xff
      buf(bi) = HexDigits(v >>> 4)
      buf(bi + 1) = HexDigits(v & 0xf)
      bi += 2
      if (bi == buf.length) { md.update(buf, 0, bi); bi = 0 }
      i += 1
    }
    if (bi > 0) md.update(buf, 0, bi)
    val d = md.digest()
    val out = new Array[Byte](32)
    i = 0
    while (i < 16) {
      out(2 * i) = HexDigits((d(i) >>> 4) & 0xf)
      out(2 * i + 1) = HexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out, "US-ASCII")
  }

  /** authoring-time expected stats for the 8×6 resize demo: decode the
    * ENCODED bytes (cancels JPEG lossiness, no-op for PNG), resample with
    * the same integer-math kernel the engine uses, re-encode
    */
  private[llm] def rs8x6(bytes: Array[Byte]): (Option[Double], Option[String]) = {
    val img = ImageCodec.decodeImage(bytes).get
    val rs = ImageCodec.resizeNearest(img, 8, 6)
    (Some(ImageCodec.brightness(rs)), Some(md5OfHex(ImageCodec.encode(rs))))
  }

  def mediaRows: Seq[MediaFx] =
    (0L until 4L).map { i =>
      // real PNGs: deterministic pixel pattern, varying dimensions;
      // metadata width/height = actual encoded dimensions
      val (w, h) = (16 + 4 * i.toInt, 12 + 3 * i.toInt)
      val img = ImageCodec.testImage(i, w, h)
      val bytes = ImageCodec.encode(img)
      val (rb, rm) = rs8x6(bytes)
      MediaFx(i, "image", bytes, Some(w), Some(h), None,
        None, Some(ImageCodec.brightness(img)), None, rb, rm, None, None,
        PHash.ofBytes(bytes), None, None)
    } ++
      (4L until 7L).map { i =>
        // real JPEGs (r3 verdict task 5): expected stats come from
        // decoding the encoded bytes, so the lossy round trip cancels
        val (w, h) = (40 + 4 * i.toInt, 30 + 3 * i.toInt)
        val bytes = ImageCodec.encodeJpeg(ImageCodec.testImage(i, w, h))
        val Some((dw, dh, bright)) = ImageCodec.decode(bytes)
        val (rb, rm) = rs8x6(bytes)
        MediaFx(i, "image", bytes, Some(dw), Some(dh), None, None,
          Some(bright), None, rb, rm, None, None, PHash.ofBytes(bytes),
          None, None)
      } ++
      (7L until 10L).map { i =>
        // real WAVs: RIFF/16-bit-mono-PCM is hand-writable, no codec
        // needed; metadata duration/rate = the encoded signal's, and
        // amp_mean is the deterministic mean |sample| / 32768
        val rate = 16000
        val durMs = 3000L + i * 500
        val samples = WavCodec.testSamples(i, (rate * durMs / 1000L).toInt)
        val bytes = WavCodec.encode(samples, rate)
        val st = WavCodec.decode(bytes).get
        MediaFx(i, "audio", bytes, None, None, Some(st.durationMs),
          Some(st.sampleRate), None, Some(st.meanAbs), None, None,
          None, None, None, AudioFp.ofBytes(bytes), None)
      } ++
      (10L until 12L).map { i =>
        // real ISO BMFF container with a REAL raw-luma video track: the
        // metadata duration is PARSED from the mvhd box, and the
        // expected per-frame timestamps/brightness are computed by the
        // same demux + slice the engine runs ([[Mp4Meta.decodeFrames]]).
        // Same durations as the old metadata-only fixture (4000+i·1000
        // ms) so x13's tick generation is unchanged.
        val durMs = 4000L + i * 1000
        val (w, h) = (16, 12)
        val deltaMs = 500
        val nFrames = (durMs / deltaMs).toInt
        val frames = (0 until nFrames).map(f =>
          Array.tabulate(w * h)(j => ((i * 31 + f * 17 + j * 7) % 256).toByte))
        val bytes = Mp4Meta.encodeVideo(timescale = 1000, frameW = w,
          frameH = h, frameDelta = deltaMs, frames = frames)
        val vt = Mp4Meta.decodeFrames(bytes).get
        MediaFx(i, "video", bytes, Some(w), Some(h),
          Some(Mp4Meta.decode(bytes).get.durationMs), None, None, None,
          None, None,
          Some((0 until nFrames).map(vt.frameTsMs)),
          Some(vt.frames.map(fr =>
            fr.map(_ & 0xff).sum.toDouble / fr.length)), None, None,
          Some(vt.frames.map(fr =>
            PHash.ofLuma(fr, vt.width, vt.height))))
      } ++ {
        // perceptual-near-dup set (x80/x81): one smooth base image and
        // the three variant classes exact dedup (content_md5) misses —
        // a lossy re-encode, a brightness shift, an integer upscale —
        // plus an unrelated pattern as the negative. Expected `phash64`
        // is authored by [[PHash]] from the encoded bytes, the x12 rule.
        val base = ImageCodec.gradImage(0, 64, 48)
        def fx(i: Long, bytes: Array[Byte]): MediaFx = {
          val Some((dw, dh, bright)) = ImageCodec.decode(bytes)
          val (rb, rm) = rs8x6(bytes)
          MediaFx(i, "image", bytes, Some(dw), Some(dh), None, None,
            Some(bright), None, rb, rm, None, None, PHash.ofBytes(bytes),
            None, None)
        }
        Seq(
          fx(12L, ImageCodec.encode(base)),
          fx(13L, ImageCodec.encodeJpeg(base)),
          fx(14L, ImageCodec.encode(ImageCodec.brightnessShift(base, 6))),
          fx(15L, ImageCodec.encode(ImageCodec.resizeNearest(base, 128, 96))),
          fx(16L, ImageCodec.encode(ImageCodec.gradImage(4, 64, 48))))
      } ++ {
        // audio-near-dup set (x82/x83): one chirp-mix base signal and
        // the variant classes exact dedup misses — a gain change and an
        // 8 kHz re-render of the SAME physical signal — plus an
        // unrelated chirp mix as the negative. Expected `audiofp64` is
        // authored by [[AudioFp]] from the encoded bytes.
        val tonesA = Seq((220.0, 400.0, 9000.0, 0.0),
          (900.0, -250.0, 6000.0, 1.0), (1500.0, 600.0, 4000.0, 2.0),
          (2600.0, -700.0, 2500.0, 0.5))
        val tonesB = Seq((330.0, -120.0, 8000.0, 0.7),
          (700.0, 500.0, 5000.0, 1.9), (1900.0, -450.0, 3500.0, 0.2),
          (2900.0, 150.0, 2200.0, 2.4))
        def fx(i: Long, partials: Seq[(Double, Double, Double, Double)],
            rate: Int, scale: Double): MediaFx = {
          val scaled = partials.map { case (f, sl, a, p) =>
            (f, sl, a * scale, p) }
          val bytes = WavCodec.encode(
            WavCodec.toneSamples(scaled, 2.0, rate), rate)
          val st = WavCodec.decode(bytes).get
          MediaFx(i, "audio", bytes, None, None, Some(st.durationMs),
            Some(st.sampleRate), None, Some(st.meanAbs), None, None,
            None, None, None, AudioFp.ofBytes(bytes), None)
        }
        Seq(
          fx(17L, tonesA, 16000, 1.0),
          fx(18L, tonesA, 16000, 0.5),
          fx(19L, tonesA, 8000, 1.0),
          fx(20L, tonesB, 16000, 1.0))
      } ++ {
        // video-near-dup set (x84/x85): one smooth chirp-frame base clip
        // and the variant classes frame-exact content hashing misses —
        // a per-frame brightness shift and a TRIMMED prefix clip (the
        // containment case) — plus an unrelated pattern family. Expected
        // `fr_phash64` is authored by [[PHash.ofLuma]] over the same
        // demuxed frames the engine decodes.
        val (w, h) = (64, 48)
        def gradFrames(fam: Long, nFrames: Int): Seq[Array[Byte]] = {
          val a = 1.0 + (fam % 3).toDouble
          val b = 1.0 + ((fam / 3) % 3).toDouble
          val tau = 2.0 * StrictMath.PI
          (0 until nFrames).map { f =>
            Array.tabulate(w * h) { j =>
              val fx = (j % w).toDouble / (w - 1)
              val fy = (j / w).toDouble / (h - 1)
              val v = StrictMath.sin(tau * (a * fx + b * fy + 0.9 * fx * fy
                + 0.6 * fx * fx - 0.4 * fy * fy) + 0.7 * fam + 0.35 * f)
              val i0 = StrictMath.round(128.0 + 110.0 * v).toInt
              (if (i0 < 0) 0 else if (i0 > 255) 255 else i0).toByte
            }
          }
        }
        def fx(i: Long, frames: Seq[Array[Byte]]): MediaFx = {
          val bytes = Mp4Meta.encodeVideo(timescale = 1000, frameW = w,
            frameH = h, frameDelta = 500, frames = frames)
          val vt = Mp4Meta.decodeFrames(bytes).get
          MediaFx(i, "video", bytes, Some(w), Some(h),
            Some(Mp4Meta.decode(bytes).get.durationMs), None, None, None,
            None, None,
            Some(frames.indices.map(vt.frameTsMs)),
            Some(vt.frames.map(fr =>
              fr.map(_ & 0xff).sum.toDouble / fr.length)), None, None,
            Some(vt.frames.map(fr => PHash.ofLuma(fr, vt.width, vt.height))))
        }
        val base = gradFrames(0, 8)
        // 25 — HARD-CUT clip (x87): two unrelated texture families at
        // shifted luma centers (~+45 / −45), so the cut is one large
        // luma_mean jump against the ≤ ~3.3 in-segment drift every
        // other fixture clip exhibits (measured; SceneTau = 16 splits
        // them with margin on both sides)
        val cut =
          gradFrames(3, 4).map(fr => fr.map(v =>
            math.min(255, (v & 0xff) + 45).toByte)) ++
          gradFrames(4, 4).map(fr => fr.map(v =>
            math.max(0, (v & 0xff) - 45).toByte))
        Seq(
          fx(21L, base),
          fx(22L, base.map(fr => fr.map(v =>
            math.min(255, (v & 0xff) + 6).toByte))),
          fx(23L, base.take(5)),
          fx(24L, gradFrames(1, 8)),
          fx(25L, cut))
      } ++ {
        // quality-gate set (x88): the drop classes decoded-stat gating
        // catches — an UNDER-exposed and an OVER-exposed image (unique
        // texture families, luma compressed toward 0 / 255 so the
        // brightness bound trips while the pattern stays non-degenerate
        // for pHash), and a NEAR-SILENT WAV (the gain-invariant
        // fingerprint still resolves; the amp_mean bound trips)
        def imgFx(i: Long, fam: Long, lo: Int, hi: Int): MediaFx = {
          val src = ImageCodec.gradImage(fam, 64, 48)
          val img = new java.awt.image.BufferedImage(64, 48,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 48) {
            var x = 0
            while (x < 64) {
              val v0 = src.getRGB(x, y) & 0xff
              val v = lo + v0 * (hi - lo) / 255
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          val bytes = ImageCodec.encode(img)
          val Some((dw, dh, bright)) = ImageCodec.decode(bytes)
          val (rb, rm) = rs8x6(bytes)
          MediaFx(i, "image", bytes, Some(dw), Some(dh), None, None,
            Some(bright), None, rb, rm, None, None, PHash.ofBytes(bytes),
            None, None)
        }
        val silentTones = Seq((260.0, 300.0, 7000.0, 0.4),
          (1100.0, -350.0, 4500.0, 1.3), (2100.0, 500.0, 3000.0, 2.1))
        val silentBytes = WavCodec.encode(
          WavCodec.toneSamples(silentTones.map { case (f, sl, a, p) =>
            (f, sl, a * 0.02, p) }, 2.0, 16000), 16000)
        val st = WavCodec.decode(silentBytes).get
        Seq(
          imgFx(26L, 7L, 0, 63),
          imgFx(27L, 8L, 225, 255),
          MediaFx(28L, "audio", silentBytes, None, None,
            Some(st.durationMs), Some(st.sampleRate), None,
            Some(st.meanAbs), None, None, None, None, None,
            AudioFp.ofBytes(silentBytes), None))
      } ++ {
        // PNG text-metadata set (x89/x90): real tEXt chunks spliced into
        // the container ([[PngChunks.withText]] — CRC32-framed per the
        // spec), re-extracted by the engine's chunk walker. Patterns are
        // fresh 6-coefficient sinusoid mixes (NOT gradImage families:
        // phi = 0.7·id wraps 2π every ~9 ids, so high gradImage ids
        // nearly reproduce low ones — measured near-collision, avoided
        // by construction). Expected strip digest authored by running
        // the strip on the authored bytes (the x12 decode-the-encoded
        // rule); keys/vals authored as the spliced pairs.
        def pattern(seed: Long): java.awt.image.BufferedImage = {
          val img = new java.awt.image.BufferedImage(64, 48,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          def u(k: Int): Double = {
            var z = seed * 1000003L + k + 0x9e3779b97f4a7c15L
            z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
            z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
            ((z ^ (z >>> 31)) >>> 11).toDouble / (1L << 53).toDouble
          }
          val (a, b, c2, d2, e, phi) = (0.5 + 3.0 * u(1), 0.5 + 3.0 * u(2),
            2.0 * u(3) - 1.0, 2.0 * u(4) - 1.0, 2.0 * u(5) - 1.0,
            2.0 * StrictMath.PI * u(6))
          val tau = 2.0 * StrictMath.PI
          var y = 0
          while (y < 48) {
            var x = 0
            while (x < 64) {
              val fx = x.toDouble / 63
              val fy = y.toDouble / 47
              val s = StrictMath.sin(tau * (a * fx + b * fy + c2 * fx * fy +
                d2 * fx * fx - e * fy * fy) + phi)
              val i0 = StrictMath.round(128.0 + 110.0 * s).toInt
              val v = if (i0 < 0) 0 else if (i0 > 255) 255 else i0
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          img
        }
        def fx(i: Long, kvs: Seq[(String, String)]): MediaFx = {
          val bytes = PngChunks.withText(
            ImageCodec.encode(pattern(i)), kvs)
          val Some((dw, dh, bright)) = ImageCodec.decode(bytes)
          val (rb, rm) = rs8x6(bytes)
          MediaFx(i, "image", bytes, Some(dw), Some(dh), None, None,
            Some(bright), None, rb, rm, None, None, PHash.ofBytes(bytes),
            None, None,
            txt_keys = Some(kvs.map(_._1)), txt_vals = Some(kvs.map(_._2)),
            stripped_md5 = Some(md5OfHex(PngChunks.stripText(bytes))))
        }
        Seq(
          fx(29L, Seq("Software" -> "graftcam 1.0",
            "Comment" -> "synthetic fixture, do not train on me")),
          fx(30L, Seq("Author" -> "fixture-writer")))
      } ++ {
        // MJPEG set (x92, r15 verdict task 5): clips whose track is a
        // REAL 'jpeg' sample entry with per-sample stsz sizes, every
        // sample a complete baseline JPEG the JDK decodes. Expected
        // per-frame stats are authored by the engine's own
        // demux+JPEG-decode ([[Mp4Meta.decodeMjpegFrames]]), so the
        // lossy round trip cancels (the x12 rule). Fresh texture
        // families (9/10) so no accidental near-dup pairs with the
        // x84/x85 clips.
        val (w, h) = (64, 48)
        def jpegFrames(fam: Long, nFrames: Int): Seq[Array[Byte]] = {
          val a = 1.0 + (fam % 3).toDouble
          val b = 1.3 + ((fam / 3) % 3).toDouble
          val tau = 2.0 * StrictMath.PI
          (0 until nFrames).map { f =>
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val fx = x.toDouble / (w - 1)
                val fy = y.toDouble / (h - 1)
                val s = StrictMath.sin(tau * (a * fx + b * fy +
                  0.8 * fx * fy - 0.5 * fy * fy) + 1.1 * fam + 0.4 * f)
                val i0 = StrictMath.round(128.0 + 100.0 * s).toInt
                val v = if (i0 < 0) 0 else if (i0 > 255) 255 else i0
                img.setRGB(x, y, (v << 16) | (v << 8) | v)
                x += 1
              }
              y += 1
            }
            ImageCodec.encodeJpeg(img)
          }
        }
        def fx(i: Long, fam: Long, nFrames: Int): MediaFx = {
          val bytes = Mp4Meta.encodeVideoMjpeg(timescale = 1000,
            frameW = w, frameH = h, frameDelta = 500,
            jpegSamples = jpegFrames(fam, nFrames))
          val vt = Mp4Meta.decodeMjpegFrames(bytes).get
          MediaFx(i, "video", bytes, Some(w), Some(h),
            Some(Mp4Meta.decode(bytes).get.durationMs), None, None, None,
            None, None,
            Some(vt.frames.indices.map(vt.frameTsMs)),
            Some(vt.frames.map(fr =>
              fr.map(_ & 0xff).sum.toDouble / fr.length)), None, None,
            Some(vt.frames.map(fr =>
              PHash.ofLuma(fr, vt.width, vt.height))),
            codec = Some("mjpeg"))
        }
        Seq(fx(31L, 9L, 8), fx(32L, 10L, 6), fx(33L, 11L, 10))
      } ++ {
        // all-intra H.264 clips (x94, r18): each sample a complete
        // SPS+PPS+IDR access unit from the engine's own closed-loop
        // encoder behind an 'avc3' sample entry; configs vary QP,
        // deblocking and the I_PCM/Intra_4x4 rotation so the decode
        // path exercises every MB class. Expected per-frame stats are
        // authored by DECODING the authored bytes (the x12/x92 rule —
        // and the encoder's closed-loop recon equals that decode
        // bit-for-bit, which H264Spec pins).
        val (w, h) = (64, 48)
        def lumaFrames(fam: Long, nFrames: Int): Seq[Array[Byte]] = {
          val a = 1.3 + (fam % 3).toDouble
          val b = 0.9 + ((fam / 3) % 3).toDouble
          val tau = 2.0 * StrictMath.PI
          (0 until nFrames).map { f =>
            Array.tabulate(w * h) { j =>
              val fx = (j % w).toDouble / (w - 1)
              val fy = (j / w).toDouble / (h - 1)
              val s = StrictMath.sin(tau * (a * fx + b * fy +
                0.7 * fx * fy - 0.6 * fx * fx) + 1.3 * fam + 0.45 * f)
              val i0 = StrictMath.round(128.0 + 95.0 * s).toInt
              (if (i0 < 0) 0 else if (i0 > 255) 255 else i0).toByte
            }
          }
        }
        def fx(i: Long, fam: Long, nFrames: Int,
            cfg: h264.H264Encoder.Cfg): MediaFx = {
          val bytes = Mp4Meta.encodeVideoAvc(timescale = 1000, frameW = w,
            frameH = h, frameDelta = 500,
            accessUnits = lumaFrames(fam, nFrames).map(fr =>
              h264.H264Encoder.encodeFrame(fr, w, h, cfg)._1))
          val vt = Mp4Meta.decodeAvcFrames(bytes).get
          MediaFx(i, "video", bytes, Some(w), Some(h),
            Some(Mp4Meta.decode(bytes).get.durationMs), None, None, None,
            None, None,
            Some(vt.frames.indices.map(vt.frameTsMs)),
            Some(vt.frames.map(fr =>
              fr.map(_ & 0xff).sum.toDouble / fr.length)), None, None,
            Some(vt.frames.map(fr =>
              PHash.ofLuma(fr, vt.width, vt.height))),
            codec = Some("avc"))
        }
        // 37 — the avc1+avcC shape (out-of-band SPS/PPS, 2-byte NAL
        // lengths): same decode contract through the normalizeSamples
        // hook, so x94 gates BOTH parameter-set conventions
        def fxAvc1(i: Long, fam: Long, nFrames: Int, qp: Int): MediaFx = {
          val lengthSize = 2
          val encoded = lumaFrames(fam, nFrames).map(fr =>
            h264.H264Encoder.encodeFrame(fr, w, h,
              h264.H264Encoder.Cfg(qp = qp)))
          val bytes = Mp4Meta.encodeVideoAvc1(timescale = 1000, frameW = w,
            frameH = h, frameDelta = 500,
            samples = encoded.map(e =>
              h264.H264Encoder.toAvc1Sample(e._1, lengthSize)),
            avccPayload = h264.H264Encoder.avccPayload(w / 16, h / 16, qp,
              lengthSize))
          val vt = Mp4Meta.decodeAvcFrames(bytes).get
          MediaFx(i, "video", bytes, Some(w), Some(h),
            Some(Mp4Meta.decode(bytes).get.durationMs), None, None, None,
            None, None,
            Some(vt.frames.indices.map(vt.frameTsMs)),
            Some(vt.frames.map(fr =>
              fr.map(_ & 0xff).sum.toDouble / fr.length)), None, None,
            Some(vt.frames.map(fr =>
              PHash.ofLuma(fr, vt.width, vt.height))),
            codec = Some("avc"))
        }
        Seq(
          fx(34L, 12L, 8, h264.H264Encoder.Cfg(qp = 22, deblock = true)),
          fx(35L, 13L, 6, h264.H264Encoder.Cfg(qp = 30, deblock = false,
            i4Every = 1, pcmEvery = 0)),
          fx(36L, 14L, 10, h264.H264Encoder.Cfg(qp = 26, deblock = true,
            i4Every = 0, pcmEvery = 5)),
          fxAvc1(37L, 15L, 7, 24))
      }

  /** fixture writer (committed parquet, like the metadata fixtures) */
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/root/repo/fixtures/media")
    val spark = graft.core.GraftSession.builder("graft-media", "4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    mediaRows.toDS().coalesce(1).write.mode("overwrite")
      .parquet(s"$out/media.parquet")
    spark.stop()
  }

  /** input row for the decode pass (fixture schema MINUS the expected
    * columns — the engine must not peek at px_brightness)
    */
  case class MediaIn(
      media_id: Long, kind: String, payload: Array[Byte],
      width: Option[Int], height: Option[Int],
      duration_ms: Option[Long], sample_rate: Option[Int])

  /** `f` over each partition of `media`'s [[MediaIn]] columns: the typed
    * seam every payload decode pass runs through */
  private def mapMediaIn[T <: Product : TypeTag](media: DataFrame)(
      f: Iterator[MediaIn] => Iterator[T]): Dataset[T] =
    media.select(col("media_id"), col("kind"), col("payload"), col("width"),
        col("height"), col("duration_ms"), col("sample_rate"))
      .as(Encoders.product[MediaIn]).mapPartitions(f)(Encoders.product[T])

  /** [[MediaIn]] + decoded stats (image fields None for non-image
    * payloads, audio fields None for non-WAV payloads)
    */
  case class MediaDec(
      media_id: Long, kind: String, payload: Array[Byte],
      width: Option[Int], height: Option[Int],
      duration_ms: Option[Long], sample_rate: Option[Int],
      dec_width: Option[Int], dec_height: Option[Int],
      dec_brightness: Option[Double],
      dec_duration_ms: Option[Long], dec_sample_rate: Option[Int],
      dec_amp_mean: Option[Double])

  /** single embarrassingly-parallel decode pass: one `mapPartitions`, no
    * shuffle, no join — the row rides through with its decoded stats
    * attached. PNG, JPEG ([[ImageCodec]]) and WAV ([[WavCodec]]) decode
    * for real; mp4 yields None and keeps the stub seam in
    * [[decodeFeatures]].
    */
  def decodeMedia(media: DataFrame): DataFrame = {
    mapMediaIn(media)(_.map { m =>
      val d = ImageCodec.decode(m.payload)
      val a = WavCodec.decode(m.payload)
      val v = Mp4Meta.decode(m.payload)
      MediaDec(m.media_id, m.kind, m.payload, m.width, m.height,
        m.duration_ms, m.sample_rate, d.map(_._1), d.map(_._2),
        d.map(_._3),
        a.map(_.durationMs).orElse(v.map(_.durationMs)),
        a.map(_.sampleRate), a.map(_.meanAbs))
    }).toDF()
  }

  /** [[mediaExtractAll]]'s payload-free output row: the decode stats
    * (the [[MediaDec]] columns) PLUS all three perceptual hash artifacts
    */
  case class MediaExtractRow(
      media_id: Long, kind: String,
      dec_width: Option[Int], dec_height: Option[Int],
      dec_brightness: Option[Double],
      dec_duration_ms: Option[Long], dec_sample_rate: Option[Int],
      dec_amp_mean: Option[Double],
      phash64: Option[Long], audiofp64: Option[Long],
      fr_phash64: Option[Seq[Long]])

  /** FUSED single-pass extractor (r14 verdict item 3): one
    * `mapPartitions` decodes each payload ONCE and emits the decode
    * stats AND every perceptual hash artifact — image pHash, audio
    * fingerprint, per-frame video hashes (as an in-row array; explode is
    * a projection). The in-query compositions ([[mediaDedupKeep]],
    * [[mediaCurationFunnel]]) previously re-read and re-decoded the
    * payload 3–4× because each per-modality extractor was its own scan;
    * the fused pass pays one payload scan + one decode, and its
    * payload-free output (KBs per million files) persists for the
    * multi-consumer plans.
    *
    * Bit-parity contract (spec-pinned in MultimodalSpec): each output
    * column equals the per-modality extractor it fuses — the image is
    * decoded once and shared by the stats and [[PHash.ofImage]] (exactly
    * what [[PHash.ofBytes]] does after its own decode), the WAV stats
    * come from the same [[WavCodec.decode]] walker, the samples feed
    * [[AudioFp.ofSamples]] as in [[AudioFp.ofBytes]], and the frame
    * hashes replay [[videoPhash]]'s demux + [[PHash.ofLuma]] in order.
    */
  def mediaExtractAll(media: DataFrame): DataFrame = {
    mapMediaIn(media)(_.map { m =>
      val img = ImageCodec.decodeImage(m.payload)
      val d = img.map(i => (i.getWidth, i.getHeight,
        ImageCodec.brightness(i)))
      val a = WavCodec.decode(m.payload)
      val v = Mp4Meta.decode(m.payload)
      val samples = WavCodec.decodeSamples(m.payload)
      val vt = anyVideoTrack(m.payload)
      MediaExtractRow(m.media_id, m.kind,
        d.map(_._1), d.map(_._2), d.map(_._3),
        a.map(_.durationMs).orElse(v.map(_.durationMs)),
        a.map(_.sampleRate), a.map(_.meanAbs),
        img.map(PHash.ofImage),
        samples.flatMap { case (rate, ss) => AudioFp.ofSamples(ss, rate) },
        vt.map(t => t.frames.map(fr => PHash.ofLuma(fr, t.width, t.height))))
    }).toDF()
  }

  /** metadata extraction: magic-based container sniffing, byte size, and
    * content hash as pure expressions over the binary column; REAL
    * decoded width/height/brightness for PNG and JPEG rows and
    * duration/rate/amplitude for WAV rows (null elsewhere).
    */
  def mediaMeta(media: DataFrame): DataFrame = {
    // all byte inspection runs over the lowercase hex rendering — the one
    // binary representation both the engine and the oracle agree on
    // (DuckDB has no md5/substring over BLOB)
    val hx = lower(hex(col("payload")))
    val magic = substring(hx, 1, 8)
    val detected = when(magic === "89504e47", "png")
      .when(magic.startsWith("ffd8ff"), "jpeg")
      .when(magic === "52494646", "wav")
      .when(substring(hx, 9, 8) === "66747970", "mp4")
      .otherwise(lit("unknown"))
    decodeMedia(media).select(col("media_id"), col("kind"),
      length(col("payload")).as("n_bytes"),
      magic.as("magic_hex"), detected.as("container"),
      md5(hx).as("content_md5"),
      col("dec_width"), col("dec_height"), col("dec_brightness"),
      col("dec_duration_ms"), col("dec_sample_rate"), col("dec_amp_mean"),
      col("width"), col("height"), col("duration_ms"), col("sample_rate"))
  }

  /** frame sampling for timed media: one row per 1000 ms tick within
    * duration (generator expression — no shuffle), with a deterministic
    * per-frame fingerprint. This is the metadata-level sampling op
    * (which ticks exist); REAL frame CONTENT decode for the raw-track
    * mp4 fixture lives in [[videoFrames]] (x39).
    */
  def frameSample(media: DataFrame): DataFrame =
    media.filter(col("duration_ms").isNotNull)
      .select(col("media_id"), col("kind"),
        md5(lower(hex(col("payload")))).as("pmd5"),
        explode(sequence(lit(0L), col("duration_ms"), lit(1000L)))
          .as("frame_ts"))
      .select(col("media_id"), col("kind"), col("frame_ts"),
        md5(concat(col("pmd5"), lit("-"), col("frame_ts"))).as("frame_fp"))

  /** one decoded video frame: media time + real luma statistics */
  case class VideoFrameRow(
      media_id: Long, kind: String, frame_idx: Int, frame_ts_ms: Long,
      fr_width: Int, fr_height: Int, luma_mean: Double)

  /** REAL mp4 frame decode (r7 verdict task 6): demux the raw-luma
    * track ([[Mp4Meta.decodeFrames]] — real stsd/stts/stsz/stco sample
    * tables), slice every frame out of `mdat`, and emit per-frame luma
    * statistics. Same embarrassingly-parallel `mapPartitions` seam as
    * [[decodeMedia]]: no shuffle, rows without a decodable raw video
    * track are dropped (compressed codecs return None from the demuxer
    * — the honest "needs a codec library" boundary).
    */
  def videoFrames(media: DataFrame): DataFrame = {
    mapMediaIn(media)(_.flatMap { m =>
      anyVideoTrack(m.payload).iterator.flatMap { vt =>
        vt.frames.iterator.zipWithIndex.map { case (fr, i) =>
          VideoFrameRow(m.media_id, m.kind, i, vt.frameTsMs(i),
            vt.width, vt.height,
            fr.map(_ & 0xff).sum.toDouble / fr.length)
        }
      }
    }).toDF()
  }

  /** codec dispatch off the stsd sample entry via the shipped decoder
    * stack ([[Mp4Meta.decoders]]: raw luma, then the MJPEG JDK decode)
    * — every frame operator downstream is codec-agnostic; None only for
    * genuinely compressed inter-frame codecs (H.264/AV1), the
    * [[graft.llm.FrameDecoder]] seam a library decoder plugs into
    */
  private def anyVideoTrack(payload: Array[Byte]): Option[Mp4Meta.VideoTrack] =
    Mp4Meta.decodeAnyFrames(payload)

  /** x92 — the MJPEG-only decode path: per-frame luma stats + pHash for
    * clips whose track needs the JPEG codec (the [[videoFrames]] shape
    * plus the frame hash, restricted to the compressed-entry clips so
    * the query isolates the new capability). Same shuffle-free
    * `mapPartitions` decode seam.
    */
  def mjpegFrames(media: DataFrame): DataFrame = {
    mapMediaIn(media)(_.flatMap { m =>
      Mp4Meta.decodeMjpegFrames(m.payload).iterator.flatMap { vt =>
        vt.frames.iterator.zipWithIndex.map { case (fr, i) =>
          (m.media_id, i, vt.frameTsMs(i), vt.width, vt.height,
            fr.map(_ & 0xff).sum.toDouble / fr.length,
            PHash.ofLuma(fr, vt.width, vt.height))
        }
      }
    }).toDF("media_id", "frame_idx", "frame_ts_ms", "fr_width",
        "fr_height", "luma_mean", "fphash64")
  }

  /** x94 — the all-intra H.264 decode path: per-frame luma stats +
    * pHash for clips whose track needs the spec-derived avc1/avc3
    * decoder ([[graft.llm.h264.H264Decoder]]) — the x92 shape
    * restricted to the compressed-entry clips the r18 codec covers.
    * Same shuffle-free `mapPartitions` decode seam.
    */
  def avcFrames(media: DataFrame): DataFrame = {
    mapMediaIn(media)(_.flatMap { m =>
      Mp4Meta.decodeAvcFrames(m.payload).iterator.flatMap { vt =>
        vt.frames.iterator.zipWithIndex.map { case (fr, i) =>
          (m.media_id, i, vt.frameTsMs(i), vt.width, vt.height,
            fr.map(_ & 0xff).sum.toDouble / fr.length,
            PHash.ofLuma(fr, vt.width, vt.height))
        }
      }
    }).toDF("media_id", "frame_idx", "frame_ts_ms", "fr_width",
        "fr_height", "luma_mean", "fphash64")
  }

  /** per-row perceptual hash: one embarrassingly-parallel decode+hash
    * pass ([[PHash]]), no shuffle — `phash64` is null for non-image /
    * undecodable payloads. At deployment this output is the MATERIALIZED
    * artifact (write it next to the media table once; the pair search
    * and any incremental probe run off the stored hashes — the
    * VecBandIndex discipline), which is why [[imageNearDupFrom]] takes
    * this frame rather than re-decoding.
    */
  def imagePhash(media: DataFrame): DataFrame = {
    mapMediaIn(media)(_.map(m => (m.media_id, m.kind, PHash.ofBytes(m.payload))))
      .toDF("media_id", "kind", "phash64")
  }

  /** image near-dup pairs by perceptual hash: all (id_a < id_b) pairs
    * with hamming(phash) ≤ `tau`. One decode pass + a banded self-join —
    * never an all-pairs comparison.
    *
    * Scale shape is multi-index hashing (Norouzi et al., CVPR'12): the
    * 64-bit hash splits into `nBands` substrings; a pair within hamming
    * `tau < nBands` differs in at most `tau` substrings, so it SHARES at
    * least one — band-equality candidates + an exact popcount verify are
    * therefore EXACT for the τ-predicate (no recall loss, unlike the
    * minhash/hyperplane LSH families). Candidate volume per band is
    * Σ_bucket d², bounded by the [[Dedup.candidatePairs]] re-shard
    * discipline: an oversized bucket (a mega-cluster of visually
    * identical crops — the LAION watermark/template case) re-shards into
    * ceil(d/maxBucket) sub-buckets, trading recall inside that bucket
    * for bounded work, exactly the trade the text/embedding generators
    * make. Default 8 bands × 8 bits supports τ ≤ 7; a corpus-scale
    * deployment with tighter τ widens the bands (4×16 for τ ≤ 3) to cut
    * candidate volume 256×.
    */
  def imageNearDup(media: DataFrame, tau: Int = 7, nBands: Int = 8,
      maxBucket: Int = Dedup.MaxBucket): DataFrame =
    imageNearDupFrom(imagePhash(media), tau, nBands, maxBucket)

  /** [[imageNearDup]] over a stored [[imagePhash]] artifact */
  def imageNearDupFrom(hashed: DataFrame, tau: Int = 7, nBands: Int = 8,
      maxBucket: Int = Dedup.MaxBucket): DataFrame =
    hammingNearDupFrom(hashed, "phash64", tau, nBands, maxBucket)

  /** audio near-dup pairs by spectral fingerprint ([[AudioFp]]): the
    * re-encode / gain-change / resample duplicate classes, keyed by the
    * same 64-bit DCT+median construction and searched by the same exact
    * banded hamming join as [[imageNearDup]] — one generic machine, two
    * modalities.
    */
  def audioNearDup(media: DataFrame, tau: Int = 7, nBands: Int = 8,
      maxBucket: Int = Dedup.MaxBucket): DataFrame =
    hammingNearDupFrom(audioFingerprint(media), "audiofp64", tau, nBands,
      maxBucket)

  /** per-row audio spectral fingerprint — same embarrassingly-parallel
    * decode-pass contract as [[imagePhash]]; null for non-WAV payloads
    */
  def audioFingerprint(media: DataFrame): DataFrame = {
    mapMediaIn(media)(_.map(m => (m.media_id, m.kind, AudioFp.ofBytes(m.payload))))
      .toDF("media_id", "kind", "audiofp64")
  }

  /** per-frame perceptual hash for decodable video tracks: demux +
    * slice ([[Mp4Meta.decodeFrames]]) and [[PHash.ofLuma]] each frame in
    * the same shuffle-free `mapPartitions` pass as [[videoFrames]] —
    * the materialized frame-hash artifact video near-dedup runs off
    */
  def videoPhash(media: DataFrame): DataFrame = {
    mapMediaIn(media)(_.flatMap { m =>
      anyVideoTrack(m.payload).iterator.flatMap { vt =>
        vt.frames.iterator.zipWithIndex.map { case (fr, i) =>
          (m.media_id, i, PHash.ofLuma(fr, vt.width, vt.height))
        }
      }
    }).toDF("media_id", "frame_idx", "fphash64")
  }

  /** video near-dup pairs by frame-hash containment: two clips pair when
    * ≥ `minSim` of the SHORTER clip's distinct frame hashes appear in
    * the other (containment, not Jaccard, so a TRIMMED clip still scores
    * 1.0 against its source — the re-upload/clip case). Candidates come
    * from exact frame-hash equality (a shuffle on the hash key — the
    * winnow-pairs shape, never all-pairs); `maxDf` drops frame hashes
    * shared by more than that many clips first (the stop-frame cut: a
    * black/title-card frame at corpus scale would otherwise build a
    * mega-bucket AND inflate every overlap count — same df-cut
    * discipline as the winnowing text pairs).
    */
  def videoNearDup(media: DataFrame, minSim: Double = 0.5,
      maxDf: Int = 1000): DataFrame =
    videoNearDupFrom(videoPhash(media), minSim, maxDf)

  /** [[videoNearDup]] over a stored [[videoPhash]] artifact.
    *
    * Plan shape (r14: the two whole-partition WINDOWS — per-clip hash
    * count, per-hash df — became hash AGGREGATES + joins; a window with
    * no frame is a full sort-and-materialize of every frame row, while
    * the aggregates are map-side-combinable and the per-clip count
    * table is clip-sized, so AQE broadcasts it back onto the pair
    * list): distinct → two partial-agg group-bys (clip-keyed nh,
    * hash-keyed df) → df-cut semi-join → hash-keyed self-join (frame
    * collisions only, never all-pairs) → pair-keyed overlap agg → two
    * clip-sized nh joins → sim filter. nh deliberately counts BEFORE
    * the df cut — a stop-frame still belongs to the clip's length even
    * when it can't generate candidates.
    */
  def videoNearDupFrom(frameHashes: DataFrame, minSim: Double = 0.5,
      maxDf: Int = 1000): DataFrame = {
    // NO persist on the distinct table (r19, measured twice now): it is
    // referenced 3× (nh, df cut, candidate join input) but the
    // standalone x85 A/B shows 9→19 jobs / 38→420 tasks / 16→49 s task
    // time WITH a persist — the barrier plus 32-partition cache
    // exchanges cost more than the re-executed distinct, exactly the
    // r18 decode-persist verdict one node up. The funnels' video-leg
    // copies run off the extract cache and stay cheap.
    val d = frameHashes.select(col("media_id"), col("fphash64")).distinct()
    val nh = d.groupBy(col("media_id")).agg(count(lit(1)).as("nh"))
    val rare = d.groupBy(col("fphash64"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("fphash64"))
    val kept = d.join(rare, Seq("fphash64"))
    val a = kept.select(col("fphash64"), col("media_id").as("id_a"))
    val b = kept.select(col("fphash64"), col("media_id").as("id_b"))
    a.join(b, Seq("fphash64"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("overlap"))
      .join(nh.select(col("media_id").as("id_a"), col("nh").as("nh_a")),
        Seq("id_a"))
      .join(nh.select(col("media_id").as("id_b"), col("nh").as("nh_b")),
        Seq("id_b"))
      .withColumn("sim",
        col("overlap").cast("double") / least(col("nh_a"), col("nh_b")))
      .filter(col("sim") >= minSim)
      .select(col("id_a"), col("id_b"), col("overlap"), col("sim"))
  }

  /** embedded PNG text metadata (x89): one row per tEXt keyword/value
    * pair ([[PngChunks.textChunks]] — the spec-shaped chunk walker), the
    * provenance/consent strings (Software, Author, Comment) an image
    * pipeline audits before training. Same shuffle-free typed pass as
    * every decode op.
    */
  def pngTextChunks(media: DataFrame): DataFrame = {
    mapMediaIn(media)(_.flatMap { m =>
      PngChunks.textChunks(m.payload).zipWithIndex.map {
        case ((k, v), i) => (m.media_id, i, k, v)
      }
    }).toDF("media_id", "chunk_idx", "keyword", "value")
  }

  /** text-chunk STRIP audit (x90) — the provenance-hygiene pass: every
    * payload re-emitted without its tEXt/zTXt/iTXt chunks (pixels
    * byte-identical — only non-critical chunks go; spec-pinned), with
    * the per-file accounting a pipeline records: chunks removed, bytes
    * reclaimed, digest of the stripped payload. Non-PNG rows pass
    * through untouched (0 removed, digest = content digest).
    */
  def stripTextAudit(media: DataFrame): DataFrame = {
    mapMediaIn(media)(_.map { m =>
      val stripped = PngChunks.stripText(m.payload)
      (m.media_id, m.kind,
        PngChunks.textChunkCount(m.payload).toLong,
        (m.payload.length - stripped.length).toLong,
        md5OfHex(stripped))
    }).toDF("media_id", "kind", "n_text_chunks", "bytes_removed",
        "stripped_md5")
  }

  /** scene-change threshold on consecutive frame luma means — shared
    * with the x87 oracle (interpolated-constant discipline). Fixture
    * margins: in-segment drift ≤ ~3.3 everywhere, the planted cut ~85.
    */
  val SceneTau = 16.0

  /** scene-change detection over DECODED frames (x87): the keyframe /
    * shot-boundary pre-pass a multimodal training pipeline runs to
    * sample frames per scene instead of per tick. One decode pass
    * ([[videoFrames]]), a per-clip lag window on frame order (partition
    * = clip, bounded by frames-per-clip), and a map-side-combinable
    * rollup: a scene boundary is a consecutive luma_mean jump > tau.
    * Comparisons only — no double accumulation — so the oracle (the
    * same lag over the AUTHORED fr_brightness arrays) matches
    * bit-for-bit.
    */
  def sceneChanges(media: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("media_id")).orderBy(col("frame_idx"))
    videoFrames(media)
      .withColumn("prev", lag(col("luma_mean"), 1).over(w))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("prev").isNotNull &&
            abs(col("luma_mean") - col("prev")) > SceneTau, 1L)
          .otherwise(0L)).as("n_changes"))
      .select(col("media_id"), col("n_frames"), col("n_changes"),
        (col("n_changes") + 1L).as("n_scenes"))
  }

  /** media quality-gate thresholds — shared with the x88 oracle */
  val MinImageArea = 256
  val ExposureLo = 0.15
  val ExposureHi = 0.92
  val SilenceAmp = 0.01
  val HotAmp = 0.45
  val MinClipMs = 3000L

  /** media quality gate (x88) — the x26 composed keep/drop gate for the
    * media table, on DECODED stats (the authored fixture columns exist
    * only to let the oracle check the decode): undecodable payloads,
    * sub-minimum image area, exposure outliers, near-silent or
    * near-full-scale audio, too-short clips. First failing rule wins;
    * one shuffle-free decode pass, one projection.
    */
  def mediaQualityGate(media: DataFrame): DataFrame =
    qualityVerdict(decodeMedia(media))

  /** [[mediaQualityGate]] over a stored [[mediaDecodeStats]] (or
    * [[mediaExtractAll]]) artifact — the production shape: the decode
    * pass ran once at extraction time, the gate itself is one codegen
    * projection over payload-free stats
    */
  def mediaQualityGateFrom(stats: DataFrame): DataFrame =
    qualityVerdict(stats)

  /** the x88 first-failing-rule CASE, over any frame carrying the
    * decoded-stat columns (same expression whether they were decoded
    * in-flight or read back from a stored artifact)
    */
  private val qualityReason =
    when(col("dec_brightness").isNull &&
        col("dec_amp_mean").isNull && col("dec_duration_ms").isNull,
        "undecodable")
      .when(col("kind") === "image" &&
        col("dec_width") * col("dec_height") < MinImageArea, "too_small")
      .when(col("kind") === "image" &&
        (col("dec_brightness") < ExposureLo ||
          col("dec_brightness") > ExposureHi), "exposure")
      .when(col("kind") === "audio" && col("dec_amp_mean") < SilenceAmp,
        "silence")
      .when(col("kind") === "audio" && col("dec_amp_mean") > HotAmp,
        "clipping_risk")
      .when(col("kind") === "video" && col("dec_duration_ms") < MinClipMs,
        "too_short")
      .otherwise("pass")

  private def qualityVerdict(decoded: DataFrame): DataFrame =
    decoded.withColumn("reason", qualityReason)
      .select(col("media_id"), col("kind"), col("reason"),
        (col("reason") === "pass").as("keep"))

  /** the rows of a [[mediaExtractAll]] frame that pass the quality gate,
    * all columns kept: the funnel's dedup-stage input
    */
  private[graft] def qualitySurvivors(extract: DataFrame): DataFrame =
    extract.filter(qualityReason === "pass")

  /** payload-free decode-stats artifact (the quality gate's stored
    * input): one shuffle-free decode pass, then only the per-file stat
    * columns — at 100 TB the payload stays in the lake and this
    * kilobytes-per-million-files table is what the gate and the ingest
    * reports actually read
    */
  def mediaDecodeStats(media: DataFrame): DataFrame =
    decodeMedia(media).select(col("media_id"), col("kind"),
      col("dec_width"), col("dec_height"), col("dec_brightness"),
      col("dec_duration_ms"), col("dec_sample_rate"), col("dec_amp_mean"))

  /** cross-modal media dedup KEEP gate (x86) — the media twin of x30's
    * keep-representatives: the three modality pair generators (image
    * banded hamming, audio banded hamming, video frame containment) run
    * over the SAME corpus, their pair sets union into one edge set, the
    * shared CC machinery ([[Dedup.clustersFromPairs]] — large-star /
    * small-star with the bounded local finish) labels transitive
    * duplicate groups ACROSS variant chains, and each media file gets
    * its verdict: keep iff it is its cluster's min-id representative.
    * This is the ingest decision a media pipeline actually ships — one
    * keep/drop per file, not three per-modality pair listings.
    *
    * One fused decode pass ([[mediaExtractAll]], persisted payload-free)
    * feeds all three legs.
    */
  def mediaDedupKeep(media: DataFrame): DataFrame =
    mediaDedupKeepFrom(CacheScope.keep(mediaExtractAll(media)))

  /** [[mediaDedupKeep]] off the stored [[mediaExtractAll]] artifact — the
    * production path: decode happens once, at extraction time. Every
    * row of `extract` is a vertex; its hash columns feed the three legs.
    */
  def mediaDedupKeepFrom(extract: DataFrame, imgTau: Int = 7,
      imgBands: Int = 8): DataFrame = {
    // r17: the two hamming modalities feed CC through [[hammingCcEdges]]
    // (exact-hash collapse + star edges + rep-space banded join) — same
    // components as the full pair lists, bounded on mega-cluster
    // corpora where the pair LIST is quadratic-per-bucket even under
    // the re-shard cap. The per-pair LISTINGS (x81/x83) keep their
    // full-pair contract; only the edge set CC consumes changed shape.
    // [[videoPhash]]-shaped rows: the frame hashes ride in-row, so
    // exploding them is a projection, no re-decode
    val vidHash = extract.filter(col("fr_phash64").isNotNull)
      .select(col("media_id"),
        posexplode(col("fr_phash64")).as(Seq("frame_idx", "fphash64")))
    val pairs = hammingCcEdges(extract, "phash64", imgTau, imgBands)
      .unionAll(hammingCcEdges(extract, "audiofp64", 7, 8))
      .unionAll(videoNearDupFrom(vidHash).select(col("id_a"), col("id_b")))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val ids = extract.select(col("media_id").as("doc_id"))
    Dedup.clustersFromPairs(ids, pairs)
      .select(col("doc_id").as("media_id"), col("cluster_id"),
        col("cluster_size"))
      .join(extract.select(col("media_id"), col("kind")), Seq("media_id"))
      .select(col("media_id"), col("kind"), col("cluster_id"),
        col("cluster_size"),
        (col("media_id") === col("cluster_id")).as("keep"))
  }

  /** media curation funnel (x91) — the x77 sequential-attrition rollup
    * on the media side: stage 1 applies the quality gate to every file,
    * stage 2 runs cross-modal dedup keep among the quality SURVIVORS
    * only (sequential semantics — a dropped file can't represent a
    * cluster), and each (stage, kind) row reports in/kept counts. The
    * composition a media-ingest report actually shows. One fused decode
    * pass (persisted payload-free) feeds both stages.
    */
  def mediaCurationFunnel(media: DataFrame): DataFrame =
    mediaCurationFunnelFrom(CacheScope.keep(mediaExtractAll(media)))

  /** [[mediaCurationFunnel]] off the stored [[mediaExtractAll]] artifact
    * — the production funnel: decode happened once at extraction; stage
    * 1 is a projection over the artifact's stat columns, stage 2 filters
    * the same rows down to the quality survivors before the pair
    * generators run, so dedup's candidate volume shrinks with the
    * quality cut instead of being paid on files already dropped.
    * Per-file identical to [[mediaCurationFunnel]] (hash extraction is
    * deterministic per payload — spec-pinned).
    *
    * `imgTau`/`imgBands` expose the image stage's band geometry (r15):
    * past ~300k surviving images the default 8×8-bit bands saturate
    * (expected bucket size n/256 → pair work ~n²/256) and a deployment
    * switches to 4×16-bit / τ≤3 per the [[imageNearDupFrom]] scaladoc —
    * the funnel ladder measures both geometries at the same corpus.
    */
  def mediaCurationFunnelFrom(extract: DataFrame, imgTau: Int = 7,
      imgBands: Int = 8): DataFrame =
    funnelRollup(qualityVerdict(extract), "quality").unionByName(
      funnelRollup(mediaDedupKeepFrom(qualitySurvivors(extract), imgTau,
        imgBands), "dedup"))

  /** per-(stage, kind) in/kept attrition row */
  private def funnelRollup(gate: DataFrame, stage: String): DataFrame =
    gate.groupBy(col("kind"))
      .agg(count(lit(1)).as("n_in"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .select(lit(stage).as("stage"), col("kind"), col("n_in"),
        col("n_kept"))

  /** work-budget-driven re-shard cap (r14 verdict item 4 — the nd_aud
    * 8.6%-drop finding): the fixed [[Dedup.MaxBucket]] cap is a recall
    * knob with no policy — a corpus that clusters harder than expected
    * (the tone-mix case) silently drops more incidental pairs. This
    * WIDENS the cap as far as a candidate-work budget allows, from the
    * observed bucket-size histogram (one tiny agg — ≤ distinct buckets
    * rows):
    *
    * per-bucket candidate work ≈ d·min(d, cap)/2 (an unsharded bucket
    * enumerates d²/2 pairs; a sharded one ceil(d/cap) groups of ~cap²/2
    * ≈ d·cap/2), so total work W(cap) = Σ_d d·min(d, cap)/2 is monotone
    * in cap — walk the LARGEST power-of-two multiple of `minCap` whose
    * W fits the budget, capped at the largest bucket (beyond which
    * nothing changes). Every pair dropped by the returned cap would
    * also be dropped by any smaller cap, so auto-widening never loses
    * recall vs the fixed default; when the corpus is tame the whole
    * histogram fits the budget and NO bucket is sharded.
    *
    * The effective budget is max(`budgetPairs`, `headroom`·W(minCap)) —
    * SCALE-FREE by construction (measured at the 1M tone-mix point: the
    * sub-cap buckets alone cost 9.3×10⁸ candidates, so any constant
    * absolute budget is either trivially exceeded at scale or wasteful
    * at toy scale; "spend ≤ 50% more than the fixed cap already pays"
    * is meaningful at every corpus size, and at 1M WAVs it widens
    * 2000→8000 for +12% work and recovers the 8.6% of pairs the fixed
    * cap dropped). `budgetPairs` stays as the absolute floor so small
    * corpora with one mega-bucket can still widen past a dominating
    * linear-in-cap W.
    */
  def autoCap(hashed: DataFrame, hashCol: String, nBands: Int,
      budgetPairs: Long = 200000000L,
      minCap: Int = Dedup.MaxBucket,
      headroom: Double = 1.5): Int = {
    require(64 % nBands == 0 && nBands >= 2 && nBands <= 64)
    val bpb = 64 / nBands
    val mask = (1L << bpb) - 1
    val sizes = hashed.filter(col(hashCol).isNotNull)
      .select(col(hashCol).as("h"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .select(col("band"), expr(s"(h >> (band * $bpb)) & ${mask}L").as("bucket"))
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("d"))
      .filter(col("d") > 1)
      // histogram, not raw buckets: collect at most 64 (log2-spaced
      // size class, count, Σd, Σd²) rows regardless of corpus size
      .select((floor(log2(col("d")))).cast("int").as("cls"), col("d"))
      .groupBy(col("cls"))
      .agg(max(col("d")).as("dmax"), sum(col("d")).as("sd"),
        sum(col("d") * col("d")).as("sd2"))
      .collect()
    if (sizes.isEmpty) return minCap
    val dmax = sizes.map(_.getAs[Long]("dmax")).max
    def work(cap: Long): Double = sizes.map { r =>
      val cls = r.getAs[Int]("cls")
      val lo = 1L << cls
      val sd = r.getAs[Long]("sd").toDouble
      val sd2 = r.getAs[Long]("sd2").toDouble
      // class entirely under the cap does exact d²/2 work (Σd² moment);
      // entirely over it does d·cap/2 (Σd moment); a straddling class
      // takes the smaller of the two UPPER bounds (both valid since
      // min(d, cap) ≤ d and ≤ cap) — the budget check stays pessimistic
      if ((2L << cls) - 1 <= cap) sd2 / 2.0
      else if (lo > cap) sd * cap / 2.0
      else math.min(sd2 / 2.0, sd * cap / 2.0)
    }.sum
    val budget = math.max(budgetPairs.toDouble, headroom * work(minCap.toLong))
    var cap = minCap.toLong
    while (cap < dmax && work(cap * 2) <= budget) cap *= 2
    math.min(cap, Int.MaxValue.toLong).toInt
  }

  /** [[hammingNearDupFrom]] with the cap chosen by [[autoCap]] — the
    * deployment entry point: recall widens automatically on clustered
    * corpora until the work budget, instead of silently dropping pairs
    * at a fixed 2000
    */
  def hammingNearDupAuto(hashed: DataFrame, hashCol: String, tau: Int = 7,
      nBands: Int = 8, budgetPairs: Long = 200000000L): DataFrame =
    hammingNearDupFrom(hashed, hashCol, tau, nBands,
      autoCap(hashed, hashCol, nBands, budgetPairs))

  /** band-geometry ladder, widest recall first: 8×8-bit bands are exact
    * for τ ≤ 7; 4×16-bit bands are exact for τ ≤ 3 but have 256× the
    * bucket space, so their pair work stays in regime ~256× longer
    * (the funnel-ladder knee sits near 300k images — measured,
    * MediaBench r15)
    */
  val BandGeometries: Seq[(Int, Int)] = Seq((8, 7), (4, 3))

  /** work-budget-driven band-geometry selection (r15 forward note 3 /
    * verdict task 6 — the [[autoCap]] policy applied to the GEOMETRY
    * knob): walk the ladder from widest recall to narrowest and pick
    * the first geometry whose exact banded candidate work Σ_bucket
    * d·(d−1)/2 (one tiny two-row agg over the stored hash artifact —
    * the observed histogram, not the uniform n/2^bits guess, so a
    * clustered corpus switches EARLIER) fits the budget; the narrowest
    * geometry is the unconditional fallback. τ changes with the
    * geometry — that is the semantic trade the caller opts into by
    * using the auto entry point, which is why this ships as its own
    * query (x93) rather than a new default for x91.
    */
  def autoBandGeometry(hashed: DataFrame, hashCol: String,
      budgetPairs: Long = 200000000L,
      ladder: Seq[(Int, Int)] = BandGeometries): (Int, Int) = {
    require(ladder.nonEmpty)
    // r17: the histogram runs over DISTINCT hash values — the
    // representative space [[hammingCcEdges]] actually joins — so an
    // exact-duplicate mega-cluster (one hash shared by 20% of files)
    // costs the estimate nothing, exactly as it costs the execution
    // nothing; the estimate stays exact for the work the funnel pays
    val works = ladder.init.map { case (nBands, tau) =>
      val bpb = 64 / nBands
      val mask = (1L << bpb) - 1
      val w = hashed.filter(col(hashCol).isNotNull)
        .select(col(hashCol).as("h")).distinct()
        .select(col("h"),
          explode(sequence(lit(0), lit(nBands - 1))).as("band"))
        .select(col("band"),
          expr(s"(h >> (band * $bpb)) & ${mask}L").as("bucket"))
        .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("d"))
        .agg(sum(col("d") * (col("d") - 1) / 2).as("w"))
        .collect()(0)
      ((nBands, tau), Option(w.get(0)).fold(0.0)(_.toString.toDouble))
    }
    works.collectFirst {
      case (geo, w) if w <= budgetPairs.toDouble => geo
    }.getOrElse(ladder.last)
  }

  /** x93 — the curation funnel with the image band geometry picked by
    * [[autoBandGeometry]] from the extract's image-hash column: at tame
    * corpus sizes this IS [[mediaCurationFunnel]] (the ladder's widest
    * geometry fits the budget); past the knee it switches to the
    * 4×16-bit/τ≤3 production geometry instead of silently paying
    * out-of-regime pair work
    */
  def mediaCurationFunnelAuto(media: DataFrame,
      budgetPairs: Long = 200000000L): DataFrame = {
    val x = CacheScope.keep(mediaExtractAll(media))
    val (nBands, tau) = autoBandGeometry(x, "phash64", budgetPairs)
    // the selected geometry rides on every output row (r16 ADVICE):
    // past the budget knee the funnel legitimately switches to the
    // narrow geometry and its rows diverge from the wide-geometry
    // oracle — these columns turn that boundary crossing into a
    // visible, diagnosable value instead of an unexplained mismatch
    mediaCurationFunnelFrom(x, imgTau = tau, imgBands = nBands)
      .withColumn("geo_bands", lit(nBands))
      .withColumn("geo_tau", lit(tau))
  }

  /** the generic exact banded hamming-≤τ self-join over any
    * (media_id, `hashCol`: 64-bit code) table — multi-index hashing with
    * the house oversized-bucket re-shard cap (scale notes on
    * [[imageNearDup]]); [[hammingNearDupAuto]] picks the cap by work
    * budget instead of the fixed default
    */
  def hammingNearDupFrom(hashed: DataFrame, hashCol: String, tau: Int,
      nBands: Int, maxBucket: Int): DataFrame = {
    require(64 % nBands == 0 && nBands >= 2 && nBands <= 64,
      s"nBands must divide 64 (got $nBands)")
    require(tau < nBands,
      s"band recall is only exact for tau < nBands (got tau=$tau, nBands=$nBands)")
    val bpb = 64 / nBands
    val mask = (1L << bpb) - 1
    val h = hashed.filter(col(hashCol).isNotNull)
      .select(col("media_id"), col(hashCol).as("phash64"))
    // arithmetic >> then mask: the sign-extension bits of a negative
    // hash land outside the band mask
    val bands = h.select(col("media_id"), col("phash64"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .withColumn("bucket",
        expr(s"(phash64 >> (band * $bpb)) & ${mask}L"))
    // bucket sizes via a map-side-combinable AGG joined back (r15): the
    // former per-partition count WINDOW shuffled AND SORTED every band
    // row before the sub grouping's shuffle. The size table is bounded
    // by the band VALUE SPACE (≤ nBands·2^(64/nBands) rows — 2048 for
    // 8×8-bit, 256k for 4×16-bit), so for bpb ≤ 16 it broadcasts BY
    // CONSTRUCTION (a safe static hint, unlike the corpus-scaled sides
    // noStaticBroadcast exists for) and the full band table crosses the
    // wire exactly once, unsorted, straight into the sub grouping. The
    // band projection computes twice (a shift+mask over the hash
    // artifact — free), which is why the TEXT side's collidedBuckets
    // keeps its window: its band rows carry 128 minhash md5s per doc.
    val bsz = bands.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > 1)
    val bszSide = if (bpb <= 16) broadcast(bsz) else bsz
    val sharded = bands.join(bszSide, Seq("band", "bucket"))
      .withColumn("nsh",
        ceil(col("bsz").cast("double") / maxBucket).cast("int"))
      .withColumn("sub",
        Dedup.subShard(col("bucket"), col("media_id"), col("nsh")))
    val buckets = sharded.groupBy(col("band"), col("bucket"), col("sub"))
      .agg(sort_array(collect_list(struct(col("media_id"),
        col("phash64")))).as("vs"))
      .filter(size(col("vs")) > 1)
    buckets
      .select(posexplode(col("vs")).as(Seq("i", "a")), col("vs"))
      .select(col("a.media_id").as("id_a"), col("a.phash64").as("ph_a"),
        explode(slice(col("vs"), col("i") + lit(2), size(col("vs"))))
          .as("b"))
      .select(col("id_a"), col("ph_a"), col("b.media_id").as("id_b"),
        col("b.phash64").as("ph_b"))
      // r18: τ-filter BEFORE the cross-band dedup — bit_count is a
      // projection, so filtering first means the distinct's exchange
      // shuffles only τ-matches instead of every candidate pair.
      // Output identical: filter commutes with distinct, and hamming
      // is a function of the (one-hash-per-media) input ids, so
      // deduping (id_a, id_b, hamming) deduplicates exactly the pairs.
      .withColumn("hamming",
        expr("bit_count(ph_a ^ ph_b)"))
      .filter(col("hamming") <= tau)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
  }

  /** CC-EDGE generator for the banded hamming join (r17 — found by the
    * mega-cluster OOM: 20% of a 137k corpus sharing ONE pHash makes
    * every band bucket degenerate, and even under the re-shard cap the
    * full pair list costs Σ d·cap/2 ≈ 10⁸ edges per band — enough to
    * kill an 8 GiB JVM before CC starts). The keep gate never needed
    * the pair LIST — it needs edges whose connected components equal
    * the full τ-pair graph's, and identical hashes are trivially one
    * component. So: collapse to one REPRESENTATIVE per distinct hash
    * value (min id), attach every other member by a STAR edge (d−1
    * edges instead of d(d−1)/2), and run the banded τ-join over the
    * representative space only, where a mega-cluster is ONE row.
    *
    * Components are exactly the full graph's WHEN NO DISTINCT-HASH
    * bucket exceeds maxBucket (r17 advice — the honest statement of
    * the cap regime): (⊇) any τ-pair (a,b) either shares a hash —
    * star-connected through the rep — or its two hash values
    * h_a ≠ h_b are within τ, so the rep pair (rep(h_a), rep(h_b)) is
    * in the banded join and a—rep(h_a)—rep(h_b)—b connects; (⊆) every
    * emitted edge joins ids whose hashes are within τ (stars at
    * hamming 0, rep pairs by the τ filter), so it's an edge of the
    * full graph too. The ⊇ step assumes the banded join emits every
    * τ-close REP pair, which the re-shard cap can break once a single
    * band bucket holds > maxBucket DISTINCT hash values: the rep-space
    * join and the full-pair join then drop DIFFERENT cross-sub
    * candidates, so capped-regime components may diverge from the
    * full-pair graph's (both remain sound — every edge is a true
    * τ-edge — and both are banded-recall approximations in that
    * regime). What the collapse buys unconditionally: exact-DUPLICATE
    * volume can no longer cost recall or blow up the pair list, since
    * the cap now applies to distinct hash values only. Both regimes
    * spec-pinned (MultimodalSpec: equality below the cap; soundness +
    * star-completeness above it).
    */
  def hammingCcEdges(hashed: DataFrame, hashCol: String, tau: Int,
      nBands: Int, maxBucket: Int = Dedup.MaxBucket): DataFrame = {
    val h = hashed.filter(col(hashCol).isNotNull)
      .select(col("media_id"), col(hashCol).as("h"))
    // r19 restructure (found by the per-job trace — x86 ran ~45
    // separate exchange-materialization jobs per execution): the r18
    // hash-keyed WINDOW assumed its shuffled frame would be shared by
    // the star branch and the rep branch via exchange reuse, but the
    // three consumers prune different columns, the copies are
    // non-identical, and the full-volume window (exchange + sort)
    // re-executed up to 3× per leg (the comm-table pathology of the
    // r18 round, one level down). A map-side-combinable min-AGG
    // produces the same rep table with ONE full-volume exchange that
    // combines to distinct-hash size before the wire, no sort; both
    // downstream references (the star join + the banded rep join)
    // consume the SAME (h, rep) aggregate, so the agg exchange is
    // identical in both copies and reuse actually fires. Edge set
    // unchanged: rep = min media_id per distinct hash either way.
    // persisted (r19, per-job trace): reps is referenced three times
    // (star join + the banded join's size agg + its group agg) and
    // column pruning REWRITES the aggregate per copy (the size-agg
    // copy prunes `rep` away, turning the agg into a plain distinct),
    // so the copies can never canonicalize equal and each re-ran the
    // full-volume exchange. Two longs per distinct hash,
    // MEMORY_AND_DISK; the open CacheScope releases it.
    val reps =
      CacheScope.keep(h.groupBy(col("h")).agg(min(col("media_id")).as("rep")))
    val stars = h.join(reps, Seq("h"))
      .filter(col("media_id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("media_id").as("id_b"))
    val repPairs = hammingNearDupFrom(
      reps.select(col("rep").as("media_id"), col("h").as(hashCol)),
      hashCol, tau, nBands, maxBucket)
      .select(col("id_a"), col("id_b"))
    stars.unionAll(repPairs)
  }

  /** decoded feature record (what a real decoder would emit) */
  case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Int,
      mean_byte: Double, max_byte: Int)

  /** resized-image record: the re-encoded PNG payload plus the resized
    * pixels' statistics (what the pipeline's downstream vision
    * preprocessing consumes)
    */
  case class ResizedImage(
      media_id: Long, kind: String, payload: Array[Byte],
      rs_width: Int, rs_height: Int, rs_brightness: Double)

  /** REAL batch-wise image resize (formerly the one marked image stub):
    * decode (PNG/JPEG via [[ImageCodec]]), nearest-neighbor resample with
    * pure integer source-index math ([[ImageCodec.resizeNearest]] — no
    * Graphics2D interpolation state, so bit-deterministic), re-encode as
    * PNG. Same `mapPartitions` seam as [[decodeMedia]]: embarrassingly
    * parallel, no shuffle; non-image and undecodable rows are dropped
    * (the batch path's filter-then-transform shape).
    */
  def resizeImages(media: DataFrame, targetW: Int,
      targetH: Int): Dataset[ResizedImage] = {
    mapMediaIn(media)(_.flatMap { m =>
      if (!ImageCodec.isPng(m.payload) && !ImageCodec.isJpeg(m.payload))
        Iterator.empty
      else ImageCodec.decodeImage(m.payload).iterator.map { img =>
        val rs = ImageCodec.resizeNearest(img, targetW, targetH)
        ResizedImage(m.media_id, m.kind, ImageCodec.encode(rs),
          targetW, targetH, ImageCodec.brightness(rs))
      }
    })
  }

  /** batch-wise decode over a typed Dataset — the `mapPartitions` seam
    * where a real codec (JNI/FFI or Arrow hand-off) would run per batch.
    * STUB: statistics over raw bytes stand in for decoded content.
    * Partitioning contract: embarrassingly parallel, no shuffle.
    */
  def decodeFeatures(media: Dataset[MediaFx]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      // real decoders amortize per-partition init here (codec contexts)
      batch.map { m =>
        val bs = m.payload.map(_ & 0xff)
        MediaFeatures(m.media_id, m.kind, m.payload.length,
          if (bs.isEmpty) 0.0 else bs.sum.toDouble / bs.length,
          if (bs.isEmpty) 0 else bs.max)
      }
    }
  }
}
