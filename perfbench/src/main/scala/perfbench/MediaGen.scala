package perfbench

import graft.llm.{MediaCorpus, Mp4Meta, WavCodec}

/** the columns the engine's media entry points read */
final case class MediaFile(media_id: Long, kind: String, payload: Array[Byte],
    width: Option[Int], height: Option[Int], duration_ms: Option[Long],
    sample_rate: Option[Int])

/** A seeded media corpus and its planted (base, variant) id pairs.
  * `variants` shift brightness, halve the gain or trim a clip;
  * `exposureVariants` do the same to a base of the generator's two
  * exposure classes (base ≡ 1 or 2 mod 23: squeezed dark or bright,
  * near-silent or clipped), where the shift clips and a perceptual hash
  * may move past the dedup radius.
  */
final case class MediaSet(files: IndexedSeq[MediaFile],
    variants: Seq[(Long, Long)], exposureVariants: Seq[(Long, Long)]) {
  def bytes: Long = files.map(_.payload.length.toLong).sum
  def countOf(kind: String): Long = files.count(_.kind == kind).toLong
}

/** Media inputs from the engine's public synthetic generators
  * (`MediaCorpus.pngFor`/`wavFor`/`mp4For`): `nImg` images, a quarter as
  * many WAVs and an eighth as many MP4 clips. The seed picks which local
  * ids are generated: a window starting at a seed-derived multiple of 5,
  * so the generators' planting rule (local id ≡ 4 mod 5 is a near-dup
  * variant of id − 1) holds inside every window. Each modality gets a
  * disjoint media_id range, offsets again multiples of 5.
  */
object MediaGen {

  def windowStart(seed: Long): Long =
    5L * (new java.util.SplittableRandom(seed).nextLong(1L << 20))

  def generate(seed: Long, nImg: Int): MediaSet = {
    val base = windowStart(seed)
    val nAud = math.max(8, nImg / 4)
    val nVid = math.max(8, nImg / 8)
    val (audOff, vidOff) = MediaCorpus.offsets(nImg.toLong)
    val W = MediaCorpus.W
    val H = MediaCorpus.H
    val img = (0 until nImg).map { k =>
      MediaFile(k.toLong, "image", MediaCorpus.pngFor(base + k),
        Some(W), Some(H), None, None)
    }
    val aud = (0 until nAud).map { k =>
      val b = MediaCorpus.wavFor(base + k)
      val st = WavCodec.decode(b).get
      MediaFile(audOff + k, "audio", b, None, None, Some(st.durationMs),
        Some(st.sampleRate))
    }
    val vid = (0 until nVid).map { k =>
      val b = MediaCorpus.mp4For(base + k)
      MediaFile(vidOff + k, "video", b, Some(W), Some(H),
        Some(Mp4Meta.decode(b).get.durationMs), None)
    }
    val files = img ++ aud ++ vid
    val ids = files.map(_.media_id).toSet
    // variant ↔ base: local ids differ by one, and so do media ids
    val (exposure, plain) = files.flatMap { f =>
      val local = base + localOf(f.media_id, audOff, vidOff)
      if (local % 5 == 4 && ids.contains(f.media_id - 1))
        Some(((local - 1) % 23, (f.media_id - 1, f.media_id)))
      else None
    }.partition { case (cls, _) => cls == 1 || cls == 2 }
    MediaSet(files, plain.map(_._2), exposure.map(_._2))
  }

  private def localOf(id: Long, audOff: Long, vidOff: Long): Long =
    if (id >= vidOff) id - vidOff else if (id >= audOff) id - audOff else id
}
