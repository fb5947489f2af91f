package perfbench

import java.util.SplittableRandom

/** documents.parquet's schema */
final case class Doc(doc_id: Long, text: String, lang: String,
    source: String, n_chars: Long)

/** embeddings.parquet's schema; `vec_id` is the embedded doc's id */
final case class Emb(vec_id: Long, embedding: Seq[Float], label: Int)

/** A seeded corpus plus what the generator planted in it.
  *
  * @param exactGroups doc ids sharing one text, base (lowest id) first
  * @param nearPairs   (base, variant) pairs with a few tokens replaced
  * @param changed     ids whose text and embedding the next crawl changes
  */
final case class Corpus(docs: IndexedSeq[Doc], embs: IndexedSeq[Emb],
    nextDocs: IndexedSeq[Doc], nextEmbs: IndexedSeq[Emb],
    exactGroups: Seq[Seq[Long]], nearPairs: Seq[(Long, Long)],
    changed: Set[Long])

/** LLM-corpus generator shaped like the engine's `documents` and
  * `embeddings` tables: English-heavy token text over a fixed vocabulary
  * (the quality gate's language test keys on stopwords), ten sources,
  * 64-dim embeddings around 48 topic centers, and a fixed share of planted
  * exact duplicates and near-duplicate variants. The next crawl rewrites a
  * fixed share of documents. The seed picks which documents are planted
  * or rewritten, not how many.
  */
object CorpusGen {
  val Dim = 64
  val ExactShare = 0.08
  val NearShare = 0.06
  val ChangeShare = 0.05

  private val Stop = graft.functions.LangBest.LangWords.toMap
  private val Syll = Vector("ka", "lo", "mi", "ren", "to", "sa", "vel",
    "dun", "pra", "ti", "mor", "el", "zu", "fin", "ga", "bor", "ne", "sil")
  /** 400 content words of two or three syllables */
  private val Vocab: IndexedSeq[String] =
    (0 until 400).map { i =>
      val a = Syll(i % Syll.size)
      val b = Syll((i / Syll.size) % Syll.size)
      if (i < Syll.size * Syll.size) a + b
      else a + b + Syll((i * 7) % Syll.size)
    }.distinct.take(400)

  private def text(r: SplittableRandom, lang: String): String = {
    val n = if (r.nextInt(30) == 0) 3 + r.nextInt(6) else 30 + r.nextInt(120)
    val stop = Stop(lang)
    Seq.fill(n) {
      if (r.nextInt(10) < 3) stop(r.nextInt(stop.size))
      else Vocab(r.nextInt(Vocab.size))
    }.mkString(" ")
  }

  private def unit(v: Array[Double]): Seq[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.toSeq.map(x => (x / n).toFloat)
  }

  /** `xs` in a seeded order */
  private def shuffled(xs: IndexedSeq[Int], r: SplittableRandom): IndexedSeq[Int] = {
    val a = xs.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val x = a(i); a(i) = a(j); a(j) = x
    }
    a.toIndexedSeq
  }

  def generate(seed: Long, nDocs: Int): Corpus = {
    val r = new SplittableRandom(seed)
    // the first 51 documents are fresh, so every plant has a base
    val plants = shuffled(51 until nDocs, r)
    val nExact = (ExactShare * nDocs).toInt
    val exactAt = plants.take(nExact).toSet
    val nearAt = plants.slice(nExact, nExact + (NearShare * nDocs).toInt).toSet
    val centers = Array.fill(48)(Array.fill(Dim)(r.nextDouble() * 2 - 1))
    def embNear(c: Array[Double], noise: Double) =
      unit(c.map(x => x + noise * (r.nextDouble() * 2 - 1)))
    val langs = Vector("en", "en", "en", "en", "en", "en", "en", "en",
      "de", "fr")
    val docs = new Array[Doc](nDocs)
    val embs = new Array[Emb](nDocs)
    val exact = scala.collection.mutable.LinkedHashMap.empty[Long, Vector[Long]]
    val near = Seq.newBuilder[(Long, Long)]
    // planted duplicates copy fresh documents only, so the base of every
    // planted group is its lowest id and its cluster's representative
    val fresh = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (i <- 0 until nDocs) {
      val src = s"src${math.min(9, (r.nextDouble() * r.nextDouble() * 10).toInt)}"
      if (exactAt(i)) {
        val b = fresh(r.nextInt(fresh.size))
        val d = docs(b)
        docs(i) = Doc(i, d.text, d.lang, src, d.n_chars)
        embs(i) = Emb(i, embs(b).embedding, embs(b).label)
        exact(b.toLong) = exact.getOrElse(b.toLong, Vector(b.toLong)) :+ i.toLong
      } else if (nearAt(i)) {
        val b = fresh(r.nextInt(fresh.size))
        val toks = docs(b).text.split(' ')
        // one in twenty tokens replaced: Jaccard stays far above the
        // verify threshold
        val t = toks.indices.map { k =>
          if (r.nextInt(20) == 0) Vocab(r.nextInt(Vocab.size)) else toks(k)
        }.mkString(" ")
        docs(i) = Doc(i, t, docs(b).lang, src, t.length.toLong)
        embs(i) = Emb(i, unit(embs(b).embedding.map(x =>
          x + 0.02 * (r.nextDouble() * 2 - 1)).toArray), embs(b).label)
        near += b.toLong -> i.toLong
      } else {
        val lang = langs(r.nextInt(langs.size))
        val t = text(r, lang)
        val c = r.nextInt(centers.length)
        docs(i) = Doc(i, t, lang, src, t.length.toLong)
        embs(i) = Emb(i, embNear(centers(c), 0.6), c)
        fresh += i
      }
    }
    // the next crawl rewrites a share of documents that are no plant's
    // member, with a new text and a re-embedded vector
    val planted = exact.values.flatten.toSet ++
      near.result().flatMap(p => Seq(p._1, p._2))
    val changed = shuffled((0 until nDocs).filterNot(i =>
        planted.contains(i.toLong)), r)
      .take((ChangeShare * nDocs).toInt).map(_.toLong).toSet
    val nextDocs = docs.map { d =>
      if (changed(d.doc_id)) {
        val t = text(r, d.lang)
        d.copy(text = t, n_chars = t.length.toLong)
      } else d
    }
    val nextEmbs = embs.map { e =>
      if (changed(e.vec_id)) {
        val c = r.nextInt(centers.length)
        Emb(e.vec_id, embNear(centers(c), 0.6), c)
      } else e
    }
    Corpus(docs.toIndexedSeq, embs.toIndexedSeq, nextDocs.toIndexedSeq,
      nextEmbs.toIndexedSeq, exact.values.toSeq, near.result(), changed)
  }
}
