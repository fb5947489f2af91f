package perfbench

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Pipeline, Similarity, TextOps}
import graft.sources.{ArtifactStore, Sinks}

/** The LLM data pipeline as a nightly batch. Each pass runs a full build
  * (the curation funnel; the kNN graph and its communities stored through
  * `ArtifactStore`; the dedup-kept documents written through `Sinks`),
  * then an incremental refresh of the next crawl against the stored
  * artifacts (`Similarity.graphRefreshCycleWith`).
  */
final class CorpusCuration(ctx: Ctx, nDocs: Int) extends Workload {
  val name = "corpus_curation"
  private val spark = ctx.spark
  import spark.implicits._

  private val MinCos = 0.3
  private var corpus: Corpus = _
  private var pass = 0
  private def in(n: String) = ctx.workDir.resolve("inputs").resolve(n).toString
  /** crawl N (0) or N+1 (1): its documents and their embeddings */
  private def crawl(n: Int) = spark.read.parquet(in(s"crawls/crawl=$n"))
  private def docs = crawl(0).select("doc_id", "text", "lang", "source", "n_chars")
  private def embs = crawl(0).select($"doc_id".as("vec_id"), $"embedding", $"label")
  private def nextDocs = crawl(1).select("doc_id", "text", "lang", "source", "n_chars")
  private def nextEmbs = crawl(1).select($"doc_id".as("vec_id"), $"embedding", $"label")

  /** both crawls in one parquet table, partitioned by crawl */
  def prepare(): Unit = {
    corpus = CorpusGen.generate(ctx.seed, nDocs)
    def rows(n: Int, ds: Seq[Doc], es: Seq[Emb]) = ds.zip(es).map { case (d, e) =>
      CrawlRow(n, d.doc_id, d.text, d.lang, d.source, d.n_chars, e.embedding,
        e.label)
    }
    spark.createDataFrame(rows(0, corpus.docs, corpus.embs) ++
        rows(1, corpus.nextDocs, corpus.nextEmbs))
      .repartition(ctx.cores).write.mode("overwrite").partitionBy("crawl")
      .parquet(in("crawls"))
  }

  def inputDigest: String = Digest.of(
    (corpus.docs.iterator ++ corpus.nextDocs.iterator).map(d =>
      Digest.str(s"${d.doc_id}|${d.text}|${d.lang}|${d.source}")) ++
    (corpus.embs.iterator ++ corpus.nextEmbs.iterator).map(e =>
      Digest.str(s"${e.vec_id}|${e.embedding.mkString(",")}")))

  /** the artifact directory tag of one pass: ArtifactStore reuses a
    * complete artifact under the same tag, so every pass gets a new one
    */
  private val instance = CorpusCuration.instances.incrementAndGet()
  private def tag(p: Int) = s"perfbench-corpus-$instance-pass$p"
  private def curatedPath(p: Int) =
    ctx.workDir.resolve("curated").resolve(s"$instance-pass$p").toString

  private def funnel(rec: Recorder): Unit =
    ctx.op(rec, "funnel") { _ =>
      Pipeline.curationFunnel(docs).orderBy("stage_id").collect()
    }(CorpusCuration.checkFunnel(nDocs, _))

  private def graph(rec: Recorder, p: Int): Unit =
    ctx.op(rec, "knn_graph") { _ =>
      ArtifactStore.cached(spark, tag(p), "graph") {
        Similarity.knnGraph(embs)
          .select(least($"src", $"dst").as("doc_a"),
            greatest($"src", $"dst").as("doc_b"), $"cos")
          .groupBy("doc_a", "doc_b").agg(max("cos").as("cos"))
      }
    } { g => if (g.columns.toSeq == Seq("doc_a", "doc_b", "cos")) None
      else Some("graph artifact columns") }

  private def communities(rec: Recorder, p: Int): Unit =
    ctx.op(rec, "communities") { _ =>
      val g = ArtifactStore.cached(spark, tag(p), "graph")(sys.error("no graph"))
      ArtifactStore.cached(spark, tag(p), "communities") {
        Dedup.clusterLabels(embs.select($"vec_id".as("doc_id")),
            g.filter($"cos" >= MinCos).select("doc_a", "doc_b"))
          .select($"doc_id".as("vec_id"), $"cluster_id".as("community_id"))
      }
    } { c =>
      val n = c.count()
      if (n == nDocs) None else Some(s"communities label $n of $nDocs vectors")
    }

  /** each near-dup cluster's lowest id; every planted exact-dup group
    * must keep exactly its base
    */
  private def dedupKeep(rec: Recorder): Option[Array[Long]] =
    ctx.op(rec, "dedup_keep") { _ =>
      Dedup.dupClusterLabels(docs).filter($"doc_id" === $"cluster_id")
        .select("doc_id").as[Long].collect()
    }(CorpusCuration.checkKeep(corpus, _))

  /** the kept documents written by source; read back to count them */
  private def write(rec: Recorder, p: Int, keep: Array[Long]): Unit =
    ctx.op(rec, "write") { _ =>
      Sinks.writePartitioned(
        docs.join(broadcast(keep.toSeq.toDF("doc_id")), "doc_id"),
        curatedPath(p), Seq("source"))
    } { _ =>
      val n = spark.read.parquet(curatedPath(p)).count()
      if (n == keep.length) None
      else Some(s"wrote $n of ${keep.length} kept documents")
    }

  /** the changed docs against the stored artifacts: corpus and batch
    * embeddings, surviving communities and graph edges
    */
  private def refreshInputs(changed: Set[Long], g: DataFrame,
      comms: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val ch = changed.toSeq.toDF("vec_id")
    (embs.join(ch, Seq("vec_id"), "left_anti"),
      nextEmbs.join(ch, Seq("vec_id"), "left_semi"),
      comms.join(ch, Seq("vec_id"), "left_anti"),
      g.join(ch.withColumnRenamed("vec_id", "doc_a"), Seq("doc_a"), "left_anti")
        .join(ch.withColumnRenamed("vec_id", "doc_b"), Seq("doc_b"),
          "left_anti"))
  }

  /** diff the next crawl, read the stored artifacts, then assign the
    * changed docs and re-score the updated partition in one
    * `graphRefreshCycleWith`; every changed doc is assigned when the
    * re-scored partition holds every document exactly once
    */
  private def refresh(rec: Recorder, p: Int): Unit =
    ctx.op(rec, "refresh") { id =>
      val changed = ctx.span("refresh.diff", id) {
        Dedup.snapshotDiff(docs, nextDocs).filter($"status" === "changed")
          .select("doc_id").as[Long].collect().toSet
      }
      val (g, comms) = ctx.span("sources.read", id) {
        val g = ArtifactStore.cached(spark, tag(p), "graph")(sys.error("no graph"))
        val c = ArtifactStore.cached(spark, tag(p), "communities")(
          sys.error("no communities"))
        (g, c)
      }
      val (corpusE, batch, keptComms, keptGraph) =
        refreshInputs(changed, g, comms)
      val sizes = ctx.span("refresh.rescore", id) {
        Similarity.graphRefreshCycleWith(corpusE, batch, keptGraph,
          keptComms, MinCos).agg(sum("community_size")).as[Long].head()
      }
      (changed, sizes)
    } { case (changed, sizes) =>
      if (changed != corpus.changed) Some("diff missed planted changes")
      else if (sizes != nDocs) Some(s"re-scored partition holds $sizes nodes")
      else None
    }

  private def onePass(rec: Recorder): Unit = {
    pass += 1
    funnel(rec); spark.catalog.clearCache()
    graph(rec, pass); spark.catalog.clearCache()
    communities(rec, pass); spark.catalog.clearCache()
    dedupKeep(rec).foreach(k => write(rec, pass, k))
    spark.catalog.clearCache()
    refresh(rec, pass); spark.catalog.clearCache()
  }

  /** one pass; the graph → communities → refresh chain beside the
    * funnel and the dedup keep → write chain
    */
  def warmUp(rec: Recorder): Unit = {
    pass += 1
    val p = pass
    Parallel.all(ctx.cores)(() => funnel(rec),
      () => { graph(rec, p); communities(rec, p); refresh(rec, p) },
      () => dedupKeep(rec).foreach(write(rec, p, _)))
    spark.catalog.clearCache()
  }

  /** the refresh against the last pass's artifacts */
  def probe(rec: Recorder): Unit = { refresh(rec, pass); spark.catalog.clearCache() }

  /** whole passes until the deadline, at least one */
  def loop(rec: Recorder, deadlineNs: Long): Unit =
    do { System.gc(); onePass(rec) } while (System.nanoTime() < deadlineNs)

  private val BuildOps =
    Seq("funnel", "knn_graph", "communities", "dedup_keep", "write")

  /** per-pass build wall: the sum of the pass's build ops */
  private def buildMs(rec: Recorder): Seq[Double] =
    BuildOps.map(rec.of).transpose.map(_.sum)

  def endToEnd(rec: Recorder): Seq[(String, Metric)] = Seq(
    "pass_s" -> Metric(Stats.median(buildMs(rec)) / 1000, "s"),
    "op_mean_ms" -> Metric(Stats.mean(rec.of("refresh")), "ms"))

  def report(rec: Recorder): Seq[(String, Any)] = Seq(
    "docs" -> nDocs,
    "passes" -> buildMs(rec).size,
    "docs_per_s" -> nDocs / (Stats.median(buildMs(rec)) / 1000),
    "refresh_s" -> Stats.median(rec.of("refresh")) / 1000,
    "changed_docs" -> corpus.changed.size,
    "exact_groups" -> corpus.exactGroups.size,
    "near_pairs" -> corpus.nearPairs.size)

  private def dirBytes(p: String): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def attribute(rec: Recorder): Map[String, Metric] = {
    def timed(span: String)(body: => Unit): Double =
      ctx.span(span, -1) {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val minhashS = timed("functions.minhash")(noop(Dedup.bandsInRow(docs)))
    val qualityS = timed("text.quality_gate")(noop(TextOps.qualityGate(docs)))
    val clusterS = timed("dedup.cluster")(noop(Dedup.dupClusterLabels(docs)))
    spark.catalog.clearCache()
    val cand = Dedup.candidatePairs(docs).count()
    spark.catalog.clearCache()
    val verified = Dedup.jaccardOnCandidates(docs)
      .filter($"jaccard" >= CorpusCuration.VerifyJaccard).count()
    spark.catalog.clearCache()
    // the delta probe alone (the first half of the refresh cycle): every
    // changed doc gets exactly one community
    rec.attempt()
    val probeS = timed("refresh.probe") {
      val g = ArtifactStore.cached(spark, tag(pass), "graph")(sys.error("no graph"))
      val c = ArtifactStore.cached(spark, tag(pass), "communities")(
        sys.error("no communities"))
      val (corpusE, batch, keptComms, _) = refreshInputs(corpus.changed, g, c)
      val got = Similarity.assignToCommunities(corpusE, keptComms, batch,
        MinCos).select("vec_id").as[Long].collect()
      if (got.length != corpus.changed.size || got.toSet != corpus.changed)
        rec.fail("refresh.probe",
          s"assigned ${got.length} of ${corpus.changed.size} changed docs")
    }
    spark.catalog.clearCache()
    val written = dirBytes(ctx.workDir.resolve("curated").toString) +
      dirBytes(ctx.workDir.resolve("tmp").toString)
    val passes = math.max(1, pass)
    // the Multimodal layer on a small media set of its own
    val media = new MediaFunnel(ctx, Main.MediaAttrImages)
    media.prepare()
    media.attribute(rec) ++ Map(
      "functions.minhash_rows_per_s" -> Metric(nDocs / minhashS, "1/s"),
      "text.quality_gate_s" -> Metric(qualityS, "s"),
      "dedup.cluster_s" -> Metric(clusterS, "s"),
      "refresh.probe_s" -> Metric(probeS, "s"),
      "dedup.candidate_pairs" -> Metric(cand.toDouble, "count"),
      "dedup.verified_pairs" -> Metric(verified.toDouble, "count"),
      "dedup.pair_yield" ->
        Metric(if (cand == 0) 0.0 else verified.toDouble / cand, "ratio"),
      "sources.bytes_written" -> Metric(written.toDouble / passes, "bytes"))
  }

  def close(): Unit = ()
}

/** one document of one crawl with its embedding (the input table's row) */
final case class CrawlRow(crawl: Int, doc_id: Long, text: String, lang: String,
    source: String, n_chars: Long, embedding: Seq[Float], label: Int)

object CorpusCuration {
  private val instances = new java.util.concurrent.atomic.AtomicInteger

  /** four stages, the first sees every doc, each stage's input is the
    * last one's output and input − dropped = kept
    */
  def checkFunnel(nDocs: Long, rows: Array[org.apache.spark.sql.Row]): Option[String] = {
    val st = rows.map(r => (r.getAs[Long]("n_in"), r.getAs[Long]("n_out"),
      r.getAs[Long]("n_dropped")))
    val chained = st.sliding(2).forall {
      case Array(a, b) => a._2 == b._1
      case _ => true
    }
    if (st.length != 4 || st.head._1 != nDocs) Some("funnel stages")
    else if (!st.forall(s => s._1 - s._3 == s._2) || !chained)
      Some("funnel counts do not add up")
    else None
  }

  /** every planted exact-dup group keeps exactly its base */
  def checkKeep(corpus: Corpus, ids: Array[Long]): Option[String] = {
    val kept = ids.toSet
    val bad = corpus.exactGroups.filterNot(g =>
      kept(g.head) && g.tail.forall(id => !kept(id)))
    if (bad.isEmpty) None
    else Some(s"${bad.size} planted exact-dup groups did not collapse")
  }
  /** a candidate pair counts as verified at this token-set Jaccard */
  val VerifyJaccard = 0.7
}
