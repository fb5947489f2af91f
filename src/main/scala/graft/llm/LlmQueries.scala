package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.core.{CacheScope, Tables}

/** LLM-data-pipeline query surface (SURVEY §2.11 X3-X6 + multimodal):
  * dedup (exact / MinHash-LSH / SimHash / Jaccard), similarity search
  * (brute-force baseline, sign-bucket LSH, IVF-style probe), text
  * analysis (token stats, lang-ID, quality, fingerprints), and multimodal
  * binary handling — each with a DuckDB oracle computing bit-identical
  * results (md5-based hashing, left-to-right double accumulation).
  */
object LlmQueries extends QueryPack {

  private[graft] val MEDIA = "/root/repo/fixtures/media"
  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
  /** media input: a STAGED sf-proportional corpus when the run dir
    * carries one ([[MediaCorpus]] — the bench path, r13 verdict task 7),
    * else the committed 31-row fixture (the correctness path: the
    * driver's sf dirs have no media table, and every media oracle reads
    * the fixture's authored columns at its committed path)
    */
  private def media(s: SparkSession, dir: String): DataFrame = {
    val staged = s"$dir/media.parquet"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(staged)))
      s.read.parquet(staged)
    else s.read.parquet(s"$MEDIA/media.parquet")
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x01_exact_dedup" -> ((s, dir) => Dedup.exactGroups(docs(s, dir))),
    "x02_minhash_pairs" -> ((s, dir) => Dedup.candidatePairs(docs(s, dir))),
    "x03_ngram_jaccard" -> ((s, dir) =>
      Dedup.jaccardOnCandidates(docs(s, dir))),
    "x04_simhash" -> ((s, dir) => Dedup.simhash(docs(s, dir))),
    "x05_cosine_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(embs(s, dir), nQueries = 10, k = 5)),
    // 8-bit bands on the toy corpus (near-random embeddings) so the demo
    // surfaces pairs; the API default is the 16-bit scale setting
    "x06_lsh_neardup" -> ((s, dir) =>
      Similarity.lshNearDup(embs(s, dir), minCos = 0.3, nBands = LshBands,
        bitsPerBand = LshBits)),
    "x07_ivf_topk" -> ((s, dir) =>
      Similarity.ivfTopK(embs(s, dir), nQueries = 10, k = 3)),
    "x08_token_stats" -> ((s, dir) => TextOps.tokenStats(docs(s, dir))),
    "x09_lang_id" -> ((s, dir) => TextOps.langId(docs(s, dir))),
    "x10_quality" -> ((s, dir) => TextOps.qualityScore(docs(s, dir))),
    "x11_fingerprint" -> ((s, dir) => TextOps.fingerprint(docs(s, dir))),
    "x12_media_meta" -> ((s, dir) => Multimodal.mediaMeta(media(s, dir))),
    "x13_frame_sample" -> ((s, dir) => Multimodal.frameSample(media(s, dir))),
    "x14_ivf_centroid_topk" -> ((s, dir) =>
      Similarity.ivfCentroidTopK(embs(s, dir), CentroidIds, nQueries = 10,
        k = 3)),
    "x15_native_cosine_topk" -> ((s, dir) =>
      Similarity.bruteForceTopKNative(embs(s, dir), nQueries = 10, k = 5)),
    "x16_dup_clusters" -> ((s, dir) => Dedup.dupClusters(docs(s, dir))),
    "x17_hash_split" -> ((s, dir) => Sampling.splitAndSample(docs(s, dir))),
    "x18_winnow_fingerprint" -> ((s, dir) =>
      TextOps.winnowFingerprints(docs(s, dir))),
    "x19_quantized_topk" -> ((s, dir) =>
      Similarity.quantizedTopK(embs(s, dir), nQueries = 10, k = 5)),
    "x20_ivf_nprobe_topk" -> ((s, dir) =>
      Similarity.ivfCentroidTopK(embs(s, dir), CentroidIds, nQueries = 10,
        k = 3, nprobe = 2)),
    "x21_winnow_pairs" -> ((s, dir) => TextOps.winnowPairs(docs(s, dir))),
    "x22_tfidf_topterms" -> ((s, dir) =>
      TextOps.tfidfTopTerms(docs(s, dir))),
    "x23_repetition" -> ((s, dir) =>
      TextOps.repetitionSignals(docs(s, dir))),
    "x24_bm25" -> ((s, dir) => TextOps.bm25Odds(docs(s, dir), Bm25Terms)),
    "x25_chunking" -> ((s, dir) => TextOps.chunkTokens(docs(s, dir))),
    "x26_quality_gate" -> ((s, dir) => TextOps.qualityGate(docs(s, dir))),
    "x27_decontam" -> ((s, dir) => TextOps.decontaminate(docs(s, dir))),
    "x28_pack_sequences" -> ((s, dir) =>
      TextOps.packSequences(docs(s, dir))),
    "x29_pii_redact" -> ((s, dir) =>
      TextOps.redactPii(TextOps.injectDemoPii(docs(s, dir)))),
    "x30_dedup_keep" -> ((s, dir) => Dedup.keepRepresentatives(docs(s, dir))),
    "x31_resize" -> ((s, dir) =>
      Multimodal.resizeImages(media(s, dir), 8, 6).toDF()
        .select(col("media_id"), col("rs_width"), col("rs_height"),
          col("rs_brightness"),
          md5(lower(hex(col("payload")))).as("rs_md5"))),
    "x32_kmeans" -> ((s, dir) =>
      Similarity.kmeans(embs(s, dir), CentroidIds, iters = 2)),
    "x33_segment_dedup" -> ((s, dir) => TextOps.segmentDedup(docs(s, dir))),
    "x34_semdedup" -> ((s, dir) =>
      Similarity.semDedup(embs(s, dir), CentroidIds)),
    // exercises the sharded 100 TB path — bit-identical to domainCap
    // (DedupSpec asserts the equality), so the same oracle gates both
    "x35_domain_cap" -> ((s, dir) =>
      Sampling.domainCapAtScale(docs(s, dir))),
    "x36_fuzzy_decontam" -> ((s, dir) => Dedup.fuzzyDecontam(docs(s, dir))),
    "x37_cms_heavy" -> ((s, dir) => Sketches.cmsHeavyHitters(docs(s, dir))),
    "x38_pipeline_manifest" -> ((s, dir) => Pipeline.manifest(docs(s, dir))),
    "x39_video_frames" -> ((s, dir) => Multimodal.videoFrames(media(s, dir))),
    // rows-only (no oracle, like q30/m22): the scale-path mean's
    // partition-order float accumulation is engine-specific by design;
    // KmeansSpec bounds it within 1e-9 of the exact path
    "x40_kmeans_scale" -> ((s, dir) =>
      Similarity.kmeansAtScale(embs(s, dir), CentroidIds, maxIters = 2)),
    "x41_dup_spans" -> ((s, dir) => TextOps.dupSpans(docs(s, dir))),
    "x42_bigram_lm" -> ((s, dir) => TextOps.bigramLmScore(docs(s, dir))),
    "x43_dsir_weights" -> ((s, dir) => TextOps.dsirWeights(docs(s, dir))),
    "x44_dsir_resample" -> ((s, dir) => Sampling.dsirResample(docs(s, dir))),
    "x45_vocab_coverage" -> ((s, dir) => TextOps.vocabCoverage(docs(s, dir))),
    "x46_temperature_mix" -> ((s, dir) => Sampling.temperatureResample(docs(s, dir))),
    "x47_bpe_pairs" -> ((s, dir) => Bpe.pairRanking(docs(s, dir))),
    // rows-only (no oracle, like x40): the merge loop's round-N winners
    // depend on round-(N-1)'s regex rewrite, which needs lookaround
    // replace semantics DuckDB's RE2 lacks — BpeSpec hand-verifies the
    // merge table and encode/train equivalence on a known corpus.
    // Routes the incremental-delta trainer (the x35 discipline: the
    // scale path is exercised; BpeSpec asserts it's bit-identical to
    // the recount path)
    "x48_bpe_train" -> ((s, dir) =>
      Bpe.bpeTrainIncremental(docs(s, dir), nMerges = 12)),
    "x49_source_overlap" -> ((s, dir) => TextOps.sourceOverlap(docs(s, dir))),
    // the ingest slice is the deterministic doc_id % 10 = 0 stand-in for
    // "today's batch"; the other 90% plays the existing corpus
    "x50_incremental_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.incrementalDedup(d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0))
    }),
    // the bit-exact rational route; the shannon=true entropy route is
    // tolerance-spec'd in TextOpsSpec (lnWeights discipline)
    "x51_token_diversity" -> ((s, dir) => TextOps.tokenDiversity(docs(s, dir))),
    "x52_lsh_recall_audit" -> ((s, dir) => Dedup.lshRecallAudit(docs(s, dir))),
    "x53_split_leakage" -> ((s, dir) => Dedup.splitLeakage(docs(s, dir))),
    // slice stand-ins for "crawl N vs crawl N+1": doc_id parity
    "x54_corpus_drift" -> ((s, dir) => {
      val d = docs(s, dir)
      TextOps.corpusDrift(d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1))
    }),
    // vec_id parity slices against the pinned reference centroids
    "x55_embedding_drift" -> ((s, dir) =>
      Similarity.embeddingDrift(embs(s, dir), CentroidIds)),
    // the kmeans-refined SemDeDup composition, oracle-exact form (the
    // production route is semDedupRefined/kmeansAtScale, tied to this
    // one by KmeansSpec — the x40-vs-x32 discipline)
    "x56_semdedup_refined" -> ((s, dir) =>
      Similarity.semDedupRefinedExact(embs(s, dir), CentroidIds)),
    // ingest slice stand-in: vec_id % 10 = 0 plays "today's batch",
    // the rest the existing corpus; demo 8-bit bands so collisions exist
    "x57_emb_ingest_gate" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.embIngestGate(e.filter(col("vec_id") % 10 =!= 0),
        e.filter(col("vec_id") % 10 === 0), minCos = 0.3,
        nBands = LshBands, bitsPerBand = LshBits)
    }),
    // product quantization: codebooks pinned to the same 8 init vectors
    // as x32 (8 codewords × 4 subspaces over the 64-dim embeddings),
    // one Lloyd refinement round, ADC top-5 for the 10-query demo set
    "x58_pq_topk" -> ((s, dir) =>
      Similarity.pqTopK(embs(s, dir), CentroidIds, nQueries = 10, k = 5)),
    // measured recall@5 of the int8-quantized scan, the 1-probe IVF, and
    // the PQ/ADC scan against the exact brute-force ranking — the ANN
    // tuning instrument
    "x59_ann_recall_audit" -> ((s, dir) =>
      Similarity.annRecallAudit(embs(s, dir), CentroidIds, nQueries = 10,
        k = 5)),
    // IVF-PQ composition: x14's coarse cosine cells × x58's ADC codes,
    // 2-probe queries — the FAISS-IVFPQ shape at demo scale
    "x61_ivfpq_topk" -> ((s, dir) =>
      Similarity.ivfPqTopK(embs(s, dir), CentroidIds, nQueries = 10,
        k = 5, nprobe = 2)),
    // crawl-N vs crawl-N+1 stand-in derived deterministically from the
    // one documents table: N+1 drops doc_id%7=3, byte-edits (uppercases)
    // doc_id%5=0, and adds doc_id%9=4 back under fresh ids
    "x60_snapshot_diff" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.snapshotDiff(d, crawlNext(d))
    }),
    // the incremental-refresh capstone: diff scopes the delta, the
    // Bloom gate content-checks it against the old corpus, every doc
    // gets its action (skip / forget / drop_dup / ingest) — the
    // re-keyed adds of the crawl stand-in carry verbatim old content,
    // so drop_dup genuinely fires
    "x65_refresh_pipeline" -> ((s, dir) => {
      val d = docs(s, dir)
      Pipeline.refreshPipeline(d, crawlNext(d))
    }),
    // two-stage retrieval: x58's ADC codes shortlist 20 candidates per
    // query, exact cosine reranks ONLY the shortlist to the final top-5
    "x62_pq_rerank_topk" -> ((s, dir) =>
      Similarity.pqRerankTopK(embs(s, dir), CentroidIds, nQueries = 10,
        k = 5, kShort = 20)),
    // hybrid retrieval: trigram-shingle Jaccard lexical leg × exact
    // cosine vector leg (top-20 each), reciprocal-rank fusion at K=60
    "x63_hybrid_rrf" -> ((s, dir) =>
      Similarity.hybridRrfTopK(docs(s, dir), embs(s, dir), nQueries = 10,
        k = 5, kLeg = 20)),
    // Bloom ingest pre-gate: corpus (doc_id%10!=0) collapses to its
    // md5 bit-position set (65536 bits × 3 hashes ≈ 13 bits/doc at
    // sf0.1 — a realistic sub-1% FP rate, still measurable); the batch
    // slice is gated and the exact check rides along to price FPs
    "x64_bloom_pre_gate" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.bloomPreGate(d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0))
    }),
    // model-based quality filter: fasttext-style linear classifier
    // inference as a literal-map fold — shuffle-free scan-throughput
    // projection (the mapped-x26 argument applied to a trained model)
    "x66_classifier_score" -> ((s, dir) =>
      TextOps.classifierScore(docs(s, dir))),
    // takedown propagation over a corpus with the x60/x65 re-add slice
    // unioned in (verbatim copies under fresh ids), so the content and
    // cluster propagation paths genuinely fire, not just `direct`
    "x67_takedown_propagate" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.takedownPropagate(d.unionByName(
        d.filter(col("doc_id") % 9 === 4)
          .withColumn("doc_id", col("doc_id") + 1000000L)))
    }),
    // diversity-aware selection: cluster-round-robin top-32 — the
    // distributed greedy stand-in for MMR (see Similarity.diverseSelect)
    "x68_diverse_select" -> ((s, dir) =>
      Similarity.diverseSelect(embs(s, dir), CentroidIds, k = 32)),
    // kNN graph off the x06 demo band geometry (8-bit buckets so the
    // toy corpus collides); the API default is the 16-bit scale setting
    "x69_knn_graph" -> ((s, dir) =>
      Similarity.knnGraph(embs(s, dir), k = 5, nBands = LshBands,
        bitsPerBand = LshBits)),
    "x70_epoch_schedule" -> ((s, dir) => Pipeline.epochSchedule(docs(s, dir))),
    "x71_knn_communities" -> ((s, dir) =>
      Similarity.knnCommunities(embs(s, dir), minCos = 0.3, k = 5,
        nBands = LshBands, bitsPerBand = LshBits)),
    "x72_community_quality" -> ((s, dir) =>
      Similarity.communityQuality(embs(s, dir), minCos = 0.3, k = 5,
        nBands = LshBands, bitsPerBand = LshBits)),
    // incremental ingest into the stored community structure: corpus =
    // vec_id%10!=0 (the st12/x57 split), its x71 communities as the
    // stored artifact, the %10==0 slice as the arriving batch
    "x73_assign_communities" -> ((s, dir) => {
      val e = embs(s, dir)
      val corpus = e.filter(col("vec_id") % 10 =!= 0)
      // labels-only stored artifact (r19): the donation join prunes
      // community_size, so the size agg+join tail was dead work
      val comms = Similarity.knnCommunityLabels(corpus, minCos = 0.3,
        k = 5, nBands = LshBands, bitsPerBand = LshBits)
      Similarity.assignToCommunities(corpus, comms,
        e.filter(col("vec_id") % 10 === 0), minCos = 0.3,
        nBands = LshBands, bitsPerBand = LshBits)
    }),
    "x74_budget_select" -> ((s, dir) => Sampling.budgetSelect(docs(s, dir))),
    "x75_cluster_safe_split" -> ((s, dir) =>
      Sampling.clusterSafeSplit(docs(s, dir))),
    "x76_token_shards" -> ((s, dir) => Sampling.tokenShards(docs(s, dir))),
    "x77_curation_funnel" -> ((s, dir) =>
      Pipeline.curationFunnel(docs(s, dir))),
    // the incremental graph-maintenance cycle end-to-end: x60's diff
    // scopes the CHANGED docs (their vectors re-embed), the corpus
    // graph + communities stand in for the stored artifacts, x73's
    // probe assigns the delta, x72's metrics re-score the updated
    // partition over the delta-appended graph
    "x78_graph_refresh" -> ((s, dir) => {
      val d = docs(s, dir)
      Similarity.graphRefreshCycle(d, crawlNext(d), embs(s, dir),
        minCos = 0.3, k = 5, nBands = LshBands, bitsPerBand = LshBits)
    }),
    // the refresh cycle off STORED artifacts (the st20 discipline on
    // the graph layer): the corpus edge set + communities load from
    // parquet (built once, warm-up pays it), so the timed runs price
    // the production path — diff + delta probe + re-score only; the
    // oracle is x78's verbatim (same values by construction)
    "x79_graph_refresh_stored" -> ((s, dir) => {
      import graft.sources.ArtifactStore
      val d = docs(s, dir)
      val e = embs(s, dir)
      val changed = Dedup.snapshotDiff(d, crawlNext(d))
        .filter(col("status") === "changed")
        .select(col("doc_id").as("vec_id"))
      val corpus =
        CacheScope.keep(e.join(changed, Seq("vec_id"), "left_anti"))
      val batch = CacheScope.keep(e.join(changed, Seq("vec_id"), "left_semi"))
      val graph = ArtifactStore.cached(s, dir, "corpus_graph",
          s"k5.b$LshBands.w$LshBits") {
        Similarity.knnGraph(corpus, k = 5, nBands = LshBands,
            bitsPerBand = LshBits)
          .select(least(col("src"), col("dst")).as("doc_a"),
            greatest(col("src"), col("dst")).as("doc_b"))
          .distinct()
      }
      val comms = ArtifactStore.cached(s, dir, "corpus_communities",
          s"cos0.3.k5.b$LshBands.w$LshBits") {
        Similarity.knnCommunities(corpus, minCos = 0.3, k = 5,
            nBands = LshBands, bitsPerBand = LshBits)
          .select(col("vec_id"), col("community_id"))
      }
      Similarity.graphRefreshCycleWith(corpus, batch, graph, comms,
        minCos = 0.3, nBands = LshBands, bitsPerBand = LshBits)
    }),
    // perceptual image hash: one decode+DCT pass, no shuffle; the
    // engine re-derives every hash from the payload bytes, the oracle
    // reads the fixture's authored expected column (the x12 rule)
    "x80_image_phash" -> ((s, dir) => Multimodal.imagePhash(media(s, dir))),
    // image near-dup by banded hamming search (multi-index hashing —
    // exact for tau < nBands); surfaces the re-encode / brightness /
    // upscale variants content_md5 dedup misses
    "x81_image_neardup" -> ((s, dir) => Multimodal.imageNearDup(media(s, dir))),
    // audio spectral fingerprint: Goertzel time×frequency grid through
    // the same DCT+median hash core; oracle reads the authored column
    "x82_audio_fingerprint" -> ((s, dir) =>
      Multimodal.audioFingerprint(media(s, dir))),
    // audio near-dup: gain-change / resample / re-encode variants via
    // the same exact banded hamming machine as x81
    "x83_audio_neardup" -> ((s, dir) => Multimodal.audioNearDup(media(s, dir))),
    // per-frame perceptual hashes for decodable video tracks (the
    // materialized artifact clip-level dedup runs off)
    "x84_video_phash" -> ((s, dir) => Multimodal.videoPhash(media(s, dir))),
    // clip near-dup by frame-hash containment (trimmed clips score 1.0
    // against their source; stop-frame df cut bounds bucket fan-out)
    "x85_video_neardup" -> ((s, dir) => Multimodal.videoNearDup(media(s, dir))),
    // cross-modal dedup keep gate: the three modality pair sets union
    // into one edge set, CC labels transitive variant chains, one
    // keep/drop verdict per file (the media twin of x30)
    "x86_media_dedup_keep" -> ((s, dir) => Multimodal.mediaDedupKeep(media(s, dir))),
    // scene-change detection over decoded frames (the shot-boundary
    // pre-pass for per-scene frame sampling)
    "x87_scene_changes" -> ((s, dir) => Multimodal.sceneChanges(media(s, dir))),
    // composed media quality gate on decoded stats (the x26 shape:
    // first failing rule wins)
    "x88_media_quality_gate" -> ((s, dir) =>
      Multimodal.mediaQualityGate(media(s, dir))),
    // embedded PNG text metadata: the chunk walker's tEXt pairs (the
    // provenance strings an image pipeline audits)
    "x89_png_text_chunks" -> ((s, dir) => Multimodal.pngTextChunks(media(s, dir))),
    // provenance-hygiene strip audit: chunks removed, bytes reclaimed,
    // stripped-payload digest per file
    "x90_strip_text_audit" -> ((s, dir) => Multimodal.stripTextAudit(media(s, dir))),
    // media curation funnel: quality gate on every file, cross-modal
    // dedup keep among the survivors, per-(stage, kind) attrition
    "x91_media_funnel" -> ((s, dir) => Multimodal.mediaCurationFunnel(media(s, dir))),
    "x92_mjpeg_frames" -> ((s, dir) => Multimodal.mjpegFrames(media(s, dir))),
    "x93_funnel_autogeo" -> ((s, dir) =>
      Multimodal.mediaCurationFunnelAuto(media(s, dir))),
    // all-intra H.264 decode (r18): the spec-derived avc1/avc3 codec
    // behind the FrameDecoder seam, isolated like x92 isolates MJPEG
    "x94_avc_frames" -> ((s, dir) => Multimodal.avcFrames(media(s, dir)))
  )

  /** fixed BM25 query term set (all present in the corpus vocabulary) */
  private val Bm25Terms = Seq("spark", "join", "window")

  /** deterministic "train" step stand-in: 8 spread-out corpus vectors */
  private val CentroidIds = Seq(100L, 150L, 200L, 250L, 300L, 350L, 400L, 450L)

  /** deterministic crawl-N+1 stand-in shared by x60/x65: drop
    * doc_id%7=3, byte-edit (uppercase) doc_id%5=0, re-add doc_id%9=4
    * under fresh ids (verbatim old content — exercises drop_dup)
    */
  private def crawlNext(d: DataFrame): DataFrame =
    d.filter(col("doc_id") % 7 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, upper(col("text")))
          .otherwise(col("text")).as("text"))
      .unionAll(d.filter(col("doc_id") % 9 === 4)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))

  /** x06 LSH geometry: 4 bands × 8 md5-seeded hyperplane bits (32 distinct
    * hyperplanes) over the 64-dim embeddings.
    * private[graft]: the st12 streaming gate pins the same demo geometry
    * so its oracle and the Spark side cannot drift.
    */
  private[graft] val LshBands = 4
  private[graft] val LshBits = 8
  private[graft] val EmbDim = 64

  // ---- oracle SQL ----------------------------------------------------

  private val hexHi = "('8','9','a','b','c','d','e','f')"

  /** shared PQ/ADC CTE chain (x58, and x59's recall_pq leg): assumes an
    * `ev(vec_id, v)` CTE in scope; yields `ad(q_id, vec_id, adist)` —
    * subvectors → pinned init codebook → one Lloyd round (value-sorted
    * left-to-right means) → argmin codes (ties → lowest cid) → per-query
    * distance tables for vec_id < 10 → ADC sums in sub order
    */
  private val PqAdcCtes: String = {
    def l2(a: String, b: String) =
      s"list_reduce(list_transform(generate_series(1, len($a)), i -> ($a[i]-$b[i])*($a[i]-$b[i])), (x,y) -> x+y)"
    s"""sv AS (SELECT vec_id, x.i AS sub,
                   list_slice(v, (x.i - 1) * 16 + 1, x.i * 16) AS sv
                 FROM ev, unnest(generate_series(1, 4)) AS x(i)),
          c0pq AS (SELECT sub, vec_id AS cid, sv AS cv FROM sv
                 WHERE vec_id IN (${CentroidIds.mkString(", ")})),
          a1pq AS (SELECT vec_id, sub, sv, cid FROM (
                   SELECT vec_id, sub, sv, cid, row_number() OVER (
                     PARTITION BY vec_id, sub
                     ORDER BY d ASC, cid ASC) AS rn
                   FROM (SELECT s.vec_id, s.sub, s.sv, c.cid,
                           ${l2("s.sv", "c.cv")} AS d
                         FROM sv s JOIN c0pq c ON s.sub = c.sub))
                 WHERE rn = 1),
          dimspq AS (SELECT sub, cid, x.i AS dim, sv[x.i] AS x
                   FROM a1pq, unnest(generate_series(1, 16)) AS x(i)),
          m1pq AS (SELECT sub, cid, dim,
                   list_reduce(list_sort(list(x)), (a, b) -> a + b)
                     / count(*) AS m
                 FROM dimspq GROUP BY 1, 2, 3),
          cmpq AS (SELECT sub, cid, list(m ORDER BY dim) AS mcv FROM m1pq
                 GROUP BY 1, 2),
          c1pq AS (SELECT c0pq.sub, c0pq.cid, coalesce(cmpq.mcv, c0pq.cv) AS cv
                 FROM c0pq LEFT JOIN cmpq
                   ON c0pq.sub = cmpq.sub AND c0pq.cid = cmpq.cid),
          code AS (SELECT vec_id, sub, cid FROM (
                     SELECT vec_id, sub, cid, row_number() OVER (
                       PARTITION BY vec_id, sub
                       ORDER BY d ASC, cid ASC) AS rn
                     FROM (SELECT s.vec_id, s.sub, c.cid,
                             ${l2("s.sv", "c.cv")} AS d
                           FROM sv s JOIN c1pq c ON s.sub = c.sub))
                   WHERE rn = 1),
          dtpq AS (SELECT q.vec_id AS q_id, q.sub, c.cid,
                   ${l2("q.sv", "c.cv")} AS d
                 FROM sv q JOIN c1pq c ON q.sub = c.sub
                 WHERE q.vec_id < 10),
          pd AS (SELECT dtpq.q_id, code.vec_id, dtpq.sub, dtpq.d
                 FROM code JOIN dtpq
                   ON code.sub = dtpq.sub AND code.cid = dtpq.cid
                 WHERE code.vec_id != dtpq.q_id),
          ad AS (SELECT q_id, vec_id,
                   list_reduce(list(d ORDER BY sub), (a, b) -> a + b)
                     AS adist
                 FROM pd GROUP BY 1, 2)"""
  }

  /** tokens with position (mirror of TextOps.tokens) */
  private val TOKS_CTE =
    """toks AS (
       SELECT doc_id, x.i AS pos, tk[x.i] AS tok
       FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) t,
            unnest(generate_series(1, len(tk))) AS x(i))"""

  /** minhash signature + bands (mirror of Dedup): one md5 per shingle,
    * two positional-parsed 32-bit halves, Kirsch–Mitzenmacher family
    * `(h1 + i·h2) mod p` in BIGINT arithmetic, plain "|"-joined band key
    */
  // private[graft]: st09's oracle reuses the same signature/band CTE
  private[graft] val SIG_CTE = sigCteOver("documents")

  /** [[SIG_CTE]] parameterized by the corpus relation (x67 runs the
    * same minhash/band chain over an extended-corpus CTE)
    */
  private def sigCteOver(table: String): String = {
    // hex→u32 via DuckDB's 0x-literal cast — same value as the
    // positional digit parse (verified over real md5 output) at a
    // fraction of its cost, keeping the oracle an honest baseline
    def u32(from: Int) = s"(('0x' || substr(mh, $from, 8))::BIGINT)"
    val mins = (1 to Dedup.NumHashes)
      .map(i => s"min((u1 + $i * u2) % ${Dedup.MinhashMod}) AS h$i")
      .mkString(", ")
    val bandRows = (0 until Dedup.NumHashes / Dedup.BandSize).map { b =>
      val hs = (1 to Dedup.BandSize)
        .map(j => s"CAST(h${b * Dedup.BandSize + j} AS VARCHAR)")
        .mkString(" || '|' || ")
      s"SELECT doc_id, ${b + 1} AS band, $hs AS bh FROM sig"
    }.mkString("\nUNION ALL\n")
    s"""$TOKS_CTE,
       sh AS (
         SELECT doc_id, unnest(list_distinct(
           list_transform(generate_series(1, len(tk) - 2),
             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS shingle
         FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM $table) t
         WHERE len(tk) >= 3),
       hh AS (SELECT doc_id, md5(shingle) AS mh FROM sh),
       hu AS (SELECT doc_id, ${u32(1)} AS u1, ${u32(9)} AS u2 FROM hh),
       sig AS (SELECT doc_id, $mins FROM hu GROUP BY doc_id),
       bands AS ($bandRows),
       cand AS (
         SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         FROM bands l JOIN bands r
           ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id)"""
  }

  /** the DSIR oracle (mirror of [[TextOps.dsirWeights]]): add-one-
    * smoothed bucket likelihood ratios in fixed-order double
    * arithmetic, per-doc value-sorted mean — the x42 fold discipline.
    * Geometry constants interpolate from TextOps so the two sides
    * can't drift. Shared by x43 (batch) and st10 (batch-fit,
    * stream-score over the same bounded input → identical rows).
    */
  private[graft] val DsirSql = {
    val B = TextOps.DsirBuckets
    val M = TextOps.DsirTargetMod
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
                    FROM documents),
        uni AS (SELECT doc_id, unnest(tk) AS gram FROM tk),
        bi AS (SELECT doc_id, tk[x.i] || ' ' || tk[x.i + 1] AS gram
               FROM tk, unnest(generate_series(1, len(tk) - 1)) AS x(i)
               WHERE len(tk) >= 2),
        g AS (SELECT doc_id,
                (('0x' || substr(md5(gram), 1, 8))::BIGINT) % $B AS bucket,
                doc_id % $M = 0 AS is_target
              FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        pb AS (SELECT bucket,
                 CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct,
                 CAST(sum(CASE WHEN NOT is_target THEN 1 ELSE 0 END) AS BIGINT) AS cq
               FROM g GROUP BY 1),
        tot AS (SELECT CAST(sum(ct) AS BIGINT) AS st,
                  CAST(sum(cq) AS BIGINT) AS sq
                FROM pb),
        r AS (SELECT bucket,
                ((CAST(ct AS DOUBLE) + 1.0) * (CAST(sq AS DOUBLE) + $B.0)) /
                ((CAST(cq AS DOUBLE) + 1.0) * (CAST(st AS DOUBLE) + $B.0)) AS r
              FROM pb, tot),
        per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                  list_reduce(list_sort(list(r)), (a, b) -> a + b)
                    / count(*) AS dsir_score
                FROM g JOIN r USING (bucket)
                WHERE NOT is_target GROUP BY 1)
        SELECT d.doc_id, coalesce(per.n_grams, 0) AS n_grams,
          coalesce(per.dsir_score, 0.0) AS dsir_score
        FROM documents d LEFT JOIN per USING (doc_id)
        WHERE d.doc_id % $M <> 0"""
  }

  /** winnowing fingerprints as a reusable CTE (mirror of
    * [[TextOps.winnowFingerprints]], k=5 w=16): per-digit positional
    * hex→u32 k-gram hashes, windowed running min, valid window starts
    */
  private val WINNOW_CTE = {
    val u32 = "(('0x' || hx)::BIGINT)"
    s"""gs AS (
          SELECT doc_id, x.i AS pos, substr(text, x.i, 5) AS g
          FROM documents, unnest(generate_series(1, length(text) - 4)) AS x(i)
          WHERE length(text) >= 5),
        hx AS (SELECT doc_id, pos, substr(md5(g), 1, 8) AS hx FROM gs),
        h AS (SELECT doc_id, pos, $u32 AS h FROM hx),
        wm AS (
          SELECT doc_id, pos,
            min(h) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wmin,
            count(*) OVER (PARTITION BY doc_id) AS n
          FROM h),
        fps AS (
          SELECT DISTINCT doc_id, wmin AS fp FROM wm
          WHERE pos <= n - 15 OR (n < 16 AND pos = 1))"""
  }

  /** double-widened embeddings + cosine (mirror of Similarity: list_reduce
    * accumulates left-to-right like Spark's `aggregate`)
    */
  private val COS =
    """list_reduce(list_transform(generate_series(1, len(qv)), i -> qv[i]*v[i]), (x,y) -> x+y)
       / (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y))
        * sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)))"""

  /** [[COS]] over any two list expressions. The spacing inside the literal
    * is part of the emitted oracle SQL, so it stays as it is.
    */
  private def cos(a: String, b: String) =
    s"""list_reduce(list_transform(generate_series(1, len($a)), i -> $a[i]*$b[i]), (x,y) -> x+y)
           / (sqrt(list_reduce(list_transform($a, x -> x*x), (x,y) -> x+y))
            * sqrt(list_reduce(list_transform($b, x -> x*x), (x,y) -> x+y)))"""

  /** int8 dot product widened to BIGINT per term, as a DOUBLE (mirror of
    * [[graft.functions.CosineSimI8]]'s integer accumulation)
    */
  private def idot(a: String, b: String) =
    s"CAST(list_reduce(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS BIGINT) * $b[i]), (x,y) -> x+y) AS DOUBLE)"

  /** oracle rendering of [[Similarity.bandBucket]]: the SAME md5-seeded
    * ±1 hyperplanes (generated once in Scala), STAGED through a VALUES
    * CTE so each literal list is constructed once and joined — not
    * re-materialized per row per bit, which made the previous inlined
    * form pathologically slow in DuckDB (13.9 s for 500 vectors; r3
    * verdict task 3) and flattered the bench ratio. Each projection still
    * accumulates left-to-right like Spark's `aggregate` (±1.0 × double is
    * exact), and the bucket string re-assembles bits in band order via an
    * ordered string_agg — results stay bit-identical (verified old-vs-new
    * at sf0.1).
    */
  private def sqlPlaneValues(planes: Seq[Seq[Array[Int]]]): String =
    planes.zipWithIndex.flatMap { case (ps, bi) =>
      ps.zipWithIndex.map { case (w, ji) =>
        s"(${bi + 1}, ${ji + 1}, ${w.mkString("[", ", ", "]")})"
      }
    }.mkString(",\n")

  /** hyperplane-sign band buckets (mirror of [[Similarity.vecBandRows]]
    * at the x06 demo geometry) as a reusable CTE chain ev/planes/proj/bb
    * — shared by x06, x57, and st12 so the three oracles cannot drift
    */
  private[graft] val VecBbCte: String = {
    val planes = Similarity.hyperplanes(LshBands, LshBits, EmbDim)
    s"""ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        planes(band, bit, w) AS (VALUES ${sqlPlaneValues(planes.map(_.toSeq))}),
        proj AS (
          SELECT e.vec_id, p.band, p.bit,
            list_reduce(list_transform(generate_series(1, $EmbDim),
              i -> e.v[i] * p.w[i]), (x,y) -> x+y) AS pr
          FROM ev e, planes p),
        bb AS (
          SELECT vec_id, band,
            string_agg(CASE WHEN pr >= 0 THEN '1' ELSE '0' END, ''
              ORDER BY bit) AS bucket
          FROM proj GROUP BY vec_id, band)"""
  }

  /** oracle-side u32 of an md5 prefix — ONE spelling for every split/
    * cap/shard hash so the seven call sites cannot desynchronize from
    * [[graft.llm.Sampling.hashU32]]'s conv parse
    */
  private def u32(expr: String): String =
    s"(('0x' || substr(md5($expr), 1, 8))::BIGINT)"

  /** x26 oracle, reusable (st13 shares the registration; x77 composes the funnel) */
  private[graft] lazy val QualityGateSql: String = {
      val vals = TextOpsOracle.stopwordValues
      val gateCase =
        """CASE WHEN n_tokens < 10 THEN 'too_short'
                WHEN n_tokens > 100000 THEN 'too_long'
                WHEN pred_lang != 'en' THEN 'wrong_lang'
                WHEN quality_score < 0.5 THEN 'low_quality'
                WHEN dup_bigram_frac > 0.2 THEN 'repetitive'
                ELSE 'pass' END"""
      s"""WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents),
          sw(lang_cand, stopword) AS (VALUES $vals),
          hits AS (
            SELECT doc_id, lang_cand, count(*) AS hits
            FROM toks JOIN sw ON tok = stopword GROUP BY 1, 2),
          top AS (
            SELECT doc_id, lang_cand FROM hits
            QUALIFY row_number() OVER (PARTITION BY doc_id
              ORDER BY hits DESC, lang_cand) = 1),
          q AS (
            SELECT doc_id, CAST(length(text) AS DOUBLE) AS n,
              CAST(length(regexp_replace(text, '[^a-z0-9A-Z ]', '', 'g')) AS DOUBLE) AS alnum,
              CAST(len(string_split(text, ' ')) AS DOUBLE) AS ntok
            FROM documents),
          qs AS (
            SELECT doc_id, greatest(0.0, least(1.0,
              1.0 - (CASE WHEN n > 0 THEN (n - alnum) / n ELSE 0.0 END)
                  - abs((CASE WHEN ntok > 0 THEN (n - (ntok - 1)) / ntok
                              ELSE 0.0 END) - 5.0) / 10.0)) AS quality_score
            FROM q),
          tk AS (SELECT doc_id, string_split(text, ' ') AS tk
                 FROM documents),
          bg AS (
            SELECT doc_id, tk[x.i] || ' ' || tk[x.i + 1] AS bigram
            FROM tk, unnest(generate_series(1, len(tk) - 1)) AS x(i)
            WHERE len(tk) >= 2),
          bcounts AS (SELECT doc_id, bigram, count(*) AS c
                      FROM bg GROUP BY 1, 2),
          dup AS (
            SELECT doc_id,
              CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_n
            FROM bcounts GROUP BY 1),
          dims AS (SELECT doc_id, len(tk) AS n_tokens FROM tk),
          sig AS (
            SELECT d.doc_id,
              coalesce(t.lang_cand, 'unknown') AS pred_lang,
              CAST(d.n_tokens AS INT) AS n_tokens,
              qs.quality_score,
              CASE WHEN d.n_tokens >= 2 THEN
                CAST(coalesce(u.dup_n, 0) AS DOUBLE)
                  / CAST(d.n_tokens - 1 AS DOUBLE) ELSE 0.0 END
                AS dup_bigram_frac
            FROM dims d
            LEFT JOIN top t ON t.doc_id = d.doc_id
            JOIN qs ON qs.doc_id = d.doc_id
            LEFT JOIN dup u ON u.doc_id = d.doc_id)
          SELECT doc_id, pred_lang, n_tokens, quality_score,
            dup_bigram_frac, $gateCase AS gate_reason,
            ($gateCase = 'pass') AS keep
          FROM sig"""
    }

  /** sequential funnel oracle: the x88 rule CASE gates every file, the
    * x86 closure reruns restricted to the survivors (a dropped file
    * can't represent a cluster), per-(stage, kind) attrition rollup —
    * shared by x91 (fixed geometry) and x93 (auto geometry, which at
    * every budget-fitting corpus resolves to the same 8-band/tau-7
    * funnel by construction)
    */
  private val FunnelSql: String = s"""WITH RECURSIVE m AS (
            SELECT * FROM read_parquet('$MEDIA/media.parquet/*.parquet')),
          q AS (
            SELECT media_id, kind,
              (CASE
                WHEN px_brightness IS NULL AND amp_mean IS NULL
                  AND duration_ms IS NULL THEN 'undecodable'
                WHEN kind = 'image'
                  AND width * height < ${Multimodal.MinImageArea}
                  THEN 'too_small'
                WHEN kind = 'image'
                  AND (px_brightness < ${Multimodal.ExposureLo}
                    OR px_brightness > ${Multimodal.ExposureHi})
                  THEN 'exposure'
                WHEN kind = 'audio' AND amp_mean < ${Multimodal.SilenceAmp}
                  THEN 'silence'
                WHEN kind = 'audio' AND amp_mean > ${Multimodal.HotAmp}
                  THEN 'clipping_risk'
                WHEN kind = 'video' AND duration_ms < ${Multimodal.MinClipMs}
                  THEN 'too_short'
                ELSE 'pass' END = 'pass') AS keep
            FROM m),
          s AS (
            SELECT m.* FROM m JOIN q ON q.media_id = m.media_id
            WHERE q.keep),
          ip AS (
            SELECT a.media_id AS da, b.media_id AS db
            FROM s a JOIN s b ON a.media_id < b.media_id
            WHERE a.phash64 IS NOT NULL AND b.phash64 IS NOT NULL
              AND bit_count(xor(a.phash64, b.phash64)) <= 7),
          ap AS (
            SELECT a.media_id AS da, b.media_id AS db
            FROM s a JOIN s b ON a.media_id < b.media_id
            WHERE a.audiofp64 IS NOT NULL AND b.audiofp64 IS NOT NULL
              AND bit_count(xor(a.audiofp64, b.audiofp64)) <= 7),
          fh AS (
            SELECT DISTINCT media_id, fr_phash64[x.i] AS h
            FROM s, unnest(generate_series(1, len(fr_phash64))) AS x(i)
            WHERE fr_phash64 IS NOT NULL),
          nn AS (SELECT media_id, count(*) AS nh FROM fh GROUP BY 1),
          ov AS (
            SELECT a.media_id AS da, b.media_id AS db, count(*) AS o
            FROM fh a JOIN fh b ON a.h = b.h AND a.media_id < b.media_id
            GROUP BY 1, 2),
          vp AS (
            SELECT o.da, o.db FROM ov o
            JOIN nn na ON na.media_id = o.da
            JOIN nn nb ON nb.media_id = o.db
            WHERE CAST(o.o AS DOUBLE) / least(na.nh, nb.nh) >= 0.5),
          cand AS (
            SELECT * FROM ip UNION ALL SELECT * FROM ap
            UNION ALL SELECT * FROM vp),
          edges AS (
            SELECT da AS src, db AS dst FROM cand
            UNION SELECT db, da FROM cand),
          reach(media_id, lbl) AS (
            SELECT media_id, media_id FROM s
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r
              ON r.media_id = e.dst),
          comp AS (SELECT media_id, min(lbl) AS cluster_id
                   FROM reach GROUP BY 1),
          d AS (
            SELECT c.media_id, s2.kind,
              (c.media_id = c.cluster_id) AS keep
            FROM comp c JOIN s s2 ON s2.media_id = c.media_id)
          SELECT 'quality' AS stage, kind, count(*) AS n_in,
            CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
          FROM q GROUP BY 2
          UNION ALL
          SELECT 'dedup', kind, count(*),
            CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
          FROM d GROUP BY 2"""

  override val oracles: Map[String, String] = Map(
    "x01_exact_dedup" ->
      """SELECT md5(regexp_replace(lower(text), ' +', ' ', 'g')) AS fp,
         min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY 1""",

    "x02_minhash_pairs" ->
      s"""WITH $SIG_CTE
          SELECT doc_a, doc_b FROM cand""",

    "x03_ngram_jaccard" ->
      s"""WITH $SIG_CTE,
          dtoks AS (SELECT DISTINCT doc_id, tok FROM toks),
          sizes AS (SELECT doc_id, count(*) AS sz FROM dtoks GROUP BY 1),
          inter AS (
            SELECT c.doc_a, c.doc_b, count(*) AS n_inter
            FROM cand c
            JOIN dtoks a ON a.doc_id = c.doc_a
            JOIN dtoks b ON b.doc_id = c.doc_b AND b.tok = a.tok
            GROUP BY 1, 2)
          SELECT c.doc_a, c.doc_b,
            coalesce(i.n_inter, 0) /
              (sa.sz + sb.sz - coalesce(i.n_inter, 0)) AS jaccard
          FROM cand c
          LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
          JOIN sizes sa ON sa.doc_id = c.doc_a
          JOIN sizes sb ON sb.doc_id = c.doc_b""",

    "x04_simhash" -> {
      val sums = (1 to 16).map(j =>
        s"sum(CASE WHEN substr(h, $j, 1) IN $hexHi THEN 1 ELSE -1 END) AS b$j")
        .mkString(", ")
      val fp = (1 to 16).map(j => s"(CASE WHEN b$j >= 0 THEN '1' ELSE '0' END)")
        .mkString(" || ")
      s"""WITH $TOKS_CTE,
          dtoks AS (SELECT DISTINCT doc_id, tok FROM toks),
          h AS (SELECT doc_id, md5(tok) AS h FROM dtoks),
          b AS (SELECT doc_id, $sums FROM h GROUP BY doc_id)
          SELECT doc_id, $fp AS simhash16 FROM b"""
    },

    // identical oracle as x05: the native expression must reproduce the
    // higher-order composition bit-for-bit
    "x15_native_cosine_topk" ->
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          q AS (SELECT vec_id AS q_id, v AS qv FROM ev WHERE vec_id < 10),
          scored AS (
            SELECT q.q_id, e.vec_id, $COS AS cos
            FROM ev e JOIN q ON e.vec_id != q.q_id)
          SELECT q_id, vec_id, cos, CAST(rank AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, vec_id) AS rank FROM scored)
          WHERE rank <= 5""",

    "x05_cosine_topk" ->
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          q AS (SELECT vec_id AS q_id, v AS qv FROM ev WHERE vec_id < 10),
          scored AS (
            SELECT q.q_id, e.vec_id, $COS AS cos
            FROM ev e JOIN q ON e.vec_id != q.q_id)
          SELECT q_id, vec_id, cos, CAST(rank AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, vec_id) AS rank FROM scored)
          WHERE rank <= 5""",

    "x06_lsh_neardup" ->
      s"""WITH $VecBbCte,
          cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM bb a JOIN bb b
              ON a.band = b.band AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id),
          pv AS (
            SELECT c.vec_a, c.vec_b, ea.v AS qv, eb.v AS v
            FROM cand c
            JOIN ev ea ON ea.vec_id = c.vec_a
            JOIN ev eb ON eb.vec_id = c.vec_b)
          SELECT vec_a, vec_b, cos FROM (
            SELECT vec_a, vec_b, $COS AS cos FROM pv)
          WHERE cos > 0.3""",

    "x07_ivf_topk" ->
      s"""WITH ev AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv FROM ev WHERE vec_id < 10),
          scored AS (
            SELECT q.q_id, e.vec_id, $COS AS cos
            FROM ev e JOIN q ON e.label = q.q_label AND e.vec_id != q.q_id)
          SELECT q_id, vec_id, cos, CAST(rank AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, vec_id) AS rank FROM scored)
          WHERE rank <= 3""",

    "x08_token_stats" ->
      """SELECT doc_id,
         CAST(length(text) AS INT) AS n_chars,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct_tokens,
         CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INT) AS n_bpe_ish,
         CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens_c4
         FROM documents""",

    "x09_lang_id" -> {
      val vals = TextOpsOracle.stopwordValues
      s"""WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
          sw(lang_cand, stopword) AS (VALUES $vals),
          hits AS (
            SELECT doc_id, lang_cand, count(*) AS hits
            FROM toks JOIN sw ON tok = stopword GROUP BY 1, 2),
          top AS (
            SELECT doc_id, lang_cand, hits FROM hits
            QUALIFY row_number() OVER (PARTITION BY doc_id
              ORDER BY hits DESC, lang_cand) = 1)
          SELECT d.doc_id, coalesce(t.lang_cand, 'unknown') AS pred_lang,
            coalesce(t.hits, 0) AS stopword_hits, d.lang AS labeled_lang
          FROM documents d LEFT JOIN top t ON d.doc_id = t.doc_id"""
    },

    "x10_quality" ->
      """WITH q AS (
           SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n,
             CAST(length(regexp_replace(text, '[^a-z0-9A-Z ]', '', 'g')) AS DOUBLE) AS alnum,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS ntok
           FROM documents),
         c AS (
           SELECT doc_id,
             CASE WHEN n > 0 THEN (n - alnum) / n ELSE 0.0 END AS punct_ratio,
             CASE WHEN ntok > 0 THEN (n - (ntok - 1)) / ntok ELSE 0.0 END AS mean_tok_len
           FROM q)
         SELECT doc_id, punct_ratio, mean_tok_len,
           greatest(0.0, least(1.0,
             1.0 - punct_ratio - abs(mean_tok_len - 5.0) / 10.0)) AS quality_score
         FROM c""",

    "x11_fingerprint" ->
      """SELECT doc_id,
         md5(regexp_replace(lower(text), ' +', ' ', 'g')) AS fp,
         substr(md5(regexp_replace(lower(text), ' +', ' ', 'g')), 1, 8) AS fp8
         FROM documents""",

    // decoded image stats check: the engine must re-derive width/height/
    // brightness from the committed bytes with a real decoder; the oracle
    // reads the fixture's EXPECTED columns (for PNG computed from the
    // source image — lossless round trip; for JPEG computed by decoding
    // the encoded bytes at authoring time, so the lossy round trip
    // cancels)
    "x12_media_meta" ->
      s"""WITH m AS (
            SELECT *, lower(hex(payload)) AS hx
            FROM read_parquet('$MEDIA/media.parquet/*.parquet'))
          SELECT media_id, kind,
            CAST(octet_length(payload) AS INT) AS n_bytes,
            substr(hx, 1, 8) AS magic_hex,
            CASE WHEN substr(hx, 1, 8) = '89504e47' THEN 'png'
                 WHEN substr(hx, 1, 6) = 'ffd8ff' THEN 'jpeg'
                 WHEN substr(hx, 1, 8) = '52494646' THEN 'wav'
                 WHEN substr(hx, 9, 8) = '66747970' THEN 'mp4'
                 ELSE 'unknown' END AS container,
            md5(hx) AS content_md5,
            CASE WHEN substr(hx, 1, 8) = '89504e47' OR substr(hx, 1, 6) = 'ffd8ff' THEN width END AS dec_width,
            CASE WHEN substr(hx, 1, 8) = '89504e47' OR substr(hx, 1, 6) = 'ffd8ff' THEN height END AS dec_height,
            CASE WHEN substr(hx, 1, 8) = '89504e47' OR substr(hx, 1, 6) = 'ffd8ff' THEN px_brightness END AS dec_brightness,
            CASE WHEN substr(hx, 1, 8) = '52494646' OR substr(hx, 9, 8) = '66747970' THEN duration_ms END AS dec_duration_ms,
            CASE WHEN substr(hx, 1, 8) = '52494646' THEN sample_rate END AS dec_sample_rate,
            CASE WHEN substr(hx, 1, 8) = '52494646' THEN amp_mean END AS dec_amp_mean,
            width, height, duration_ms, sample_rate
          FROM m""",

    "x14_ivf_centroid_topk" -> {
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          cents AS (SELECT vec_id AS cid, v AS cv FROM ev
                    WHERE vec_id IN (${CentroidIds.mkString(", ")})),
          assigned AS (
            SELECT vec_id, v, cid AS cell FROM (
              SELECT vec_id, v, cid,
                row_number() OVER (PARTITION BY vec_id
                  ORDER BY ccos DESC, cid ASC) AS rn
              FROM (SELECT e.vec_id, e.v, c.cid,
                      ${cos("e.v", "c.cv")} AS ccos
                    FROM ev e, cents c))
            WHERE rn = 1),
          q AS (SELECT vec_id AS q_id, v AS qv, cell AS q_cell
                FROM assigned WHERE vec_id < 10),
          scored AS (
            SELECT q.q_id, a.vec_id, ${cos("q.qv", "a.v")} AS cos
            FROM assigned a JOIN q
              ON a.cell = q.q_cell AND a.vec_id != q.q_id)
          SELECT q_id, vec_id, cos, CAST(rank AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, vec_id) AS rank FROM scored)
          WHERE rank <= 3"""
    },

    // nprobe=2: identical assignment ranking, query probes its top-2
    // cells — the IVF recall/cost knob demonstrated against the same
    // centroid set as x14
    "x20_ivf_nprobe_topk" -> {
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          cents AS (SELECT vec_id AS cid, v AS cv FROM ev
                    WHERE vec_id IN (${CentroidIds.mkString(", ")})),
          ranked AS (
            SELECT vec_id, v, cid,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY ccos DESC, cid ASC) AS rn
            FROM (SELECT e.vec_id, e.v, c.cid,
                    ${cos("e.v", "c.cv")} AS ccos
                  FROM ev e, cents c)),
          assigned AS (
            SELECT vec_id, v, cid AS cell FROM ranked WHERE rn = 1),
          q AS (SELECT vec_id AS q_id, v AS qv, cid AS q_cell
                FROM ranked WHERE rn <= 2 AND vec_id < 10),
          scored AS (
            SELECT q.q_id, a.vec_id, ${cos("q.qv", "a.v")} AS cos
            FROM assigned a JOIN q
              ON a.cell = q.q_cell AND a.vec_id != q.q_id)
          SELECT q_id, vec_id, cos, CAST(rank AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, vec_id) AS rank FROM scored)
          WHERE rank <= 3"""
    },

    "x13_frame_sample" ->
      s"""WITH m AS (
            SELECT media_id, kind, md5(lower(hex(payload))) AS pmd5,
              unnest(generate_series(0, duration_ms, 1000)) AS frame_ts
            FROM read_parquet('$MEDIA/media.parquet/*.parquet')
            WHERE duration_ms IS NOT NULL)
          SELECT media_id, kind, frame_ts,
            md5(pmd5 || '-' || CAST(frame_ts AS VARCHAR)) AS frame_fp
          FROM m""",

    // duplicated k-token spans (Lee et al. substring dedup, hash-grouped
    // for fixed k): df over window md5s, gaps-and-islands longest run;
    // DuckDB's inclusive list slice tk[i : i+k-1] mirrors Spark's
    // slice(tk, pos, k); sums are HUGEINT → BIGINT casts
    "x41_dup_spans" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
                     FROM documents),
         wins AS (
           SELECT doc_id, x.i AS pos,
             md5(array_to_string(tk[x.i : x.i + 4], ' ')) AS wh
           FROM tk, unnest(generate_series(1, len(tk) - 4)) AS x(i)
           WHERE len(tk) >= 5),
         wdf AS (SELECT wh, count(DISTINCT doc_id) AS wdf
                 FROM wins GROUP BY 1),
         dup AS (
           SELECT w.doc_id, w.pos,
             w.pos - row_number() OVER (PARTITION BY w.doc_id
               ORDER BY w.pos) AS grp
           FROM wins w JOIN wdf USING (wh) WHERE wdf >= 2),
         runs AS (SELECT doc_id, grp, count(*) AS run
                  FROM dup GROUP BY 1, 2),
         per AS (SELECT doc_id, CAST(sum(run) AS BIGINT) AS n_dup_windows,
                   max(run) AS longest_dup_run
                 FROM runs GROUP BY 1),
         cnt AS (SELECT doc_id,
                   CAST(greatest(0, len(string_split(text, ' ')) - 4)
                     AS BIGINT) AS n_windows
                 FROM documents)
         SELECT c.doc_id, c.n_windows,
           coalesce(p.n_dup_windows, 0) AS n_dup_windows,
           coalesce(p.longest_dup_run, 0) AS longest_dup_run,
           CASE WHEN c.n_windows > 0 THEN
             CAST(coalesce(p.n_dup_windows, 0) AS DOUBLE)
               / CAST(c.n_windows AS DOUBLE)
           ELSE 0.0 END AS dup_frac
         FROM cnt c LEFT JOIN per p USING (doc_id)""",

    // bigram-LM fluency: the corpus is the LM, P(w2|w1)=cb/cw in exact
    // BIGINT→DOUBLE rationals; the per-doc mean reduces value-sorted
    // probabilities left-to-right (list_reduce ∘ list_sort == Spark
    // aggregate ∘ sort_array), the x32 accumulation discipline
    "x42_bigram_lm" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
                     FROM documents),
         bg AS (SELECT doc_id, tk[x.i] AS w1, tk[x.i + 1] AS w2
                FROM tk, unnest(generate_series(1, len(tk) - 1)) AS x(i)
                WHERE len(tk) >= 2),
         cbi AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
         cw AS (SELECT w1, count(*) AS cw FROM bg GROUP BY 1),
         p AS (SELECT doc_id, CAST(cb AS DOUBLE) / CAST(cw AS DOUBLE) AS p
               FROM bg JOIN cbi USING (w1, w2) JOIN cw USING (w1)),
         per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   list_reduce(list_sort(list(p)), (a, b) -> a + b)
                     / count(*) AS lm_score
                 FROM p GROUP BY 1)
         SELECT d.doc_id, coalesce(per.n_bigrams, 0) AS n_bigrams,
           coalesce(per.lm_score, 0.0) AS lm_score
         FROM documents d LEFT JOIN per USING (doc_id)""",

    // DSIR hashed n-gram importance weights: add-one-smoothed bucket
    // likelihood ratios in fixed-order double arithmetic, per-doc
    // value-sorted mean (the x42 fold discipline); geometry constants
    // interpolated from TextOps so the sides can't drift. Shared with
    // st10 — the batch-fit/stream-score run over the same bounded input
    // produces exactly these rows.
    "x43_dsir_weights" -> DsirSql,

    // the DSIR resample: Bernoulli thinning at u·w_max < w over the x43
    // weights; u is the md5('dsir:'||doc_id) uniform, w_max an
    // unpartitioned window max (oracle-only spelling — the engine uses
    // agg + broadcast, same value, scale-safe)
    "x44_dsir_resample" ->
      s"""SELECT doc_id, n_grams, dsir_score, u
          FROM (SELECT w.*,
                  (('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)::DOUBLE
                    / 4294967296.0 AS u,
                  max(dsir_score) OVER () AS w_max
                FROM ($DsirSql) w)
          WHERE u * w_max < dsir_score""",

    // vocabulary coverage: deterministic (count desc, token asc) rank +
    // integer cumsum over the minCount survivors; one double division
    "x45_vocab_coverage" ->
      """WITH c AS (SELECT unnest(string_split(text, ' ')) AS tok
                    FROM documents),
         cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
                 FROM c GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM cnt),
         r AS (SELECT tok, c,
                 CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT)
                   AS rank,
                 CAST(sum(c) OVER (ORDER BY c DESC, tok
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
               FROM cnt WHERE c >= 2)
         SELECT rank, tok, c, cum,
           CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS cum_frac
         FROM r, tot WHERE rank <= 200""",

    // α=1/2 temperature flattening: p_keep = sqrt(n_min/n_s) — integer
    // counts, one IEEE division + sqrt (both correctly rounded, no
    // libm); accept uniform is the positional-hex u32 / 2^32
    "x46_temperature_mix" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_source
                    FROM documents GROUP BY 1),
         m AS (SELECT CAST(min(n_source) AS BIGINT) AS n_min FROM c),
         j AS (SELECT d.doc_id, d.source, c.n_source, m.n_min,
                 sqrt(CAST(m.n_min AS DOUBLE) / CAST(c.n_source AS DOUBLE))
                   AS p_keep,
                 CAST((('0x' || substr(md5('temp:' ||
                     CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT) AS DOUBLE)
                   / 4294967296.0 AS u
               FROM documents d JOIN c USING (source), m)
         SELECT doc_id, source, n_source, n_min, p_keep, u,
           u < p_keep AS kept
         FROM j""",

    // round-1 BPE merge candidates: corpus-weighted adjacent char-pair
    // counts over the word dict (overlaps count, per the reference
    // algorithm), ranked (cnt desc, pair asc) — all integers
    "x47_bpe_pairs" ->
      """WITH w AS (SELECT tok AS word, CAST(count(*) AS BIGINT) AS wc
                    FROM (SELECT unnest(string_split(text, ' ')) AS tok
                          FROM documents)
                    GROUP BY 1),
         i AS (SELECT word, wc,
                 unnest(generate_series(1, length(word) - 1)) AS i
               FROM w),
         p AS (SELECT substring(word, i, 1) || ' ' ||
                 substring(word, i + 1, 1) AS pair, wc
               FROM i),
         c AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt
               FROM p GROUP BY 1),
         r AS (SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair)
                 AS BIGINT) AS rank, pair, cnt
               FROM c)
         SELECT rank, pair, cnt FROM r WHERE rank <= 20""",

    // pairwise source-vocabulary Jaccard: integer set sizes, one final
    // double division; triangle via src_a < src_b
    "x49_source_overlap" ->
      """WITH st AS (SELECT DISTINCT source, tok
                     FROM (SELECT source,
                             unnest(string_split(text, ' ')) AS tok
                           FROM documents)),
         sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n_vocab
                FROM st GROUP BY 1),
         inter AS (SELECT a.source AS src_a, b.source AS src_b,
                     CAST(count(*) AS BIGINT) AS n_inter
                   FROM st a JOIN st b
                     ON a.tok = b.tok AND a.source < b.source
                   GROUP BY 1, 2)
         SELECT sa.source AS src_a, sb.source AS src_b,
           sa.n_vocab AS n_a, sb.n_vocab AS n_b,
           coalesce(i.n_inter, 0) AS n_inter,
           CAST(coalesce(i.n_inter, 0) AS DOUBLE) /
             CAST(sa.n_vocab + sb.n_vocab - coalesce(i.n_inter, 0)
               AS DOUBLE) AS jaccard
         FROM sz sa JOIN sz sb ON sa.source < sb.source
         LEFT JOIN inter i
           ON i.src_a = sa.source AND i.src_b = sb.source""",

    // incremental batch-vs-corpus gate: bands from the shared SIG_CTE
    // pass, batch = doc_id % 10 = 0; corpus membership is an exists on
    // the distinct corpus bucket-key set, in-batch dup is the per-bucket
    // min-id rule (SIG_CTE's cand CTE goes unused here)
    "x50_incremental_dedup" ->
      s"""WITH $SIG_CTE,
          nb AS (SELECT doc_id, band, bh FROM bands WHERE doc_id % 10 = 0),
          cbk AS (SELECT DISTINCT band, bh FROM bands
                  WHERE doc_id % 10 != 0),
          vc AS (SELECT DISTINCT nb.doc_id
                 FROM nb JOIN cbk ON nb.band = cbk.band AND nb.bh = cbk.bh),
          ib AS (SELECT DISTINCT doc_id FROM (
                   SELECT doc_id,
                     min(doc_id) OVER (PARTITION BY band, bh) AS mn
                   FROM nb) t
                 WHERE mn < doc_id)
          SELECT d.doc_id,
            (vc.doc_id IS NOT NULL) AS dup_vs_corpus,
            (ib.doc_id IS NOT NULL) AS dup_in_batch,
            (vc.doc_id IS NULL AND ib.doc_id IS NULL) AS keep
          FROM documents d
          LEFT JOIN vc ON vc.doc_id = d.doc_id
          LEFT JOIN ib ON ib.doc_id = d.doc_id
          WHERE d.doc_id % 10 = 0""",

    // lexical diversity: all-integer Σc²/n² until the final double
    // division + IEEE subtraction — bit-exact with no libm
    "x51_token_diversity" ->
      s"""WITH $TOKS_CTE,
          tc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
          a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                  count(*) AS n_types, CAST(sum(c * c) AS BIGINT) AS sumsq
                FROM tc GROUP BY 1)
          SELECT doc_id, n_tokens, n_types,
            CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
            1.0 - CAST(sumsq AS DOUBLE) /
              CAST(n_tokens * n_tokens AS DOUBLE) AS simpson
          FROM a""",

    // LSH S-curve audit on the doc_id % 20 = 0 sample: exact shingle
    // Jaccard per sample pair (both docs must have shingles) vs banded
    // candidate membership; collision is pairwise, so full-corpus cand
    // restricted to the sample equals sample-only banding
    "x52_lsh_recall_audit" ->
      s"""WITH $SIG_CTE,
          dsh AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 = 0),
          sz AS (SELECT doc_id, count(*) AS sz FROM dsh GROUP BY 1),
          pairs AS (SELECT a.doc_id AS doc_a, a.sz AS sz_a,
                      b.doc_id AS doc_b, b.sz AS sz_b
                    FROM sz a JOIN sz b ON a.doc_id < b.doc_id),
          inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                      count(*) AS i
                    FROM dsh x JOIN dsh y
                      ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                    GROUP BY 1, 2),
          c2 AS (SELECT doc_a, doc_b, 1 AS is_cand FROM cand
                 WHERE doc_a % 20 = 0 AND doc_b % 20 = 0),
          jt AS (SELECT least(CAST(floor(
                     CAST(coalesce(i.i, 0) AS DOUBLE) /
                     CAST(p.sz_a + p.sz_b - coalesce(i.i, 0) AS DOUBLE)
                     * 10) AS INT), 9) AS j_bucket,
                   CAST(coalesce(c.is_cand, 0) AS BIGINT) AS is_cand
                 FROM pairs p
                 LEFT JOIN inter i
                   ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
                 LEFT JOIN c2 c
                   ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b)
          SELECT j_bucket, count(*) AS n_pairs,
            CAST(sum(is_cand) AS BIGINT) AS n_cand,
            CAST(sum(is_cand) AS DOUBLE) / CAST(count(*) AS DOUBLE)
              AS hit_rate
          FROM jt GROUP BY 1""",

    // per-token chi-square drift between the doc_id-parity slices:
    // integer counts; expected values + contributions are fixed-order
    // double arithmetic mirrored op-for-op against the Spark plan
    "x54_corpus_drift" ->
      s"""WITH $TOKS_CTE,
          ca AS (SELECT tok, count(*) AS c FROM toks
                 WHERE doc_id % 2 = 0 GROUP BY 1),
          cb AS (SELECT tok, count(*) AS c FROM toks
                 WHERE doc_id % 2 = 1 GROUP BY 1),
          tc AS (SELECT tok, CAST(coalesce(ca.c, 0) AS BIGINT) AS c_a,
                   CAST(coalesce(cb.c, 0) AS BIGINT) AS c_b
                 FROM ca FULL OUTER JOIN cb USING (tok)),
          tot AS (SELECT CAST(sum(c_a) AS BIGINT) AS n_a,
                    CAST(sum(c_b) AS BIGINT) AS n_b FROM tc),
          r AS (SELECT tok, c_a, c_b,
                  row_number() OVER (ORDER BY c_a + c_b DESC, tok) AS rank
                FROM tc WHERE c_a + c_b >= 5),
          e AS (SELECT rank, tok, c_a, c_b,
                  CAST(c_a + c_b AS DOUBLE) * CAST(n_a AS DOUBLE) /
                    CAST(n_a + n_b AS DOUBLE) AS e_a,
                  CAST(c_a + c_b AS DOUBLE) * CAST(n_b AS DOUBLE) /
                    CAST(n_a + n_b AS DOUBLE) AS e_b
                FROM r, tot WHERE rank <= 100)
          SELECT CAST(rank AS BIGINT) AS rank, tok, c_a, c_b,
            (CASE WHEN e_a > 0 THEN (CAST(c_a AS DOUBLE) - e_a)
                * (CAST(c_a AS DOUBLE) - e_a) / e_a ELSE 0.0 END)
              + (CASE WHEN e_b > 0 THEN (CAST(c_b AS DOUBLE) - e_b)
                * (CAST(c_b AS DOUBLE) - e_b) / e_b ELSE 0.0 END) AS chi2
          FROM e""",

    // embedding-space drift: x32's nearest-centroid assignment (the
    // native cosine_sim ≡ list_reduce equivalence is the x15/x32
    // precedent), then x54's chi-square pipeline over cluster occupancy
    "x55_embedding_drift" -> {
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          c0 AS (SELECT vec_id AS cid, v AS cv FROM ev
                 WHERE vec_id IN (${CentroidIds.mkString(", ")})),
          a1 AS (SELECT vec_id, cid FROM (
                   SELECT vec_id, cid, row_number() OVER (
                     PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
                   FROM (SELECT e.vec_id, c.cid,
                           ${cos("e.v", "c.cv")} AS ccos
                         FROM ev e, c0 c))
                 WHERE rn = 1),
          tc AS (SELECT cid,
                   CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS c_a,
                   CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS c_b
                 FROM a1 GROUP BY cid),
          tot AS (SELECT CAST(sum(c_a) AS BIGINT) AS n_a,
                    CAST(sum(c_b) AS BIGINT) AS n_b FROM tc),
          e AS (SELECT cid, c_a, c_b,
                  CAST(c_a + c_b AS DOUBLE) * CAST(n_a AS DOUBLE) /
                    CAST(n_a + n_b AS DOUBLE) AS e_a,
                  CAST(c_a + c_b AS DOUBLE) * CAST(n_b AS DOUBLE) /
                    CAST(n_a + n_b AS DOUBLE) AS e_b
                FROM tc, tot)
          SELECT cid AS cluster, c_a, c_b,
            (CASE WHEN e_a > 0 THEN (CAST(c_a AS DOUBLE) - e_a)
                * (CAST(c_a AS DOUBLE) - e_a) / e_a ELSE 0.0 END)
              + (CASE WHEN e_b > 0 THEN (CAST(c_b AS DOUBLE) - e_b)
                * (CAST(c_b AS DOUBLE) - e_b) / e_b ELSE 0.0 END) AS chi2
          FROM e"""
    },

    // near-dup pairs straddling the x17 hash split — the within-corpus
    // leakage audit
    "x53_split_leakage" -> {
      def splitOf(idCol: String) = {
        val u = u32(s"'split' || ':' || CAST($idCol AS VARCHAR)")
        s"""CASE WHEN $u < ${math.floor(0.8 * 4294967296.0).toLong} THEN 'train'
                 WHEN $u < ${math.floor(0.9 * 4294967296.0).toLong} THEN 'val'
                 ELSE 'test' END"""
      }
      s"""WITH $SIG_CTE
          SELECT doc_a, doc_b,
            ${splitOf("doc_a")} AS split_a,
            ${splitOf("doc_b")} AS split_b
          FROM cand
          WHERE ${splitOf("doc_a")} != ${splitOf("doc_b")}"""
    },

    // REAL mp4 frame decode: the engine demuxes the raw-luma track
    // (stsd/stts/stsz/stco) and slices frames out of mdat; the oracle
    // reads the fixture's EXPECTED per-frame arrays, which were authored
    // by the same demux+slice (the x12/x31 discipline)
    "x39_video_frames" ->
      s"""SELECT media_id, kind, CAST(x.i - 1 AS INT) AS frame_idx,
            fr_ts_ms[x.i] AS frame_ts_ms,
            width AS fr_width, height AS fr_height,
            fr_brightness[x.i] AS luma_mean
          FROM read_parquet('$MEDIA/media.parquet/*.parquet'),
            unnest(generate_series(1, len(fr_brightness))) AS x(i)
          WHERE fr_brightness IS NOT NULL""",

    // connected components via recursive min-label closure (independent
    // of the engine's iterative propagation loop)
    "x16_dup_clusters" ->
      s"""WITH RECURSIVE $SIG_CTE,
          edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM cand
            UNION SELECT doc_b, doc_a FROM cand),
          reach(doc_id, lbl) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst),
          comp AS (SELECT doc_id, min(lbl) AS cluster_id FROM reach GROUP BY 1),
          sizes AS (SELECT cluster_id, count(*) AS cluster_size
                    FROM comp GROUP BY 1)
          SELECT c.doc_id, c.cluster_id, s.cluster_size
          FROM comp c JOIN sizes s USING (cluster_id)""",

    // winnowing: same k-gram hashes, same windowed running-min — pos is
    // 1-based here vs 0-based posexplode, hence the shifted bounds
    "x18_winnow_fingerprint" ->
      s"""WITH $WINNOW_CTE
          SELECT doc_id, fp FROM fps""",

    // winnow pairs: same fingerprints, df-filtered (boilerplate cut) and
    // self-joined — count(*) per ordered pair = shared fp count
    "x21_winnow_pairs" ->
      s"""WITH $WINNOW_CTE,
          keep AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 64),
          kf AS (SELECT f.doc_id, f.fp FROM fps f JOIN keep USING (fp))
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            count(*) AS n_shared_fps
          FROM kf a JOIN kf b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 2""",

    // int8-quantized ANN: integer dots are exact, so only the final double
    // division must (and does) agree; exact float cosine rides along to
    // expose the quantization error
    "x19_quantized_topk" -> {
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          qz AS (SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) AS ma FROM ev),
          cz AS (SELECT vec_id, v,
                   list_transform(v, x -> CASE WHEN ma > 0
                     THEN CAST(round(x * 127 / ma) AS INTEGER)
                     ELSE 0 END) AS c
                 FROM qz),
          q AS (SELECT vec_id AS q_id, v AS qv, c AS qc FROM cz
                WHERE vec_id < 10),
          scored AS (
            SELECT q.q_id, e.vec_id,
              ${idot("q.qc", "e.c")} / (sqrt(${idot("q.qc", "q.qc")})
                * sqrt(${idot("e.c", "e.c")})) AS qcos,
              $COS AS cos
            FROM cz e JOIN q ON e.vec_id != q.q_id)
          SELECT q_id, vec_id, qcos, cos, CAST(rank AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY qcos DESC, vec_id) AS rank FROM scored)
          WHERE rank <= 5"""
    },

    // rational N/df rarity weight (not ln — libm bits differ across
    // engines in the last ulp; see TextOps.tfidfTopTerms)
    "x22_tfidf_topterms" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (
           SELECT doc_id, tok AS term, tf, df, n_docs,
             CAST(tf AS DOUBLE) *
               (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf
           FROM tf JOIN dfreq USING (tok), n)
         SELECT doc_id, term, tf, df, n_docs, tfidf, CAST(rank AS INT) AS rank
         FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, term) AS rank FROM scored)
         WHERE rank <= 5""",

    "x23_repetition" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
                     FROM documents),
         bg AS (
           SELECT doc_id, tk[x.i] || ' ' || tk[x.i + 1] AS bigram
           FROM tk, unnest(generate_series(1, len(tk) - 1)) AS x(i)
           WHERE len(tk) >= 2),
         counts AS (SELECT doc_id, bigram, count(*) AS c
                    FROM bg GROUP BY 1, 2),
         top AS (
           SELECT doc_id, bigram AS top_bigram, c AS top_bigram_n
           FROM counts
           QUALIFY row_number() OVER (PARTITION BY doc_id
             ORDER BY c DESC, bigram) = 1),
         dup AS (
           SELECT doc_id,
             CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_n
           FROM counts GROUP BY 1),
         dims AS (
           SELECT doc_id, len(tk) AS n_tokens,
             len(list_distinct(tk)) AS n_distinct
           FROM tk)
         SELECT d.doc_id, t.top_bigram,
           coalesce(t.top_bigram_n, 0) AS top_bigram_n,
           CAST(d.n_tokens AS INT) AS n_tokens,
           CASE WHEN d.n_tokens >= 2 THEN
             CAST(coalesce(t.top_bigram_n, 0) AS DOUBLE)
               / CAST(d.n_tokens - 1 AS DOUBLE) ELSE 0.0 END
             AS top_bigram_frac,
           CASE WHEN d.n_tokens >= 2 THEN
             CAST(coalesce(u.dup_n, 0) AS DOUBLE)
               / CAST(d.n_tokens - 1 AS DOUBLE) ELSE 0.0 END
             AS dup_bigram_frac,
           CAST(d.n_distinct AS DOUBLE) / CAST(d.n_tokens AS DOUBLE)
             AS distinct_token_ratio
         FROM dims d
         LEFT JOIN top t ON t.doc_id = d.doc_id
         LEFT JOIN dup u ON u.doc_id = d.doc_id""",

    // rational Robertson–Sparck-Jones odds (no ln) summed in fixed term
    // order via conditional aggregation — see TextOps.bm25Odds
    "x24_bm25" -> {
      val (k1, b) = (1.2, 0.75)
      val (k1p1, oneMinusB) = (k1 + 1.0, 1.0 - b)
      val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
      val perTerm = Bm25Terms.map(t =>
        s"sum(CASE WHEN tok = '$t' THEN contrib ELSE 0.0 END) AS c_$t")
        .mkString(", ")
      val total = Bm25Terms.map(t => s"c_$t").mkString(" + ")
      s"""WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents),
          dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
          stats AS (SELECT CAST(sum(dl) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE) AS avgdl,
                    count(*) AS n_docs FROM dl),
          tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
                 WHERE tok IN ($termList) GROUP BY 1, 2),
          dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
          scored AS (
            SELECT t.doc_id, t.tok, l.dl,
              ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                / (CAST(df AS DOUBLE) + 0.5))
              * ((CAST(tf AS DOUBLE) * $k1p1)
                / (CAST(tf AS DOUBLE) + $k1 * ($oneMinusB + $b
                    * (CAST(l.dl AS DOUBLE) / avgdl)))) AS contrib
            FROM tf t JOIN dfreq USING (tok) JOIN dl l ON l.doc_id = t.doc_id,
                 stats),
          agg AS (SELECT doc_id, dl, $perTerm FROM scored GROUP BY 1, 2)
          SELECT doc_id, dl, $total AS bm25_odds FROM agg"""
    },

    // the composed keep/drop gate: same signal CTEs as x09/x10/x23 with
    // an order-pinned CASE chain for the first-failing-rule reason
    "x26_quality_gate" -> QualityGateSql,

    
    // sliding-window chunking: chunk count in integer arithmetic, chunk
    // body via an inclusive list slice — strings only, trivially exact
    "x25_chunking" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
                     FROM documents),
         dims AS (
           SELECT doc_id, tk, len(tk) AS n_tokens,
             CAST((greatest(len(tk) - 32, 0) + 23) // 24 AS INT) + 1
               AS n_chunks
           FROM tk),
         ch AS (
           SELECT doc_id, tk, n_tokens, x.i AS chunk_id
           FROM dims, unnest(generate_series(0, n_chunks - 1)) AS x(i))
         SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           CAST(chunk_id * 24 + 1 AS INT) AS start_pos,
           CAST(len(tk[chunk_id * 24 + 1 : chunk_id * 24 + 32]) AS INT)
             AS n_chunk_tokens,
           array_to_string(tk[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ')
             AS chunk_text
         FROM ch""",

    "x17_hash_split" -> {
      // hex→u32 via the 0x-literal cast (same value as Sampling.hashU32's
      // conv parse; see SIG_CTE note)
      val uSplit = u32("'split' || ':' || CAST(doc_id AS VARCHAR)")
      val uSample =
        u32("'sample' || ':' || lang || '/' || CAST(doc_id AS VARCHAR)")
      s"""SELECT doc_id, lang,
            $uSplit AS u32,
            CASE WHEN $uSplit < ${math.floor(0.8 * 4294967296.0).toLong} THEN 'train'
                 WHEN $uSplit < ${math.floor(0.9 * 4294967296.0).toLong} THEN 'val'
                 ELSE 'test' END AS split,
            $uSample < ${math.floor(0.2 * 4294967296.0).toLong} AS in_sample
          FROM documents"""
    },

    // eval-set n-gram decontamination: 4-token grams, eval slice
    // doc_id % 50 = 0; inclusive DuckDB list slice tk[i : i+3] mirrors
    // Spark's slice(tk, pos, 4)
    "x27_decontam" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
                     FROM documents),
         g AS (
           SELECT doc_id, array_to_string(tk[x.i : x.i + 3], ' ') AS gram
           FROM tk, unnest(generate_series(1, len(tk) - 3)) AS x(i)
           WHERE len(tk) >= 4),
         ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
         hits AS (
           SELECT doc_id, count(DISTINCT g.gram) AS n_shared_grams
           FROM g JOIN ev USING (gram)
           WHERE doc_id % 50 != 0 GROUP BY 1)
         SELECT d.doc_id,
           coalesce(h.n_shared_grams, 0) AS n_shared_grams,
           coalesce(h.n_shared_grams, 0) > 0 AS contaminated
         FROM documents d LEFT JOIN hits h USING (doc_id)
         WHERE d.doc_id % 50 != 0""",

    // concat-then-split packing: running sum per shard in doc_id order
    // (DuckDB sums BIGINT into HUGEINT → cast back), integer div/mod
    "x28_pack_sequences" ->
      """WITH d AS (
           SELECT doc_id, doc_id % 8 AS shard,
             len(string_split(text, ' ')) AS n_tokens
           FROM documents),
         o AS (
           SELECT doc_id, shard, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS offset_tokens
           FROM d)
         SELECT doc_id, shard, CAST(n_tokens AS INT) AS n_tokens,
           offset_tokens,
           offset_tokens // 256 AS begin_seq,
           (offset_tokens + n_tokens - 1) // 256 AS end_seq,
           offset_tokens % 256 AS seq_offset
         FROM o""",

    // same injection, same engine-portable regex subset; DuckDB
    // regexp_replace needs the 'g' flag, len(list) is BIGINT → INT
    "x29_pii_redact" ->
      s"""WITH inj AS (
           SELECT doc_id, text ||
             CASE WHEN doc_id % 3 = 0 THEN ' reach me at user'
               || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
             CASE WHEN doc_id % 5 = 0 THEN ' or call +1-555-'
               || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0042'
               ELSE '' END AS text
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text, '${TextOps.EmailRe}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '${TextOps.PhoneRe}')) AS INT)
             AS n_phones,
           regexp_replace(regexp_replace(text, '${TextOps.EmailRe}',
             '[EMAIL]', 'g'), '${TextOps.PhoneRe}', '[PHONE]', 'g')
             AS redacted
         FROM inj""",

    // the x16 closure + representative filter: keep doc_id = cluster min
    "x30_dedup_keep" ->
      s"""WITH RECURSIVE $SIG_CTE,
          edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM cand
            UNION SELECT doc_b, doc_a FROM cand),
          reach(doc_id, lbl) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst),
          comp AS (SELECT doc_id, min(lbl) AS cluster_id FROM reach GROUP BY 1),
          sizes AS (SELECT cluster_id, count(*) AS cluster_size
                    FROM comp GROUP BY 1)
          SELECT c.doc_id, d.source, d.lang, d.n_chars, s.cluster_size,
            s.cluster_size - 1 AS n_dropped
          FROM comp c JOIN sizes s USING (cluster_id)
            JOIN documents d USING (doc_id)
          WHERE c.doc_id = c.cluster_id""",

    // real resize: the fixture's expected columns were authored by the
    // same decode → integer-math nearest-neighbor → PNG re-encode the
    // engine runs (JPEG lossiness cancels per the x12 discipline)
    "x31_resize" ->
      s"""SELECT media_id, CAST(8 AS INT) AS rs_width,
            CAST(6 AS INT) AS rs_height,
            rs8x6_brightness AS rs_brightness, rs8x6_md5 AS rs_md5
          FROM read_parquet('$MEDIA/media.parquet/*.parquet')
          WHERE rs8x6_md5 IS NOT NULL""",

    // two unrolled Lloyd iterations; the per-dim mean reduces the
    // VALUE-SORTED doubles left-to-right (list_reduce ∘ list_sort ==
    // Spark aggregate ∘ sort_array with 0.0 init), so the updated
    // centroids — and with them every downstream cosine — match
    // bit-for-bit; empty clusters fall back to the previous centroid in
    // both engines
    "x32_kmeans" -> {
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          c0 AS (SELECT vec_id AS cid, v AS cv FROM ev
                 WHERE vec_id IN (${CentroidIds.mkString(", ")})),
          a1 AS (SELECT vec_id, v, cid FROM (
                   SELECT vec_id, v, cid, row_number() OVER (
                     PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
                   FROM (SELECT e.vec_id, e.v, c.cid,
                           ${cos("e.v", "c.cv")} AS ccos
                         FROM ev e, c0 c))
                 WHERE rn = 1),
          dims AS (SELECT cid, x.i AS dim, v[x.i] AS x
                   FROM a1, unnest(generate_series(1, len(v))) AS x(i)),
          m1 AS (SELECT cid, dim,
                   list_reduce(list_sort(list(x)), (a, b) -> a + b)
                     / count(*) AS m
                 FROM dims GROUP BY cid, dim),
          cm AS (SELECT cid, list(m ORDER BY dim) AS mcv FROM m1
                 GROUP BY cid),
          c1 AS (SELECT c0.cid, coalesce(cm.mcv, c0.cv) AS cv
                 FROM c0 LEFT JOIN cm USING (cid)),
          a2 AS (SELECT vec_id, cid, ccos FROM (
                   SELECT vec_id, cid, ccos, row_number() OVER (
                     PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
                   FROM (SELECT e.vec_id, c.cid,
                           ${cos("e.v", "c.cv")} AS ccos
                         FROM ev e, c1 c))
                 WHERE rn = 1)
          SELECT vec_id, cid AS cluster, ccos AS cos FROM a2"""
    },

    // CCNet-style boilerplate removal on 3-token segments, df >= 3
    // across DISTINCT docs; DuckDB's ORDER BY inside string_agg mirrors
    // Spark's array_sort-then-join reassembly; sum(int) is HUGEINT →
    // BIGINT cast
    "x33_segment_dedup" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
                     FROM documents),
         seg AS (
           SELECT doc_id, x.i AS seg_i,
             array_to_string(tk[(x.i - 1) * 3 + 1 : x.i * 3], ' ') AS seg
           FROM tk, unnest(generate_series(1, len(tk) // 3)) AS x(i)
           WHERE len(tk) >= 3),
         df AS (SELECT md5(seg) AS sh, count(DISTINCT doc_id) AS df
                FROM seg GROUP BY 1),
         agg AS (
           SELECT doc_id, count(*) AS n_segs,
             CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
             coalesce(string_agg(CASE WHEN df < 3 THEN seg END, ' '
               ORDER BY seg_i), '') AS cleaned
           FROM seg s JOIN df d ON md5(s.seg) = d.sh GROUP BY doc_id)
         SELECT d.doc_id, coalesce(a.n_segs, 0) AS n_segs,
           coalesce(a.n_removed, 0) AS n_removed,
           coalesce(a.cleaned, '') AS cleaned
         FROM documents d LEFT JOIN agg a USING (doc_id)""",

    // SemDeDup: x32's 1-NN assignment (tie → lowest cid), then the
    // within-cluster lower-id cosine scan; same left-to-right
    // list_reduce accumulation as the native cosine_sim, so the tau
    // comparison lands identically in both engines
    "x34_semdedup" -> {
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                      FROM embeddings),
          c0 AS (SELECT vec_id AS cid, v AS cv FROM ev
                 WHERE vec_id IN (${CentroidIds.mkString(", ")})),
          a1 AS (SELECT vec_id, v, cid FROM (
                   SELECT vec_id, v, cid, row_number() OVER (
                     PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
                   FROM (SELECT e.vec_id, e.v, c.cid,
                           ${cos("e.v", "c.cv")} AS ccos
                         FROM ev e, c0 c))
                 WHERE rn = 1),
          close AS (
            SELECT b.vec_id, count(*) AS n_close, min(a.vec_id) AS first_dup
            FROM a1 a JOIN a1 b ON a.cid = b.cid AND a.vec_id < b.vec_id
            WHERE ${cos("a.v", "b.v")} >= 0.3 GROUP BY 1)
          SELECT a1.vec_id, a1.cid AS cluster,
            coalesce(c.n_close, 0) AS n_close, c.first_dup,
            coalesce(c.n_close, 0) = 0 AS keep
          FROM a1 LEFT JOIN close c USING (vec_id)"""
    },

    // x32's exact two-round Lloyd refinement (sorted left-to-right
    // means), then x34's within-cluster lower-id scan on the REFINED
    // assignment — the composed semDedupRefinedExact
    "x56_semdedup_refined" -> {
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                      FROM embeddings),
          c0 AS (SELECT vec_id AS cid, v AS cv FROM ev
                 WHERE vec_id IN (${CentroidIds.mkString(", ")})),
          a1 AS (SELECT vec_id, v, cid FROM (
                   SELECT vec_id, v, cid, row_number() OVER (
                     PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
                   FROM (SELECT e.vec_id, e.v, c.cid,
                           ${cos("e.v", "c.cv")} AS ccos
                         FROM ev e, c0 c))
                 WHERE rn = 1),
          dims AS (SELECT cid, x.i AS dim, v[x.i] AS x
                   FROM a1, unnest(generate_series(1, len(v))) AS x(i)),
          m1 AS (SELECT cid, dim,
                   list_reduce(list_sort(list(x)), (a, b) -> a + b)
                     / count(*) AS m
                 FROM dims GROUP BY cid, dim),
          cm AS (SELECT cid, list(m ORDER BY dim) AS mcv FROM m1
                 GROUP BY cid),
          c1 AS (SELECT c0.cid, coalesce(cm.mcv, c0.cv) AS cv
                 FROM c0 LEFT JOIN cm USING (cid)),
          a2 AS (SELECT vec_id, v, cid FROM (
                   SELECT vec_id, v, cid, row_number() OVER (
                     PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
                   FROM (SELECT e.vec_id, e.v, c.cid,
                           ${cos("e.v", "c.cv")} AS ccos
                         FROM ev e, c1 c))
                 WHERE rn = 1),
          close AS (
            SELECT b.vec_id, count(*) AS n_close, min(a.vec_id) AS first_dup
            FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
            WHERE ${cos("a.v", "b.v")} >= 0.3 GROUP BY 1)
          SELECT a2.vec_id, a2.cid AS cluster,
            coalesce(c.n_close, 0) AS n_close, c.first_dup,
            coalesce(c.n_close, 0) = 0 AS keep
          FROM a2 LEFT JOIN close c USING (vec_id)"""
    },

    // band-collision candidates crossed batch × corpus on the shared
    // bucket CTE, then the exact-cosine verify — embIngestGate's shape
    "x57_emb_ingest_gate" ->
      s"""WITH $VecBbCte,
          cand AS (
            SELECT DISTINCT t.vec_id, c.vec_id AS corpus_id
            FROM bb t JOIN bb c
              ON t.band = c.band AND t.bucket = c.bucket
            WHERE t.vec_id % 10 = 0 AND c.vec_id % 10 != 0),
          pv AS (
            SELECT cand.vec_id, cand.corpus_id, eb.v AS qv, ec.v AS v
            FROM cand
            JOIN ev eb ON eb.vec_id = cand.vec_id
            JOIN ev ec ON ec.vec_id = cand.corpus_id)
          SELECT vec_id, corpus_id, cos FROM (
            SELECT vec_id, corpus_id, $COS AS cos FROM pv)
          WHERE cos >= 0.3""",

    // product quantization: x32's exactness discipline per subspace —
    // pinned init codewords, one unrolled Lloyd round with value-sorted
    // left-to-right means, argmin encode (ties → lowest cid), ADC sums
    // the per-sub table distances in sub order (list ORDER BY sub ==
    // Spark's zip_with over the sub-major arrays)
    "x58_pq_topk" ->
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                      FROM embeddings),
          $PqAdcCtes
          SELECT q_id, vec_id, adist, CAST(rank AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY adist ASC, vec_id ASC) AS rank FROM ad)
          WHERE rank <= 5""",

    // recall audit: x05's brute CTE, x19's int8 CTE, and x14's 1-probe
    // IVF CTE (all at k=5) intersected per query — counts are exact
    // integers, recall one double division
    "x59_ann_recall_audit" -> {
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                      FROM embeddings),
          q AS (SELECT vec_id AS q_id, v AS qv FROM ev WHERE vec_id < 10),
          brute AS (SELECT q_id, vec_id FROM (
              SELECT q.q_id, e.vec_id, row_number() OVER (
                PARTITION BY q.q_id
                ORDER BY ${cos("q.qv", "e.v")} DESC, e.vec_id) AS rank
              FROM ev e JOIN q ON e.vec_id != q.q_id)
            WHERE rank <= 5),
          qz AS (SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) AS ma FROM ev),
          cz AS (SELECT vec_id, v,
                   list_transform(v, x -> CASE WHEN ma > 0
                     THEN CAST(round(x * 127 / ma) AS INTEGER)
                     ELSE 0 END) AS c
                 FROM qz),
          qq AS (SELECT vec_id AS q_id, c AS qc FROM cz
                 WHERE vec_id < 10),
          quant AS (SELECT q_id, vec_id FROM (
              SELECT qq.q_id, e.vec_id, row_number() OVER (
                PARTITION BY qq.q_id
                ORDER BY ${idot("qq.qc", "e.c")} /
                  (sqrt(${idot("qq.qc", "qq.qc")})
                   * sqrt(${idot("e.c", "e.c")})) DESC,
                  e.vec_id) AS rank
              FROM cz e JOIN qq ON e.vec_id != qq.q_id)
            WHERE rank <= 5),
          cents AS (SELECT vec_id AS cid, v AS cv FROM ev
                    WHERE vec_id IN (${CentroidIds.mkString(", ")})),
          assigned AS (SELECT vec_id, v, cid AS cell FROM (
              SELECT vec_id, v, cid, row_number() OVER (
                PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
              FROM (SELECT e.vec_id, e.v, c.cid,
                      ${cos("e.v", "c.cv")} AS ccos
                    FROM ev e, cents c))
            WHERE rn = 1),
          iq AS (SELECT vec_id AS q_id, v AS qv, cell AS q_cell
                 FROM assigned WHERE vec_id < 10),
          ivf AS (SELECT q_id, vec_id FROM (
              SELECT iq.q_id, a.vec_id, row_number() OVER (
                PARTITION BY iq.q_id
                ORDER BY ${cos("iq.qv", "a.v")} DESC, a.vec_id) AS rank
              FROM assigned a
              JOIN iq ON a.cell = iq.q_cell AND a.vec_id != iq.q_id)
            WHERE rank <= 5),
          $PqAdcCtes,
          pqr AS (SELECT q_id, vec_id FROM (
              SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY adist ASC, vec_id ASC) AS rank FROM ad)
            WHERE rank <= 5),
          shortr AS (SELECT q_id, vec_id FROM (
              SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY adist ASC, vec_id ASC) AS rank FROM ad)
            WHERE rank <= 20),
          rrk AS (SELECT q_id, vec_id FROM (
              SELECT s.q_id, s.vec_id, row_number() OVER (
                PARTITION BY s.q_id
                ORDER BY ${cos("eq.v", "ec.v")} DESC, s.vec_id ASC) AS rank
              FROM shortr s
              JOIN ev eq ON eq.vec_id = s.q_id
              JOIN ev ec ON ec.vec_id = s.vec_id)
            WHERE rank <= 5),
          hq AS (SELECT b.q_id, count(*) AS hit_quant
                 FROM brute b JOIN quant t USING (q_id, vec_id)
                 GROUP BY 1),
          hi AS (SELECT b.q_id, count(*) AS hit_ivf
                 FROM brute b JOIN ivf t USING (q_id, vec_id)
                 GROUP BY 1),
          hp AS (SELECT b.q_id, count(*) AS hit_pq
                 FROM brute b JOIN pqr t USING (q_id, vec_id)
                 GROUP BY 1),
          hr AS (SELECT b.q_id, count(*) AS hit_rerank
                 FROM brute b JOIN rrk t USING (q_id, vec_id)
                 GROUP BY 1)
          SELECT q.q_id, CAST(5 AS INT) AS k,
            coalesce(hq.hit_quant, 0) AS hit_quant,
            CAST(coalesce(hq.hit_quant, 0) AS DOUBLE) / 5 AS recall_quant,
            coalesce(hi.hit_ivf, 0) AS hit_ivf,
            CAST(coalesce(hi.hit_ivf, 0) AS DOUBLE) / 5 AS recall_ivf,
            coalesce(hp.hit_pq, 0) AS hit_pq,
            CAST(coalesce(hp.hit_pq, 0) AS DOUBLE) / 5 AS recall_pq,
            coalesce(hr.hit_rerank, 0) AS hit_rerank,
            CAST(coalesce(hr.hit_rerank, 0) AS DOUBLE) / 5 AS recall_rerank
          FROM (SELECT DISTINCT q_id FROM brute) q
          LEFT JOIN hq ON q.q_id = hq.q_id
          LEFT JOIN hi ON q.q_id = hi.q_id
          LEFT JOIN hp ON q.q_id = hp.q_id
          LEFT JOIN hr ON q.q_id = hr.q_id"""
    },

    // IVF-PQ: the shared PQ chain's codes and distance tables, with the
    // candidate set cut to each query's 2 nearest coarse cosine cells
    // (ties → lowest cid, matching the Spark window order)
    "x61_ivfpq_topk" -> {
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                      FROM embeddings),
          $PqAdcCtes,
          cr AS (SELECT vec_id, cid, row_number() OVER (
                   PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
                 FROM (SELECT e.vec_id, c.cid, ${cos("e.v", "c.cv")} AS ccos
                       FROM ev e, (SELECT vec_id AS cid, v AS cv FROM ev
                                   WHERE vec_id IN
                                     (${CentroidIds.mkString(", ")})) c)),
          cells AS (SELECT vec_id, cid AS cell FROM cr WHERE rn = 1),
          probes AS (SELECT vec_id AS q_id, cid AS q_cell FROM cr
                     WHERE rn <= 2 AND vec_id < 10),
          pd2 AS (SELECT dtpq.q_id, code.vec_id, dtpq.sub, dtpq.d
                  FROM code
                  JOIN cells ON cells.vec_id = code.vec_id
                  JOIN dtpq ON code.sub = dtpq.sub AND code.cid = dtpq.cid
                  JOIN probes ON probes.q_id = dtpq.q_id
                            AND probes.q_cell = cells.cell
                  WHERE code.vec_id != dtpq.q_id),
          ad2 AS (SELECT q_id, vec_id,
                    list_reduce(list(d ORDER BY sub), (a, b) -> a + b)
                      AS adist
                  FROM pd2 GROUP BY 1, 2)
          SELECT q_id, vec_id, adist, CAST(rank AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY adist ASC, vec_id ASC) AS rank FROM ad2)
          WHERE rank <= 5"""
    },

    // the same deterministic crawl-N+1 derivation as the Spark side;
    // md5 of RAW text (not the normalized fingerprint — a diff must see
    // every byte change)
    "x60_snapshot_diff" ->
      """WITH olds AS (SELECT doc_id, md5(text) AS old_fp FROM documents),
         news AS (
           SELECT doc_id,
             md5(CASE WHEN doc_id % 5 = 0 THEN upper(text)
                      ELSE text END) AS new_fp
           FROM documents WHERE doc_id % 7 != 3
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, md5(text) AS new_fp
           FROM documents WHERE doc_id % 9 = 4)
         SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           o.old_fp, n.new_fp,
           CASE WHEN o.old_fp IS NULL THEN 'added'
                WHEN n.new_fp IS NULL THEN 'removed'
                WHEN o.old_fp = n.new_fp THEN 'unchanged'
                ELSE 'changed' END AS status
         FROM olds o FULL OUTER JOIN news n ON o.doc_id = n.doc_id""",

    // two-stage rerank: the shared ADC chain's shortlist at 20, then
    // exact cosine (same accumulation order as x05) over the shortlist
    // only — rerank ties → lowest vec_id, matching the Spark window
    "x62_pq_rerank_topk" ->
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                      FROM embeddings),
          $PqAdcCtes,
          short AS (SELECT q_id, vec_id FROM (
              SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY adist ASC, vec_id ASC) AS rank FROM ad)
            WHERE rank <= 20),
          pv AS (SELECT s.q_id, s.vec_id, eq.v AS qv, ec.v AS v
                 FROM short s
                 JOIN ev eq ON eq.vec_id = s.q_id
                 JOIN ev ec ON ec.vec_id = s.vec_id),
          rr AS (SELECT q_id, vec_id, $COS AS cos FROM pv)
          SELECT q_id, vec_id, cos, CAST(rank AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, vec_id ASC) AS rank FROM rr)
          WHERE rank <= 5""",

    // hybrid RRF: trigram-shingle Jaccard (integer intersection /
    // union counts, one double division) top-20 × exact-cosine top-20,
    // fused by 1/(60+rank) in fixed lex+vec order — all divisions on
    // DOUBLE, ties → lowest doc_id at every window
    "x63_hybrid_rrf" ->
      s"""WITH sh AS (
            SELECT doc_id, unnest(list_distinct(
              list_transform(generate_series(1, len(tk) - 2),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS tk
                  FROM documents) t
            WHERE len(tk) >= 3),
          sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
          inter AS (SELECT q.doc_id AS q_id, c.doc_id, count(*) AS i
                    FROM sh q JOIN sh c ON q.shingle = c.shingle
                    WHERE q.doc_id < 10 AND c.doc_id != q.doc_id
                    GROUP BY 1, 2),
          jac AS (SELECT i.q_id, i.doc_id,
                    CAST(i.i AS DOUBLE) /
                      CAST(qz.n_sh + cz.n_sh - i.i AS DOUBLE) AS jac
                  FROM inter i
                  JOIN sz qz ON qz.doc_id = i.q_id
                  JOIN sz cz ON cz.doc_id = i.doc_id),
          lex AS (SELECT q_id, doc_id, CAST(rn AS INT) AS lex_rank FROM (
              SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY jac DESC, doc_id ASC) AS rn FROM jac)
            WHERE rn <= 20),
          ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
          q AS (SELECT vec_id AS q_id, v AS qv FROM ev WHERE vec_id < 10),
          scored AS (SELECT q.q_id, e.vec_id, $COS AS cos
                     FROM ev e JOIN q ON e.vec_id != q.q_id),
          vec AS (SELECT q_id, vec_id AS doc_id, CAST(rn AS INT) AS vec_rank
                  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                      ORDER BY cos DESC, vec_id ASC) AS rn FROM scored)
                  WHERE rn <= 20),
          f AS (SELECT coalesce(l.q_id, v.q_id) AS q_id,
                  coalesce(l.doc_id, v.doc_id) AS doc_id,
                  l.lex_rank, v.vec_rank,
                  coalesce(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank), 0.0)
                    + coalesce(CAST(1.0 AS DOUBLE) / (60 + v.vec_rank), 0.0)
                    AS rrf
                FROM lex l FULL OUTER JOIN vec v
                  ON l.q_id = v.q_id AND l.doc_id = v.doc_id)
          SELECT q_id, doc_id, lex_rank, vec_rank, rrf,
            CAST(rn AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY rrf DESC, doc_id ASC) AS rn FROM f)
          WHERE rn <= 5""",

    // Bloom pre-gate: the same Kirsch–Mitzenmacher position arithmetic
    // (h1/h2 = the fp digest's own first two u32 words), distinct
    // corpus position set, all-positions-present membership, exact fp
    // check alongside
    "x64_bloom_pre_gate" -> {
      def pos(src: String) =
        s"""((('0x' || substr(fp, 1, 8))::BIGINT
              + j.j * ('0x' || substr(fp, 9, 8))::BIGINT) % 65536)"""
      s"""WITH corp AS (SELECT doc_id, md5(text) AS fp FROM documents
                        WHERE doc_id % 10 != 0),
          newb AS (SELECT doc_id, md5(text) AS fp FROM documents
                   WHERE doc_id % 10 = 0),
          cpos AS (SELECT DISTINCT ${pos("corp")} AS pos
                   FROM corp, unnest(generate_series(1, 3)) AS j(j)),
          bpos AS (SELECT DISTINCT doc_id, fp, ${pos("newb")} AS pos
                   FROM newb, unnest(generate_series(1, 3)) AS j(j)),
          g AS (SELECT doc_id, fp, count(*) AS n_pos,
                  sum(CASE WHEN cpos.pos IS NOT NULL THEN 1 ELSE 0 END)
                    AS n_hit
                FROM bpos LEFT JOIN cpos ON bpos.pos = cpos.pos
                GROUP BY 1, 2)
          SELECT g.doc_id, (n_hit = n_pos) AS maybe_dup,
            (cf.fp IS NOT NULL) AS is_dup,
            ((n_hit = n_pos) AND cf.fp IS NULL) AS false_positive
          FROM g LEFT JOIN (SELECT DISTINCT fp FROM corp) cf
            ON g.fp = cf.fp"""
    },

    // refresh capstone: x60's diff CTEs scope the added+changed delta,
    // x64's position CTEs gate it against the OLD corpus fingerprints,
    // the action CASE mirrors the Spark composition order exactly
    "x65_refresh_pipeline" -> {
      def pos =
        s"""((('0x' || substr(fp, 1, 8))::BIGINT
              + j.j * ('0x' || substr(fp, 9, 8))::BIGINT) % 65536)"""
      s"""WITH olds AS (SELECT doc_id, text FROM documents),
          news AS (
            SELECT doc_id,
              CASE WHEN doc_id % 5 = 0 THEN upper(text)
                   ELSE text END AS text
            FROM documents WHERE doc_id % 7 != 3
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text
            FROM documents WHERE doc_id % 9 = 4),
          ofp AS (SELECT doc_id, md5(text) AS fp FROM olds),
          nfp AS (SELECT doc_id, md5(text) AS fp FROM news),
          diff AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
              CASE WHEN o.fp IS NULL THEN 'added'
                   WHEN n.fp IS NULL THEN 'removed'
                   WHEN o.fp = n.fp THEN 'unchanged'
                   ELSE 'changed' END AS status
            FROM ofp o FULL OUTER JOIN nfp n ON o.doc_id = n.doc_id),
          delta AS (SELECT n.doc_id, n.fp FROM nfp n
                    JOIN diff d ON n.doc_id = d.doc_id
                    WHERE d.status IN ('added', 'changed')),
          cpos AS (SELECT DISTINCT $pos AS pos
                   FROM ofp, unnest(generate_series(1, 3)) AS j(j)),
          bpos AS (SELECT DISTINCT doc_id, fp, $pos AS pos
                   FROM delta, unnest(generate_series(1, 3)) AS j(j)),
          g AS (SELECT doc_id, fp, count(*) AS n_pos,
                  sum(CASE WHEN cpos.pos IS NOT NULL THEN 1 ELSE 0 END)
                    AS n_hit
                FROM bpos LEFT JOIN cpos ON bpos.pos = cpos.pos
                GROUP BY 1, 2),
          gate AS (SELECT g.doc_id, (n_hit = n_pos) AS maybe_dup,
                     (cf.fp IS NOT NULL) AS is_dup
                   FROM g LEFT JOIN (SELECT DISTINCT fp FROM ofp) cf
                     ON g.fp = cf.fp)
          SELECT d.doc_id, d.status, gate.maybe_dup, gate.is_dup,
            CASE WHEN d.status = 'unchanged' THEN 'skip'
                 WHEN d.status = 'removed' THEN 'forget'
                 WHEN coalesce(gate.is_dup, false) THEN 'drop_dup'
                 ELSE 'ingest' END AS action
          FROM diff d LEFT JOIN gate ON d.doc_id = gate.doc_id"""
    },

    // linear classifier: the SAME milli-integer weight list interpolated
    // as a VALUES table — integer sums are exact, the single /1000.0
    // double division is the only float op (no libm)
    "x66_classifier_score" -> {
      val values = TextOps.ClassifierWeights
        .map { case (t, w) => s"('$t', $w)" }.mkString(", ")
      val milli = s"""(${TextOps.ClassifierBiasMilli} + coalesce(h.s, 0)
            - ${TextOps.ClassifierLenPenaltyMilli}
              * greatest(0, len(k.tk) - ${TextOps.ClassifierLenFreeTokens}))"""
      s"""WITH w(tok, wt) AS (VALUES $values),
          tk AS (SELECT doc_id, string_split(text, ' ') AS tk
                 FROM documents),
          toks AS (SELECT doc_id, unnest(tk) AS tok FROM tk),
          hs AS (SELECT t.doc_id, CAST(sum(w.wt) AS BIGINT) AS s,
                   count(*) AS h
                 FROM toks t JOIN w ON t.tok = w.tok GROUP BY 1)
          SELECT k.doc_id, CAST(len(k.tk) AS INT) AS n_tokens,
            coalesce(h.h, 0) AS vocab_hits,
            CAST($milli AS DOUBLE) / 1000.0 AS logit,
            $milli >= 0 AS keep
          FROM tk k LEFT JOIN hs h ON k.doc_id = h.doc_id"""
    },

    // kNN graph: x06's band-bucket candidate CTE, symmetrized, per-src
    // cosine rank
    "x69_knn_graph" ->
      s"""WITH $VecBbCte,
          cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM bb a JOIN bb b
              ON a.band = b.band AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id),
          pv AS (
            SELECT c.vec_a, c.vec_b, ea.v AS qv, eb.v AS v
            FROM cand c
            JOIN ev ea ON ea.vec_id = c.vec_a
            JOIN ev eb ON eb.vec_id = c.vec_b),
          pc AS (SELECT vec_a, vec_b, $COS AS cos FROM pv),
          directed AS (
            SELECT vec_a AS src, vec_b AS dst, cos FROM pc
            UNION ALL
            SELECT vec_b AS src, vec_a AS dst, cos FROM pc)
          SELECT src, dst, cos, CAST(rk AS INT) AS nbr_rank FROM (
            SELECT *, row_number() OVER (PARTITION BY src
              ORDER BY cos DESC, dst) AS rk FROM directed)
          WHERE rk <= 5""",

    // diverse selection: x14's assignment CTE + per-cluster centrality
    // rank + round-robin pick over the unique (rank, cid) key
    "x68_diverse_select" -> {
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                      FROM embeddings),
          cents AS (SELECT vec_id AS cid, v AS cv FROM ev
                    WHERE vec_id IN (${CentroidIds.mkString(", ")})),
          assigned AS (
            SELECT vec_id, cid, ccos FROM (
              SELECT vec_id, cid, ccos,
                row_number() OVER (PARTITION BY vec_id
                  ORDER BY ccos DESC, cid ASC) AS rn
              FROM (SELECT e.vec_id, c.cid,
                      ${cos("e.v", "c.cv")} AS ccos
                    FROM ev e, cents c))
            WHERE rn = 1),
          ranked AS (
            SELECT vec_id, cid, ccos,
              CAST(row_number() OVER (PARTITION BY cid
                ORDER BY ccos DESC, vec_id) AS INT) AS rank_in_cluster
            FROM assigned),
          cut AS (SELECT * FROM ranked
                  ORDER BY rank_in_cluster, cid LIMIT 32)
          SELECT vec_id, cid, ccos, rank_in_cluster,
            CAST(row_number() OVER (ORDER BY rank_in_cluster, cid) AS INT)
              AS pick_order
          FROM cut"""
    },

    // takedown propagation: x16's recursive closure over the EXTENDED
    // corpus + the normalized-fp content match + min-priority fold
    "x67_takedown_propagate" ->
      s"""WITH RECURSIVE ext AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text FROM documents
            WHERE doc_id % 9 = 4),
          ${sigCteOver("ext")},
          edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM cand
            UNION SELECT doc_b, doc_a FROM cand),
          reach(doc_id, lbl) AS (
            SELECT doc_id, doc_id FROM ext
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst),
          comp AS (SELECT doc_id, min(lbl) AS cluster_id
                   FROM reach GROUP BY 1),
          forget AS (SELECT doc_id FROM ext WHERE doc_id % 41 = 0),
          fps AS (SELECT doc_id,
                    md5(regexp_replace(lower(text), ' +', ' ', 'g')) AS fp
                  FROM ext),
          ffp AS (SELECT DISTINCT fp FROM fps JOIN forget USING (doc_id)),
          bad AS (SELECT DISTINCT cluster_id
                  FROM comp JOIN forget USING (doc_id)),
          hits AS (
            SELECT doc_id, 1 AS pri FROM forget
            UNION ALL
            SELECT f.doc_id, 2 AS pri FROM fps f JOIN ffp USING (fp)
            UNION ALL
            SELECT c.doc_id, 3 AS pri FROM comp c JOIN bad USING (cluster_id))
          SELECT doc_id,
            CASE min(pri) WHEN 1 THEN 'direct' WHEN 2 THEN 'content'
              ELSE 'cluster' END AS reason
          FROM hits GROUP BY 1""",

    // sqrt cap per source, rank by the seeded positional-hex hash (same
    // u32 as x17); row_number is BIGINT in DuckDB already, ceil(sqrt)
    // DOUBLE → BIGINT
    "x35_domain_cap" -> {
      val u = u32("'cap' || ':' || source || '/' || CAST(doc_id AS VARCHAR)")
      s"""WITH h AS (SELECT doc_id, source, $u AS u32 FROM documents),
          r AS (SELECT doc_id, source, u32,
                  count(*) OVER (PARTITION BY source) AS n_source,
                  row_number() OVER (PARTITION BY source
                    ORDER BY u32, doc_id) AS rk
                FROM h)
          SELECT doc_id, source, n_source,
            CAST(ceil(sqrt(n_source)) AS BIGINT) AS cap, rk,
            rk <= CAST(ceil(sqrt(n_source)) AS BIGINT) AS kept
          FROM r"""
    },

    // the x02 signature/band machinery crossed train × eval (doc_id %
    // 10 = 0 is the eval slice); SIG_CTE's cand CTE goes unused here
    "x36_fuzzy_decontam" ->
      s"""WITH $SIG_CTE,
          hits AS (
            SELECT t.doc_id, count(DISTINCT e.doc_id) AS n_eval_hits,
              min(e.doc_id) AS first_eval
            FROM bands t JOIN bands e ON t.band = e.band AND t.bh = e.bh
            WHERE t.doc_id % 10 != 0 AND e.doc_id % 10 = 0 GROUP BY 1)
          SELECT d.doc_id, coalesce(h.n_eval_hits, 0) AS n_eval_hits,
            h.first_eval,
            coalesce(h.n_eval_hits, 0) > 0 AS contaminated
          FROM documents d LEFT JOIN hits h USING (doc_id)
          WHERE d.doc_id % 10 != 0""",

    // Count-Min heavy-hitter audit: one md5 per DISTINCT token, the
    // Kirsch–Mitzenmacher row family ((u1+(r+1)·u2) mod p) mod CmsWidth,
    // cell counts summed from the exact counts (additivity makes this
    // identical to counting occurrences), est = min over rows, integer
    // φ threshold (est·phiDen >= N) so the boundary case cannot diverge
    // on decimal-vs-double φ; geometry interpolated from Sketches so the
    // Scala constants and the oracle cannot desynchronize (r7 advice)
    "x37_cms_heavy" ->
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
                        FROM documents),
          exact AS (SELECT tok, count(*) AS true_cnt FROM toks GROUP BY 1),
          h AS (SELECT tok, true_cnt,
                  (('0x' || substr(md5('cms:' || tok), 1, 8))::BIGINT) AS u1,
                  (('0x' || substr(md5('cms:' || tok), 9, 8))::BIGINT) AS u2
                FROM exact),
          cells AS (
            SELECT tok, true_cnt, r.r AS r,
              ((u1 + (r.r + 1) * u2) % ${Dedup.MinhashMod})
                % ${Sketches.CmsWidth} AS c
            FROM h CROSS JOIN (SELECT
              unnest([${(0 until Sketches.CmsDepth).mkString(", ")}]) AS r) r),
          sketch AS (SELECT r, c, CAST(sum(true_cnt) AS BIGINT) AS cell
                     FROM cells GROUP BY 1, 2),
          est AS (SELECT tok, true_cnt, min(cell) AS est
                  FROM cells JOIN sketch USING (r, c) GROUP BY 1, 2)
          SELECT tok, est, true_cnt, est - true_cnt AS overcount,
            est * ${Sketches.DefaultPhiDen}
              >= (SELECT count(*) FROM toks) AS heavy
          FROM est""",

    // the composed gates: x35's cap ∩ x36's clean slice, x17's split,
    // rolled up per (source, split); sums are HUGEINT → BIGINT casts
    "x38_pipeline_manifest" -> {
      val uCap = u32("'cap' || ':' || source || '/' || CAST(doc_id AS VARCHAR)")
      val uSplit = u32("'split' || ':' || CAST(doc_id AS VARCHAR)")
      s"""WITH $SIG_CTE,
          hits AS (
            SELECT t.doc_id, count(DISTINCT e.doc_id) AS n_eval_hits
            FROM bands t JOIN bands e ON t.band = e.band AND t.bh = e.bh
            WHERE t.doc_id % 10 != 0 AND e.doc_id % 10 = 0 GROUP BY 1),
          clean AS (
            SELECT d.doc_id FROM documents d LEFT JOIN hits h USING (doc_id)
            WHERE d.doc_id % 10 != 0 AND coalesce(h.n_eval_hits, 0) = 0),
          ranked AS (
            SELECT doc_id,
              row_number() OVER (PARTITION BY source
                ORDER BY $uCap, doc_id) AS rk,
              count(*) OVER (PARTITION BY source) AS n_source
            FROM documents),
          capped AS (
            SELECT doc_id FROM ranked
            WHERE rk <= CAST(ceil(sqrt(n_source)) AS BIGINT))
          SELECT d.source,
            CASE WHEN $uSplit < ${math.floor(0.8 * 4294967296.0).toLong} THEN 'train'
                 WHEN $uSplit < ${math.floor(0.9 * 4294967296.0).toLong} THEN 'val'
                 ELSE 'test' END AS split,
            count(*) AS n_docs,
            CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens,
            CAST(sum(d.n_chars) AS BIGINT) AS n_chars
          FROM documents d
            JOIN capped USING (doc_id) JOIN clean USING (doc_id)
          GROUP BY 1, 2"""
    },

    // epoch scheduler: integer per-source counts, IEEE-exact sqrt, the
    // ONE order-sensitive double sum (Z) folded value-sorted — the
    // x42/x43 sorted-fold discipline; per-row arithmetic mirrors the
    // Spark projection op-for-op (left-assoc products, least() cap)
    "x70_epoch_schedule" ->
      s"""WITH per AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY 1),
         z AS (SELECT
             list_reduce(list_sort(list(sqrt(CAST(n_tokens AS DOUBLE)))),
               (a, b) -> a + b) AS z,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens
           FROM per),
         w AS (SELECT source, n_docs, n_tokens,
             sqrt(CAST(n_tokens AS DOUBLE)) / z AS weight,
             ${Pipeline.EpochBudgetMult} * CAST(total_tokens AS DOUBLE)
               * (sqrt(CAST(n_tokens AS DOUBLE)) / z) AS target_tokens
           FROM per, z),
         e AS (SELECT *,
             target_tokens / CAST(n_tokens AS DOUBLE) AS epochs_raw
           FROM w)
         SELECT source, n_docs, n_tokens, weight, target_tokens,
           least(epochs_raw, ${Pipeline.EpochMaxEpochs}) AS epochs,
           least(epochs_raw, ${Pipeline.EpochMaxEpochs})
             * CAST(n_tokens AS DOUBLE) AS tokens_served,
           epochs_raw > ${Pipeline.EpochMaxEpochs} AS capped
         FROM e""",

    // kNN communities: x69's graph CTE, tau-filtered, symmetrized to
    // undirected edges, then x16's recursive min-label closure
    "x71_knn_communities" ->
      s"""WITH RECURSIVE $VecBbCte,
          cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM bb a JOIN bb b
              ON a.band = b.band AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id),
          pv AS (
            SELECT c.vec_a, c.vec_b, ea.v AS qv, eb.v AS v
            FROM cand c
            JOIN ev ea ON ea.vec_id = c.vec_a
            JOIN ev eb ON eb.vec_id = c.vec_b),
          pc AS (SELECT vec_a, vec_b, $COS AS cos FROM pv),
          directed AS (
            SELECT vec_a AS src, vec_b AS dst, cos FROM pc
            UNION ALL
            SELECT vec_b AS src, vec_a AS dst, cos FROM pc),
          knn AS (
            SELECT src, dst, cos FROM (
              SELECT *, row_number() OVER (PARTITION BY src
                ORDER BY cos DESC, dst) AS rk FROM directed)
            WHERE rk <= 5),
          ue AS (SELECT DISTINCT least(src, dst) AS a,
                   greatest(src, dst) AS b
                 FROM knn WHERE cos >= 0.3),
          edges AS (SELECT a AS src, b AS dst FROM ue
                    UNION SELECT b, a FROM ue),
          reach(vec_id, lbl) AS (
            SELECT vec_id, vec_id FROM embeddings
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r
              ON r.vec_id = e.dst),
          comp AS (SELECT vec_id, min(lbl) AS community_id
                   FROM reach GROUP BY 1),
          sizes AS (SELECT community_id, count(*) AS community_size
                    FROM comp GROUP BY 1)
          SELECT c.vec_id, c.community_id, s.community_size
          FROM comp c JOIN sizes s USING (community_id)""",

    // per-community quality audit over the same graph + closure:
    // integer edge tallies, then the Newman modularity contribution and
    // conductance in the identical fixed-order double arithmetic as the
    // Spark projection (guards mirrored: 0 for edge-free slices)
    "x72_community_quality" ->
      s"""WITH RECURSIVE $VecBbCte,
          cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM bb a JOIN bb b
              ON a.band = b.band AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id),
          pv AS (
            SELECT c.vec_a, c.vec_b, ea.v AS qv, eb.v AS v
            FROM cand c
            JOIN ev ea ON ea.vec_id = c.vec_a
            JOIN ev eb ON eb.vec_id = c.vec_b),
          pc AS (SELECT vec_a, vec_b, $COS AS cos FROM pv),
          directed AS (
            SELECT vec_a AS src, vec_b AS dst, cos FROM pc
            UNION ALL
            SELECT vec_b AS src, vec_a AS dst, cos FROM pc),
          knn AS (
            SELECT src, dst, cos FROM (
              SELECT *, row_number() OVER (PARTITION BY src
                ORDER BY cos DESC, dst) AS rk FROM directed)
            WHERE rk <= 5),
          ua AS (SELECT DISTINCT least(src, dst) AS a,
                   greatest(src, dst) AS b
                 FROM knn),
          ue AS (SELECT DISTINCT least(src, dst) AS a,
                   greatest(src, dst) AS b
                 FROM knn WHERE cos >= 0.3),
          edges AS (SELECT a AS src, b AS dst FROM ue
                    UNION SELECT b, a FROM ue),
          reach(vec_id, lbl) AS (
            SELECT vec_id, vec_id FROM embeddings
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r
              ON r.vec_id = e.dst),
          comp AS (SELECT vec_id, min(lbl) AS community_id
                   FROM reach GROUP BY 1),
          tag AS (SELECT ua.a, ua.b,
                    ca.community_id AS comm_a, cb.community_id AS comm_b
                  FROM ua
                  JOIN comp ca ON ca.vec_id = ua.a
                  JOIN comp cb ON cb.vec_id = ua.b),
          mt AS (SELECT CAST(count(*) AS BIGINT) AS m FROM tag),
          intl AS (SELECT comm_a AS community_id,
                     CAST(count(*) AS BIGINT) AS n
                   FROM tag WHERE comm_a = comm_b GROUP BY 1),
          cut AS (SELECT community_id, CAST(count(*) AS BIGINT) AS n
                  FROM (SELECT comm_a AS community_id FROM tag
                        WHERE comm_a != comm_b
                        UNION ALL
                        SELECT comm_b FROM tag WHERE comm_a != comm_b)
                  GROUP BY 1),
          base AS (SELECT community_id,
                     CAST(count(*) AS BIGINT) AS community_size
                   FROM comp GROUP BY 1),
          q AS (SELECT b.community_id, b.community_size,
                  CAST(coalesce(i.n, 0) AS BIGINT) AS n_internal,
                  CAST(coalesce(ct.n, 0) AS BIGINT) AS n_cut
                FROM base b
                LEFT JOIN intl i USING (community_id)
                LEFT JOIN cut ct USING (community_id)),
          v AS (SELECT *, CAST(2 * n_internal + n_cut AS BIGINT)
                  AS volume FROM q)
          SELECT community_id, community_size, n_internal, n_cut, volume,
            CASE WHEN m > 0 THEN
              CAST(n_internal AS DOUBLE) / CAST(m AS DOUBLE)
              - (CAST(volume AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
                * (CAST(volume AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
            ELSE 0.0 END AS modularity,
            CASE WHEN least(CAST(volume AS DOUBLE),
                2.0 * CAST(m AS DOUBLE) - CAST(volume AS DOUBLE)) > 0
              THEN CAST(n_cut AS DOUBLE)
                / least(CAST(volume AS DOUBLE),
                    2.0 * CAST(m AS DOUBLE) - CAST(volume AS DOUBLE))
            ELSE 0.0 END AS conductance
          FROM v, mt""",

    // incremental community assignment: x71's closure restricted to the
    // corpus slice (banding the slice ≡ slicing the full band table —
    // buckets are per-vector), then each batch vector's banded
    // candidates verify by exact cosine and the best tau match donates
    // its community; no match → own id, is_new
    "x73_assign_communities" ->
      s"""WITH RECURSIVE $VecBbCte,
          cbb AS (SELECT * FROM bb WHERE vec_id % 10 != 0),
          bbb AS (SELECT * FROM bb WHERE vec_id % 10 = 0),
          cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM cbb a JOIN cbb b
              ON a.band = b.band AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id),
          pv AS (
            SELECT c.vec_a, c.vec_b, ea.v AS qv, eb.v AS v
            FROM cand c
            JOIN ev ea ON ea.vec_id = c.vec_a
            JOIN ev eb ON eb.vec_id = c.vec_b),
          pc AS (SELECT vec_a, vec_b, $COS AS cos FROM pv),
          directed AS (
            SELECT vec_a AS src, vec_b AS dst, cos FROM pc
            UNION ALL
            SELECT vec_b AS src, vec_a AS dst, cos FROM pc),
          knn AS (
            SELECT src, dst, cos FROM (
              SELECT *, row_number() OVER (PARTITION BY src
                ORDER BY cos DESC, dst) AS rk FROM directed)
            WHERE rk <= 5),
          ue AS (SELECT DISTINCT least(src, dst) AS a,
                   greatest(src, dst) AS b
                 FROM knn WHERE cos >= 0.3),
          edges AS (SELECT a AS src, b AS dst FROM ue
                    UNION SELECT b, a FROM ue),
          reach(vec_id, lbl) AS (
            SELECT vec_id, vec_id FROM embeddings WHERE vec_id % 10 != 0
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r
              ON r.vec_id = e.dst),
          comp AS (SELECT vec_id, min(lbl) AS community_id
                   FROM reach GROUP BY 1),
          bcand AS (
            SELECT DISTINCT b.vec_id, c.vec_id AS cand_id
            FROM bbb b JOIN cbb c
              ON b.band = c.band AND b.bucket = c.bucket),
          bver AS (
            SELECT x.vec_id, x.cand_id, $COS AS cos
            FROM (SELECT bc.vec_id, bc.cand_id, q.v AS qv, cv.v AS v
                  FROM bcand bc
                  JOIN ev q ON q.vec_id = bc.vec_id
                  JOIN ev cv ON cv.vec_id = bc.cand_id) x),
          best AS (
            SELECT vec_id, cand_id, cos FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY cos DESC, cand_id) AS rn
              FROM bver WHERE cos >= 0.3)
            WHERE rn = 1)
          SELECT b.vec_id,
            coalesce(cm.community_id, b.vec_id) AS community_id,
            bs.cand_id AS matched_vec, bs.cos AS match_cos,
            cm.community_id IS NULL AS is_new
          FROM (SELECT vec_id FROM embeddings WHERE vec_id % 10 = 0) b
          LEFT JOIN best bs ON bs.vec_id = b.vec_id
          LEFT JOIN comp cm ON cm.vec_id = bs.cand_id""",

    // the refresh cycle composed: x60's changed-status slice splits the
    // vector corpus, x71's closure over the corpus slice, x73's
    // probe/verify/donate for the delta, then x72's metric block over
    // the merged assignment and the delta-appended edge set
    "x78_graph_refresh" -> GraphRefreshSql,
    // stored-path twin: same values by construction (the in-query
    // build routes through graphRefreshCycleWith)
    "x79_graph_refresh_stored" -> GraphRefreshSql,

    // the engine decodes + DCT-hashes the payload bytes; the oracle
    // reads the fixture's authored expected hash (the x12 rule — same
    // code computed it from the same bytes at authoring time)
    "x80_image_phash" ->
      s"""SELECT media_id, kind, phash64
          FROM read_parquet('$MEDIA/media.parquet/*.parquet')""",

    // near-dup pairs under hamming(phash) <= 7: the banded engine join
    // is EXACT for tau < nBands (multi-index hashing pigeonhole), so
    // the uncapped cross-join oracle spells out the same pair set
    "x81_image_neardup" ->
      s"""WITH m AS (
            SELECT media_id, phash64
            FROM read_parquet('$MEDIA/media.parquet/*.parquet')
            WHERE phash64 IS NOT NULL)
          SELECT a.media_id AS id_a, b.media_id AS id_b,
            CAST(bit_count(xor(a.phash64, b.phash64)) AS INT) AS hamming
          FROM m a JOIN m b ON a.media_id < b.media_id
          WHERE bit_count(xor(a.phash64, b.phash64)) <= 7""",

    // the engine Goertzel-decodes + DCT-hashes the WAV payload; the
    // oracle reads the fixture's authored expected fingerprint
    "x82_audio_fingerprint" ->
      s"""SELECT media_id, kind, audiofp64
          FROM read_parquet('$MEDIA/media.parquet/*.parquet')""",

    // same exact banded-hamming semantics as x81, on the audio column
    "x83_audio_neardup" ->
      s"""WITH m AS (
            SELECT media_id, audiofp64
            FROM read_parquet('$MEDIA/media.parquet/*.parquet')
            WHERE audiofp64 IS NOT NULL)
          SELECT a.media_id AS id_a, b.media_id AS id_b,
            CAST(bit_count(xor(a.audiofp64, b.audiofp64)) AS INT) AS hamming
          FROM m a JOIN m b ON a.media_id < b.media_id
          WHERE bit_count(xor(a.audiofp64, b.audiofp64)) <= 7""",

    // the engine demuxes the video track and hashes every luma frame;
    // the oracle unnests the fixture's authored per-frame hash array
    // (the x39 discipline)
    "x84_video_phash" ->
      s"""SELECT media_id, CAST(x.i - 1 AS INT) AS frame_idx,
            fr_phash64[x.i] AS fphash64
          FROM read_parquet('$MEDIA/media.parquet/*.parquet'),
            unnest(generate_series(1, len(fr_phash64))) AS x(i)
          WHERE fr_phash64 IS NOT NULL""",

    // clip containment over distinct frame hashes: overlap /
    // min(side counts) >= 0.5, spelled out relationally from the same
    // authored arrays (df cut never triggers on the fixture)
    "x85_video_neardup" ->
      s"""WITH fh AS (
            SELECT DISTINCT media_id, fr_phash64[x.i] AS h
            FROM read_parquet('$MEDIA/media.parquet/*.parquet'),
              unnest(generate_series(1, len(fr_phash64))) AS x(i)
            WHERE fr_phash64 IS NOT NULL),
          n AS (SELECT media_id, count(*) AS nh FROM fh GROUP BY 1),
          ov AS (
            SELECT a.media_id AS id_a, b.media_id AS id_b,
              count(*) AS overlap
            FROM fh a JOIN fh b ON a.h = b.h AND a.media_id < b.media_id
            GROUP BY 1, 2)
          SELECT o.id_a, o.id_b, o.overlap,
            CAST(o.overlap AS DOUBLE) / least(na.nh, nb.nh) AS sim
          FROM ov o
          JOIN n na ON na.media_id = o.id_a
          JOIN n nb ON nb.media_id = o.id_b
          WHERE CAST(o.overlap AS DOUBLE) / least(na.nh, nb.nh) >= 0.5""",

    // cross-modal keep gate: union of the x81/x83/x85 pair predicates
    // (banded hamming is recall-exact for tau < nBands, so brute
    // tau-joins ARE the engine's pair sets) closed transitively by the
    // x16 recursive-CTE discipline, min-id representative kept
    "x86_media_dedup_keep" ->
      s"""WITH RECURSIVE m AS (
            SELECT * FROM read_parquet('$MEDIA/media.parquet/*.parquet')),
          ip AS (
            SELECT a.media_id AS da, b.media_id AS db
            FROM m a JOIN m b ON a.media_id < b.media_id
            WHERE a.phash64 IS NOT NULL AND b.phash64 IS NOT NULL
              AND bit_count(xor(a.phash64, b.phash64)) <= 7),
          ap AS (
            SELECT a.media_id AS da, b.media_id AS db
            FROM m a JOIN m b ON a.media_id < b.media_id
            WHERE a.audiofp64 IS NOT NULL AND b.audiofp64 IS NOT NULL
              AND bit_count(xor(a.audiofp64, b.audiofp64)) <= 7),
          fh AS (
            SELECT DISTINCT media_id, fr_phash64[x.i] AS h
            FROM m, unnest(generate_series(1, len(fr_phash64))) AS x(i)
            WHERE fr_phash64 IS NOT NULL),
          nn AS (SELECT media_id, count(*) AS nh FROM fh GROUP BY 1),
          ov AS (
            SELECT a.media_id AS da, b.media_id AS db, count(*) AS o
            FROM fh a JOIN fh b ON a.h = b.h AND a.media_id < b.media_id
            GROUP BY 1, 2),
          vp AS (
            SELECT o.da, o.db FROM ov o
            JOIN nn na ON na.media_id = o.da
            JOIN nn nb ON nb.media_id = o.db
            WHERE CAST(o.o AS DOUBLE) / least(na.nh, nb.nh) >= 0.5),
          cand AS (
            SELECT * FROM ip UNION ALL SELECT * FROM ap
            UNION ALL SELECT * FROM vp),
          edges AS (
            SELECT da AS src, db AS dst FROM cand
            UNION SELECT db, da FROM cand),
          reach(media_id, lbl) AS (
            SELECT media_id, media_id FROM m
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r
              ON r.media_id = e.dst),
          comp AS (SELECT media_id, min(lbl) AS cluster_id
                   FROM reach GROUP BY 1),
          sizes AS (SELECT cluster_id, count(*) AS cluster_size
                    FROM comp GROUP BY 1)
          SELECT c.media_id, mm.kind, c.cluster_id, s.cluster_size,
            (c.media_id = c.cluster_id) AS keep
          FROM comp c
          JOIN sizes s USING (cluster_id)
          JOIN m mm USING (media_id)""",

    // the engine lags DECODED per-frame luma means; the oracle lags the
    // AUTHORED fr_brightness arrays (same bytes, same one-division
    // arithmetic — bit-equal operands), comparisons only so no
    // accumulation-order divergence is possible
    "x87_scene_changes" ->
      s"""WITH fr AS (
            SELECT media_id, x.i AS idx, fr_brightness[x.i] AS b
            FROM read_parquet('$MEDIA/media.parquet/*.parquet'),
              unnest(generate_series(1, len(fr_brightness))) AS x(i)
            WHERE fr_brightness IS NOT NULL),
          d AS (
            SELECT media_id, b,
              lag(b) OVER (PARTITION BY media_id ORDER BY idx) AS prev
            FROM fr)
          SELECT media_id, count(*) AS n_frames,
            CAST(sum(CASE WHEN prev IS NOT NULL
                AND abs(b - prev) > ${Multimodal.SceneTau}
              THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
            CAST(sum(CASE WHEN prev IS NOT NULL
                AND abs(b - prev) > ${Multimodal.SceneTau}
              THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_scenes
          FROM d GROUP BY 1""",

    // gate rules over the authored stat columns (= the engine's decoded
    // values by the fixture authoring rule); thresholds interpolated
    // from the shared Multimodal constants
    "x88_media_quality_gate" ->
      s"""WITH g AS (
            SELECT media_id, kind,
              CASE
                WHEN px_brightness IS NULL AND amp_mean IS NULL
                  AND duration_ms IS NULL THEN 'undecodable'
                WHEN kind = 'image'
                  AND width * height < ${Multimodal.MinImageArea}
                  THEN 'too_small'
                WHEN kind = 'image'
                  AND (px_brightness < ${Multimodal.ExposureLo}
                    OR px_brightness > ${Multimodal.ExposureHi})
                  THEN 'exposure'
                WHEN kind = 'audio' AND amp_mean < ${Multimodal.SilenceAmp}
                  THEN 'silence'
                WHEN kind = 'audio' AND amp_mean > ${Multimodal.HotAmp}
                  THEN 'clipping_risk'
                WHEN kind = 'video' AND duration_ms < ${Multimodal.MinClipMs}
                  THEN 'too_short'
                ELSE 'pass' END AS reason
            FROM read_parquet('$MEDIA/media.parquet/*.parquet'))
          SELECT media_id, kind, reason, (reason = 'pass') AS keep
          FROM g""",

    // the engine walks the real chunk framing; the oracle unnests the
    // authored keyword/value arrays (spliced at authoring time by the
    // same CRC32-framed writer the walker is specced against)
    "x89_png_text_chunks" ->
      s"""SELECT media_id, CAST(x.i - 1 AS INT) AS chunk_idx,
            txt_keys[x.i] AS keyword, txt_vals[x.i] AS value
          FROM read_parquet('$MEDIA/media.parquet/*.parquet'),
            unnest(generate_series(1, len(txt_keys))) AS x(i)
          WHERE txt_keys IS NOT NULL""",

    // strip accounting from the authored arrays: 13 framing bytes per
    // chunk (len+type+crc+NUL) + key/value characters (ASCII fixtures,
    // so char count == byte count); digest authored by running the
    // strip at authoring time, content digest for untouched rows
    "x90_strip_text_audit" ->
      s"""SELECT media_id, kind,
            CAST(coalesce(len(txt_keys), 0) AS BIGINT) AS n_text_chunks,
            CAST(CASE WHEN txt_keys IS NULL THEN 0
              ELSE 13 * len(txt_keys)
                + length(array_to_string(txt_keys, ''))
                + length(array_to_string(txt_vals, ''))
              END AS BIGINT) AS bytes_removed,
            coalesce(stripped_md5, md5(lower(hex(payload)))) AS stripped_md5
          FROM read_parquet('$MEDIA/media.parquet/*.parquet')""",

    // sequential funnel: the x88 rule CASE gates every file, the x86
    // closure reruns restricted to the survivors (a dropped file can't
    // represent a cluster), per-(stage, kind) attrition rollup
    "x91_media_funnel" -> FunnelSql,

    // MJPEG decode (the compressed-entry clips): the engine demuxes the
    // 'jpeg' sample entry + per-sample stsz table and JDK-decodes every
    // JPEG sample; the oracle reads the fixture's EXPECTED per-frame
    // arrays, authored by the same demux+decode (the x12/x39
    // discipline), filtered by the authored codec tag
    "x92_mjpeg_frames" ->
      s"""SELECT media_id, CAST(x.i - 1 AS INT) AS frame_idx,
            fr_ts_ms[x.i] AS frame_ts_ms,
            width AS fr_width, height AS fr_height,
            fr_brightness[x.i] AS luma_mean,
            fr_phash64[x.i] AS fphash64
          FROM read_parquet('$MEDIA/media.parquet/*.parquet'),
            unnest(generate_series(1, len(fr_brightness))) AS x(i)
          WHERE codec = 'mjpeg'""",

    // intra-H.264 decode (the 'avc3' sample-entry clips): the engine
    // demuxes and spec-decodes every access unit; the oracle reads the
    // fixture's EXPECTED per-frame arrays, authored by the same
    // demux+decode (the x12/x92 discipline), filtered by the codec tag
    "x94_avc_frames" ->
      s"""SELECT media_id, CAST(x.i - 1 AS INT) AS frame_idx,
            fr_ts_ms[x.i] AS frame_ts_ms,
            width AS fr_width, height AS fr_height,
            fr_brightness[x.i] AS luma_mean,
            fr_phash64[x.i] AS fphash64
          FROM read_parquet('$MEDIA/media.parquet/*.parquet'),
            unnest(generate_series(1, len(fr_brightness))) AS x(i)
          WHERE codec = 'avc'""",

    // the auto-geometry funnel: at any corpus whose widest-ladder pair
    // work fits the budget the selection returns (8 bands, tau 7) and
    // the funnel EQUALS x91's — the oracle is x91's SQL plus the
    // selected-geometry literals the Spark side stamps on every row
    // (r16 ADVICE: past the budget knee the engine switches to (4,3)
    // and the geo columns make that boundary crossing diagnosable
    // instead of an unexplained row mismatch); the selection boundary
    // itself is spec-pinned (MultimodalSpec) and priced at 275k/550k
    // by MediaBench's funnel_auto point
    "x93_funnel_autogeo" ->
      s"""SELECT f.*, 8 AS geo_bands, 7 AS geo_tau FROM ($FunnelSql) f""",

    // budget-constrained quality selection: the x22 quality score, the
    // global greedy ranked prefix under a token budget — the oracle IS
    // the single-partition window the Spark side's histogram-boundary
    // decomposition avoids; kept sets identical by construction
    "x74_budget_select" ->
      s"""WITH q AS (
           SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n,
             CAST(length(regexp_replace(text, '[^a-z0-9A-Z ]', '', 'g'))
               AS DOUBLE) AS alnum,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS ntok,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, n_tokens,
             CASE WHEN n > 0 THEN (n - alnum) / n ELSE 0.0 END
               AS punct_ratio,
             CASE WHEN ntok > 0 THEN (n - (ntok - 1)) / ntok ELSE 0.0 END
               AS mean_tok_len
           FROM q),
         s AS (
           SELECT doc_id, n_tokens,
             greatest(0.0, least(1.0,
               1.0 - punct_ratio - abs(mean_tok_len - 5.0) / 10.0))
               AS quality_score
           FROM c),
         tot AS (SELECT CAST(floor(${Sampling.BudgetFrac}
                   * CAST(sum(n_tokens) AS DOUBLE)) AS BIGINT)
                   AS budget FROM s),
         r AS (
           SELECT *, CAST(coalesce(sum(n_tokens) OVER (
               ORDER BY quality_score DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS prev
           FROM s)
         SELECT doc_id, quality_score, n_tokens, prev < budget AS kept
         FROM r, tot""",

    // cluster-safe split: x16's recursive closure, then the x17 hash
    // split keyed on the CLUSTER id — near-dup groups cannot straddle
    // splits by construction
    "x75_cluster_safe_split" -> {
      val u = u32("'csplit' || ':' || CAST(cluster_id AS VARCHAR)")
      s"""WITH RECURSIVE $SIG_CTE,
          edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM cand
            UNION SELECT doc_b, doc_a FROM cand),
          reach(doc_id, lbl) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r
              ON r.doc_id = e.dst),
          comp AS (SELECT doc_id, min(lbl) AS cluster_id
                   FROM reach GROUP BY 1)
          SELECT doc_id, cluster_id,
            CASE WHEN $u < ${math.floor(0.8 * 4294967296.0).toLong}
                   THEN 'train'
                 WHEN $u < ${math.floor(0.9 * 4294967296.0).toLong}
                   THEN 'val'
                 ELSE 'test' END AS split
          FROM comp"""
    },

    // token-balanced first-fit shards in deterministic hash order: the
    // oracle IS the global running-sum window the Spark side's
    // bucketed prefix-sum decomposition avoids
    "x76_token_shards" -> {
      val u = u32("'shard' || ':' || CAST(doc_id AS VARCHAR)")
      s"""WITH t AS (
            SELECT doc_id, $u AS u32,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents),
          r AS (
            SELECT *, CAST(coalesce(sum(n_tokens) OVER (
                ORDER BY u32, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS prev
            FROM t)
          SELECT doc_id, u32, n_tokens,
            CAST(floor(prev / ${Sampling.ShardTokens}.0) AS BIGINT)
              AS shard_id
          FROM r"""
    },

    // the sequential attrition rollup: each stage's pass set is the
    // EXISTING gate oracle's verdict (x26 keep, x16 min-id rep, x36
    // not-contaminated over the non-eval slice, x35 kept), intersected
    // in production order and exploded into 4 stage rows
    "x77_curation_funnel" -> {
      val uCap = u32("'cap' || ':' || source || '/' || CAST(doc_id AS VARCHAR)")
      s"""WITH q AS ($QualityGateSql),
          dd AS (
            WITH RECURSIVE $SIG_CTE,
            edges AS (
              SELECT doc_a AS src, doc_b AS dst FROM cand
              UNION SELECT doc_b, doc_a FROM cand),
            reach(doc_id, lbl) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.src, r.lbl FROM edges e JOIN reach r
                ON r.doc_id = e.dst),
            comp AS (SELECT doc_id, min(lbl) AS cluster_id
                     FROM reach GROUP BY 1)
            SELECT doc_id, doc_id = cluster_id AS p2 FROM comp),
          dc AS (
            WITH $SIG_CTE,
            hits AS (
              SELECT t.doc_id
              FROM bands t JOIN bands e ON t.band = e.band AND t.bh = e.bh
              WHERE t.doc_id % 10 != 0 AND e.doc_id % 10 = 0
              GROUP BY 1)
            SELECT d.doc_id, h.doc_id IS NULL AS pc
            FROM documents d LEFT JOIN hits h USING (doc_id)
            WHERE d.doc_id % 10 != 0),
          cap AS (
            WITH h AS (SELECT doc_id, source, $uCap AS u32 FROM documents),
            r AS (SELECT doc_id, u32,
                    count(*) OVER (PARTITION BY source) AS n_source,
                    row_number() OVER (PARTITION BY source
                      ORDER BY u32, doc_id) AS rk
                  FROM h)
            SELECT doc_id,
              rk <= CAST(ceil(sqrt(n_source)) AS BIGINT) AS p4
            FROM r),
          flags AS (
            SELECT d.doc_id, q.keep AS p1, dd.p2,
              coalesce(dc.pc, false) AS p3, cap.p4
            FROM documents d
            JOIN q USING (doc_id)
            JOIN dd USING (doc_id)
            LEFT JOIN dc USING (doc_id)
            JOIN cap USING (doc_id)),
          a AS (SELECT
              CAST(count(*) AS BIGINT) AS n0,
              CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
              CAST(sum(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS BIGINT)
                AS n2,
              CAST(sum(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n3,
              CAST(sum(CASE WHEN p1 AND p2 AND p3 AND p4 THEN 1 ELSE 0 END)
                AS BIGINT) AS n4
            FROM flags)
          SELECT CAST(1 AS BIGINT) AS stage_id, 'quality_gate' AS stage,
            n0 AS n_in, n1 AS n_out, n0 - n1 AS n_dropped FROM a
          UNION ALL SELECT 2, 'near_dedup', n1, n2, n1 - n2 FROM a
          UNION ALL SELECT 3, 'eval_decontam', n2, n3, n2 - n3 FROM a
          UNION ALL SELECT 4, 'domain_cap', n3, n4, n3 - n4 FROM a"""
    }
  )

  /** shared by the x78/x79 oracle entries (the DuckDB twin of
    * graphRefreshCycle; see the x78 registration comment)
    */
  private lazy val GraphRefreshSql: String =
      s"""WITH RECURSIVE $VecBbCte,
          ofp AS (SELECT doc_id, md5(text) AS old_fp FROM documents),
          nfp AS (SELECT doc_id,
              md5(CASE WHEN doc_id % 5 = 0 THEN upper(text)
                       ELSE text END) AS new_fp
            FROM documents WHERE doc_id % 7 != 3),
          chg AS (SELECT o.doc_id FROM ofp o JOIN nfp n
                  ON o.doc_id = n.doc_id WHERE o.old_fp != n.new_fp),
          cbb AS (SELECT bb.* FROM bb LEFT JOIN chg
                  ON bb.vec_id = chg.doc_id WHERE chg.doc_id IS NULL),
          bbb AS (SELECT bb.* FROM bb JOIN chg ON bb.vec_id = chg.doc_id),
          corpusv AS (SELECT e.vec_id FROM embeddings e LEFT JOIN chg c
                      ON e.vec_id = c.doc_id WHERE c.doc_id IS NULL),
          batchv AS (SELECT e.vec_id FROM embeddings e JOIN chg c
                     ON e.vec_id = c.doc_id),
          cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM cbb a JOIN cbb b
              ON a.band = b.band AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id),
          pv AS (
            SELECT c.vec_a, c.vec_b, ea.v AS qv, eb.v AS v
            FROM cand c
            JOIN ev ea ON ea.vec_id = c.vec_a
            JOIN ev eb ON eb.vec_id = c.vec_b),
          pc AS (SELECT vec_a, vec_b, $COS AS cos FROM pv),
          directed AS (
            SELECT vec_a AS src, vec_b AS dst, cos FROM pc
            UNION ALL
            SELECT vec_b AS src, vec_a AS dst, cos FROM pc),
          knn AS (
            SELECT src, dst, cos FROM (
              SELECT *, row_number() OVER (PARTITION BY src
                ORDER BY cos DESC, dst) AS rk FROM directed)
            WHERE rk <= 5),
          ua AS (SELECT DISTINCT least(src, dst) AS a,
                   greatest(src, dst) AS b
                 FROM knn),
          ue AS (SELECT DISTINCT least(src, dst) AS a,
                   greatest(src, dst) AS b
                 FROM knn WHERE cos >= 0.3),
          edges AS (SELECT a AS src, b AS dst FROM ue
                    UNION SELECT b, a FROM ue),
          reach(vec_id, lbl) AS (
            SELECT vec_id, vec_id FROM corpusv
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r
              ON r.vec_id = e.dst),
          comp AS (SELECT vec_id, min(lbl) AS community_id
                   FROM reach GROUP BY 1),
          bcand AS (
            SELECT DISTINCT b.vec_id, c.vec_id AS cand_id
            FROM bbb b JOIN cbb c
              ON b.band = c.band AND b.bucket = c.bucket),
          bver AS (
            SELECT x.vec_id, x.cand_id, $COS AS cos
            FROM (SELECT bc.vec_id, bc.cand_id, q.v AS qv, cv.v AS v
                  FROM bcand bc
                  JOIN ev q ON q.vec_id = bc.vec_id
                  JOIN ev cv ON cv.vec_id = bc.cand_id) x),
          bq AS (SELECT * FROM bver WHERE cos >= 0.3),
          best AS (
            SELECT vec_id, cand_id FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY cos DESC, cand_id) AS rn FROM bq)
            WHERE rn = 1),
          assigned AS (
            SELECT b.vec_id,
              coalesce(cm.community_id, b.vec_id) AS community_id
            FROM batchv b
            LEFT JOIN best bs ON bs.vec_id = b.vec_id
            LEFT JOIN comp cm ON cm.vec_id = bs.cand_id),
          mergedc AS (SELECT vec_id, community_id FROM comp
                      UNION ALL
                      SELECT vec_id, community_id FROM assigned),
          nedge AS (SELECT DISTINCT least(vec_id, cand_id) AS a,
                      greatest(vec_id, cand_id) AS b
                    FROM bq),
          gp AS (SELECT a, b FROM ua UNION SELECT a, b FROM nedge),
          tag AS (SELECT gp.a, gp.b,
                    ca.community_id AS comm_a, cb.community_id AS comm_b
                  FROM gp
                  JOIN mergedc ca ON ca.vec_id = gp.a
                  JOIN mergedc cb ON cb.vec_id = gp.b),
          mt AS (SELECT CAST(count(*) AS BIGINT) AS m FROM tag),
          intl AS (SELECT comm_a AS community_id,
                     CAST(count(*) AS BIGINT) AS n
                   FROM tag WHERE comm_a = comm_b GROUP BY 1),
          cut AS (SELECT community_id, CAST(count(*) AS BIGINT) AS n
                  FROM (SELECT comm_a AS community_id FROM tag
                        WHERE comm_a != comm_b
                        UNION ALL
                        SELECT comm_b FROM tag WHERE comm_a != comm_b)
                  GROUP BY 1),
          base AS (SELECT community_id,
                     CAST(count(*) AS BIGINT) AS community_size
                   FROM mergedc GROUP BY 1),
          q AS (SELECT b.community_id, b.community_size,
                  CAST(coalesce(i.n, 0) AS BIGINT) AS n_internal,
                  CAST(coalesce(ct.n, 0) AS BIGINT) AS n_cut
                FROM base b
                LEFT JOIN intl i USING (community_id)
                LEFT JOIN cut ct USING (community_id)),
          v AS (SELECT *, CAST(2 * n_internal + n_cut AS BIGINT)
                  AS volume FROM q)
          SELECT community_id, community_size, n_internal, n_cut, volume,
            CASE WHEN m > 0 THEN
              CAST(n_internal AS DOUBLE) / CAST(m AS DOUBLE)
              - (CAST(volume AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
                * (CAST(volume AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
            ELSE 0.0 END AS modularity,
            CASE WHEN least(CAST(volume AS DOUBLE),
                2.0 * CAST(m AS DOUBLE) - CAST(volume AS DOUBLE)) > 0
              THEN CAST(n_cut AS DOUBLE)
                / least(CAST(volume AS DOUBLE),
                    2.0 * CAST(m AS DOUBLE) - CAST(volume AS DOUBLE))
            ELSE 0.0 END AS conductance
          FROM v, mt"""
}

/** oracle-side rendering of the stopword dimension (kept adjacent to
  * [[TextOps.stopwords]] so the two stay in sync)
  */
object TextOpsOracle {
  def stopwordValues: String = Seq(
    "en" -> Seq("the", "a", "of", "to", "and", "is", "in"),
    "es" -> Seq("el", "la", "de", "y", "que", "los", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu"),
    "fr" -> Seq("le", "la", "de", "et", "un", "les", "des"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我"))
    .flatMap { case (l, ws) => ws.map(w => s"('$l','$w')") }
    .mkString(", ")


}
