package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analytics.Health
import graft.meta.{MetaCatalog, Model}
import graft.ops.MetaOps

/** The user-facing facade: everything a user of the reference application
  * does — connect to a catalog, browse/search/filter tables and
  * snapshots, inspect schema evolution and partition specs, read the
  * health dashboard — plus the engine's pipeline extensions (dedup,
  * similarity, text analysis, streaming), one method per capability, all
  * returning lazy DataFrames the caller composes further.
  *
  * Deterministic by construction: `asOfMs` pins the clock for every
  * analytics computation (the reference reads wall-clock mid-compute).
  */
class Engine(spark: SparkSession, catalog: MetaCatalog,
    asOfMs: Long = Model.AsOfMs) {

  private lazy val snaps = catalog.snapshots(spark)
  private lazy val meta = catalog.tableMeta(spark)
  private lazy val metricsDf = Health.tableMetrics(snaps, meta, asOfMs)

  // ---- catalog browsing (S4-S6, F8-F11) ------------------------------
  def tables: DataFrame = catalog.listing(spark)
  def searchTables(query: String): DataFrame =
    MetaOps.searchTables(tables, query)
  def treeCounts(query: String): DataFrame =
    MetaOps.treeFilterCounts(tables, query)

  // ---- snapshot exploration (S7, F1-F4, O1, J8) ----------------------
  def snapshots: DataFrame = snaps
  def filterSnapshots(p: MetaOps.SnapshotFilterParams): DataFrame =
    snaps.filter(MetaOps.snapshotFilter(p))
  def timeTravel(tsMs: Long): DataFrame =
    MetaOps.timeTravel(snaps, meta, tsMs)

  // ---- schema / partition metadata (J1-J3, P6 evaluation) -------------
  def schemaEvolution(cat: String, ns: String, table: String): DataFrame =
    MetaOps.schemaEvolution(catalog.schemaVersions(spark), cat, ns, table)
  def partitionFields: DataFrame =
    MetaOps.partitionResolve(catalog.partitionSpecs(spark),
      catalog.schemaVersions(spark))
  /** which partition value does a row get under a rendered transform tag
    * ("bucket[16]", "day", …) — Iceberg-spec semantics incl. murmur3
    * bucketing
    */
  def partitionValue(transform: String, c: org.apache.spark.sql.Column,
      sourceIsString: Boolean = false): org.apache.spark.sql.Column =
    graft.meta.Transforms.eval(transform, c, sourceIsString)

  // ---- health dashboard (A1-A18) -------------------------------------
  def metrics: DataFrame = metricsDf
  def healthScores: DataFrame = Health.healthScore(metricsDf)
  def subScores: DataFrame = Health.subScores(metricsDf)
  def alerts: DataFrame = Health.alerts(metricsDf, asOfMs)
  def recommendations: DataFrame =
    Health.recommendations(alerts, meta)
  def trends: DataFrame = Health.trendsExact(snaps)

  // ---- training-data pipeline (X3-X6) over caller-supplied frames ----
  def exactDupGroups(docs: DataFrame): DataFrame =
    graft.llm.Dedup.exactGroups(docs)
  def dupClusters(docs: DataFrame): DataFrame =
    graft.llm.Dedup.dupClusters(docs)
  def trainValTestSplit(docs: DataFrame): DataFrame =
    graft.llm.Sampling.splitAndSample(docs)
  def similarTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame =
    graft.llm.Similarity.bruteForceTopKNative(embeddings, nQueries, k)
  /** IVF ANN with the nprobe recall/cost knob (x14/x20 demo geometry) */
  def similarTopKIvf(embeddings: DataFrame, centroidIds: Seq[Long],
      nQueries: Int, k: Int, nprobe: Int = 1): DataFrame =
    graft.llm.Similarity.ivfCentroidTopK(embeddings, centroidIds, nQueries,
      k, nprobe)
  def similarTopKQuantized(embeddings: DataFrame, nQueries: Int,
      k: Int): DataFrame =
    graft.llm.Similarity.quantizedTopK(embeddings, nQueries, k)
  /** oracle-exact demo path; [[kmeansClustersAtScale]] is the default
    * for real corpora
    */
  def kmeansClusters(embeddings: DataFrame, initIds: Seq[Long],
      iters: Int = 2): DataFrame =
    graft.llm.Similarity.kmeans(embeddings, initIds, iters)
  def kmeansClustersAtScale(embeddings: DataFrame, initIds: Seq[Long],
      maxIters: Int = 20, tol: Double = 1e-9): DataFrame =
    graft.llm.Similarity.kmeansAtScale(embeddings, initIds, maxIters, tol)
  def tokenStats(docs: DataFrame): DataFrame =
    graft.llm.TextOps.tokenStats(docs)
  def languageId(docs: DataFrame): DataFrame =
    graft.llm.TextOps.langId(docs)
  def qualityScores(docs: DataFrame): DataFrame =
    graft.llm.TextOps.qualityScore(docs)
  def winnowNearDupPairs(docs: DataFrame): DataFrame =
    graft.llm.TextOps.winnowPairs(docs)
  /** lnWeights=true is the production (textbook ln-idf) scoring route */
  def tfidfTopTerms(docs: DataFrame, topK: Int = 5,
      lnWeights: Boolean = false): DataFrame =
    graft.llm.TextOps.tfidfTopTerms(docs, topK, lnWeights)
  def repetitionSignals(docs: DataFrame): DataFrame =
    graft.llm.TextOps.repetitionSignals(docs)
  def bm25(docs: DataFrame, terms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75, lnWeights: Boolean = false): DataFrame =
    graft.llm.TextOps.bm25Odds(docs, terms, k1, b, lnWeights)
  def chunkForTraining(docs: DataFrame, chunkSize: Int = 32,
      stride: Int = 24): DataFrame =
    graft.llm.TextOps.chunkTokens(docs, chunkSize, stride)
  def decontaminate(docs: DataFrame, n: Int = 4,
      evalMod: Long = 50): DataFrame =
    graft.llm.TextOps.decontaminate(docs, n, evalMod)
  def packForTraining(docs: DataFrame, capacity: Int = 256,
      shards: Int = 8): DataFrame =
    graft.llm.TextOps.packSequences(docs, capacity, shards)
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame =
    graft.llm.TextOps.redactPii(docs, textCol)
  def dedupKeepRepresentatives(docs: DataFrame): DataFrame =
    graft.llm.Dedup.keepRepresentatives(docs)
  def resizeImages(media: DataFrame, targetW: Int, targetH: Int): DataFrame =
    graft.llm.Multimodal.resizeImages(media, targetW, targetH).toDF()
  def removeBoilerplateSegments(docs: DataFrame, k: Int = 3,
      minDf: Int = 3): DataFrame =
    graft.llm.TextOps.segmentDedup(docs, k, minDf)
  def duplicatedSpans(docs: DataFrame, k: Int = 5,
      minDf: Int = 2): DataFrame =
    graft.llm.TextOps.dupSpans(docs, k, minDf)
  def bigramLmScores(docs: DataFrame): DataFrame =
    graft.llm.TextOps.bigramLmScore(docs)
  def semDedup(embeddings: DataFrame, initIds: Seq[Long],
      tau: Double = 0.3): DataFrame =
    graft.llm.Similarity.semDedup(embeddings, initIds, tau)
  def videoFrames(media: DataFrame): DataFrame =
    graft.llm.Multimodal.videoFrames(media)
  // ---- perceptual media dedup + hygiene (x80-x91, st22-st23) ---------
  def imagePhash(media: DataFrame): DataFrame =
    graft.llm.Multimodal.imagePhash(media)
  def imageNearDup(media: DataFrame, tau: Int = 7): DataFrame =
    graft.llm.Multimodal.imageNearDup(media, tau)
  /** near-dup search off a stored [[imagePhash]] artifact; wider bands
    * (nBands=4, tau<=3) past ~300k items — BASELINE.md r13 ladders
    */
  def imageNearDupFrom(hashed: DataFrame, tau: Int = 7,
      nBands: Int = 8): DataFrame =
    graft.llm.Multimodal.imageNearDupFrom(hashed, tau, nBands)
  def audioFingerprint(media: DataFrame): DataFrame =
    graft.llm.Multimodal.audioFingerprint(media)
  def audioNearDup(media: DataFrame, tau: Int = 7): DataFrame =
    graft.llm.Multimodal.audioNearDup(media, tau)
  def videoPhash(media: DataFrame): DataFrame =
    graft.llm.Multimodal.videoPhash(media)
  def videoNearDup(media: DataFrame, minSim: Double = 0.5): DataFrame =
    graft.llm.Multimodal.videoNearDup(media, minSim)
  def videoNearDupFrom(frameHashes: DataFrame,
      minSim: Double = 0.5): DataFrame =
    graft.llm.Multimodal.videoNearDupFrom(frameHashes, minSim)
  def mediaDedupKeep(media: DataFrame): DataFrame =
    graft.llm.Multimodal.mediaDedupKeep(media)
  /** the keep gate off the stored `mediaExtractAll` artifact (decode
    * stats plus all three hash columns, one row per file) */
  def mediaDedupKeepFrom(extract: DataFrame): DataFrame =
    graft.llm.Multimodal.mediaDedupKeepFrom(extract)
  def sceneChanges(media: DataFrame): DataFrame =
    graft.llm.Multimodal.sceneChanges(media)
  def mediaQualityGate(media: DataFrame): DataFrame =
    graft.llm.Multimodal.mediaQualityGate(media)
  def pngTextChunks(media: DataFrame): DataFrame =
    graft.llm.Multimodal.pngTextChunks(media)
  def stripTextAudit(media: DataFrame): DataFrame =
    graft.llm.Multimodal.stripTextAudit(media)
  def mediaCurationFunnel(media: DataFrame): DataFrame =
    graft.llm.Multimodal.mediaCurationFunnel(media)
  def streamingMediaPhashGate(mediaDir: String, catalogIndex: DataFrame,
      tau: Int = 7): DataFrame =
    graft.stream.StreamOps.mediaPhashGateStream(spark, mediaDir,
      catalogIndex, tau)
  def streamingMediaQualityGate(mediaDir: String): DataFrame =
    graft.stream.StreamOps.mediaQualityGateStream(spark, mediaDir)
  def capDomains(docs: DataFrame): DataFrame =
    graft.llm.Sampling.domainCap(docs)
  /** bit-identical to capDomains with bounded window partitions */
  def capDomainsAtScale(docs: DataFrame, shards: Int = 16): DataFrame =
    graft.llm.Sampling.domainCapAtScale(docs, shards)
  def fuzzyDecontaminate(docs: DataFrame, evalMod: Long = 10): DataFrame =
    graft.llm.Dedup.fuzzyDecontam(docs, evalMod)
  def heavyHitterAudit(docs: DataFrame, phiDen: Long = 100L): DataFrame =
    graft.llm.Sketches.cmsHeavyHitters(docs, phiDen)
  def dsirImportanceWeights(docs: DataFrame,
      lnWeights: Boolean = false): DataFrame =
    graft.llm.TextOps.dsirWeights(docs, lnWeights = lnWeights)
  def dsirResample(docs: DataFrame): DataFrame =
    graft.llm.Sampling.dsirResample(docs)
  def temperatureResample(docs: DataFrame): DataFrame =
    graft.llm.Sampling.temperatureResample(docs)
  def sourceVocabularyOverlap(docs: DataFrame): DataFrame =
    graft.llm.TextOps.sourceOverlap(docs)
  def incrementalDedup(corpus: DataFrame, batch: DataFrame): DataFrame =
    graft.llm.Dedup.incrementalDedup(corpus, batch)
  def incrementalDedupWithIndex(index: DataFrame, batch: DataFrame): DataFrame =
    graft.llm.Dedup.incrementalDedupWithIndex(index, batch)
  /** shannon=true adds the entropy column (libm ln production route) */
  def tokenDiversity(docs: DataFrame, shannon: Boolean = false): DataFrame =
    graft.llm.TextOps.tokenDiversity(docs, shannon)
  def lshRecallAudit(docs: DataFrame, sampleMod: Long = 20): DataFrame =
    graft.llm.Dedup.lshRecallAudit(docs, sampleMod)
  def corpusDrift(docsA: DataFrame, docsB: DataFrame, topK: Int = 100,
      minCount: Long = 5L): DataFrame =
    graft.llm.TextOps.corpusDrift(docsA, docsB, topK, minCount)
  def embeddingDrift(embeddings: DataFrame, centroidIds: Seq[Long]): DataFrame =
    graft.llm.Similarity.embeddingDrift(embeddings, centroidIds)
  def splitLeakageAudit(docs: DataFrame): DataFrame =
    graft.llm.Dedup.splitLeakage(docs)
  def vocabularyCoverage(docs: DataFrame, topK: Int = 200,
      minCount: Long = 2L): DataFrame =
    graft.llm.TextOps.vocabCoverage(docs, topK, minCount)
  def bpeTrain(docs: DataFrame, nMerges: Int): DataFrame =
    graft.llm.Bpe.bpeTrain(docs, nMerges)
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    graft.llm.Bpe.encode(docs, merges)
  def streamingDsirGate(docsDir: String): DataFrame =
    graft.stream.StreamOps.dsirGate(spark, docsDir)
  def writeZOrdered(df: DataFrame, colA: String, colB: String,
      path: String, nFiles: Int): Unit =
    graft.sources.Sinks.writeZOrdered(df, colA, colB, path, nFiles)

  // ---- streaming (T3-T7) ---------------------------------------------
  def streamingTumblingCounts(eventsDir: String): DataFrame =
    graft.stream.StreamOps.tumblingCounts(spark, eventsDir)
  def streamingSessions(eventsDir: String): DataFrame =
    graft.stream.StreamOps.sessionCounts(spark, eventsDir)
  def streamingClickPurchaseJoin(eventsDir: String): DataFrame =
    graft.stream.StreamOps.clickPurchaseJoin(spark, eventsDir)
  def incrementalHealth(fixtureDir: String): DataFrame =
    graft.stream.IncrementalHealth.run(spark, fixtureDir)
  def knnGraph(embeddings: DataFrame, k: Int = 5): DataFrame =
    graft.llm.Similarity.knnGraph(embeddings, k)
  def knnCommunities(embeddings: DataFrame,
      minCos: Double = 0.3, k: Int = 5): DataFrame =
    graft.llm.Similarity.knnCommunities(embeddings, minCos, k)
  def communityQuality(embeddings: DataFrame,
      minCos: Double = 0.3, k: Int = 5): DataFrame =
    graft.llm.Similarity.communityQuality(embeddings, minCos, k)
  /** re-score a stored partition without a graph/CC rebuild */
  def communityQualityWith(graph: DataFrame,
      communities: DataFrame): DataFrame =
    graft.llm.Similarity.communityQualityWith(graph, communities)
  def assignToCommunities(corpus: DataFrame, communities: DataFrame,
      batch: DataFrame, minCos: Double = 0.3): DataFrame =
    graft.llm.Similarity.assignToCommunities(corpus, communities, batch,
      minCos)
  def classifierQualityScores(docs: DataFrame): DataFrame =
    graft.llm.TextOps.classifierScore(docs)
  def takedownPropagate(docs: DataFrame, forgetMod: Long = 41L): DataFrame =
    graft.llm.Dedup.takedownPropagate(docs, forgetMod)
  def takedownPropagateWithClusters(docs: DataFrame, forget: DataFrame,
      clusters: DataFrame): DataFrame =
    graft.llm.Dedup.takedownPropagateWithClusters(docs, forget, clusters)
  def refreshPipeline(oldDocs: DataFrame, newDocs: DataFrame): DataFrame =
    graft.llm.Pipeline.refreshPipeline(oldDocs, newDocs)
  def epochSchedule(docs: DataFrame): DataFrame =
    graft.llm.Pipeline.epochSchedule(docs)
  def curationFunnel(docs: DataFrame): DataFrame =
    graft.llm.Pipeline.curationFunnel(docs)
  def selectByTokenBudget(docs: DataFrame,
      budgetFrac: Double = graft.llm.Sampling.BudgetFrac): DataFrame =
    graft.llm.Sampling.budgetSelect(docs, budgetFrac)
  def clusterSafeSplit(docs: DataFrame): DataFrame =
    graft.llm.Sampling.clusterSafeSplit(docs)
  def tokenBalancedShards(docs: DataFrame,
      shardTokens: Long = graft.llm.Sampling.ShardTokens): DataFrame =
    graft.llm.Sampling.tokenShards(docs, shardTokens)
  def streamingCleanDocs(docsDir: String): DataFrame =
    graft.stream.StreamOps.cleanDocs(spark, docsDir)
  def streamingDecontamGate(docsDir: String): DataFrame =
    graft.stream.StreamOps.decontamGate(spark, docsDir)
  /** streaming decontam off a stored band-index artifact (st19) */
  def streamingDecontamGateWith(docsDir: String,
      index: DataFrame): DataFrame =
    graft.stream.StreamOps.decontamGateStreamWith(spark, docsDir, index)
  /** streaming takedown off a stored cluster assignment (st20) */
  def streamingTakedownClusterGateWith(docsDir: String,
      clusters: DataFrame, forgetMod: Long = 41L): DataFrame =
    graft.stream.StreamOps.takedownClusterGateStreamWith(spark, docsDir,
      clusters, forgetMod)
  /** the incremental graph-maintenance cycle (x78): diff → assign →
    * re-score, one refresh query
    */
  def graphRefreshCycle(oldDocs: DataFrame, newDocs: DataFrame,
      embeddings: DataFrame, minCos: Double = 0.3, k: Int = 5): DataFrame =
    graft.llm.Similarity.graphRefreshCycle(oldDocs, newDocs, embeddings,
      minCos, k)
  /** the refresh cycle off stored graph + community artifacts */
  def graphRefreshCycleWith(corpus: DataFrame, batch: DataFrame,
      graph: DataFrame, communities: DataFrame,
      minCos: Double = 0.3): DataFrame =
    graft.llm.Similarity.graphRefreshCycleWith(corpus, batch, graph,
      communities, minCos)

  /** exact quantile_cont without a global sort (q36) */
  def exactQuantiles(df: DataFrame, valueCol: String,
      probs: Seq[Double]): DataFrame =
    graft.rel.Scale.exactQuantiles(df, valueCol, probs)
  /** per-group exact quantile_cont, one shared job per level (q37) */
  def exactQuantilesByGroup(df: DataFrame, groupCol: String,
      valueCol: String, probs: Seq[Double]): DataFrame =
    graft.rel.Scale.exactQuantilesByGroup(df, groupCol, valueCol, probs)

  /** Cache contract (r11 advice): the dedup/graph/budget operators
    * persist intermediates at MEMORY_AND_DISK for intra-query branch
    * reuse through [[graft.core.CacheScope.keep]]. A caller that opens
    * a [[graft.core.CacheScope]] around a pipeline invocation and
    * closes it once the returned frames are materialized releases
    * exactly that invocation's blocks. Without a scope the blocks stay
    * registered until this scope-less fallback drops the whole session
    * cache; it also reclaims streaming/CC parquet spills via
    * [[graft.stream.StreamOps.cleanupSpillDirs]] under the same "frames
    * materialized first" rule.
    */
  def releaseCaches(): Unit = {
    spark.catalog.clearCache()
    graft.stream.StreamOps.cleanupSpillDirs()
  }
}

object Engine {
  /** engine over the golden fixtures (the offline catalog) */
  def fixture(spark: SparkSession): Engine =
    new Engine(spark, graft.meta.FixtureCatalog.default)

  /** engine over on-disk Iceberg REST payloads (S1 client, no server) */
  def restPayload(spark: SparkSession, dir: String): Engine =
    new Engine(spark, new graft.meta.RestPayloadCatalog(dir))

  /** engine over LIVE Iceberg REST catalogs — one HTTP-backed
    * connection per `rest`-typed registry entry (S1 end-to-end)
    */
  def restHttp(spark: SparkSession,
      registry: Seq[graft.meta.Model.ConfigFx]): Engine =
    new Engine(spark, new graft.meta.RestHttpCatalog(registry))
}
