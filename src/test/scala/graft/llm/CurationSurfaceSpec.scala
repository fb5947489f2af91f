package graft.llm

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.core.Tables

/** one call per curation entry point on the sf0.001 corpus and the media
  * fixtures: every operator plans, runs and keeps its row-count contract
  */
class CurationSurfaceSpec extends SparkSpec {

  private def load(table: String) =
    Tables.load(spark, "/root/testdata/sf0.001", table)

  test("pipeline extensions through graft.llm") {
    val docs = load("documents")
    val embs = load("embeddings")
    assert(Dedup.exactGroups(docs).count() == 500)
    assert(TextOps.tokenStats(docs).count() == 500)
    assert(Similarity.bruteForceTopKNative(embs, nQueries = 2, k = 3)
      .count() == 6)
    assert(Sampling.temperatureResample(docs).count() == 500)
    assert(TextOps.vocabCoverage(docs, topK = 10).count() == 10)
    val merges = Bpe.bpeTrain(docs, nMerges = 2).collect()
    assert(merges.length == 2)
    val pairs = merges.sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
    assert(Bpe.encode(docs, pairs).count() == 500)
  }

  test("graph + budget curation surface through graft.llm") {
    val docs = load("documents")
    val embs = load("embeddings")
    assert(Similarity.knnGraph(embs).count() > 0)
    val comms = Similarity.knnCommunities(embs)
    assert(comms.count() == embs.count())
    assert(Similarity.communityQuality(embs).count() > 0)
    val corpus = embs.filter(col("vec_id") % 10 =!= 0)
    assert(Similarity.assignToCommunities(corpus,
      Similarity.knnCommunities(corpus).select("vec_id", "community_id"),
      embs.filter(col("vec_id") % 10 === 0)).count() == 50)
    assert(Sampling.budgetSelect(docs).count() == 500)
    assert(Sampling.clusterSafeSplit(docs).count() == 500)
    assert(Sampling.tokenShards(docs).count() == 500)
    assert(Pipeline.epochSchedule(docs).count() > 0)
    assert(Dedup.takedownPropagate(docs).count() > 0)
  }

  test("perceptual media surface through graft.llm") {
    val s = spark
    import s.implicits._
    val media = Multimodal.mediaRows.toDS().toDF()
    val nMedia = Multimodal.mediaRows.size.toLong
    assert(Multimodal.imagePhash(media).count() == nMedia)
    assert(Multimodal.imageNearDup(media).count() > 0)
    assert(Multimodal.audioNearDup(media).count() > 0)
    assert(Multimodal.videoNearDup(media).count() > 0)
    assert(Multimodal.videoPhash(media).count() > 0)
    assert(Multimodal.mediaDedupKeep(media).count() == nMedia)
    assert(Multimodal.sceneChanges(media).count() > 0)
    assert(Multimodal.mediaQualityGate(media).count() == nMedia)
    assert(Multimodal.pngTextChunks(media).count() == 3)
    assert(Multimodal.stripTextAudit(media).count() == nMedia)
    assert(Multimodal.mediaCurationFunnel(media).count() == 6)
  }
}
