package graft.core

import scala.util.Using

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec
import graft.llm.{Dedup, Multimodal, Similarity}

/** Every persisting library entry point, run once inside a CacheScope,
  * leaves no cached block behind once the scope closes; and the scope
  * itself nests, survives a throwing body, and is a plain persist when
  * none is open.
  */
class CacheScopeSpec extends SparkSpec {

  private def persisted = spark.sparkContext.getPersistentRDDs

  private def embDf(rows: Seq[(Long, Seq[Float])]) = {
    val s = spark
    import s.implicits._
    rows.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
  }

  private lazy val embs = embDf(Seq(
    0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(0.99f, 0.14f, 0f, 0f),
    2L -> Seq(0f, 1f, 0f, 0f), 3L -> Seq(0f, 0.99f, 0.14f, 0f),
    4L -> Seq(0f, 0f, 1f, 0f), 5L -> Seq(0f, 0f, 0f, 1f)))

  private def sf(table: String) =
    Tables.load(spark, "/root/testdata/sf0.001", table)

  private def media = {
    val s = spark
    import s.implicits._
    Multimodal.mediaRows.toDS().toDF()
  }

  /** builds and materializes `op` inside one scope: the call must have
    * live persists before close and none after; returns the row count
    */
  private def releasedAfterClose(op: => DataFrame): Long = {
    spark.catalog.clearCache()
    assert(persisted.isEmpty)
    val n = Using.resource(CacheScope.open()) { _ =>
      val n = op.collect().length.toLong
      assert(persisted.nonEmpty,
        "the call should have live intra-query persists before close")
      n
    }
    assert(persisted.isEmpty,
      s"close() must release every cache the call registered: $persisted")
    n
  }

  test("communityQuality releases its persists; its result recomputes after close") {
    spark.catalog.clearCache()
    val out = Using.resource(CacheScope.open()) { _ =>
      val out = Similarity.communityQuality(embs, minCos = 0.3, k = 3,
        nBands = 4, bitsPerBand = 8, dim = 4)
      assert(out.collect().nonEmpty)
      assert(persisted.nonEmpty)
      out
    }
    assert(persisted.isEmpty)
    // lineage recomputes once the cache is gone, and caches nothing new
    assert(out.count() >= 1)
    assert(persisted.isEmpty)
  }

  test("communityQualityWith releases its persists") {
    val g = Similarity.knnGraph(embs, k = 3, nBands = 4, bitsPerBand = 8,
      dim = 4)
    val graph = g.select(least(col("src"), col("dst")).as("doc_a"),
      greatest(col("src"), col("dst")).as("doc_b")).distinct()
    assert(releasedAfterClose {
      val comms = Similarity.knnCommunities(embs, minCos = 0.3, k = 3,
        nBands = 4, bitsPerBand = 8, dim = 4)
      Similarity.communityQualityWith(graph,
        comms.select(col("vec_id"), col("community_id")))
    } >= 1)
  }

  private def refreshInputs = {
    val docs = sf("documents")
    val newDocs = docs.filter(col("doc_id") % 7 =!= 3)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, upper(col("text")))
          .otherwise(col("text")))
    (docs, newDocs, sf("embeddings"))
  }

  test("graphRefreshCycle releases its persists") {
    val (docs, newDocs, e) = refreshInputs
    assert(releasedAfterClose(Similarity.graphRefreshCycle(docs, newDocs,
      e, minCos = 0.3, k = 5, nBands = 4, bitsPerBand = 8)) >= 1)
  }

  test("graphRefreshCycleWith releases its persists") {
    val (docs, newDocs, e) = refreshInputs
    val changed = Dedup.snapshotDiff(docs, newDocs)
      .filter(col("status") === "changed")
      .select(col("doc_id").as("vec_id"))
    val corpus = e.join(changed, Seq("vec_id"), "left_anti")
    val batch = e.join(changed, Seq("vec_id"), "left_semi")
    val graph = Similarity.knnGraph(corpus, k = 5, nBands = 4,
        bitsPerBand = 8)
      .select(least(col("src"), col("dst")).as("doc_a"),
        greatest(col("src"), col("dst")).as("doc_b"))
      .distinct()
    val comms = Similarity.knnCommunities(corpus, minCos = 0.3, k = 5,
        nBands = 4, bitsPerBand = 8)
      .select(col("vec_id"), col("community_id"))
    assert(releasedAfterClose(Similarity.graphRefreshCycleWith(corpus,
      batch, graph, comms, minCos = 0.3, nBands = 4, bitsPerBand = 8)) >= 1)
  }

  private lazy val batch = embDf(Seq(
    10L -> Seq(0.999f, 0.001f, 0f, 0f), 11L -> Seq(0f, 0f, 0.7f, 0.7f)))

  test("assignToCommunities releases the probe's band rows") {
    val comms = Similarity.knnCommunities(embs, minCos = 0.3, k = 3,
      nBands = 4, bitsPerBand = 8, dim = 4)
    assert(releasedAfterClose(Similarity.assignToCommunities(embs, comms,
      batch, minCos = 0.9, nBands = 4, bitsPerBand = 8, dim = 4)) == 2)
  }

  test("embIngestGate releases the probe's band rows") {
    releasedAfterClose(Similarity.embIngestGate(embs, batch, minCos = 0.9,
      nBands = 4, bitsPerBand = 8, dim = 4))
  }

  test("one-shot quantizedTopK and semDedup release their dropped index") {
    assert(releasedAfterClose(
      Similarity.quantizedTopK(embs, nQueries = 3, k = 5)) > 0)
    assert(releasedAfterClose(
      Similarity.semDedup(embs, initIds = Seq(0L, 2L), tau = 0.9)) > 0)
  }

  test("media dedup keep and the curation funnels release their persists") {
    val n = Multimodal.mediaRows.size.toLong
    assert(releasedAfterClose(Multimodal.mediaDedupKeep(media)) == n)
    assert(releasedAfterClose(Multimodal.mediaCurationFunnel(media)) > 0)
    assert(releasedAfterClose(Multimodal.mediaCurationFunnelAuto(media)) > 0)
  }

  test("hammingCcEdges releases its reps table") {
    val s = spark
    import s.implicits._
    val hA = 0x0123456789abcdefL
    val rows = (0L until 5L).map(i => (i, hA)) ++
      (10L until 14L).map(i => (i, hA ^ 0x3L)) ++ Seq((30L, 0xffL))
    assert(releasedAfterClose(Multimodal.hammingCcEdges(
      rows.toDF("media_id", "phash64"), "phash64", 7, 8, 2000)) > 0)
  }

  test("keep with no scope open is a plain persist") {
    spark.catalog.clearCache()
    val df = CacheScope.keep(spark.range(0, 17).toDF("x"))
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    df.count()
    assert(persisted.nonEmpty)
    spark.catalog.clearCache()
    assert(persisted.isEmpty)
  }

  test("closing an inner scope keeps the outer scope's frames") {
    spark.catalog.clearCache()
    val a = spark.range(0, 19).toDF("x")
    val b = spark.range(0, 23).toDF("x")
    Using.resource(CacheScope.open()) { _ =>
      CacheScope.keep(a).count()
      Using.resource(CacheScope.open()) { _ =>
        CacheScope.keep(b).count()
        // a plan the outer scope already cached stays the outer's
        CacheScope.keep(a).count()
      }
      assert(b.storageLevel == StorageLevel.NONE)
      assert(a.storageLevel == StorageLevel.MEMORY_AND_DISK)
      // the outer scope is current again
      CacheScope.keep(b).count()
    }
    assert(a.storageLevel == StorageLevel.NONE)
    assert(b.storageLevel == StorageLevel.NONE)
    assert(persisted.isEmpty)
  }

  test("a body that throws still releases, and the scope closes") {
    spark.catalog.clearCache()
    val df = spark.range(0, 29).toDF("x")
    intercept[IllegalStateException] {
      Using.resource(CacheScope.open()) { _ =>
        CacheScope.keep(df).count()
        throw new IllegalStateException("boom")
      }
    }
    assert(df.storageLevel == StorageLevel.NONE)
    assert(persisted.isEmpty)
    // no scope is left open on this thread
    CacheScope.keep(df)
    Using.resource(CacheScope.open())(_ => ())
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    spark.catalog.clearCache()
  }
}
