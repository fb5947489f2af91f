package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec
import graft.llm.{Dedup, Multimodal, Similarity}

/** Every persisting library entry point, run once inside a CacheScope,
  * leaves no cached block behind once the scope closes; and the scope
  * itself nests, survives a throwing body, releases early on request, and
  * is a plain persist and unpersist when none is open. The scope is the
  * only owner: no other main source persists or unpersists.
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

  /** runs `body` on a new thread, where no scope is open */
  private def onFreshThread[T](body: => T): T = {
    var out: Try[T] = null
    val t = new Thread(() => out = Try(body))
    t.start()
    t.join()
    out.get
  }

  /** builds and materializes `op` inside one scope: the call must add
    * live persists before close and leave none of them after; returns the
    * row count
    */
  private def releasedAfterClose(op: => DataFrame): Long = {
    val before = persisted.keySet.toSet
    val n = Using.resource(CacheScope.open()) { _ =>
      val n = op.collect().length.toLong
      assert(persisted.size > before.size,
        "the call should have live intra-query persists before close")
      n
    }
    assert(persisted.keySet == before,
      s"close() must release every cache the call registered: $persisted")
    n
  }

  test("communityQuality releases its persists; its result recomputes after close") {
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

  test("the index handles are released by the open scope") {
    assert(releasedAfterClose(Similarity.buildVecBandIndex(embs, nBands = 4,
      bitsPerBand = 8, dim = 4).buckets) > 0)
    val cents = embs.filter(col("vec_id").isin(0L, 2L))
      .select(col("vec_id").as("cid"),
        Similarity.asDouble(col("embedding")).as("cv"))
    assert(releasedAfterClose(
      Similarity.buildSemIndex(embs, cents).assigned) == 6)
    val ids = Seq(0L, 2L, 4L)
    assert(releasedAfterClose(
      Similarity.buildPqIndex(embs, ids, nSub = 2, dim = 4).codes) == 6)
    val dir = Files.createTempDirectory("pq_scope").toString
    Using.resource(CacheScope.open()) { _ =>
      Similarity.savePqIndex(
        Similarity.buildPqIndex(embs, ids, nSub = 2, dim = 4), dir)
    }
    assert(releasedAfterClose(Similarity.loadPqIndex(spark, dir).codes) == 6)
  }

  test("keep with no scope open is a plain persist") {
    val df = spark.range(0, 17).toDF("x")
    onFreshThread(CacheScope.keep(df).count())
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(persisted.nonEmpty)
    // and release is a plain unpersist
    onFreshThread(CacheScope.release(df))
    assert(df.storageLevel == StorageLevel.NONE)
    assert(persisted.isEmpty)
  }

  test("release inside a scope unpersists at once; close leaves the frame alone") {
    val df = spark.range(0, 31).toDF("x")
    Using.resource(CacheScope.open()) { _ =>
      CacheScope.keep(df).count()
      CacheScope.release(df)
      assert(df.storageLevel == StorageLevel.NONE)
      assert(persisted.isEmpty)
      // cached again by a caller with no scope: no longer this scope's
      onFreshThread(CacheScope.keep(df).count())
    }
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    onFreshThread(CacheScope.release(df))
    assert(persisted.isEmpty)
  }

  test("release never drops a frame an outer scope kept") {
    val df = spark.range(0, 37).toDF("x")
    Using.resource(CacheScope.open()) { _ =>
      CacheScope.keep(df).count()
      Using.resource(CacheScope.open()) { _ =>
        CacheScope.keep(df)
        CacheScope.release(df)
        assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
      }
      assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    }
    assert(df.storageLevel == StorageLevel.NONE)
    assert(persisted.isEmpty)
  }

  test("closing an inner scope keeps the outer scope's frames") {
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
    val df = spark.range(0, 29).toDF("x")
    intercept[IllegalStateException] {
      Using.resource(CacheScope.open()) { _ =>
        CacheScope.keep(df).count()
        throw new IllegalStateException("boom")
      }
    }
    assert(df.storageLevel == StorageLevel.NONE)
    assert(persisted.isEmpty)
    // the thrown-out scope is no longer current: this keep goes to the
    // scope the test runs in, which releases it
    CacheScope.keep(df)
    Using.resource(CacheScope.open())(_ => ())
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
  }

  test("no main source but CacheScope and Sweep persists or unpersists") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val owners = Set("core/CacheScope.scala", "Sweep.scala")
    val call = raw"\.(persist|unpersist)\(|\.cache\(\)".r
    val hits = Using.resource(Files.walk(root)) { paths =>
      paths.iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .filterNot(p => owners.exists(o => p.endsWith(Path.of(o))))
        .toSeq.flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (l, i) if call.findFirstIn(l).nonEmpty => s"$p:${i + 1}: ${l.trim}"
          }
        }
    }
    assert(hits.isEmpty, "; persist through CacheScope.keep and release")
  }
}
