package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.Engine
import graft.llm.{Dedup, Multimodal, Pipeline}
import graft.meta.RestHttpCatalog
import graft.meta.Model.ConfigFx

/** Each workload's check passes on the engine's real output and fails
  * when one output row is dropped (the mutation check).
  */
class CheckSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.builder("perfbench-spec", "2").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("catalog_explore: the listing and each op check catch a dropped row") {
    val gen = CatalogGen.generate(21, nTables = 80, nNamespaces = 5)
    val server = new CatalogServer(CatalogGen.render(gen))
    try {
      val cat = new RestHttpCatalog(Seq(ConfigFx(gen.name, "rest",
        Map("uri" -> server.uri))))
      val rows = cat.listing(spark).collect()
      val e = new Engine(spark, cat)
      val snaps = e.snapshots.groupBy("namespace", "name").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(CatalogExpect.checkListing(gen, rows).isEmpty)
      assert(CatalogExpect.checkListing(gen, rows.tail).isDefined)
      assert(CatalogExpect.checkSnapshots(gen, snaps).isEmpty)
      assert(CatalogExpect.checkSnapshots(gen, snaps.tail).isDefined)

      val r = new SplittableRandom(1)
      // the kinds whose output has a row for every matching table; the
      // alert and recommendation checks only bound which tables appear
      Seq("search", "tree", "snapshot_filter", "schema_evolution",
        "partition_fields", "time_travel", "health_score", "sub_scores",
        "trends").foreach { k =>
        val o = CatOp.make(k, gen, r)
        val out = CatOp.build(o, gen.name, e).collect()
        assert(out.nonEmpty, k)
        assert(CatalogExpect.checkOp(gen, o, out).isEmpty, k)
        val mutated = if (k == "tree") Array(
          org.apache.spark.sql.Row.fromSeq(out.head.toSeq.updated(3,
            out.head.getLong(3) + 1)))
          else out.tail
        val withSchema = mutated.map(m => new org.apache.spark.sql.catalyst
          .expressions.GenericRowWithSchema(m.toSeq.toArray, out.head.schema)
          : org.apache.spark.sql.Row)
        assert(CatalogExpect.checkOp(gen, o, withSchema).isDefined, k)
      }
    } finally server.stop()
  }

  test("corpus_curation: funnel and dedup keep checks catch a dropped row") {
    import spark.implicits._
    val corpus = CorpusGen.generate(4, 800)
    val docs = spark.createDataFrame(corpus.docs)
    val funnel = Pipeline.curationFunnel(docs).orderBy("stage_id").collect()
    assert(CorpusCuration.checkFunnel(800, funnel).isEmpty)
    assert(CorpusCuration.checkFunnel(800, funnel.tail).isDefined)
    val kept = Dedup.dupClusterLabels(docs)
      .filter($"doc_id" === $"cluster_id").select("doc_id").as[Long].collect()
    assert(CorpusCuration.checkKeep(corpus, kept).isEmpty)
    val base = corpus.exactGroups.head.head
    assert(CorpusCuration.checkKeep(corpus, kept.filter(_ != base)).isDefined)
    spark.catalog.clearCache()
  }

  test("media_funnel: funnel and keep checks catch a dropped row") {
    import spark.implicits._
    val set = MediaGen.generate(6, 20)
    val media = spark.createDataFrame(set.files)
    val funnel = Multimodal.mediaCurationFunnel(media).collect()
    assert(MediaFunnel.checkFunnel(set, funnel).isEmpty)
    assert(MediaFunnel.checkFunnel(set, funnel.filterNot(r =>
      r.getAs[String]("stage") == "quality" &&
        r.getAs[String]("kind") == "image")).isDefined)
    val keep = Multimodal.mediaDedupKeep(media)
      .select("media_id", "cluster_id", "keep")
      .as[(Long, Long, Boolean)].collect()
    assert(MediaFunnel.checkKeep(set, keep).isEmpty)
    assert(MediaFunnel.checkKeep(set, keep.tail).isDefined)
    spark.catalog.clearCache()
  }

  test("media_funnel: the hamming join's rows come from the executed plan") {
    // at 200 images some distinct image hashes share a band, and a few
    // of those lie within the radius
    val set = MediaGen.generate(1, Main.MediaAttrImages)
    val x = Multimodal.mediaExtractAll(spark.createDataFrame(set.files))
    val edges = Multimodal.hammingCcEdges(x.select("media_id", "kind",
      "phash64"), "phash64", tau = 7, nBands = 8)
    edges.collect()
    val (cand, verified) = HammingRows.of(edges.queryExecution.executedPlan)
    assert(verified > 0 && cand > verified)
    spark.catalog.clearCache()
  }
}
