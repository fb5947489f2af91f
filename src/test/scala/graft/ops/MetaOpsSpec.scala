package graft.ops

import graft.SparkSpec
import graft.meta.FixtureCatalog

class MetaOpsSpec extends SparkSpec {

  private lazy val cat = FixtureCatalog.default

  test("schema-evolution pivot: presence matrix with min-schema labels") {
    val m = MetaOps.schemaEvolution(cat.schemaVersions(spark),
      "c_glue", "ml", "training_runs").collect()
      .map(r => r.getAs[Int]("field_id") ->
        (r.getAs[String]("field_name"), r.getAs[String]("s1"),
          r.getAs[String]("s2"), r.getAs[String]("s3"))).toMap
    assert(m(1) == (("id", "long REQ", "long REQ", "long REQ")))
    assert(m(2) == (("name", "string", "string", null))) // dropped in v3
    assert(m(3) == (("price", "decimal(10, 2)", "double", "double"))) // retyped
    assert(m(4) == (("tags", null, "list<string>", "list<string>")))
    assert(m(5) == (("meta", null, null, "struct")))
  }

  test("partition resolve falls back to 'Field {id}' on missing source") {
    val rows = MetaOps.partitionResolve(cat.partitionSpecs(spark),
      cat.schemaVersions(spark)).collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Int]("source_id")) ->
        r.getAs[String]("source_field")).toMap
    assert(rows(("features", 99)) == "Field 99")
    assert(rows(("features", 7)) == "label")
    assert(rows(("orders_hot", 2)) == "o_date")
  }

  test("search matches full_name OR name OR namespace, top-10") {
    val hits = MetaOps.searchTables(cat.listing(spark), "orders").collect()
      .map(_.getAs[String]("full_name")).toSeq
    assert(hits == Seq("sales.orders_cold", "sales.orders_hot"))
    val nsHit = MetaOps.searchTables(cat.listing(spark), "tmp").collect()
      .map(_.getAs[String]("full_name")).toSet
    assert(nsHit == Set("tmp.scratch", "tmp.export_job"))
  }

  private def treeCounts(listing: org.apache.spark.sql.DataFrame,
      q: String): (Long, Long, Long) = {
    val Array(r) = MetaOps.treeFilterCountsMulti(listing, Seq(q)).collect()
    (r.getAs[Long]("n_catalogs"), r.getAs[Long]("n_namespaces"),
      r.getAs[Long]("n_tables"))
  }

  test("tree filter counts: namespace-only and catalog-only matches") {
    def counts(q: String) = treeCounts(cat.listing(spark), q)
    assert(counts("ml") == ((1L, 1L, 0L))) // ns match, no table named *ml*
    assert(counts("train") == ((1L, 1L, 1L)))
    assert(counts("glue") == ((1L, 0L, 0L))) // catalog-only
    assert(counts("zzz") == ((0L, 0L, 0L)))
  }

  test("tree filter counts over an empty listing: one row of zeros") {
    assert(treeCounts(cat.listing(spark).limit(0), "ml") == ((0L, 0L, 0L)))
  }

  test("time travel picks the latest snapshot at-or-before the pin, tags current") {
    val asOf3d = graft.meta.Model.AsOfMs - 3L * 86400000L
    val rows = MetaOps.timeTravel(cat.snapshots(spark), cat.tableMeta(spark),
      asOf3d).collect()
      .map(r => r.getAs[String]("name") ->
        (r.getAs[Long]("snapshot_id"), r.getAs[Boolean]("is_current"))).toMap
    assert(rows("training_runs") == ((5000L, false))) // -3d inclusive
    assert(!rows.contains("scratch")) // no history
    // orders_cold last wrote 8 days ago, so its pinned snapshot IS current
    assert(rows("orders_cold") == ((2009L, true)))
    assert(rows("orders_hot")._2 == false)
  }
}

class RelSpec extends SparkSpec {

  test("approx-percentile scale path brackets the exact interpolation") {
    val dir = "/root/testdata/sf0.001"
    val exact = graft.SparkEntry.queries("q13_percentiles")(spark, dir)
      .collect().map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("p25"), r.getAs[Double]("p50"),
          r.getAs[Double]("p75"))).toMap
    val approx = graft.rel.RelQueries.percentilesApprox(spark, dir)
      .collect().map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("p25"), r.getAs[Double]("p50"),
          r.getAs[Double]("p75"))).toMap
    exact.foreach { case (k, (e25, e50, e75)) =>
      val (a25, a50, a75) = approx(k)
      assert(math.abs(a25 - e25) / e25 < 0.02)
      assert(math.abs(a50 - e50) / e50 < 0.02)
      assert(math.abs(a75 - e75) / e75 < 0.02)
    }
  }
}
