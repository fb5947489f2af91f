package graft.stream

import graft.SparkSpec

/** st08 — stateless in-flight cleaning: the streaming run over the
  * documents corpus must equal the batch redaction over the same rows
  * (same injection, same regexes), and no raw PII may survive.
  */
class StreamCleanSpec extends SparkSpec {

  test("cleanDocs equals the batch redaction and strips every injected PII") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamOps.cleanDocs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .sortBy(_._1)
    val batch = graft.llm.TextOps.redactPii(
        graft.llm.TextOps.injectDemoPii(
          graft.core.Tables.load(spark, dir, "documents"))).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .sortBy(_._1)
    assert(streamed.length == batch.length && streamed.length > 0)
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.forall { case (_, _, _, red) =>
      !red.contains("@example.com") && !red.contains("+1-555-") })
    assert(streamed.exists(_._2 > 0) && streamed.exists(_._3 > 0),
      "the injection must exercise both patterns")
  }

  test("dsirGate: the batch-fit stream-score rows equal batch dsirWeights") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamOps.dsirGate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    val batch = graft.llm.TextOps.dsirWeights(
        graft.core.Tables.load(spark, dir, "documents")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(streamed.length == batch.length && streamed.nonEmpty)
    // bit-identical, including the sorted double fold
    assert(streamed.toSeq == batch.toSeq)
    // the target slice never reaches the stream output
    assert(streamed.forall(_._1 % 10 != 0))
  }

  test("qualityGateStream equals the batch x26 gate row-for-row") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getDouble(3), r.getDouble(4), r.getString(5), r.getBoolean(6)))
      .sortBy(_._1).toSeq
    val streamed = rows(StreamOps.qualityGateStream(spark, dir))
    val batch = rows(graft.llm.TextOps.qualityGate(
      graft.core.Tables.load(spark, dir, "documents")))
    assert(streamed.nonEmpty && streamed == batch)
    // the gate must actually discriminate on this corpus
    assert(streamed.exists(_._7) && streamed.exists(!_._7))
  }

  test("bloomGateStream maybe_dup equals the batch bloomPreGate per doc") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.col
    val streamed = StreamOps.bloomGateStream(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val d = graft.core.Tables.load(spark, dir, "documents")
    val batch = graft.llm.Dedup.bloomPreGate(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0)).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("driftMonitorStream equals the batch head-vocab chi-square twin") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1).toSeq
    val streamed = rows(StreamOps.driftMonitorStream(spark, dir, headK = 8))
    // batch twin: same head fit, same counts, same fixed-order doubles
    val d = graft.core.Tables.load(spark, dir, "documents")
    val head = graft.llm.TextOps.tokens(d.filter(col("doc_id") % 2 === 0))
      .groupBy(col("tok")).agg(count(lit(1)).as("c_ref"))
      .orderBy(col("c_ref").desc, col("tok").asc).limit(8)
      .as[(String, Long)].collect()
    val cNew = graft.llm.TextOps.tokens(d.filter(col("doc_id") % 2 === 1))
      .groupBy(col("tok")).agg(count(lit(1)).as("c_new"))
      .as[(String, Long)].collect().toMap
    val merged = head.map { case (t, cr) => (t, cr, cNew.getOrElse(t, 0L)) }
    val (nRef, nNew) = (merged.map(_._2).sum, merged.map(_._3).sum)
    val batch = merged.map { case (tok, cr, cn) =>
      val t = (cr + cn).toDouble
      val eR = t * nRef.toDouble / (nRef + nNew).toDouble
      val eN = t * nNew.toDouble / (nRef + nNew).toDouble
      val (dR, dN) = (cr.toDouble - eR, cn.toDouble - eN)
      (tok, cr, cn, dR * dR / eR + dN * dN / eN)
    }.sortBy(_._1).toSeq
    assert(streamed.size == 8 && streamed == batch)
    // the state bound IS the head size: never more rows than headK
    assert(streamed.map(_._1).distinct.size == streamed.size)
  }

  test("ingestDedupGate distinct doc_ids equal x50's dup_vs_corpus set") {
    val dir = "/root/testdata/sf0.001"
    val streamedDocs = StreamOps.ingestDedupGate(spark, dir).collect()
      .map(_.getLong(0)).toSet
    val d = graft.core.Tables.load(spark, dir, "documents")
    import org.apache.spark.sql.functions.col
    val batchDup = graft.llm.Dedup.incrementalDedup(
        d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0))
      .filter(col("dup_vs_corpus")).collect().map(_.getLong(0)).toSet
    assert(streamedDocs == batchDup && streamedDocs.nonEmpty)
  }
}
