package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler.SparkListenerEvent
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

class QueryMetricsSpec extends SparkSpec {

  /** the run's totals equal what the status tracker lists for its job tag;
    * the tracker is fed by its own listener-bus queue: read it once it has
    * caught up */
  private def assertMatchesTracker(r: QueryMetrics.Run): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val jobIds = r.jobs.map(_.id).toSet
    eventually(timeout(10.seconds)) {
      assert(tracker.getJobIdsForTag("qm:" + r.group).toSet == jobIds, r.group)
      // a later AQE job lists the earlier job's shuffle under a new,
      // skipped stage id: only stages that ran tasks are counted
      val ran = jobIds.flatMap(j => tracker.getJobInfo(j).map(_.stageIds().toSeq)
        .getOrElse(Seq.empty)).toSeq.flatMap(tracker.getStageInfo)
        .filter(_.numCompletedTasks > 0)
      assert(r.totals.jobs == jobIds.size, r.group)
      assert(r.totals.stages == ran.size, r.group)
      assert(r.totals.tasks == ran.map(_.numCompletedTasks).sum, r.group)
    }
    assert(r.jobs.map(_.totals.stages).sum == r.totals.stages, r.group)
    assert(r.complete && r.totals.tasks > 0 && r.totals.cpuNs > 0, r.group)
  }

  test("attributes jobs, stages and tasks to measured groups; other work is unmapped") {
    val sc = spark.sparkContext
    val tracker = sc.statusTracker
    val m = new QueryMetrics
    sc.addSparkListener(m)
    try {
      val before = tracker.getJobIdsForGroup(null).toSet
      spark.range(0, 100, 1, 2).collect() // outside any group
      val outside = eventually(timeout(10.seconds)) {
        val ids = tracker.getJobIdsForGroup(null).toSet -- before
        assert(ids.nonEmpty); ids
      }
      val runs = Seq(
        m.measure(sc, "qm-a")(spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k")
          .groupBy("k").count().collect()),
        m.measure(sc, "qm-b")(spark.range(0, 100, 1, 3).selectExpr("sum(id)").collect()))
      // events arrive in order: the outside action's events were seen
      // before either group's fence
      assert(m.unmapped >= 2, "one stage and at least one task, charged to nobody")
      runs.foreach(assertMatchesTracker)
      runs.foreach(r => assert(r.jobs.map(_.id).toSet.intersect(outside).isEmpty, r.group))
    } finally sc.removeSparkListener(m)
  }

  test("a lagging listener bus cannot cut a run of several actions short") {
    val sc = spark.sparkContext
    // shares the queue and runs first on every event: it holds the queue
    // until the body has returned, then lets events through slowly, so
    // the end of each action is seen while the waiter is already waiting
    val bodyDone = new CountDownLatch(1)
    val slow = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit = {
        bodyDone.await(30, TimeUnit.SECONDS)
        Thread.sleep(20)
      }
    }
    val m = new QueryMetrics
    sc.addSparkListener(slow)
    sc.addSparkListener(m)
    try {
      val r = m.measure(sc, "qm-lag") {
        spark.range(0, 100, 1, 4).collect()
        spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        spark.range(0, 100, 1, 2).selectExpr("sum(id)").collect()
        bodyDone.countDown()
      }
      assert(r.totals.jobs >= 3)
      assertMatchesTracker(r)
    } finally {
      bodyDone.countDown()
      sc.removeSparkListener(m)
      sc.removeSparkListener(slow)
    }
  }

  test("measure times the body under its group and reports completion") {
    val sc = spark.sparkContext
    val m = new QueryMetrics
    sc.addSparkListener(m)
    try {
      val r = m.measure(sc, "qm-measure")(spark.range(0, 50, 1, 2).collect())
      assert(r.complete && r.wallS > 0 && r.group.startsWith("qm-measure#"))
      assert(r.totals.jobs >= 1 && r.totals.tasks >= 2)
      assert(sc.getJobTags().isEmpty)
    } finally sc.removeSparkListener(m)
  }

  test("a run that throws does not leak into the next run of its label") {
    val sc = spark.sparkContext
    val m = new QueryMetrics
    sc.addSparkListener(m)
    try {
      intercept[Exception](m.measure(sc, "qm-fail") {
        spark.range(0, 10, 1, 2).selectExpr("raise_error('boom')").collect()
      })
      val r = m.measure(sc, "qm-fail")(spark.range(0, 10, 1, 2).collect())
      assert(r.complete && r.totals.jobs == 1 && r.totals.stages == 1)
    } finally sc.removeSparkListener(m)
  }

  test("measure charges a streaming query's jobs, which run under the query's own job group") {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("qm-stream").toString
    spark.range(0, 100, 1, 2).selectExpr("id", "id % 5 AS k").write.parquet(s"$dir/in")
    val m = new QueryMetrics
    sc.addSparkListener(m)
    try {
      val r = m.measure(sc, "qm-stream") {
        spark.readStream.schema("id LONG, k LONG").parquet(s"$dir/in").groupBy("k").count()
          .writeStream.format("memory").queryName("qm_stream").outputMode("complete")
          .option("checkpointLocation", s"$dir/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          .awaitTermination()
      }
      assert(r.complete)
      assert(r.totals.jobs >= 1 && r.totals.stages >= 2 && r.totals.tasks > 0)
      assert(m.unmapped == 0)
    } finally {
      sc.removeSparkListener(m)
      spark.catalog.dropTempView("qm_stream")
    }
  }
}
