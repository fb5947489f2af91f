package graft

import scala.collection.mutable
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QueryMetrics.Run
import graft.core.CacheScope

/** The timed-run protocol of the harness mains ([[Bench]], [[Trace]],
  * [[MediaBench]]). [[apply]] runs named bodies in a warm-up pass (JIT,
  * codegen and footer caches), then `sweeps` interleaved passes, so a
  * transient host-load spike inflates at most one sample per body. Each
  * run is its own [[CacheScope]] and its own [[QueryMetrics]] group; the
  * wall clock covers the body only. RDDs a run leaves cached are released
  * and its name is listed in [[leaks]]; a body that throws is listed in
  * [[failed]] once and left out of later passes. State accumulates
  * across calls, so one instance times every section of a run.
  */
final class Sweep(spark: SparkSession, metrics: QueryMetrics, label: String) {
  val failed = mutable.LinkedHashMap.empty[String, String]
  val leaks = mutable.LinkedHashSet.empty[String]
  /** a name per run whose metrics group did not complete */
  val incomplete = mutable.ListBuffer.empty[String]
  /** the 1-minute load average at construction and after every sweep */
  val loads = mutable.ListBuffer(Sweep.load1())

  private def once(name: String, body: () => Unit): Option[Run] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try {
      // the scope releases what the body's operators keep for intra-query
      // reuse, which the CacheManager would otherwise hand to the next run
      val run =
        try Using.resource(CacheScope.open())(_ => metrics.measure(sc, s"$label:$name")(body()))
        finally {
          val left = sc.getPersistentRDDs.values.filterNot(r => before(r.id))
          left.foreach(_.unpersist(blocking = true))
          if (left.nonEmpty) leaks += name
        }
      if (!run.complete) incomplete += name
      Some(run)
    } catch {
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(1).mkString.take(200)
        Console.err.println(s"[$label] $name failed: $msg")
        failed(name) = msg
        None
    }
  }

  /** the `sweeps` runs of every body that never threw, in body order.
    * `onPass` sees the warm-up runs after the warm-up pass, then the
    * sweep runs so far after every sweep. */
  def apply(bodies: Seq[(String, () => Unit)], sweeps: Int)(
      onPass: collection.Map[String, Seq[Run]] => Unit = _ => ()): collection.Map[String, Seq[Run]] = {
    val warm = mutable.LinkedHashMap.from(bodies.flatMap { case (n, b) => once(n, b).map(r => n -> Seq(r)) })
    onPass(warm)
    val runs = warm.map { case (n, _) => n -> Seq.empty[Run] }
    (1 to sweeps).foreach { _ =>
      bodies.foreach { case (n, b) =>
        if (runs.contains(n)) once(n, b) match {
          case Some(r) => runs(n) :+= r
          case None => runs -= n
        }
      }
      loads += Sweep.load1()
      onPass(runs)
    }
    runs
  }
}

object Sweep {

  /** the action every timed query runs: the full plan, nothing collected */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def load1(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** how timing began: `verdict` is "ok" on a quiet host,
    * "timed_under_load" when the wait expired, "disabled" when off */
  final case class Gate(verdict: String, startLoad: Double, quietWaitS: Int)

  /** waits, 15 s at a time and at most `SPARK_GRAFT_QUIET_WAIT_S` (default
    * 900), for the 1-minute load to fall to `SPARK_GRAFT_MAX_START_LOAD`
    * (default 5.0; 0 disables). A round-close snapshot taken at load 10–19
    * read some queries at 7–9× their quiet-host time, so a main that
    * reports timings gates its start and records how it went. */
  def awaitQuiet(label: String): Gate = {
    val maxLoad = sys.env.get("SPARK_GRAFT_MAX_START_LOAD").flatMap(_.toDoubleOption).getOrElse(5.0)
    val maxWaitS = sys.env.get("SPARK_GRAFT_QUIET_WAIT_S").flatMap(_.toIntOption).getOrElse(900)
    var waitedS = 0
    var load = load1()
    while (maxLoad > 0 && load > maxLoad && waitedS < maxWaitS) {
      Console.err.println(f"[$label] start load $load%.1f > $maxLoad%.1f — waiting for a quiet host " +
        f"(${waitedS}s/${maxWaitS}s)")
      Thread.sleep(15000)
      waitedS += 15
      load = load1()
    }
    val verdict =
      if (maxLoad <= 0) "disabled" else if (load <= maxLoad) "ok" else "timed_under_load"
    Gate(verdict, load, waitedS)
  }
}
