package graft

import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.QueryMetrics.{Run, Totals}
import graft.core.CacheScope
import graft.SparkEntry.{select, QueryFn}

/** Per-query forensics. Each mode selects queries by a name regex, runs
  * each once to warm JIT, codegen and footer caches, then measures with a
  * cleared cache into a `noop` sink, each run its own [[QueryMetrics]] group:
  *
  *   - `census <regex> [sfDir] [k=v…]`: wall, jobs, stages, tasks, CPU, run
  *     and task time, shuffle and spill MB per query, best of 3 sweeps, so
  *     fixed scheduling overhead (jobs × launch floor, tasks × dispatch
  *     floor) separates from compute;
  *   - `jobs <query> [sfDir]`: one row per Spark job of the query's best
  *     run, with the stage names it ran, to attribute a job explosion to an
  *     operator;
  *   - `phases <regex> [sfDir] [k=v…]`: build / plan / execution split;
  *   - `explain <regex> [sfDir]`: formatted physical plans.
  *
  * `k=v` pairs are Spark confs set at session build (core confs such as the
  * shuffle writer cannot change later); `sfDir` defaults to
  * `$SPARK_GRAFT_SF_DIR`; the session runs `local[SPARK_GRAFT_CPUS]`
  * (host cores when unset), like Bench's staged layout.
  *
  * Usage: runMain graft.Trace <mode> <regex|query> [sfDir] [k=v ...]
  */
object Trace {

  /** `run` times build, plan and execution together */
  final case class Phases(name: String, buildS: Double, planS: Double, run: Run) {
    def execS: Double = run.wallS - buildS - planS
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** a warm pass over `qs`, then `n` measured passes; a query that throws
    * is reported and left out of the pass */
  private def passes[A](qs: Seq[(String, QueryFn)], n: Int)(f: (String, QueryFn) => A): Seq[Seq[A]] = {
    def pass(): Seq[A] = qs.flatMap { case (name, fn) =>
      try Some(f(name, fn))
      catch { case e: Exception => Console.err.println(s"[trace] $name failed: ${e.getMessage}"); None }
    }
    pass()
    Seq.fill(n)(pass())
  }

  private def measure(spark: SparkSession, metrics: QueryMetrics, name: String)(body: => Unit): Run =
    Using.resource(CacheScope.open())(_ => metrics.measure(spark.sparkContext, s"trace:$name")(body))

  /** the sweep with the least total wall */
  def census(spark: SparkSession, metrics: QueryMetrics, qs: Seq[(String, QueryFn)],
      dir: String): Seq[(String, Run)] =
    passes(qs, 3)((n, fn) => n -> measure(spark, metrics, n)(noop(fn(spark, dir))))
      .minBy(_.map(_._2.wallS).sum)

  def jobs(spark: SparkSession, metrics: QueryMetrics, name: String, dir: String): Run =
    census(spark, metrics, Seq(name -> SparkEntry.queries(name)), dir).head._2

  def phases(spark: SparkSession, metrics: QueryMetrics, qs: Seq[(String, QueryFn)],
      dir: String): Seq[Phases] =
    passes(qs, 1) { (name, fn) =>
      var buildS, planS = 0.0
      val r = measure(spark, metrics, name) {
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        buildS = (t1 - t0) / 1e9; planS = (System.nanoTime() - t1) / 1e9
        noop(df)
      }
      Phases(name, buildS, planS, r)
    }.head

  /** each plan is built in its own [[CacheScope]], so it cannot pick up
    * frames an earlier query kept */
  def explain(spark: SparkSession, qs: Seq[(String, QueryFn)], dir: String): Seq[(String, String)] =
    qs.map { case (name, fn) =>
      name -> (try Using.resource(CacheScope.open())(_ =>
          fn(spark, dir).queryExecution.explainString(FormattedMode))
        catch { case e: Exception => s"explain failed: ${e.getMessage}" })
    }

  private val Cols = f"${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"cpu_s"}%8s ${"run_s"}%8s " +
    f"${"task_s"}%8s ${"shuf_mb"}%8s ${"spill_mb"}%8s"
  private def cols(t: Totals): String =
    f"${t.jobs}%5d ${t.stages}%6d ${t.tasks}%6d ${t.cpuS}%8.2f ${t.runMs / 1000.0}%8.2f " +
      f"${t.taskWallS}%8.2f ${(t.shuffleReadBytes + t.shuffleWriteBytes) / 1e6}%8.2f ${t.spillBytes / 1e6}%8.2f"

  /** summed columns of `rs`, the session's unmapped count, and how many
    * runs did not complete */
  private def total(rs: Seq[Run], metrics: QueryMetrics): String = {
    val incomplete = rs.count(!_.complete)
    s"${cols(rs.map(_.totals).foldLeft(Totals())(_ + _))}  unmapped=${metrics.unmapped}" +
      (if (incomplete > 0) s"  metrics_incomplete=$incomplete" else "")
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.Trace census|jobs|phases|explain <regex|query> [sfDir] [k=v ...]"
    require(args.length >= 2, usage)
    val (confs, rest) = args.drop(2).partition(_.contains("="))
    val dir = rest.headOption.orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error(s"$usage: no sfDir and no SPARK_GRAFT_SF_DIR"))
    val b = core.GraftSession.builder("graft-trace", Bench.benchCores.toString)
      .config("spark.driver.maxResultSize", "8g")
    confs.foreach { kv => val Array(k, v) = kv.split("=", 2); b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val metrics = new QueryMetrics
    spark.sparkContext.addSparkListener(metrics)
    try args(0) match {
      case "census" =>
        val rows = census(spark, metrics, select(args(1)), dir)
        println(f"${"query"}%-28s ${"wall_s"}%8s $Cols")
        rows.foreach { case (n, r) => println(f"$n%-28s ${r.wallS}%8.3f ${cols(r.totals)}") }
        println(f"${"BEST"}%-28s ${rows.map(_._2.wallS).sum}%8.3f ${total(rows.map(_._2), metrics)}" +
          s"  (${rows.size} queries; confs: ${confs.mkString(" ")})")
      case "jobs" =>
        val r = jobs(spark, metrics, args(1), dir)
        println(f"${"job"}%-28s ${"wall_s"}%8s $Cols  stage names")
        r.jobs.foreach(j => println(f"${s"job ${j.id}"}%-28s ${""}%8s ${cols(j.totals)}  ${j.desc}"))
        println(f"${args(1)}%-28s ${r.wallS}%8.3f ${total(Seq(r), metrics)}")
      case "phases" =>
        val ps = phases(spark, metrics, select(args(1)), dir)
        println(f"${"query"}%-28s ${"build_s"}%8s ${"plan_s"}%8s ${"exec_s"}%8s $Cols")
        ps.foreach(p => println(f"${p.name}%-28s ${p.buildS}%8.3f ${p.planS}%8.3f " +
          f"${p.execS}%8.3f ${cols(p.run.totals)}"))
        println(f"${"TOTAL"}%-28s ${ps.map(_.buildS).sum}%8.3f ${ps.map(_.planS).sum}%8.3f " +
          f"${ps.map(_.execS).sum}%8.3f ${total(ps.map(_.run), metrics)}")
      case "explain" =>
        explain(spark, select(args(1)), dir).foreach { case (n, p) => println(s"\n===== $n =====\n$p") }
      case m => sys.error(s"unknown mode $m; $usage")
    } finally spark.stop()
  }
}
