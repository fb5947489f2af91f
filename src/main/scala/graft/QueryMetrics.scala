package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Attributes Spark work to the groups [[measure]] opens, per group and per
  * job: jobs, stages that ran (skipped ones are not counted), tasks,
  * `executorCpuTime`, `executorRunTime`, task wall (`finishTime −
  * launchTime`), shuffle read/write bytes and spill bytes. A job belongs to
  * a group by its `qm:<group>` job tag, which, unlike the job group,
  * survives into threads that set their own, such as a streaming query's.
  * A stage or task whose job belongs to no open group is counted in
  * [[unmapped]] and charged to nobody.
  *
  * After the body, [[measure]] runs a one-task fence job. Events arrive in
  * order on the listener bus, so once the fence has ended every event the
  * body posted has been seen, and the group is complete when every job
  * started under it has ended as well.
  */
final class QueryMetrics extends SparkListener {
  import QueryMetrics._

  private final class Group { var open = 0; var fenced = false }
  private val groups = mutable.HashMap.empty[String, Group] // opened, not yet taken
  private val jobs = mutable.LinkedHashMap.empty[Int, (String, Job)] // id -> (group, row)
  private val fences = mutable.HashMap.empty[Int, String] // fence job id -> group
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private var unmappedN = 0L
  private val measured = new java.util.concurrent.atomic.AtomicLong

  /** a fence job's stages map to its id but it has no row: charged to nobody */
  private def charge(stageId: Int, t: Totals): Unit = stageJob.get(stageId) match {
    case Some(id) => jobs.get(id).foreach { case (g, j) => jobs(id) = (g, j.copy(totals = j.totals + t)) }
    case None => unmappedN += 1
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(','))
    def tagged(prefix: String) = tags.collectFirst { case t if t.startsWith(prefix) => t.stripPrefix(prefix) }
    tagged(TagPrefix).filter(groups.contains).foreach { g =>
      groups(g).open += 1
      val desc = e.stageInfos.map(_.name.takeWhile(_ != '\n')).distinct.mkString(" | ")
      jobs(e.jobId) = (g, Job(e.jobId, desc.take(180), Totals(jobs = 1)))
      e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
    }
    tagged(FencePrefix).foreach { g => fences(e.jobId) = g; e.stageIds.foreach(stageJob(_) = e.jobId) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).flatMap(j => groups.get(j._1)).foreach(_.open -= 1)
    fences.remove(e.jobId).foreach { g =>
      groups.get(g).foreach(_.fenced = true)
      stageJob.filterInPlace((_, j) => j != e.jobId)
    }
    notifyAll()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(charge(e.stageInfo.stageId, Totals(stages = 1)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val wallMs = Option(e.taskInfo).fold(0L)(i => i.finishTime - i.launchTime)
    charge(e.stageId, Option(e.taskMetrics).fold(Totals(tasks = 1, taskWallMs = wallMs)) { m =>
      Totals(tasks = 1, cpuNs = m.executorCpuTime, runMs = m.executorRunTime,
        taskWallMs = wallMs, shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled)
    })
  }

  private def complete(group: String): Boolean =
    groups.get(group).exists(g => g.fenced && g.open == 0)

  /** waits a fixed 5 s at most for the group to complete */
  private def await(group: String): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + 5000
    while (!complete(group) && System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    complete(group)
  }

  /** the group's totals and per-job rows; closes the group, so its late
    * job starts, stages and tasks count as unmapped */
  private def take(group: String): (Totals, Seq[Job]) = synchronized {
    groups.remove(group)
    val mine = jobs.collect { case (id, (`group`, j)) => id -> j }
    jobs --= mine.keys
    stageJob.filterInPlace((_, j) => !mine.contains(j))
    (mine.values.map(_.totals).foldLeft(Totals())(_ + _), mine.values.toSeq)
  }

  /** stages and tasks whose job belonged to no open group */
  def unmapped: Long = synchronized(unmappedN)

  /** times `body` under a fresh group named after `label`, runs the fence,
    * waits (bounded) for the group to complete and takes its metrics. The
    * group is unique per call and closed even when `body` throws, so a
    * failed run cannot leak its late events into the next run. */
  def measure(sc: SparkContext, label: String)(body: => Unit): Run = {
    val group = s"$label#${measured.incrementAndGet()}"
    synchronized(groups(group) = new Group)
    val (wallS, complete) =
      try {
        val wallS = tagged(sc, TagPrefix + group) {
          val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
        }
        tagged(sc, FencePrefix + group)(sc.parallelize(Seq(0), 1).count())
        (wallS, await(group))
      } catch { case e: Throwable => take(group); throw e }
    val (totals, js) = take(group)
    Run(group, wallS, totals, js, complete)
  }
}

object QueryMetrics {

  private val TagPrefix = "qm:"
  private val FencePrefix = "qm-fence:"

  private def tagged[A](sc: SparkContext, tag: String)(f: => A): A = {
    sc.addJobTag(tag)
    try f finally sc.removeJobTag(tag)
  }

  final case class Totals(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
      cpuNs: Long = 0, runMs: Long = 0, taskWallMs: Long = 0,
      shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
    def +(o: Totals): Totals = Totals(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      cpuNs + o.cpuNs, runMs + o.runMs, taskWallMs + o.taskWallMs,
      shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
      spillBytes + o.spillBytes)
    def cpuS: Double = cpuNs / 1e9
    def taskWallS: Double = taskWallMs / 1000.0
  }

  final case class Job(id: Int, desc: String, totals: Totals)

  /** one measured body; its jobs carry the job tag `qm:<group>`, and
    * `complete` is false when the group did not complete within 5 s */
  final case class Run(group: String, wallS: Double, totals: Totals, jobs: Seq[Job], complete: Boolean)
}
