package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** A timed interval around one call into an engine layer. `parent` is
  * the enclosing span's id (-1 at the top); `opId` ties every span of
  * one benchmark operation together.
  */
final case class Span(id: Int, parent: Int, name: String, opId: Long,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the single-threaded driver loop. Spans
  * nest by call structure; nothing is written until [[write]].
  * A disabled tracer runs the body and records nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String, opId: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        done += Span(id, parent, name, opId, t0, t1)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** span duration minus the time its direct children cover */
  def selfNs: Map[Int, Long] = {
    val childNs = done.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.durNs).sum
    }
    done.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    done.sortBy(_.id).foreach { s =>
      sb ++= Report.line(Seq("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "op" -> s.opId, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs)) += '\n'
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.result())
    ()
  }
}

/** Spark work summed over the jobs of one job group. */
final class GroupTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L

  def add(o: GroupTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    runMs += o.runMs; gcMs += o.gcMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
  }
}

/** Attributes every job, stage and task to the job group the benchmark
  * set for the operation that ran it (`SparkContext.setJobGroup`). Task
  * metrics are `executorCpuTime` and `executorRunTime`, not launch to
  * finish wall. A stage that maps to no job (or a job with no group) is
  * counted in [[unmapped]] and charged to nobody.
  */
final class JobAttribution extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val byGroup = mutable.HashMap.empty[String, GroupTotals]
  private var unmappedStages = 0L
  private var unmappedTasks = 0L

  private def totals(g: String) = byGroup.getOrElseUpdate(g, new GroupTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { grp =>
      totals(grp).jobs += 1
      e.stageIds.foreach(s => stageGroup(s) = grp)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId) match {
        case Some(g) => totals(g).stages += 1
        case None => unmappedStages += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId) match {
      case Some(g) =>
        val t = totals(g)
        t.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          t.cpuNs += m.executorCpuTime
          t.runMs += m.executorRunTime
          t.gcMs += m.jvmGCTime
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      case None => unmappedTasks += 1
    }
  }

  def groups: Map[String, GroupTotals] = synchronized(byGroup.toMap)
  def unmapped: Long = synchronized(unmappedStages + unmappedTasks)
}
