package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What every workload sees: the session, the seed, the tracer (disabled
  * in timed runs) and a private working directory inside the checkout.
  */
final class Ctx(val spark: SparkSession, val seed: Long, var tracer: Tracer,
    val workDir: Path, val cores: Int) {

  private val nextOp = new java.util.concurrent.atomic.AtomicLong

  /** Runs one benchmark operation: sets its job group, times `act` (in a
    * span named `kind` when tracing), then checks its output untimed under
    * a separate job group. An exception or a failed check counts the op
    * as failed.
    */
  def op[T](rec: Recorder, kind: String)(act: Long => T)(
      check: T => Option[String]): Option[T] = {
    val id = nextOp.getAndIncrement()
    spark.sparkContext.setJobGroup(s"$kind#$id", kind)
    rec.attempt()
    try {
      val t0 = System.nanoTime()
      val out = tracer.span(kind, id)(act(id))
      val ns = System.nanoTime() - t0
      rec.add(kind, ns / 1e6)
      spark.sparkContext.setJobGroup(s"check#$id", "check")
      check(out) match {
        case None => Some(out)
        case Some(why) => rec.fail(kind, why); None
      }
    } catch {
      case e: Exception =>
        rec.fail(kind, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    } finally {
      spark.sparkContext.clearJobGroup()
    }
  }

  /** a layer-boundary span inside an op (a no-op when not tracing) */
  def span[T](name: String, opId: Long)(body: => T): T =
    tracer.span(name, opId)(body)
}

/** Per-op latency samples (ms) by kind, and failures; safe to share
  * between the warm-up's threads.
  */
final class Recorder {
  private val samples =
    mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var nAttempted = 0L
  private var nFailed = 0L

  def attempt(): Unit = synchronized { nAttempted += 1 }
  def attempted: Long = synchronized(nAttempted)
  def failed: Long = synchronized(nFailed)

  def add(kind: String, ms: Double): Unit = synchronized {
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
  }

  /** take over another recorder's attempts and failures, not its samples */
  def addCounts(o: Recorder): Unit = synchronized {
    nAttempted += o.attempted; nFailed += o.failed
  }

  def fail(kind: String, why: String): Unit = {
    synchronized { nFailed += 1 }
    System.err.println(s"[perfbench] $kind failed: $why")
  }

  def of(kind: String): Seq[Double] =
    synchronized(samples.getOrElse(kind, Nil).toSeq)
  def ofAll(kinds: Set[String]): Seq[Double] = synchronized {
    samples.collect { case (k, v) if kinds(k) => v }.flatten.toSeq
  }
}

/** Runs independent warm-up ops on at most `threads` threads and waits
  * for all of them. Spark runs their jobs side by side, so the code
  * generation and JIT compilation a cold process pays overlap.
  */
object Parallel {
  def all(threads: Int)(tasks: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() }))
      fs.foreach(_.get())
    } finally pool.shutdown()
  }
}

/** One benchmark workload: [[prepare]] is its set-up, [[warmUp]] its
  * untimed warm-up, [[loop]] the measured closed loop;
  * [[endToEnd]] and [[report]] read the loop's samples, [[attribute]] adds
  * the traced run's per-layer measurements.
  */
trait Workload {
  def name: String
  /** generate the seeded inputs and start whatever serves them */
  def prepare(): Unit
  /** digest of the generated inputs: equal seeds must give equal digests */
  def inputDigest: String
  /** untimed work before the loop; its failures count */
  def warmUp(rec: Recorder): Unit
  /** whole sessions or passes until the deadline, at least one; the next
    * op starts only after the last one returned
    */
  def loop(rec: Recorder, deadlineNs: Long): Unit
  /** a short, warm op sequence, timed untraced and traced for the
    * tracing overhead
    */
  def probe(rec: Recorder): Unit
  /** the gated metrics every workload reports, from a timed run */
  def endToEnd(rec: Recorder): Seq[(String, Metric)]
  /** every named figure that applies to this workload (the report line) */
  def report(rec: Recorder): Seq[(String, Any)]
  /** traced-only measurements outside the loop */
  def attribute(rec: Recorder): Map[String, Metric]
  def close(): Unit
}

object Digest {
  def of(parts: Iterator[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().map("%02x".format(_)).mkString
  }
  def str(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
}
