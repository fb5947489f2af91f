package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

/** One metric value as the result line carries it. */
final case class Metric(value: Double, unit: String)

/** The benchmark's result: the last line of standard output.
  *
  * `failed` counts operations that threw or whose output failed its
  * check; `correct` is true only when none did.
  */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[(String, Metric)]) {

  def toJson: String = {
    val root = Report.M.createObjectNode()
    root.put("correct", correct)
    root.put("attempted", attempted)
    root.put("failed", failed)
    val ms = root.putObject("metrics")
    metrics.foreach { case (name, m) =>
      val o = ms.putObject(name)
      o.put("value", m.value)
      o.put("unit", m.unit)
    }
    Report.M.writeValueAsString(root)
  }
}

object Report {
  private[perfbench] val M = new ObjectMapper()

  /** inverse of [[Result.toJson]]; throws on a malformed line */
  def parse(line: String): Result = {
    val root = M.readTree(line)
    val keys = Set("correct", "attempted", "failed", "metrics")
    val names = {
      val b = Set.newBuilder[String]
      val it = root.fieldNames()
      while (it.hasNext) b += it.next()
      b.result()
    }
    require(names == keys, s"result keys $names != $keys")
    val ms = root.path("metrics")
    val fields = ms.fields()
    val out = Seq.newBuilder[(String, Metric)]
    while (fields.hasNext) {
      val e = fields.next()
      require(e.getValue.path("value").isNumber,
        s"metric ${e.getKey} has no numeric value")
      out += e.getKey -> Metric(e.getValue.path("value").asDouble,
        e.getValue.path("unit").asText)
    }
    Result(root.path("correct").asBoolean, root.path("attempted").asLong,
      root.path("failed").asLong, out.result())
  }

  /** any JSON-serializable map as one line (the human report line) */
  def line(fields: Seq[(String, Any)]): String = {
    val root = M.createObjectNode()
    fields.foreach {
      case (k, v: Double) => root.put(k, v)
      case (k, v: Int) => root.put(k, v)
      case (k, v: Long) => root.put(k, v)
      case (k, v: Boolean) => root.put(k, v)
      case (k, v) => root.put(k, String.valueOf(v))
    }
    M.writeValueAsString(root)
  }
}

/** Small order statistics over latency samples. */
object Stats {

  /** linear-interpolated quantile (`q` in [0, 1]) */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    xs.sum / xs.size
  }

  /** heap still in use after a full collection once the loop is done:
    * what the process keeps (sessions, caches the engine left behind)
    */
  def retainedHeapMb(): Double = {
    System.gc()
    val r = Runtime.getRuntime
    (r.totalMemory - r.freeMemory) / 1048576.0
  }

  /** restart the resident-set high-water mark at the current RSS (Linux) */
  def resetPeakRss(): Unit =
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/proc/self/clear_refs"), "5")
    catch { case _: java.io.IOException => () }

  /** resident-set high-water mark of this process, MB (Linux VmHWM) */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
