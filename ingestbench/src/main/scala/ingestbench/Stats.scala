package ingestbench

import scala.collection.mutable

object Stats {
  /** Nearest-rank percentile, `q` in [0, 1]; NaN on no samples. */
  def percentile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray
    if (s.isEmpty) Double.NaN else {
      java.util.Arrays.sort(s)
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }
  }

  def median(xs: Iterable[Double]): Double = percentile(xs, 0.5)

  /** Least-squares slope of y over x. */
  def slope(xs: Seq[Double], ys: Seq[Double]): Double = {
    val n = xs.size
    if (n < 2) return 0.0
    val mx = xs.sum / n
    val my = ys.sum / n
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    if (sxx == 0) 0.0 else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }
}

/** In-memory spans of a traced run, written as JSON when the run ends.
  * `batch` is the micro-batch id (the request id), -1 where none.
  */
final class Spans(val enabled: Boolean) {
  private final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
      parent: Int, batch: Long, derived: Boolean)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val originNs = System.nanoTime()

  def add(name: String, startNs: Long, endNs: Long, parent: Int = -1,
      batch: Long = -1, derived: Boolean = false): Int = synchronized {
    if (!enabled) return -1
    spans += Span(spans.size, name, startNs, endNs, parent, batch, derived)
    spans.size - 1
  }

  def write(file: java.io.File, meta: Map[String, String]): Unit = synchronized {
    def ms(ns: Long) = f"${(ns - originNs) / 1e6}%.3f"
    val sb = new StringBuilder("{")
    meta.foreach { case (k, v) => sb.append('"').append(k).append("\":\"").append(v).append("\",") }
    sb.append("\"unit\":\"ms since the process set up tracing\",\"spans\":[\n")
    sb.append(spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start":${ms(s.startNs)},"end":${ms(s.endNs)},""" +
        s""""parent":${s.parent},"batch":${s.batch},"derived":${s.derived}}"""
    }.mkString(",\n"))
    sb.append("\n]}\n")
    file.getParentFile.mkdirs()
    java.nio.file.Files.writeString(file.toPath, sb.toString)
  }
}
