package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** Spans recorded around the benchmark's calls into each layer of the
  * program. Only the traced run creates a [[Trace]]; spans stay in memory
  * and are written once, when the workload ends, so recording costs one
  * buffer append per span. Times are milliseconds from the trace's start;
  * `parent` 0 marks a root span. */
final class Trace {
  val t0: Long = System.nanoTime()
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private val ids = new AtomicLong()

  def newId(): Long = ids.incrementAndGet()

  def add(id: Long, name: String, parent: Long, startNs: Long, endNs: Long,
          attrs: (String, Any)*): Unit = synchronized {
    spans += Map("id" -> id, "parent" -> parent, "name" -> name,
      "start_ms" -> (startNs - t0) / 1e6, "end_ms" -> (endNs - t0) / 1e6) ++
      attrs
  }

  def write(path: java.nio.file.Path): Unit =
    java.nio.file.Files.writeString(path, Json(synchronized(spans.toList)))
}

object Trace {
  /** Tracing overhead of a traced run, whose untraced and traced passes
    * alternate: the traced passes' median time and rows per second against
    * the untraced ones', in percent (positive: tracing costs time). */
  def overhead(plainS: Seq[Double], tracedS: Seq[Double],
               plainRowsPerS: Double, tracedRowsPerS: Double): Map[String, Double] = Map(
    "trace.overhead_pct" -> (Stats.median(tracedS) / Stats.median(plainS) - 1) * 100,
    "trace.rows_overhead_pct" -> (1 - tracedRowsPerS / plainRowsPerS) * 100)

  /** Runs `body` inside a span when tracing is on and hands it the span's
    * id, the parent of the spans it opens (0 when tracing is off). */
  def span[A](t: Option[Trace], name: String, parent: Long,
              attrs: (String, Any)*)(body: Long => A): A = t match {
    case None => body(0L)
    case Some(tr) =>
      val id = tr.newId()
      val start = System.nanoTime()
      try body(id)
      finally tr.add(id, name, parent, start, System.nanoTime(), attrs: _*)
  }
}

/** The few JSON shapes the benchmark writes: maps, sequences, strings,
  * numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case o: Option[_] => o.fold("null")(apply)
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def seconds(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e9
}
