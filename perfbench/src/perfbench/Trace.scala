package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

/** Minimal JSON rendering for the benchmark's own records. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case r: RawJson => r.s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case p: Product if p.productArity == 0 => str(p.toString)
    case other => str(other.toString)
  }
}

/** Order statistics with the benchmark's sample-count rule. */
object Stats {
  /** Nearest-rank percentile of `xs` (0 < q < 1), or None when fewer than
    * ten samples lie beyond it — such a percentile would be a guess.
    */
  def pct(xs: Seq[Double], q: Double): Option[Double] = {
    val n = xs.length
    val rank = math.ceil(q * n).toInt.max(1)
    if (n - rank < 10) None else Some(xs.sorted.apply(rank - 1))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** One named metric: value, unit and, for a percentile, its sample count. */
final case class Metric(value: Double, unit: String, n: Option[Int] = None) {
  def json: String = Json(Map("value" -> value, "unit" -> unit) ++
    n.map("n" -> _))
}

/** Benchmark-side spans: kept in memory, written once at exit. Each span is
  * (id, name, start, end, parent, run id); self time is the span's duration
  * minus the part of its interval covered by its children. Disabled
  * (untraced runs) every call is a cheap pass-through.
  */
final class Trace(val runId: String, val enabled: Boolean) {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
      parent: Int, attrs: Map[String, Any])

  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  /** Wall-clock anchor so spans built from epoch-ms events line up. */
  private val epochNs = System.currentTimeMillis() * 1000000L
  private val monoNs = System.nanoTime()

  def nowNs(): Long = System.nanoTime()
  def epochMsToNs(ms: Long): Long = monoNs + (ms * 1000000L - epochNs)

  def newId(): Int = ids.incrementAndGet()

  def record(name: String, startNs: Long, endNs: Long, parent: Int = 0,
      attrs: Map[String, Any] = Map.empty, id: Int = -1): Int =
    if (!enabled) 0
    else {
      val sid = if (id > 0) id else newId()
      spans.add(Span(sid, name, startNs, endNs, parent, attrs))
      sid
    }

  /** Time `f`; `f` receives the span id so nested calls can parent to it. */
  def span[T](name: String, parent: Int = 0,
      attrs: Map[String, Any] = Map.empty)(f: Int => T): T = {
    val id = if (enabled) newId() else 0
    val t0 = System.nanoTime()
    try f(id)
    finally if (enabled) record(name, t0, System.nanoTime(), parent, attrs, id)
  }

  /** Spans as JSON lines, each with its self time. */
  def write(path: java.nio.file.Path): Int = {
    val all = spans.asScala.toSeq.sortBy(_.startNs)
    val children = all.groupBy(_.parent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (k.startNs.max(s.startNs), k.endNs.min(s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = curB.max(b)
      }
      if (curB > curA) covered += curB - curA
      val dur = s.endNs - s.startNs
      w.write(Json(Map("run" -> runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ms" -> (s.startNs - monoNs) / 1e6,
        "end_ms" -> (s.endNs - monoNs) / 1e6, "dur_ms" -> dur / 1e6,
        "self_ms" -> (dur - covered) / 1e6) ++ s.attrs))
      w.newLine()
    } finally w.close()
    all.length
  }
}

/** Thread-safe additive counters keyed by name. */
final class Counters {
  private val m = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  def add(k: String, v: Long): Unit =
    m.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)
  def get(k: String): Long = Option(m.get(k)).map(_.get).getOrElse(0L)
}
