package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

/** A run's outcome: end-to-end metrics, per-layer metrics, output checks. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  val layers = mutable.LinkedHashMap.empty[String, Metric]
  val failures = mutable.ArrayBuffer.empty[String]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var genLateness: Seq[Double] = Nil

  def metric(name: String, v: Double, unit: String, n: Option[Int] = None): Unit =
    metrics(name) = Metric(v, unit, n)
  def layer(name: String, v: Double, unit: String): Unit =
    layers(name) = Metric(v, unit)
  def info(k: String, v: Any): Unit = info(k) = v

  /** `<prefix>_p<q>_<unit>` for each q, with the sample count; a percentile
    * without ten samples beyond it is a failed measurement, not a number.
    */
  def percentiles(prefix: String, xs: Seq[Double], qs: Seq[Int], unit: String): Unit =
    qs.foreach { q =>
      Stats.pct(xs, q / 100.0) match {
        case Some(v) => metric(s"${prefix}_p${q}_$unit", v, unit, Some(xs.size))
        case None => throw new IllegalStateException(
          s"${prefix}_p$q needs ten samples beyond it; got ${xs.size} samples")
      }
    }

  def fail(msg: String): Unit = failures += msg
  def check(ok: Boolean, msg: => String): Unit = {
    attempted += 1
    if (!ok) fail(msg)
  }

  def json: String = Json(Map(
    "correct" -> failures.isEmpty,
    "attempted" -> attempted,
    "failed" -> failures.size,
    "failures" -> failures.take(20),
    "metrics" -> metrics.map { case (k, m) => k -> RawJson(m.json) },
    "layers" -> layers.map { case (k, m) => k -> RawJson(m.json) },
    "gen_lateness_ms" -> genLateness,
    "info" -> info))
}

/** Pre-rendered JSON spliced into a [[Json]] rendering. */
final case class RawJson(s: String) { override def toString: String = s }

/** `perfbench.Main --workload <w> --seed <n> --seconds <s> --trace <0|1>
  * --out <dir> [--sf-dir <dir>] [--events-dir <dir>] [--shape <w>]`: runs
  * one workload and writes `<out>/result.json` (and `<out>/spans.jsonl`
  * when traced). `--events-dir` adds a pass of the event gates to a traced
  * live run; workload `local1` drains the burst of `--shape` alone. Set-up
  * failures exit with status 2 before anything is timed.
  */
object Main {
  def main(argv: Array[String]): Unit =
    try run(argv)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        die(s"run aborted: $e")
    }

  private def run(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, die(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = new Trace(args.getOrElse("run-id", "run"), arg("trace") == "1")
    val out = Files.createDirectories(Paths.get(arg("out")))
    val work = Files.createDirectories(out.resolve("work"))
    val shapes = Map("ingest" -> Live.Ingest, "serve_live" -> Live.ServeLive)
    def shape(w: String) = shapes.getOrElse(w, die(s"unknown workload '$w'"))
    val res = workload match {
      case "gates" => Gates.run(seed, seconds, trace, args.getOrElse("sf-dir",
        die("the gates workload needs --sf-dir <sf0.1 parquet dir>")))
      case "local1" => Live.local1(shape(arg("shape")), seed, seconds, trace, work)
      case w => Live.run(shape(w), seed, seconds, trace, work, args.get("events-dir"))
    }
    if (trace.enabled) res.info("spans", trace.write(out.resolve("spans.jsonl")))
    Files.write(out.resolve("result.json"), res.json.getBytes("UTF-8"))
    say("result written")
    System.exit(0)
  }

  private val t0 = System.nanoTime()
  /** Progress note on stderr (the run's log), with seconds since start. */
  def say(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s $msg")

  def die(msg: String): Nothing = {
    System.err.println(s"[perfbench] fatal: $msg")
    System.exit(2)
    throw new IllegalStateException(msg)
  }
}
