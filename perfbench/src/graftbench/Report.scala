package graftbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** One reported figure. `n` is the number of samples it summarises and
  * `note` says how. Units are declared in BENCHMARK.json. */
final case class Metric(name: String, value: Double, n: Int = 1, note: String = "")

/** Operation outcomes of one run. Every operation that fails, is refused
  * or answers wrongly counts against `attempted`; the first few error
  * messages are kept for the report. */
final class Outcomes {
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong(0L)
  private val failedN = new java.util.concurrent.atomic.AtomicLong(0L)
  private val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def ok(): Unit = attemptedN.incrementAndGet()

  def fail(what: String): Unit = {
    attemptedN.incrementAndGet()
    failedN.incrementAndGet()
    if (errs.size < 20) errs.add(what.take(400))
  }

  def attempted: Long = attemptedN.get()
  def failed: Long = failedN.get()
  def errors: Seq[String] = errs.toArray(Array.empty[String]).toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** The result file, written with Jackson. */
object Json {
  val mapper = new ObjectMapper()

  /** Finite numbers only: a failed operation counts as an infinite
    * latency, which the result file caps at 1e9. */
  def num(d: Double): java.lang.Double =
    if (d.isInfinite) (if (d > 0) 1e9 else -1e9) else d

  private def metrics(ms: Seq[Metric]): java.util.Map[String, Any] = {
    val out = new java.util.LinkedHashMap[String, Any]()
    ms.foreach(m => out.put(m.name, Map("value" -> num(m.value), "n" -> m.n, "note" -> m.note).asJava))
    out
  }

  def write(path: Path, workload: String, o: Outcomes, correct: Boolean,
            e2e: Seq[Metric], layer: Seq[Metric], env: Seq[(String, String)]): Unit = {
    val res = new java.util.LinkedHashMap[String, Any]()
    res.put("workload", workload)
    res.put("correct", correct)
    res.put("attempted", o.attempted)
    res.put("failed", o.failed)
    res.put("errors", o.errors.asJava)
    res.put("end_to_end", metrics(e2e))
    res.put("per_layer", metrics(layer))
    res.put("env", env.toMap.asJava)
    mapper.writeValue(path.toFile, res)
  }
}
