package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the seed, the measuring window,
  * a scratch directory of its own, the benchmark's data directory and, in a
  * traced run, the tracer (whose listeners the workload registers only
  * while it traces). */
final case class Env(spark: SparkSession, seed: Long, seconds: Double, work: String,
                     dataDir: String, tracer: Option[Tracer], smoke: Boolean, outcomes: Outcomes) {
  def cores: Int = spark.sparkContext.defaultParallelism

  private val dirSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  def freshDir(name: String): String = {
    val d = Paths.get(work, s"$name-${dirSeq.incrementAndGet()}")
    Files.createDirectories(d)
    d.toString
  }

  /** When a measuring window that starts now ends. */
  def deadlineNs: Long = System.nanoTime() + (seconds * 1e9).toLong
}

/** One workload's figures. `layer` holds the per-layer metrics it
  * measured; the rest of the per-layer list reads 0 (layer unused). */
final case class Figures(e2e: Seq[Metric], layer: Seq[Metric])

/** One timed operation of a closed loop. */
final case class Op(name: String, startNs: Long, endNs: Long, ok: Boolean,
                    traced: Boolean = false, req: Long = 0L) {
  def sec: Double = if (ok) (endNs - startNs) / 1e9 else Double.PositiveInfinity
}

object Common {
  /** The end-to-end figures every workload reports, from its timed
    * operations (failed ones count as infinitely slow) and its set-up
    * times. A pass is one client's run through the workload's whole
    * operation list. */
  def e2e(setups: Seq[Double], ops: Seq[Op], passes: Seq[Double], windowSec: Double): Seq[Metric] = {
    val lat = ops.map(_.sec)
    Seq(
      Metric("setup_s", Stats.median(setups), setups.size, "median of timed set-ups"),
      Metric("op_p50_s", Stats.median(lat), lat.size),
      Metric("ops_per_s", ops.count(_.ok) / windowSec, ops.size,
        f"completed in a $windowSec%.2f s window"),
      Metric("pass_s", if (passes.isEmpty) Double.PositiveInfinity else Stats.median(passes),
        passes.size))
  }

  /** The tracing overhead, paired by operation name: for each query or
    * entry, its median traced time minus its median untraced time, and
    * the median of those differences. */
  def overhead(ops: Seq[Op]): Metric = {
    def ms(os: Seq[Op]) = Stats.median(os.map(o => (o.endNs - o.startNs) / 1e6))
    val diffs = ops.filter(_.ok).groupBy(_.name).values.toSeq.flatMap { os =>
      val (t, u) = os.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None else Some(ms(t) - ms(u))
    }
    Metric("trace.overhead_ms", med(diffs), diffs.size,
      "median over operation names of (median traced - median untraced)")
  }

  /** Median of per-operation values, or 0 when there are none. */
  def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** Progress lines on stderr, stamped with seconds since the JVM started. */
object Log {
  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.currentTimeMillis() - jvmStart) / 1000.0}%7.2f] $msg")
}
