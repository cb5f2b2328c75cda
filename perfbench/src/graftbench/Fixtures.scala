package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Quota.QuotaConfig

/** The synthetic gauge grid of FiloDB's in-memory query benchmarks:
  * `nSeries` series of `heap_usage0` spread over `nNs` `_ns_` values,
  * `nSamples` samples 10 s apart. Each series' base, amplitude and phase
  * come from the seed, so one seed always gives the same samples. */
final case class Grid(seed: Long, nSeries: Int, nNs: Int, nSamples: Int) {
  import Grid._
  private val rnd = new java.util.SplittableRandom(seed)
  val base: Array[Double] = Array.fill(nSeries)(400.0 + rnd.nextInt(200000) / 1000.0)
  val amp: Array[Double] = Array.fill(nSeries)(50.0 + rnd.nextInt(100000) / 1000.0)
  val phase: Array[Double] = Array.fill(nSeries)(rnd.nextInt(6283) / 1000.0)

  def ns(i: Int): String = s"App-${if (nNs == 1) 2 else i % nNs}"
  def instance(i: Int): String = f"i-$i%05d"
  def value(i: Int, k: Int): Double = base(i) + amp(i) * math.sin(phase(i) + k * 0.05)
  def ts(k: Int): Long = T0 + k * StepMs
  def endMs: Long = ts(nSamples)

  /** The series the dashboard selector matches (`_ns_="App-2"`). */
  val selected: IndexedSeq[Int] = (0 until nSeries).filter(i => ns(i) == "App-2")

  /** Canonical remote-write rows (metric, tags, ts, value) for sample
    * indexes [k0, k1) of every series; values are computed by Spark from
    * the same formula as [[value]]. */
  def canonical(spark: SparkSession, k0: Int, k1: Int): DataFrame = {
    import spark.implicits._
    val params = (0 until nSeries).map(i => (i, instance(i), ns(i), base(i), amp(i), phase(i)))
      .toDF("i", "instance", "ns", "base", "amp", "phase")
    params.crossJoin(spark.range(k0, k1).withColumnRenamed("id", "k"))
      .select(
        lit(Metric).as("metric"),
        map(lit("instance"), col("instance"), lit("_ws_"), lit("demo"),
          lit("_ns_"), col("ns")).as("tags"),
        (lit(T0) + col("k") * StepMs).as("ts"),
        (col("base") + col("amp") * sin(col("phase") + col("k") * 0.05)).as("value"))
  }
}

object Grid {
  val T0 = 1704067200000L
  val StepMs = 10000L
  val Metric = "heap_usage0"
  val Quota: QuotaConfig = QuotaConfig(Seq("metric"), Seq(10000000L))
}

/** A sink/index/reject triple under one directory. */
final case class Store(dir: String) {
  val sink = s"$dir/sink"
  val index = s"$dir/index"
  val reject = s"$dir/reject"
}

/** The dashboard queries: FiloDB's four reference queries plus one
  * ratio panel, all over 55 minutes at a 150 s step. */
object DashQueries {
  val Sel = """heap_usage0{_ws_="demo",_ns_="App-2"}"""
  val All: Seq[(String, String)] = Seq(
    "raw_selector" -> Sel,
    "sum_rate" -> s"sum(rate($Sel[5m]))",
    "quantile" -> s"quantile(0.75, $Sel)",
    "sum_over_time" -> s"sum_over_time($Sel[5m])",
    "ratio" -> s"$Sel / on(instance) avg_over_time($Sel[30m])")
  val RangeMs: Long = 55 * 60000L
  val QStepMs = 150000L
  val LookbackMs = 300000L
}

/** In-process reference answers for the dashboard queries over a
  * [[Grid]], by Prometheus semantics: instant selectors take the latest
  * sample within the 5 m lookback, range windows are left-open
  * (t - range, t], and `quantile` interpolates between ranks. */
final class Expected(g: Grid) {
  import DashQueries._
  val end: Long = g.endMs
  val start: Long = end - RangeMs
  val steps: IndexedSeq[Long] = (start to end by QStepMs).toIndexedSeq

  private def kAtOrBefore(t: Long): Int =
    math.min(g.nSamples - 1, math.floor((t - Grid.T0).toDouble / Grid.StepMs).toInt)

  def raw(i: Int, t: Long): Double = g.value(i, kAtOrBefore(t))

  def sumOverTime(i: Int, t: Long, rangeMs: Long): Double =
    (0 until g.nSamples).iterator.filter { k => val ts = g.ts(k); ts > t - rangeMs && ts <= t }
      .map(g.value(i, _)).sum

  def quantile(q: Double, t: Long): Double = {
    val vs = g.selected.map(raw(_, t)).sorted
    val rank = q * (vs.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.min(vs.size - 1, lo + 1)
    vs(lo) + (vs(hi) - vs(lo)) * (rank - lo)
  }

  def labels(i: Int, withName: Boolean): Map[String, String] =
    Map("instance" -> g.instance(i), "_ws_" -> "demo", "_ns_" -> "App-2") ++
      (if (withName) Map("__name__" -> Grid.Metric) else Map.empty)

  /** Expected series: label set -> optional per-step values (None where
    * only labels and step timestamps are checked). */
  def answer(name: String): Map[Map[String, String], Option[IndexedSeq[Double]]] = name match {
    case "raw_selector" =>
      g.selected.map(i => labels(i, withName = true) -> Some(steps.map(raw(i, _)))).toMap
    case "sum_over_time" =>
      g.selected.map(i => labels(i, withName = false) -> Some(steps.map(sumOverTime(i, _, LookbackMs)))).toMap
    case "quantile" => Map(Map.empty[String, String] -> Some(steps.map(quantile(0.75, _))))
    case "sum_rate" => Map(Map.empty[String, String] -> None)
    // one-to-one matching with on(...) keeps only the matching labels
    case "ratio" => g.selected.map(i => Map("instance" -> g.instance(i)) -> None).toMap
  }

  /** Compares one answer (label set -> (step ts, value) list); returns the
    * first mismatch, or None. */
  def check(name: String, got: Map[Map[String, String], Seq[(Long, Double)]]): Option[String] = {
    val want = answer(name)
    if (got.keySet != want.keySet)
      return Some(s"$name: series ${got.size} vs ${want.size} expected " +
        s"(e.g. ${(got.keySet diff want.keySet).headOption.orElse((want.keySet diff got.keySet).headOption)})")
    got.iterator.flatMap { case (ls, pts) =>
      val tss = pts.map(_._1)
      if (tss != steps) Some(s"$name $ls: step timestamps ${tss.take(3)}... vs ${steps.take(3)}...")
      else if (!pts.forall(p => java.lang.Double.isFinite(p._2))) Some(s"$name $ls: non-finite value")
      else want(ls).flatMap { exp =>
        pts.map(_._2).zip(exp).zipWithIndex.collectFirst {
          case ((a, b), j) if math.abs(a - b) > 1e-9 * math.max(1.0, math.abs(b)) =>
            s"$name $ls step ${steps(j)}: got $a, want $b"
        }
      }
    }.nextOption()
  }
}

/** The curation corpus: a copy of graft's `documents` test table
  * (`data/documents_sf0.1.parquet`, 5000 documents; the smoke run uses the
  * 500-document `documents_sf0.001.parquet`). Its content is fixed, so
  * output digests can be pinned; the seed only permutes the row order,
  * which the answers must not depend on. The file count is fixed: it sets
  * the scan parallelism, and a seed-chosen count moved entry times by more
  * than half. */
object Corpus {
  val Files = 4

  def source(dataDir: String, smoke: Boolean): String =
    s"$dataDir/documents_${if (smoke) "sf0.001" else "sf0.1"}.parquet"

  /** Writes the corpus as `<dir>/documents.parquet` in seed-chosen order. */
  def write(spark: SparkSession, src: String, dir: String, seed: Long): Unit = {
    val df = spark.read.parquet(src)
    val perm = new java.util.Random(seed)
    val rows = scala.util.Random.javaRandomToRandom(perm).shuffle(df.collect().toList)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      .coalesce(Files)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}
