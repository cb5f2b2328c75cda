package graftbench

import java.nio.file.{Files, Paths}

import graft.GraftSession

/** Benchmark process: runs one workload (with `--smoke`, at a tiny
  * size) and writes the figures to `--out`.
  *
  * {{{
  * graftbench.Main --workload dash_small --seed 1 --seconds 10 --trace 0 \
  *   --work <scratch dir> --data <perfbench/data> --out <result.json> \
  *   [--spans <spans.jsonl>] [--smoke]
  * }}}
  */
object Main {
  val Workloads: Seq[String] = Seq("dash_small", "curation_batch")

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val smoke = args.contains("--smoke")
    val workload = kv("workload")
    require(Workloads.contains(workload), s"unknown workload $workload (one of ${Workloads.mkString(", ")})")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val traced = kv.get("trace").contains("1")
    val work = kv("work")
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(Paths.get(work, "spark-local"))
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Log("session up")
    val outcomes = new Outcomes
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val env = Env(spark, seed, seconds, work, kv("data"), tracer, smoke, outcomes)
    val code =
      try {
        val figs = workload match {
          case "dash_small" => Dash.run(env, Sizes.small(seed, smoke), setupSlices = 3)
          case "curation_batch" => Curation.run(env)
        }
        val envInfo = Seq(
          "nproc" -> cpus.toString,
          "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
          "seed" -> seed.toString,
          "jdk" -> System.getProperty("java.version"),
          "spark" -> spark.version,
          "graft" -> GraftSession.Version,
          "traced" -> traced.toString,
          "smoke" -> smoke.toString)
        tracer.foreach(t => kv.get("spans").foreach(p => t.writeSpans(Paths.get(p))))
        Json.write(Paths.get(kv("out")), workload, outcomes, outcomes.failed == 0,
          figs.e2e, figs.layer, envInfo)
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[graftbench] $workload failed: $e")
          outcomes.errors.foreach(m => System.err.println(s"[graftbench]   $m"))
          e.printStackTrace()
          3
      }
    spark.stop()
    // the HTTP server's dispatcher thread is not a daemon
    sys.exit(code)
  }
}

/** Workload sizes. The smoke sizes only check that everything runs and
  * answers correctly. */
object Sizes {
  def small(seed: Long, smoke: Boolean): Grid =
    if (smoke) Grid(seed, 12, 1, 720) else Grid(seed, 100, 1, 720)
}
