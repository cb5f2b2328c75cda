package graftbench

import java.nio.charset.StandardCharsets

import graft.queries.PipelineQueries

/** The LLM-curation batch: four pipeline entries run in sequence, pass
  * after pass, over the `documents` corpus. Each answer's row count and
  * sorted-row digest must match the digest pinned for the corpus. */
object Curation {
  val Entries: Seq[String] =
    Seq("q118_curation_pipeline", "q64_ngram_jaccard", "q117_corpus_report", "q100_gopher_signals")

  /** (small corpus, entry) -> (rows, SHA-256 of the sorted rendered rows). */
  val Pinned: Map[(Boolean, String), (Long, String)] = Map(
    (false, "q118_curation_pipeline") -> (2705L, "f838d32efa7feea905f4663650b6bf982d6a37de1a7d6ff1557e1f1a99a5315c"),
    (false, "q64_ngram_jaccard") -> (116837L, "aedcdb67caecb85ca07e4984e4f463b808d697c76705cd334081daf180babc79"),
    (false, "q117_corpus_report") -> (20L, "4cca2bf80b9db0c986b6a3bfd999dcb28a7113a43b15fae1830713470b318bf3"),
    (false, "q100_gopher_signals") -> (5000L, "add789a70087220ee757490bc2b24e093721cd23a792a6a8fdd5533b15cd1730"),
    (true, "q118_curation_pipeline") -> (281L, "2bf5b9e4411bb8e97b87330c0ce1a88bb0e22aa7d8fdd4a0edf7cc5a3c42f177"),
    (true, "q64_ngram_jaccard") -> (1172L, "789a00e24e4e2916045432d8057e13d715fb74cbd8129d8788fc0c600236849a"),
    (true, "q117_corpus_report") -> (20L, "9662df92791cb58e42baec5e63da66552bde89a49f5934b7c7b141685f90f548"),
    (true, "q100_gopher_signals") -> (500L, "805ea2f4b2d29b7d29c9278aaf67e36eae8d0851f117f55c76ce4b24b33c2bfa"))

  def digest(rows: Array[org.apache.spark.sql.Row]): (Long, String) = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    (rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  def run(env: Env): Figures = {
    val spark = env.spark
    val src = Corpus.source(env.dataDir, env.smoke)
    // the warm-up runs over the small corpus: it compiles the same plans
    // in half the time of a full pass
    val warmDir = env.freshDir("warmup")
    Corpus.write(spark, Corpus.source(env.dataDir, smoke = true), warmDir, env.seed)
    // one untimed set-up warms the write path, then seven timed ones
    Corpus.write(spark, src, env.freshDir("warmup"), env.seed)
    val setups = (1 to 7).map { _ =>
      val dir = env.freshDir("corpus")
      val (_, sec) = Common.timed(Corpus.write(spark, src, dir, env.seed))
      Log(f"set-up: $sec%.2f s")
      (dir, sec)
    }
    val dir = setups.last._1

    /** Runs one entry and then checks its answer; only the entry itself
      * is timed. Returns (ok, start, end). */
    def runEntry(name: String, dir: String, small: Boolean): (Boolean, Long, Long) = {
      val s0 = System.nanoTime()
      val rows = try Some(PipelineQueries.defs(name)(spark, dir).collect())
        catch { case ex: Exception => env.outcomes.fail(s"$name: $ex"); None }
      val s1 = System.nanoTime()
      val ok = rows.exists { rs =>
        val got = digest(rs)
        val want = Pinned((small, name))
        if (want != got) env.outcomes.fail(s"$name: rows/digest $got, pinned $want")
        want == got
      }
      (ok, s0, s1)
    }

    val tracing = env.tracer.isDefined
    // one untimed warm-up pass, checked like the timed ones. A traced run
    // adds a pass over the full corpus: the first full pass is still up to
    // 1.5 s per entry slower, which would swamp the tracing overhead
    val warmPasses = Seq(warmDir -> true) ++ (if (tracing) Seq(dir -> env.smoke) else Nil)
    for ((wd, small) <- warmPasses; e <- Entries) {
      val (ok, s0, s1) = runEntry(e, wd, small)
      Log(f"warm-up $e: ${(s1 - s0) / 1e9}%.3f s")
      if (!ok) throw new IllegalStateException(s"wrong answer in the warm-up: $e")
    }

    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    var req = 0L
    val deadline = env.deadlineNs
    var pass = 0
    // a traced run traces entry i of pass p when p + i is even, in whole
    // pairs of passes: each entry runs once traced and once untraced, and
    // each side runs first for half of the entries, so a trend such as JIT
    // warm-up weighs on both alike. The listeners are registered only
    // around the traced entries; the difference is the tracing overhead.
    val minPasses = if (tracing) 2 else 1
    while (pass < minPasses || (tracing && pass % 2 != 0) || System.nanoTime() < deadline) {
      var passOk = true
      var passSec = 0.0
      Entries.zipWithIndex.foreach { case (e, i) =>
        req += 1
        val traced = tracing && (pass + i) % 2 == 0
        if (traced) env.tracer.foreach(_.install())
        val (ok, s0, s1) = runEntry(e, dir, env.smoke)
        if (traced) env.tracer.foreach { t => t.settle(); t.uninstall() }
        if (ok) env.outcomes.ok()
        passOk &&= ok
        passSec += (s1 - s0) / 1e9
        ops += Op(e, s0, s1, ok, traced, req)
        Log(f"$e: ${(s1 - s0) / 1e9}%.3f s")
      }
      // a pass is the sum of its entries' times, without the checks
      if (passOk) passes += passSec
      pass += 1
    }
    // entries run one at a time, so the measured time is their sum (the
    // answer checks between them are left out)
    val windowSec = ops.map(o => (o.endNs - o.startNs) / 1e9).sum
    val e2e = Common.e2e(setups.map(_._2), ops.toSeq, passes.toSeq, windowSec)
    val perEntry = Entries.map { e =>
      val ls = ops.filter(o => o.name == e && o.ok && !o.traced).map(_.sec)
      Metric(s"pipeline.${e}_s", Common.med(ls.toSeq), ls.size, "median untraced run of the entry")
    }
    val layer = env.tracer.map { t =>
      val traced = ops.filter(o => o.traced && o.ok).toSeq
      val perOp = traced.map { o =>
        val root = t.add(Span(t.nextId(), 0L, o.req, o.name, "pipeline", o.startNs, o.endNs))
        val wallMs = (o.endNs - o.startNs) / 1e6
        val ex = Layers.exec(t, t.jobsIn(o.startNs, o.endNs), root.id, o.req, wallMs, env.cores)
        val cat = Layers.catalyst(t, t.qesIn(o.startNs, o.endNs), root.id, o.req)
        val self = Tracer.selfTimes(t.allSpans.filter(_.req == o.req))
        ex ++ cat ++ Map(
          "pipeline.self_ms" -> self.getOrElse("pipeline", 0.0),
          "catalyst.self_ms" -> self.getOrElse("catalyst", 0.0),
          "exec.self_ms" -> self.getOrElse("exec", 0.0),
          "trace.traced_op_ms" -> wallMs)
      }
      val untraced = ops.filter(o => !o.traced && o.ok).map(o => (o.endNs - o.startNs) / 1e6).toSeq
      Layers.medians(perOp) ++ Seq(
        Metric("trace.untraced_op_ms", Common.med(untraced), untraced.size),
        Common.overhead(ops.toSeq))
    }.getOrElse(Nil)
    Figures(e2e, layer ++ perEntry)
  }
}
