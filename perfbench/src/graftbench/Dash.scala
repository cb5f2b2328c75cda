package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import graft.http.{PromApi, ProtoWire}
import graft.promql.{Parser, PromPlanner}

/** Dashboard workloads: the grid is committed through the write path,
  * then closed-loop clients run the five dashboard queries against
  * `/api/v1/query_range`, and every answer is checked. */
object Dash {
  /** One timed set-up slice's write-path figures. */
  final case class Slice(k0: Int, k1: Int, startNs: Long, sec: Double, postMs: Seq[Double],
                         postBytes: Long, samples: Long, drainStartNs: Long, drainEndNs: Long,
                         commits: Double)

  /** The set-up: the grid reaches a fresh store through the remote-write
    * wire in `slices + 1` time slices, as a sender ships it over time.
    * Each slice is POSTed to `/api/v1/write` (`posts` requests, every one
    * of which must be acknowledged), spooled, and committed by one forced
    * `drainSpool()`. The first slice warms the write path and is untimed;
    * each later slice is one timed set-up. */
  def setup(env: Env, g: Grid, slices: Int, posts: Int): (Store, Seq[Slice]) = {
    val st = Store(env.freshDir("store"))
    val runs = commitSlices(env, g, st, slices + 1, posts).tail
    runs.foreach(r => Log(f"set-up slice of ${r.samples} samples: ${r.sec}%.2f s"))
    Log(s"store: ${java.nio.file.Files.walk(java.nio.file.Paths.get(st.sink)).iterator().asScala.count(_.toString.endsWith(".parquet"))} files")
    // the store must hold exactly what was acknowledged
    val n = env.spark.read.parquet(st.sink).count()
    if (n != g.nSeries.toLong * g.nSamples)
      throw new IllegalStateException(s"set-up committed $n of ${g.nSeries.toLong * g.nSamples} samples")
    (st, runs)
  }

  private def commitSlices(env: Env, g: Grid, st: Store, slices: Int, posts: Int): Seq[Slice] = {
    // the drainer is parked: each slice's forced drain commits it
    val api = new PromApi(env.spark, env.spark.range(0).toDF(), writeSink = Some(PromApi.WriteSink(
      st.sink, st.index, st.reject, Grid.Quota)), spoolDrainMs = 3600000L).start()
    try {
      val url = URI.create(s"http://localhost:${api.boundPort}/api/v1/write")
      val metrics = s"http://localhost:${api.boundPort}/metrics"
      val http = HttpClient.newHttpClient()
      val perSlice = g.nSamples / slices
      val perPost = perSlice / posts
      (0 until slices).map { sl =>
        val t0 = System.nanoTime()
        var bytes = 0L
        val postMs = (0 until posts).map { c =>
          val k0 = sl * perSlice + c * perPost
          val body = org.xerial.snappy.Snappy.compress(ProtoWire.encodeWriteRequest(
            (0 until g.nSeries).map { i =>
              ProtoWire.PSeries(Seq("__name__" -> Grid.Metric, "instance" -> g.instance(i),
                "_ws_" -> "demo", "_ns_" -> g.ns(i)),
                (k0 until k0 + perPost).map(k => ProtoWire.PSample(g.value(i, k), g.ts(k))))
            }))
          bytes += body.length
          val p0 = System.nanoTime()
          val resp = http.send(HttpRequest.newBuilder(url)
            .header("Content-Type", "application/x-protobuf").header("Content-Encoding", "snappy")
            .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(), HttpResponse.BodyHandlers.ofString())
          if (resp.statusCode() / 100 != 2)
            throw new IllegalStateException(s"remote write refused: HTTP ${resp.statusCode()} ${resp.body().take(200)}")
          (System.nanoTime() - p0) / 1e6
        }
        val before = metricValue(http, metrics, "graft_writes_accepted_total")
        val d0 = System.nanoTime()
        api.drainSpool()
        val d1 = System.nanoTime()
        val commits = metricValue(http, metrics, "graft_writes_accepted_total") - before
        Slice(sl * perSlice, sl * perSlice + perPost * posts, t0, (d1 - t0) / 1e9, postMs, bytes,
          g.nSeries.toLong * perPost * posts, d0, d1, commits)
      }
    } finally api.stop()
  }

  /** One sample value from a server's `/metrics` exposition. */
  def metricValue(http: HttpClient, url: String, name: String): Double =
    http.send(HttpRequest.newBuilder(URI.create(url)).GET().build(), HttpResponse.BodyHandlers.ofString())
      .body().linesIterator.collectFirst { case l if l.startsWith(name + " ") => l.drop(name.length + 1).trim.toDouble }
      .getOrElse(throw new IllegalStateException(s"$name missing from /metrics"))

  /** Streaming and remote-write figures of the traced run's set-up
    * slices: each forced drain's jobs become `exec` children of a
    * `streaming` span, and direct `Ingest.remoteWriteBatch` calls on
    * slice-sized frames time the commit alone. */
  def writePath(env: Env, t: Tracer, g: Grid, st: Store, slices: Seq[Slice]): Seq[Metric] = {
    val perSlice = slices.map { r =>
      val req = t.nextId()
      t.add(Span(t.nextId(), 0L, req, "remote_write POSTs", "http", r.startNs, r.drainStartNs,
        Map("posts" -> r.postMs.size, "bytes" -> r.postBytes.toDouble)))
      val drain = t.add(Span(t.nextId(), 0L, req, "drainSpool", "streaming", r.drainStartNs, r.drainEndNs))
      val drainMs = (r.drainEndNs - r.drainStartNs) / 1e6
      val ex = Layers.exec(t, t.jobsIn(r.drainStartNs, r.drainEndNs), drain.id, req, drainMs, env.cores)
      Map(
        "streaming.drain_ms" -> drainMs,
        "streaming.drain_windows" -> r.commits,
        "streaming.drain_jobs" -> ex("exec.jobs"),
        "streaming.drain_tasks" -> ex("exec.tasks"),
        "streaming.drain_shuffle_bytes" -> (ex("exec.shuffle_write_bytes") + ex("exec.shuffle_read_bytes")),
        "streaming.drain_executor_ms" -> ex("exec.executor_cpu_ms"),
        "streaming.committed_sps" -> r.samples / (drainMs / 1000.0),
        "http.write_ack_ms" -> Stats.median(r.postMs),
        "http.write_bytes_per_sample" -> r.postBytes.toDouble / r.samples)
    }
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(st.sink)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    val commits = slices.map { r =>
      val direct = Store(env.freshDir("commit"))
      val frame = g.canonical(env.spark, r.k0, r.k1)
      Common.timed(graft.streaming.Ingest.remoteWriteBatch(frame, 0L, direct.sink, direct.index,
        direct.reject, Grid.Quota))._2 * 1000
    }
    Layers.medians(perSlice).map(_.copy(note = "median over set-up slices")) ++ Seq(
      Metric("streaming.sink_files", files.size.toDouble, 1, "store after set-up"),
      Metric("streaming.sink_bytes_per_sample", files.map(java.nio.file.Files.size).sum.toDouble /
        (g.nSeries.toLong * g.nSamples), 1, "store after set-up"),
      Metric("streaming.commit_ms", Stats.median(commits), commits.size,
        "direct Ingest.remoteWriteBatch of one slice-sized frame"))
  }

  def queryUrl(base: String, q: String, exp: Expected): String =
    s"$base/api/v1/query_range?query=${java.net.URLEncoder.encode(q, StandardCharsets.UTF_8)}" +
      s"&start=${exp.start / 1000}&end=${exp.end / 1000}&step=${DashQueries.QStepMs / 1000}"

  /** Parses a query_range answer into label set -> (step ms, value). */
  def parse(body: String): Map[Map[String, String], Seq[(Long, Double)]] = {
    val root = Json.mapper.readTree(body)
    if (root.path("status").asText() != "success")
      throw new IllegalStateException(s"status ${root.path("status").asText()}: ${body.take(200)}")
    root.path("data").path("result").elements().asScala.map { s =>
      val ls = s.path("metric").fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      val pts = s.path("values").elements().asScala.map { p =>
        (math.round(p.get(0).asDouble() * 1000), p.get(1).asText() match {
          case "NaN" => Double.NaN
          case "+Inf" => Double.PositiveInfinity
          case "-Inf" => Double.NegativeInfinity
          case v => v.toDouble
        })
      }.toSeq
      ls -> pts
    }.toMap
  }

  def run(env: Env, g: Grid, setupSlices: Int): Figures = {
    val spark = env.spark
    // a traced run listens to the set-up's drains for the write-path figures
    env.tracer.foreach(_.install())
    val (store, slices) = setup(env, g, setupSlices, posts = 3)
    env.tracer.foreach { t => t.settle(); t.uninstall() }
    val exp = new Expected(g)
    val samples = spark.read.parquet(store.sink)
    val api = new PromApi(spark, samples).start()
    val base = s"http://localhost:${api.boundPort}"
    val http = HttpClient.newHttpClient()
    val queries = DashQueries.All
    try {
      /** One checked request; returns (ok, response bytes, result samples). */
      def request(name: String, q: String): (Boolean, Long, Long) = {
        val resp = http.send(HttpRequest.newBuilder(URI.create(queryUrl(base, q, exp))).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        val bytes = resp.body().getBytes(StandardCharsets.UTF_8).length.toLong
        val got = if (resp.statusCode() == 200) Some(parse(resp.body())) else None
        got.fold(Option(s"$name: HTTP ${resp.statusCode()} ${resp.body().take(200)}"))(exp.check(name, _)) match {
          case Some(problem) => env.outcomes.fail(problem); (false, bytes, 0L)
          case None => (true, bytes, got.get.values.map(_.size.toLong).sum)
        }
      }
      val tracing = env.tracer.isDefined
      // traced runs use one client, so every Spark job in a request's
      // window belongs to that request
      val clients = if (tracing) 1 else 2
      // warm-up: two untimed passes per client in the measured load shape;
      // every answer is checked, and a wrong one ends the run
      (1 to 2).foreach { w =>
        val warm = (0 until clients).map { c =>
          new Thread(() => queries.indices.foreach { j =>
            val (name, q) = queries((j + c) % queries.size)
            try request(name, q) catch { case e: Exception => env.outcomes.fail(s"$name: $e") }
          })
        }
        warm.foreach(_.start())
        warm.foreach(_.join())
        if (env.outcomes.failed > 0) throw new IllegalStateException("wrong answers in the warm-up")
        Log(s"warm-up pass $w done")
      }
      val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
      val passes = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
      val replays = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, Long, Int)]()
      val traceInfo = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
      val reqSeq = new java.util.concurrent.atomic.AtomicLong(0L)
      val w0 = System.nanoTime()
      val deadline = env.deadlineNs
      val threads = (0 until clients).map { c =>
        new Thread(() => {
          var pass = 0
          // whole passes only, so every query is equally represented, and
          // at least two, so a slow box still gives 20 samples. A traced
          // run alternates traced and untraced passes in whole blocks of
          // four (traced, untraced, untraced, traced), with the listeners
          // registered for the traced passes only: the difference is the
          // tracing overhead, and a trend such as JIT warm-up weighs on
          // both sides alike.
          while (pass < 2 || (tracing && pass % 4 != 0) || System.nanoTime() < deadline) {
            val traced = tracing && (pass % 4 == 0 || pass % 4 == 3)
            if (traced) env.tracer.foreach(_.install())
            val p0 = System.nanoTime()
            var passOk = true
            queries.indices.foreach { j =>
              val (name, q) = queries((j + c) % queries.size)
              val req = reqSeq.incrementAndGet()
              val s0 = System.nanoTime()
              val (ok, bytes, pts) =
                try request(name, q)
                catch { case e: Exception => env.outcomes.fail(s"$name: $e"); (false, 0L, 0L) }
              val s1 = System.nanoTime()
              if (ok) env.outcomes.ok()
              passOk &&= ok
              ops.add(Op(name, s0, s1, ok, traced, req))
              if (traced) {
                traceInfo.put(req, (bytes, pts))
                // the parse and build inside the server are not visible
                // from outside; replay them on this thread over the same
                // frame, after the request, to split the server's time
                val t0 = System.nanoTime()
                Parser.parse(q)
                val t1 = System.nanoTime()
                val df = PromPlanner.queryRange(PromPlanner.Ctx(spark, samples, exp.start, exp.end,
                  DashQueries.QStepMs), q)
                val t2 = System.nanoTime()
                val nodes = df.queryExecution.logical.collectWithSubqueries { case p => p }.size
                replays.put(req, (t0, t1, t2, nodes))
              }
            }
            if (passOk) passes.add((System.nanoTime() - p0) / 1e9)
            Log(f"client $c pass $pass: ${(System.nanoTime() - p0) / 1e9}%.2f s")
            if (traced) env.tracer.foreach { t => t.settle(); t.uninstall() }
            pass += 1
          }
        }, s"dash-client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      val windowSec = (System.nanoTime() - w0) / 1e9
      val all = ops.asScala.toSeq
      Log(f"${all.size} queries in $windowSec%.2f s")
      all.groupBy(_.name).foreach { case (n, os) => Log(f"  $n%-14s median ${Stats.median(os.map(_.sec))}%.3f s") }
      val e2e = Common.e2e(slices.map(_.sec), all, passes.asScala.map(_.doubleValue).toSeq, windowSec)

      val layer = env.tracer.map { t =>
        val traced = all.filter(o => o.traced && o.ok)
        val perOp = traced.map { o =>
          val root = t.add(Span(t.nextId(), 0L, o.req, s"query_range ${o.name}", "http", o.startNs, o.endNs))
          val jobs = t.jobsIn(o.startNs, o.endNs)
          val wallMs = (o.endNs - o.startNs) / 1e6
          val ex = Layers.exec(t, jobs, root.id, o.req, wallMs, env.cores)
          val cat = Layers.catalyst(t, t.qesIn(o.startNs, o.endNs), root.id, o.req)
          val (r0, r1, r2, nodes) = replays.get(o.req)
          val parseMs = (r1 - r0) / 1e6
          // queryRange parses again before it builds
          val buildMs = math.max(0.0, (r2 - r1) / 1e6 - parseMs)
          val (bytes, pts) = traceInfo.get(o.req)
          val pre = if (jobs.isEmpty) wallMs else (t.msToNs(jobs.head.startMs) - o.startNs) / 1e6
          val post = if (jobs.isEmpty) 0.0 else (o.endNs - t.msToNs(jobs.map(_.endMs).max)) / 1e6
          val tree = t.allSpans.filter(_.req == o.req)
          val self = Tracer.selfTimes(tree)
          val promql = parseMs + buildMs
          t.add(Span(t.nextId(), 0L, o.req, "replay parse", "promql", r0, r1))
          t.add(Span(t.nextId(), 0L, o.req, "replay build", "promql", r1, r2))
          ex ++ cat ++ Map(
            "promql.parse_ms" -> parseMs, "promql.build_ms" -> buildMs, "promql.logical_nodes" -> nodes.toDouble,
            "http.pre_exec_ms" -> math.max(0.0, pre), "http.post_exec_ms" -> math.max(0.0, post),
            "http.response_bytes" -> bytes.toDouble,
            "model.rows_per_result_sample" -> (if (pts == 0) 0.0 else ex("model.input_rows") / pts),
            "promql.self_ms" -> promql,
            "catalyst.self_ms" -> self.getOrElse("catalyst", 0.0),
            "exec.self_ms" -> self.getOrElse("exec", 0.0),
            "http.self_ms" -> math.max(0.0, self.getOrElse("http", 0.0) - promql),
            "trace.traced_op_ms" -> wallMs)
        }
        val untraced = all.filter(o => !o.traced && o.ok).map(o => (o.endNs - o.startNs) / 1e6)
        Layers.medians(perOp) ++ writePath(env, t, g, store, slices) ++ Seq(
          Metric("trace.untraced_op_ms", Common.med(untraced), untraced.size,
            "untraced passes of the traced run"),
          Common.overhead(all))
      }.getOrElse(Nil)
      Figures(e2e, layer)
    } finally api.stop()
  }
}
