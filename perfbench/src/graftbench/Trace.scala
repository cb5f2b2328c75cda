package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are `System.nanoTime` nanoseconds; Spark's
  * epoch-millisecond event times are shifted onto the same clock. */
final case class Span(id: Long, parent: Long, req: Long, name: String, layer: String,
                      startNs: Long, endNs: Long, attrs: Map[String, Double] = Map.empty)

/** Per-stage totals, folded from task-end events. */
final class StageRec(val id: Int, val attempt: Int, val jobId: Int) {
  var submitMs = 0L; var doneMs = 0L; var firstLaunchMs = Long.MaxValue
  var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var inBytes = 0L; var inRows = 0L
  var peakMem = 0L; var spill = 0L
}

final class JobRec(val id: Int, val startMs: Long) {
  var endMs = 0L
}

/** Catalyst phases and scan/exchange counts of one executed query, from
  * `QueryExecution.tracker` and the executed plan. `plannedMs` is when
  * its last phase ended. */
final case class QeRec(plannedMs: Long, phases: Map[String, (Long, Long)], exchanges: Int,
                       files: Long)

/** Spans kept in memory for the whole run and written out once at the
  * end, plus the Spark listeners whose events become `exec` and
  * `catalyst` child spans. */
final class Tracer(spark: SparkSession) {
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def msToNs(ms: Long): Long = ms * 1000000L + clockOffsetNs

  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  def nextId(): Long = seq.incrementAndGet()

  def add(s: Span): Span = { spans.add(s); s }

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val qes = new ConcurrentLinkedQueue[QeRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.put(e.jobId, new JobRec(e.jobId, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val i = e.stageInfo
      val r = stages.computeIfAbsent((i.stageId, i.attemptNumber()),
        _ => new StageRec(i.stageId, i.attemptNumber(), stageJob.getOrDefault(i.stageId, -1)))
      r.synchronized { r.submitMs = i.submissionTime.getOrElse(System.currentTimeMillis()) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Option(stages.get((i.stageId, i.attemptNumber()))).foreach { r =>
        r.synchronized { r.doneMs = i.completionTime.getOrElse(System.currentTimeMillis()) }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val r = stages.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => new StageRec(e.stageId, e.stageAttemptId, stageJob.getOrDefault(e.stageId, -1)))
      val m = e.taskMetrics
      r.synchronized {
        r.tasks += 1
        r.firstLaunchMs = math.min(r.firstLaunchMs, e.taskInfo.launchTime)
        if (m != null) {
          r.runMs += m.executorRunTime
          r.cpuNs += m.executorCpuTime
          r.gcMs += m.jvmGCTime
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          r.inBytes += m.inputMetrics.bytesRead
          r.inRows += m.inputMetrics.recordsRead
          r.peakMem = math.max(r.peakMem, m.peakExecutionMemory)
          r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qes.add(Tracer.qeRec(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Listener events arrive asynchronously: wait until every job started
    * so far has reported its end (bounded, so a lost event cannot hang). */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    def pending = jobs.values.asScala.exists(_.endMs == 0L)
    while (pending && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200) // query-execution callbacks trail the job ends
  }

  /** Jobs that started inside the window (event times have 1 ms grain). */
  def jobsIn(fromNs: Long, toNs: Long): Seq[JobRec] =
    jobs.values.asScala.toSeq.filter { j =>
      val s = msToNs(j.startMs); s >= fromNs - 1000000L && s <= toNs
    }.sortBy(_.startMs)

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = {
    val ids = js.map(_.id).toSet
    stages.values.asScala.toSeq.filter(s => ids.contains(s.jobId) && s.tasks > 0)
  }

  /** Executed queries planned inside the window. */
  def qesIn(fromNs: Long, toNs: Long): Seq[QeRec] =
    qes.asScala.toSeq.filter { q => val e = msToNs(q.plannedMs); e >= fromNs - 1000000L && e <= toNs }

  /** Writes every span as one JSON object per line. */
  def writeSpans(path: Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      val o = new java.util.LinkedHashMap[String, Any]()
      o.put("id", s.id); o.put("parent", s.parent); o.put("req", s.req); o.put("name", s.name)
      o.put("layer", s.layer); o.put("start_ns", s.startNs); o.put("end_ns", s.endNs)
      o.put("attrs", s.attrs.map { case (k, v) => k -> Json.num(v) }.asJava)
      Json.mapper.writeValueAsString(o)
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq
}

object Tracer {
  /** Every physical node, looking through adaptive wrappers, query
    * stages and cached relations. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def qeRec(qe: QueryExecution): QeRec = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val ns = nodes(qe.executedPlan)
    val ex = ns.count(_.isInstanceOf[ShuffleExchangeLike])
    val files = ns.collect { case f: FileSourceScanExec =>
      f.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum
    QeRec(phases.values.map(_._2).maxOption.getOrElse(System.currentTimeMillis()), phases, ex, files)
  }

  /** Self time of each layer among one operation's `spans`: every instant
    * inside a root span is charged to the innermost span active then (the
    * latest started among equally deep ones). This is a span's duration
    * minus what its children cover, and it never counts overlapping
    * siblings twice, so the layers add up to the roots' wall time. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = byId.get(s.parent).map(p => 1 + depth(p)).getOrElse(0)
    val ds = spans.map(s => (s, depth(s)))
    val cuts = spans.flatMap(s => Seq(s.startNs, s.endNs)).distinct.sorted
    cuts.zip(cuts.drop(1)).flatMap { case (a, b) =>
      val active = ds.filter { case (s, _) => s.startNs <= a && s.endNs >= b }
      if (!active.exists(_._2 == 0)) None
      else Some(active.maxBy { case (s, d) => (d, s.startNs) }._1.layer -> (b - a) / 1e6)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}
