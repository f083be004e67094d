package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans around every call the harness makes into an engine
  * module, plus (when tracing) the Spark-side events that happen inside
  * them. One driver thread issues all operations, so spans nest as a
  * stack. With tracing on, each span labels the jobs it starts with
  * `setJobDescription` and a span-id local property; Spark SQL carries
  * both onto the jobs its helper threads start (broadcasts, subqueries),
  * which is how a stage is attributed to the span that caused it.
  *
  * Nothing is written while the run measures: spans and events stay in
  * memory and are folded into metrics by [[Trace.fold]] at the end. */
object Trace {
  val SpanKey = "perfbench.span"

  final class Span(val id: Int, val name: String, val parent: Int,
                   val op: Int, val startMs: Long, val startNs: Long) {
    var endNs: Long = -1L
    var endMs: Long = -1L
    def ms: Double = (endNs - startNs) / 1e6
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _
  private var recorder: Recorder = _
  private var planRecorder: PlanRecorder = _
  /** Op id stamped on new spans: -1 during setup, 0 for the backfill,
    * 1.. for timed operations. */
  var op: Int = -1

  def enabled: Boolean = recorder != null

  def install(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    recorder = new Recorder
    planRecorder = new PlanRecorder
    sc.addSparkListener(recorder)
    spark.listenerManager.register(planRecorder)
  }

  def span[A](name: String)(body: => A): A = {
    val parent = stack.headOption
    val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1), op,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack = s :: stack
    if (enabled) label(Some(s))
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      if (enabled) label(parent)

    }
  }

  private def label(s: Option[Span]): Unit = {
    sc.setLocalProperty(SpanKey, s.map(_.id.toString).orNull)
    sc.setJobDescription(s.map(x => s"${x.name} #${x.id}").orNull)
  }

  def all: Seq[Span] = spans.toSeq

  /** Per-stage aggregates, recorded on the listener-bus thread. */
  final class StageRec {
    var span: Int = -1
    var described: Boolean = false
    var submitMs: Long = -1L
    var completeMs: Long = -1L
    var tasks: Long = 0L
    var failedTasks: Long = 0L
    var runMs: Long = 0L
    var cpuNs: Long = 0L
    var gcMs: Long = 0L
    var schedMs: Long = 0L
    var shuffleRead: Long = 0L
    var shuffleWrite: Long = 0L
    var inputBytes: Long = 0L
    var outputBytes: Long = 0L
  }

  final class Recorder extends SparkListener {
    val stages = new ConcurrentHashMap[Int, StageRec]()
    val jobs = new ConcurrentHashMap[Int, Int]() // job id -> span id
    private def rec(id: Int) = stages.computeIfAbsent(id, _ => new StageRec)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      val described = props.exists(p =>
        p.getProperty("spark.job.description") != null)
      jobs.put(e.jobId, span)
      e.stageIds.foreach { id =>
        val r = rec(id)
        if (r.span < 0) { r.span = span; r.described = described }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val r = rec(e.stageInfo.stageId)
      r.submitMs = e.stageInfo.submissionTime.getOrElse(-1L)
      r.completeMs = e.stageInfo.completionTime.getOrElse(-1L)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val r = rec(e.stageId)
      r.tasks += 1
      if (e.reason != Success) r.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.inputBytes += m.inputMetrics.bytesRead
        r.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Planning-phase intervals (analysis, optimization, physical
    * planning) of every query execution, attributed to spans by time. */
  final class PlanRecorder extends QueryExecutionListener {
    val phases = new ConcurrentLinkedQueue[(Long, Long)]()
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.values.foreach(p =>
        phases.add((p.startTimeMs, p.durationMs)))
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Inclusive per-span statistics (the span and all its descendants). */
  final class Agg {
    var jobs, stages, tasks, failedTasks, runMs, cpuMs, gcMs, schedMs = 0L
    var shuffleRead, shuffleWrite, inputBytes, outputBytes = 0L
    var planningMs, gapMs = 0.0
  }

  final case class Folded(aggs: Map[Int, Agg], selfMs: Map[Int, Double],
                          stagesTotal: Int, stagesUndescribed: Int)

  /** Drain the listener bus and fold every recorded event into
    * per-span inclusive aggregates and self times. */
  def fold(): Folded = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val byId = spans.map(s => s.id -> s).toMap
    def ancestors(id: Int): Iterator[Int] =
      Iterator.iterate(id)(i => byId(i).parent).takeWhile(_ >= 0)
    val aggs = spans.map(s => s.id -> new Agg).toMap
    recorder.jobs.asScala.foreach { case (_, sp) =>
      if (sp >= 0) ancestors(sp).foreach(aggs(_).jobs += 1)
    }
    // skipped stages (shuffle output reused) are listed by their job but
    // never run: only stages that completed count
    val stageList = recorder.stages.asScala.values.filter(_.completeMs > 0).toSeq
    // stage wall intervals per inclusive span, for the driver-gap fold
    val intervals = mutable.Map[Int, mutable.ArrayBuffer[(Long, Long)]]()
    stageList.foreach { r =>
      if (r.span >= 0) ancestors(r.span).foreach { a =>
        val g = aggs(a)
        g.stages += 1; g.tasks += r.tasks; g.failedTasks += r.failedTasks
        g.runMs += r.runMs; g.cpuMs += r.cpuNs / 1000000L; g.gcMs += r.gcMs
        g.schedMs += r.schedMs; g.shuffleRead += r.shuffleRead
        g.shuffleWrite += r.shuffleWrite; g.inputBytes += r.inputBytes
        g.outputBytes += r.outputBytes
        if (r.submitMs > 0 && r.completeMs > 0)
          intervals.getOrElseUpdate(a, mutable.ArrayBuffer()) +=
            ((r.submitMs, r.completeMs))
      }
    }
    spans.foreach { s =>
      val ivs = intervals.getOrElse(s.id, mutable.ArrayBuffer())
        .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = -1L; var curB = -1L
      ivs.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      covered += curB - curA
      aggs(s.id).gapMs = math.max(0.0, s.ms - covered)
    }
    // planning phases: innermost span whose wall interval holds the
    // phase start (one driver thread, so spans nest strictly)
    val sorted = spans.sortBy(_.startMs).toIndexedSeq
    planRecorder.phases.asScala.foreach { case (start, dur) =>
      val inner = sorted.takeWhile(_.startMs <= start)
        .filter(s => s.endMs >= start).lastOption
      inner.foreach(s => ancestors(s.id).foreach(aggs(_).planningMs += dur))
    }
    val childMs = mutable.Map[Int, Double]().withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.ms)
    Folded(aggs, spans.map(s => s.id -> (s.ms - childMs(s.id))).toMap,
      stageList.size, stageList.count(!_.described))
  }
}
