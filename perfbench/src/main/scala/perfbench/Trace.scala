package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.ExecutionEnd

/** One traced call into an engine layer: name, wall interval, parent
  * span, the workload operation it belongs to, and the counts the
  * benchmark recorded at its boundary. */
final class Span(val id: Int, val name: String, val parent: Int,
                 val op: Long, val startNs: Long) {
  var endNs: Long = startNs
  /** Wall-clock bounds, comparable with listener event times. */
  val startMs: Long = System.currentTimeMillis()
  var endMs: Long = startMs
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
}

/** Spark runtime totals for one span, filled from listener events that
  * carry the span's job group. */
final class SparkTotals {
  var jobs = 0L; var tasks = 0L; var taskFailures = 0L
  var planningMs = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var bytesRead = 0L
  val jobIntervalsMs: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
}

/** Span recorder. With tracing off every call is a pass-through: no job
  * groups, no listener, no materialization. With tracing on, each span
  * runs its jobs under its own job group and `mat` materializes the
  * layer's output at the span boundary, so the span holds the layer's
  * work. Spans stay in memory until [[writeSpans]]. */
final class Tracer(val traced: Boolean) {
  /** Spans are recorded only while on (the traced run turns it off for
    * its untraced reference cycles). */
  var enabled: Boolean = traced
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1
  var op: Long = 0L
  private var spark: SparkSession = _
  private var collector: SparkCollector = _

  def attach(s: SparkSession): Unit = {
    spark = s
    if (traced) {
      collector = new SparkCollector
      s.sparkContext.addSparkListener(collector)
    }
  }

  /** Listener totals by span id; jobs outside any span are not kept. */
  def totals: Map[Int, SparkTotals] =
    if (collector == null) Map.empty else collector.bySpan.toMap

  def allSpans: Seq[Span] = spans.toSeq

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(0)
      val sp = new Span(nextId, name, parent, op, System.nanoTime())
      nextId += 1
      spans += sp
      stack = sp :: stack
      val sc = spark.sparkContext
      sc.setJobGroup(s"span-${sp.id}", name, interruptOnCancel = false)
      try body
      finally {
        sp.endNs = System.nanoTime(); sp.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Record a count on the innermost open span (traced runs only). */
  def count(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach { sp =>
      sp.counts(key) = sp.counts.getOrElse(key, 0.0) + v
    }

  /** Materialize a layer's output at the span boundary when tracing;
    * untraced runs keep the lazy plan. */
  def mat(df: DataFrame): DataFrame =
    if (enabled) df.localCheckpoint(eager = true) else df

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit =
    if (traced) org.apache.spark.perfbench.BusDrain(spark.sparkContext)

  def writeSpans(f: java.io.File): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      val counts = s.counts.map { case (k, v) => s""""$k":${Json.num(v)}""" }
        .mkString(",")
      sb.append(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""counts":{$counts}}""").append('\n')
    }
    java.nio.file.Files.write(f.toPath, sb.toString.getBytes("UTF-8"))
  }
}

/** Spark-side collector: job, stage and task events, and each SQL
  * execution's planning phases from its query's `QueryPlanningTracker`.
  * Everything is keyed by the job group the [[Tracer]] set for the
  * active span. (A `QueryExecutionListener` callback carries neither the
  * execution id nor the job group, so the planning tracker is read from
  * the execution-end event, which carries the same query.) */
final class SparkCollector extends SparkListener {
  val bySpan: mutable.Map[Int, SparkTotals] = mutable.HashMap.empty
  private val jobStart = mutable.HashMap.empty[Int, (Int, Long)]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val execSpan = mutable.HashMap.empty[Long, Int]

  private def spanOf(props: java.util.Properties): Int =
    spanOf(Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))

  private def spanOf(group: Option[String]): Int =
    group.filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt).getOrElse(0)

  private def t(span: Int): SparkTotals = bySpan.getOrElseUpdate(span, new SparkTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sp = spanOf(e.properties)
    if (sp > 0) {
      jobStart(e.jobId) = (sp, e.time)
      e.stageIds.foreach(stageSpan(_) = sp)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val sp = spanOf(s.jobGroupId)
        if (sp > 0) execSpan(s.executionId) = sp
      case end: SparkListenerSQLExecutionEnd =>
        for (sp <- execSpan.remove(end.executionId); qe <- ExecutionEnd.queryExecution(end))
          t(sp).planningMs += qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      case _ =>
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (sp, start) =>
      val x = t(sp); x.jobs += 1; x.jobIntervalsMs += (start -> e.time)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach(sp => task(t(sp), e))
  }

  private def task(x: SparkTotals, e: SparkListenerTaskEnd): Unit = {
    x.tasks += 1
    if (e.reason != org.apache.spark.Success) x.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      x.runMs += m.executorRunTime; x.cpuNs += m.executorCpuTime
      x.gcMs += m.jvmGCTime
      x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      x.bytesRead += m.inputMetrics.bytesRead
    }
  }
}
