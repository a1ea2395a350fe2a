package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spark counters charged to one span: task metrics from the
  * [[SparkCounters]] listener, scan and write metrics from the plans that
  * [[PlanCounters]] sees. */
final class Counters {
  var jobs = 0L; var tasks = 0L; var taskFailures = 0L
  var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputBytes = 0L
  var scanFiles = 0L; var scanBytes = 0L; var scanRows = 0L; var scanMs = 0L
  var writeFiles = 0L; var writeBytes = 0L; var writeRows = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskFailures += o.taskFailures
    taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    inputBytes += o.inputBytes
    scanFiles += o.scanFiles; scanBytes += o.scanBytes; scanRows += o.scanRows; scanMs += o.scanMs
    writeFiles += o.writeFiles; writeBytes += o.writeBytes; writeRows += o.writeRows
  }
}

/** Task and job counts per span. The span is read from the local property
  * the tracer sets on the submitting thread; jobs submitted without one
  * are charged to span 0. */
final class SparkCounters extends SparkListener {
  val bySpan = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def of(span: Int) = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(0)
    of(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageSpan.getOrElse(e.stageId, 0))
    c.tasks += 1
    if (e.taskInfo != null && !e.taskInfo.successful) c.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
    }
  }
}

/** Scan-node and write-command metrics of every finished query. Queries
  * queue up until the tracer drains them into the span that just closed
  * (after flushing the listener bus, so the queue holds exactly the
  * queries that finished inside it). A scan inside a cached relation is
  * counted once, by the query that materialized the cache: later queries
  * reading the cache see the same scan node and skip it. */
final class PlanCounters extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val pending = mutable.ArrayBuffer.empty[Counters]
  private val seenScans = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

  private def nodes(plan: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(plan) { case p: SparkPlan => p }.flatMap {
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case p => Seq(p)
    }

  private def metric(m: Map[String, org.apache.spark.sql.execution.metric.SQLMetric],
                     k: String): Long = m.get(k).map(_.value).getOrElse(0L)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val c = new Counters
    nodes(qe.executedPlan).foreach {
      case s: FileSourceScanExec if seenScans.add(s) =>
        c.scanFiles += metric(s.metrics, "numFiles")
        c.scanBytes += metric(s.metrics, "filesSize")
        c.scanRows += metric(s.metrics, "numOutputRows")
        c.scanMs += metric(s.metrics, "scanTime") + metric(s.metrics, "metadataTime")
      case w: DataWritingCommandExec =>
        c.writeFiles += metric(w.cmd.metrics, "numFiles")
        c.writeBytes += metric(w.cmd.metrics, "numOutputBytes")
        c.writeRows += metric(w.cmd.metrics, "numOutputRows")
      case _ =>
    }
    synchronized { pending += c }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def drain(): Counters = synchronized {
    val c = new Counters
    pending.foreach(c.add)
    pending.clear()
    c
  }
}

final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long = 0L)

/** Benchmark-side spans around calls into the program. Disabled, `span`
  * only runs its body; enabled, it records the span, tags the Spark jobs
  * submitted inside it, and on close flushes the listener bus so the
  * span's counters are complete. Spans stay in memory until [[write]]. */
final class Tracer(val enabled: Boolean, val runId: String, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  val sparkCounters = new SparkCounters
  val planCounters = new PlanCounters
  private val planBySpan = mutable.Map.empty[Int, Counters]

  def install(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    sc.addSparkListener(sparkCounters)
    spark.listenerManager.register(planCounters)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(0)
      // queries that finished before this span opened belong to the parent
      settle(parent)
      val s = Span(spans.size + 1, name, parent, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        settle(s.id)
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, if (parent == 0) null else parent.toString)
      }
    }

  private def settle(span: Int): Unit = {
    org.apache.spark.perfbench.Bus.flush(sc)
    planBySpan.getOrElseUpdate(span, new Counters).add(planCounters.drain())
  }

  /** Counters charged to exactly these spans (not their children). */
  def countersOf(ids: Seq[Int]): Counters = sparkCounters.synchronized {
    val c = new Counters
    ids.foreach { id =>
      sparkCounters.bySpan.get(id).foreach(c.add)
      planBySpan.get(id).foreach(c.add)
    }
    c
  }

  /** Ids of `root` and every span below it. */
  def subtree(root: Int): Seq[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).toSeq.flatMap(s => go(s.id))
    go(root)
  }

  def durationsMs(name: String): Seq[Double] =
    spans.filter(_.name == name).map(s => (s.end - s.start) / 1e6).toSeq

  def totalMs(name: String): Double = durationsMs(name).sum

  def selfMs(name: String): Double = {
    val kids = spans.groupBy(_.parent)
    spans.filter(_.name == name).map { s =>
      Stats.selfTime(s.start, s.end,
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq) / 1e6
    }.sum
  }

  /** Span names as a tree with count, total and self time, and the Spark
    * jobs and task time charged to them, per name path. */
  def tree(): Seq[String] = {
    val kids = spans.groupBy(_.parent)
    val out = mutable.ArrayBuffer.empty[String]
    def walk(parents: Seq[Int], depth: Int): Unit =
      parents.flatMap(p => kids.getOrElse(p, Nil)).groupBy(_.name).toSeq
        .sortBy(_._2.head.start).foreach { case (name, ss) =>
          val tot = ss.map(s => s.end - s.start).sum / 1e6
          val self = ss.map(s => Stats.selfTime(s.start, s.end,
            kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)).sum / 1e6
          val c = countersOf(ss.map(_.id).toSeq)
          out += f"${"  " * depth}$name%s  n=${ss.size}%d total=$tot%.1fms self=$self%.1fms" +
            f" jobs=${c.jobs}%d tasks=${c.tasks}%d task=${c.taskMs}%dms"
          walk(ss.map(_.id).toSeq, depth + 1)
        }
    walk(Seq(0), 0)
    out.toSeq
  }

  def write(path: java.nio.file.Path): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("run_id", runId)
    val arr = root.putArray("spans")
    spans.foreach { s =>
      val n = arr.addObject()
      n.put("id", s.id); n.put("name", s.name); n.put("parent", s.parent)
      n.put("start_ns", s.start); n.put("end_ns", s.end); n.put("run_id", runId)
    }
    java.nio.file.Files.write(path, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(root))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
