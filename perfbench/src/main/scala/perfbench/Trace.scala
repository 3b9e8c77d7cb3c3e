package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: `name` is `<layer>.<call>`, `parent` the enclosing
  * span (-1 for a step), `step` the workload step it belongs to. */
final case class Span(
    id: Int, name: String, parent: Int, step: Long,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What Spark did inside one span: jobs with their wall intervals and
  * job-description labels, tasks, and planning time. */
final class SparkWork {
  var jobs = 0
  var tasks = 0L
  var taskMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var planMs = 0L
  var scanFiles = 0L
  var scanRows = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)] // job (start, end) ms
  val labels = mutable.HashMap.empty[String, (Int, Long)] // label -> (jobs, wall ms)
}

/** Spans around the benchmark's calls into each layer, and Spark's own
  * account of each span, from a `SparkListener` (jobs, tasks, shuffle)
  * and a `QueryExecutionListener` (planning phases, scanned files).
  * Jobs carry the open span's id as a local property; a query's
  * planning phases are attributed to the innermost span open when they
  * started. Disabled, a span is just its body. */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, Long, Long)] // id, start ns, start ms
  private var nextId = 0
  private var step = -1L
  val work = new ConcurrentHashMap[Int, SparkWork]()
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Long, String)]() // job -> span, start, label
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val pendingPlans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()

  private def workOf(span: Int): SparkWork = work.computeIfAbsent(span, _ => new SparkWork)

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp))).map(_.toInt).getOrElse(-1)
        val label = props.flatMap(p => Option(p.getProperty("spark.job.description")))
          .map(_.takeWhile(_ != ' ')).getOrElse("")
        jobSpan.put(e.jobId, (span, e.time, label))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobSpan.get(e.jobId)).foreach { case (span, start, label) =>
          val w = workOf(span)
          w.synchronized {
            w.jobs += 1
            w.intervals += ((start, e.time))
            if (label.nonEmpty) {
              val (n, ms) = w.labels.getOrElse(label, (0, 0L))
              w.labels(label) = (n + 1, ms + (e.time - start))
            }
          }
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val job = stageJob.get(e.stageId)
        val span = Option(jobSpan.get(job)).map(_._1).getOrElse(-1)
        val m = e.taskMetrics
        val w = workOf(span)
        w.synchronized {
          w.tasks += 1
          if (m != null) {
            w.taskMs += m.executorRunTime
            w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val phases = qe.tracker.phases.values
        if (phases.nonEmpty) {
          val (files, rows) = collectWithSubqueries(qe.executedPlan) {
            case s: FileSourceScanExec =>
              (s.metrics.get("numFiles").map(_.value).getOrElse(0L),
                s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
          }.foldLeft((0L, 0L)) { case ((f, r), (a, b)) => (f + a, r + b) }
          pendingPlans.add((phases.map(_.startTimeMs).min,
            phases.map(p => p.endTimeMs - p.startTimeMs).sum, files, rows))
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  def beginStep(n: Long): Unit = step = n

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open ::= ((id, System.nanoTime(), System.currentTimeMillis()))
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      try body
      finally {
        val (_, ns, ms) = open.head
        open = open.tail
        sc.setLocalProperty(Tracer.SpanProp, open.headOption.map(_._1.toString).orNull)
        spans += Span(id, name, parent, step, ns, System.nanoTime(), ms, System.currentTimeMillis())
      }
    }

  /** Waits for Spark's listener bus, then attributes queued planning
    * records to spans by start time. */
  def settle(): Unit = if (enabled) {
    org.apache.spark.perfbenchshim.Bus.drain(sc)
    val byStart = spans.sortBy(s => (s.startMs, -s.endMs))
    var p = pendingPlans.poll()
    while (p != null) {
      val (startMs, planMs, files, rows) = p
      // innermost = the latest-starting span that contains the phase start
      val owner = byStart.filter(s => s.startMs <= startMs && startMs <= s.endMs)
        .lastOption.map(_.id).getOrElse(-1)
      val w = workOf(owner)
      w.synchronized { w.planMs += planMs; w.scanFiles += files; w.scanRows += rows }
      p = pendingPlans.poll()
    }
  }

  /** Self time of each span: its duration minus the union of its
    * children's intervals. */
  def selfSeconds: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Tracer.union(kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).toSeq)
      s.id -> math.max(0.0, (s.endNs - s.startNs - covered) / 1e9)
    }.toMap
  }

  /** Ids of the span and of all its descendants. */
  def subtreeIds(id: Int): Seq[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(i: Int): Seq[Int] = i +: kids.getOrElse(i, Nil).toSeq.flatMap(k => go(k.id))
    go(id)
  }

  /** JSON lines of every span, for offline inspection. */
  def dump(path: java.nio.file.Path): Unit = if (enabled) {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.id).map { s =>
      val w = Option(work.get(s.id))
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"step":${s.step},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.seconds},""" +
        s""""jobs":${w.map(_.jobs).getOrElse(0)},"tasks":${w.map(_.tasks).getOrElse(0L)},""" +
        s""""task_s":${w.map(_.taskMs / 1e3).getOrElse(0.0)},"plan_s":${w.map(_.planMs / 1e3).getOrElse(0.0)}}"""
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
