package benchmark

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.BenchAccess
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Wall clock in epoch microseconds with nanoTime resolution, so spans
  * from the benchmark and event times from Spark share one axis. */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000L
  def micros(): Long = baseMicros + (System.nanoTime() - baseNanos) / 1000L
}

/** One span: a named interval inside one operation (`trace` is the
  * logical date or the query name). `parent` is the id of the enclosing
  * span, -1 at the root. */
final case class Span(id: Int, parent: Int, name: String, trace: String,
    start: Long, end: Long)

/** In-memory span recorder for the single client thread. A traced run
  * traces half of its operations ([[active]]); for the rest it runs the
  * body and records nothing, so the two halves give the overhead. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  var active = false

  /** Attribute the Spark work of `body` to `trace|phase` when active:
    * Spark copies the local property [[Probe.LabelKey]] onto every job
    * and stage submitted meanwhile. */
  def phase[A](spark: SparkSession, trace: String, phase: String)(body: => A): A =
    if (!active) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Probe.LabelKey)
      sc.setLocalProperty(Probe.LabelKey, s"$trace|$phase")
      try body finally sc.setLocalProperty(Probe.LabelKey, prev)
    }

  def span[A](name: String, trace: String)(body: => A): A =
    if (!active) body
    else {
      val id = spans.size
      val parent = open.headOption.getOrElse(-1)
      val start = Clock.micros()
      spans += Span(id, parent, name, trace, start, start)
      open.push(id)
      try body
      finally {
        open.pop()
        spans(id) = spans(id).copy(end = Clock.micros())
      }
    }

  /** Span reported by a listener after the fact: its parent is the
    * innermost benchmark span of the same trace that contains it. */
  def addChild(name: String, trace: String, start: Long, end: Long): Unit = {
    val parent = spans.filter(s => s.trace == trace && s.start <= start &&
      s.end >= end && !s.name.startsWith("spark.")).lastOption.map(_.id).getOrElse(-1)
    spans += Span(spans.size, parent, name, trace, start, end)
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""trace":${Json.str(s.trace)},"start_us":${s.start},"end_us":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Executor-side and planner-side counters for one labelled phase. */
final class PhaseStats {
  var jobs, stages, tasks = 0L
  var taskBusyMs, gcMs, shuffleBytes, shuffleRecords, spillBytes = 0L
  var inputBytes, inputRecords, outputBytes = 0L
  var planMs = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val actions = mutable.ArrayBuffer.empty[(String, String, Long)] // func, sink, ns
  var planNodes, planExchanges, planBroadcasts = 0L
}

/** The traced run's listener: jobs, stages and SQL actions, attributed
  * by the label [[Tracer.phase]] puts on them ("<op trace>|<phase>");
  * unlabelled work (set-up, untraced operations, checks) is ignored. */
final class Probe(spark: SparkSession) {
  import Probe.LabelKey
  val byLabel = mutable.LinkedHashMap.empty[String, PhaseStats]
  private val jobLabel = mutable.Map.empty[Int, (String, Long)]
  private val stageLabel = mutable.Map.empty[Int, String]
  private val execLabel = mutable.Map.empty[Long, String]

  private def stats(label: String): PhaseStats = byLabel.getOrElseUpdate(label, new PhaseStats)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(LabelKey))).foreach { l =>
        jobLabel(e.jobId) = (l, e.time)
        stats(l).jobs += 1
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(id => execLabel(id.toLong) = l)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      jobLabel.remove(e.jobId).foreach { case (l, start) =>
        stats(l).jobSpans += ((start * 1000L, e.time * 1000L))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Probe.this.synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(LabelKey)))
        .foreach(l => stageLabel(e.stageInfo.stageId) = l)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Probe.this.synchronized {
      val si = e.stageInfo
      stageLabel.remove(si.stageId).foreach { l =>
        val s = stats(l)
        val m = si.taskMetrics
        s.stages += 1
        s.tasks += si.numTasks
        if (m != null) {
          s.taskBusyMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRecords += m.inputMetrics.recordsRead
          s.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
    // The event behind QueryExecutionListener.onSuccess(funcName, qe,
    // durationNs), read here because only it carries the execution id
    // that ties the action to the operation label of its jobs.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        Probe.this.synchronized {
          for (l <- execLabel.remove(end.executionId); (funcName, qe, ns) <- BenchAccess.finished(end))
            action(l, funcName, qe, ns)
        }
      case _ =>
    }
  }

  private def action(label: String, funcName: String, qe: QueryExecution, ns: Long): Unit = {
    val s = stats(label)
    s.planMs += qe.tracker.phases.values.map(_.durationMs).sum
    val sink = qe.logical.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }.getOrElse("")
    s.actions += ((funcName, sink, ns))
    if (funcName == "count") {
      val nodes = Probe.planNodes(qe.executedPlan)
      s.planNodes += nodes.size
      s.planExchanges += nodes.count(_.isInstanceOf[ShuffleExchangeLike])
      s.planBroadcasts += nodes.count(_.isInstanceOf[BroadcastExchangeLike])
    }
  }

  spark.sparkContext.addSparkListener(listener)

  /** Deliver every queued event, stop listening, and hand each job to
    * the tracer as a span under the benchmark span that contains it. */
  def close(tracer: Tracer): Unit = {
    BenchAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    for ((l, s) <- byLabel; (start, end) <- s.jobSpans.sortBy(_._1))
      tracer.addChild("spark.job", l.takeWhile(_ != '|'), start, end)
  }

  def phases(trace: String): Seq[(String, PhaseStats)] = synchronized {
    byLabel.toSeq.filter(_._1.takeWhile(_ != '|') == trace)
      .map { case (l, s) => l.dropWhile(_ != '|').drop(1) -> s }
  }
}

object Probe {
  val LabelKey = "benchmark.op"

  /** Every node of an executed plan, descending into adaptive plans and
    * query stages (a reused exchange counts as one leaf node). */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case other => other +: other.children.flatMap(planNodes)
  }

  /** Length of the union of intervals, so overlapping jobs count once. */
  def covered(spans: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var first = true
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (first || s > curE) {
        if (!first) total += curE - curS
        curS = s; curE = e; first = false
      } else curE = math.max(curE, e)
    }
    if (first) 0L else total + curE - curS
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
