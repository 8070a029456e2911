package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run. `parent` is -1 for the root. */
final case class Span(id: Int, name: String, parent: Int, startMs: Long, startNs: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task-level totals, in Spark's own units (ms, ns, bytes). */
final class TaskTotals {
  var tasks, failed = 0L
  var runMs, cpuNs, gcMs, queueMs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes, inputRows, outputBytes = 0L
  def add(o: TaskTotals): Unit = {
    tasks += o.tasks; failed += o.failed; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; queueMs += o.queueMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; inputBytes += o.inputBytes
    inputRows += o.inputRows; outputBytes += o.outputBytes
  }
}

/** What one QueryExecution reported: its Catalyst phases (with the epoch
  * start used to place it in a span) and the index-build operator counters
  * read from its executed plan.
  */
final case class QeRecord(startMs: Long, analysisMs: Long, optimizerMs: Long, planningMs: Long,
    ops: Map[String, Double])

/** Spans kept in memory plus a SparkListener and QueryExecutionListener
  * attached from outside the program. Every job is tagged with the span that
  * was open when it started through the `perfbench.span` local property.
  * `listenerDelayMs` slows the listener so the self-test can trip the drain
  * time limit.
  */
final class Tracer(spark: SparkSession, listenerDelayMs: Long = 0L) {
  private val sc: SparkContext = spark.sparkContext
  /** The root span; the timed passes are its children. */
  val root: Span = Span(0, "run", -1, System.currentTimeMillis(), System.nanoTime())
  val spans = mutable.ArrayBuffer(root)
  private var open: List[Span] = List(root)
  @volatile var partial = false

  // Listener state, written on the listener-bus thread.
  private val lock = new Object
  val jobSpan = mutable.HashMap.empty[Int, Int]
  val jobEndMs = mutable.HashMap.empty[Int, Long]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]
  val stagesBySpan = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
  val tasksBySpan = mutable.HashMap.empty[Int, TaskTotals]
  val qeRecords = mutable.ArrayBuffer.empty[QeRecord]
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var blockTotal = 0L
  var blockPeak = 0L
  private var marker: CountDownLatch = null
  private val markerJobs = mutable.HashSet.empty[Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val span = spanOf(e.properties)
      if (span == Tracer.MarkerSpan) markerJobs += e.jobId else jobSpan(e.jobId) = span
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      if (listenerDelayMs > 0) Thread.sleep(listenerDelayMs)
      if (markerJobs.remove(e.jobId)) { if (marker != null) marker.countDown() }
      else jobEndMs(e.jobId) = e.time
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
      stageSubmitMs(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val span = stageSpan.getOrElse(e.stageInfo.stageId, -1)
      if (span != Tracer.MarkerSpan) stagesBySpan(span) += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val span = stageSpan.getOrElse(e.stageId, -1)
      val t = if (span == Tracer.MarkerSpan) new TaskTotals
        else tasksBySpan.getOrElseUpdate(span, new TaskTotals)
      t.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) t.failed += 1
      t.queueMs += math.max(0L, e.taskInfo.launchTime - stageSubmitMs.getOrElse(e.stageId, e.taskInfo.launchTime))
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime; t.cpuNs += m.executorCpuTime; t.gcMs += m.jvmGCTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.diskBytesSpilled
        t.inputBytes += m.inputMetrics.bytesRead; t.inputRows += m.inputMetrics.recordsRead
        t.outputBytes += m.outputMetrics.bytesWritten
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val id = info.blockId.name
        blockTotal -= blockBytes.remove(id).getOrElse(0L)
        if (info.storageLevel.isValid) {
          blockBytes(id) = info.memSize + info.diskSize
          blockTotal += info.memSize + info.diskSize
        }
        blockPeak = math.max(blockPeak, blockTotal)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Keep a finished QueryExecution's phases and operator counters. */
  def record(qe: QueryExecution): Unit = {
    val rec = Tracer.record(qe)
    lock.synchronized(qeRecords += rec)
  }

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Property))).map(_.toInt).getOrElse(-1)

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(listener)
  }

  /** Wait until the listener has seen every event posted so far: run one
    * tiny marker job and wait for its end event, which the bus delivers after
    * all earlier events. Gives up after `limitMs` and marks the trace partial.
    */
  def drain(limitMs: Long): Boolean = {
    val latch = new CountDownLatch(1)
    lock.synchronized { marker = latch }
    sc.setLocalProperty(Tracer.Property, Tracer.MarkerSpan.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.Property, open.headOption.map(_.id.toString).orNull)
    val done = latch.await(limitMs, TimeUnit.MILLISECONDS)
    lock.synchronized { marker = null }
    if (!done) partial = true
    done
  }

  /** Run `body` inside a new span, tagging the jobs it starts. */
  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, name, open.headOption.map(_.id).getOrElse(-1),
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty(Tracer.Property, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(Tracer.Property, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Ids of span `top` and every span below it. */
  def subtree(top: Int): Set[Int] = {
    val children = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: children.getOrElse(id, Nil).flatMap(s => go(s.id)).toSeq
    go(top).toSet
  }

  /** QueryExecutions whose planning started inside span `s`'s interval. */
  def qesIn(s: Span): Seq[QeRecord] = lock.synchronized {
    qeRecords.filter(r => r.startMs >= s.startMs && r.startMs <= s.endMs).toSeq
  }

  def locked[T](body: => T): T = lock.synchronized(body)
}

object Tracer {
  val Property = "perfbench.span"
  val MarkerSpan: Int = -2

  /** Phases and operator counters of one finished QueryExecution. */
  def record(qe: QueryExecution): QeRecord = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val start = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).min
    QeRecord(start, ms("analysis"), ms("optimization"), ms("planning"), operatorCounters(qe.executedPlan))
  }

  /** Index-build counters from the executed (post-AQE) plan: generated
    * tokens, partial/final aggregate rows and time, exchange bytes and sort
    * time. Timing metrics are in ms.
    */
  def operatorCounters(root: SparkPlan): Map[String, Double] = {
    val acc = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    def metric(p: SparkPlan, name: String): Double = p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
          p.nodeName match {
            case "Generate" => acc("tokens") += metric(p, "numOutputRows")
            case "Exchange" => acc("exchange_bytes") += metric(p, "dataSize")
            case "Sort" => acc("sort_ms") += metric(p, "sortTime")
            case _ =>
          }
          p match {
            case a: BaseAggregateExec =>
              acc("agg_ms") += metric(a, "aggTime")
              if (a.aggregateExpressions.exists(_.mode == Partial)) acc("partial_rows") += metric(a, "numOutputRows")
              if (a.aggregateExpressions.exists(_.mode == Final)) acc("final_rows") += metric(a, "numOutputRows")
            case _ =>
          }
          p.children.foreach(walk)
      }
    }
    walk(root)
    acc.toMap
  }
}
