package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/**
 * Spans around the benchmark's calls into graft, with Spark's own
 * counters attributed to them. Spans are kept in memory and written
 * when the run ends.
 *
 * Attribution: a span start tags the driver thread with the span id via
 * `setLocalProperty`, so every job it (or a thread it spawns) submits
 * carries the id; stages and tasks follow their job. Query-execution
 * callbacks carry no properties, so they go to the innermost open span;
 * each span end drains the listener bus first, which makes that exact
 * for the sequential calls the benchmark makes.
 *
 * When `enabled` is false, `span` only runs its body and the listeners
 * ignore events: the untraced passes of a traced run pay only for two
 * registered listeners.
 */
final class Tracer(spark: SparkSession, val runId: String) {
  import Tracer._

  @volatile var enabled = false

  final class Span(val id: Int, val name: String, val layer: String,
      val parent: Option[Span], val start: Long) {
    @volatile var end: Long = 0L
    val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
    val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
    val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    def seconds: Double = (end - start) / 1e9
    def add(k: String, v: Double): Unit = c.synchronized(c(k) += v)
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var innermost: Option[Span] = None
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val cachedBlocks = new ConcurrentHashMap[RDDBlockId, java.lang.Long]()
  @volatile private var cachedBytes = 0L
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private def ns(ms: Long): Long = ms * 1000000L + nanoOffset

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(SpanProperty)))
      .flatMap(s => Option(byId.get(s.toInt))).orElse(innermost)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled)
      spanOf(e.properties).foreach { s =>
        jobSpan.put(e.jobId, s)
        jobStart.put(e.jobId, ns(e.time))
        e.stageIds.foreach(stageSpan.put(_, s))
        s.add("jobs", 1)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { s =>
        val t0 = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(ns(e.time))
        s.jobs.synchronized(s.jobs += ((t0, ns(e.time))))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.add("stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        if (!e.taskInfo.successful) s.add("tasks_failed", 1)
        s.stageTasks.synchronized(
          s.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration)
        val m = e.taskMetrics
        if (m != null) {
          s.add("task_s", m.executorRunTime / 1e3)
          s.add("gc_s", m.jvmGCTime / 1e3)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
          s.add("task_output_bytes", m.outputMetrics.bytesWritten.toDouble)
          s.add("task_output_records", m.outputMetrics.recordsWritten.toDouble)
        }
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (enabled)
      e.blockUpdatedInfo.blockId match {
        case b: RDDBlockId =>
          val size = e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize
          val prev = Option(if (size > 0) cachedBlocks.put(b, size) else cachedBlocks.remove(b))
            .map(_.longValue).getOrElse(0L)
          cachedBytes += size - prev
          innermost.foreach { s =>
            s.c.synchronized(s.c("persist_bytes") = math.max(s.c("persist_bytes"), cachedBytes.toDouble))
          }
        case _ =>
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) innermost.foreach { s =>
        s.add("actions", 1)
        val phases = qe.tracker.phases
        s.add("compile_s", Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs).sum / 1e3)
        planNodes(qe.executedPlan).collect { case w: DataWritingCommandExec => w }.foreach { w =>
          w.metrics.get("numFiles").foreach(m => s.add("output_files", m.value.toDouble))
          w.metrics.get("numOutputBytes").foreach(m => s.add("output_bytes", m.value.toDouble))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      if (enabled) innermost.foreach { s => s.add("actions", 1); s.add("actions_failed", 1) }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)

  def flush(): Unit = org.apache.spark.sql.GraftSqlBridge.flushListenerBus(spark, 30000)

  /** Run `body` inside a span named `name` of graft layer `layer`. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, layer, stack.headOption, System.nanoTime())
      spans += s
      byId.put(s.id, s)
      stack = s :: stack
      innermost = Some(s)
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        flush()
        s.end = System.nanoTime()
        stack = stack.tail
        innermost = stack.headOption
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def children(s: Span): Seq[Span] = spans.filter(_.parent.contains(s)).toSeq
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Counter summed over a span and its descendants. */
  def total(s: Span, k: String): Double = subtree(s).map(_.c(k)).sum

  def peakPersist(s: Span): Double = subtree(s).map(_.c("persist_bytes")).max

  /** Span wall time not covered by any job: listing, planning, commit,
    * collects and driver-side code. */
  def driverGap(s: Span): Double = {
    val iv = subtree(s).flatMap(_.jobs).map { case (a, b) =>
      (math.max(a, s.start), math.min(b, s.end)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, (s.end - s.start - covered) / 1e9)
  }

  /** max / median task time in the stage with the most task time. */
  def taskSkew(s: Span): Double = {
    val stages = subtree(s).flatMap(_.stageTasks.values)
    if (stages.isEmpty) 1.0
    else {
      val worst = stages.maxBy(_.sum).sorted
      val med = worst(worst.size / 2).max(1L)
      worst.last.toDouble / med
    }
  }

  /** Every span as a JSON record, inclusive counters included. */
  def records: Seq[Json.Obj] = spans.toSeq.map { s =>
    Json.obj(
      "id" -> s.id, "name" -> s.name, "layer" -> s.layer,
      "parent" -> s.parent.map(_.id).getOrElse(-1), "run_id" -> runId,
      "start_s" -> (s.start - spans.head.start) / 1e9, "end_s" -> (s.end - spans.head.start) / 1e9,
      "self" -> Json.obj(s.c.toSeq.sortBy(_._1).map { case (k, v) => k -> (v: Any) }: _*),
      "driver_gap_s" -> driverGap(s), "task_skew" -> taskSkew(s))
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"

  /** Every physical node of an executed plan, including command bodies
    * (write commands run as inner children) and adaptive re-plans. */
  def planNodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Seq[SparkPlan] =
      if (!seen.add(p)) Nil
      else {
        val nested = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case _ => Nil
        }
        p +: (p.children ++ p.innerChildren.collect { case c: SparkPlan => c } ++ nested)
          .flatMap(walk)
      }
    walk(root)
  }
}
