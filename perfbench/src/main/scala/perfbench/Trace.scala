package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Spans of one run share `run`. */
final case class Span(id: Int, parent: Int, name: String, run: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans and per-layer counters of one run, kept in memory.
  *
  * Off (`on = false`), `span` only runs its body: nothing is recorded and
  * no listener is attached, which is how the end-to-end numbers are taken.
  * On, each span tags the Spark jobs it starts with its layer name (a job
  * local property), and the listeners sum task metrics, planning phases,
  * scan sizes and streaming progress per layer.
  */
final class Trace(val on: Boolean, val run: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0

  /** Counter sums per layer: (layer, counter) → value. */
  private val sums = new ConcurrentHashMap[(String, String), Double]()
  def add(layer: String, counter: String, v: Double): Unit =
    sums.merge((layer, counter), v, (a: Double, b: Double) => a + b)
  def get(layer: String, counter: String): Double =
    Option(sums.get((layer, counter))).getOrElse(0.0)
  def max(layer: String, counter: String, v: Double): Unit =
    sums.merge((layer, counter), v, (a: Double, b: Double) => math.max(a, b))

  /** Task run intervals of the current query, for its idle time. */
  private val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  def clearTaskIntervals(): Unit = taskIntervals.synchronized(taskIntervals.clear())
  def coveredMs(from: Long, to: Long): Long = taskIntervals.synchronized {
    val sorted = taskIntervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    sorted.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      val sc = SparkSession.active.sparkContext
      val prevLayer = sc.getLocalProperty(Trace.LayerProp)
      val prevCurrent = currentLayerVar
      sc.setLocalProperty(Trace.LayerProp, name)
      currentLayerVar = name
      val t0 = System.nanoTime()
      open.push(id)
      try body
      finally {
        val t1 = System.nanoTime()
        open.pop()
        spans += Span(id, parent, name, run, t0, t1)
        // deliver this span's events while it is still the current layer
        drain(SparkSession.active)
        sc.setLocalProperty(Trace.LayerProp, prevLayer)
        currentLayerVar = prevCurrent
      }
    }

  def allSpans: Seq[Span] = spans.toSeq

  /** Tag the jobs of `body` with `layer` without recording a span: set-up
    * and correctness checks, kept out of the layer and engine totals. */
  def tag[T](layer: String)(body: => T): T =
    if (!on) body
    else {
      val sc = SparkSession.active.sparkContext
      val prev = sc.getLocalProperty(Trace.LayerProp)
      sc.setLocalProperty(Trace.LayerProp, layer)
      try body
      finally { drain(SparkSession.active); sc.setLocalProperty(Trace.LayerProp, prev) }
    }

  /** Forget everything recorded so far (set-up work before the loop). */
  def reset(): Unit = {
    if (on) drain(SparkSession.active)
    spans.clear(); sums.clear(); clearTaskIntervals()
  }

  /** Self time per span name: duration minus the time child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  // ------------------------------------------------------------ listeners

  private val stageLayer = new ConcurrentHashMap[Int, String]()

  private def layerOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Trace.LayerProp))).getOrElse("other")

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val layer = layerOf(e.properties)
      e.stageIds.foreach(s => stageLayer.put(s, layer))
      add(layer, "jobs", 1)
      if (!Trace.untimed(layer)) add("spark", "jobs", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val layer = Option(stageLayer.get(e.stageId)).getOrElse("other")
      val m = e.taskMetrics
      val timed = !Trace.untimed(layer)
      add(layer, "tasks", 1)
      if (timed) add("spark", "tasks", 1)
      if (e.taskInfo != null && layer == "queries")
        taskIntervals.synchronized(taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime)))
      if (m != null) {
        val cpu = m.executorCpuTime / 1e9
        add(layer, "cpu_s", cpu)
        if (timed) add("spark", "cpu_s", cpu)
        add(layer, "shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(layer, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add(layer, "bytes_read", m.inputMetrics.bytesRead.toDouble)
        add(layer, "bytes_written", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Planning phases, plan size and scan sizes of every action. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val layer = currentLayerVar
      val planMs = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      add(layer, "plan_s", planMs / 1e3)
      val plan = qe.optimizedPlan
      var nodes = 0; var native = 0
      plan.foreach { n =>
        nodes += 1
        n.expressions.foreach(_.foreach { e =>
          if (e.getClass.getName.startsWith("graft.")) native += 1
        })
      }
      add(layer, "plan_nodes", nodes); add(layer, "native_expr_nodes", native)
      val scans = PlanWalk.collect(qe.executedPlan) { case s: FileSourceScanExec => s }
      scans.foreach { s =>
        add(layer, "files_scanned", s.metrics.get("numFiles").map(_.value).getOrElse(0L).toDouble)
        add(layer, "bytes_scanned", s.metrics.get("filesSize").map(_.value).getOrElse(0L).toDouble)
      }
    }
  }

  /** A QueryExecutionListener fires on the listener thread, which does not
    * see the driver thread's job properties, so the innermost open span
    * stands in; `span` drains the bus before it closes. */
  @volatile private var currentLayerVar: String = "other"

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala
      add("streaming", "batches", 1)
      add("streaming", "input_rows", p.numInputRows.toDouble)
      add("streaming", "add_batch_s", d.get("addBatch").map(_.doubleValue).getOrElse(0.0) / 1e3)
      add("streaming", "planning_s", d.get("queryPlanning").map(_.doubleValue).getOrElse(0.0) / 1e3)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Block until the listener bus has delivered every event posted so far,
    * so counters read after a call include all of its jobs. */
  def drain(spark: SparkSession): Unit =
    if (on) org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
}

object Trace {
  val LayerProp = "perfbench.layer"
  /** Job tags of work outside the timed windows. */
  val Setup = "setup"
  val Check = "check"
  def untimed(layer: String): Boolean = layer == Setup || layer == Check
}
