package etlbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import graft.Metrics
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: name (`layer.thing`), start and end
  * (System.nanoTime), parent span, and the operation it belongs to. Spark
  * work is attributed to exactly this span through the [[Tracer.Prop]]
  * local property, which Spark copies into every job it starts. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
                 val pass: Int, val start: Long) {
  var end = 0L
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var planningMs = 0L
  /** (start, end) wall-clock ms of each job this span started. */
  val jobMs = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Task totals and latency (span plus bus drain) of the whole
    * operation; set on operation spans only. */
  var totals: Metrics.TaskTotals = _
  var latencyS = 0.0
  def wallS: Double = (end - start) / 1e9
}

/** Span recorder. Disabled, [[op]] only times the call and [[span]] is a
  * plain call, so untraced runs pay two `nanoTime` reads per operation.
  * Enabled, every operation runs under `Metrics.measure` (which drains the
  * listener bus before returning, so all of an operation's events are
  * attributed before the next one starts) and nested spans set the local
  * property. Spans stay in memory; [[json]] writes them once at the end. */
final class Tracer(spark: SparkSession) {
  import Tracer.Prop

  var enabled = false
  var pass = 0
  /** Time tracing added on the client thread: the listener-bus drains
    * around each traced operation. */
  var overheadS = 0.0
  val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private var stack: List[Span] = Nil
  @volatile private var currentOp: Span = _
  private val sc = spark.sparkContext

  // listener-bus state (single bus thread); read after the bus is drained
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, (Span, Long)]()
  private val execSpan = new ConcurrentHashMap[Long, Span]()
  private val pendingPlanning = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private def spanOf(props: java.util.Properties): Span =
    Option(props).flatMap(p => Option(p.getProperty(Prop)))
      .map(id => byId.get(id.toInt)).orNull match {
      case null => currentOp
      case s => s
    }

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val s = spanOf(e.properties)
      if (s != null) {
        s.jobs += 1
        jobSpan.put(e.jobId, (s, e.time))
        e.stageIds.foreach(id => stageSpan.put(id, s))
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(x => execSpan.put(x.toLong, s))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (s, t0) => s.jobMs += ((t0, e.time)) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.stages += 1)
    // counts what Metrics.measure counts (tasks that carry metrics), so the
    // two can be compared per operation
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        if (m != null) {
          s.tasks += 1
          s.taskRunMs += m.executorRunTime
          s.taskCpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.inputBytes += m.inputMetrics.bytesRead
        }
      }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) pendingPlanning.add((qe.id, qe.tracker.phases.values.map(_.durationMs).sum))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  private def open(name: String): Span = {
    val parent = stack.headOption
    val id = spans.size
    val s = new Span(id, name, parent.map(_.id).getOrElse(-1),
      parent.map(_.op).getOrElse(id), pass, System.nanoTime())
    spans += s
    byId.put(id, s)
    stack = s :: stack
    sc.setLocalProperty(Prop, id.toString)
    s
  }

  private def close(s: Span): Unit = {
    s.end = System.nanoTime()
    stack = stack.tail
    sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
  }

  /** Times one top-level operation; returns its result and wall seconds. */
  def op[T](name: String)(f: => T): (T, Double) =
    if (!enabled) {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    } else {
      // events of work run between operations (the output checks) are
      // delivered now, while no operation is current, and so dropped
      val tDrain = System.nanoTime()
      ListenerBridge.waitUntilEmpty(sc)
      pendingPlanning.clear()
      var s: Span = null
      val t0 = System.nanoTime()
      val (r, totals) =
        try Metrics.measure(spark) {
          s = open(name)
          currentOp = s
          try f finally close(s)
        } finally currentOp = null
      s.totals = totals
      // planning records of executions that started no job have no
      // execution-id mapping; they belong to the operation that ran them
      while (!pendingPlanning.isEmpty) {
        val (exec, ms) = pendingPlanning.poll()
        Option(execSpan.get(exec)).getOrElse(s).planningMs += ms
      }
      // the operation's latency includes the bus drain that ends it
      s.latencyS = (System.nanoTime() - t0) / 1e9
      overheadS += (t0 - tDrain) / 1e9 + s.latencyS - s.wallS
      (r, s.latencyS)
    }

  /** A nested span inside the current operation. */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = open(name)
      try f finally close(s)
    }

  /** Self time of each span: its wall minus the wall of its children
    * (children run on the caller's thread, so they never overlap). */
  def selfS: Map[Int, Double] = {
    val childWall = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(_.wallS)(_ + _)
    spans.map(s => s.id -> (s.wallS - childWall.getOrElse(s.id, 0.0))).toMap
  }

  /** Union of the job intervals of every span of each operation, seconds. */
  def jobBusyS: Map[Int, Double] =
    spans.groupBy(_.op).map { case (op, ss) =>
      val iv = ss.flatMap(_.jobMs).sortBy(_._1)
      var busy = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { busy += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      busy += curE - curS
      op -> busy / 1e3
    }

  def json: String = {
    val self = selfS
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    spans.map { s =>
      s"""{"id":${s.id},"name":${graft.JsonText.quote(s.name)},"parent":${s.parent},""" +
        s""""op":${s.op},"pass":${s.pass},"start_s":${(s.start - t0) / 1e9},""" +
        s""""end_s":${(s.end - t0) / 1e9},"self_s":${self(s.id)},"jobs":${s.jobs},""" +
        s""""stages":${s.stages},"tasks":${s.tasks},"input_bytes":${s.inputBytes},""" +
        s""""planning_s":${s.planningMs / 1e3},"latency_s":${s.latencyS},""" +
        s""""measured_tasks":${Option(s.totals).map(_.tasks).getOrElse(-1L)},""" +
        s""""measured_input_bytes":${Option(s.totals).map(_.inputBytes).getOrElse(-1L)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  val Prop = "etlbench.span"
}
