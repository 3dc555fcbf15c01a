package bench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{BenchBridge, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLAdaptiveSQLMetricUpdates, SparkListenerSQLExecutionStart}

/** Everything a run measures, kept in memory and written once at the end.
  *
  * Untraced runs record only op samples (one per timed operation), checks
  * and counters. Traced runs also record spans at every call the benchmark
  * makes into a program module, and attach [[EngineListener]], which
  * attributes Spark jobs, stages and executed-plan SQL metrics to the span
  * that submitted them through the `bench.span` local property.
  *
  * Times are nanoseconds since the recorder's anchor; listener times (epoch
  * milliseconds) are mapped onto the same axis with `epochMs0`. */
final class Recorder(val trace: Boolean) {
  val nano0: Long = System.nanoTime()
  val epochMs0: Long = System.currentTimeMillis()
  def now(): Long = System.nanoTime() - nano0

  final class Op(val id: Long, val kind: String, val pass: Int, val start: Long) {
    var end = 0L
    var ok = true
    var error = ""
  }
  final class Span(val id: Long, val parent: Long, val op: Long,
                   val layer: String, val name: String, val start: Long) {
    var end = 0L
  }

  val ops = ArrayBuffer[Op]()
  val spans = ArrayBuffer[Span]()
  val checks = ArrayBuffer[(String, Boolean, String)]()
  val counters = mutable.LinkedHashMap[String, Double]()
  val opCounters = ArrayBuffer[(Long, String, Double)]()
  var pass = 0

  private var nextId = 1L
  private val stack = ArrayBuffer[Span]()
  private var currentOp: Option[Op] = None
  private var sc: SparkContext = _
  private var listener: EngineListener = _
  private val held = mutable.Set[Int]()
  private val leaked = mutable.Set[Int]()

  /** Bind to a (new) session; a traced recorder listens to its engine. */
  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    if (trace) {
      if (listener == null) listener = new EngineListener
      sc.addSparkListener(listener)
    }
  }

  def engine: Option[EngineListener] = Option(listener)

  def drain(): Unit = if (sc != null) BenchBridge.drainListenerBus(sc)

  private def open(layer: String, name: String, opId: Long): Span = {
    val s = new Span(nextId, stack.lastOption.map(_.id).getOrElse(0L), opId,
      layer, name, now())
    nextId += 1
    spans += s
    stack += s
    sc.setLocalProperty(EngineListener.SpanKey, s.id.toString)
    s
  }

  private def close(s: Span): Unit = {
    s.end = now()
    stack.remove(stack.size - 1)
    sc.setLocalProperty(EngineListener.SpanKey,
      stack.lastOption.map(_.id.toString).orNull)
  }

  /** A region above the ops (run, workload, setup); traced runs only. */
  def region[A](name: String)(body: => A): A =
    if (!trace) body
    else {
      val s = open("run", name, 0L)
      try body finally close(s)
    }

  /** One timed operation of the closed loop. A throwing op is recorded as
    * failed and the exception propagates. */
  def op[A](kind: String)(body: => A): A = {
    val o = new Op(nextId, kind, pass, now())
    nextId += 1
    ops += o
    currentOp = Some(o)
    val s = if (trace) Some(open("op", kind, o.id)) else None
    try body
    catch {
      case e: Throwable =>
        o.ok = false
        o.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        throw e
    } finally {
      o.end = now()
      s.foreach(close)
      currentOp = None
      if (trace) sampleLeaks(o)
    }
  }

  /** A call into a program module (traced runs record a span). */
  def call[A](layer: String, name: String)(body: => A): A =
    if (!trace) body
    else {
      val s = open(layer, name, currentOp.map(_.id).getOrElse(0L))
      try body
      finally {
        close(s)
        // eager persists an operator leaves behind at construction
        if (layer == "operators.dedup")
          opCounters += ((s.op, s"$layer.cached_bytes", cachedBytes().toDouble))
      }
    }

  /** The last op started, for checks made after it. */
  def lastOp: Op = ops.last

  def check(name: String, ok: Boolean, detail: => String = "",
            op: Option[Op] = None): Boolean = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) op.orElse(currentOp).orElse(ops.lastOption).foreach { o =>
      o.ok = false
      if (o.error.isEmpty) o.error = s"check $name failed"
    }
    ok
  }

  def count(name: String, v: Double): Unit =
    counters(name) = counters.getOrElse(name, 0.0) + v

  def maxOf(name: String, v: Double): Unit =
    counters(name) = math.max(counters.getOrElse(name, v), v)

  /** A quantity of the current op, or of the op that just ended. */
  def opCount(name: String, v: Double): Unit =
    opCounters += ((currentOp.orElse(ops.lastOption).map(_.id).getOrElse(0L), name, v))

  /** Persisted data the benchmark itself holds across ops (a selected
    * batch read once and written twice) is not counted as leaked. */
  def holding[A](body: => A): A =
    if (!trace) body
    else {
      val before = sc.getPersistentRDDs.keySet
      val r = body
      held ++= sc.getPersistentRDDs.keySet -- before
      r
    }

  /** Bytes of cached RDD blocks, memory and disk. */
  def cachedBytes(): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def sampleLeaks(o: Op): Unit = {
    drain()
    val live = sc.getPersistentRDDs.keySet.toSet
    held.filterInPlace(live.contains)
    val fresh = live -- held -- leaked
    leaked ++= fresh
    leaked.filterInPlace(live.contains)
    opCounters += ((o.id, "core.leaked_persists", fresh.size.toDouble))
    maxOf("core.cached_bytes", cachedBytes().toDouble)
  }

  def record(): Map[String, Any] = Map(
    "epoch_ms0" -> epochMs0,
    "ops" -> ops.map(o => Map("id" -> o.id, "kind" -> o.kind, "pass" -> o.pass,
      "start_ns" -> o.start, "end_ns" -> o.end, "ok" -> o.ok,
      "error" -> o.error)),
    "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "layer" -> s.layer, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end)),
    "checks" -> checks.map { case (n, ok, d) =>
      Map("name" -> n, "ok" -> ok, "detail" -> d) },
    "counters" -> counters,
    "op_counters" -> opCounters.map { case (o, n, v) =>
      Map("op" -> o, "name" -> n, "value" -> v) },
    "engine" -> engine.map(_.record()).getOrElse(Map.empty))
}

/** Benchmark-side engine listener: jobs, per-stage task aggregates and the
  * SQL metrics of executed (AQE-final) plans, each tagged with the span and
  * SQL execution that submitted it. */
final class EngineListener extends SparkListener {
  import EngineListener._

  private final class Stage(val span: Long, val exec: Long) {
    var tasks = 0L
    var runMs = 0L
    var gcMs = 0L
    var durMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    val accums = mutable.HashMap[Long, Long]()
  }

  private val jobs = mutable.LinkedHashMap[Int, Array[Long]]()
  private val stages = mutable.LinkedHashMap[(Int, Int), Stage]()
  private val meta = mutable.HashMap[Long, (String, String, String)]()
  private val driverAccums = ArrayBuffer[(Long, Long, Long)]()

  private def prop(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k)))
      .flatMap(_.toLongOption).getOrElse(-1L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Array(prop(e.properties, SpanKey),
      prop(e.properties, ExecKey), e.time, 0L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_(3) = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    stages(key) = new Stage(prop(e.properties, SpanKey), prop(e.properties, ExecKey))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.tasks += 1
      s.durMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
      }
      e.taskInfo.accumulables.foreach { a =>
        if (!a.name.exists(_.startsWith("internal."))) a.update match {
          case Some(v: Long) => s.accums(a.id) = s.accums.getOrElse(a.id, 0L) + v
          case _ =>
        }
      }
    }
  }

  private def plan(info: SparkPlanInfo): Unit = {
    info.metrics.foreach(m =>
      meta(m.accumulatorId) = (m.name, m.metricType, info.nodeName))
    info.children.foreach(plan)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => plan(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => plan(u.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveSQLMetricUpdates =>
        u.sqlPlanMetrics.foreach(m =>
          meta(m.accumulatorId) = (m.name, m.metricType, "adaptive"))
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) => driverAccums += ((d.executionId, id, v)) }
      case _ =>
    }
  }

  def record(): Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.map { case (id, a) => Map("job" -> id, "span" -> a(0),
        "exec" -> a(1), "start_ms" -> a(2), "end_ms" -> a(3)) },
      "stages" -> stages.map { case ((id, att), s) => Map("stage" -> id,
        "attempt" -> att, "span" -> s.span, "exec" -> s.exec,
        "tasks" -> s.tasks, "run_ms" -> s.runMs,
        "gc_ms" -> s.gcMs, "dur_ms" -> s.durMs,
        "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "spill_bytes" -> s.spillBytes,
        "accums" -> s.accums.map { case (k, v) => k.toString -> v }) },
      "driver_accums" -> driverAccums.map { case (x, a, v) =>
        Map("exec" -> x, "acc" -> a, "value" -> v) },
      "metric_meta" -> meta.map { case (id, (n, t, node)) =>
        id.toString -> Seq(n, t, node) })
  }
}

object EngineListener {
  val SpanKey = "bench.span"
  val ExecKey = "spark.sql.execution.id"
}
