package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Execution counters the benchmark takes from its own listener. */
final class ExecListener extends SparkListener {
  private val jobs, tasks, taskMs, shuffleBytes, inputBytes, inputRows =
    new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.taskInfo != null) taskMs.addAndGet(e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      inputRows.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "tasks" -> tasks.get.toDouble,
    "task_s" -> taskMs.get / 1e3, "shuffle_bytes" -> shuffleBytes.get.toDouble,
    "input_bytes" -> inputBytes.get.toDouble, "input_rows" -> inputRows.get.toDouble)
}

/** Times the benchmark's calls into the engine. Every op is timed; in a
  * traced pass each op also carries counter deltas (filesystem requests,
  * Spark jobs/tasks/bytes, codegen) and spans around each layer call.
  * Spans and op records stay in memory until [[Recorder.result]]. */
final class Recorder(spark: SparkSession) {
  private val origin = System.nanoTime()
  private def now(): Double = (System.nanoTime() - origin) / 1e9

  private val listener = new ExecListener
  spark.sparkContext.addSparkListener(listener)

  /** Whether the current pass records spans and counter deltas. */
  var tracing = false
  private var pass = -1
  private val passes = ArrayBuffer.empty[Map[String, Any]]
  private val ops = ArrayBuffer.empty[Map[String, Any]]
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private val gauges = ArrayBuffer.empty[Map[String, Any]]
  private var spanStack: List[Int] = Nil
  private var opId = -1

  private def counters(): Map[String, Double] =
    sparkWork() ++
      CountingFs.snapshot().map { case (k, v) => s"fs.$k" -> v.toDouble } ++
      Map("codegen_s" -> CodeGenerator.compileTime / 1e9,
        "codegen_n" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)

  /** Spark work (jobs, tasks, task time, bytes) done so far, after the
    * events of finished work have reached the listener. */
  private def sparkWork(): Map[String, Double] = {
    PerfbenchBus.drain(spark.sparkContext)
    listener.snapshot()
  }

  /** Runs `body` as a span named after the layer it calls into. The span
    * carries the Spark work done inside it. */
  def span[A](layer: String)(body: => A): A =
    if (!tracing) body
    else {
      val id = spans.size
      spans += null // reserve the id; filled in when the span ends
      val parent = spanStack.headOption.getOrElse(-1)
      spanStack = id :: spanStack
      val work0 = sparkWork()
      val start = now()
      try body
      finally {
        val end = now()
        val work = sparkWork().map { case (k, v) => k -> (v - work0(k)) }
        spanStack = spanStack.tail
        spans(id) = Map("id" -> id, "parent" -> parent, "op" -> opId,
          "name" -> layer, "start" -> start, "end" -> end, "spark" -> work)
      }
    }

  /** Times one op. `units` counts what the op produced (result rows,
    * ingested rows); `check` turns a wrong result into a failed op.
    * Returns the body's value, or None when the op failed. */
  def op[A](phase: String, kind: String, name: String,
      units: A => Double = (_: A) => 0.0,
      check: A => Option[String] = (_: A) => None)(body: => A): Option[A] = {
    val before = if (tracing) counters() else Map.empty[String, Double]
    opId = ops.size
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    val err = res match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) => try check(v) catch { case NonFatal(e) => Some(e.toString) }
    }
    val deltas =
      if (tracing) { val after = counters(); after.map { case (k, v) => k -> (v - before(k)) } }
      else Map.empty[String, Double]
    ops += Map("phase" -> phase, "kind" -> kind, "name" -> name,
      "pass" -> pass, "traced" -> tracing, "s" -> sec, "ok" -> err.isEmpty,
      "err" -> err.getOrElse(""),
      "units" -> res.toOption.map(v => units(v)).getOrElse(0.0)) ++
      (if (tracing) Map("counters" -> deltas) else Map.empty)
    opId = -1
    res.toOption.filter(_ => err.isEmpty)
  }

  /** Runs one pass of the workload's op list and records its wall time
    * and the task time Spark spent on it. */
  def timedPass(traced: Boolean)(body: => Unit): Unit = {
    pass += 1
    val task0 = sparkWork()("task_s")
    tracing = traced
    val t0 = System.nanoTime()
    body
    val sec = (System.nanoTime() - t0) / 1e9
    tracing = false
    passes += Map("pass" -> pass, "traced" -> traced, "s" -> sec,
      "task_s" -> (sparkWork()("task_s") - task0))
  }

  /** A value read off the system outside any op (file counts, bytes). */
  def gauge(name: String, value: Double): Unit =
    gauges += Map("name" -> name, "value" -> value, "pass" -> pass)

  def result: Map[String, Any] = Map("ops" -> ops.toSeq,
    "passes" -> passes.toSeq, "spans" -> spans.toSeq, "gauges" -> gauges.toSeq)
}
