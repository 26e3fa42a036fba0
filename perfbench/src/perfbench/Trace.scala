package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of a run: spans on the main thread plus Spark's
  * public listener events, each tagged with the id of the operation
  * that was running.
  *
  * Spans are recorded only while tracing is on; otherwise [[span]] is a
  * plain call. Listener events are attributed through `currentOp`:
  * [[endOp]] drains the listener bus before the next operation starts,
  * so every event of operation k is delivered while `currentOp == k`.
  */
final class Tracer(spark: SparkSession) {
  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble

  /** Nanotime → epoch milliseconds (the clock listener events use). */
  def epochMs(nano: Long): Double = baseEpochMs + (nano - baseNano) / 1e6

  @volatile private var on = false
  @volatile private var currentOp = -1
  private var installed = false

  val spans = ArrayBuffer.empty[Map[String, Any]]
  private var stack = List.empty[Int]

  // listener records; appended on the listener-bus thread
  val jobs = ArrayBuffer.empty[Map[String, Any]]
  val stages = ArrayBuffer.empty[Map[String, Any]]
  val executions = ArrayBuffer.empty[Map[String, Any]]
  private val jobStarts = scala.collection.mutable.Map.empty[Int, (Long, Int)]

  /** Register the listeners and record spans, or (`false`) remove them. */
  def enable(tracing: Boolean): Unit = {
    if (tracing && !installed) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    } else if (!tracing && installed) {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    installed = tracing
    on = tracing
  }

  def beginOp(op: Int): Unit = { currentOp = op; stack = Nil }

  def endOp(): Unit = {
    if (installed)
      org.apache.spark.sql.graftshim.Bridge.drainListenerBus(spark.sparkContext)
    currentOp = -1
  }

  /** Time `f` as a span named `layer.call` under the innermost open span. */
  def span[A](name: String)(f: => A): A =
    if (!on || currentOp < 0) f
    else {
      val id = spans.length
      val parent = stack.headOption
      val t0 = System.nanoTime()
      spans += Map.empty // reserve the id; filled in below
      stack = id :: stack
      try f
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans(id) = Map("id" -> id, "name" -> name,
          "layer" -> name.takeWhile(_ != '.'), "op" -> currentOp,
          "parent" -> parent, "start_ms" -> epochMs(t0),
          "end_ms" -> epochMs(t1))
      }
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = currentOp
      if (op >= 0) synchronized { jobStarts(e.jobId) = (e.time, op) }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (t0, op) =>
        jobs += Map("id" -> e.jobId, "op" -> op,
          "start_ms" -> t0.toDouble, "end_ms" -> e.time.toDouble)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val op = currentOp
      val si = e.stageInfo
      if (op >= 0 && si.submissionTime.isDefined) {
        val m = si.taskMetrics
        val row = Map[String, Any](
          "id" -> si.stageId, "op" -> op,
          "start_ms" -> si.submissionTime.get.toDouble,
          "end_ms" -> si.completionTime.getOrElse(si.submissionTime.get).toDouble,
          "tasks" -> si.numTasks,
          "cpu_s" -> (if (m == null) 0.0 else m.executorCpuTime / 1e9),
          "run_s" -> (if (m == null) 0.0 else m.executorRunTime / 1e3),
          "gc_s" -> (if (m == null) 0.0 else m.jvmGCTime / 1e3),
          "shuffle_write_b" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
          "input_b" -> (if (m == null) 0L else m.inputMetrics.bytesRead))
        synchronized { stages += row }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, ok = false)

    private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
      val op = currentOp
      if (op >= 0) {
        val phases = qe.tracker.phases
        def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        val planBytes = scala.util.Try(qe.executedPlan.toString.length.toLong).getOrElse(0L)
        synchronized {
          executions += Map("op" -> op, "func" -> funcName, "ok" -> ok,
            "analysis_s" -> ms("analysis") / 1e3,
            "optimization_s" -> ms("optimization") / 1e3,
            "planning_s" -> ms("planning") / 1e3,
            "plan_bytes" -> planBytes)
        }
      }
    }
  }

  def record: Map[String, Any] = synchronized {
    Map("spans" -> spans.toSeq, "jobs" -> jobs.toSeq, "stages" -> stages.toSeq,
      "executions" -> executions.toSeq)
  }
}
