package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** In-memory span recorder for the traced run. The harness opens one
  * span per operation and per layer call; the listener adds one span
  * per SQL execution, job and stage, with task counters summed onto
  * the stage. Everything is held in memory and written at the end.
  *
  * Attribution: the harness tags each operation and layer call with
  * Spark local properties, so jobs (and through them stages and tasks)
  * carry the operation and layer that caused them. SQL executions,
  * plan phases and block updates carry no properties; the harness
  * drains the listener bus at the end of every operation, so every
  * such event processed while an operation is open belongs to it.
  */
final class Tracer(val sc: SparkContext) extends SparkListener with QueryExecutionListener {
  import Tracer._

  /** Clock shared by harness and listener spans: epoch milliseconds. */
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var currentOp: String = ""
  private val stageOf = mutable.HashMap.empty[(Int, Int), Span] // (stage, attempt)
  private val jobOf = mutable.HashMap.empty[Int, Span]
  private val sqlOf = mutable.HashMap.empty[Long, Span]
  private val stageJob = mutable.HashMap.empty[Int, Span]

  // ------------------------------------------------------ harness side
  def beginOp(op: String, name: String, parent: String): Span = synchronized {
    currentOp = op
    sc.setLocalProperty(OpKey, op)
    val s = Span(s"op:$op", name, "op", nowMs, parent, op)
    spans += s
    s
  }

  def endOp(s: Span): Unit = {
    s.end = nowMs
    drain(sc)
    synchronized { currentOp = "" }
    sc.setLocalProperty(OpKey, null)
    sc.setLocalProperty(LayerKey, null)
  }

  /** Time one layer call of the open operation. */
  def layer[T](op: String, name: String)(body: => T): T = {
    val s = Span(s"layer:$op:$name", name, "layer", nowMs, s"op:$op", op)
    sc.setLocalProperty(LayerKey, s.id)
    try body
    finally {
      s.end = nowMs
      sc.setLocalProperty(LayerKey, null)
      synchronized { spans += s }
    }
  }

  // ------------------------------------------------------ listener side
  private def opOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(OpKey))).getOrElse(currentOp)

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        val s = Span(s"sql:${e.executionId}", e.description.take(80), "sql", e.time.toDouble,
          if (currentOp.nonEmpty) s"op:$currentOp" else "", currentOp)
        sqlOf(e.executionId) = s
        spans += s
      case e: SparkListenerSQLExecutionEnd =>
        sqlOf.get(e.executionId).foreach(_.end = e.time.toDouble)
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = e.properties
    val layer = Option(props).flatMap(p => Option(p.getProperty(LayerKey)))
    val sqlId = Option(props).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val op = opOf(props)
    val parent = sqlId.filter(sqlOf.contains).map(id => s"sql:$id")
      .orElse(layer).getOrElse(if (op.nonEmpty) s"op:$op" else "")
    val s = Span(s"job:${e.jobId}", s"job ${e.jobId}", "job", e.time.toDouble, parent, op)
    s.counters("stages") = e.stageIds.size.toDouble
    jobOf(e.jobId) = s
    e.stageIds.foreach(stageJob(_) = s)
    spans += s
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOf.get(e.jobId).foreach { s =>
      s.end = e.time.toDouble
      if (e.jobResult != JobSucceeded) s.counters("failed") = 1
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    val job = stageJob.get(info.stageId)
    val s = Span(s"stage:${info.stageId}.${info.attemptNumber()}", info.name, "stage",
      info.submissionTime.map(_.toDouble).getOrElse(nowMs),
      job.map(_.id).getOrElse(""), job.map(_.op).getOrElse(currentOp))
    s.counters("tasks") = 0
    stageOf((info.stageId, info.attemptNumber())) = s
    spans += s
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOf.get((info.stageId, info.attemptNumber())).foreach { s =>
      s.end = info.completionTime.map(_.toDouble).getOrElse(nowMs)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOf.get((e.stageId, e.stageAttemptId)).foreach { s =>
      val c = s.counters
      def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v
      add("tasks", 1)
      if (!e.taskInfo.successful) add("failed_tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        add("task_run_ms", m.executorRunTime.toDouble)
        add("task_cpu_ms", m.executorCpuTime / 1e6)
        add("gc_ms", m.jvmGCTime.toDouble)
        add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  /** Block updates of RDD blocks: the bytes a fence or persist stored. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid && currentOp.nonEmpty) {
      val s = Span(s"block:${spans.size}", info.blockId.name, "block", nowMs, s"op:$currentOp",
        currentOp)
      s.end = s.start
      s.counters("bytes") = (info.memSize + info.diskSize).toDouble
      spans += s
    }
  }

  // --------------------------------------- QueryExecutionListener side
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planEvent(funcName, qe, durationNs, failed = false)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planEvent(funcName, qe, 0L, failed = true)

  /** One record per named execution: its function name, the write
    * format it sinks to (if any), and the `QueryPlanningTracker`
    * phases of its plan.
    */
  private def planEvent(funcName: String, qe: QueryExecution, durationNs: Long,
                        failed: Boolean): Unit = synchronized {
    if (currentOp.nonEmpty) {
      val s = Span(s"exec:${spans.size}", funcName, "exec", nowMs, s"op:$currentOp", currentOp)
      s.end = s.start
      s.attrs("sink") = qe.logical.collectFirst {
        case c: InsertIntoHadoopFsRelationCommand => c.fileFormat.toString.toLowerCase
      }.getOrElse("")
      qe.tracker.phases.foreach { case (phase, p) => s.counters(s"${phase}_ms") = p.durationMs }
      s.counters("duration_ms") = durationNs / 1e6
      if (failed) s.counters("failed") = 1
      spans += s
    }
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val LayerKey = "perfbench.layer"

  final case class Span(id: String, name: String, kind: String, start: Double,
                        parent: String, op: String) {
    var end: Double = Double.NaN
    val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
    val attrs: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
    def toJson: Any = Map(
      "id" -> id, "name" -> name, "kind" -> kind, "start" -> start, "end" -> end,
      "parent" -> parent, "op" -> op, "counters" -> counters.toMap, "attrs" -> attrs.toMap)
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
