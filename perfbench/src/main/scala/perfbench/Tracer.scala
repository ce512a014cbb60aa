package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records Spark's side of every op from outside the engine: a span per
  * job and per SQL execution, per-stage task metrics, files committed by
  * write commands, and query-compile phases. Spans stay in memory and
  * are written out once, when the benchmark ends; the ledger arithmetic
  * (op attribution, self time, module mapping) happens in `ledger.py`.
  *
  * Jobs carry the op id through the `perfbench.op` local property, which
  * the streaming execution thread inherits from the op that starts it.
  */
final class Tracer(spark: SparkSession)
    extends SparkListener with QueryExecutionListener {

  private final class Job(val id: Int, val start: Long, val op: String,
      val exec: String, val stages: Seq[Int], val details: String) {
    var end: Long = -1L
  }
  private final class Exec(val id: Long, val start: Long,
      val details: String) {
    var end: Long = -1L
    var filesWritten: Long = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Map[String, Long]]
  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val fileAccums = mutable.Set.empty[Long]
  private val compiles = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).orNull
    // the result stage is created last, so it has the highest id and
    // carries the job's own call site
    val details = if (e.stageInfos.isEmpty) ""
      else e.stageInfos.maxBy(_.stageId).details
    jobs(e.jobId) = new Job(e.jobId, e.time, prop(Main.OpProperty),
      prop("spark.sql.execution.id"), e.stageIds, details)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = e.stageInfo
      val m = s.taskMetrics
      stages(s.stageId) = if (m == null) Map("tasks" -> s.numTasks.toLong)
        else Map(
          "tasks" -> s.numTasks.toLong,
          "input_bytes" -> m.inputMetrics.bytesRead,
          "input_records" -> m.inputMetrics.recordsRead,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "output_bytes" -> m.outputMetrics.bytesWritten,
          "output_records" -> m.outputMetrics.recordsWritten,
          "spill_bytes" -> (m.diskBytesSpilled + m.memoryBytesSpilled))
    }

  private def noteFileMetrics(p: SparkPlanInfo): Unit = {
    p.metrics.foreach { mi =>
      if (mi.name == "number of written files") fileAccums += mi.accumulatorId
    }
    p.children.foreach(noteFileMetrics)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = new Exec(s.executionId, s.time, s.details)
        noteFileMetrics(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        noteFileMetrics(u.sparkPlanInfo)
      case a: SparkListenerDriverAccumUpdates =>
        execs.get(a.executionId).foreach { x =>
          a.accumUpdates.foreach { case (id, v) =>
            if (fileAccums.contains(id)) x.filesWritten += v
          }
        }
      case end: SparkListenerSQLExecutionEnd =>
        execs.get(end.executionId).foreach(_.end = end.time)
      case _ =>
    }
  }

  private def noteCompile(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    val parts = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get)
    if (parts.nonEmpty) compiles += Map(
      "start" -> parts.map(_.startTimeMs).min,
      "ms" -> parts.map(_.durationMs).sum)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = noteCompile(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = noteCompile(qe)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Drain the async listener bus, detach, and return every span. */
  def detach(): Map[String, Any] = {
    org.apache.spark.graftglue.ListenerGlue.flush(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
    synchronized {
      Map(
        "jobs" -> jobs.values.map(j => Map(
          "id" -> j.id, "start" -> j.start, "end" -> j.end, "op" -> j.op,
          "exec" -> j.exec, "stages" -> j.stages,
          "details" -> j.details)).toSeq,
        "stages" -> stages.map { case (k, v) => k.toString -> v }.toMap,
        "execs" -> execs.values.map(x => Map(
          "id" -> x.id, "start" -> x.start, "end" -> x.end,
          "details" -> x.details,
          "files_written" -> x.filesWritten)).toSeq,
        "compiles" -> compiles.toSeq)
    }
  }
}
