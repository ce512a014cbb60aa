package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.graftglue.ListenerGlue
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Execution-level metrics for one action: bytes scanned, bytes moved
  * through shuffles, bytes spilled. `.explain` shows the plan SHAPE;
  * this shows what the shape COSTS — the judge of a rewrite at scale is
  * its shuffle volume, not its wall clock at sf0.1 (wall clock here is
  * dominated by fixed overheads that vanish at 1000 executors, while
  * shuffle bytes scale linearly with data).
  *
  * Listener-based (aggregated per-stage task metrics), so it measures
  * ANY action without touching the query code. Single-JVM local mode
  * runs everything it would on a cluster except the network hop — a
  * local shuffle byte is a remote shuffle byte at scale.
  */
final case class PlanMetrics(
    wallSec: Double,
    inputBytes: Long,
    inputRecords: Long,
    shuffleWriteBytes: Long,
    shuffleReadBytes: Long,
    spilledBytes: Long,
    jobs: Long = 0,
    stages: Long = 0,
    spans: Seq[JobSpan] = Nil) {
  def pretty: String =
    f"wall=$wallSec%.2fs input=${inputBytes / 1e6}%.1fMB/" +
      f"$inputRecords%d rows shuffleWrite=${shuffleWriteBytes / 1e6}%.2fMB " +
      f"shuffleRead=${shuffleReadBytes / 1e6}%.2fMB " +
      f"spilled=${spilledBytes / 1e6}%.1fMB jobs=$jobs stages=$stages"
}

/** One job of a measured action: the call site that submitted it, the
  * first line of its SQL execution's description when that differs from
  * the call site (else ""), and its run time (-1 if it never ended).
  */
final case class JobSpan(id: Int, site: String, sql: String, seconds: Double)

object Metrics {

  /** Run `action` and return its aggregate stage metrics. Metrics from
    * OTHER concurrently-running jobs on the same context would be
    * counted too — callers own quiescence (true for Bench/RunOne/specs).
    */
  def measure(spark: SparkSession)(action: => Unit): PlanMetrics = {
    val input = new LongAdder
    val inputRecs = new LongAdder
    val sw = new LongAdder
    val sr = new LongAdder
    val spill = new LongAdder
    val stages = new LongAdder
    // per job: call site, SQL execution id, start time; end time
    val started = new ConcurrentHashMap[Int, (String, String, Long)]()
    val ended = new ConcurrentHashMap[Int, Long]()
    val execs = new ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) =
          Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        started.put(j.jobId, (
          prop("callSite.short")
            .getOrElse(j.stageInfos.headOption.map(_.name).getOrElse("?")),
          prop("spark.sql.execution.id").getOrElse("-"), j.time))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        ended.put(j.jobId, j.time)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execs.put(s.executionId.toString,
            s.description.linesIterator.nextOption().getOrElse(""))
        case _ => ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          input.add(m.inputMetrics.bytesRead)
          inputRecs.add(m.inputMetrics.recordsRead)
          sw.add(m.shuffleWriteMetrics.bytesWritten)
          sr.add(m.shuffleReadMetrics.totalBytesRead)
          spill.add(m.diskBytesSpilled + m.memoryBytesSpilled)
        }
        stages.increment()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val t0 = System.nanoTime()
    try {
      action
      ListenerGlue.flush(sc) // async bus: drain before reading adders
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val spans = started.asScala.toSeq.sortBy(_._1).map {
      case (id, (site, exec, start)) =>
        JobSpan(id, site,
          Option(execs.get(exec)).filter(_ != site).getOrElse(""),
          ended.asScala.get(id).map(e => (e - start) / 1000.0).getOrElse(-1.0))
    }
    PlanMetrics((System.nanoTime() - t0) / 1e9, input.sum(), inputRecs.sum(),
      sw.sum(), sr.sum(), spill.sum(), spans.size.toLong, stages.sum(), spans)
  }
}
