package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed call into the engine, whose public function belongs to
  * module `layer`. `body` runs with the op id set as a
  * SparkContext local property and returns what the op observed; `check`
  * runs after the clock stops and returns an error message when the
  * op's answer is wrong.
  */
final case class Op(kind: String, layer: String, label: String,
    body: () => Map[String, Any],
    check: Map[String, Any] => Option[String] = _ => None)

/** A closed-loop workload: one client, the next op starts when the
  * previous one returns. `nextUnit` hands out a balanced unit of ops (a
  * day, an index cycle) so that the op mix is the same in every run.
  */
trait Workload {
  /** Build the workload's starting state (timed as set-up). */
  def setup(): Unit
  /** Units run untimed (but checked) after set-up, so that the first
    * timed unit does not pay for compiling op shapes.
    */
  def warmupUnits: Int
  /** About how long one unit takes on a 4-vCPU host. It only turns
    * `--seconds` into a fixed number of timed units; the work of a run
    * never depends on how fast it goes.
    */
  def unitSeconds: Double
  /** The next unit of ops; empty when the generated inputs run out. */
  def nextUnit(): Seq[Op]
  /** What `run.py` needs for the whole-run answer checks. */
  def finish(): Map[String, Any]
}

/** The benchmark's JVM program, run by `run.py`:
  *
  *   perfbench.Main <workload> <inputs> <work> <seconds> <trace> <out.json>
  *
  * Creates one session, sets the workload up and warms it up, then times
  * `ceil(seconds / unitSeconds)` units of ops and writes every op's
  * timing and check outcome (and, with `trace` = 1, every Spark span) to
  * `out.json`. Warm-up ops are checked as well and reported untimed.
  */
object Main {
  val OpProperty = "perfbench.op"

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    seconds(t0)
  }

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"

  private def runOp(spark: SparkSession, id: Int, op: Op): Map[String, Any] = {
    val sc = spark.sparkContext
    sc.setLocalProperty(OpProperty, id.toString)
    val start = System.currentTimeMillis()
    val c0 = cpuNanos()
    val t0 = System.nanoTime()
    val res = try Right(op.body()) catch { case e: Exception => Left(e) }
    val wall = seconds(t0)
    val cpu = (cpuNanos() - c0) / 1e9
    val end = System.currentTimeMillis()
    sc.setLocalProperty(OpProperty, null)
    val error = res match {
      case Left(e) => Some(message(e))
      case Right(info) =>
        try op.check(info) catch { case e: Exception => Some(message(e)) }
    }
    Map("id" -> id, "kind" -> op.kind, "layer" -> op.layer, "label" -> op.label,
      "start" -> start, "end" -> end, "wall_s" -> wall,
      "cpu_s" -> cpu, "error" -> error.orNull,
      "info" -> res.getOrElse(Map.empty))
  }

  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of every thread of this JVM so far. */
  private def cpuNanos(): Long = os.getProcessCpuTime

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  private def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, secondsArg, traceArg, out) = args
    val measureFor = secondsArg.toDouble
    val trace = traceArg == "1"
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local("perfbench")
    val sessionS = seconds(t0)
    val w: Workload = workload match {
      case "medallion" => new Medallion(spark, inputs, work)
      case "index" => new Index(spark, inputs, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupS = timed(w.setup())
    val untimed = ArrayBuffer.empty[Map[String, Any]]
    val warmupS = timed((1 to w.warmupUnits).foreach(_ =>
      w.nextUnit().foreach(op => untimed += runOp(spark, untimed.size, op))))

    val units = math.max(1, math.ceil(measureFor / w.unitSeconds - 1e-9).toInt)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val ready = System.currentTimeMillis()
    val m0 = System.nanoTime()
    (1 to units).foreach { _ =>
      val unit = w.nextUnit()
      if (unit.isEmpty) throw new IllegalStateException("inputs ran out")
      unit.foreach(op => ops += runOp(spark, untimed.size + ops.size, op))
    }
    val measureS = seconds(m0)
    val peakKb = peakRssKb()
    val spans = tracer.map(_.detach())

    val facts = w.finish()
    Json.toFile(out, Map(
      "workload" -> workload,
      "session_s" -> sessionS,
      "setup_s" -> setupS,
      "warmup_s" -> warmupS,
      "ready_ms" -> ready,
      "measure_s" -> measureS,
      "peak_rss_kb" -> peakKb,
      "units" -> units,
      "untimed_ops" -> untimed,
      "ops" -> ops,
      "facts" -> facts,
      "spans" -> spans))
    spark.stop()
  }
}
