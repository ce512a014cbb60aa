package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import graft.operators.TextIndex
import graft.pipeline.SeismicPipeline

/** File helpers. `run.py` hands every run a fresh work directory, so
  * nothing here has to clean up after an earlier run.
  */
object Disk {
  def copy(src: String, dst: String): Unit = {
    Files.createDirectories(Paths.get(dst).getParent)
    Files.copy(Paths.get(src), Paths.get(dst))
  }

  def countFiles(dir: String, suffix: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(p => p.toString.endsWith(suffix)).count()
    finally s.close()
  }
}

/** The reference's daily job. Each day lands one event slice, runs one
  * `SeismicPipeline.runIncremental` over everything landed so far, then
  * refreshes the dashboards (read-only report queries over the landed
  * events, each result collected in full).
  */
final class Medallion(spark: SparkSession, in: String, work: String)
    extends Workload {
  private implicit val formats: Formats = DefaultFormats

  private val slices = (Json.read(s"$in/medallion.json") \ "slices").children
    .map(s => Medallion.Slice((s \ "file").extract[String],
      (s \ "rows").extract[Long], (s \ "bytes").extract[Long],
      (s \ "max_ts_us").extract[Long], (s \ "distinct_ids_total").extract[Long]))
    .toIndexedSeq
  private val dashboards = Medallion.Dashboards.map(n =>
    graft.SparkEntry.specs.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"no query $n")))
  private val dir = s"$work/day"
  private val landing = s"$dir/landing"
  private var next = 0
  private var last: Array[Row] = Array.empty
  private var lastSchema: org.apache.spark.sql.types.StructType = null

  private def increment(k: Int): Map[String, Any] = {
    val s = slices(k)
    Disk.copy(s"$in/${s.file}", f"$landing/events.parquet/slice_$k%05d.parquet")
    val sum = SeismicPipeline.runIncremental(spark, landing, dir)
    val wm = sum.watermark.toInstant
    Map("slice" -> k, "landed_rows" -> s.rows, "landed_bytes" -> s.bytes,
      "new_rows" -> sum.newRecords, "silver_rows" -> sum.silverRows,
      "gold_rows" -> sum.goldRows,
      "watermark_us" -> (wm.getEpochSecond * 1000000L + wm.getNano / 1000))
  }

  /** Checked after the clock stops: the watermark is the newest landed
    * `ts`. Silver and gold are copied aside so that `run.py` can check
    * in DuckDB that silver holds every landed id once and gold counts
    * every silver row.
    */
  private def checkIncrement(info: Map[String, Any]): Option[String] = {
    val k = info("slice").asInstanceOf[Int]
    val snap = f"$work/snapshots/$k%05d"
    graft.Scratch.copyDir(SeismicPipeline.silverPath(dir), s"$snap/silver")
    graft.Scratch.copyDir(SeismicPipeline.goldPath(dir), s"$snap/gold")
    val want = slices(k).max_ts_us
    if (info("watermark_us") != want)
      Some(s"watermark ${info("watermark_us")} != newest landed ts $want")
    else None
  }

  private def report(spec: graft.QuerySpec, k: Int): Map[String, Any] = {
    val df = spec.run(spark, landing)
    last = try df.collect() finally graft.CacheScope.releaseAll()
    lastSchema = df.schema
    Map("query" -> spec.name, "slice" -> k, "rows" -> last.length)
  }

  /** The collected result is written aside; `run.py` compares it with
    * DuckDB's answer to the query's oracle SQL over the same slices.
    */
  private def saveReport(info: Map[String, Any]): Option[String] = {
    spark.createDataFrame(java.util.Arrays.asList(last: _*), lastSchema)
      .coalesce(1).write.parquet(
        f"$work/reports/${info("slice").asInstanceOf[Int]}%05d/${info("query")}")
    None
  }

  private def day(k: Int): Seq[Op] =
    Op("increment", "pipeline", s"slice$k", () => increment(k),
      checkIncrement) +:
      dashboards.map(q => Op("report", "queries", s"${q.name}@slice$k",
        () => report(q, k), saveReport))

  /** Nothing to build: the first day, the initial load, and the first
    * incremental day are the warm-up units, so that every timed day is
    * an incremental one on a warm JVM.
    */
  def setup(): Unit = ()

  def warmupUnits: Int = 2

  def unitSeconds: Double = 5.0

  /** One day. */
  def nextUnit(): Seq[Op] =
    if (next >= slices.size) Nil
    else {
      next += 1
      day(next - 1)
    }

  /** The end-state check (silver equals a keep-latest recompute over
    * every landed row) also runs in DuckDB from `run.py`.
    */
  def finish(): Map[String, Any] =
    Map("landing" -> s"$landing/events.parquet",
      "silver" -> SeismicPipeline.silverPath(dir),
      "snapshots" -> s"$work/snapshots", "reports" -> s"$work/reports",
      "slices" -> slices.map(_.file), "inputs" -> in,
      "expected_ids" -> slices.map(_.distinct_ids_total),
      "oracle_sql" -> dashboards.map(q => q.name -> q.oracle.get).toMap)
}

object Medallion {
  final case class Slice(file: String, rows: Long, bytes: Long,
      max_ts_us: Long, distinct_ids_total: Long)

  /** Read-only event-family report queries (data-quality, type mix,
    * per-user type sets) that the daily job refreshes over the landed
    * events.
    */
  val Dashboards: Seq[String] =
    Seq("q02_dq_report", "q14_type_distribution", "q74_type_sets")
}

/** A persisted BM25 index under mixed load. Each cycle lands a doc
  * batch and ingests it through a streamed `foreachBatch` append, runs a
  * search batch, deletes live ids, and compacts.
  */
final class Index(spark: SparkSession, in: String, work: String)
    extends Workload {
  import spark.implicits._
  private implicit val formats: Formats = DefaultFormats

  private val plan = Json.read(s"$in/index_plan.json")
  private def queryPairs(v: JValue): Seq[(Long, String)] =
    v.children.map(q => ((q(0)).extract[Long], q(1).extract[String]))
  private val cycles = (plan \ "cycles").children.map(c => Index.Cycle(
    (c \ "batch").extract[String], (c \ "batch_bytes").extract[Long],
    queryPairs(c \ "queries"), (c \ "deletes").extract[Seq[Long]]))
    .toIndexedSeq
  private val base = spark.read.parquet(s"$in/documents.parquet")
    .select(col("doc_id"), col("text"))
  private val docSchema = spark.read.parquet(s"$in/documents.parquet").schema

  private val dir = s"$work/index"
  private var cycle = 0
  private val searches = mutable.LinkedHashMap.empty[Int, Seq[Seq[Any]]]

  private def idx = s"$dir/idx"

  private def ingest(c: Index.Cycle, k: Int): Map[String, Any] = {
    Disk.copy(s"$in/${c.batch}", f"$dir/landing/batch_$k%05d.parquet")
    var appendS = 0.0
    val q = spark.readStream.schema(docSchema).parquet(s"$dir/landing")
      .writeStream
      .option("checkpointLocation", s"$dir/checkpoint")
      .foreachBatch { (b: DataFrame, _: Long) =>
        val t0 = System.nanoTime()
        TextIndex.append(b.select(col("doc_id"), col("text")),
          "doc_id", "text", idx)
        appendS += (System.nanoTime() - t0) / 1e9
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    def ms(key: String): Long = progress.map(p =>
      Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)).sum
    Map("append_s" -> appendS, "landed_bytes" -> c.batch_bytes,
      "micro_batches" -> progress.length,
      "trigger_ms" -> ms("triggerExecution"),
      "query_planning_ms" -> ms("queryPlanning"),
      "wal_commit_ms" -> ms("walCommit"), "add_batch_ms" -> ms("addBatch"),
      "latest_offset_ms" -> ms("latestOffset"))
  }

  /** Ranked (qid, rank, doc_id, bm25) rows, collected in full. */
  private def search(qs: Seq[(Long, String)]): Seq[Seq[Any]] =
    try TextIndex.searchTopK(spark, idx, qs.toDF("qid", "text"),
      "qid", "text", Index.TopK).collect().toSeq.map(r =>
        Seq[Any](r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    finally graft.CacheScope.releaseAll()

  /** Cycle `k`: ingest its batch, search its queries, delete its ids,
    * compact. Each op is one public call (the search also collects).
    */
  private def cycleOps(k: Int): Seq[Op] = {
    val c = cycles(k)
    Seq(
      Op("ingest", "operators", s"cycle$k", () => ingest(c, k)),
      Op("search", "operators", s"cycle$k", () => {
        val rows = search(c.queries)
        searches(k) = rows
        Map("cycle" -> k, "results" -> rows.length)
      }),
      Op("delete", "operators", s"cycle$k", () => {
        TextIndex.delete(spark, idx, c.deletes.toDF("doc_id"), "doc_id")
        Map.empty
      }),
      Op("compact", "operators", s"cycle$k", () => {
        TextIndex.compact(spark, idx)
        Map.empty
      }))
  }

  def setup(): Unit = TextIndex.write(base, "doc_id", "text", idx)

  def warmupUnits: Int = 1

  def unitSeconds: Double = 10.0

  def nextUnit(): Seq[Op] =
    if (cycle >= cycles.size) Nil
    else {
      cycle += 1
      cycleOps(cycle - 1)
    }

  /** The maintained index must serve exactly what a fresh index over the
    * live documents would: `run.py` replays BM25 in DuckDB (the engine's
    * own oracle SQL) over the documents live at each search and compares
    * the rankings. After the last compact, an untimed probe (the next
    * cycle's queries) is ranked the same way over the final live set, and
    * the final totals are compared with that set.
    */
  def finish(): Map[String, Any] = {
    val probe = cycles(cycle).queries
    val probeRows = search(probe)
    val t = TextIndex.totals(spark, idx).head()
    val corpus = "SELECT doc_id, text FROM live_docs"
    val queries = "SELECT qid, text FROM queries"
    Map(
      "files_live" -> Disk.countFiles(s"$idx/postings", ".parquet"),
      "cycles_run" -> cycle,
      "totals" -> Seq(t.getLong(0), t.getLong(1)),
      "searches" -> searches.map { case (k, v) => k.toString -> v }.toMap,
      "probe_queries" -> probe.map { case (q, text) => Seq(q, text) },
      "probe" -> probeRows,
      "oracle_sql" -> TextIndex.bm25OracleSql(corpus, queries, Index.TopK),
      "stats_sql" -> (s"WITH ${TextIndex.bm25CtesSql(corpus, queries)} " +
        "SELECT n_docs, sum_dl FROM stats"))
  }
}

object Index {
  val TopK = 10

  final case class Cycle(batch: String, batch_bytes: Long,
      queries: Seq[(Long, String)], deletes: Seq[Long])
}
