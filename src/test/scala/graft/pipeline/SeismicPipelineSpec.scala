package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables
import graft.state.WatermarkStore

class SeismicPipelineSpec extends SparkTestBase {

  /** Spark jobs of one increment into existing silver (deterministic);
    * a budget may only go down.
    */
  private val IncrementJobBudget = 13

  /** Spark jobs of a run with no new records: the watermark read and
    * the increment's aggregate; the counts come from the commits.
    */
  private val NoOpJobBudget = 3

  test("full run, idempotent re-run, and watermark advance") {
    val work = Files.createTempDirectory("pipe").toString

    // first run processes every event
    val r1 = SeismicPipeline.runIncremental(spark, sfDir, work)
    val sourceEvents = spark.read.parquet(s"$sfDir/events.parquet").count()
    val distinctIds = spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_id").distinct().count()
    assert(r1.newRecords === sourceEvents)
    assert(r1.silverRows === distinctIds) // dedup collapsed duplicate ids
    assert(r1.goldRows > 0)

    // second run sees nothing past the watermark and changes nothing
    var r2: SeismicPipeline.RunSummary = null
    val m = graft.Metrics.measure(spark) {
      r2 = SeismicPipeline.runIncremental(spark, sfDir, work)
    }
    assert(m.jobs <= NoOpJobBudget,
      m.spans.map(j => s"${j.site} ${j.sql}").mkString("\n"))
    assert(r2.newRecords === 0L)
    assert(r2.silverRows === r1.silverRows)
    assert(r2.goldRows === r1.goldRows)
    assert(r2.watermark === r1.watermark)
    assert(r2.silverRows ===
      Tables.read(spark, SeismicPipeline.silverPath(work)).count())
    assert(r2.goldRows ===
      Tables.read(spark, SeismicPipeline.goldPath(work)).count())
  }

  test("an increment into existing silver stays within its job budget " +
      "and reports the counts its commits observed") {
    withTempDir("pipe4") { work =>
      val events = spark.read.parquet(s"$sfDir/events.parquet")
      val ts = events.select("ts").orderBy("ts").collect().map(_.get(0))
      val cutoff = ts(ts.length / 2)
      // a correction: an id of the first slice lands again 40 days after
      // the newest event, so it moves to another month
      val moved = events.filter(col("ts") === lit(ts.head)).limit(1)
      val movedId = moved.select("event_id").head().getLong(0)
      val correction = moved.withColumn("ts",
        lit(ts.last) + expr("INTERVAL 40 DAYS"))
      val landing = s"$work/land/events.parquet"
      events.filter(col("ts") <= lit(cutoff)).write.parquet(landing)
      SeismicPipeline.runIncremental(spark, s"$work/land", work)
      events.filter(col("ts") > lit(cutoff)).unionByName(correction)
        .write.mode("append").parquet(landing)

      var r: SeismicPipeline.RunSummary = null
      val m = graft.Metrics.measure(spark) {
        r = SeismicPipeline.runIncremental(spark, s"$work/land", work)
      }
      val silver = Tables.read(spark, SeismicPipeline.silverPath(work))
      val gold = Tables.read(spark, SeismicPipeline.goldPath(work))
      assert(m.jobs <= IncrementJobBudget,
        m.spans.map(j => s"${j.site} ${j.sql}").mkString("\n"))
      assert(r.silverRows === silver.count())
      assert(r.goldRows === gold.count())
      assert(r.watermark === WatermarkStore.timestampAt(spark.read
        .parquet(landing).agg(max("ts")).head(), 0))
      val row = silver.filter(col("event_id") === movedId).collect()
      assert(row.length === 1)
      assert(WatermarkStore.timestampAt(row.head,
        row.head.fieldIndex("event_time")) === r.watermark)
      assert(gold.agg(sum("total_events")).head().getLong(0) === r.silverRows)
    }
  }

  test("silver is hive-partitioned by (year, month) and a year predicate " +
      "prunes to matching partition directories") {
    val work = Files.createTempDirectory("pipe3").toString
    SeismicPipeline.runIncremental(spark, sfDir, work)
    val silverP = SeismicPipeline.silverPath(work)

    // layout: year=... directories with month=... below them
    val years = new java.io.File(silverP).listFiles().map(_.getName)
      .filter(_.startsWith("year=")).sorted
    assert(years.nonEmpty, s"no year= dirs under $silverP")
    val months = new java.io.File(s"$silverP/${years.head}").listFiles()
      .map(_.getName).filter(_.startsWith("month="))
    assert(months.nonEmpty, s"no month= dirs under $silverP/${years.head}")

    // a year predicate becomes a PartitionFilter (pruned at listing time,
    // not per-row), and only files from that year's directories are read
    val y = years.head.stripPrefix("year=").toInt
    val pruned = spark.read.parquet(silverP).filter(col("year") === y)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(year"), scan.take(1500))
    assert(pruned.select(input_file_name()).distinct()
      .collect().forall(_.getString(0).contains(s"year=$y")))
    // pruning did not change semantics: partition slice == row filter
    assert(pruned.count() ===
      spark.read.parquet(silverP).collect().count(_.getAs[Int]("year") == y))
  }

  test("silver layer carries enrichment, physics, and calendar columns") {
    val work = Files.createTempDirectory("pipe2").toString
    SeismicPipeline.runIncremental(spark, sfDir, work)
    val silver = spark.read.parquet(SeismicPipeline.silverPath(work))

    // every event got exactly one band, fallback included
    assert(silver.filter(col("band_code").isNull).count() === 0)
    // clamp bound respected
    assert(silver.filter(col("depth_km") < 0 || col("depth_km") > 300)
      .count() === 0)
    // risk ladder consistent with magnitude
    assert(silver.filter(col("magnitude") >= 7 &&
      col("risk_level") =!= "CRITICAL").count() === 0)
    // gold totals reconcile with silver
    val gold = spark.read.parquet(SeismicPipeline.goldPath(work))
    val goldTotal = gold.agg(sum("total_events")).collect().head.getLong(0)
    assert(goldTotal === silver.count())
  }
}
