package graft.state

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Watermark-table incremental CDC state (SURVEY.md §2j).
  *
  * Mirrors the reference's `control_watermark` Delta table
  * (`01_config_setup.py:40-49`): one row per target table holding the
  * highest event time already processed plus a processed-row count.
  * Reads are `SELECT watermark_value WHERE table_name = …`
  * (`02_ingestion.py:75-94`); advances are point UPDATEs
  * (`02:221-227`, `04_silver_transformation.py:213-222`) re-expressed as
  * read-modify-overwrite on the tiny state table — safe under the
  * reference's own single-writer regime (`Pipeline.json:22`).
  */
class WatermarkStore(spark: SparkSession, path: String) {

  val schema: StructType = StructType(Seq(
    StructField("table_name", StringType, nullable = false),
    StructField("watermark_column", StringType, nullable = false),
    StructField("watermark_value", TimestampType, nullable = false),
    StructField("last_updated", TimestampType, nullable = false),
    StructField("records_processed", LongType, nullable = false)))

  def all(): DataFrame = {
    val t = Tables.at(spark, path)
    if (t.exists) t.df
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
  }

  /** Current watermark for a table, seeding `default` on first sight
    * (reference fallback-seed behavior, `02_ingestion.py:81-94`).
    */
  def read(tableName: String, default: Timestamp): Timestamp =
    all().filter(col("table_name") === tableName)
      .select("watermark_value")
      .collect()
      .headOption
      .map(_.getTimestamp(0))
      .getOrElse(default)

  /** Advance after a successful batch: watermark := max event time of the
    * written batch; records_processed accumulates.
    */
  def advance(tableName: String, watermarkColumn: String,
      newValue: Timestamp, records: Long): Unit = {
    val now = new Timestamp(System.currentTimeMillis())
    val prior = all()
    val others = prior.filter(col("table_name") =!= tableName)
    // the prior count is folded into the overwrite's own plan (a global
    // aggregate yields one row even when the table has no such row), so
    // advancing costs no collect of its own
    val updated = prior.filter(col("table_name") === tableName)
      .agg(coalesce(sum(col("records_processed")), lit(0L)).as("prev"))
      .select(lit(tableName).as("table_name"),
        lit(watermarkColumn).as("watermark_column"),
        lit(newValue).as("watermark_value"), lit(now).as("last_updated"),
        (col("prev") + lit(records)).as("records_processed"))
    Tables.overwrite(others.unionByName(updated), path)
  }
}

object WatermarkStore {

  /** Event-time scalar out of a collected Row, whatever timestamp flavor
    * the source carried: `TIMESTAMP` surfaces as `java.sql.Timestamp`,
    * `TIMESTAMP_NTZ` (the current fixtures) as `java.time.LocalDateTime`
    * — interpreted at UTC, matching the session zone
    * ([[graft.Sessions]]), so both flavors advance the store to the same
    * instant.
    */
  def timestampAt(row: Row, i: Int): Timestamp = row.get(i) match {
    case t: Timestamp => t
    case ldt: java.time.LocalDateTime =>
      Timestamp.from(ldt.toInstant(java.time.ZoneOffset.UTC))
    case other => throw new IllegalArgumentException(
      s"not an event-time value: $other (${if (other == null) "null" else other.getClass})")
  }
}
