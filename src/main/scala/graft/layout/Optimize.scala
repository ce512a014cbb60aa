package graft.layout

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Storage-layout maintenance (SURVEY.md §4) — the Spark-native analog of
  * the reference's Delta `OPTIMIZE … ZORDER BY` / compaction / ANALYZE
  * pass (`TABLE OPTIMIZATION.py:33-97,100,121`).
  *
  * Plain parquet gets data skipping from per-column row-group min/max
  * stats, so the Z-ORDER effect — co-locating rows that are close in the
  * clustering columns so range predicates prune row groups — is achieved
  * with `repartitionByRange(clusterCols)` (one range-shuffle; also fixes
  * small files, the OPTIMIZE compaction effect) followed by
  * `sortWithinPartitions` (tightens per-row-group min/max windows with no
  * extra shuffle). At 100 TB, pair with `partitionBy(year, month)` for
  * partition pruning above row-group pruning.
  */
object Optimize {

  /** Cluster + compact a table directory in place.
    *
    * @param clusterCols  columns range predicates filter on (the
    *                     reference Z-ORDERs bronze by (event_id, time),
    *                     silver by (magnitude, event_time, region))
    * @param targetFiles  output file count (compaction target)
    */
  def cluster(spark: SparkSession, path: String, clusterCols: Seq[String],
      targetFiles: Int, partitionCols: Seq[String] = Nil): Unit = {
    val df = graft.sources.Tables.read(spark, path)
    val clustered = df
      .repartitionByRange(targetFiles, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
    // partitionCols keep the hive-style layout: a flat overwrite would
    // lose the partition directories and with them partition pruning
    graft.sources.Tables.overwrite(clustered, path, partitionCols)
  }

  /** Quantize a bounded numeric column onto the `[0, 2^bits)` integer
    * grid (clamped), for [[zvalue]]. Domain bounds are caller-declared
    * (lat ∈ [-90, 90], lon ∈ [-180, 180], …) — no stats pass needed.
    */
  /** Clamped fixed-grid quantization of a bounded numeric column to
    * `bits` bits — the per-dimension half of [[zvalue]], public so span
    * reports (q93) can measure layouts on the same grid the z-value
    * interleaves. Truncating long cast; inputs below `lo` / above `hi`
    * clamp to the grid edges.
    */
  def quantize(c: org.apache.spark.sql.Column, lo: Double,
      hi: Double, bits: Int): org.apache.spark.sql.Column = {
    val max = (1L << bits) - 1
    org.apache.spark.sql.functions.least(
      org.apache.spark.sql.functions.greatest(
        ((c - lo) / (hi - lo) * max), org.apache.spark.sql.functions.lit(0.0)),
      org.apache.spark.sql.functions.lit(max.toDouble)).cast("long")
  }

  /** Morton z-value of two bounded numeric columns
    * ([[graft.expressions.ZOrderInterleave]] — codegen bit interleave).
    */
  def zvalue(a: (org.apache.spark.sql.Column, Double, Double),
      b: (org.apache.spark.sql.Column, Double, Double),
      bits: Int = 16): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftglue.ColumnGlue.toColumn(
      graft.expressions.ZOrderInterleave(
        org.apache.spark.sql.graftglue.ColumnGlue.toCatalyst(
          quantize(a._1, a._2, a._3, bits)),
        org.apache.spark.sql.graftglue.ColumnGlue.toCatalyst(
          quantize(b._1, b._2, b._3, bits)),
        bits))

  /** TRUE multi-dimensional Z-ORDER clustering: range-partition and sort
    * by the Morton z-value of two clustering columns, so every output
    * file covers a bounded range in BOTH dimensions and predicates on
    * EITHER column skip files. [[cluster]]'s lexicographic sort only
    * bounds the leading column — its files span the full range of the
    * second, and second-column predicates prune nothing (measured in
    * `ZOrderSpec`). This is the faithful analog of the reference's
    * `OPTIMIZE … ZORDER BY (magnitude, event_time, …)`
    * (`TABLE OPTIMIZATION.py:60-63`).
    */
  def clusterZ(spark: SparkSession, path: String,
      a: (String, Double, Double), b: (String, Double, Double),
      targetFiles: Int, bits: Int = 16): Unit = {
    val df = graft.sources.Tables.read(spark, path)
    val z = zvalue((col(a._1), a._2, a._3), (col(b._1), b._2, b._3), bits)
    val clustered = df
      .withColumn("__z", z)
      .repartitionByRange(targetFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
    graft.sources.Tables.overwrite(clustered, path)
  }

  /** File-level stats for a table path — the `DESCRIBE DETAIL`
    * numFiles/sizeInBytes analog (S12, `TABLE OPTIMIZATION.py:24-28`),
    * read from the table's latest snapshot, not a directory walk.
    */
  def describeDetail(spark: SparkSession, path: String): (Long, Long) = {
    val files = graft.sources.Tables.at(spark, path).files
    (files.size.toLong, files.map(_.size).sum)
  }

  /** `ANALYZE TABLE … COMPUTE STATISTICS` on a path-backed table
    * (S9/S12 + §4 CBO stats): registers an external table over the path
    * in the session catalog, computes stats, and returns (rowCount,
    * sizeInBytes) as recorded by the catalog.
    */
  def analyze(spark: SparkSession, path: String,
      tableName: String): (Option[BigInt], Option[BigInt]) = {
    spark.sql(s"DROP TABLE IF EXISTS $tableName")
    spark.sql(s"CREATE TABLE $tableName USING parquet LOCATION '$path'")
    spark.sql(s"ANALYZE TABLE $tableName COMPUTE STATISTICS")
    val stats = spark.sql(s"DESCRIBE EXTENDED $tableName")
      .filter(col("col_name") === "Statistics")
      .collect().headOption.map(_.getString(1))
    // "X bytes, Y rows"
    val bytes = stats.flatMap(s => "(\\d+) bytes".r.findFirstMatchIn(s)
      .map(m => BigInt(m.group(1))))
    val rows = stats.flatMap(s => "(\\d+) rows".r.findFirstMatchIn(s)
      .map(m => BigInt(m.group(1))))
    (rows, bytes)
  }
}
