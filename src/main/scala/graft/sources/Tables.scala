package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Parquet table helpers (SURVEY.md §2a S4–S6, S9–S10).
  *
  * The reference stores every layer as a Delta table and scans with
  * `spark.table(name)` (`03_bronze_processing.py:20`,
  * `04_silver_transformation.py:33`). We use plain parquet directories keyed
  * by table name, which is what the driver testdata ships
  * (`NAME.parquet` under each `/root/testdata/sfN` directory).
  */
object Tables {

  /** Scan one of the driver-provided tables under `sfDir`.
    *
    * Two fixture vintages of `events.ts` are handled: parquet
    * TIMESTAMP(NANOS), which Spark reads only as a nanosecond Long
    * (`spark.sql.legacy.parquet.nanosAsLong`, set in [[graft.Sessions]])
    * and is truncated to microseconds the same way DuckDB truncates; and
    * parquet TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads
    * natively as TIMESTAMP_NTZ and which passes through unchanged —
    * DuckDB reads the same file as its (naive) TIMESTAMP, so values and
    * types line up with the oracle with no conversion at all.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    df.schema.find(_.name == "ts") match {
      case Some(f) if f.dataType == org.apache.spark.sql.types.LongType =>
        // integer DIV — epoch nanos exceed double precision, so `/` (which
        // is double division in the Column DSL) would round the last digit
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ => df
    }
  }

  /** Normalize an event-time column to session-zoned TimestampType for
    * consumers that REQUIRE it (streaming `withWatermark`, epoch
    * extraction like `unix_millis`) whatever flavor the source stores:
    * nanosecond Long (legacy fixtures), TIMESTAMP_NTZ (current
    * fixtures), or already TimestampType. Under the UTC session zone
    * ([[graft.Sessions]]) the NTZ→timestamp cast is value-preserving.
    * Works on batch and streaming frames (pure projection).
    */
  def tsToTimestamp(df: DataFrame, colName: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.find(_.name == colName).map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn(colName, expr(s"timestamp_micros($colName div 1000)"))
      case Some(TimestampNTZType) =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case _ => df
    }
  }

  /** Watermark-filtered events scan with parquet pushdown.
    *
    * [[load]] rewrites the nanosecond `ts` through
    * `timestamp_micros(ts div 1000)`, which Catalyst cannot push through —
    * the scan would read every row group and filter late (at 100 TB the
    * incremental read becomes a full scan). Instead: push a COARSE
    * predicate on the raw nanosecond long (`ts > wm_micros * 1000`, a
    * superset because sub-microsecond remainders truncate), then apply
    * the EXACT post-conversion predicate as a residual — the standard
    * pushdown + residual pattern.
    */
  def loadEventsSince(spark: SparkSession, sfDir: String,
      watermark: java.sql.Timestamp): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema.find(_.name == "ts") match {
      case Some(f) if f.dataType == org.apache.spark.sql.types.LongType =>
        val wmNanos = watermark.getTime * 1000000L +
          (watermark.getNanos % 1000000)
        raw.filter(col("ts") > wmNanos)
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
          .filter(col("ts") > lit(watermark))
      case Some(f) if f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        // exact NTZ-literal predicate straight on the stored column — no
        // coarse/residual dance needed (micro precision matches), and the
        // comparison pushes into the parquet scan as-is
        val ntzWm = java.time.LocalDateTime.ofInstant(
          watermark.toInstant, java.time.ZoneOffset.UTC)
        raw.filter(col("ts") > lit(ntzWm))
      case _ =>
        load(spark, sfDir, "events").filter(col("ts") > lit(watermark))
    }
  }

  /** Register the full fixture star schema as temp views so `spark.sql`
    * queries read the same names the DuckDB oracle does.
    */
  val fixtureTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def registerAll(spark: SparkSession, sfDir: String): Unit =
    fixtureTables.foreach { t =>
      load(spark, sfDir, t).createOrReplaceTempView(t)
    }

  /** CSV scan with explicit schema (source-format breadth; header on,
    * schema REQUIRED — inference means a second full pass at scale).
    */
  def loadCsv(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** JSON-lines scan with explicit schema (one object per line — the
    * splittable layout; multiLine JSON parses per-FILE and is reserved
    * for the GeoJSON FeatureCollection source).
    */
  def loadJsonl(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Does a table path exist? Also performs crash recovery: if a prior
    * [[replace]] died between its two renames, the table survives only
    * at `path.__old__` — restore it before answering, so no caller can
    * mistake the crash window for "first write" and truncate the table.
    */
  def exists(spark: SparkSession, path: String): Boolean = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + ".__old__")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dst) && fs.exists(old)) fs.rename(old, dst)
    fs.exists(dst)
  }

  /** Append sink (reference: Delta append, `02_ingestion.py:214-217`). */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** Overwrite sink (reference: Delta overwrite, `03:113-117`, `05:79`...),
    * through [[replace]], so it is safe even when `path` is also an input
    * of `df` (Spark cannot overwrite a directory it is lazily reading; the
    * reference got read-while-overwrite for free from Delta MVCC).
    * `partitionBy` gives the hive-style `key=value` layout of the
    * reference's partitioned Delta tables (`TABLE OPTIMIZATION.py:33-97`):
    * at 100 TB, time-partitioning a fact table buys PARTITION pruning
    * (directories never listed) above row-group min/max pruning.
    */
  def overwrite(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit =
    replace(df.sparkSession, path)(
      df.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*).parquet(_))

  /** The one staged sibling [[replace]] writes into. */
  def staged(path: String): String = path + ".__tmp__"

  /** Replace the directory at `path` with what `writer` materializes into
    * [[staged]]`(path)` — the one commit protocol every directory rewrite
    * shares (table overwrites, index builds, compactions, rebuckets,
    * retrains):
    *
    *  1. a staged dir a crashed earlier rewrite left behind is cleared,
    *     so it can never leak into this one;
    *  2. `writer(stagedDir)` fully materializes the new content (any
    *     layout: hive partitions, several artifacts, flag files);
    *  3. every part file in `carry` — append-only subdirectories of
    *     `path`, relative (`"_tombstones"`, `"bkt=-2"`; `""` is `path`
    *     itself) — that is NOT in `listed` is copied into the same
    *     subdirectory of the staged dir, so a tombstone marker or stats
    *     row a concurrent writer appended after the rewrite read its
    *     input survives the swap instead of vanishing with the old
    *     directory;
    *  4. the crash-safe rename chain swaps the staged dir in: the old
    *     version survives as `path.__old__` until the new one is in
    *     place, so a crash leaves one of them addressable, never neither
    *     ([[exists]] recovers the interrupted case).
    *
    * `listed` must be the listing the rewrite READ, taken once: the input
    * frame's `inputFiles` (Spark lists a file relation when the frame is
    * created and scans exactly that listing). A file is then either
    * rewritten or carried, never both and never neither. A carry baseline
    * listed apart from the input reopens a window in which a file lands
    * in both — a stats row counted twice.
    *
    * Concurrency contract: one rewriter per `path` at a time (the
    * reference's `max_concurrent_runs: 1`, `Pipeline.json:22`); appends
    * into `carry` directories may run concurrently; readers are lock-free
    * throughout. One window remains: a file appended between step 3's
    * listing and step 4's rename is lost with the old directory. A lost
    * tombstone marker unmasks its id until the delete is repeated; a lost
    * additive stats row (TextIndex `bkt=-2`) is permanent drift. Closing
    * it needs put-if-absent commit files, not another carry.
    */
  def replace(spark: SparkSession, path: String,
      listed: Iterable[String] = Nil, carry: Seq[String] = Nil)(
      writer: String => Unit): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new Path(path)
    val fs = dst.getFileSystem(conf)
    val src = new Path(staged(path))
    val old = new Path(path + ".__old__")
    fs.delete(src, true)
    writer(src.toString)
    val read = listed.map(f => new Path(f).toUri.getPath).toSet
    def under(root: Path, sub: String) =
      if (sub.isEmpty) root else new Path(root, sub)
    for (sub <- carry; from = under(dst, sub) if fs.exists(from);
         p <- fs.listStatus(from).map(_.getPath)
         if p.getName.startsWith("part-") && !read(p.toUri.getPath)) {
      val to = under(src, sub)
      fs.mkdirs(to)
      FileUtil.copy(fs, p, fs, new Path(to, p.getName), false, conf)
    }
    // swap via a rename chain, CHECKING each rename (HDFS/S3A renames
    // report failure by returning false, not by throwing)
    if (!fs.exists(dst) && fs.exists(old))
      fs.rename(old, dst) // recover a swap interrupted mid-rename
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(dst) && !fs.rename(dst, old))
      throw new java.io.IOException(s"replace: could not stage $dst -> $old")
    if (!fs.rename(src, dst)) {
      fs.rename(old, dst) // best-effort rollback
      throw new java.io.IOException(s"replace: could not publish $src -> $dst")
    }
    fs.delete(old, true)
  }
}
