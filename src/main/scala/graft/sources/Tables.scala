package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table helpers (SURVEY.md §2a S4–S6, S9–S10).
  *
  * The reference stores every layer as a Delta table and scans with
  * `spark.table(name)` (`03_bronze_processing.py:20`,
  * `04_silver_transformation.py:33`). The fixtures are plain parquet
  * directories ([[load]]); every table and index the engine
  * writes is a directory with a Delta-style commit log (`_log`, see
  * [[commit]]): its files sit at their final hive-style paths, and a
  * read ([[read]]) takes its schema and file list from the log.
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
    *
    * The scan gets its schema from [[fixture]], so loading a fixture
    * starts no Spark job.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = fixture(spark, s"$sfDir/$name.parquet")
    df.schema.find(_.name == "ts") match {
      case Some(f) if f.dataType == org.apache.spark.sql.types.LongType =>
        // integer DIV — epoch nanos exceed double precision, so `/` (which
        // is double division in the Column DSL) would round the last digit
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ => df
    }
  }

  /** `spark.read.parquet(path)` under the schema its inference would
    * pick, read on the driver. Without schema merging, inference
    * samples one file and starts a Spark job to read its footer; this
    * reads the footer of that same file directly: `path` itself when it
    * is a file, else the first data file by path among the directory's
    * entries that Spark's listing keeps (no leading `_` or `.`, no
    * `._COPYING_` suffix).
    *
    * A directory holding a parquet summary file (`_common_metadata` or
    * `_metadata`, which inference samples first), subdirectories (a
    * partitioned layout) or no data file, and a missing path, are read
    * as before, so they infer, or fail with Spark's own error.
    */
  private def fixture(spark: SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sampled = scala.util.Try(fs.getFileStatus(p)).toOption.flatMap { st =>
      if (st.isFile) Some(st)
      else {
        val all = fs.listStatus(p)
        val entries = all.filterNot { e =>
          val n = e.getPath.getName
          n.startsWith("_") || n.startsWith(".") || n.endsWith("._COPYING_")
        }
        if (all.exists(e => Set("_common_metadata", "_metadata")(
            e.getPath.getName)) || entries.exists(_.isDirectory)) None
        else entries.sortBy(_.getPath.toString).headOption
      }
    }
    sampled.fold(spark.read.parquet(path))(f => spark.read
      .schema(org.apache.spark.sql.graftglue.ColumnGlue.footerSchema(spark, f))
      .parquet(path))
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
    val raw = fixture(spark, s"$sfDir/events.parquet")
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

  /** The managed table at `path`: `path` itself when it holds a `_log`;
    * otherwise a table of its parent's log when the parent holds one
    * (`dir/cells` of an index root `dir`); otherwise a new root at
    * `path`, empty until its first commit (a directory with no log holds
    * no table, whatever files it holds).
    */
  def at(spark: SparkSession, path: String): Table = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(Log.dir(path)) && p.getParent != null &&
        fs.exists(Log.dir(p.getParent.toString)))
      Log.snapshot(spark, p.getParent.toString).table(p.getName)
    else Log.snapshot(spark, path).table("")
  }

  /** The latest snapshot of the root at exactly `root`. */
  def root(spark: SparkSession, root: String): Snapshot =
    Log.snapshot(spark, root)

  /** The one read of a managed table: its latest snapshot's files under
    * the schema its log records.
    */
  def read(spark: SparkSession, path: String): DataFrame = at(spark, path).df

  /** Does the latest snapshot hold a table at `path`? Answered from the
    * log: a crashed commit left no entry, so it is not mistaken for a
    * table (nor a table for "first write").
    */
  def exists(spark: SparkSession, path: String): Boolean =
    at(spark, path).exists

  /** Run `body` as one commit against the snapshot `s` —
    * the one commit protocol every table and index write shares:
    *
    *  1. `body` stages new files ([[Txn.put]]) and names the files of
    *     the read snapshot they replace ([[Txn.remove]]);
    *  2. the staged files move to their final hive-style paths under
    *     the root (invisible until the entry names them);
    *  3. `_log/<n>.json` is created put-if-absent and whole (its
    *     `commitInfo` line last); if `n` was taken
    *     meanwhile the commit retries at `n + 1` — unless that entry
    *     removed a file this one removes too, which fails this commit
    *     loudly and deletes its new files;
    *  4. the files it removed are deleted.
    *
    * A rewrite removes exactly the files it read, so a concurrent append
    * (a delete's marker and stats row included) is never lost: it is an
    * add the rewrite never removes. Appends never conflict, and of two
    * rewrites of the same files only one can win. Readers resolve a
    * snapshot once and scan immutable files, lock-free.
    */
  def commit(s: Snapshot, op: String)(body: Txn => Unit): Long =
    Log.commit(s, op)(body)

  /** Append sink (reference: Delta append, `02_ingestion.py:214-217`). */
  def append(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val t = at(df.sparkSession, path)
    commit(t.snap, "append")(_.put(t, df, partitionBy))
  }

  /** Overwrite sink (reference: Delta overwrite, `03:113-117`, `05:79`...):
    * one commit that replaces every file of the table (and of the tables
    * nested under it, such as its tombstones) with `df` — safe even when
    * `df` reads `path` itself, since the old files stay until the commit
    * (the read-while-overwrite the reference got from Delta MVCC).
    * `partitionBy` gives the hive-style `key=value` layout of the
    * reference's partitioned Delta tables (`TABLE OPTIMIZATION.py:33-97`):
    * at 100 TB, time-partitioning a fact table buys PARTITION pruning
    * above row-group min/max pruning. Returns the rows written.
    */
  def overwrite(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Long = {
    val t = at(df.sparkSession, path)
    var rows = 0L
    commit(t.snap, "overwrite") { tx =>
      tx.remove(t.tree)
      rows = tx.put(t, df, partitionBy)
    }
    rows
  }
}
