package graft.layout

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table co-located joins (SURVEY.md §4 / the 100 TB design:
  * "bucketing for co-located joins"). Writing both join sides bucketed by
  * the join key into the session catalog lets Spark plan a SortMergeJoin
  * with NO shuffle exchange on either side — at 100 TB the single
  * biggest join cost simply disappears for repeated joins on the same
  * key. The spec asserts the exchange-free plan.
  */
object Bucketing {

  /** The leftover-location cleanup below derives the managed-table dir
    * as `warehouse/<name>`, which is wrong for a database-qualified
    * `db.tbl` (it lives at `warehouse/db.db/tbl`) and would let a
    * crafted name delete an unintended warehouse path — so bucketed
    * writers only accept plain unqualified identifiers.
    */
  private def requireUnqualified(table: String): Unit =
    require(table.matches("[A-Za-z0-9_]+"),
      s"bucketed tables must be unqualified [A-Za-z0-9_]+ names, got '$table'")

  /** Drop `table` AND its default managed location. Overwrite drops a
    * table known to THIS catalog, but a managed-table location can
    * survive a previous JVM whose (in-memory) catalog died with it —
    * CREATE then fails with LOCATION_ALREADY_EXISTS. Clearing the
    * leftover location keeps writes idempotent across sessions.
    */
  private def dropWithLocation(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(wh, true)
  }

  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    writeBucketedBy(df, table, Seq(key), buckets)

  /** Multi-column bucket spec — bucket (and sort) by ALL the join keys:
    * Spark's co-partitioning check requires every join key by default
    * (`spark.sql.requireAllClusterKeysForCoPartition`), so a table
    * bucketed by a key SUBSET still shuffles under a multi-key join.
    */
  def writeBucketedBy(df: DataFrame, table: String, keys: Seq[String],
      buckets: Int): Unit = {
    val spark = df.sparkSession
    requireUnqualified(table)
    dropWithLocation(spark, table)
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table) // Overwrite drops and recreates, bucket spec included
  }

  /** [[writeBucketedBy]] for a `df` that READS FROM `table` itself (a
    * compaction folding the current bulk generation into its
    * replacement): `saveAsTable(table)` would drop the table before the
    * plan ever scans it, silently losing the old generation. The new
    * generation materializes under a staged name first — the scan runs
    * against the intact old table — and swaps in by catalog rename
    * (metadata + one directory move; the bucket spec travels with the
    * table).
    */
  def writeBucketedBySwap(df: DataFrame, table: String, keys: Seq[String],
      buckets: Int): Unit = {
    val spark = df.sparkSession
    requireUnqualified(table)
    val staged = table + "__staged"
    val old = table + "__old"
    writeBucketedBy(df, staged, keys, buckets)
    // three-step rename, not drop-then-rename: the current generation
    // survives under `__old` until the staged one is in place, so a
    // crash anywhere in the chain leaves either `table` or a COMPLETE
    // `__staged` addressable — never neither ([[graft.sources.Tables]]
    // publish discipline brought to catalog tables; drop-then-rename
    // had a window where the bulk tier simply did not exist and a
    // subsequent rollover would silently rebuild it from the ingest
    // tier alone). [[recoverSwap]] promotes the staged generation when
    // a crash lands in the middle window.
    dropWithLocation(spark, old)
    if (spark.catalog.tableExists(table))
      spark.sql(s"ALTER TABLE `$table` RENAME TO `$old`")
    else dropWithLocation(spark, table) // clear a dead JVM's leftover dir
    spark.sql(s"ALTER TABLE `$staged` RENAME TO `$table`")
    dropWithLocation(spark, old)
  }

  /** Recover a [[writeBucketedBySwap]] interrupted between its renames:
    * staging always COMPLETES before any rename starts, so if `table`
    * is missing while its `__staged` replacement exists, the staged
    * generation is whole and is promoted; a leftover `__old` generation
    * is superseded either way and is dropped. Idempotent and cheap (two
    * catalog lookups when nothing is wrong) — swap writers and readers
    * of the table call it first.
    */
  def recoverSwap(spark: SparkSession, table: String): Unit = {
    requireUnqualified(table)
    val staged = table + "__staged"
    val old = table + "__old"
    if (!spark.catalog.tableExists(table) &&
        spark.catalog.tableExists(staged))
      spark.sql(s"ALTER TABLE `$staged` RENAME TO `$table`")
    // unreachable from the swap's own crash states (staging completes
    // before any rename), kept as a guard: never
    // drop the only surviving generation
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(old))
      spark.sql(s"ALTER TABLE `$old` RENAME TO `$table`")
    if (spark.catalog.tableExists(table))
      dropWithLocation(spark, old)
  }

  /** Join two same-bucketed catalog tables on their bucket key. */
  def bucketedJoin(spark: SparkSession, leftTable: String,
      rightTable: String, key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)
}
