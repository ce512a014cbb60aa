package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Versioned parquet tables: time travel, history, and vacuum — the Delta
  * Lake verbs the reference leans on (`DESCRIBE HISTORY` / `VERSION AS OF`
  * implied by its Delta storage, `VACUUM` at `TABLE OPTIMIZATION.py:136-144`)
  * re-expressed over vanilla Parquet.
  *
  * Layout: each commit attempt first claims its version with a
  * put-if-absent `table/_claim=N` file, then writes the full snapshot
  * directory `table/_v=N`, then creates the commit marker file
  * `table/_commit=N`, also put-if-absent; the latest version is the
  * highest marked one. This is MVCC for the single-writer / many-reader
  * regime the reference runs in (`Pipeline.json:22`
  * `max_concurrent_runs: 1`):
  *
  *  - readers resolve the latest marker once and then scan an immutable
  *    directory, so a concurrent overwrite NEVER disturbs a running read
  *    (the read-while-overwrite hazard [[Tables.overwrite]] solves with a
  *    swap simply does not exist here), and there is no instant at which
  *    a committed table shows no version;
  *  - a crash between claim and marker create leaves an unmarked
  *    attempt that no reader can observe; [[vacuum]] collects it;
  *  - an attempt writes only into the version it claimed, and the next
  *    version is one past every claim, snapshot and marker on disk, so
  *    no attempt ever writes into another's directory: of two committers
  *    that computed the same version, the loser's claim fails loudly
  *    before its writer runs;
  *  - time travel is `readVersion(path, n)`; retention is
  *    `vacuum(path, keepLast)`.
  *
  * Full-snapshot-per-version suits tables the pipeline OVERWRITES (gold
  * layers, dims, watermark state — every reference table but bronze);
  * append-heavy bronze at 100 TB would want log-structured increments
  * instead, which [[graft.state.WatermarkStore]] already provides by
  * making each increment addressable by watermark range.
  */
object Snapshots {

  private val CPrefix = "_commit="
  private val VPrefix = "_v="
  private val KPrefix = "_claim="

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionDir(path: String, v: Long) = new Path(s"$path/$VPrefix$v")

  private[sources] def commitMarker(path: String, v: Long) =
    new Path(s"$path/$CPrefix$v")

  private def claim(path: String, v: Long) = new Path(s"$path/$KPrefix$v")

  /** Distinct version numbers of the root entries named `<prefix>N`
    * for any of `prefixes`, sorted.
    */
  private def numbered(spark: SparkSession, path: String,
      prefixes: String*): Seq[Long] = {
    val f = fs(spark, path)
    val root = new Path(path)
    if (!f.exists(root)) Seq.empty
    else
      f.listStatus(root).toSeq
        .map(_.getPath.getName)
        .flatMap(n =>
          prefixes.find(n.startsWith).map(p => n.drop(p.length).toLong))
        .distinct.sorted
  }

  /** Committed versions, oldest first. */
  private def marked(spark: SparkSession, path: String): Seq[Long] =
    numbered(spark, path, CPrefix)

  /** Latest committed version, or None for a table with no commits. */
  def latestVersion(spark: SparkSession, path: String): Option[Long] =
    marked(spark, path).lastOption

  /** Commit `df` as the next version. Returns the new version number.
    * The snapshot is fully materialized before its commit marker exists,
    * so readers see either the previous or the new version — never a
    * partial directory.
    */
  def write(df: DataFrame, path: String): Long =
    commit(df.sparkSession, path)(dir =>
      df.write.mode(SaveMode.ErrorIfExists).parquet(dir))

  /** Commit a version whose CONTENT an arbitrary writer produces —
    * partitioned layouts, multi-artifact directories — under the same
    * MVCC contract as [[write]]: `writer` receives the fresh version
    * directory and must fully materialize it; the commit marker is
    * created only after it returns, so a reader resolves either the
    * previous or the new version, never a partial one, and a crash
    * mid-write leaves an orphan directory no reader can observe
    * ([[vacuum]] collects it). This is how non-tabular artifacts
    * version — e.g. an IVF index (quantizer + cell layout) published
    * while searches pinned to the previous version keep serving ([[graft.operators.IvfAnn]], q124).
    */
  def commit(spark: SparkSession, path: String)(writer: String => Unit): Long = {
    val f = fs(spark, path)
    val next = numbered(spark, path, CPrefix, VPrefix, KPrefix)
      .lastOption.getOrElse(-1L) + 1
    // put-if-absent claims: a committer that raced this one to `next`
    // and won makes these creates throw, never a shared directory or a
    // silent second commit
    f.create(claim(path, next), false).close()
    writer(versionDir(path, next).toString)
    f.create(commitMarker(path, next), false).close()
    next
  }

  /** The version directory's path (for artifacts a plain
    * [[readVersion]] DataFrame read can't serve — partitioned layouts
    * searched through their own reader).
    */
  def versionPath(path: String, version: Long): String =
    versionDir(path, version).toString

  /** Read the latest committed snapshot. */
  def read(spark: SparkSession, path: String): DataFrame =
    readVersion(spark, path,
      latestVersion(spark, path).getOrElse(
        throw new java.util.NoSuchElementException(s"no snapshots at $path")))

  /** Time travel: read snapshot `version` (`VERSION AS OF` analog). */
  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame =
    spark.read.parquet(versionDir(path, version).toString)

  /** `DESCRIBE HISTORY` analog: one row per committed version with file
    * count, byte size, and commit time (snapshot-dir modification time).
    * Small metadata listing — runs on the driver like any catalog op.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, path)
    val versions = marked(spark, path)
    val latest = versions.lastOption
    val rows = versions
      .map { v =>
        val dir = versionDir(path, v)
        val files = f.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet"))
        (v, files.length.toLong, files.map(_.getLen).sum,
          new java.sql.Timestamp(f.getFileStatus(dir).getModificationTime),
          latest.contains(v))
      }
    rows.toDF("version", "num_files", "size_bytes", "commit_ts", "is_latest")
  }

  /** `RESTORE TABLE ... TO VERSION AS OF` analog: re-commit an old
    * snapshot as the NEW latest version. History is preserved (restore
    * is itself a commit, same as Delta), so a restore can be restored;
    * the copied data is one distributed read+write of the old version.
    */
  def restore(spark: SparkSession, path: String, version: Long): Long =
    write(readVersion(spark, path, version), path)

  /** Change-data-feed analog (Delta `table_changes`): the row-level diff
    * between two committed versions, tagged `insert` / `delete` in a
    * `_change_type` column (an update surfaces as its delete+insert
    * pair — the reference's MERGE semantics over full snapshots).
    * `exceptAll` keeps duplicate multiplicity, so a row appearing twice
    * in `to` but once in `from` diffs as ONE insert. Runs as two
    * distributed anti-semi set differences — no driver-side collection.
    */
  def diff(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val from = readVersion(spark, path, fromVersion)
    val to = readVersion(spark, path, toVersion)
    to.exceptAll(from).withColumn("_change_type", lit("insert"))
      .unionByName(
        from.exceptAll(to).withColumn("_change_type", lit("delete")))
  }

  /** `VACUUM` analog: keep the newest `keepLast` committed versions and
    * delete every other version on disk, committed or not — older
    * versions and unmarked (crashed or failed) attempts alike. The
    * latest version is never deleted; `keepLast` is clamped to >= 1.
    * Run it with no commit in flight: an attempt still writing is
    * unmarked too.
    */
  def vacuum(spark: SparkSession, path: String, keepLast: Int): Seq[Long] = {
    val f = fs(spark, path)
    val committed = marked(spark, path)
    if (committed.isEmpty) return Seq.empty
    val kept = committed.takeRight(math.max(keepLast, 1)).toSet
    val victims = numbered(spark, path, VPrefix, KPrefix).filterNot(kept)
    victims.foreach { v =>
      f.delete(commitMarker(path, v), false)
      f.delete(versionDir(path, v), true)
      f.delete(claim(path, v), false)
    }
    victims
  }
}
