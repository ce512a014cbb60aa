package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned parquet tables: time travel, history, and vacuum — the Delta
  * Lake verbs the reference leans on (`DESCRIBE HISTORY` / `VERSION AS OF`
  * implied by its Delta storage, `VACUUM` at `TABLE OPTIMIZATION.py:136-144`)
  * re-expressed over vanilla Parquet.
  *
  * Layout: each version is a full snapshot directory `table/_v=N`, and
  * each is ONE commit of the table's log ([[Tables.commit]]) that adds
  * the directory's files; the version number is that commit's log
  * version, the latest version the newest snapshot commit. This is MVCC
  * for the single-writer / many-reader regime the reference runs in
  * (`Pipeline.json:22` `max_concurrent_runs: 1`):
  *
  *  - readers resolve a version once and then scan an immutable
  *    directory, so a concurrent commit NEVER disturbs a running read,
  *    and there is no instant at which a committed table shows no
  *    version;
  *  - a crash before the log entry leaves an uncommitted directory no
  *    reader can observe; [[vacuum]] collects it;
  *  - an attempt writes into a directory one past every version and
  *    directory on disk (created before its writer runs), so a commit
  *    started inside another's writer never shares its directory; a
  *    racing committer that takes the log version first only moves this
  *    commit to the next version;
  *  - time travel is `readVersion(path, n)`; retention is
  *    `vacuum(path, keepLast)`; `history` is the snapshot commits'
  *    `commitInfo`.
  *
  * Full-snapshot-per-version suits tables the pipeline OVERWRITES (gold
  * layers, dims, watermark state — every reference table but bronze);
  * append-heavy bronze at 100 TB would want log-structured increments
  * instead, which [[graft.state.WatermarkStore]] already provides by
  * making each increment addressable by watermark range.
  */
object Snapshots {

  private val VPrefix = "_v="
  private val Commit = "snapshot"

  /** Live versions, oldest first, with their directory (table) names. */
  private def versions(s: Snapshot): Seq[(Long, String)] = {
    val vacuumed = s.log.filter(_._2.operation == "vacuum")
      .flatMap(_._2.tables).toSet
    s.log.collect { case (v, i) if i.operation == Commit &&
      !vacuumed(i.tables.head) => v -> i.tables.head }
  }

  private def dirOf(s: Snapshot, version: Long): String =
    versions(s).find(_._1 == version).map(_._2).getOrElse(
      throw new java.util.NoSuchElementException(
        s"no version $version at ${s.root}"))

  /** Numbers of the `_v=N` directories on disk, committed or not. */
  private def onDisk(spark: SparkSession, path: String): Seq[Long] = {
    val f = Log.fs(spark, path)
    if (!f.exists(new Path(path))) Nil
    else f.listStatus(new Path(path)).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(VPrefix)).map(_.drop(VPrefix.length).toLong)
  }

  /** Latest committed version, or None for a table with no commits. */
  def latestVersion(spark: SparkSession, path: String): Option[Long] =
    versions(Log.snapshot(spark, path)).lastOption.map(_._1)

  /** Commit `df` as the next version. Returns the new version number.
    * The snapshot is fully materialized before its log entry exists, so
    * readers see either the previous or the new version — never a
    * partial directory.
    */
  def write(df: DataFrame, path: String): Long = {
    val s = Log.snapshot(df.sparkSession, path)
    Log.commit(s, Commit)(_.put(s.table(claim(s)), df))
  }

  /** Commit a version whose CONTENT an arbitrary writer produces —
    * partitioned layouts, multi-artifact directories, a copied index
    * with its own log — under the same MVCC contract as [[write]]:
    * `writer` receives the fresh version directory and must fully
    * materialize it; the log entry is created only after it returns, so
    * a reader resolves either the previous or the new version, never a
    * partial one, and a crash mid-write leaves an orphan directory no
    * reader can observe ([[vacuum]] collects it). This is how
    * non-tabular artifacts version — e.g. an IVF index (quantizer + cell
    * layout) published while searches pinned to the previous version
    * keep serving ([[graft.operators.IvfAnn]], q124). The writer writes
    * through [[Tables]], so the version is read through its own log.
    */
  def commit(spark: SparkSession, path: String)(writer: String => Unit): Long = {
    val s = Log.snapshot(spark, path)
    val dir = claim(s)
    writer(s"$path/$dir")
    Log.commit(s, Commit)(_.adopt(s.table(dir)))
  }

  /** A fresh version directory, created one past every version and
    * directory on disk.
    */
  private def claim(s: Snapshot): String = {
    val dir = s"$VPrefix${(s.version +: onDisk(s.spark, s.root)).max + 1}"
    Log.fs(s.spark, s.root).mkdirs(new Path(s.root, dir))
    dir
  }

  /** The version directory's path (for artifacts a plain
    * [[readVersion]] DataFrame read can't serve — partitioned layouts
    * searched through their own reader).
    */
  def versionPath(path: String, version: Long): String =
    s"$path/${dirOf(Log.snapshot(SparkSession.active, path), version)}"

  /** Read the latest committed snapshot. */
  def read(spark: SparkSession, path: String): DataFrame =
    readVersion(spark, path,
      latestVersion(spark, path).getOrElse(
        throw new java.util.NoSuchElementException(s"no snapshots at $path")))

  /** Time travel: read snapshot `version` (`VERSION AS OF` analog). */
  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame =
    Tables.read(spark, versionPath(path, version))

  /** `DESCRIBE HISTORY` analog: one row per live version with file
    * count, byte size, and commit time, read from each snapshot commit's
    * `commitInfo`.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val s = Log.snapshot(spark, path)
    val live = versions(s).map(_._1).toSet
    val latest = live.maxOption
    s.log.filter(e => live(e._1)).map { case (v, i) =>
      (v, i.files, i.bytes, new java.sql.Timestamp(i.timestamp),
        latest.contains(v))
    }.toDF("version", "num_files", "size_bytes", "commit_ts", "is_latest")
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
    * delete every other version directory on disk, committed or not —
    * older versions (retired by one "vacuum" commit) and uncommitted
    * (crashed or failed) attempts alike. Returns the removed directories'
    * numbers. The latest version is never deleted; `keepLast` is clamped
    * to >= 1. Run it with no commit in flight: an attempt still writing
    * is uncommitted too.
    */
  def vacuum(spark: SparkSession, path: String, keepLast: Int): Seq[Long] = {
    val s = Log.snapshot(spark, path)
    val live = versions(s)
    if (live.isEmpty) return Seq.empty
    val kept = live.takeRight(math.max(keepLast, 1)).map(_._2).toSet
    val victims = onDisk(spark, path).sorted
      .filterNot(n => kept(s"$VPrefix$n"))
    Log.commit(s, "vacuum")(tx =>
      victims.foreach(n => tx.remove(s.table(s"$VPrefix$n").files)))
    victims.foreach(n => Log.fs(spark, path).delete(new Path(path, s"$VPrefix$n"), true))
    victims
  }
}
