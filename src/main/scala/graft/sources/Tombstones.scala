package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared tombstone mechanics for on-disk index layouts
  * ([[graft.operators.IvfAnn]] cells, [[graft.operators.LshIndex]]
  * band rows): a LOGICAL delete is an O(|deletes|) append-only marker
  * file under `<layout>/_tombstones` — the underscore prefix keeps it
  * invisible to the layout's own scan — read back by explicit part
  * file (passing the underscore dir as a read root rides a
  * hidden-name exemption and emits the "All paths were ignored" WARN,
  * the [[graft.layout.StatsManifest]] rationale). Serving layers
  * anti-join the marker set at probe time (broadcast while the marker
  * set is small — see [[MaxBroadcastBytes]]); compaction ([[compact]])
  * applies markers physically, and its publish swap replaces the whole
  * directory, clearing the markers with the old layout. The delete
  * path never rewrites data.
  *
  * Lifecycle invariants the index layers rely on:
  *  - a RE-ADMITTED id must not stay masked: append paths call
  *    [[unmark]] so a delete-then-readmit cycle serves the new rows
  *    instead of silently losing the document at the next compaction;
  *  - markers appended DURING a compaction survive it: compactors
  *    declare `_tombstones` as a carry directory of
  *    [[Tables.replace]], which documents the protocol and its one
  *    residual window.
  */
object Tombstones {

  /** Fixed marker column name — readers need no schema negotiation
    * with the layout's id column (the anti-join renames at probe time).
    */
  val Col = "__deleted_id"

  /** The marker subdirectory — the carry directory compactors declare
    * to [[Tables.replace]].
    */
  val Dir = "_tombstones"

  /** Above this many marker BYTES on disk, [[filterLive]] stops
    * force-broadcasting and lets the planner choose (a bulk purge
    * backlog between compactions must degrade to a shuffle anti-join,
    * not OOM the driver). Parquet bytes understate row width, so the
    * guard is deliberately far below the executor broadcast budget.
    */
  val MaxBroadcastBytes: Long = 64L << 20

  private def markerDir(layoutPath: String) = new Path(s"$layoutPath/$Dir")

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The marker dir's current part files (empty when none exist). */
  private def partFiles(spark: SparkSession,
      layoutPath: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val dir = markerDir(layoutPath)
    val f = fs(spark, dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toIndexedSeq
      .filter(_.getPath.getName.startsWith("part-"))
  }

  /** Append ids as tombstone markers — O(|ids|), new file only. */
  def write(spark: SparkSession, layoutPath: String, ids: DataFrame,
      idCol: String): Unit =
    ids.select(col(idCol).as(Col)).distinct()
      .write.mode("append").parquet(s"$layoutPath/$Dir")

  /** The layout's pending markers (None when nothing was deleted). */
  def read(spark: SparkSession, layoutPath: String): Option[DataFrame] = {
    val files = partFiles(spark, layoutPath).map(_.getPath.toString)
    if (files.isEmpty) None else Some(spark.read.parquet(files: _*))
  }

  /** Clear markers for RE-ADMITTED ids: rewrite the marker set minus
    * `ids` through [[Tables.replace]] (markers written meanwhile are
    * carried). Without this, a forgotten-then-reingested document's
    * stale marker hides its new rows at probe time and the next compaction drops them physically
    * — a silent permanent loss (round-8 advice). O(markers), which is
    * bounded by compaction cadence; a no-op when no marker matches.
    *
    * Contract: until the next compaction the layout holds the id's OLD
    * rows and the re-admitted ones side by side. For the index layouts
    * here rows are a deterministic function of content, so a same-
    * content readmit yields exact duplicate rows — harmless to the
    * probe paths (candidate joins are DISTINCT; a search may transiently
    * repeat a neighbor). Re-ingesting an id with CHANGED content must
    * compact between the delete and the readmit, or both versions serve.
    */
  def unmark(spark: SparkSession, layoutPath: String, ids: DataFrame,
      idCol: String): Unit =
    read(spark, layoutPath).foreach { ts =>
      val doomed = ids.select(col(idCol).as(Col)).distinct()
      // cheap pre-check: most appends carry no previously-deleted id,
      // and the common path must not rewrite the marker dir every batch
      if (!ts.join(doomed, Seq(Col), "left_semi").isEmpty) {
        val remaining = ts.join(doomed, Seq(Col), "left_anti")
        Tables.replace(spark, markerDir(layoutPath).toString,
            ts.inputFiles, carry = Seq("")) { staged =>
          // nothing left to mask: a marker dir without part files keeps
          // readers' "None when nothing was deleted" contract
          val out = new Path(staged)
          if (remaining.isEmpty) fs(spark, out).mkdirs(out)
          else remaining.write.parquet(staged)
        }
      }
    }

  /** Apply the pending markers physically: the layout at `path` minus
    * its tombstoned rows, laid out by `write(live, stagedDir)` and
    * swapped in through [[Tables.replace]] (markers written meanwhile are
    * carried). `idCol` is explicit — inferring it from column position
    * would silently anti-join the markers against the wrong column on a
    * reordered layout, permanently losing the deletes.
    */
  def compact(spark: SparkSession, path: String, idCol: String)(
      write: (DataFrame, String) => Unit): Unit = {
    val base = spark.read.parquet(path)
    require(base.columns.contains(idCol),
      s"id column '$idCol' not in layout schema ${base.columns.mkString(",")}")
    val live = filterLive(spark, path, base, idCol)
    Tables.replace(spark, path, live.inputFiles, Seq(Dir))(write(live, _))
  }

  /** `df` minus tombstoned rows: an anti-join on `idCol` against the
    * marker set — broadcast while the markers are small, planner's
    * choice past [[MaxBroadcastBytes]] — or `df` unchanged when no
    * markers exist.
    */
  def filterLive(spark: SparkSession, layoutPath: String, df: DataFrame,
      idCol: String,
      maxBroadcastBytes: Long = MaxBroadcastBytes): DataFrame = {
    val files = partFiles(spark, layoutPath)
    if (files.isEmpty) df
    else {
      val ts0 = spark.read.parquet(files.map(_.getPath.toString): _*)
      val ts = if (files.map(_.getLen).sum <= maxBroadcastBytes)
        broadcast(ts0) else ts0
      df.join(ts, df(idCol) === ts(Col), "left_anti")
    }
  }
}
