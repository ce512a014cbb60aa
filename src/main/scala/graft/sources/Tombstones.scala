package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared tombstone mechanics for on-disk index layouts
  * ([[graft.operators.IvfAnn]] cells, [[graft.operators.LshIndex]]
  * band rows, [[graft.operators.TextIndex]] postings): a LOGICAL delete
  * commits an O(|deletes|) marker file into the layout's marker table
  * `<layout>/_tombstones` — the underscore keeps it out of any plain
  * directory scan — and the layout's log lists the live markers, so
  * reading them lists no directory. Serving layers anti-join the marker
  * set at probe time (broadcast while the marker set is small — see
  * [[MaxBroadcastBytes]]); compaction ([[compact]]) applies the markers
  * it read physically and removes exactly those marker files in the same
  * commit. The delete path never rewrites data.
  *
  * Lifecycle invariants the index layers rely on:
  *  - a RE-ADMITTED id must not stay masked: append paths call
  *    [[unmark]] so a delete-then-readmit cycle serves the new rows
  *    instead of silently losing the document at the next compaction;
  *  - markers committed DURING a compaction survive it: they are adds
  *    the compaction never read, so it never removes them
  *    ([[Tables.commit]]).
  */
object Tombstones {

  /** Fixed marker column name — readers need no schema negotiation
    * with the layout's id column (the anti-join renames at probe time).
    */
  val Col = "__deleted_id"

  /** The marker table's name under its layout. */
  val Dir = "_tombstones"

  /** Above this many marker BYTES, [[filterLive]] stops force-broadcasting
    * and lets the planner choose (a bulk purge backlog between
    * compactions must degrade to a shuffle anti-join, not OOM the
    * driver). Parquet bytes understate row width, so the guard is
    * deliberately far below the executor broadcast budget.
    */
  val MaxBroadcastBytes: Long = 64L << 20

  /** The marker table of layout `t`. */
  def markers(t: Table): Table = t.sub(Dir)

  /** Stage `ids` as new markers of layout `t` in `tx`. */
  def put(tx: Txn, t: Table, ids: DataFrame, idCol: String): Unit =
    tx.put(markers(t), ids.select(col(idCol).as(Col)).distinct())

  /** Append ids as tombstone markers — O(|ids|), one new file. */
  def write(spark: SparkSession, layoutPath: String, ids: DataFrame,
      idCol: String): Unit = {
    val t = Tables.at(spark, layoutPath)
    Tables.commit(t.snap, "delete")(put(_, t, ids, idCol))
  }

  /** The layout's pending markers (None when nothing was deleted). */
  def read(spark: SparkSession, layoutPath: String): Option[DataFrame] =
    read(Tables.at(spark, layoutPath))

  def read(t: Table): Option[DataFrame] = {
    val m = markers(t)
    if (m.files.isEmpty) None else Some(m.df)
  }

  /** Clear markers for RE-ADMITTED ids in `tx`: the marker files `t`'s
    * snapshot holds are replaced by the marker set minus `ids` (markers
    * committed meanwhile are adds this commit never removes). Without
    * this, a forgotten-then-reingested document's stale marker hides its
    * new rows at probe time and the next compaction drops them
    * physically — a silent permanent loss (round-8 advice).
    * O(markers), which is bounded by compaction cadence; a no-op when no
    * marker matches.
    *
    * Contract: until the next compaction the layout holds the id's OLD
    * rows and the re-admitted ones side by side. For the index layouts
    * here rows are a deterministic function of content, so a same-
    * content readmit yields exact duplicate rows — harmless to the
    * probe paths (candidate joins are DISTINCT; a search may transiently
    * repeat a neighbor). Re-ingesting an id with CHANGED content must
    * compact between the delete and the readmit, or both versions serve.
    */
  def unmark(tx: Txn, t: Table, ids: DataFrame, idCol: String): Unit =
    read(t).foreach { ts =>
      val doomed = ids.select(col(idCol).as(Col)).distinct()
      // cheap pre-check: most appends carry no previously-deleted id,
      // and the common path must not rewrite the markers every batch
      if (!ts.join(doomed, Seq(Col), "left_semi").isEmpty) {
        tx.remove(markers(t).files)
        // nothing left to mask: no marker file keeps readers' "None when
        // nothing was deleted" contract
        val remaining = ts.join(doomed, Seq(Col), "left_anti")
        if (!remaining.isEmpty) tx.put(markers(t), remaining)
      }
    }

  /** Apply the pending markers physically: ONE commit that replaces the
    * layout at `path` and the markers it read with `shape(live)` (the
    * layout minus its tombstoned rows), hive-partitioned by
    * `partitionBy`. `idCol` is explicit — inferring it from column
    * position would silently anti-join the markers against the wrong
    * column on a reordered layout, permanently losing the deletes.
    */
  def compact(spark: SparkSession, path: String, idCol: String,
      partitionBy: Seq[String] = Nil)(shape: DataFrame => DataFrame): Unit = {
    val t = Tables.at(spark, path)
    val base = t.df
    require(base.columns.contains(idCol),
      s"id column '$idCol' not in layout schema ${base.columns.mkString(",")}")
    Tables.commit(t.snap, "compact") { tx =>
      tx.remove(t.files ++ markers(t).files)
      tx.put(t, shape(filterLive(t, base, idCol)), partitionBy)
    }
  }

  /** `df` minus tombstoned rows: an anti-join on `idCol` against the
    * marker set — broadcast while the markers are small, planner's
    * choice past [[MaxBroadcastBytes]] — or `df` unchanged when no
    * markers exist.
    */
  def filterLive(t: Table, df: DataFrame, idCol: String,
      maxBroadcastBytes: Long = MaxBroadcastBytes): DataFrame = {
    val m = markers(t)
    if (m.files.isEmpty) df
    else {
      val ts = if (m.files.map(_.size).sum <= maxBroadcastBytes)
        broadcast(m.df) else m.df
      df.join(ts, df(idCol) === ts(Col), "left_anti")
    }
  }
}
