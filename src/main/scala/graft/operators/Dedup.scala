package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-based deduplication (SURVEY.md §2e W1/W2).
  *
  * Reference pattern: `row_number() over (partition by event_id order by
  * ingestion_ts desc) = 1` (`03_bronze_processing.py:102-109`) and the
  * priority pick variant (`04_silver_transformation.py:107-115`).
  *
  * Scale: one hash shuffle on the dedup keys; the window evaluates per-key
  * groups independently, so it parallelizes across executors. For heavily
  * skewed keys prefer `keepLatestByMax` (max_by aggregation benefits from
  * partial map-side aggregation and AQE skew handling).
  */
object Dedup {

  /** Keep the first row per key under `order` (pass descending columns for
    * keep-latest). `order` must be a total order within a key group —
    * include a unique tiebreaker column — or results are nondeterministic.
    *
    * Written as the declarative window idiom; the injected
    * [[graft.plans.RewriteWindowTopK]] rule plans it as
    * `TopKPerKeyExec(k = 1)` (bounded heap, map-side partial reduction)
    * instead of a WindowExec full per-group sort.
    */
  def keepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Keep-latest: one row per key, `orderCol` descending, ties broken by
    * every remaining column descending — a total order within a key
    * group, so identical duplicate rows tie harmlessly and differing
    * ones resolve deterministically (the CDC dedup ahead of a MERGE,
    * which needs unique source keys).
    */
  def keepLatest(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame =
    keepFirst(df, keys, col(orderCol).desc +: df.columns.toSeq
      .filterNot(c => keys.contains(c) || c == orderCol).map(col(_).desc))

  /** Same result as [[keepFirst]] with a single descending order column, but
    * expressed as an aggregation (`max_by` over a struct) so Catalyst can do
    * partial aggregation before the shuffle — the preferred shape at scale.
    */
  def keepLatestByMax(df: DataFrame, keys: Seq[String], tsCol: String,
      tieBreak: String): DataFrame = {
    val payload = struct(
      (Seq(tsCol, tieBreak) ++
        df.columns.filterNot(c => keys.contains(c) || c == tsCol || c == tieBreak))
        .map(col): _*)
    val picked = df
      .groupBy(keys.map(col): _*)
      .agg(max(payload).as("__best"))
    picked.select(keys.map(col) ++
      df.columns.filterNot(keys.contains)
        .map(c => col(s"__best.$c").as(c)): _*)
  }

  /** Per-key top-k through the custom physical operator
    * ([[graft.plans.TopKPerKeyPlan]] — bounded heaps with map-side
    * partial reduction instead of WindowExec's full per-group sort).
    * Same row SET as [[keepFirst]] filtered to rank ≤ k; `order` must be
    * total per key group. Requires the graft session extensions
    * ([[graft.Sessions]] installs them).
    */
  def topKPerKey(df: DataFrame, keys: Seq[String], order: Seq[Column],
      k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    import org.apache.spark.sql.graftglue.ColumnGlue
    val plan = graft.plans.TopKPerKeyPlan(
      keys.map(c => ColumnGlue.toCatalyst(df(c))),
      order.map(o => ColumnGlue.toCatalyst(o) match {
        case so: SortOrder => so
        case e => SortOrder(e, Ascending)
      }),
      k,
      df.queryExecution.analyzed)
    ColumnGlue.ofRows(df.sparkSession, plan)
  }

  /** Exact duplicate removal by full-row (or selected-column) equality —
    * hash-groupBy keeping the lowest id (north-star dedup tier 1).
    */
  def exact(df: DataFrame, onCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(onCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
}
