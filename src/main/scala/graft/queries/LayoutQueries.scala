package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.layout.Optimize
import graft.sources.Tables

/** Data-layout instrumentation for the clustering tier
  * ([[graft.layout.Optimize]] — the reference's `OPTIMIZE … ZORDER BY`
  * analog, `TABLE OPTIMIZATION.py:60-63`): the z-order effect measured
  * as a number, oracle-checked. `ZOrderSpec` proves file-skipping on
  * real written files; this query makes the same claim replayable by
  * the gate without touching disk.
  */
object LayoutQueries {

  private val Bits = 8          // 8-bit grid per dimension
  private val Files = 64        // 2^6 files per layout
  // fixed generous domain bounds — layout config, like clusterZ's args;
  // quantize clamps anything outside
  private val ALo = 0.0
  private val AHi = 2048.0 // user_id
  private val BLo = 0.0
  private val BHi = 1024.0 // value

  // the LSB-first interleave (out[2i]=a[i], out[2i+1]=b[i]) of
  // expressions/ZOrder.scala, unrolled as oracle SQL — disjoint bits,
  // so + is |
  private val zSql: String = (0 until Bits)
    .map(i => s"(((qa >> $i) & 1) << ${2 * i}) + (((qb >> $i) & 1) << ${2 * i + 1})")
    .mkString("\n      |    + ")

  private def quantSql(e: String, lo: Double, hi: Double): String =
    s"CAST(floor(least(greatest(($e - $lo) / ${hi - lo} * ${(1 << Bits) - 1}, " +
      s"0.0), ${((1 << Bits) - 1).toDouble})) AS BIGINT)"

  /** Per-file dimension spans under z-order vs lexicographic layout:
    * 64 z-range files bound BOTH quantized dimensions (each file covers
    * a small rectangle), while the lexicographic layout bounds only its
    * leading column and spans the full range of the other — so
    * predicates on the second column prune nothing. File assignment is
    * a pure projection (top bits of the key — no global sort, no
    * window), so the measurement itself is 100 TB-shaped: two map-side
    * aggregations over one scan each.
    */
  val zorderSpans: QuerySpec = QuerySpec.sql(
    "q93_zorder_spans",
    s"""WITH e AS (
      |  SELECT ${quantSql("user_id", ALo, AHi)} AS qa,
      |         ${quantSql("value", BLo, BHi)} AS qb
      |  FROM events
      |  WHERE user_id IS NOT NULL AND value IS NOT NULL),
      |z AS (
      |  SELECT qa, qb,
      |    $zSql AS z
      |  FROM e),
      |zf AS (SELECT qa, qb, z >> ${2 * Bits - 6} AS file FROM z),
      |lf AS (SELECT qa, qb, qa >> ${Bits - 6} AS file FROM e),
      |za AS (
      |  SELECT file, count(*) AS n,
      |    max(qa) - min(qa) AS sa, max(qb) - min(qb) AS sb
      |  FROM zf GROUP BY file),
      |la AS (
      |  SELECT file, count(*) AS n,
      |    max(qa) - min(qa) AS sa, max(qb) - min(qb) AS sb
      |  FROM lf GROUP BY file)
      |SELECT 'lex_user' AS strategy, CAST(count(*) AS BIGINT) AS n_files,
      |  round(avg(n) + 1e-9, 4) AS avg_rows,
      |  round(avg(sa) + 1e-9, 4) AS avg_qa_span,
      |  round(avg(sb) + 1e-9, 4) AS avg_qb_span
      |FROM la
      |UNION ALL
      |SELECT 'zorder' AS strategy, CAST(count(*) AS BIGINT) AS n_files,
      |  round(avg(n) + 1e-9, 4) AS avg_rows,
      |  round(avg(sa) + 1e-9, 4) AS avg_qa_span,
      |  round(avg(sb) + 1e-9, 4) AS avg_qb_span
      |FROM za
      |ORDER BY strategy""".stripMargin
  ) { (spark, dir) =>
    val base = Tables.load(spark, dir, "events")
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select(
        Optimize.quantize(col("user_id"), ALo, AHi, Bits).as("qa"),
        Optimize.quantize(col("value"), BLo, BHi, Bits).as("qb"),
        Optimize.zvalue((col("user_id"), ALo, AHi),
          (col("value"), BLo, BHi), Bits).as("z"))
    def layout(name: String, fileCol: Column): DataFrame =
      base.withColumn("file", fileCol)
        .groupBy(col("file"))
        .agg(count(lit(1)).as("n"),
          (max(col("qa")) - min(col("qa"))).as("sa"),
          (max(col("qb")) - min(col("qb"))).as("sb"))
        .agg(count(lit(1)).as("n_files"),
          round(avg(col("n")) + lit(1e-9), 4).as("avg_rows"),
          round(avg(col("sa")) + lit(1e-9), 4).as("avg_qa_span"),
          round(avg(col("sb")) + lit(1e-9), 4).as("avg_qb_span"))
        .select(lit(name).as("strategy"), col("n_files"), col("avg_rows"),
          col("avg_qa_span"), col("avg_qb_span"))
    layout("lex_user", shiftright(col("qa"), Bits - 6))
      .unionByName(layout("zorder", shiftright(col("z"), 2 * Bits - 6)))
      .orderBy(col("strategy"))
  }

  /** Time travel / change-data-feed through REAL versioned writes
    * ([[graft.sources.Snapshots]] — the Delta `VERSION AS OF` /
    * `table_changes` analog, previously spec-only): commit a
    * deterministic orders subset as v0, commit the next batch (deletes
    * + in-place price updates) as v1, and read `diff(v0, v1)` back off
    * disk. The oracle never sees the snapshot directory — it recomputes
    * both versions from `orders` and replays the diff as `EXCEPT ALL`
    * both ways, so the gate proves write → log commit → time-travel
    * read → row-level diff end-to-end. An update surfaces as its
    * delete+insert pair (the MERGE-over-snapshots semantics).
    */
  val timeTravelCdf: QuerySpec = QuerySpec.sql(
    "q96_time_travel_cdf",
    """WITH v0 AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderkey % 7 = 0),
      |v1 AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 14 = 0
      |         THEN round(o_totalprice * 1.1 + 1e-9, 2)
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders
      |  WHERE o_orderkey % 7 = 0
      |    AND NOT (o_orderstatus = 'F' AND o_orderkey % 21 = 0))
      |SELECT *, 'insert' AS _change_type FROM (
      |  SELECT * FROM v1 EXCEPT ALL SELECT * FROM v0)
      |UNION ALL
      |SELECT *, 'delete' AS _change_type FROM (
      |  SELECT * FROM v0 EXCEPT ALL SELECT * FROM v1)
      |ORDER BY _change_type, o_orderkey""".stripMargin
  ) { (spark, dir) =>
    import graft.sources.Snapshots
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    val v0df = orders.filter(col("o_orderkey") % 7 === 0)
    val v1df = v0df
      .filter(!(col("o_orderstatus") === "F" && col("o_orderkey") % 21 === 0))
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 14 === 0,
          round(col("o_totalprice") * 1.1 + lit(1e-9), 2))
          .otherwise(col("o_totalprice")))
    // a fresh single-writer table per run: Scratch.fresh wipes last
    // run's versions, so v0/v1 are always THIS run's two commits
    val table = graft.Scratch.fresh("q96")
    val v0 = Snapshots.write(v0df, table)
    val v1 = Snapshots.write(v1df, table)
    Snapshots.diff(spark, table, v0, v1)
      .orderBy(col("_change_type"), col("o_orderkey"))
  }

  /** ORC source/sink gate (previously spec-only): a deterministic
    * lineitem subset is written as REAL ORC files and read back, and
    * the verification aggregate runs over the read-back frame — any
    * roundtrip corruption across the exercised types (long, string,
    * double, date) breaks the hash. The oracle computes the same
    * aggregate straight from `lineitem`; at scale the interesting part
    * is that the ORC scan takes the same pushdown/pruning path as
    * parquet (`OrcRoundtripSpec` pins the PushedFilters), so a user can
    * point the engine at either format.
    */
  val orcRoundtrip: QuerySpec = QuerySpec.sql(
    "q99_orc_roundtrip",
    """SELECT l_returnflag,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE)
      |    + 1e-9, 2) AS sum_qty,
      |  min(l_shipdate) AS first_ship,
      |  max(l_shipdate) AS last_ship,
      |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      |FROM lineitem
      |WHERE l_orderkey % 11 = 0
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin
  ) { (spark, dir) =>
    val subset = Tables.load(spark, dir, "lineitem")
      .filter(col("l_orderkey") % 11 === 0)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
        col("l_shipdate"))
    val path = graft.Scratch.fresh("q99") + "/li_orc"
    subset.write.mode("overwrite").orc(path)
    spark.read.orc(path)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(graft.functions.Stable.sumD(col("l_quantity")) + lit(1e-9), 2)
          .as("sum_qty"),
        min(col("l_shipdate")).as("first_ship"),
        max(col("l_shipdate")).as("last_ship"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_returnflag"))
  }

  /** File-stats manifest data skipping
    * ([[graft.layout.StatsManifest]]): the lineitem projection is
    * range-clustered into 16 files with a per-file min/max manifest,
    * and the range query reads ONLY the files whose window intersects
    * the predicate (the Delta/Iceberg data-skipping contract, one level
    * above parquet row-group pruning — at 100 TB it's the difference
    * between listing a manifest and opening a million footers). The
    * pruned read is a superset; the exact predicate re-applies on top,
    * so the oracle — a plain full-scan range aggregate — hash-matches
    * iff pruning lost nothing. `StatsManifestSpec` asserts the scan's
    * FILE SET actually shrank (the I/O claim the result alone can't
    * prove).
    */
  val statsSkipping: QuerySpec = QuerySpec.sql(
    "q115_stats_skipping",
    """SELECT l_returnflag,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10))) AS DOUBLE)
      |    + 1e-9, 2) AS sum_price
      |FROM lineitem
      |WHERE l_extendedprice >= 1000.0 AND l_extendedprice <= 2000.0
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin
  ) { (spark, dir) =>
    import graft.layout.StatsManifest
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"))
    val path = graft.Scratch.dir("q115") + "/li_stats"
    StatsManifest.write(li, path, Seq("l_extendedprice"), targetFiles = 16)
    StatsManifest.readPruned(spark, path, "l_extendedprice", 1000.0, 2000.0)
      .filter(col("l_extendedprice") >= 1000.0 &&
        col("l_extendedprice") <= 2000.0)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(graft.functions.Stable.sumD(col("l_extendedprice")) + lit(1e-9), 2)
          .as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  /** CSV source/sink gate — q99's contract for the text format that
    * interchange pipelines still ingest: a deterministic orders subset
    * writes as REAL CSV (header on) and reads back under an EXPLICIT
    * schema (CSV carries no types — the explicit-schema read is the
    * production pattern; inference is a sampling scan that can't be
    * trusted at 100 TB), and the verification aggregate runs over the
    * read-back frame. Exercised types: long, string, date, and a
    * decimal-summed double — any quoting/escaping/parse corruption
    * breaks the hash (o_comment carries commas, so quoting is actually
    * on the path). The oracle aggregates straight from `orders`.
    */
  val csvRoundtrip: QuerySpec = QuerySpec.sql(
    "q176_csv_roundtrip",
    """SELECT o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,10))) AS DOUBLE)
      |    + 1e-9, 2) AS sum_price,
      |  min(CAST(o_orderdate AS DATE)) AS first_order,
      |  max(CAST(o_orderdate AS DATE)) AS last_order,
      |  CAST(sum(length(o_orderpriority || ',' || o_orderstatus)) AS BIGINT)
      |    AS note_chars
      |FROM orders
      |WHERE o_orderkey % 13 = 0
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin
  ) { (spark, dir) =>
    val subset = Tables.load(spark, dir, "orders")
      .filter(col("o_orderkey") % 13 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"), col("o_orderdate").cast("date").as("o_orderdate"),
        // embedded comma puts CSV QUOTING on the verified path
        concat(col("o_orderpriority"), lit(","), col("o_orderstatus"))
          .as("o_note"))
    val path = graft.Scratch.fresh("q176") + "/orders_csv"
    subset.write.mode("overwrite").option("header", "true").csv(path)
    spark.read.schema(subset.schema).option("header", "true").csv(path)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(graft.functions.Stable.sumD(col("o_totalprice")) + lit(1e-9), 2)
          .as("sum_price"),
        min(col("o_orderdate")).as("first_order"),
        max(col("o_orderdate")).as("last_order"),
        sum(length(col("o_note"))).as("note_chars"))
      .orderBy(col("o_orderpriority"))
  }

  val all: Seq[QuerySpec] =
    Seq(zorderSpans, timeTravelCdf, orcRoundtrip, statsSkipping,
      csvRoundtrip)
}
