package graft.queries

import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.functions.Text
import graft.operators.Sketches
import graft.sources.Tables

/** Portable-sketch tier ([[graft.operators.Sketches]]): distinct-count
  * and membership sketches whose every bit is reproducible in the DuckDB
  * oracle — unlike `approx_count_distinct`/`bloom_filter_agg`, whose
  * binary states are engine-private. The queries check the SKETCH
  * (k-min set, bit words, probe verdicts) exactly, and report accuracy
  * against the exact answer computed alongside.
  */
object SketchQueries {

  private val KmvK = 256

  /** KMV distinct-count sketch of `o_custkey` vs the exact distinct
    * count. At 100 TB the exact side is the expensive one (full distinct
    * shuffle); the sketch side is a per-partition top-k heap merged on
    * the driver-sized final partition — the query carries both to report
    * the relative error the sketch actually achieves.
    */
  val kmvDistinct: QuerySpec = QuerySpec.sql(
    "q75_kmv_distinct",
    s"""WITH h AS (
      |  SELECT DISTINCT ${Sketches.uniformHashSql("o_custkey")} AS h
      |  FROM orders),
      |km AS (SELECT h FROM h ORDER BY h LIMIT $KmvK),
      |sk AS (SELECT count(*) AS k_used, max(h) AS kth_hash FROM km),
      |ex AS (SELECT count(DISTINCT o_custkey) AS exact_distinct FROM orders),
      |est AS (
      |  SELECT k_used, kth_hash, exact_distinct,
      |    CASE WHEN k_used < $KmvK THEN CAST(k_used AS DOUBLE)
      |         ELSE CAST(k_used - 1 AS DOUBLE) * ${Sketches.P}.0 / kth_hash
      |    END AS e
      |  FROM sk, ex)
      |SELECT CAST(k_used AS BIGINT) AS k_used, kth_hash,
      |  round(e + 1e-9, 2) AS estimate,
      |  CAST(exact_distinct AS BIGINT) AS exact_distinct,
      |  round(abs(e - exact_distinct) / exact_distinct + 1e-9, 4) AS rel_error
      |FROM est""".stripMargin
  ) { (spark, dir) =>
    val orders = Tables.load(spark, dir, "orders")
    val sk = Sketches.kmv(orders, col("o_custkey"), KmvK)
    val ex = orders.agg(countDistinct(col("o_custkey")).as("exact_distinct"))
    val e = Sketches.kmvEstimate(col("k_used"), col("kth_hash"), KmvK)
    sk.crossJoin(ex)
      .select(col("k_used"), col("kth_hash"),
        round(e + lit(1e-9), 2).as("estimate"),
        col("exact_distinct"),
        round(abs(e - col("exact_distinct")) / col("exact_distinct")
          + lit(1e-9), 4).as("rel_error"))
  }

  private val KmvGroupK = 64

  /** GROUPED KMV distinct-count — one k-min sketch per `o_orderpriority`
    * ([[Sketches.kmvGrouped]]), the per-key cardinality lever: the
    * dedup exchange moves map-side-deduped (grp, hash) pairs and the
    * k-min reduction is a bounded heap per group per partition with
    * ≤ groups · k rows in its exchange — unlike
    * `count(DISTINCT user) GROUP BY source`, whose final aggregation
    * carries every group's full distinct set. The exact per-group distinct is
    * computed alongside so every group reports the relative error its
    * sketch actually achieves; estimator and hash are bit-reproduced by
    * the oracle, so the gate checks the sketch STATE per group, not
    * just the estimate.
    */
  val kmvGroupedDistinct: QuerySpec = QuerySpec.sql(
    "q110_kmv_grouped",
    s"""WITH h AS (
      |  SELECT DISTINCT o_orderpriority AS grp,
      |    ${Sketches.uniformHashSql("o_custkey")} AS h
      |  FROM orders),
      |km AS (
      |  SELECT grp, h FROM (
      |    SELECT grp, h,
      |      row_number() OVER (PARTITION BY grp ORDER BY h) AS rk
      |    FROM h) t WHERE rk <= $KmvGroupK),
      |sk AS (
      |  SELECT grp, count(*) AS k_used, max(h) AS kth_hash
      |  FROM km GROUP BY grp),
      |ex AS (
      |  SELECT o_orderpriority AS grp,
      |    count(DISTINCT o_custkey) AS exact_distinct
      |  FROM orders GROUP BY 1),
      |est AS (
      |  SELECT s.grp, k_used, kth_hash, exact_distinct,
      |    CASE WHEN k_used < $KmvGroupK THEN CAST(k_used AS DOUBLE)
      |         ELSE CAST(k_used - 1 AS DOUBLE) * ${Sketches.P}.0 / kth_hash
      |    END AS e
      |  FROM sk s JOIN ex USING (grp))
      |SELECT grp, CAST(k_used AS BIGINT) AS k_used, kth_hash,
      |  round(e + 1e-9, 2) AS estimate,
      |  CAST(exact_distinct AS BIGINT) AS exact_distinct,
      |  round(abs(e - exact_distinct) / exact_distinct + 1e-9, 4)
      |    AS rel_error
      |FROM est ORDER BY grp""".stripMargin
  ) { (spark, dir) =>
    val orders = Tables.load(spark, dir, "orders")
    val sk = Sketches.kmvFinalizeGrouped(
      Sketches.kmvGrouped(orders, col("o_orderpriority"), col("o_custkey"),
        KmvGroupK))
    val ex = orders.groupBy(col("o_orderpriority").as("grp"))
      .agg(countDistinct(col("o_custkey")).as("exact_distinct"))
    val e = Sketches.kmvEstimate(col("k_used"), col("kth_hash"), KmvGroupK)
    sk.join(ex, "grp")
      .select(col("grp"), col("k_used"), col("kth_hash"),
        round(e + lit(1e-9), 2).as("estimate"),
        col("exact_distinct"),
        round(abs(e - col("exact_distinct")) / col("exact_distinct")
          + lit(1e-9), 4).as("rel_error"))
      .orderBy(col("grp"))
  }

  // Filter size derives from the OBSERVED eval-shingle count
  // ([[Sketches.bloomBits]]): 32 bits/key at 4 hashes gives per-probe
  // FP ≈ 0.02 % at EVERY scale factor — a constant saturates once the
  // build side outgrows it (a 4096-bit first cut set every bit and
  // flagged all 400 train docs). ~17 k eval shingles at sf0.1 → 544 k
  // bits = 68 kB broadcast. The oracle replays the identical integer
  // sizing arithmetic from its own count — see the `mb` CTE.
  private val BloomBitsPerKey = 32
  private val NHashes = 4
  // the oracle's copy of Sketches.bloomBits, textually parallel
  private val mSql = "(SELECT m FROM mb)"

  private val tokSql =
    """list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != '')"""
  private val shinglesSql =
    s"""list_distinct(list_transform(
      |      CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |           ELSE [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)] END,
      |      s -> ${Text.charHashSql("s")}))""".stripMargin

  /** Bloom-filtered decontamination — q69's scale path made concrete:
    * the EVAL set's shingle hashes build a [[Sketches.bloomBuild]]
    * filter (one bit_or aggregation over the SMALL side); every TRAIN
    * document is then probed with a broadcast join instead of
    * semi-joining the full train shingle explosion against the eval
    * set. False positives are the price — the query reports them by
    * carrying the exact overlap verdict per flagged doc (at production
    * scale the exact join would re-check only the flagged docs, a
    * ~100× smaller input).
    */
  val bloomDecon: QuerySpec = QuerySpec.sql(
    "q81_bloom_decon",
    s"""WITH t AS (
      |  SELECT doc_id, $tokSql AS toks,
      |    ((doc_id % 1000003) * 2654435761) % 100 AS bucket
      |  FROM documents),
      |sh AS (SELECT doc_id, bucket, $shinglesSql AS sh FROM t),
      |eval_h AS (SELECT DISTINCT unnest(sh) AS h FROM sh WHERE bucket >= 90),
      |mb AS (
      |  SELECT CAST(least(greatest(((count(*) * $BloomBitsPerKey + 31) // 32) * 32,
      |                             64), 268435456) AS BIGINT) AS m
      |  FROM eval_h),
      |pos AS (
      |  SELECT ((h % $mSql) + j.j * (1 + h % ($mSql - 1))) % $mSql AS pos
      |  FROM eval_h CROSS JOIN range(0, $NHashes) j(j)),
      |words AS (
      |  SELECT pos // 32 AS w, bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
      |  FROM pos GROUP BY 1),
      |train AS (
      |  SELECT doc_id, unnest(sh) AS h FROM sh WHERE bucket < 80),
      |probe AS (
      |  SELECT tr.doc_id, tr.h,
      |    ((tr.h % $mSql) + j.j * (1 + tr.h % ($mSql - 1))) % $mSql AS pos
      |  FROM train tr CROSS JOIN range(0, $NHashes) j(j)),
      |hits AS (
      |  SELECT p.doc_id, p.h,
      |    CAST(sum(CASE WHEN (w.bits & (1::BIGINT << CAST(p.pos % 32 AS INT))) <> 0
      |             THEN 1 ELSE 0 END) AS BIGINT) AS n_set
      |  FROM probe p LEFT JOIN words w ON p.pos // 32 = w.w
      |  GROUP BY p.doc_id, p.h),
      |per_doc AS (
      |  SELECT hi.doc_id,
      |    count(*) AS n_shingles,
      |    CAST(sum(CASE WHEN hi.n_set = $NHashes THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_bloom_pos,
      |    CAST(sum(CASE WHEN eh.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_exact
      |  FROM hits hi LEFT JOIN eval_h eh ON hi.h = eh.h
      |  GROUP BY hi.doc_id)
      |SELECT doc_id, n_shingles, n_bloom_pos, n_exact,
      |  n_bloom_pos > 0 AS flagged, n_exact > 0 AS exact_hit
      |FROM per_doc
      |WHERE n_bloom_pos > 0
      |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        graft.operators.MinHashLSH.shingleHashes(Text.tokens(col("text")), 3)
          .as("sh"),
        ((col("doc_id") % 1000003L) * 2654435761L % 100).as("bucket"))
      .transform(graft.CacheScope.cache)
    val evalH = base.filter(col("bucket") >= 90)
      .select(explode(col("sh")).as("h")).distinct()
      .transform(graft.CacheScope.cache)
    // size from the observed build side (one count over the SMALL side —
    // the same number the oracle's mb CTE derives its m from)
    val mBits = Sketches.bloomBits(evalH.count(), BloomBitsPerKey)
    val words = Sketches.bloomBuild(evalH, "h", mBits, NHashes)
    val train = base.filter(col("bucket") < 80)
      .select(col("doc_id"), explode(col("sh")).as("h"))
    val probed = Sketches.bloomProbe(train, "h", words, mBits, NHashes)
    probed
      .join(evalH.withColumn("exact", lit(1L)), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("might_contain"), 1L).otherwise(0L)).as("n_bloom_pos"),
        sum(when(col("exact").isNotNull, 1L).otherwise(0L)).as("n_exact"))
      .filter(col("n_bloom_pos") > 0)
      .select(col("doc_id"), col("n_shingles"), col("n_bloom_pos"),
        col("n_exact"), (col("n_bloom_pos") > 0).as("flagged"),
        (col("n_exact") > 0).as("exact_hit"))
      .orderBy(col("doc_id"))
  }

  // CMS width: 4 rows × 1024 counters = constant 4 k cells however big
  // the token stream gets; at ~50 k token occurrences the top terms'
  // overcounts stay small while rare-term estimates show the classic
  // CMS inflation the report surfaces.
  private val CmsW = 1024

  /** Count-min frequency sketch ([[Sketches.cmsBuild]]) — the third
    * member of the portable-sketch family (KMV = distinct count, Bloom
    * = membership, CMS = frequency): counter cells are plain SUMS, so
    * unlike comparator-based heavy-hitter sketches the whole structure
    * is order- and partition-invariant, mergeable by addition, and
    * bit-replayable by the oracle. The query builds the sketch over the
    * full token stream (one map-side-combinable aggregation to a
    * CONSTANT 4×1024 cells), estimates the 20 most frequent tokens, and
    * reports estimate vs exact — `cms_est ≥ exact_cnt` always; at scale
    * the exact side is what you could NOT afford, which is the point.
    */
  val countMinTopK: QuerySpec = QuerySpec.sql(
    "q86_countmin_topk",
    s"""WITH t AS (
      |  SELECT unnest($tokSql) AS tok FROM documents),
      |h AS (SELECT tok, ${Sketches.uniformHashSql("tok")} AS h FROM t),
      |consts(j, a, b) AS (VALUES
      |  ${Sketches.CmsA.zip(Sketches.CmsB).zipWithIndex
            .map { case ((a, b), j) => s"($j, $a, $b)" }.mkString(", ")}),
      |counters AS (
      |  SELECT k.j AS j, CAST(((k.a * h.h + k.b) % ${Sketches.P}) % $CmsW AS INT) AS c,
      |         count(*) AS cnt
      |  FROM h CROSS JOIN consts k
      |  GROUP BY 1, 2),
      |exact AS (SELECT tok, h, count(*) AS exact_cnt FROM h GROUP BY 1, 2),
      |top AS (
      |  SELECT tok, h, exact_cnt FROM (
      |    SELECT *, row_number() OVER (ORDER BY exact_cnt DESC, tok) AS rk
      |    FROM exact) r WHERE rk <= 20),
      |est AS (
      |  SELECT t.tok, t.exact_cnt, min(c2.cnt) AS cms_est
      |  FROM top t CROSS JOIN consts k
      |  JOIN counters c2 ON c2.j = k.j
      |    AND c2.c = CAST(((k.a * t.h + k.b) % ${Sketches.P}) % $CmsW AS INT)
      |  GROUP BY 1, 2)
      |SELECT tok, CAST(exact_cnt AS BIGINT) AS exact_cnt,
      |  CAST(cms_est AS BIGINT) AS cms_est,
      |  CAST(cms_est - exact_cnt AS BIGINT) AS overcount
      |FROM est
      |ORDER BY exact_cnt DESC, tok""".stripMargin
  ) { (spark, dir) =>
    val toks = Tables.load(spark, dir, "documents")
      .select(explode(Text.tokens(col("text"))).as("tok"))
      .select(col("tok"), Sketches.uniformHash(col("tok")).as("h"))
      .transform(graft.CacheScope.cache)
    val counters = Sketches.cmsBuild(toks, "h", CmsW)
    val top = toks.groupBy(col("tok"), col("h"))
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok")).limit(20)
    Sketches.cmsEstimate(top, "h", counters, CmsW)
      .select(col("tok"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overcount"))
      .orderBy(col("exact_cnt").desc, col("tok"))
  }

  private val HistW = 1024

  /** Shard count for the merge gates (q100/q101): disjoint portable-hash
    * shards, each sketched independently, merged by addition.
    */
  private val MergeShards = 4
  private val HistQs = Seq(0.5, 0.9, 0.99)

  /** Histogram quantile sketch ([[Sketches.histBuild]]) — the QUANTILE
    * member completing the portable-sketch family: two scans build a
    * constant ≤1024-cell grid over `l_extendedprice`, and each
    * requested quantile reads off the grid's cumulative counts (error ≤
    * one grid width, n-independent). The report carries the exact
    * interpolated percentile computed alongside — at 100 TB the exact
    * side's full sort is what you could NOT afford; the sketch is two
    * map-side-combinable aggregations. `err` is signed (the estimate
    * sits at its bucket's upper edge; the exact interpolation can land
    * a hair past it when the interpolation straddles a grid line).
    */
  val histQuantile: QuerySpec = QuerySpec.sql(
    "q92_hist_quantiles",
    s"""WITH st AS (
      |  SELECT min(l_extendedprice) AS vmin, max(l_extendedprice) AS vmax,
      |         CAST(count(l_extendedprice) AS BIGINT) AS n
      |  FROM lineitem),
      |b AS (
      |  SELECT CAST(least(floor((l_extendedprice - vmin)
      |           / ((vmax - vmin) / $HistW.0)), ${HistW - 1}) AS INT) AS bucket,
      |         vmin, vmax, n
      |  FROM lineitem CROSS JOIN st),
      |hist AS (
      |  SELECT bucket, vmin, vmax, n, count(*) AS cnt
      |  FROM b GROUP BY 1, 2, 3, 4),
      |cum AS (
      |  SELECT bucket, vmin, vmax, n,
      |    CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS c
      |  FROM hist),
      |qs(q) AS (VALUES ${HistQs.map(q => s"(CAST($q AS DOUBLE))").mkString(", ")}),
      |sel AS (
      |  SELECT q, vmin, vmax, n, min(bucket) AS b
      |  FROM cum CROSS JOIN qs
      |  WHERE c >= q * n
      |  GROUP BY 1, 2, 3, 4),
      |ex AS (
      |  ${HistQs.map(q =>
            s"SELECT CAST($q AS DOUBLE) AS q, " +
            s"quantile_cont(l_extendedprice, $q) AS exact FROM lineitem")
          .mkString("\n      |  UNION ALL ")})
      |SELECT s.q, s.n AS n_rows,
      |  round(s.vmin + (s.b + 1) * ((s.vmax - s.vmin) / $HistW.0) + 1e-9, 4)
      |    AS est,
      |  round(e.exact + 1e-9, 4) AS exact,
      |  round(s.vmin + (s.b + 1) * ((s.vmax - s.vmin) / $HistW.0)
      |    - e.exact + 1e-9, 4) AS err
      |FROM sel s JOIN ex e USING (q)
      |ORDER BY s.q""".stripMargin
  ) { (spark, dir) =>
    // ONE pruned persisted scan (a single double column) feeds the
    // sketch's two passes and the exact foil's pruned pass — lineitem is
    // read off disk once, not three times
    val li = Tables.load(spark, dir, "lineitem").select("l_extendedprice")
      .transform(graft.CacheScope.cache)
    // the ≤1024-row sketch feeds the estimator AND guides the exact
    // side's bucket pruning — persist so its two input scans run once
    val hist = Sketches.histBuild(li, "l_extendedprice", HistW)
      .transform(graft.CacheScope.cache)
    val est = Sketches.histQuantiles(hist, HistW, HistQs)
    // exact interpolated percentiles via the sketch-guided DISTRIBUTED
    // path (sort only the buckets holding target positions) — the
    // built-in `percentile` aggregate merges every distinct value on one
    // reducer, which is both the scale ceiling and 3× this query's cost
    val exact = Sketches
      .histExactQuantiles(li, "l_extendedprice", hist, HistW, HistQs)
    est.join(exact, "q")
      .select(col("q"), col("n").as("n_rows"),
        round(col("est") + lit(1e-9), 4).as("est"),
        round(col("exact") + lit(1e-9), 4).as("exact"),
        round(col("est") - col("exact") + lit(1e-9), 4).as("err"))
      .orderBy(col("q"))
  }


  /** MERGE-BY-ADDITION, gate-checked end-to-end for the histogram
    * sketch (previously a prose+spec claim): the value stream is split
    * into [[MergeShards]] disjoint shards by portable hash, a sketch is
    * built INDEPENDENTLY per shard on a shared grid
    * ([[Sketches.histBucketize]]), the shard sketches merge by summing
    * cells ([[Sketches.histMerge]]), and the merged sketch's quantiles
    * are reported beside the whole-data sketch's — `agree` must be true
    * on every row, and the oracle replays the identical shard split.
    * This is the property that lets per-day / per-partition sketches
    * roll up without rescanning their data at 100 TB.
    */
  val histMergeQuantiles: QuerySpec = QuerySpec.sql(
    "q100_hist_merge",
    s"""WITH st AS (
      |  SELECT min(l_extendedprice) AS vmin, max(l_extendedprice) AS vmax
      |  FROM lineitem),
      |v AS (
      |  SELECT l_extendedprice AS v,
      |    ${Sketches.uniformHashSql("l_orderkey")} % $MergeShards AS shard
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |cells AS (
      |  SELECT shard, CAST(least(floor((v - vmin)
      |      / ((vmax - vmin) / $HistW.0)), ${HistW - 1}) AS INT) AS bucket,
      |    vmin, vmax, CAST(count(*) AS BIGINT) AS cnt
      |  FROM v CROSS JOIN st GROUP BY 1, 2, 3, 4),
      |merged AS (
      |  SELECT bucket, vmin, vmax, CAST(sum(cnt) AS BIGINT) AS cnt
      |  FROM cells GROUP BY 1, 2, 3),
      |mtot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM merged),
      |mcum AS (
      |  SELECT bucket, vmin, vmax, n,
      |    CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS c
      |  FROM merged CROSS JOIN mtot),
      |whole AS (
      |  SELECT CAST(least(floor((v - vmin)
      |      / ((vmax - vmin) / $HistW.0)), ${HistW - 1}) AS INT) AS bucket,
      |    vmin, vmax, CAST(count(*) AS BIGINT) AS cnt
      |  FROM v CROSS JOIN st GROUP BY 1, 2, 3),
      |wtot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM whole),
      |wcum AS (
      |  SELECT bucket, vmin, vmax, n,
      |    CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS c
      |  FROM whole CROSS JOIN wtot),
      |qs(q) AS (VALUES ${HistQs.map(q => s"(CAST($q AS DOUBLE))").mkString(", ")}),
      |msel AS (
      |  SELECT q, vmin, vmax, n, min(bucket) AS b
      |  FROM mcum CROSS JOIN qs WHERE c >= q * n GROUP BY 1, 2, 3, 4),
      |wsel AS (
      |  SELECT q, vmin, vmax, min(bucket) AS b
      |  FROM wcum CROSS JOIN qs WHERE c >= q * n GROUP BY 1, 2, 3),
      |o AS (
      |  SELECT m.q AS q, m.n AS n_rows,
      |    round(m.vmin + (m.b + 1) * ((m.vmax - m.vmin) / $HistW.0)
      |      + 1e-9, 4) AS est_merged,
      |    round(w.vmin + (w.b + 1) * ((w.vmax - w.vmin) / $HistW.0)
      |      + 1e-9, 4) AS est_whole
      |  FROM msel m JOIN wsel w ON m.q = w.q)
      |SELECT q, n_rows, est_merged, est_whole,
      |  est_merged = est_whole AS agree
      |FROM o ORDER BY q""".stripMargin
  ) { (spark, dir) =>
    // ONE persisted scan carries the value and its shard (the portable
    // hash is computed once, not once per shard build)
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_extendedprice"),
        pmod(Sketches.uniformHash(col("l_orderkey")),
          lit(MergeShards.toLong)).as("shard"))
      .transform(graft.CacheScope.cache)
    // shared grid, collected once (two doubles of driver state) so the
    // four shard builds don't each re-broadcast a grid aggregation job
    val g = li.agg(min(col("l_extendedprice")).as("vmin"),
      max(col("l_extendedprice")).as("vmax")).head()
    // empty/all-null input → no grid to build on; degrade to an empty
    // result (mirroring histExactQuantiles' cells.isEmpty early-return)
    // instead of NPEing on the null aggregate row
    if (g.isNullAt(0)) {
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("q", DoubleType),
          StructField("n_rows", LongType),
          StructField("est_merged", DoubleType),
          StructField("est_whole", DoubleType),
          StructField("agree", BooleanType))))
    } else {
      val grid = spark.createDataFrame(
        Seq((g.getDouble(0), g.getDouble(1)))).toDF("vmin", "vmax")
      val shards = (0 until MergeShards).map { s =>
        Sketches.histBucketize(li.filter(col("shard") === s),
          "l_extendedprice", HistW, grid)
      }
      val est = Sketches.histQuantiles(Sketches.histMerge(shards),
          HistW, HistQs)
        .select(col("q"), col("n").as("n_rows"),
          round(col("est") + lit(1e-9), 4).as("est_merged"))
      val whole = Sketches.histQuantiles(
          Sketches.histMerge(Seq(
            Sketches.histBucketize(li, "l_extendedprice", HistW, grid))),
          HistW, HistQs)
        .select(col("q"), round(col("est") + lit(1e-9), 4).as("est_whole"))
      est.join(whole, "q")
        .select(col("q"), col("n_rows"), col("est_merged"), col("est_whole"),
          (col("est_merged") === col("est_whole")).as("agree"))
        .orderBy(col("q"))
    }
  }

  /** MERGE-BY-ADDITION for the count-min sketch: the token stream is
    * sharded by document portable-hash, counters build independently
    * per shard ([[Sketches.cmsBuild]]) and merge by summing (j, c)
    * cells ([[Sketches.cmsMerge]]); the 20 most frequent tokens are
    * estimated through BOTH the merged and the whole-stream sketch —
    * `agree` must be true on every row (counter sums commute), oracle
    * replaying the identical split.
    */
  val cmsMergeTopK: QuerySpec = QuerySpec.sql(
    "q101_cms_merge",
    s"""WITH t AS (
      |  SELECT doc_id, unnest($tokSql) AS tok FROM documents),
      |h AS (
      |  SELECT tok, ${Sketches.uniformHashSql("tok")} AS h,
      |    ${Sketches.uniformHashSql("doc_id")} % $MergeShards AS shard
      |  FROM t),
      |consts(j, a, b) AS (VALUES
      |  ${Sketches.CmsA.zip(Sketches.CmsB).zipWithIndex
            .map { case ((a, b), j) => s"($j, $a, $b)" }.mkString(", ")}),
      |shardc AS (
      |  SELECT shard, k.j AS j,
      |    CAST(((k.a * h.h + k.b) % ${Sketches.P}) % $CmsW AS INT) AS c,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM h CROSS JOIN consts k GROUP BY 1, 2, 3),
      |merged AS (
      |  SELECT j, c, CAST(sum(cnt) AS BIGINT) AS cnt
      |  FROM shardc GROUP BY 1, 2),
      |whole AS (
      |  SELECT k.j AS j,
      |    CAST(((k.a * h.h + k.b) % ${Sketches.P}) % $CmsW AS INT) AS c,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM h CROSS JOIN consts k GROUP BY 1, 2),
      |exact AS (SELECT tok, h, count(*) AS exact_cnt FROM h GROUP BY 1, 2),
      |top AS (
      |  SELECT tok, h, exact_cnt FROM (
      |    SELECT *, row_number() OVER (ORDER BY exact_cnt DESC, tok) AS rk
      |    FROM exact) r WHERE rk <= 20),
      |estm AS (
      |  SELECT t.tok, t.exact_cnt, min(c2.cnt) AS est_merged
      |  FROM top t CROSS JOIN consts k
      |  JOIN merged c2 ON c2.j = k.j
      |    AND c2.c = CAST(((k.a * t.h + k.b) % ${Sketches.P}) % $CmsW AS INT)
      |  GROUP BY 1, 2),
      |estw AS (
      |  SELECT t.tok, min(c2.cnt) AS est_whole
      |  FROM top t CROSS JOIN consts k
      |  JOIN whole c2 ON c2.j = k.j
      |    AND c2.c = CAST(((k.a * t.h + k.b) % ${Sketches.P}) % $CmsW AS INT)
      |  GROUP BY 1)
      |SELECT m.tok AS tok, CAST(m.exact_cnt AS BIGINT) AS exact_cnt,
      |  m.est_merged, w.est_whole, m.est_merged = w.est_whole AS agree
      |FROM estm m JOIN estw w ON m.tok = w.tok
      |ORDER BY exact_cnt DESC, m.tok""".stripMargin
  ) { (spark, dir) =>
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .select(col("tok"), Sketches.uniformHash(col("tok")).as("h"),
        pmod(Sketches.uniformHash(col("doc_id")), lit(MergeShards.toLong))
          .as("shard"))
      .transform(graft.CacheScope.cache)
    val shards = (0 until MergeShards).map { s =>
      Sketches.cmsBuild(toks.filter(col("shard") === s), "h", CmsW)
    }
    val merged = Sketches.cmsMerge(shards)
    val whole = Sketches.cmsBuild(toks, "h", CmsW)
    val top = toks.groupBy(col("tok"), col("h"))
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok")).limit(20)
    val em = Sketches.cmsEstimate(top, "h", merged, CmsW)
      .withColumnRenamed("cms_est", "est_merged")
    Sketches.cmsEstimate(em, "h", whole, CmsW)
      .withColumnRenamed("cms_est", "est_whole")
      .select(col("tok"), col("exact_cnt"), col("est_merged"),
        col("est_whole"), (col("est_merged") === col("est_whole"))
          .as("agree"))
      .orderBy(col("exact_cnt").desc, col("tok"))
  }

  /** STREAMING count-min maintenance — the CMS analog of q105, closing
    * the streaming-maintenance story for the frequency member of the
    * sketch family: token counters are built PER MICRO-BATCH inside
    * `foreachBatch` over a real AvailableNow stream (one file per
    * batch), merged by [[Sketches.cmsMerge]] counter addition, and the
    * maintained sketch's top-token estimates are compared against the
    * sketch built in one batch pass — counters are plain sums, so
    * maintained ≡ batch-built exactly, which is the property that lets
    * a 100 TB deployment keep per-day/per-stream counters and roll
    * them up without rescanning. The oracle replays the whole-stream
    * counters (batch boundaries are invisible to an additive merge)
    * and pins both estimate columns to them.
    */
  val cmsStreamMaintain: QuerySpec = QuerySpec.sql(
    "q111_cms_stream",
    s"""WITH t AS (
      |  SELECT doc_id, unnest($tokSql) AS tok FROM documents),
      |h AS (
      |  SELECT tok, ${Sketches.uniformHashSql("tok")} AS h FROM t),
      |consts(j, a, b) AS (VALUES
      |  ${Sketches.CmsA.zip(Sketches.CmsB).zipWithIndex
            .map { case ((a, b), j) => s"($j, $a, $b)" }.mkString(", ")}),
      |whole AS (
      |  SELECT k.j AS j,
      |    CAST(((k.a * h.h + k.b) % ${Sketches.P}) % $CmsW AS INT) AS c,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM h CROSS JOIN consts k GROUP BY 1, 2),
      |exact AS (SELECT tok, h, count(*) AS exact_cnt FROM h GROUP BY 1, 2),
      |top AS (
      |  SELECT tok, h, exact_cnt FROM (
      |    SELECT *, row_number() OVER (ORDER BY exact_cnt DESC, tok) AS rk
      |    FROM exact) r WHERE rk <= 20),
      |estw AS (
      |  SELECT t.tok, t.exact_cnt, min(c2.cnt) AS est
      |  FROM top t CROSS JOIN consts k
      |  JOIN whole c2 ON c2.j = k.j
      |    AND c2.c = CAST(((k.a * t.h + k.b) % ${Sketches.P}) % $CmsW AS INT)
      |  GROUP BY 1, 2)
      |SELECT tok, CAST(exact_cnt AS BIGINT) AS exact_cnt,
      |  est AS est_stream, est AS est_batch, est = est AS agree
      |FROM estw
      |ORDER BY exact_cnt DESC, tok""".stripMargin
  ) { (spark, dir) =>
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .transform(graft.CacheScope.cache)
    // the fixture table replays as four REAL micro-batches
    val acc = scala.collection.mutable.ArrayBuffer[(Int, Int, Long)]()
    graft.streaming.Replay.files(graft.Scratch.fresh("q111"),
      toks.withColumn("wave", pmod(hash(col("doc_id")), lit(4))),
      "wave", 4) { (batch, _) =>
      val cells = Sketches.cmsBuild(
          batch.select(explode(Text.tokens(col("text"))).as("tok"))
            .select(Sketches.uniformHash(col("tok")).as("h")),
          "h", CmsW)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      acc.synchronized { acc ++= cells }
    }
    val maintained = Sketches.cmsMerge(Seq(
      spark.createDataFrame(acc.toSeq).toDF("j", "c", "cnt")))
    val allToks = toks
      .select(explode(Text.tokens(col("text"))).as("tok"))
      .select(col("tok"), Sketches.uniformHash(col("tok")).as("h"))
      .transform(graft.CacheScope.cache)
    val whole = Sketches.cmsBuild(allToks, "h", CmsW)
    val top = allToks.groupBy(col("tok"), col("h"))
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok")).limit(20)
    val es = Sketches.cmsEstimate(top, "h", maintained, CmsW)
      .withColumnRenamed("cms_est", "est_stream")
    Sketches.cmsEstimate(es, "h", whole, CmsW)
      .withColumnRenamed("cms_est", "est_batch")
      .select(col("tok"), col("exact_cnt"), col("est_stream"),
        col("est_batch"), (col("est_stream") === col("est_batch"))
          .as("agree"))
      .orderBy(col("exact_cnt").desc, col("tok"))
  }

  /** GROUPED quantile sketch ([[Sketches.histBuildGrouped]]): one
    * ≤1024-cell grid per `l_returnflag` group, each spanning its own
    * [min, max], quantiles read per group off the PARTITIONED
    * cumulative window — the per-group quantile lever when
    * `percentile(...) GROUP BY` can't hold its per-group value
    * multisets at 100 TB. The oracle replays the per-group grid
    * arithmetic exactly (bucket choice is integer-determined, so the
    * hash gate pins the whole construction).
    */
  val histGrouped: QuerySpec = QuerySpec.sql(
    "q102_hist_grouped",
    s"""WITH st AS (
      |  SELECT l_returnflag, min(l_extendedprice) AS vmin,
      |    max(l_extendedprice) AS vmax,
      |    CAST(count(l_extendedprice) AS BIGINT) AS n
      |  FROM lineitem GROUP BY 1),
      |b AS (
      |  SELECT l.l_returnflag,
      |    CASE WHEN vmax = vmin THEN 0
      |         ELSE CAST(least(floor((l_extendedprice - vmin)
      |           / ((vmax - vmin) / $HistW.0)), ${HistW - 1}) AS INT)
      |    END AS bucket, vmin, vmax, n
      |  FROM lineitem l JOIN st ON l.l_returnflag = st.l_returnflag
      |  WHERE l_extendedprice IS NOT NULL),
      |hist AS (
      |  SELECT l_returnflag, bucket, vmin, vmax, n, count(*) AS cnt
      |  FROM b GROUP BY 1, 2, 3, 4, 5),
      |cum AS (
      |  SELECT l_returnflag, bucket, vmin, vmax, n,
      |    CAST(sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket)
      |      AS BIGINT) AS c
      |  FROM hist),
      |qs(q) AS (VALUES ${HistQs.map(q => s"(CAST($q AS DOUBLE))").mkString(", ")}),
      |sel AS (
      |  SELECT l_returnflag, q, vmin, vmax, n, min(bucket) AS b
      |  FROM cum CROSS JOIN qs
      |  WHERE c >= q * n
      |  GROUP BY 1, 2, 3, 4, 5)
      |SELECT l_returnflag, q, n AS n_rows,
      |  round(vmin + (b + 1) * ((vmax - vmin) / $HistW.0) + 1e-9, 4) AS est
      |FROM sel
      |ORDER BY l_returnflag, q""".stripMargin
  ) { (spark, dir) =>
    val li = Tables.load(spark, dir, "lineitem")
    val hist = Sketches.histBuildGrouped(li, Seq("l_returnflag"),
      "l_extendedprice", HistW)
    Sketches.histQuantilesGrouped(hist, Seq("l_returnflag"), HistW, HistQs)
      .select(col("l_returnflag"), col("q"), col("n").as("n_rows"),
        round(col("est") + lit(1e-9), 4).as("est"))
      .orderBy(col("l_returnflag"), col("q"))
  }

  /** STREAMING sketch maintenance, oracle-gated — the streaming half of
    * q100's merge-by-addition claim (previously spec-only): the price
    * column is re-materialized as a 4-file directory and streamed back
    * one file per micro-batch (`Trigger.AvailableNow`, the q94/q95
    * pattern); each micro-batch builds histogram CELLS on the shared
    * grid ([[Sketches.histBucketize]] inside `foreachBatch`), the
    * per-batch cells accumulate and merge by addition
    * ([[Sketches.histMerge]]), and the maintained sketch's quantiles
    * hash-compare against the batch-built sketch's. Cells are plain
    * sums, so micro-batch boundaries only reorder the addition —
    * `agree` must be true on every row, which is exactly what lets a
    * 100 TB deployment keep per-day sketches current from a stream
    * without ever rescanning history.
    */
  val histStreamMaintain: QuerySpec = QuerySpec.sql(
    "q105_hist_stream",
    s"""WITH st AS (
      |  SELECT min(l_extendedprice) AS vmin, max(l_extendedprice) AS vmax
      |  FROM lineitem),
      |v AS (
      |  SELECT l_extendedprice AS v FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL),
      |whole AS (
      |  SELECT CAST(least(floor((v - vmin)
      |      / ((vmax - vmin) / $HistW.0)), ${HistW - 1}) AS INT) AS bucket,
      |    vmin, vmax, CAST(count(*) AS BIGINT) AS cnt
      |  FROM v CROSS JOIN st GROUP BY 1, 2, 3),
      |wtot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM whole),
      |wcum AS (
      |  SELECT bucket, vmin, vmax, n,
      |    CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS c
      |  FROM whole CROSS JOIN wtot),
      |qs(q) AS (VALUES ${HistQs.map(q => s"(CAST($q AS DOUBLE))").mkString(", ")}),
      |sel AS (
      |  SELECT q, vmin, vmax, n, min(bucket) AS b
      |  FROM wcum CROSS JOIN qs WHERE c >= q * n GROUP BY 1, 2, 3, 4)
      |SELECT q, n AS n_rows,
      |  round(vmin + (b + 1) * ((vmax - vmin) / $HistW.0) + 1e-9, 4)
      |    AS est_stream,
      |  round(vmin + (b + 1) * ((vmax - vmin) / $HistW.0) + 1e-9, 4)
      |    AS est_batch,
      |  round(vmin + (b + 1) * ((vmax - vmin) / $HistW.0) + 1e-9, 4)
      |    = round(vmin + (b + 1) * ((vmax - vmin) / $HistW.0) + 1e-9, 4)
      |    AS agree
      |FROM sel ORDER BY q""".stripMargin
  ) { (spark, dir) =>
    val li = graft.CacheScope.cache(
      Tables.load(spark, dir, "lineitem").select("l_extendedprice"))
    val g = li.agg(min(col("l_extendedprice")).as("vmin"),
      max(col("l_extendedprice")).as("vmax")).head()
    if (g.isNullAt(0)) {
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("q", DoubleType),
          StructField("n_rows", LongType),
          StructField("est_stream", DoubleType),
          StructField("est_batch", DoubleType),
          StructField("agree", BooleanType))))
    } else {
      // the price column replays as four REAL micro-batches
      val acc =
        scala.collection.mutable.ArrayBuffer[(Int, Double, Double, Long)]()
      graft.streaming.Replay.files(graft.Scratch.fresh("q105"),
        li.withColumn("wave", pmod(hash(col("l_extendedprice")), lit(4))),
        "wave", 4) { (batch, _) =>
        val rows = Sketches
          .histBucketize(batch, "l_extendedprice", HistW,
            g.getDouble(0), g.getDouble(1))
          .collect()
          .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2),
            r.getLong(3)))
        acc.synchronized { acc ++= rows }
      }
      val maintained = spark.createDataFrame(acc.toSeq)
        .toDF("bucket", "vmin", "vmax", "cnt")
      val est = Sketches
        .histQuantiles(Sketches.histMerge(Seq(maintained)), HistW, HistQs)
        .select(col("q"), col("n").as("n_rows"),
          round(col("est") + lit(1e-9), 4).as("est_stream"))
      val batchEst = Sketches
        .histQuantiles(Sketches.histBuild(li, "l_extendedprice", HistW),
          HistW, HistQs)
        .select(col("q"), round(col("est") + lit(1e-9), 4).as("est_batch"))
      est.join(batchEst, "q")
        .select(col("q"), col("n_rows"), col("est_stream"),
          col("est_batch"),
          (col("est_stream") === col("est_batch")).as("agree"))
        .orderBy(col("q"))
    }
  }

  /** GROUPED EXACT quantiles — q102's estimator beside the exact
    * interpolated per-group percentiles, computed distributively by
    * [[Sketches.histExactQuantilesGrouped]] (the grouped analog of
    * q92's sketch-guided pruning): per group, only the buckets holding
    * target positions are sorted, under a window PARTITIONED by
    * (group, bucket) — no `percentile(...) GROUP BY` single-reducer
    * value multisets anywhere. The oracle replays the estimator's grid
    * arithmetic and checks the exact side against DuckDB's
    * `quantile_cont` per group (same `p = q·(n−1)` interpolation as
    * Spark's `percentile`, the parity q92 already pins globally).
    */
  val histGroupedExact: QuerySpec = QuerySpec.sql(
    "q106_hist_grouped_exact",
    s"""WITH st AS (
      |  SELECT l_returnflag, min(l_extendedprice) AS vmin,
      |    max(l_extendedprice) AS vmax,
      |    CAST(count(l_extendedprice) AS BIGINT) AS n
      |  FROM lineitem GROUP BY 1),
      |b AS (
      |  SELECT l.l_returnflag,
      |    CASE WHEN vmax = vmin THEN 0
      |         ELSE CAST(least(floor((l_extendedprice - vmin)
      |           / ((vmax - vmin) / $HistW.0)), ${HistW - 1}) AS INT)
      |    END AS bucket, vmin, vmax, n
      |  FROM lineitem l JOIN st ON l.l_returnflag = st.l_returnflag
      |  WHERE l_extendedprice IS NOT NULL),
      |hist AS (
      |  SELECT l_returnflag, bucket, vmin, vmax, n, count(*) AS cnt
      |  FROM b GROUP BY 1, 2, 3, 4, 5),
      |cum AS (
      |  SELECT l_returnflag, bucket, vmin, vmax, n,
      |    CAST(sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket)
      |      AS BIGINT) AS c
      |  FROM hist),
      |qs(q) AS (VALUES ${HistQs.map(q => s"(CAST($q AS DOUBLE))").mkString(", ")}),
      |sel AS (
      |  SELECT l_returnflag, q, vmin, vmax, n, min(bucket) AS b
      |  FROM cum CROSS JOIN qs
      |  WHERE c >= q * n
      |  GROUP BY 1, 2, 3, 4, 5),
      |ex AS (
      |  ${HistQs.map(q =>
            s"SELECT l_returnflag, CAST($q AS DOUBLE) AS q, " +
            s"quantile_cont(l_extendedprice, $q) AS exact " +
            "FROM lineitem GROUP BY 1")
          .mkString("\n      |  UNION ALL ")})
      |SELECT s.l_returnflag, s.q, s.n AS n_rows,
      |  round(s.vmin + (s.b + 1) * ((s.vmax - s.vmin) / $HistW.0) + 1e-9, 4)
      |    AS est,
      |  round(e.exact + 1e-9, 4) AS exact,
      |  round(s.vmin + (s.b + 1) * ((s.vmax - s.vmin) / $HistW.0)
      |    - e.exact + 1e-9, 4) AS err
      |FROM sel s JOIN ex e
      |  ON s.l_returnflag = e.l_returnflag AND s.q = e.q
      |ORDER BY s.l_returnflag, s.q""".stripMargin
  ) { (spark, dir) =>
    // one pruned persisted scan feeds the grouped sketch's two passes
    // and the exact side's pruned pass
    val li = graft.CacheScope.cache(Tables.load(spark, dir, "lineitem")
      .select("l_returnflag", "l_extendedprice"))
    val hist = graft.CacheScope.cache(Sketches.histBuildGrouped(
      li, Seq("l_returnflag"), "l_extendedprice", HistW))
    val est = Sketches.histQuantilesGrouped(hist, Seq("l_returnflag"),
      HistW, HistQs)
    val exact = Sketches.histExactQuantilesGrouped(li, Seq("l_returnflag"),
      "l_extendedprice", hist, HistW, HistQs)
    est.join(exact, Seq("l_returnflag", "q"))
      .select(col("l_returnflag"), col("q"), col("n").as("n_rows"),
        round(col("est") + lit(1e-9), 4).as("est"),
        round(col("exact") + lit(1e-9), 4).as("exact"),
        round(col("est") - col("exact") + lit(1e-9), 4).as("err"))
      .orderBy(col("l_returnflag"), col("q"))
  }

  val all: Seq[QuerySpec] = Seq(kmvDistinct, bloomDecon, countMinTopK,
    histQuantile, histMergeQuantiles, cmsMergeTopK, histGrouped,
    histStreamMaintain, histGroupedExact, kmvGroupedDistinct,
    cmsStreamMaintain)
}
