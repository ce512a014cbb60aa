package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Deterministic, engine-portable sketches (north-star scale tier).
  *
  * Spark ships HLL (`approx_count_distinct`) and a Bloom aggregate
  * (`bloom_filter_agg`), but both are implementation-defined binary
  * blobs: a DuckDB oracle cannot replay them, and two engines can't
  * share them. These variants trade a constant factor for PORTABILITY —
  * every bit is defined by arithmetic both engines evaluate identically
  * (the [[Text.charHash]] polynomial), so a sketch built by one engine
  * is probed by the other and the gate hash-checks the whole pipeline.
  *
  * - KMV (k-minimum-values) distinct-count: keep the k smallest distinct
  *   hashes; estimate = (k−1) / (h_k / P). Mergeable (union of k-min
  *   sets, re-take k smallest ⇒ the plan is a partial `TakeOrdered` per
  *   partition, no full shuffle of the distinct set), error ~1/sqrt(k).
  * - Portable Bloom filter: `mBits`-bit array packed into 32-bit words
  *   (held in BIGINTs — 64-bit shifts would hit DuckDB's signed-overflow
  *   error at bit 63), double hashing h_j = (h + j·(1 + h mod (m−1)))
  *   mod m — the standard Kirsch–Mitzenmacher construction. Built with
  *   one `bit_or` aggregation (mergeable, map-side combinable);
  *   membership is a broadcast join on word index + a mask test.
  */
object Sketches {

  /** Modulus of the portable hash. */
  val P: Long = Text.HashP

  /** Affine scrambler constants: KMV's estimator reads ORDER STATISTICS
    * off the hash values, so it needs uniformity the raw polynomial hash
    * of patterned keys ("key_1", "key_2", …) doesn't provide (measured
    * 3× skew in the k-min tail). `(A·h + B) mod P` is a pairwise-
    * independent permutation of [0, P) — the same family the MinHash
    * signatures use — and `A·h < P² < 2^63` keeps every intermediate in
    * BIGINT range in both engines.
    */
  val MixA = 914334281L
  val MixB = 271828183L

  /** The scrambled hash both sides of the sketch use. */
  def uniformHash(keyCol: Column): Column =
    (Text.charHash(keyCol.cast("string")) * MixA + MixB) % P

  def uniformHashSql(e: String): String =
    s"(${Text.charHashSql(s"CAST(($e) AS VARCHAR)")} * $MixA + $MixB) % $P"

  /** The k smallest distinct scrambled hashes — the KMV sketch's STATE
    * (what [[kmvMerge]] unions); `TakeOrdered` keeps it a per-partition
    * heap, never a full sort.
    */
  def kmvSet(df: DataFrame, keyCol: Column, k: Int): DataFrame =
    df.select(uniformHash(keyCol).as("h"))
      .distinct()
      .orderBy(col("h")).limit(k) // TakeOrdered: per-partition heap, no sort

  /** Merge KMV sketch states: union the k-min sets, re-take the k
    * smallest — the union of shard sketches is the sketch of the union
    * (distinct-ness and min-ness both commute with union).
    */
  def kmvMerge(sets: Seq[DataFrame], k: Int): DataFrame = {
    require(sets.nonEmpty, "kmvMerge: no input sketches")
    sets.reduce(_.unionByName(_))
      .distinct()
      .orderBy(col("h")).limit(k)
  }

  /** Collapse a k-min set to the (k_used, kth_hash) estimator inputs. */
  def kmvFinalize(set: DataFrame): DataFrame =
    set.agg(count(lit(1)).as("k_used"), max(col("h")).as("kth_hash"))

  /** Per-group KMV sketch states — one k-min set per value of `grpCol`,
    * as `(grp, h)` rows. Two exchanges: the `distinct()` dedup (whose
    * map-side partial aggregation already collapses repeats, so it
    * moves per-partition-DISTINCT hashes, not raw rows — the win when
    * keys repeat heavily, e.g. token streams), then the per-group
    * k-min reduction through the custom
    * [[graft.plans.TopKPerKeyPlan]] operator — bounded heap per group
    * per partition, ≤ groups · k rows moved. Versus
    * `count(DISTINCT x) GROUP BY g` the second phase is heap-bounded
    * instead of holding every group's full distinct set through the
    * final aggregation; the dedup exchange itself is the same in both
    * (a distinct-heap fused operator would remove it — not built, the
    * two-exchange shape is honest and map-side-bounded). Merge
    * property is inherited row-wise from [[kmvMerge]]: union
    * per-shard `(grp, h)` sets, distinct, re-take k per group.
    */
  def kmvGrouped(df: DataFrame, grpCol: Column, keyCol: Column,
      k: Int): DataFrame =
    Dedup.topKPerKey(
      df.select(grpCol.as("grp"), uniformHash(keyCol).as("h")).distinct(),
      Seq("grp"), Seq(col("h").asc), k)

  /** Collapse per-group k-min sets to per-group estimator inputs. */
  def kmvFinalizeGrouped(sets: DataFrame): DataFrame =
    sets.groupBy(col("grp"))
      .agg(count(lit(1)).as("k_used"), max(col("h")).as("kth_hash"))

  /** `(k_used, kth_hash)` one-row frame: the KMV sketch of `keyCol`.
    * `k_used < k` means the distinct set fit entirely (sketch is exact).
    */
  def kmv(df: DataFrame, keyCol: Column, k: Int): DataFrame =
    kmvFinalize(kmvSet(df, keyCol, k))

  /** KMV estimate column from [[kmv]]'s output columns. */
  def kmvEstimate(kUsed: Column, kthHash: Column, k: Int): Column =
    when(kUsed < k, kUsed.cast("double"))
      .otherwise((kUsed - 1).cast("double") * lit(P.toDouble) / kthHash)

  /** Count-min sketch row count and the affine per-row hash constants
    * (same pairwise-independent family as [[MixA]]/[[MixB]]; `a·h <
    * 2^63` for every `h < P`, so all intermediates stay in BIGINT range
    * in both engines).
    */
  val CmsRows = 4
  val CmsA: Seq[Long] = Seq(914334281L, 971215059L, 877905481L, 933199463L)
  val CmsB: Seq[Long] = Seq(271828183L, 314159261L, 141421357L, 161803399L)

  /** Row-`j` counter column of hash `h` in a width-`w` sketch. */
  def cmsCol(h: Column, j: Int, w: Int): Column =
    ((lit(CmsA(j)) * h + CmsB(j)) % P % w).cast("int")

  /** Build a count-min sketch over a column of hashes: (j, c, cnt) —
    * `CmsRows · w` counters, each a plain SUM, so the sketch is exactly
    * order- and partition-invariant (unlike comparators like
    * Misra–Gries), mergeable by adding counters, and replayable by any
    * engine. One map-side-combinable aggregation; the result is
    * constant-size regardless of input rows — the frequency-estimation
    * lever when a full `groupBy token` is too big to materialize.
    */
  def cmsBuild(hashes: DataFrame, hashCol: String, w: Int): DataFrame =
    hashes
      .select(posexplode(array((0 until CmsRows).map(j =>
        cmsCol(col(hashCol), j, w)): _*)).as(Seq("j", "c")))
      .groupBy(col("j"), col("c"))
      .agg(count(lit(1)).as("cnt"))

  /** Point estimate for `hashCol`: `min_j counters[j][col_j(h)]` —
    * never underestimates the true count. `counters` is tiny
    * (`CmsRows · w` rows): always broadcast. Output carries ONE ROW PER
    * DISTINCT input row — the re-collapse after the posexplode groups
    * on all of `df`'s columns, and since the estimate is a pure
    * function of `hashCol`, collapsing duplicate rows loses nothing (a
    * caller that needs per-occurrence rows carries its own distinct key
    * column in `df`). Grouping on real columns — not a synthetic row
    * id — is what makes the result deterministic under stage retries
    * and upstream recomputation (the previous
    * `monotonically_increasing_id` formulation carried a
    * determinism-precondition caveat this contract deletes).
    */
  def cmsEstimate(df: DataFrame, hashCol: String, counters: DataFrame,
      w: Int): DataFrame = {
    df
      .select(df.columns.toIndexedSeq.map(col) :+
        posexplode(array((0 until CmsRows).map(j =>
          cmsCol(col(hashCol), j, w)): _*)).as(Seq("__j", "__c")): _*)
      .join(broadcast(counters),
        col("__j") === col("j") && col("__c") === col("c"), "left")
      .groupBy(df.columns.toIndexedSeq.map(col): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  /** Build-side-derived filter sizing: `bitsPerKey · n` rounded up to
    * whole 32-bit words, floored at 64 bits (an empty build side still
    * yields a probeable filter) and capped at 2^28 — 32 MB in the
    * [[collectFilter]] packing (mBits/8 bytes: two 32-bit build words
    * per `long` slot), the broadcast budget. Pure integer arithmetic so
    * an external oracle replays the exact same size from the same
    * count. Sizing from the OBSERVED count matters because a constant
    * `mBits` silently saturates once the build side outgrows it: a
    * 4096-bit first cut at sf0.1 set every bit and flagged every train
    * document.
    */
  def bloomBits(n: Long, bitsPerKey: Int): Int = {
    val m = ((n * bitsPerKey + 31) / 32) * 32
    math.min(math.max(m, 64L), 1L << 28).toInt
  }

  /** Fixed-grid histogram sketch of `valueCol` — the QUANTILE member of
    * the portable-sketch family (KMV = distinct count, Bloom =
    * membership, CMS = frequency): `w` equal-width buckets spanning
    * [min, max], built in two scans (a min/max/count aggregation, then
    * one map-side-combinable bucket count). Counter cells are plain
    * sums, so the sketch is order- and partition-invariant, mergeable
    * by addition (same grid), and every bucket edge is IEEE double
    * arithmetic both engines evaluate identically. Constant-size output
    * (≤ `w` rows) however large the input — the quantile lever when a
    * full sort is unaffordable.
    *
    * The 1-row stats side rides a broadcast cross join (no shuffle of
    * the data side) and the constants travel as grouping keys so the
    * estimator needs no second pass over the input.
    */
  def histBuild(df: DataFrame, valueCol: String, w: Int): DataFrame = {
    val stats = df.agg(min(col(valueCol)).as("vmin"),
      max(col(valueCol)).as("vmax"),
      count(col(valueCol)).as("n"))
    // drop NULLs before bucketing: `least(null, w-1)` would otherwise
    // evaluate to w-1 (Spark's least skips nulls) and silently count
    // every null row into the TOP bucket while `n` (count of non-null)
    // excludes them — corrupting cumulative counts in a merged sketch
    df.filter(col(valueCol).isNotNull)
      .crossJoin(broadcast(stats))
      .select(least(floor((col(valueCol) - col("vmin"))
          / ((col("vmax") - col("vmin")) / w.toDouble)), lit(w - 1))
        .cast("int").as("bucket"),
        col("vmin"), col("vmax"), col("n"))
      .groupBy(col("bucket"), col("vmin"), col("vmax"), col("n"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Quantile estimates off a [[histBuild]] sketch: for each `q`, the
    * UPPER edge of the first bucket whose cumulative count reaches
    * `q·n` — within one grid width of the true quantile by
    * construction. The cumulative window runs over the ≤ `w`-row sketch
    * (post-aggregation scale, the documented single-partition-window
    * exception), never the data.
    */
  def histQuantiles(hist: DataFrame, w: Int, qs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cum = hist.withColumn("c",
      sum(col("cnt")).over(Window.orderBy(col("bucket"))))
    val qsDf = hist.sparkSession.createDataFrame(qs.map(Tuple1(_)))
      .toDF("q")
    cum.crossJoin(broadcast(qsDf))
      .filter(col("c") >= col("q") * col("n"))
      .groupBy(col("q"), col("vmin"), col("vmax"), col("n"))
      .agg(min(col("bucket")).as("b"))
      .select(col("q"), col("n"),
        (col("vmin") + (col("b") + 1)
          * ((col("vmax") - col("vmin")) / w.toDouble)).as("est"))
  }

  /** EXACT interpolated quantiles (Spark `percentile` semantics:
    * position `p = q·(n−1)` over the 0-indexed sorted multiset,
    * `(⌈p⌉−p)·v⌊p⌋ + (p−⌊p⌋)·v⌈p⌉`) computed DISTRIBUTIVELY by
    * sketch-guided pruning, instead of the built-in `percentile`
    * aggregate whose ObjectHashAggregate ships every distinct value to
    * one reducer — the single-node merge that makes exact quantiles
    * unaffordable at scale (and 3× the cost of this query even at
    * sf0.1).
    *
    * NOTE this operator is EAGER at construction: it collects `hist`
    * (and so runs the sketch's jobs) while BUILDING the returned frame,
    * a deliberate trade — deriving target positions declaratively costs
    * a chain of ~6 broadcast-exchange jobs whose fixed overhead tripled
    * the query at gate scale, while the collect is O(w) bounded driver
    * state. Plan-only inspection of a query using it therefore runs the
    * sketch jobs.
    *
    * The [[histBuild]] sketch already knows how many values precede
    * every bucket, so the value at any global sorted position can be
    * found by sorting ONLY the bucket holding that position: global
    * position = (cumulative count before bucket) + (rank within
    * bucket), and the bucket expression is monotone in the value, so
    * per-bucket rank order IS global order. One pruned scan (left-semi
    * on the ≤2·|qs| buckets that hold target positions), one
    * PARTITIONED window over ~n/w rows per wanted bucket, tiny
    * broadcast joins for everything else. Exactness: ties can't split
    * across buckets (equal values share a bucket), and within a bucket
    * `row_number` over equal values picks an arbitrary but
    * value-identical row.
    */
  def histExactQuantiles(df: DataFrame, valueCol: String, hist: DataFrame,
      w: Int, qs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    // The ≤w-cell sketch is bounded driver state (the CentroidState
    // precedent: O(w) ≤ 1024 rows however large the data) — collect it
    // ONCE and derive target positions/buckets locally, so the only
    // cluster work is the pruned scan; everything else rides literal
    // frames whose broadcasts need no extra Spark jobs.
    val cells = hist.select(col("bucket"), col("vmin"), col("vmax"),
      col("n"), col("cnt")).collect()
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("q",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("exact",
        org.apache.spark.sql.types.DoubleType)))
    if (cells.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    val vmin = cells(0).getDouble(1)
    val vmax = cells(0).getDouble(2)
    val n = cells(0).getLong(3)
    // cumulative count BEFORE each bucket
    var acc = 0L
    val cum = cells.map(r => (r.getInt(0), r.getLong(4))).sortBy(_._1)
      .map { case (b, c) => val out = (b, acc, c); acc += c; out }
    // target sorted positions per q: p = q·(n−1), its floor and ceil —
    // the `percentile` aggregate's indexing, replayed in IEEE double
    val targets = qs.map { q =>
      val p = q * (n - 1).toDouble
      (q, p, math.floor(p).toLong, math.ceil(p).toLong)
    }
    val needed = targets.flatMap(t => Seq(t._3, t._4)).distinct
    // the bucket holding each target position, with its offset
    val wanted = needed.map { pos =>
      cum.find { case (_, cb, c) => pos >= cb && pos < cb + c }
        .map { case (b, cb, _) => (b, cb) }
        .getOrElse(sys.error(s"position $pos outside sketch counts"))
    }.distinct
    // pruned scan: only rows in wanted buckets, ranked within bucket;
    // same bucket arithmetic as histBuild (bit-identical assignment)
    val wantedDf = spark.createDataFrame(wanted).toDF("bucket", "cbefore")
    val posDf = spark.createDataFrame(needed.map(Tuple1(_))).toDF("pos")
    val vals = df.filter(col(valueCol).isNotNull)
      .select(least(floor((col(valueCol) - lit(vmin))
          / lit((vmax - vmin) / w.toDouble)), lit(w - 1))
        .cast("int").as("bucket"), col(valueCol).as("v"))
      .join(broadcast(wantedDf), Seq("bucket"))
      .withColumn("gpos", col("cbefore") +
        row_number().over(Window.partitionBy(col("bucket"))
          .orderBy(col("v"))) - 1)
      .join(broadcast(posDf), col("gpos") === col("pos"))
      .select(col("pos"), col("v"))
    // one join against the pruned values, then the percentile formula:
    // (⌈p⌉−p)·v⌊p⌋ + (p−⌊p⌋)·v⌈p⌉, integer positions special-cased
    val targetsDf = spark.createDataFrame(targets)
      .toDF("q", "p", "i0", "i1")
    broadcast(targetsDf.select(col("q"), col("p"), col("i0"), col("i1"),
        explode(array(col("i0"), col("i1"))).as("pos")))
      .join(vals, "pos")
      .groupBy(col("q"), col("p"), col("i0"), col("i1"))
      .agg(min(when(col("pos") === col("i0"), col("v"))).as("v0"),
           min(when(col("pos") === col("i1"), col("v"))).as("v1"))
      .select(col("q"),
        when(col("i0") === col("i1"), col("v0"))
          .otherwise((col("i1").cast("double") - col("p")) * col("v0")
            + (col("p") - col("i0").cast("double")) * col("v1"))
          .as("exact"))
  }

  /** Per-shard histogram CELLS on a SHARED grid — the build half of the
    * merge contract ([[histMerge]]): mergeability-by-addition requires
    * every input sketch to use the same (vmin, vmax, w) grid, so unlike
    * [[histBuild]] the grid arrives as a 1-row frame instead of being
    * derived from `df`. Returns (bucket, vmin, vmax, cnt) WITHOUT the
    * `n` column [[histQuantiles]] wants — `n` is derivable from the
    * cells, and attaching it here would cost one aggregation job per
    * shard only for [[histMerge]] to discard it; run any cell frame
    * (even a single one) through histMerge to finalize it.
    */
  def histBucketize(df: DataFrame, valueCol: String, w: Int,
      grid: DataFrame): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .crossJoin(broadcast(grid.select(col("vmin"), col("vmax"))))
      .select(least(floor((col(valueCol) - col("vmin"))
          / ((col("vmax") - col("vmin")) / w.toDouble)), lit(w - 1))
        .cast("int").as("bucket"),
        col("vmin"), col("vmax"))
      .groupBy(col("bucket"), col("vmin"), col("vmax"))
      .agg(count(lit(1)).as("cnt"))

  /** [[histBucketize]] against a DRIVER-KNOWN grid: when the caller
    * already holds `(vmin, vmax)` as scalars, the shared grid rides the
    * plan as literals instead of a broadcast crossJoin — one fewer
    * broadcast-build job per call, which the streamed maintainer (q105)
    * paid once per micro-batch (round-13 §1.2). Identical doubles,
    * identical buckets.
    */
  def histBucketize(df: DataFrame, valueCol: String, w: Int,
      vmin: Double, vmax: Double): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .select(least(floor((col(valueCol) - lit(vmin))
          / ((lit(vmax) - lit(vmin)) / w.toDouble)), lit(w - 1))
        .cast("int").as("bucket"),
        lit(vmin).as("vmin"), lit(vmax).as("vmax"))
      .groupBy(col("bucket"), col("vmin"), col("vmax"))
      .agg(count(lit(1)).as("cnt"))

  /** GROUPED histogram sketch: one ≤`w`-cell grid PER KEY GROUP (each
    * group gets its own [min, max] span — a shared global grid would
    * waste resolution on every group narrower than the widest). Two
    * passes like [[histBuild]]: a per-group stats aggregation, then one
    * bucket count; the stats side is groups-sized (broadcasts for any
    * realistic group count) and the single-valued-group edge
    * (vmax = vmin) pins every row to bucket 0 instead of dividing by
    * zero. Output: (keys…, bucket, vmin, vmax, n, cnt) — the per-group
    * quantile lever when `percentile(...) GROUP BY` can't hold its
    * per-group value multisets.
    */
  def histBuildGrouped(df: DataFrame, keys: Seq[String], valueCol: String,
      w: Int): DataFrame = {
    val keyCols = keys.map(col)
    // null-SAFE join back to the stats side: a null key forms its own
    // group under groupBy (matching `percentile(...) GROUP BY`, whose
    // per-group lever this operator is), and a null-unsafe equi-join
    // would silently drop that whole group's rows from the sketch
    val stats = keys.foldLeft(
      df.groupBy(keyCols: _*)
        .agg(min(col(valueCol)).as("vmin"), max(col(valueCol)).as("vmax"),
          count(col(valueCol)).as("n"))
    )((s, k) => s.withColumnRenamed(k, s"__$k"))
    val joinCond = keys.map(k => col(k) <=> col(s"__$k")).reduce(_ && _)
    df.filter(col(valueCol).isNotNull)
      .join(stats, joinCond)
      .drop(keys.map(k => s"__$k"): _*)
      .select(keyCols :+
        when(col("vmax") === col("vmin"), lit(0))
          .otherwise(least(floor((col(valueCol) - col("vmin"))
              / ((col("vmax") - col("vmin")) / w.toDouble)), lit(w - 1))
            .cast("int")).as("bucket") :+
        col("vmin") :+ col("vmax") :+ col("n"): _*)
      .groupBy(keyCols ++ Seq(col("bucket"), col("vmin"), col("vmax"),
        col("n")): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Per-group quantile estimates off a [[histBuildGrouped]] sketch —
    * same upper-edge estimator as [[histQuantiles]], with the
    * cumulative window PARTITIONED by the group keys (post-aggregation
    * input: ≤ `w` rows per group).
    */
  def histQuantilesGrouped(hist: DataFrame, keys: Seq[String], w: Int,
      qs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyCols = keys.map(col)
    val cum = hist.withColumn("c",
      sum(col("cnt")).over(Window.partitionBy(keyCols: _*)
        .orderBy(col("bucket"))))
    val qsDf = hist.sparkSession.createDataFrame(qs.map(Tuple1(_)))
      .toDF("q")
    cum.crossJoin(broadcast(qsDf))
      .filter(col("c") >= col("q") * col("n"))
      .groupBy(keyCols ++ Seq(col("q"), col("vmin"), col("vmax"),
        col("n")): _*)
      .agg(min(col("bucket")).as("b"))
      .select(keyCols ++ Seq(col("q"), col("n"),
        (col("vmin") + (col("b") + 1)
          * ((col("vmax") - col("vmin")) / w.toDouble)).as("est")): _*)
  }

  /** Per-GROUP exact interpolated quantiles — [[histExactQuantiles]]'s
    * sketch-guided pruning applied independently to every key group of a
    * [[histBuildGrouped]] sketch, giving the grouped tier the same exact
    * foil the global tier has without a `percentile(...) GROUP BY`
    * shipping each group's value multiset to a single reducer.
    *
    * Driver state is the collected sketch: O(groups · w) cells — within
    * the "stats side is groups-sized" contract [[histBuildGrouped]]
    * already carries (a group count too large to collect would already
    * have broken the sketch's broadcast join). Targets, their buckets
    * and cumulative offsets derive locally per group; the cluster work
    * is ONE pruned scan (broadcast-semi on the wanted (group, bucket)
    * pairs), one window PARTITIONED by (group, bucket), and tiny
    * broadcast joins. Exactness per group is [[histExactQuantiles]]'s
    * argument verbatim: equal values share a bucket, and within a group
    * the bucket expression is monotone in the value, so per-bucket rank
    * order IS the group's global sorted order.
    *
    * EAGER at construction like [[histExactQuantiles]] (collects
    * `hist`, running the sketch's jobs while building the frame).
    */
  def histExactQuantilesGrouped(df: DataFrame, keys: Seq[String],
      valueCol: String, hist: DataFrame, w: Int,
      qs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val nk = keys.length
    val keyFields = keys.map(k => hist.schema(k))
    val outSchema = StructType(keyFields ++ Seq(
      StructField("q", DoubleType), StructField("exact", DoubleType)))
    val cells = hist.select(keys.map(col) ++ Seq(col("bucket"),
      col("vmin"), col("vmax"), col("n"), col("cnt")): _*).collect()
    if (cells.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], outSchema)
    // derive per-group targets/buckets/offsets locally (a group whose
    // values are all NULL has no cells and correctly yields no rows)
    val gridRows = Seq.newBuilder[Row]   // keys…, vmin, vmax
    val wantedRows = Seq.newBuilder[Row] // keys…, bucket, cbefore
    val posRows = Seq.newBuilder[Row]    // keys…, pos
    val targetRows = Seq.newBuilder[Row] // keys…, q, p, i0, i1
    cells.groupBy(r => (0 until nk).map(i => r.get(i))).foreach {
      case (key, rs) =>
        val vmin = rs.head.getDouble(nk + 1)
        val vmax = rs.head.getDouble(nk + 2)
        val n = rs.head.getLong(nk + 3)
        gridRows += Row.fromSeq(key ++ Seq(vmin, vmax))
        var acc = 0L
        val cum = rs.map(r => (r.getInt(nk), r.getLong(nk + 4)))
          .sortBy(_._1)
          .map { case (b, c) => val out = (b, acc, c); acc += c; out }
        val targets = qs.map { q =>
          val p = q * (n - 1).toDouble
          (q, p, math.floor(p).toLong, math.ceil(p).toLong)
        }
        val needed = targets.flatMap(t => Seq(t._3, t._4)).distinct
        needed.foreach(p => posRows += Row.fromSeq(key :+ p))
        needed.map { pos =>
          cum.find { case (_, cb, c) => pos >= cb && pos < cb + c }
            .map { case (b, cb, _) => (b, cb) }
            .getOrElse(sys.error(
              s"position $pos outside sketch counts for group $key"))
        }.distinct.foreach { case (b, cb) =>
          wantedRows += Row.fromSeq(key ++ Seq[Any](b, cb))
        }
        targets.foreach { case (q, p, i0, i1) =>
          targetRows += Row.fromSeq(key ++ Seq[Any](q, p, i0, i1))
        }
    }
    // literal frames carry keys under __-prefixed names so every join
    // below is unambiguous; key equality is null-SAFE like
    // histBuildGrouped's stats join (null keys form real groups)
    def litDf(rows: Seq[Row], extra: (String, DataType)*): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        StructType(keyFields.map(f => f.copy(name = s"__${f.name}")) ++
          extra.map { case (nm, dt) => StructField(nm, dt) }))
    val keyJoin = keys.map(k => col(k) <=> col(s"__$k")).reduce(_ && _)
    val litKeys = keys.map(k => s"__$k")
    val gridDf = litDf(gridRows.result(),
      "__vmin" -> DoubleType, "__vmax" -> DoubleType)
    val wantedDf = litDf(wantedRows.result(),
      "__bucket" -> IntegerType, "__cbefore" -> LongType)
    val posDf = litDf(posRows.result(), "__pos" -> LongType)
    val targetsDf = litDf(targetRows.result(), "q" -> DoubleType,
      "p" -> DoubleType, "i0" -> LongType, "i1" -> LongType)
    // pruned scan: per-group grid arithmetic exactly as histBuildGrouped
    // (vmax = vmin pins bucket 0), restricted to wanted buckets, ranked
    // within (group, bucket)
    val bucketed = df.filter(col(valueCol).isNotNull)
      .join(broadcast(gridDf), keyJoin)
      .select(keys.map(col) ++ Seq(
        when(col("__vmax") === col("__vmin"), lit(0))
          .otherwise(least(floor((col(valueCol) - col("__vmin"))
              / ((col("__vmax") - col("__vmin")) / w.toDouble)),
            lit(w - 1)).cast("int")).as("bucket"),
        col(valueCol).as("v")): _*)
    val pruned = bucketed
      .join(broadcast(wantedDf),
        keyJoin && col("bucket") === col("__bucket"))
      .withColumn("gpos", col("__cbefore") +
        row_number().over(Window
          .partitionBy(keys.map(col) :+ col("bucket"): _*)
          .orderBy(col("v"))) - 1)
      .drop(litKeys :+ "__bucket" :+ "__cbefore": _*)
      .join(broadcast(posDf), keyJoin && col("gpos") === col("__pos"))
      .select(keys.map(col) :+ col("gpos").as("pos") :+ col("v"): _*)
    // per-group percentile formula over the pruned values:
    // (⌈p⌉−p)·v⌊p⌋ + (p−⌊p⌋)·v⌈p⌉, integer positions special-cased
    broadcast(targetsDf.select(targetsDf.columns.toIndexedSeq.map(col) :+
        explode(array(col("i0"), col("i1"))).as("__tpos"): _*))
      .join(pruned, keyJoin && col("__tpos") === col("pos"))
      .groupBy(keys.map(col) ++
        Seq(col("q"), col("p"), col("i0"), col("i1")): _*)
      .agg(min(when(col("__tpos") === col("i0"), col("v"))).as("v0"),
           min(when(col("__tpos") === col("i1"), col("v"))).as("v1"))
      .select(keys.map(col) :+ col("q") :+
        when(col("i0") === col("i1"), col("v0"))
          .otherwise((col("i1").cast("double") - col("p")) * col("v0")
            + (col("p") - col("i0").cast("double")) * col("v1"))
          .as("exact"): _*)
  }

  /** Merge same-grid histogram cell frames into a [[histQuantiles]]-ready
    * sketch: CELL-WISE ADDITION — the whole point of sum-backed cells
    * (per-day / per-shard sketches roll up without rescanning their
    * data) — then one total pass attaches `n`. Accepts [[histBucketize]]
    * cells and [[histBuild]] sketches alike (any extra columns are
    * dropped; `n` is re-derived as the merged total).
    */
  def histMerge(hists: Seq[DataFrame]): DataFrame = {
    require(hists.nonEmpty, "histMerge: no input sketches")
    val merged = hists
      .map(_.select(col("bucket"), col("vmin"), col("vmax"), col("cnt")))
      .reduce(_.unionByName(_))
      .groupBy(col("bucket"), col("vmin"), col("vmax"))
      .agg(sum(col("cnt")).as("cnt"))
    // fail FAST on mixed grids: cells built on different (vmin, vmax)
    // grids would survive the union as parallel rows while `n` became
    // their combined total — silently corrupted quantiles. The distinct-
    // grid count rides the same tiny aggregation that derives `n`, and
    // `raise_error` only evaluates on the mixed-grid branch.
    val tot = merged.agg(sum(col("cnt")).as("n"),
      countDistinct(struct(col("vmin"), col("vmax"))).as("__grids"))
    merged
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("vmin"), col("vmax"),
        when(col("__grids") === 1, col("n"))
          .otherwise(raise_error(lit(
            "histMerge: input cells use different (vmin, vmax) grids")))
          .as("n"),
        col("cnt"))
  }

  /** Merge count-min sketches: counter-wise addition over (j, c) — CMS
    * cells are plain sums, so sharded builds merge exactly.
    */
  def cmsMerge(sketches: Seq[DataFrame]): DataFrame = {
    require(sketches.nonEmpty, "cmsMerge: no input sketches")
    sketches.reduce(_.unionByName(_))
      .groupBy(col("j"), col("c"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Merge Bloom filters built with the same (mBits, nHashes): word-wise
    * OR — the filter of a union is the OR of the filters. With this,
    * every member of the portable family (KMV, Bloom, CMS, histogram)
    * has a spec- or gate-checked merge: union / OR / add / add.
    */
  def bloomMerge(filters: Seq[DataFrame]): DataFrame = {
    require(filters.nonEmpty, "bloomMerge: no input filters")
    filters.reduce(_.unionByName(_))
      .groupBy(col("w"))
      .agg(bit_or(col("bits")).as("bits"))
  }

  /** The `nHashes` probe positions of hash `h` in an `mBits`-bit Bloom
    * filter (double hashing; every op stays far from BIGINT overflow).
    */
  def bloomPositions(h: Column, mBits: Int, nHashes: Int): Column =
    transform(sequence(lit(0), lit(nHashes - 1)),
      j => (pmod(h, lit(mBits)) + j * (lit(1L) + pmod(h, lit(mBits - 1))))
        % mBits)

  /** Build the filter over a column of hashes: (w, bits) — word index →
    * 32-bit word (in a BIGINT). Tiny (mBits/32 rows): always broadcast.
    */
  def bloomBuild(hashes: DataFrame, hashCol: String, mBits: Int,
      nHashes: Int): DataFrame =
    hashes
      .select(explode(bloomPositions(col(hashCol), mBits, nHashes)).as("pos"))
      .select((col("pos") / 32).cast("int").as("w"),
        expr("shiftleft(1L, cast(pos % 32 as int))").as("bit"))
      .groupBy(col("w"))
      .agg(bit_or(col("bit")).as("bits"))

  /** Collect a [[bloomBuild]] (w, bits) frame into the packed `long[]`
    * layout the [[graft.expressions.BloomContains]] kernel reads: two
    * 32-bit build words per `long` slot (bit `pos` lives at long
    * `pos/64`, bit `pos%64`), so the reference object is mBits/8 bytes
    * — 32 MB at the [[bloomBits]] cap. The 32-bit granularity exists
    * only in the PORTABLE build/oracle layout (DuckDB's signed BIGINT
    * can't set bit 63); the JVM-side probe object packs densely.
    * Missing words stay all-zero. The filter is broadcast-sized by the
    * cap, so this is the same data movement a broadcast join would do —
    * minus the join.
    */
  def collectFilter(filter: DataFrame, mBits: Int): Array[Long] = {
    val arr = new Array[Long]((mBits + 63) / 64)
    filter.select(col("w").cast("int"), col("bits")).collect()
      .foreach { r =>
        val w = r.getInt(0)
        arr(w >> 1) |= r.getLong(1) << ((w & 1) << 5)
      }
    arr
  }

  /** Probe: annotate every input row with a `might_contain` boolean by
    * testing all `nHashes` bits of `hashCol` against the filter — one
    * [[graft.expressions.BloomContains]] codegen kernel carrying the
    * packed words as a reference object. Purely row-local scalar work:
    * no joins, no exchanges, nothing added to the caller's plan shape.
    * (The previous formulation unrolled one broadcast hash join per
    * hash function — `nHashes` join operators for a few bit tests.)
    * A NULL hash probes false, matching the join formulation's
    * left-join + coalesce behavior.
    */
  def bloomProbe(df: DataFrame, hashCol: String, filter: DataFrame,
      mBits: Int, nHashes: Int): DataFrame =
    df.withColumn("might_contain",
      coalesce(graft.expressions.BloomContains.column(
        col(hashCol), collectFilter(filter, mBits), mBits, nHashes),
        lit(false)))
}
