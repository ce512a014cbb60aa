package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 1-bit binary quantization — the coarsest rung of the quantization
  * ladder (float32 → SQ8 [[ScalarQuantizer]] → PQ [[ProductQuantizer]] /
  * IVFADC [[IvfPq]] → THIS): each dimension collapses to a single bit
  * (`x_i > mid_i`, `mid_i` the corpus midrange `(lo_i + hi_i) / 2` —
  * order-independent and bit-stable across engines, unlike a mean),
  * packed 64 bits to a long, and similarity becomes Hamming distance —
  * `bit_count(xor)` per word, integer arithmetic with NO float-stability
  * surface at all.
  *
  * The 100 TB shape: 64× smaller than the float corpus (one long per
  * 64 dims), the per-pair kernel is one XOR+POPCNT per word, and recall
  * at the top is weak enough that binary is the PREFILTER tier — scan
  * the packed corpus for a `refine·k` Hamming shortlist, then fetch only
  * the shortlist's float vectors for the exact re-rank
  * ([[searchRefined]], the [[IvfPq.searchIndexRefined]] shape).
  * Everything here composes from builtin codegen functions (`zip_with`,
  * `bit_count`, `aggregate`) — no custom kernel needed because the hot
  * loop is one word wide per 64 dimensions.
  */
object BinaryQuantizer {

  /** Per-dimension midrange thresholds from one [[ScalarQuantizer.train]]
    * min/max scan: `(lo_i + hi_i) / 2`, with `hi_i = lo_i + range_i`
    * (exact — a difference of two floats is always representable in
    * double, so re-adding recovers the max bit-for-bit).
    */
  def mids(stats: ScalarQuantizer.Stats): IndexedSeq[Double] =
    stats.lo.indices.map { i =>
      (stats.lo(i) + (stats.lo(i) + stats.range(i))) / 2.0
    }

  /** Pack `vec` against the thresholds: `ceil(dim/64)` longs, bit `i`
    * of word `w` set iff `vec[64w+i] > mid[64w+i]`. Bit 63's power is
    * `Long.MinValue` (the two's-complement value of `1L << 63`) and the
    * fold adds it LAST within its word, so the running sum never leaves
    * the long range — safe under ANSI overflow checks in both engines.
    */
  def packed(vec: Column, mids: Seq[Double]): Column = {
    val midA = array(mids.map(lit): _*)
    val pwA = array((0 until 64).map(i =>
      lit(if (i == 63) Long.MinValue else 1L << i)): _*)
    val nWords = (mids.length + 63) / 64
    array((0 until nWords).map { w =>
      val bits = math.min(64, mids.length - w * 64)
      aggregate(sequence(lit(0), lit(bits - 1)), lit(0L), (acc, i) =>
        acc + when(element_at(vec, lit(w * 64 + 1) + i).cast("double")
            > element_at(midA, lit(w * 64 + 1) + i),
          element_at(pwA, i + lit(1))).otherwise(lit(0L)))
    }: _*)
  }

  /** Hamming distance between two packed code arrays: per-word
    * XOR+POPCNT, integer sum — builtins end to end.
    */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0), (acc, h) => acc + h)

  /** Brute Hamming top-k: train midranges in one min/max scan, pack the
    * corpus (8 bytes per 64 dims resident — the floats are read once to
    * encode and never rescored), score every pair against the
    * byte-bounded broadcast probe side, keep k per query.
    * Ties break on neighbor id so the answer is total-ordered.
    * @return (qidCol, neighbor, hamming)
    */
  def search(corpus0: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int): DataFrame = {
    val corpus = CentroidState.ensureCached(corpus0)
    val mid = mids(ScalarQuantizer.train(corpus, vecCol))
    val codes = corpus.select(col(idCol), packed(col(vecCol), mid).as("bw"))
    scoreHamming(codes, mid, idCol, queries, qidCol, qvecCol, k,
      queries.count())
  }

  /** (qidCol, neighbor, hamming) — the packed-codes scan. The pair
    * frame carries only ids and one packed word per 64 dims; the query
    * FLOATS never ride through the crossJoin (they re-attach to the
    * k-row-per-query shortlist when a re-rank needs them). `qRows` is
    * the query-batch size for the broadcast budget — counted ONCE by
    * the public entry points and threaded through (round-13 §1.2: each
    * internal stage used to run its own count action just to size the
    * broadcast).
    */
  private def scoreHamming(codes: DataFrame, mid: Seq[Double], idCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, qRows: Long): DataFrame = {
    val q = queries.select(col(qidCol), packed(col(qvecCol), mid).as("qw"))
    val probe = IvfAnn.probeSide(q, qRows,
      bytesPerRow = 16L + 8L * ((mid.length + 63) / 64))
    val scored = codes.crossJoin(probe)
      .filter(col(qidCol) =!= col(idCol))
      .select(col(qidCol), col(idCol).as("neighbor"),
        hamming(col("qw"), col("bw")).as("hamming"))
    Dedup.topKPerKey(scored, Seq(qidCol),
      Seq(col("hamming").asc, col("neighbor").asc), k)
  }

  /** Binary-prefilter + exact re-rank: Hamming shortlist of `refine·k`
    * per query from the packed scan, then ONLY the shortlist rows fetch
    * their float vectors — the shortlist (nQ·refine·k rows, a contract
    * bound) rides to the corpus under the family's byte-bounded
    * broadcast rule, so the float corpus is equi-join-probed in place,
    * never shuffled, and only shortlist ids leave the scan. Distances
    * in the output are exact squared L2.
    * @return (qidCol, neighbor, dist)
    */
  def searchRefined(corpus0: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, refine: Int): DataFrame = {
    val corpus = CentroidState.ensureCached(corpus0)
    val mid = mids(ScalarQuantizer.train(corpus, vecCol))
    val codes = corpus.select(col(idCol), packed(col(vecCol), mid).as("bw"))
    val qRows = queries.count()
    val shortIds = graft.CacheScope.cache(scoreHamming(codes, mid, idCol,
      queries, qidCol, qvecCol, k * refine, qRows))
    rerank(shortIds, corpus, idCol, vecCol, queries, qidCol, qvecCol,
      mid.length, k, qRows, k.toLong * refine)
  }

  /** Exact squared-L2 between two float vectors: `(a_i − b_i)²` folded
    * left in index order — the SAME expression on the corpus and oracle
    * sides, so distances are bit-identical and safe to ORDER BY raw.
    */
  private[operators] def l2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
        (x, y) => (x.cast("double") - y.cast("double"))
          * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)

  /** Exact squared-L2 distances for every shortlist row: re-attach each
    * query's float vector (byte-bounded broadcast join), then ONLY the
    * shortlist rows probe `primary` — the float store is
    * equi-join-probed in place, never shuffled. Preserves the shortlist's
    * extra columns (e.g. a threaded Hamming rank) next to `dist`.
    */
  private def exactDistances(shortIds: DataFrame, primary: DataFrame,
      idCol: String, vecCol: String, queries: DataFrame, qidCol: String,
      qvecCol: String, dim: Int, qRows: Long, maxShortPerQ: Long): DataFrame = {
    val qf = queries.select(col(qidCol), col(qvecCol))
    val shortlist = shortIds.join(
      IvfAnn.probeSide(qf, qRows, bytesPerRow = 16L + 4L * dim),
      qidCol)
    val keep = shortIds.columns.map(col)
    // shortlist rows are bounded by qRows·maxShortPerQ BY CONSTRUCTION
    // (the shortlist is a top-maxShort per query), so the broadcast
    // budget needs no count action over the whole prefilter lineage —
    // the bound is conservative (≥ the true count), never unsafe
    IvfAnn.probeSide(shortlist, qRows * maxShortPerQ,
        bytesPerRow = 24L + 4L * dim)
      .join(primary.select(col(idCol).as("neighbor"),
        col(vecCol).as("__nv")), "neighbor")
      .select(keep :+ l2(col(qvecCol), col("__nv")).as("dist"): _*)
  }

  /** Exact squared-L2 re-rank of a shortlist — top-k per query over
    * [[exactDistances]]; shared with the other shortlist-producing tiers
    * (e.g. [[Matryoshka]]). `qRows` = query-batch size,
    * `maxShortPerQ` = the shortlist's per-query contract bound (both
    * known to every caller — no count actions here).
    * @return (qidCol, neighbor, dist) */
  private[operators] def rerank(shortIds: DataFrame, primary: DataFrame,
      idCol: String, vecCol: String, queries: DataFrame, qidCol: String,
      qvecCol: String, dim: Int, k: Int, qRows: Long,
      maxShortPerQ: Long): DataFrame =
    Dedup.topKPerKey(
      exactDistances(shortIds, primary, idCol, vecCol, queries, qidCol,
        qvecCol, dim, qRows, maxShortPerQ),
      Seq(qidCol), Seq(col("dist").asc, col("neighbor").asc), k)
      .select(col(qidCol), col("neighbor"), col("dist"))

  /** The widest-budget prefilter frame every refine budget reads off:
    * ONE train + pack + Hamming scan shortlists `maxShort` per query
    * with the Hamming rank threaded through (`ham_rk`), and ONE exact
    * re-rank attaches true squared-L2 to every shortlist row. A budget
    * `refine` is then just `ham_rk <= refine·k` over this frame — the
    * [[IvfAnn.recallSweep]] probe_rank trick at the binary tier, shared
    * by [[recallSweep]] and [[AnnRouter.routeBinaryRefine]] so
    * calibration rides the serving scan instead of re-scanning.
    * @return (qidCol, neighbor, hamming, ham_rk, dist)
    */
  private[operators] def rankedExact(corpus0: DataFrame, idCol: String,
      vecCol: String, queries: DataFrame, qidCol: String, qvecCol: String,
      maxShort: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpus = CentroidState.ensureCached(corpus0)
    val mid = mids(ScalarQuantizer.train(corpus, vecCol))
    val codes = corpus.select(col(idCol), packed(col(vecCol), mid).as("bw"))
    val qRows = queries.count()
    // the window runs on the contract-bounded shortlist (nQ·maxShort
    // rows), partitioned by query — never on the corpus
    val ranked = scoreHamming(codes, mid, idCol, queries, qidCol, qvecCol,
        maxShort, qRows)
      .withColumn("ham_rk", row_number().over(Window.partitionBy(qidCol)
        .orderBy(col("hamming").asc, col("neighbor").asc)))
    exactDistances(ranked, corpus, idCol, vecCol, queries, qidCol,
      qvecCol, mid.length, qRows, maxShort.toLong)
  }

  /** Recall@k of the binary prefilter + exact re-rank against exact
    * squared-L2 ground truth, per refine budget — the calibration
    * instrument that prices the cheapest ladder rung (the q89/q151
    * pattern at 1 bit): trains once, scans once at the WIDEST budget
    * with the Hamming rank threaded, re-ranks once, and reads every
    * sweep point off that frame through one top-k + one aggregation.
    * Ground truth is the bounded query sample against the corpus
    * (broadcast query side — the corpus never shuffles).
    * @return (refine, n_truth, hits, recall) ordered by refine
    */
  def recallSweep(corpus0: DataFrame, idCol: String, vecCol: String,
      nQueries: Int, k: Int, refines: Seq[Int]): DataFrame = {
    val corpus = CentroidState.ensureCached(corpus0)
    val queries = corpus.filter(col(idCol) < nQueries)
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val gt = exactTopK(corpus, idCol, vecCol, queries, "qid", "qv", k)
      .transform(graft.CacheScope.cache)
    val ranked = graft.CacheScope.cache(rankedExact(corpus, idCol, vecCol,
      queries, "qid", "qv", k * refines.max))
    sweepTail(corpus.sparkSession, ranked, gt, "qid", k, refines)
  }

  /** Exact squared-L2 top-k of the bounded query sample against the
    * corpus — the ground truth every calibration compares to.
    * @return (qidCol, neighbor)
    */
  private[operators] def exactTopK(corpus: DataFrame, idCol: String,
      vecCol: String, queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int): DataFrame = {
    val bf = broadcast(queries).join(corpus, col(qidCol) =!= col(idCol))
      .select(col(qidCol), col(idCol).as("neighbor"),
        l2(col(qvecCol), col(vecCol)).as("dist"))
    Dedup.topKPerKey(bf, Seq(qidCol),
        Seq(col("dist").asc, col("neighbor").asc), k)
      .select(col(qidCol), col("neighbor"))
  }

  /** Fan the ranked-exact frame over the (tiny) sweep, top-k per
    * (refine, query) by exact distance, score against ground truth.
    * @return (refine, n_truth, hits, recall) ordered by refine
    */
  private[operators] def sweepTail(spark: SparkSession, ranked: DataFrame,
      gt: DataFrame, qidCol: String, k: Int, refines: Seq[Int]): DataFrame = {
    val sweepDf = spark.createDataFrame(refines.map(Tuple1(_)))
      .toDF("refine")
    val sel = Dedup.topKPerKey(
      ranked.crossJoin(broadcast(sweepDf))
        .filter(col("ham_rk") <= col("refine") * k),
      Seq("refine", qidCol), Seq(col("dist").asc, col("neighbor").asc), k)
    val hits = sel.join(broadcast(gt), Seq(qidCol, "neighbor"))
      .groupBy(col("refine")).agg(count(lit(1)).as("hits"))
    // hits is ≤ |refines| rows — broadcast it as the BUILD side (left
    // outer builds right); a budget with zero hits must still report
    sweepDf
      .join(broadcast(hits), Seq("refine"), "left")
      .crossJoin(gt.agg(count(lit(1)).as("n_truth")))
      .select(col("refine"), col("n_truth"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)) / col("n_truth") + lit(1e-9),
          4).as("recall"))
      .orderBy(col("refine"))
  }

  /** Persist the binary index: `dir/codes` holds `(idCol, bw)` packed
    * words, `dir/mids` the midrange thresholds — thresholds version
    * WITH the codes (the [[ScalarQuantizer.writeIndex]] rationale:
    * separately-versioned thresholds silently decode garbage), and the
    * whole index lands in one commit. The index stores
    * NO floats: it is the 64×-compressed prefilter tier; exact re-rank
    * fetches the shortlist's vectors from the caller's primary store
    * ([[searchIndexRefined]]).
    */
  def writeIndex(corpus0: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit = {
    val spark = corpus0.sparkSession
    val s = graft.sources.Tables.root(spark, dir)
    graft.sources.Tables.commit(s, "write") { tx =>
      tx.remove(s.files)
      val corpus = CentroidState.ensureCached(corpus0)
      val mid = mids(ScalarQuantizer.train(corpus, vecCol))
      tx.put(s.table("codes"),
        corpus.select(col(idCol), packed(col(vecCol), mid).as("bw")))
      tx.put(s.table("mids"), midsToDF(spark, mid).coalesce(1))
    }
  }

  /** O(|delta|) append: new vectors pack through the STORED thresholds
    * (no retrain, no rewrite — a drifted dimension's bit saturates to
    * whichever side of the frozen midrange it falls on) and land as new
    * files; stale tombstones for readmitted ids are cleared.
    */
  def appendIndex(delta: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit = {
    val s = graft.sources.Tables.root(delta.sparkSession, dir)
    val mid = loadMids(s)
    graft.sources.Tables.commit(s, "append") { tx =>
      tx.put(s.table("codes"),
        delta.select(col(idCol), packed(col(vecCol), mid).as("bw")))
      graft.sources.Tombstones.unmark(tx, s.table("codes"), delta, idCol)
    }
  }

  /** Hamming top-k served codes-only from the persisted index (floats
    * untouched), pending tombstones masked at probe time.
    * @return (qidCol, neighbor, hamming)
    */
  def searchIndex(spark: SparkSession, dir: String, idCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int): DataFrame =
    searchIndex(spark, dir, idCol, queries, qidCol, qvecCol, k,
      queries.count())

  private def searchIndex(spark: SparkSession, dir: String, idCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, qRows: Long): DataFrame = {
    val s = graft.sources.Tables.root(spark, dir)
    val mid = loadMids(s)
    val codes = graft.sources.Tombstones.filterLive(s.table("codes"),
      s.table("codes").df, idCol)
    scoreHamming(codes, mid, idCol, queries, qidCol, qvecCol, k, qRows)
  }

  /** Index-served prefilter + exact re-rank: the codes-only scan
    * shortlists `refine·k` per query, then ONLY the shortlist ids fetch
    * their float vectors from `primary` — the caller's primary store,
    * NOT the index, which holds no floats (the 64×-compressed tier's
    * realistic split at 100 TB). Distances in the output are exact.
    * @return (qidCol, neighbor, dist)
    */
  def searchIndexRefined(spark: SparkSession, dir: String,
      primary: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, refine: Int): DataFrame = {
    val dim = loadMids(graft.sources.Tables.root(spark, dir)).length
    val qRows = queries.count()
    val shortIds = graft.CacheScope.cache(
      searchIndex(spark, dir, idCol, queries, qidCol, qvecCol, k * refine,
        qRows))
    rerank(shortIds, primary, idCol, vecCol, queries, qidCol, qvecCol,
      dim, k, qRows, k.toLong * refine)
  }

  /** LOGICAL delete — O(|deletes|) markers masked by [[searchIndex]]. */
  def deleteFromIndex(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String): Unit =
    graft.sources.Tombstones.write(spark, s"$dir/codes", ids, idCol)

  /** The index's pending tombstones (None when nothing was deleted). */
  def tombstones(spark: SparkSession, dir: String): Option[DataFrame] =
    graft.sources.Tombstones.read(spark, s"$dir/codes")

  private def midsToDF(spark: SparkSession, mid: Seq[Double]): DataFrame = {
    import spark.implicits._
    mid.zipWithIndex.map { case (m, i) => (i, m) }.toDF("pos", "mid")
  }

  private def loadMids(s: graft.sources.Snapshot): IndexedSeq[Double] =
    s.table("mids").df
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
      .sortBy(_._1).map(_._2).toIndexedSeq
}
