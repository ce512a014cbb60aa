package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expressions.NativeKernels

/** SQ8 scalar quantization — the third compression tier of the
  * similarity family (reference capability: ANN search over an
  * embedding column; `compute_metrics.py`-style pairwise scoring is the
  * flat baseline). Where PQ ([[ProductQuantizer]]) and IVFADC
  * ([[IvfPq]]) quantize SUBSPACES against trained codebooks, SQ8
  * quantizes each DIMENSION independently against its corpus range:
  * `code_i = clamp(round(((x_i − lo_i) · 255) / (hi_i − lo_i)), 0, 255)`
  * — 1 logical byte per dimension, 4× smaller than float32, with no
  * codebook training beyond one min/max scan. Search decodes
  * asymmetrically (float query vs reconstructed corpus) inside a fused
  * codegen kernel ([[graft.expressions.SqL2Distance]]), so the per-pair
  * hot loop reads only codes.
  *
  * The 100 TB shape: SQ8 is the COMPRESSED-BRUTE-FORCE tier — recall is
  * near-exact (every vector is scored; only quantization error), I/O
  * drops 4× because the float corpus is never read at search time, and
  * the scan parallelizes embarrassingly (no index structure to probe).
  * When probe-bounded I/O matters more than recall, the IVF tiers apply;
  * the persisted layout here shares their day-2 lifecycle: stored
  * stats version with the codes, O(|delta|) appends encode through the
  * STORED stats (the clamp absorbs out-of-range drift), deletes are
  * [[graft.sources.Tombstones]] markers, and (re)writes go through the
  * one-commit publish ([[graft.sources.Tables.commit]]).
  */
object ScalarQuantizer {

  /** Per-dimension quantization ranges: `lo_i` (corpus min, float
    * widened to double) and `range_i = hi_i − lo_i` (the exact double
    * subtraction the DuckDB oracle performs — stored, not re-derived,
    * so encode arithmetic is bit-stable across sessions).
    */
  final case class Stats(lo: IndexedSeq[Double], range: IndexedSeq[Double])

  /** One corpus scan: per-dimension float min/max. `posexplode` fans
    * each row into `dim` `(pos, x)` pairs, but partial aggregation
    * collapses every partition to ≤`dim` rows before the shuffle, so
    * the exchange carries O(partitions · dim) rows regardless of corpus
    * size. Driver state is 2·dim doubles.
    */
  def train(corpus: DataFrame, vecCol: String): Stats = {
    val rows = corpus
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .collect()
      .map(r => (r.getInt(0), r.getFloat(1).toDouble, r.getFloat(2).toDouble))
      .sortBy(_._1)
    Stats(rows.map(_._2).toIndexedSeq,
      rows.map(t => t._3 - t._2).toIndexedSeq)
  }

  /** `(idCol, codes)` — the corpus under `stats`' 8-bit codes (stored as
    * `array<int>`; parquet bit-packs the ≤255 values to ~1 byte each).
    */
  def encoded(corpus: DataFrame, idCol: String, vecCol: String,
      stats: Stats): DataFrame =
    corpus.select(col(idCol),
      NativeKernels.sqEncode(col(vecCol), stats.lo, stats.range).as("codes"))

  /** In-memory SQ8 search: train on the corpus, encode it, score every
    * `(query, code-row)` pair through the fused decode+distance kernel,
    * keep the top `k` per query. The corpus never shuffles — queries
    * ride to it under the family's byte-bounded broadcast rule.
    * @return (qidCol, neighbor, approx_dist)
    */
  def search(corpus0: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int): DataFrame = {
    val corpus = CentroidState.ensureCached(corpus0)
    val stats = train(corpus, vecCol)
    scoreCodes(encoded(corpus, idCol, vecCol, stats), stats, idCol,
      queries, qidCol, qvecCol, k)
  }

  private def scoreCodes(codes: DataFrame, stats: Stats, idCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(qidCol), col(qvecCol))
    val probe = IvfAnn.probeSide(q, q.count(),
      bytesPerRow = 8L + 4L * stats.lo.length)
    val scored = codes.crossJoin(probe)
      .filter(col(qidCol) =!= col(idCol))
      .select(col(qidCol), col(idCol).as("neighbor"),
        NativeKernels.sqL2Distance(col(qvecCol), col("codes"),
          stats.lo, stats.range).as("approx_dist"))
    Dedup.topKPerKey(scored, Seq(qidCol),
      Seq(col("approx_dist").asc, col("neighbor").asc), k)
  }

  /** Persist the index: `dir/codes` holds the encoded corpus,
    * `dir/stats` the quantization ranges — stats version WITH the codes
    * (the [[IvfAnn.writeIndex]] rationale: separately-versioned stats
    * silently decode garbage), and the whole index lands in one commit
    * so an interrupted (re)write leaves the previous index serving
    * ([[IvfPq.writeIndex]] discipline).
    */
  def writeIndex(corpus0: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit = {
    val spark = corpus0.sparkSession
    val s = graft.sources.Tables.root(spark, dir)
    graft.sources.Tables.commit(s, "write") { tx =>
      tx.remove(s.files)
      val corpus = CentroidState.ensureCached(corpus0)
      val stats = train(corpus, vecCol)
      tx.put(s.table("codes"), encoded(corpus, idCol, vecCol, stats))
      tx.put(s.table("stats"), statsToDF(spark, stats).coalesce(1))
    }
  }

  /** O(|delta|) incremental append: new vectors encode through the
    * STORED stats (no retrain, no rewrite; values outside the trained
    * range saturate at 0/255 — drift degrades those dimensions'
    * resolution, it never corrupts the layout) and land as new files.
    * Stale tombstones for re-admitted ids are cleared (the
    * [[graft.sources.Tombstones]] lifecycle contract).
    */
  def appendIndex(delta: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit = {
    val s = graft.sources.Tables.root(delta.sparkSession, dir)
    val stats = loadStats(s)
    graft.sources.Tables.commit(s, "append") { tx =>
      tx.put(s.table("codes"), encoded(delta, idCol, vecCol, stats))
      graft.sources.Tombstones.unmark(tx, s.table("codes"), delta, idCol)
    }
  }

  /** Search the persisted index: codes-only scan (the float corpus is
    * never read), pending tombstones masked at probe time.
    * @return (qidCol, neighbor, approx_dist)
    */
  def searchIndex(spark: SparkSession, dir: String, idCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int): DataFrame = {
    val s = graft.sources.Tables.root(spark, dir)
    val stats = loadStats(s)
    val codes = graft.sources.Tombstones.filterLive(s.table("codes"),
      s.table("codes").df, idCol)
    scoreCodes(codes, stats, idCol, queries, qidCol, qvecCol, k)
  }

  /** LOGICAL delete — O(|deletes|) markers; [[searchIndex]] masks them
    * and the next [[IvfAnn.compactIndex]]-style rewrite of `dir/codes`
    * applies them physically.
    */
  def deleteFromIndex(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String): Unit =
    graft.sources.Tombstones.write(spark, s"$dir/codes", ids, idCol)

  /** The index's pending tombstones (None when nothing was deleted). */
  def tombstones(spark: SparkSession, dir: String): Option[DataFrame] =
    graft.sources.Tombstones.read(spark, s"$dir/codes")

  private def statsToDF(spark: SparkSession, stats: Stats): DataFrame = {
    import spark.implicits._
    stats.lo.indices.map(i => (i, stats.lo(i), stats.range(i)))
      .toDF("pos", "lo", "range")
  }

  private def loadStats(s: graft.sources.Snapshot): Stats = {
    val rows = s.table("stats").df
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    Stats(rows.map(_._2).toIndexedSeq, rows.map(_._3).toIndexedSeq)
  }
}
