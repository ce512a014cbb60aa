package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Vectors
import graft.operators.CentroidState.Cent

/** Product quantization (PQ) — the memory-compression tier of the ANN
  * family (brute q27 → LSH q28 → IVF q58 → int8 q59 → PQ): each
  * `dim`-float vector splits into `m` subvectors, each subspace gets its
  * own small k-means codebook (the same deterministic seeding and
  * decimal-exact means as [[IvfAnn]]), and a vector is stored as `m`
  * small codes. 64 floats (256 B) at m=8 become 8 codes — 32×
  * compression, the difference between an in-memory corpus and not at
  * 10 B vectors.
  *
  * Codebooks are driver-held `m · codes · dim/m = codes · dim` floats
  * (kilobytes — [[CentroidState]] scale rationale), so training is joint
  * across all subspaces with ONE corpus scan per Lloyd iteration (the
  * per-(subspace, cell, dim) decimal mean is a single partial-aggregated
  * groupBy), and encoding is a pure projection: each row's `m` nearest
  * codewords come from one [[graft.expressions.NearestCell]] codegen
  * kernel per subspace — no explode, no argmin shuffle, no
  * array-rebuild aggregations.
  *
  * Search is asymmetric distance computation (ADC): per query, the
  * distance from its subvector to EVERY codebook centroid is
  * precomputed (`m · k` numbers — tiny) as an inline expression and
  * broadcast; a corpus row's approximate distance is then `m` map
  * lookups summed by a higher-order function over its codes — one
  * corpus scan, ZERO shuffle before the final top-k (which runs through
  * the bounded-heap [[graft.plans.TopKPerKeyPlan]] operator).
  *
  * Tables are `map<cell,dist>` rather than position-indexed arrays
  * because Lloyd iterations can empty a cell: codebook cell ids stay a
  * sparse subset of `1..k` and a positional lookup would misalign.
  */
object ProductQuantizer {

  /** The `m` PQ codes of `vec` — one [[graft.expressions.NearestCell]]
    * kernel per subspace over its static slice: a pure projection whose
    * plan size is constant in `codes`.
    */
  private[operators] def codesExpr(vec: Column, cb: IndexedSeq[Seq[Cent]],
      m: Int, dim: Int): Column = {
    val sub = dim / m
    array((0 until m).map(i =>
      CentroidState.nearestCell(slice(vec, i * sub + 1, sub), cb(i))): _*)
  }

  /** Per-query ADC distance tables — an array (over subspaces, in
    * order) of `map<cell, ||q_m − c||²>`. Query-side only, so the
    * expression formulation over the literal codebook is fine.
    */
  private[operators] def tablesExpr(qvec: Column, cb: IndexedSeq[Seq[Cent]],
      m: Int, dim: Int): Column = {
    val sub = dim / m
    array((0 until m).map { i =>
      val qsv = slice(qvec, i * sub + 1, sub)
      map_from_entries(transform(CentroidState.toLit(cb(i)), c =>
        struct(c.getField("cell").as("cell"),
          (Vectors.dot(qsv, qsv) + c.getField("cnorm2")
            - lit(2.0) * Vectors.dot(qsv, c.getField("cvec"))).as("d"))))
    }: _*)
  }

  private val pqSchema: StructType = StructType(
    StructField("m", IntegerType, nullable = false) +:
      CentroidState.schema.fields.toSeq)

  private[operators] def toDF(spark: SparkSession, cb: IndexedSeq[Seq[Cent]]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(cb.zipWithIndex.flatMap { case (cells, i) =>
        cells.map(c => Row(i, c.cell, c.cvec.toSeq, c.cnorm2))
      }: _*),
      pqSchema)

  /** Re-collect a codebook DataFrame into per-subspace driver state
    * (small by the `codes · dim` contract); `cnorm2` is re-derived the
    * [[CentroidState.collect]] way.
    */
  private[operators] def collectCodebook(codebook: DataFrame, m: Int): IndexedSeq[Seq[Cent]] = {
    val byM = codebook
      .select(col("m").cast("int"), col("cell").cast("int"), col("cvec"))
      .collect()
      .groupBy(_.getInt(0))
    (0 until m).map { i =>
      byM.getOrElse(i, Array.empty[Row])
        .map(r => Cent(r.getInt(1), r.getSeq[Float](2).toArray))
        .toSeq.sortBy(_.cell)
    }
  }

  /** Joint Lloyd training across all `m` subspaces — one corpus scan per
    * iteration. Semantics are identical to training each subspace
    * independently through [[IvfAnn]]: same lowest-id deterministic
    * seeds (each seed vector's m-th slice seeds cell 1..k of subspace m),
    * same decimal-exact means, and subspaces never interact (every
    * aggregation is keyed by `m`).
    */
  private[operators] def lloyd(corpus: DataFrame, idCol: String,
      vecCol: String, m: Int, dim: Int, k: Int,
      iters: Int): IndexedSeq[Seq[Cent]] = {
    val sub = dim / m
    val seeds = corpus.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(k).collect()
    var cb: IndexedSeq[Seq[Cent]] = (0 until m).map { i =>
      seeds.zipWithIndex.map { case (r, j) =>
        Cent(j + 1, r.getSeq[Float](1).slice(i * sub, (i + 1) * sub).toArray)
      }.toSeq
    }
    var it = 0
    while (it < iters) {
      // one exploded struct per subspace: (m, assigned cell, slice) —
      // the assignment kernel runs BEFORE the explode, on static slices
      val perSub = array((0 until m).map { i =>
        val sv = slice(col(vecCol), i * sub + 1, sub)
        struct(lit(i).as("m"),
          CentroidState.nearestCell(sv, cb(i)).as("cell"), sv.as("sv"))
      }: _*)
      // decimal-backed mean (Stable rationale): codebooks come out
      // bit-identical regardless of partitioning
      val means = corpus
        .select(explode(perSub).as("e"))
        .select(col("e.m").as("m"), col("e.cell").as("cell"),
          posexplode(col("e.sv")).as(Seq("pos", "x")))
        .groupBy(col("m"), col("cell"), col("pos"))
        .agg((graft.functions.Stable.sumD(col("x")) / count(col("x")))
          .as("mu"))
        .collect()
      val byM = means.groupBy(_.getInt(0))
      cb = (0 until m).map { i =>
        byM.getOrElse(i, Array.empty[Row])
          .groupBy(_.getInt(1)).toSeq
          .map { case (cell, rs) =>
            Cent(cell,
              rs.sortBy(_.getInt(2)).map(_.getDouble(3).toFloat).toArray)
          }.sortBy(_.cell)
      }
      it += 1
    }
    cb
  }

  /** Train one codebook per subspace: (m, cell, cvec, cnorm2). */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, dim: Int, k: Int, iters: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    toDF(corpus.sparkSession, lloyd(corpus, idCol, vecCol, m, dim, k, iters))
  }

  /** Encode each vector as its `m` nearest-codeword cells: (id, codes) —
    * a pure projection, zero shuffle.
    */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, m: Int, dim: Int): DataFrame =
    corpus.select(col(idCol),
      codesExpr(col(vecCol), collectCodebook(codebook, m), m, dim)
        .as("codes"))

  /** End-to-end PQ search: top-`k` neighbours per query by approximate
    * (ADC) squared L2 distance. @return (qid, neighbor, approx_dist)
    */
  def search(corpus0: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, m: Int, dim: Int, codes: Int, iters: Int = 2): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val corpus = CentroidState.ensureCached(corpus0)
    val cb = lloyd(corpus, idCol, vecCol, m, dim, codes, iters)
    val encoded = corpus.select(col(idCol),
      codesExpr(col(vecCol), cb, m, dim).as("codes"))
    val tables = queries.select(col(qidCol),
      tablesExpr(col(qvecCol), cb, m, dim).as("tables"))
    val scored = encoded.crossJoin(broadcast(tables))
      .filter(col(qidCol) =!= col(idCol))
      .select(col(qidCol), col(idCol).as("neighbor"),
        adc(col("codes"), col("tables")).as("approx_dist"))
    Dedup.topKPerKey(scored, Seq(qidCol),
      Seq(col("approx_dist").asc, col("neighbor").asc), k)
  }

  /** PQ shortlist → EXACT re-rank — the production composition: ADC
    * over codes prunes the corpus to `refine · k` candidates per query
    * (codes-only scan, zero shuffle), then [[rerank]] re-scores only
    * those exactly. Approximation error then affects only which
    * candidates make the shortlist, not their final order.
    * @return (qid, neighbor, dist2) — exact squared L2
    */
  def searchRefined(corpus0: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, m: Int, dim: Int, codes: Int, iters: Int = 2,
      refine: Int = 4): DataFrame = {
    val corpus = CentroidState.ensureCached(corpus0)
    val shortlist = search(corpus, idCol, vecCol, queries, qidCol, qvecCol,
      k = refine * k, m = m, dim = dim, codes = codes, iters = iters)
    rerank(shortlist, corpus, idCol, vecCol, queries, qidCol, qvecCol, k)
  }

  /** ADC approximate squared L2 of a row's `codes` under a query's
    * `tables`: the `m` table lookups summed left to right.
    */
  private[operators] def adc(codes: Column, tables: Column): Column =
    aggregate(zip_with(codes, tables, (c, t) => element_at(t, c)),
      lit(0.0), (acc, x) => acc + x)

  /** Exact squared L2 `q·q + v·v − 2·q·v`. */
  private[operators] def dist2(q: Column, v: Column): Column =
    Vectors.dot(q, q) + Vectors.dot(v, v) - lit(2.0) * Vectors.dot(q, v)

  /** Exact re-rank of an ADC `shortlist` `(qid, neighbor, …)`: only the
    * shortlisted rows' FULL vectors are fetched from `corpus` (a join
    * moving `shortlist` rows — at 10 B vectors the only stage touching
    * float data) and re-scored with [[dist2]], keeping the top `k`.
    * @return (qid, neighbor, dist2)
    */
  private[operators] def rerank(shortlist: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, queries: DataFrame, qidCol: String,
      qvecCol: String, k: Int): DataFrame = {
    val exact = shortlist
      .join(corpus.select(col(idCol).as("neighbor"), col(vecCol)), "neighbor")
      .join(queries.select(col(qidCol), col(qvecCol)), qidCol)
      .select(col(qidCol), col("neighbor"),
        dist2(col(qvecCol), col(vecCol)).as("dist2"))
    Dedup.topKPerKey(exact, Seq(qidCol),
      Seq(col("dist2").asc, col("neighbor").asc), k)
  }
}
