package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.CentroidState.Cent

/** Composed IVF + PQ search — the production 10 B-vector ANN
  * architecture (the FAISS `IVF…,PQ…` index shape): the coarse k-means
  * quantizer ([[IvfAnn.lloyd]]) PRUNES candidates to each query's
  * `nProbe` cells, and product-quantization codes
  * ([[ProductQuantizer.lloyd]]) SCORE them by ADC table lookups — so
  * scored pairs track `nProbe / clusters` of the corpus while the
  * per-pair cost is `m` map lookups instead of a `dim`-float dot
  * product.
  *
  * Both trained quantizers are driver-held [[CentroidState]] state, so
  * the whole search is ONE corpus projection (coarse cell + PQ codes,
  * both inline argmin expressions — the corpus is scanned once and never
  * shuffled) joined against the broadcast probe set, then the
  * bounded-heap top-k. At 10 B vectors the corpus side is stored
  * bucketed by coarse cell with only `codes` (m bytes/vector) resident:
  * a probe reads `nProbe` buckets of compressed codes — the float
  * vectors are never touched (compose with
  * [[ProductQuantizer.searchRefined]]'s exact re-rank to fetch just the
  * final shortlist).
  *
  * Codes are from GLOBAL codebooks (trained on whole vectors, not
  * per-cell residuals): cells only prune, quantization error is
  * cell-independent, and the q85 oracle replays both trainings
  * unchanged.
  */
object IvfPq {

  /** Top-`k` per query by ADC squared L2, scored only inside the
    * query's `nProbe` nearest coarse cells.
    * @return (qid, neighbor, approx_dist)
    */
  def search(corpus0: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, clusters: Int, nProbe: Int, m: Int, dim: Int, codes: Int,
      coarseIters: Int = 1, pqIters: Int = 1): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val corpus = CentroidState.ensureCached(corpus0)
    val coarse = IvfAnn.lloyd(corpus, idCol, vecCol, clusters, coarseIters)
    val cb = ProductQuantizer.lloyd(corpus, idCol, vecCol, m, dim, codes,
      pqIters)
    // one projection: coarse routing cell + PQ codes per corpus row
    val encoded = corpus.select(col(idCol),
      CentroidState.nearestCell(col(vecCol), coarse).as("cell"),
      ProductQuantizer.codesExpr(col(vecCol), cb, m, dim).as("codes"))
    // one projection per query row: probed cells + ADC distance tables
    val qcached = CentroidState.ensureCached(queries)
    val probed = qcached.select(col(qidCol),
      explode(CentroidState.nearestCells(col(qvecCol), coarse, nProbe))
        .as("cell"),
      ProductQuantizer.tablesExpr(col(qvecCol), cb, m, dim).as("tables"))
    // broadcast within the IvfAnn.probeSide BYTE bound — each probe row
    // here carries a full m x codes ADC table, orders of magnitude
    // heavier than IvfAnn's per-row vector — degrade above it
    val scored = IvfAnn.probeSide(probed, qcached.count() * nProbe,
        bytesPerRow = m.toLong * codes * 8L + 64L)
      .join(encoded, "cell")
      .filter(col(qidCol) =!= col(idCol))
      .select(col(qidCol), col(idCol).as("neighbor"),
        aggregate(
          zip_with(col("codes"), col("tables"), (c, t) => element_at(t, c)),
          lit(0.0), (acc, x) => acc + x).as("approx_dist"))
    Dedup.topKPerKey(scored, Seq(qidCol),
      Seq(col("approx_dist").asc, col("neighbor").asc), k)
  }

  /** Residual-encoded IVF+PQ — the FAISS `IVFx,PQy` default (IVFADC,
    * Jégou et al., "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011): PQ codebooks train on RESIDUALS `v − c(cell)` instead
    * of whole vectors, so the codes spend their entropy on the
    * within-cell displacement — the coarse quantizer already explains
    * the between-cell variance that [[search]]'s global codebooks waste
    * code range on. The cost structure is the classic IVFADC one: each
    * query computes one ADC table PER PROBED CELL (its residual differs
    * by cell), `nProbe·m·codes` doubles per query — still
    * broadcast-sized; the probe join on `cell` pairs each encoded
    * corpus row with exactly its own cell's table. Training, encoding,
    * and search stay deterministic (float residuals, decimal means), so
    * the whole chain is SQL-replayable (q142's oracle).
    * @return (qid, neighbor, approx_dist)
    */
  def searchResidual(corpus0: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, clusters: Int, nProbe: Int, m: Int, dim: Int, codes: Int,
      coarseIters: Int = 1, pqIters: Int = 1): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val corpus = CentroidState.ensureCached(corpus0)
    val coarse = IvfAnn.lloyd(corpus, idCol, vecCol, clusters, coarseIters)
    val cmap = CentroidState.cvecMap(coarse)
    def residual(vec: org.apache.spark.sql.Column,
        cell: org.apache.spark.sql.Column) =
      zip_with(vec, element_at(cmap, cell), (a, b) => a - b)
    // residual frame feeds PQ training, encoding, and nothing else —
    // float-typed so the trained state is bit-replayable in SQL
    val resid = CentroidState.ensureCached(
      residualRows(corpus, idCol, vecCol, coarse))
    val cb = ProductQuantizer.lloyd(resid, idCol, "rv", m, dim, codes,
      pqIters)
    val encoded = resid.select(col(idCol), col("cell"),
      ProductQuantizer.codesExpr(col("rv"), cb, m, dim).as("codes"))
    val qcached = CentroidState.ensureCached(queries)
    val probed = qcached
      .select(col(qidCol), col(qvecCol),
        explode(CentroidState.nearestCells(col(qvecCol), coarse, nProbe))
          .as("cell"))
      .select(col(qidCol), col("cell"),
        ProductQuantizer
          .tablesExpr(residual(col(qvecCol), col("cell")), cb, m, dim)
          .as("tables"))
    val scored = IvfAnn.probeSide(probed, qcached.count() * nProbe,
        bytesPerRow = m.toLong * codes * 8L + 64L)
      .join(encoded, "cell")
      .filter(col(qidCol) =!= col(idCol))
      .select(col(qidCol), col(idCol).as("neighbor"),
        aggregate(
          zip_with(col("codes"), col("tables"), (c, t) => element_at(t, c)),
          lit(0.0), (acc, x) => acc + x).as("approx_dist"))
    Dedup.topKPerKey(scored, Seq(qidCol),
      Seq(col("approx_dist").asc, col("neighbor").asc), k)
  }

  /** The composed index's ONE corpus projection: coarse routing cell +
    * PQ codes per row — what [[writeIndex]] materializes and
    * [[appendIndex]] computes for a delta.
    */
  private def encodedRows(vecs: DataFrame, idCol: String, vecCol: String,
      coarse: Seq[Cent], cb: IndexedSeq[Seq[Cent]], m: Int,
      dim: Int): DataFrame =
    vecs.select(col(idCol),
      ProductQuantizer.codesExpr(col(vecCol), cb, m, dim).as("codes"),
      CentroidState.nearestCell(col(vecCol), coarse).as("cell"))

  /** Materialize a SELF-CONTAINED composed-index directory — the
    * 10 B-vector serving layout the class doc promises: `dir/cells`
    * holds the encoded corpus `(id, codes)` hive-partitioned by coarse
    * cell (m bytes-scale codes resident, float vectors never stored),
    * `dir/coarse` and `dir/codebook` hold the two trained quantizers so
    * index and quantizers version together ([[IvfAnn.writeIndex]]
    * rationale — separately-versioned quantizers silently lose recall).
    */
  def writeIndex(corpus0: DataFrame, idCol: String, vecCol: String,
      dir: String, clusters: Int, m: Int, dim: Int, codes: Int,
      coarseIters: Int = 1, pqIters: Int = 1): Unit = {
    // built into the staged sibling and swapped in whole
    // ([[graft.sources.Tables.replace]]): overwriting a dir IN PLACE
    // that previously held the OPPOSITE encoding had crash states where
    // stale residual codes survived flagless (searchIndex silently
    // accepted them) — staged, an interrupted (re)write leaves the
    // previous index — flag, quantizers, and codes consistent with each
    // other — fully addressable, never a half-overwritten mix of
    // encodings (round-10 review)
    graft.sources.Tables.replace(corpus0.sparkSession, dir)(
      buildGlobal(corpus0, idCol, vecCol, _, clusters, m, dim, codes,
        coarseIters, pqIters))
  }

  private def buildGlobal(corpus0: DataFrame, idCol: String, vecCol: String,
      out: String, clusters: Int, m: Int, dim: Int, codes: Int,
      coarseIters: Int, pqIters: Int): Unit = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val spark = corpus0.sparkSession
    val corpus = CentroidState.ensureCached(corpus0)
    val coarse = IvfAnn.lloyd(corpus, idCol, vecCol, clusters, coarseIters)
    val cb = ProductQuantizer.lloyd(corpus, idCol, vecCol, m, dim, codes,
      pqIters)
    encodedRows(corpus, idCol, vecCol, coarse, cb, m, dim)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$out/cells")
    CentroidState.toDF(spark, coarse).coalesce(1)
      .write.mode("overwrite").parquet(s"$out/coarse")
    ProductQuantizer.toDF(spark, cb).coalesce(1)
      .write.mode("overwrite").parquet(s"$out/codebook")
  }

  /** Load both quantizers back from the index dir (O(clusters·dim) +
    * O(codes·dim) driver rows); `m`/`dim` are re-derived from the
    * persisted codebook shape, so callers carry no sizing state.
    */
  private def loadQuantizers(spark: SparkSession,
      dir: String): (Seq[Cent], IndexedSeq[Seq[Cent]], Int, Int) = {
    val coarse = CentroidState.collect(spark.read.parquet(s"$dir/coarse"))
    val cbDf = spark.read.parquet(s"$dir/codebook")
    val m = cbDf.agg(max(col("m"))).head.getInt(0) + 1
    val cb = ProductQuantizer.collectCodebook(cbDf, m)
    (coarse, cb, m, m * cb.head.head.cvec.length)
  }

  /** O(|delta|) incremental append — the composed index's day-2 story
    * ([[IvfAnn.appendPartitionedByCell]] plus encoding): each new
    * vector is routed by the STORED coarse quantizer and encoded with
    * the STORED codebooks, landing as new files under its cell
    * directory. No retrain, no rewrite; drift is bounded by retraining
    * cadence exactly as for plain IVF ([[IvfAnn.driftReport]] applies
    * unchanged — assignment is the same kernel). Stale tombstones for
    * re-admitted ids are cleared (the [[graft.sources.Tombstones]]
    * lifecycle contract).
    */
  def appendIndex(delta: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit = {
    val spark = delta.sparkSession
    // appending RAW-encoded rows into a residual index would corrupt
    // every later searchIndexResidual silently — same guard as the
    // search entry points (round-9 advice)
    requireEncoding(spark, dir, residual = false)
    val (coarse, cb, m, dim) = loadQuantizers(spark, dir)
    encodedRows(delta, idCol, vecCol, coarse, cb, m, dim)
      .write.mode("append").partitionBy("cell").parquet(s"$dir/cells")
    graft.sources.Tombstones.unmark(spark, s"$dir/cells", delta, idCol)
  }

  /** LOGICAL delete from the composed index — O(|deletes|) markers on
    * the cell layout; [[searchIndex]] masks them at probe time and the
    * next [[IvfAnn.compactCells]] over `dir/cells` applies them
    * physically.
    */
  def deleteFromIndex(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String): Unit =
    graft.sources.Tombstones.write(spark, s"$dir/cells", ids, idCol)

  /** The index's pending tombstones (None when nothing was deleted). */
  def tombstones(spark: SparkSession, dir: String): Option[DataFrame] =
    graft.sources.Tombstones.read(spark, s"$dir/cells")

  /** Flag file marking a [[writeIndexResidual]] directory: the stored
    * codes are residual-encoded and MUST be searched with per-cell
    * residual ADC tables — a global-table search over residual codes
    * (or vice versa) returns garbage silently, so both search entry
    * points validate the flag.
    */
  private def residualFlag(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_residual_codes")
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  private def requireEncoding(spark: SparkSession, dir: String,
      residual: Boolean): Unit = {
    val (p, fs) = residualFlag(spark, dir)
    require(fs.exists(p) == residual,
      if (residual) s"$dir stores GLOBAL-codebook codes — use searchIndex"
      else s"$dir stores RESIDUAL codes — use searchIndexResidual")
  }

  /** [[writeIndex]] with RESIDUAL encoding ([[searchResidual]]'s
    * contract, persisted): codebooks train on `v − c(cell)` and the
    * stored codes are residuals — the persisted IVFADC index. The
    * layout carries a `_residual_codes` flag so the search entry
    * points cannot be mixed up silently.
    */
  def writeIndexResidual(corpus0: DataFrame, idCol: String, vecCol: String,
      dir: String, clusters: Int, m: Int, dim: Int, codes: Int,
      coarseIters: Int = 1, pqIters: Int = 1): Unit = {
    // staged build + whole-dir swap — the [[writeIndex]] crash-
    // consistency rationale; the flag travels with the staged dir so a
    // published index is ALWAYS flag-consistent with its codes, even
    // when this write replaces a global-coded index
    graft.sources.Tables.replace(corpus0.sparkSession, dir)(
      buildResidual(corpus0, idCol, vecCol, _, clusters, m, dim, codes,
        coarseIters, pqIters))
  }

  private def buildResidual(corpus0: DataFrame, idCol: String,
      vecCol: String, out: String, clusters: Int, m: Int, dim: Int,
      codes: Int, coarseIters: Int, pqIters: Int): Unit = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val spark = corpus0.sparkSession
    val corpus = CentroidState.ensureCached(corpus0)
    val coarse = IvfAnn.lloyd(corpus, idCol, vecCol, clusters, coarseIters)
    val resid = CentroidState.ensureCached(
      residualRows(corpus, idCol, vecCol, coarse))
    val cb = ProductQuantizer.lloyd(resid, idCol, "rv", m, dim, codes,
      pqIters)
    // flag BEFORE the cells write: no staged state — and therefore no
    // published state — ever holds residual codes unflagged (searchIndex
    // would accept them and return garbage silently — the failure the
    // flag exists to stop)
    locally { val (p, fs) = residualFlag(spark, out)
      fs.mkdirs(p.getParent); fs.create(p, true).close() }
    resid.select(col(idCol),
        ProductQuantizer.codesExpr(col("rv"), cb, m, dim).as("codes"),
        col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$out/cells")
    CentroidState.toDF(spark, coarse).coalesce(1)
      .write.mode("overwrite").parquet(s"$out/coarse")
    ProductQuantizer.toDF(spark, cb).coalesce(1)
      .write.mode("overwrite").parquet(s"$out/codebook")
  }

  /** `(idCol, cell, rv)` — each vector's assigned cell and float
    * residual under it.
    */
  private def residualRows(vecs: DataFrame, idCol: String, vecCol: String,
      coarse: Seq[Cent]): DataFrame = {
    val cmap = CentroidState.cvecMap(coarse)
    vecs.select(col(idCol), col(vecCol),
        CentroidState.nearestCell(col(vecCol), coarse).as("cell"))
      .select(col(idCol), col("cell"),
        zip_with(col(vecCol), element_at(cmap, col("cell")),
          (a, b) => a - b).as("rv"))
  }

  /** O(|delta|) append to a RESIDUAL index — route by the stored
    * coarse quantizer, residual-encode with the stored codebooks,
    * land as new files; stale tombstones for re-admitted ids clear.
    */
  def appendIndexResidual(delta: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit = {
    val spark = delta.sparkSession
    requireEncoding(spark, dir, residual = true)
    val (coarse, cb, m, dim) = loadQuantizers(spark, dir)
    residualRows(delta, idCol, vecCol, coarse)
      .select(col(idCol),
        ProductQuantizer.codesExpr(col("rv"), cb, m, dim).as("codes"),
        col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/cells")
    graft.sources.Tombstones.unmark(spark, s"$dir/cells", delta, idCol)
  }

  /** [[searchResidual]] against a [[writeIndexResidual]] directory:
    * per-(query, probed cell) residual ADC tables, partition-pruned
    * codes read, tombstone masking, bounded-heap top-k.
    * @return (qid, neighbor, approx_dist)
    */
  def searchIndexResidual(spark: SparkSession, dir: String, idCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nProbe: Int): DataFrame = {
    requireEncoding(spark, dir, residual = true)
    val (coarse, cb, m, dim) = loadQuantizers(spark, dir)
    val cmap = CentroidState.cvecMap(coarse)
    val qcached = CentroidState.ensureCached(queries)
    val probed = CentroidState.ensureCached(qcached
      .select(col(qidCol), col(qvecCol),
        explode(CentroidState.nearestCells(col(qvecCol), coarse, nProbe))
          .as("cell"))
      .select(col(qidCol), col("cell"),
        ProductQuantizer.tablesExpr(
          zip_with(col(qvecCol), element_at(cmap, col("cell")),
            (a, b) => a - b), cb, m, dim).as("tables")))
    val wanted = probed.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val corpus = graft.sources.Tombstones.filterLive(spark, s"$dir/cells",
      IvfAnn.readCells(spark, s"$dir/cells", wanted), idCol)
    val scored = IvfAnn.probeSide(probed, qcached.count() * nProbe,
        bytesPerRow = m.toLong * cb.head.size * 8L + 64L)
      .join(corpus, "cell")
      .filter(col(qidCol) =!= col(idCol))
      .select(col(qidCol), col(idCol).as("neighbor"),
        aggregate(
          zip_with(col("codes"), col("tables"), (c, t) => element_at(t, c)),
          lit(0.0), (acc, x) => acc + x).as("approx_dist"))
    Dedup.topKPerKey(scored, Seq(qidCol),
      Seq(col("approx_dist").asc, col("neighbor").asc), k)
  }

  /** [[searchIndexResidual]] + EXACT re-rank — the standard production
    * retrieval config (FAISS index + refinement): the codes-only index
    * scan prunes the corpus to a `refine·k` shortlist per query, and
    * ONLY those rows' full float vectors are fetched from
    * `corpus` (a hash join moving `refine·k·queries` rows — at 10 B
    * vectors this is the only stage touching float data) and re-scored
    * with the true squared L2, so quantization error affects which
    * candidates make the shortlist but never their final order
    * ([[ProductQuantizer.searchRefined]]'s contract, served from the
    * persisted residual index).
    * @return (qid, neighbor, dist2) — exact squared L2
    */
  def searchIndexResidualRefined(spark: SparkSession, dir: String,
      idCol: String, vecCol: String, corpus: DataFrame,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nProbe: Int, refine: Int = 4): DataFrame = {
    val shortlist = searchIndexResidual(spark, dir, idCol, queries,
      qidCol, qvecCol, k = refine * k, nProbe = nProbe)
    val exact = shortlist
      .join(corpus.select(col(idCol).as("neighbor"), col(vecCol)),
        "neighbor")
      .join(queries.select(col(qidCol), col(qvecCol)), qidCol)
      .select(col(qidCol), col("neighbor"),
        (graft.functions.Vectors.dot(col(qvecCol), col(qvecCol))
          + graft.functions.Vectors.dot(col(vecCol), col(vecCol))
          - lit(2.0) * graft.functions.Vectors.dot(col(qvecCol), col(vecCol)))
          .as("dist2"))
    Dedup.topKPerKey(exact, Seq(qidCol),
      Seq(col("dist2").asc, col("neighbor").asc), k)
  }

  /** [[search]] against a [[writeIndex]] directory: probed cells prune
    * the codes READ to their files (partition pruning — I/O tracks
    * `nProbe / clusters` of the index), scoring is ADC table lookups
    * over codes only, pending deletes are masked, and the bounded-heap
    * top-k finishes. The float corpus is never touched — this is the
    * compressed-serving shape at 10 B vectors.
    * @return (qid, neighbor, approx_dist)
    */
  def searchIndex(spark: SparkSession, dir: String, idCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nProbe: Int): DataFrame = {
    requireEncoding(spark, dir, residual = false)
    val (coarse, cb, m, dim) = loadQuantizers(spark, dir)
    val qcached = CentroidState.ensureCached(queries)
    val probed = CentroidState.ensureCached(qcached.select(col(qidCol),
      explode(CentroidState.nearestCells(col(qvecCol), coarse, nProbe))
        .as("cell"),
      ProductQuantizer.tablesExpr(col(qvecCol), cb, m, dim).as("tables")))
    val wanted = probed.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val corpus = graft.sources.Tombstones.filterLive(spark, s"$dir/cells",
      IvfAnn.readCells(spark, s"$dir/cells", wanted), idCol)
    val scored = IvfAnn.probeSide(probed, qcached.count() * nProbe,
        bytesPerRow = m.toLong * cb.head.size * 8L + 64L)
      .join(corpus, "cell")
      .filter(col(qidCol) =!= col(idCol))
      .select(col(qidCol), col(idCol).as("neighbor"),
        aggregate(
          zip_with(col("codes"), col("tables"), (c, t) => element_at(t, c)),
          lit(0.0), (acc, x) => acc + x).as("approx_dist"))
    Dedup.topKPerKey(scored, Seq(qidCol),
      Seq(col("approx_dist").asc, col("neighbor").asc), k)
  }

  /** nProbe-vs-recall calibration for the residual-encoded composed
    * search — [[IvfAnn.recallSweep]]'s instrument for IVFADC: on the
    * bounded query sample, recall@k of the residual-ADC search against
    * EXACT squared-L2 ground truth, one row per probe budget. Unlike
    * plain IVF's sweep the number folds BOTH loss sources — true
    * neighbours in unprobed cells AND quantization error reordering
    * the shortlist — which is what you must know before fixing
    * `nProbe` (and validating `m`/`codes`) for a full-corpus run.
    * Trains ONCE, scores the candidate join ONCE at `max(nProbes)`
    * cells with each candidate tagged by its cell's probe rank, and
    * reads every sweep point off that frame; ground truth is the
    * broadcast-sample brute-force pass (bounded `queries · corpus`
    * pairs, never corpus²).
    *
    * @return one row per nProbe: (n_probe, n_truth, hits, recall)
    */
  def recallSweepResidual(corpus0: DataFrame, idCol: String, vecCol: String,
      nQueries: Int, k: Int, clusters: Int, nProbes: Seq[Int],
      m: Int, dim: Int, codes: Int,
      coarseIters: Int = 1, pqIters: Int = 1): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    import graft.functions.Vectors
    val spark = corpus0.sparkSession
    val corpus = CentroidState.ensureCached(corpus0)
    val coarse = IvfAnn.lloyd(corpus, idCol, vecCol, clusters, coarseIters)
    val cmap = CentroidState.cvecMap(coarse)
    val resid = CentroidState.ensureCached(
      residualRows(corpus, idCol, vecCol, coarse))
    val cb = ProductQuantizer.lloyd(resid, idCol, "rv", m, dim, codes,
      pqIters)
    val encoded = resid.select(col(idCol), col("cell"),
      ProductQuantizer.codesExpr(col("rv"), cb, m, dim).as("codes"))
    val queries = CentroidState.ensureCached(
      corpus.filter(col(idCol) < nQueries)
        .select(col(idCol).as("__qid"), col(vecCol).as("__qv")))
    // exact squared-L2 ground truth over the bounded sample
    val d2 = Vectors.dot(col("__qv"), col("__qv")) +
      Vectors.dot(col(vecCol), col(vecCol)) -
      lit(2.0) * Vectors.dot(col("__qv"), col(vecCol))
    val bf = broadcast(queries).join(corpus, col("__qid") =!= col(idCol))
      .select(col("__qid").as("qid"), col(idCol).as("neighbor"),
        d2.as("d2"))
    val gt = Dedup.topKPerKey(bf, Seq("qid"),
        Seq(col("d2").asc, col("neighbor").asc), k)
      .select(col("qid"), col("neighbor"))
      .transform(graft.CacheScope.cache)
    // one candidate join at the WIDEST sweep point; probe_rank lets
    // every narrower nProbe reuse it as a filter (q89's shape, with
    // per-(query, probed-cell) residual ADC tables)
    val maxProbe = nProbes.max
    val probed = queries
      .select(col("__qid"), col("__qv"),
        posexplode(CentroidState.nearestCells(col("__qv"), coarse, maxProbe))
          .as(Seq("__pos", "cell")))
      .select(col("__qid"), (col("__pos") + 1).as("probe_rank"), col("cell"),
        ProductQuantizer.tablesExpr(
          zip_with(col("__qv"), element_at(cmap, col("cell")),
            (a, b) => a - b), cb, m, dim).as("tables"))
    val cand = IvfAnn.probeSide(probed, queries.count() * maxProbe,
        bytesPerRow = m.toLong * codes * 8L + 64L)
      .join(encoded, "cell")
      .filter(col("__qid") =!= col(idCol))
      .select(col("__qid").as("qid"), col("probe_rank"),
        col(idCol).as("neighbor"),
        aggregate(
          zip_with(col("codes"), col("tables"), (c, t) => element_at(t, c)),
          lit(0.0), (acc, x) => acc + x).as("approx_dist"))
    val sweepDf = spark.createDataFrame(nProbes.map(Tuple1(_)))
      .toDF("n_probe")
    val hits = Dedup.topKPerKey(
        cand.crossJoin(broadcast(sweepDf))
          .filter(col("probe_rank") <= col("n_probe")),
        Seq("n_probe", "qid"),
        Seq(col("approx_dist").asc, col("neighbor").asc), k)
      .join(broadcast(gt), Seq("qid", "neighbor"))
      .groupBy(col("n_probe")).agg(count(lit(1)).as("hits"))
    // hits is ≤ |nProbes| rows — broadcast it as the BUILD side (left
    // outer can only build right); a zero-hit sweep point must report
    sweepDf
      .join(broadcast(hits), Seq("n_probe"), "left")
      .crossJoin(gt.agg(count(lit(1)).as("n_truth")))
      .select(col("n_probe"), col("n_truth"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)) / col("n_truth") + lit(1e-9), 4)
          .as("recall"))
      .orderBy(col("n_probe"))
  }

  /** Index-staleness telemetry for the PERSISTED composed index — the
    * when-to-retrain signal [[IvfAnn.driftReport]] provides for plain
    * IVF, read against the quantizer stored in `dir/coarse`: routing is
    * the same nearest-cell kernel for both index families, and it is
    * routing drift (appended vectors landing far from the cells both
    * quantizers were trained on) that decays probe recall — the PQ leg
    * shares the retrain cadence because [[retrainIfDrifted]] rebuilds
    * both quantizers together. One scan of the tagged corpus; the
    * report is ≤ clusters rows.
    */
  def driftReport(spark: SparkSession, dir: String, tagged: DataFrame,
      genCol: String, vecCol: String): DataFrame =
    IvfAnn.driftReport(tagged, genCol, vecCol,
      spark.read.parquet(s"$dir/coarse"))

  /** Drift-GATED retrain of the persisted composed index — the
    * decision leg completing IvfPq's maintenance loop to parity with
    * plain IVF ([[appendIndexResidual]] absorbs, [[IvfAnn.compactCells]]
    * defragments `dir/cells`, [[driftReport]] measures, THIS acts):
    * when the corpus-wide drift ratio exceeds `tau`, BOTH quantizers
    * retrain on the full LIVE tagged corpus (pending tombstones apply
    * physically first; mid-retrain markers are carried) and the ENTIRE
    * index directory (cells + coarse + codebook + encoding flag)
    * rebuilds under the dir's existing encoding — residual or global,
    * read from the `_residual_codes` flag — through
    * [[graft.sources.Tables.replace]], so quantizers and codes can
    * never skew and the layout stays addressable throughout. Below
    * `tau` nothing is touched. The expensive path (two trainings + a
    * full re-encode) hides behind the O(corpus-scan) telemetry, exactly like
    * [[IvfAnn.retrainIfDrifted]].
    *
    * @return whether a retrain ran
    */
  def retrainIfDrifted(spark: SparkSession, dir: String, tagged: DataFrame,
      genCol: String, idCol: String, vecCol: String,
      clusters: Int, m: Int, dim: Int, codes: Int,
      coarseIters: Int = 1, pqIters: Int = 1, tau: Double): Boolean =
    retrainIfDrifted(spark, dir, tagged, genCol, idCol, vecCol, clusters,
      m, dim, codes, coarseIters, pqIters, tau, () => ())

  /** Test seam: `midRetrain` runs after the staged index materializes
    * and before the publish swap — the marker-carry race window.
    */
  private[graft] def retrainIfDrifted(spark: SparkSession, dir: String,
      tagged: DataFrame, genCol: String, idCol: String, vecCol: String,
      clusters: Int, m: Int, dim: Int, codes: Int,
      coarseIters: Int, pqIters: Int, tau: Double,
      midRetrain: () => Unit): Boolean = {
    val ratio = IvfAnn.globalDriftRatio(
      driftReport(spark, dir, tagged, genCol, vecCol))
    if (!ratio.exists(_ > tau)) false
    else {
      val (p, fsF) = residualFlag(spark, dir)
      val residual = fsF.exists(p)
      // the rebuild sources vectors from the CALLER's corpus, which may
      // still hold logically deleted ids — pending markers apply
      // physically BEFORE training and re-encode (deleted vectors must
      // neither shape the quantizers nor be resurrected into the new
      // cells), and markers that arrive while the retrain runs are
      // carried into the staged cell layout
      val full = graft.sources.Tombstones.filterLive(spark, s"$dir/cells",
        tagged.select(col(idCol), col(vecCol)), idCol)
      val listed = full.inputFiles // before the build caches `full`
      graft.sources.Tables.replace(spark, dir, listed,
          Seq(s"cells/${graft.sources.Tombstones.Dir}")) { staged =>
        if (residual)
          buildResidual(full, idCol, vecCol, staged, clusters, m, dim,
            codes, coarseIters, pqIters)
        else
          buildGlobal(full, idCol, vecCol, staged, clusters, m, dim, codes,
            coarseIters, pqIters)
        midRetrain()
      }
      true
    }
  }
}
