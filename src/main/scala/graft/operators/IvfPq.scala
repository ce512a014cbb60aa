package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  * Every entry point runs the same four steps: train (coarse Lloyd,
  * then PQ Lloyd), encode (ONE corpus projection: coarse cell + PQ
  * codes, both inline argmin expressions — the corpus is scanned once
  * and never shuffled), probe (each query's `nProbe` cells with their
  * ADC tables, broadcast), and score (the probe join on `cell`, the
  * ADC sum, the bounded-heap top-k). At 10 B vectors the corpus side is
  * stored bucketed by coarse cell with only `codes` (m bytes/vector)
  * resident: a probe reads `nProbe` buckets of compressed codes — the
  * float vectors are never touched until [[searchIndexRefined]]'s exact
  * re-rank fetches just the final shortlist.
  *
  * Two encodings share those steps (Jégou et al., "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011 — FAISS `IndexIVFPQ`'s
  * `by_residual`):
  *  - GLOBAL (`residual = false`): codebooks train on whole vectors, so
  *    cells only prune and quantization error is cell-independent (the
  *    q85 oracle replays both trainings unchanged);
  *  - RESIDUAL (IVFADC, `residual = true`): codebooks train on
  *    `v − c(cell)`, so the codes spend their entropy on the within-cell
  *    displacement the coarse quantizer leaves; each query computes one
  *    ADC table PER PROBED CELL (`nProbe·m·codes` doubles — still
  *    broadcast-sized) and the probe join pairs each encoded row with
  *    its own cell's table. Residuals stay float and means decimal, so
  *    the chain is SQL-replayable (q142's oracle).
  *
  * A persisted index records its encoding once, as the `residual`
  * property of its `cells` table in the index's log; [[appendIndex]],
  * [[searchIndex]] and [[retrainIfDrifted]] read it from the snapshot
  * they resolved, so the codes are always scored and extended the way
  * they were written. The index is one log root, like [[IvfAnn]]'s,
  * and its `cells` table is laid out as IvfAnn's is, so
  * [[IvfAnn.compactIndex]] compacts either.
  */
object IvfPq {

  /** Both trained quantizers and the encoding their codes use. */
  private final case class Quantizers(coarse: Seq[Cent],
      cb: IndexedSeq[Seq[Cent]], m: Int, dim: Int, residual: Boolean)

  /** What PQ encodes for `vec` in `cell`: the vector itself, or its
    * float residual under the cell's centroid.
    */
  private def pqInput(vec: Column, cell: Column, coarse: Seq[Cent],
      residual: Boolean): Column =
    if (!residual) vec
    else zip_with(vec, element_at(CentroidState.cvecMap(coarse), cell),
      (a, b) => a - b)

  /** `(idCol, cell, pv)` — each vector's coarse cell and the vector PQ
    * sees under it ([[pqInput]]).
    */
  private def pqRows(vecs: DataFrame, idCol: String, vecCol: String,
      coarse: Seq[Cent], residual: Boolean): DataFrame =
    vecs.select(col(idCol), col(vecCol),
        CentroidState.nearestCell(col(vecCol), coarse).as("cell"))
      .select(col(idCol), col("cell"),
        pqInput(col(vecCol), col("cell"), coarse, residual).as("pv"))

  /** The index's ONE corpus projection over [[pqRows]]:
    * `(idCol, codes, cell)`.
    */
  private def encode(rows: DataFrame, idCol: String,
      q: Quantizers): DataFrame =
    rows.select(col(idCol),
      ProductQuantizer.codesExpr(col("pv"), q.cb, q.m, q.dim).as("codes"),
      col("cell"))

  /** Coarse Lloyd, then PQ Lloyd over the corpus's [[pqRows]].
    * @return the quantizers and the corpus [[encode]]d under them
    */
  private def train(corpus0: DataFrame, idCol: String, vecCol: String,
      clusters: Int, m: Int, dim: Int, codes: Int, coarseIters: Int,
      pqIters: Int, residual: Boolean): (Quantizers, DataFrame) = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val corpus = CentroidState.ensureCached(corpus0)
    val coarse = IvfAnn.lloyd(corpus, idCol, vecCol, clusters, coarseIters)
    val rows0 = pqRows(corpus, idCol, vecCol, coarse, residual)
    // residual rows feed PQ training and encoding, and nothing else —
    // cached so the residuals are computed once
    val rows = if (residual) CentroidState.ensureCached(rows0) else rows0
    val q = Quantizers(coarse,
      ProductQuantizer.lloyd(rows, idCol, "pv", m, dim, codes, pqIters),
      m, dim, residual)
    (q, encode(rows, idCol, q))
  }

  /** One row per (query, probed cell): `(qid, cell, tables)` with the
    * query's ADC tables over [[pqInput]] in that cell; `ranked` adds each
    * cell's 1-based `probe_rank` after `qid`.
    */
  private def probe(queries: DataFrame, qidCol: String, qvecCol: String,
      q: Quantizers, nProbe: Int, ranked: Boolean = false): DataFrame = {
    val cells = CentroidState.nearestCells(col(qvecCol), q.coarse, nProbe)
    val rank = if (ranked) Seq((col("__pos") + 1).as("probe_rank")) else Nil
    queries
      .select(col(qidCol), col(qvecCol),
        if (ranked) posexplode(cells).as(Seq("__pos", "cell"))
        else explode(cells).as("cell"))
      .select((col(qidCol) +: rank) ++ Seq(col("cell"),
        ProductQuantizer.tablesExpr(
          pqInput(col(qvecCol), col("cell"), q.coarse, q.residual),
          q.cb, q.m, q.dim).as("tables")): _*)
  }

  /** Every (query, corpus row) pair sharing a probed cell, self-pairs
    * dropped, scored by ADC. The probe side broadcasts within the
    * [[IvfAnn.probeSide]] BYTE bound — each probe row carries a full
    * `m × codes` ADC table, orders of magnitude heavier than IvfAnn's
    * per-row vector — and degrades above it.
    * @return (qid, [probe_rank,] neighbor, approx_dist)
    */
  private def score(probed: DataFrame, probeRows: Long, q: Quantizers,
      codes: Int, encoded: DataFrame, qidCol: String,
      idCol: String): DataFrame = {
    val keys = probed.columns.toSeq.filterNot(Set("cell", "tables")).map(col)
    IvfAnn.probeSide(probed, probeRows,
        bytesPerRow = q.m.toLong * codes * 8L + 64L)
      .join(encoded, "cell")
      .filter(col(qidCol) =!= col(idCol))
      .select(keys ++ Seq(col(idCol).as("neighbor"),
        ProductQuantizer.adc(col("codes"), col("tables")).as("approx_dist")): _*)
  }

  private def topK(scored: DataFrame, qidCol: String, k: Int): DataFrame =
    Dedup.topKPerKey(scored, Seq(qidCol),
      Seq(col("approx_dist").asc, col("neighbor").asc), k)

  /** Top-`k` per query by ADC squared L2, scored only inside the
    * query's `nProbe` nearest coarse cells, under the chosen encoding.
    * @return (qid, neighbor, approx_dist)
    */
  def search(corpus0: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, clusters: Int, nProbe: Int, m: Int, dim: Int, codes: Int,
      coarseIters: Int = 1, pqIters: Int = 1,
      residual: Boolean = false): DataFrame = {
    val (q, encoded) = train(corpus0, idCol, vecCol, clusters, m, dim,
      codes, coarseIters, pqIters, residual)
    val qcached = CentroidState.ensureCached(queries)
    topK(score(probe(qcached, qidCol, qvecCol, q, nProbe),
      qcached.count() * nProbe, q, codes, encoded, qidCol, idCol), qidCol, k)
  }

  /** Materialize a SELF-CONTAINED composed-index directory — the
    * 10 B-vector serving layout the class doc promises: `dir/cells`
    * holds the encoded corpus `(id, codes)` hive-partitioned by coarse
    * cell (m bytes-scale codes resident, float vectors never stored),
    * `dir/coarse` and `dir/codebook` hold the two trained quantizers so
    * index and quantizers version together ([[IvfAnn.writeIndex]]
    * rationale — separately-versioned quantizers silently lose recall),
    * and the encoding is the `residual` property of `cells` in the log.
    */
  def writeIndex(corpus0: DataFrame, idCol: String, vecCol: String,
      dir: String, clusters: Int, m: Int, dim: Int, codes: Int,
      coarseIters: Int = 1, pqIters: Int = 1,
      residual: Boolean = false): Unit = {
    // ONE commit replaces the whole index, so an interrupted (re)write
    // leaves the previous index — encoding, quantizers, and codes
    // consistent with each other — serving, never codes of one encoding
    // under the other's flag
    val s = graft.sources.Tables.root(corpus0.sparkSession, dir)
    graft.sources.Tables.commit(s, "write") { tx =>
      tx.remove(s.files)
      build(tx, corpus0, idCol, vecCol, clusters, m, dim, codes,
        coarseIters, pqIters, residual)
    }
  }

  private def build(tx: graft.sources.Txn, corpus0: DataFrame,
      idCol: String, vecCol: String, clusters: Int, m: Int, dim: Int,
      codes: Int, coarseIters: Int, pqIters: Int, residual: Boolean): Unit = {
    val spark = corpus0.sparkSession
    val (q, encoded) = train(corpus0, idCol, vecCol, clusters, m, dim,
      codes, coarseIters, pqIters, residual)
    tx.put(tx.read.table("cells"), encoded, Seq("cell"),
      Map("residual" -> residual.toString))
    tx.put(tx.read.table("coarse"),
      CentroidState.toDF(spark, q.coarse).coalesce(1))
    tx.put(tx.read.table("codebook"),
      ProductQuantizer.toDF(spark, q.cb).coalesce(1))
  }

  /** Load both quantizers and the encoding back from one snapshot of
    * the index (O(clusters·dim) + O(codes·dim) driver rows); `m`/`dim`
    * are re-derived from the persisted codebook shape, so callers carry
    * no sizing state.
    */
  private def loadQuantizers(s: graft.sources.Snapshot): Quantizers = {
    val coarse = CentroidState.collect(s.table("coarse").df)
    val cbDf = s.table("codebook").df
    val m = cbDf.agg(max(col("m"))).head().getInt(0) + 1
    val cb = ProductQuantizer.collectCodebook(cbDf, m)
    Quantizers(coarse, cb, m, m * cb.head.head.cvec.length,
      s.table("cells").prop("residual").contains("true"))
  }

  /** O(|delta|) incremental append — the composed index's day-2 story
    * ([[IvfAnn.appendIndex]] plus encoding): each new
    * vector is routed by the STORED coarse quantizer and encoded with
    * the STORED codebooks under the stored encoding, landing as new
    * files under its cell directory. No retrain, no rewrite; drift is
    * bounded by retraining cadence exactly as for plain IVF
    * ([[IvfAnn.driftReport]] applies unchanged — assignment is the same
    * kernel). Stale tombstones for re-admitted ids are cleared (the
    * [[graft.sources.Tombstones]] lifecycle contract).
    */
  def appendIndex(delta: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit = {
    val s = graft.sources.Tables.root(delta.sparkSession, dir)
    val q = loadQuantizers(s)
    val cells = s.table("cells")
    graft.sources.Tables.commit(s, "append") { tx =>
      tx.put(cells, encode(pqRows(delta, idCol, vecCol, q.coarse,
        q.residual), idCol, q), Seq("cell"))
      graft.sources.Tombstones.unmark(tx, cells, delta, idCol)
    }
  }

  /** LOGICAL delete from the composed index — O(|deletes|) markers on
    * the cell layout; [[searchIndex]] masks them at probe time and the
    * next [[IvfAnn.compactIndex]] of `dir` (the two families share the
    * `cells` layout) applies them physically.
    */
  def deleteFromIndex(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String): Unit =
    graft.sources.Tombstones.write(spark, s"$dir/cells", ids, idCol)

  /** The index's pending tombstones (None when nothing was deleted). */
  def tombstones(spark: SparkSession, dir: String): Option[DataFrame] =
    graft.sources.Tombstones.read(spark, s"$dir/cells")

  /** [[search]] against a [[writeIndex]] directory, under its stored
    * encoding: probed cells prune the codes READ to their files
    * (partition pruning — I/O tracks `nProbe / clusters` of the index),
    * scoring is ADC table lookups over codes only, pending deletes are
    * masked, and the bounded-heap top-k finishes. The float corpus is
    * never touched — this is the compressed-serving shape at 10 B
    * vectors.
    * @return (qid, neighbor, approx_dist)
    */
  def searchIndex(spark: SparkSession, dir: String, idCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nProbe: Int): DataFrame = {
    val s = graft.sources.Tables.root(spark, dir)
    val q = loadQuantizers(s)
    val qcached = CentroidState.ensureCached(queries)
    val probed = CentroidState.ensureCached(
      probe(qcached, qidCol, qvecCol, q, nProbe))
    val wanted = probed.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val cells = s.table("cells")
    val corpus = graft.sources.Tombstones.filterLive(cells,
      cells.df.filter(col("cell").isin(wanted: _*)), idCol)
    topK(score(probed, qcached.count() * nProbe, q, q.cb.head.size, corpus,
      qidCol, idCol), qidCol, k)
  }

  /** [[searchIndex]] + EXACT re-rank — the standard production
    * retrieval config (FAISS index + refinement): the codes-only index
    * scan prunes the corpus to a `refine·k` shortlist per query, and
    * ONLY those rows' full float vectors are fetched from `corpus` and
    * re-scored with the true squared L2 ([[ProductQuantizer.rerank]]),
    * so quantization error affects which candidates make the shortlist
    * but never their final order.
    * @return (qid, neighbor, dist2) — exact squared L2
    */
  def searchIndexRefined(spark: SparkSession, dir: String,
      idCol: String, vecCol: String, corpus: DataFrame,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nProbe: Int, refine: Int = 4): DataFrame =
    ProductQuantizer.rerank(
      searchIndex(spark, dir, idCol, queries, qidCol, qvecCol,
        k = refine * k, nProbe = nProbe),
      corpus, idCol, vecCol, queries, qidCol, qvecCol, k)

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
    val spark = corpus0.sparkSession
    val (q, encoded) = train(corpus0, idCol, vecCol, clusters, m, dim,
      codes, coarseIters, pqIters, residual = true)
    val corpus = CentroidState.ensureCached(corpus0)
    val queries = CentroidState.ensureCached(
      corpus.filter(col(idCol) < nQueries)
        .select(col(idCol).as("__qid"), col(vecCol).as("__qv")))
    // exact squared-L2 ground truth over the bounded sample
    val bf = broadcast(queries).join(corpus, col("__qid") =!= col(idCol))
      .select(col("__qid").as("qid"), col(idCol).as("neighbor"),
        ProductQuantizer.dist2(col("__qv"), col(vecCol)).as("d2"))
    val gt = Dedup.topKPerKey(bf, Seq("qid"),
        Seq(col("d2").asc, col("neighbor").asc), k)
      .select(col("qid"), col("neighbor"))
      .transform(graft.CacheScope.cache)
    // one candidate join at the WIDEST sweep point; probe_rank lets
    // every narrower nProbe reuse it as a filter (q89's shape, with
    // per-(query, probed-cell) residual ADC tables)
    val maxProbe = nProbes.max
    val cand = score(probe(queries, "__qid", "__qv", q, maxProbe,
        ranked = true), queries.count() * maxProbe, q, codes, encoded,
        "__qid", idCol)
      .withColumnRenamed("__qid", "qid")
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
      graft.sources.Tables.read(spark, s"$dir/coarse"))

  /** Drift-GATED retrain of the persisted composed index — the
    * decision leg completing IvfPq's maintenance loop to parity with
    * plain IVF ([[appendIndex]] absorbs, [[IvfAnn.compactIndex]]
    * defragments `dir/cells`, [[driftReport]] measures, THIS acts):
    * when the corpus-wide drift ratio exceeds `tau`, BOTH quantizers
    * retrain on the full LIVE tagged corpus (pending tombstones apply
    * physically first; mid-retrain markers survive) and the ENTIRE
    * index (cells + coarse + codebook + encoding) rebuilds under its
    * stored encoding in one commit ([[graft.sources.Tables.commit]]),
    * so quantizers and codes can never skew and readers see the old or
    * the new index throughout. Below
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

  /** Test seam: `midRetrain` runs after the rebuilt index is staged and
    * before the commit — the window a concurrent delete can land in.
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
      val s = graft.sources.Tables.root(spark, dir)
      val cells = s.table("cells")
      // the rebuild sources vectors from the CALLER's corpus, which may
      // still hold logically deleted ids — pending markers apply
      // physically BEFORE training and re-encode (deleted vectors must
      // neither shape the quantizers nor be resurrected into the new
      // cells), and markers committed while the retrain runs survive it
      val full = graft.sources.Tombstones.filterLive(cells,
        tagged.select(col(idCol), col(vecCol)), idCol)
      graft.sources.Tables.commit(s, "retrain") { tx =>
        tx.remove(s.files)
        build(tx, full, idCol, vecCol, clusters, m, dim, codes,
          coarseIters, pqIters, cells.prop("residual").contains("true"))
        midRetrain()
      }
      true
    }
  }
}
