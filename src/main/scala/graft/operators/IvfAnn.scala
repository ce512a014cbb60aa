package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Vectors
import graft.operators.CentroidState.Cent
import graft.sources.{Tables, Tombstones, Txn}

/** IVF (inverted-file) approximate nearest neighbour — the scale path
  * past sign-bucket LSH (SCALING.md "Dedup / similarity"): a coarse
  * k-means quantizer partitions the corpus into cells; each query scores
  * only its `nProbe` nearest cells instead of the full corpus, so scored
  * pairs track `nProbe / clusters` of brute force while recall stays
  * high for clustered data.
  *
  * The trained quantizer is driver-held O(clusters·dim) state
  * ([[CentroidState]] — the Spark MLlib `KMeans` pattern), so:
  *
  *  - seeding is deterministic (the `clusters` lowest-id vectors), so
  *    re-runs build the same index — no `rand()`, reproducible like every
  *    other operator here;
  *  - each Lloyd iteration is ONE corpus scan: nearest-cell assignment is
  *    an inline `array_min` expression over the literal centroid table
  *    (no crossJoin, no argmin shuffle, no join-back), feeding a single
  *    partially-aggregated per-(cell, dim) decimal mean whose k·dim-row
  *    result is collected — the batch analog of "train for n steps";
  *  - assignment and probe selection at search time are likewise pure
  *    per-row expressions (zero shuffle before the candidate join), and
  *    the final top-k runs through the custom
  *    [[graft.plans.TopKPerKeyPlan]] operator so the map-side
  *    bounded-heap reduction applies before the one remaining shuffle.
  *
  * At 10 B vectors: centroids are O(clusters·dim) — always driver/
  * broadcast-sized; the corpus is written partitioned by cell so a probe
  * reads `nProbe` cells; raising `clusters` keeps cell size constant as
  * the corpus grows (clusters ≈ sqrt(n) is the classical sizing).
  *
  * A persisted index is ONE log root (the [[IvfPq]] shape): its `cells`
  * and `centroids` are two tables of that root, so [[writeIndex]],
  * [[appendIndex]], [[deleteFromIndex]], [[compactIndex]] and
  * [[retrainIfDrifted]] are each one commit, and every lifecycle call
  * and [[searchIndex]] reads the quantizer and the cells from one
  * snapshot — no caller carries centroids.
  */
object IvfAnn {

  /** Probe sides are `queries · nProbe` rows — a bounded request batch
    * by the search contract. This guard makes the contract EXPLICIT
    * instead of a comment: at or below the bound the probe side
    * broadcasts and the corpus never shuffles (the plan the gate pins);
    * above it the search degrades to a plain shuffle join — slower, but
    * it completes instead of OOMing the executors on a broadcast that
    * was never going to fit. The bound is in BYTES, not rows, because
    * per-row payloads differ by orders of magnitude between callers
    * (IvfAnn carries one `dim`-float vector per probe row; IvfPq
    * carries a full `m × codes`-double ADC table) — callers pass their
    * estimated row width and the guard compares against a conservative
    * slice of the default broadcast budget.
    */
  private[operators] val MaxBroadcastProbeBytes: Long = 256L << 20

  private[operators] def probeSide(probed: DataFrame, probeRows: Long,
      bytesPerRow: Long): DataFrame =
    if (probeRows * bytesPerRow <= MaxBroadcastProbeBytes) broadcast(probed)
    else probed

  /** Train the coarse quantizer driver-side: deterministic lowest-id
    * seeds, then `iters` Lloyd passes of one corpus scan each.
    */
  private[operators] def lloyd(corpus: DataFrame, idCol: String,
      vecCol: String, clusters: Int, iters: Int): Seq[Cent] = {
    var cents: Seq[Cent] = corpus.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(clusters)
      .collect().zipWithIndex
      .map { case (r, i) => Cent(i + 1, r.getSeq[Float](1).toArray) }
      .toSeq
    var i = 0
    while (i < iters) {
      // decimal-backed mean (Stable rationale): centroids come out
      // bit-identical regardless of partitioning, so the trained index
      // is reproducible run to run
      val means = corpus
        .select(CentroidState.nearestCell(col(vecCol), cents).as("cell"),
          posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg((graft.functions.Stable.sumD(col("x")) / count(col("x")))
          .as("mu"))
        .collect()
      cents = CentroidState.fromMeans(means.toSeq)
      i += 1
    }
    cents
  }

  /** Train the coarse quantizer: (cell, cvec, cnorm2). */
  def centroids(corpus: DataFrame, idCol: String, vecCol: String,
      clusters: Int, iters: Int): DataFrame =
    CentroidState.toDF(corpus.sparkSession,
      lloyd(corpus, idCol, vecCol, clusters, iters))

  /** Hard assignment: one cell per vector — a pure projection (the
    * argmin is an inline expression over the collected centroid table;
    * ties break toward the lower cell id).
    */
  def assign(vecs: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val cs = CentroidState.collect(cents)
    vecs.select(col(idCol),
      CentroidState.nearestCell(col(vecCol), cs).as("cell"))
  }

  /** Probe assignment: each query's `nProbe` nearest cells — the same
    * scoring, one row per (query, probed cell), still projection-only.
    */
  def probes(queries: DataFrame, cents: DataFrame, qidCol: String,
      qvecCol: String, nProbe: Int): DataFrame = {
    val cs = CentroidState.collect(cents)
    queries.select(col(qidCol),
      explode(CentroidState.nearestCells(col(qvecCol), cs, nProbe))
        .as("cell"))
  }

  /** End-to-end IVF search: top-`k` cosine neighbours per query scored
    * only inside the query's probed cells.
    *
    * @return (qid, neighbor, cosine)
    */
  def search(corpus0: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, clusters: Int, nProbe: Int, iters: Int = 2): DataFrame = {
    // the corpus feeds seeding, one scan per Lloyd iteration, and the
    // final cell-pruned scoring — persist once instead of re-reading
    // parquet for each of those jobs
    val corpus = CentroidState.ensureCached(corpus0)
    val cents = lloyd(corpus, idCol, vecCol, clusters, iters)
    val corpusByCell = corpus
      .select(col(idCol), col(vecCol), Vectors.norm(col(vecCol)).as("__n"),
        CentroidState.nearestCell(col(vecCol), cents).as("cell"))
    val qcached = CentroidState.ensureCached(queries)
    val probed = qcached
      .select(col(qidCol), col(qvecCol),
        Vectors.norm(col(qvecCol)).as("__qn"),
        explode(CentroidState.nearestCells(col(qvecCol), cents, nProbe))
          .as("cell"))
    // within the probe-row bound the probe side broadcasts and the
    // corpus never shuffles: candidate generation is a map-side hash
    // join on cell; an oversized query batch degrades to a shuffle join
    // per probe row: the query vector (dim floats) + norm + ids
    val scored = probeSide(probed, qcached.count() * nProbe,
        bytesPerRow = cents.head.cvec.length * 4L + 64L)
      .join(corpusByCell, "cell")
      .filter(col(qidCol) =!= col(idCol) && col("__qn") > 0 && col("__n") > 0)
      .select(col(qidCol), col(idCol).as("neighbor"),
        (Vectors.dot(col(qvecCol), col(vecCol)) / (col("__qn") * col("__n")))
          .as("cosine"))
    Dedup.topKPerKey(scored, Seq(qidCol),
      Seq(col("cosine").desc, col("neighbor").asc), k)
  }

  /** nProbe-vs-recall calibration on a bounded query sample — the IVF
    * family's analog of the LSH bucket-bits calibration: before a
    * full-corpus run, this one report is how `nProbe` is picked. Trains
    * ONCE, scores the candidate join ONCE at `max(nProbes)` cells with
    * each candidate tagged by its cell's probe rank, then reads every
    * sweep point off that cached frame — recall@k is measured against
    * the brute-force top-k over the same sample (exact on the sample
    * because the sample is bounded; `queries · corpus` pairs, the q27
    * broadcast shape, NOT corpus²).
    *
    * @return one row per nProbe: (n_probe, n_truth, hits, recall)
    */
  def recallSweep(corpus0: DataFrame, idCol: String, vecCol: String,
      nQueries: Int, k: Int, clusters: Int, nProbes: Seq[Int],
      iters: Int = 2): DataFrame = {
    val corpus = CentroidState.ensureCached(corpus0)
    val cents = lloyd(corpus, idCol, vecCol, clusters, iters)
    val corpusByCell = corpus
      .select(col(idCol), col(vecCol), Vectors.norm(col(vecCol)).as("__n"),
        CentroidState.nearestCell(col(vecCol), cents).as("cell"))
    val queries = corpus.filter(col(idCol) < nQueries)
      .select(col(idCol).as("__qid"), col(vecCol).as("__qv"),
        Vectors.norm(col(vecCol)).as("__qn"))
    val cos = Vectors.dot(col("__qv"), col(vecCol)) /
      (col("__qn") * col("__n"))
    // exact ground truth over the bounded sample (broadcast query side)
    val bf = broadcast(queries).join(corpusByCell,
        col("__qid") =!= col(idCol) && col("__qn") > 0 && col("__n") > 0)
      .select(col("__qid").as("qid"), col(idCol).as("neighbor"),
        cos.as("cos"))
    val gt = Dedup.topKPerKey(bf, Seq("qid"),
        Seq(col("cos").desc, col("neighbor").asc), k)
      .select(col("qid"), col("neighbor"))
      .transform(graft.CacheScope.cache)
    // one candidate join at the WIDEST sweep point; probe_rank lets every
    // narrower nProbe reuse it as a filter instead of a fresh search, and
    // fanning the candidates out over the (tiny) sweep frame reads every
    // sweep point through ONE top-k + one aggregation instead of a job
    // chain per point
    val maxProbe = nProbes.max
    val probed = queries.select(col("__qid"), col("__qv"), col("__qn"),
      posexplode(CentroidState.nearestCells(col("__qv"), cents, maxProbe))
        .as(Seq("__pos", "cell")))
    val cand = probeSide(probed, queries.count() * maxProbe,
        bytesPerRow = cents.head.cvec.length * 4L + 64L)
      .join(corpusByCell, "cell")
      .filter(col("__qid") =!= col(idCol) && col("__qn") > 0 && col("__n") > 0)
      .select(col("__qid").as("qid"), (col("__pos") + 1).as("probe_rank"),
        col(idCol).as("neighbor"), cos.as("cos"))
    val sweepDf = corpus.sparkSession
      .createDataFrame(nProbes.map(Tuple1(_))).toDF("n_probe")
    val hits = Dedup.topKPerKey(
        cand.crossJoin(broadcast(sweepDf))
          .filter(col("probe_rank") <= col("n_probe")),
        Seq("n_probe", "qid"), Seq(col("cos").desc, col("neighbor").asc), k)
      .join(broadcast(gt), Seq("qid", "neighbor"))
      .groupBy(col("n_probe")).agg(count(lit(1)).as("hits"))
    // hits is ≤ |nProbes| rows — broadcast it as the BUILD side (a left
    // outer join can only build right, so hinting the sweep side would
    // silently fall back to a sort-merge join); a sweep point with zero
    // hits must still report
    sweepDf
      .join(broadcast(hits), Seq("n_probe"), "left")
      .crossJoin(gt.agg(count(lit(1)).as("n_truth")))
      .select(col("n_probe"), col("n_truth"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)) / col("n_truth") + lit(1e-9), 4)
          .as("recall"))
      .orderBy(col("n_probe"))
  }

  /** The index's cell layout and quantizer: two tables of one log root.
    * `cells` holds the assigned corpus `(id, vec, cell)` hive-partitioned
    * by `cell` — one directory per cell, so a probe's scan prunes to
    * exactly its probed cells' FILES (spec-asserted on the file set, not
    * the plan string), turning `nProbe / clusters` from a compute ratio
    * into an I/O ratio. At 10 B vectors with clusters ≈ sqrt(n), each
    * cell is a few thousand vectors — a handful of parquet files per
    * probe. `centroids` holds the quantizer that assigned them.
    */
  private val Cells = "cells"
  private val Centroids = "centroids"

  private def assigned(vecs: DataFrame, idCol: String, vecCol: String,
      cs: Seq[Cent]): DataFrame =
    vecs.select(col(idCol), col(vecCol),
      CentroidState.nearestCell(col(vecCol), cs).as("cell"))

  /** Stage the whole index — `vecs` assigned under `cents`, and `cents`
    * itself — in `tx`, replacing every file of the snapshot it read.
    */
  private def put(tx: Txn, vecs: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame): Unit = {
    tx.remove(tx.read.files)
    tx.put(tx.read.table(Cells), assigned(vecs, idCol, vecCol,
      CentroidState.collect(cents)), Seq("cell"))
    tx.put(tx.read.table(Centroids), cents.coalesce(1))
  }

  /** Write a SELF-CONTAINED index root at `dir`: the cell layout AND the
    * quantizer that produced it, in ONE commit — the serving layer needs
    * both, and versioning them separately invites quantizer/layout skew
    * (a search against cells written under other centroids probes the
    * wrong cells and silently loses recall). Combined with
    * [[graft.sources.Snapshots.commit]] this is zero-downtime index
    * publishing: each retrain commits a full index version while
    * searches pinned to the previous version keep serving (q124).
    */
  def writeIndex(corpus: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, dir: String): Unit = {
    val s = Tables.root(corpus.sparkSession, dir)
    Tables.commit(s, "write")(put(_, corpus, idCol, vecCol, cents))
  }

  /** Incrementally append a delta batch WITHOUT retraining, in one
    * commit: each new vector is assigned to its nearest STORED centroid
    * (the same pure projection as [[assign]]) and its rows land as new
    * files under the matching `cell=` directories. This is how a
    * production index absorbs a day's new embeddings at 10 B-vector
    * scale — O(|delta|), zero corpus rewrite, zero quantizer retrain —
    * and searches see old and new vectors uniformly because partition
    * pruning is directory-based, not file-based. Centroid drift is
    * bounded by retraining cadence, the classical IVF maintenance trade
    * ([[retrainIfDrifted]]). A forgotten-then-readmitted vector serves
    * its NEW rows: its stale tombstone is cleared in the same commit.
    */
  def appendIndex(delta: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit = {
    val s = Tables.root(delta.sparkSession, dir)
    val cells = s.table(Cells)
    val cs = CentroidState.collect(s.table(Centroids).df)
    Tables.commit(s, "append") { tx =>
      tx.put(cells, assigned(delta, idCol, vecCol, cs), Seq("cell"))
      Tombstones.unmark(tx, cells, delta, idCol)
    }
  }

  /** LOGICAL delete — O(|deletes|), append-only markers on `cells` via
    * the shared [[graft.sources.Tombstones]] mechanics: [[searchIndex]]
    * anti-joins them at probe time, and the next [[compactIndex]]
    * applies them PHYSICALLY (and removes the markers it applied). This
    * is the right-to-be-forgotten shape at 10 B vectors: the delete path
    * never rewrites the corpus, and the serving penalty — one broadcast
    * anti-join against the (small) tombstone set — is bounded by
    * compaction cadence, exactly like small-file growth under
    * [[appendIndex]].
    */
  def deleteFromIndex(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String): Unit =
    Tombstones.write(spark, s"$dir/$Cells", ids, idCol)

  /** The index's pending tombstones (None when nothing was deleted). */
  def tombstones(spark: SparkSession, dir: String): Option[DataFrame] =
    Tombstones.read(spark, s"$dir/$Cells")

  /** Compact the `cells` table of an index root — this family's and
    * [[IvfPq]]'s, which share the layout — in one commit
    * ([[graft.sources.Tombstones.compact]]): every cell's live rows are
    * rewritten as ONE file (a `repartition` on `cell` puts each cell
    * wholly in one task, so `partitionBy` emits one file per cell
    * directory), the markers it read are removed, and markers committed
    * meanwhile survive. Appends accumulate small files and probe I/O
    * degrades with file COUNT (per-file open/footer cost); compaction
    * restores one file per cell without touching centroids or
    * assignments (spec-asserted: file counts drop, search results are
    * identical).
    */
  def compactIndex(spark: SparkSession, dir: String, idCol: String): Unit =
    Tombstones.compact(spark, s"$dir/$Cells", idCol, Seq("cell"))(
      _.repartition(col("cell")))

  /** Search an index root: the quantizer and the cells come from one
    * snapshot. The query batch's probed cells are computed from the
    * stored centroids (pure projection), their union prunes the cells
    * READ to those cells' files (≤ `queries · nProbe` cells, bounded by
    * `clusters`), pending deletes are masked, and scoring proceeds
    * exactly as [[search]] — same probe-side broadcast guard, same
    * custom top-k. This is the shape a 10 B-vector deployment runs: I/O
    * tracks the probe set, not the corpus; results are spec-asserted
    * equal to the in-memory [[search]].
    *
    * @return (qid, neighbor, cosine)
    */
  def searchIndex(spark: SparkSession, dir: String, idCol: String,
      vecCol: String, queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nProbe: Int): DataFrame = {
    val s = Tables.root(spark, dir)
    val cs = CentroidState.collect(s.table(Centroids).df)
    val qcached = CentroidState.ensureCached(queries)
    // persist the probed frame: the wanted-cell collect below and the
    // scored join both read it, and without the cache each would re-run
    // the per-query centroid-scoring projection as its own job (the
    // probe side is ≤ queries · nProbe rows — bounded by the search
    // contract, so caching it is cheap); registered in CacheScope like
    // every internal cache
    val probed = CentroidState.ensureCached(qcached
      .select(col(qidCol), col(qvecCol),
        Vectors.norm(col(qvecCol)).as("__qn"),
        explode(CentroidState.nearestCells(col(qvecCol), cs, nProbe))
          .as("cell")))
    // the union of probed cells — ≤ clusters values of driver state
    val wanted = probed.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    // pending logical deletes are filtered at probe time — a broadcast
    // anti-join against the (small, compaction-bounded) tombstone set
    val cells = s.table(Cells)
    val corpus = Tombstones
      .filterLive(cells, cells.df.filter(col("cell").isin(wanted: _*)), idCol)
      .withColumn("__n", Vectors.norm(col(vecCol)))
    val scored = probeSide(probed, qcached.count() * nProbe,
        bytesPerRow = cs.head.cvec.length * 4L + 64L)
      .join(corpus, "cell")
      .filter(col(qidCol) =!= col(idCol) && col("__qn") > 0 && col("__n") > 0)
      .select(col(qidCol), col(idCol).as("neighbor"),
        (Vectors.dot(col(qvecCol), col(vecCol)) / (col("__qn") * col("__n")))
          .as("cosine"))
    Dedup.topKPerKey(scored, Seq(qidCol),
      Seq(col("cosine").desc, col("neighbor").asc), k)
  }

  /** Index-staleness telemetry — the WHEN-to-retrain signal that closes
    * the maintenance loop ([[appendIndex]] appends without
    * retraining; [[compactIndex]] defragments; this reports when the
    * quantizer itself has gone stale): per cell, the mean squared L2
    * distance to the assigned centroid for each generation in `genCol`
    * (`base` = the training generation, `delta` = appended batches),
    * and their ratio. Drift ≫ 1 means appended vectors land far from
    * the centroids the index was trained on — probe recall decays and a
    * retrain ([[centroids]]) + rewrite is due.
    *
    * One scan of the tagged corpus: assignment is the pure-projection
    * kernel, the centroid join broadcasts O(clusters) rows, and the
    * per-cell aggregation is map-side combinable. Means use the
    * decimal-backed [[graft.functions.Stable]] path, so the report is
    * bit-reproducible (and SQL-expressible — q117's oracle replays
    * training and the distance algebra verbatim).
    *
    * @return (cell, n_base, n_delta, base_d2, delta_d2, drift) — drift
    *         is null for cells missing either generation
    */
  def driftReport(vecs: DataFrame, genCol: String, vecCol: String,
      cents: DataFrame): DataFrame = {
    // (consumed by retrainIfDrifted below — report, decide, rebuild)
    val cs = CentroidState.collect(cents)
    val v = col(vecCol)
    val assigned = vecs.select(col(genCol),
      CentroidState.nearestCell(v, cs).as("cell"), v)
    val d2 = col("cnorm2") - lit(2.0) * Vectors.dot(v, col("cvec")) +
      Vectors.dot(v, v)
    def genD2(gen: String) =
      when(col(genCol) === gen, d2)
    assigned.join(broadcast(cents), "cell")
      .groupBy(col("cell"))
      .agg(
        count(when(col(genCol) === "base", 1)).as("n_base"),
        count(when(col(genCol) === "delta", 1)).as("n_delta"),
        graft.functions.Stable.avg4(genD2("base")).as("base_d2"),
        graft.functions.Stable.avg4(genD2("delta")).as("delta_d2"))
      .withColumn("drift",
        // explicit zero guard: Spark's x/0.0 is null while DuckDB's is
        // inf (q26's rationale) — make the degenerate cell portable
        when(col("base_d2") > 0,
          round(col("delta_d2") / col("base_d2") + lit(1e-9), 4)))
  }

  /** Corpus-wide drift ratio recombined driver-side from a
    * [[driftReport]] frame (≤ clusters rows): the count-weighted mean
    * delta-generation squared distance over the count-weighted mean
    * base-generation one. None when either generation is missing
    * entirely (cells missing a generation contribute nothing — the
    * per-cell null semantics). Shared by the IVF and IVF+PQ retrain
    * gates ([[retrainIfDrifted]], [[IvfPq.retrainIfDrifted]]).
    */
  def globalDriftRatio(report: DataFrame): Option[Double] = {
    val rep = report
      .select(col("n_base"), col("n_delta"), col("base_d2"),
        col("delta_d2"))
      .collect()
    var (nBase, nDelta) = (0L, 0L)
    var (sumBase, sumDelta) = (0.0, 0.0)
    rep.foreach { r =>
      val (nb, nd) = (r.getLong(0), r.getLong(1))
      if (nb > 0 && !r.isNullAt(2)) { nBase += nb; sumBase += r.getDouble(2) * nb }
      if (nd > 0 && !r.isNullAt(3)) { nDelta += nd; sumDelta += r.getDouble(3) * nd }
    }
    if (nBase > 0 && nDelta > 0 && sumBase > 0)
      Some((sumDelta / nDelta) / (sumBase / nBase))
    else None
  }

  /** Drift-GATED retrain — the decision leg that closes the maintenance
    * loop ([[appendIndex]] absorbs, [[compactIndex]] defragments,
    * [[driftReport]] measures, THIS acts): compute the corpus-wide drift
    * ratio of `tagged` against the index's STORED centroids, and when it
    * exceeds `tau`, retrain the quantizer on the full LIVE tagged corpus
    * and replace cells AND centroids in one commit, as
    * [[IvfPq.retrainIfDrifted]] does — readers see the old index or the
    * new one, never new cells under old centroids. Below `tau` nothing
    * is touched.
    *
    * The rebuild sources vectors from the CALLER's corpus, which may
    * still hold logically deleted ids — pending tombstones apply
    * physically before training and re-assignment
    * ([[deleteFromIndex]] markers must neither shape the retrained
    * centroids nor be resurrected into the new layout), and markers
    * committed while the retrain runs survive it
    * ([[graft.sources.Tables.commit]]).
    *
    * Retraining costs what [[centroids]] + [[writeIndex]] cost — `iters`
    * corpus scans and one partitioned rewrite — which is exactly why it
    * hides behind the ratio gate instead of running on every append.
    *
    * @return whether a retrain ran
    */
  def retrainIfDrifted(spark: SparkSession, dir: String, tagged: DataFrame,
      genCol: String, idCol: String, vecCol: String, clusters: Int,
      iters: Int, tau: Double): Boolean =
    retrainIfDrifted(spark, dir, tagged, genCol, idCol, vecCol, clusters,
      iters, tau, () => ())

  /** Test seam: `midRetrain` runs after the rebuilt index is staged and
    * before the commit — the window a concurrent delete can land in.
    */
  private[graft] def retrainIfDrifted(spark: SparkSession, dir: String,
      tagged: DataFrame, genCol: String, idCol: String, vecCol: String,
      clusters: Int, iters: Int, tau: Double,
      midRetrain: () => Unit): Boolean = {
    val s = Tables.root(spark, dir)
    val ratio = globalDriftRatio(
      driftReport(tagged, genCol, vecCol, s.table(Centroids).df))
    if (!ratio.exists(_ > tau)) false
    else {
      val full = Tombstones.filterLive(s.table(Cells),
        tagged.select(col(idCol), col(vecCol)), idCol)
      val retrained = centroids(full, idCol, vecCol, clusters, iters)
      Tables.commit(s, "retrain") { tx =>
        put(tx, full, idCol, vecCol, retrained)
        midRetrain()
      }
      true
    }
  }
}
