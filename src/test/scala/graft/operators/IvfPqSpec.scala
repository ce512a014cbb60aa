package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class IvfPqSpec extends SparkTestBase {

  private val M = 8
  private val Dim = 64

  private def corpus = graft.sources.Tables.load(spark, sfDir, "embeddings")
  private def queries = corpus.filter(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  // the shared deterministic clustered fixture (16 well-separated
  // centroids + small hash noise, no rand())
  private def synth(n: Int) = {
    val centroid = (id: org.apache.spark.sql.Column,
        d: org.apache.spark.sql.Column) =>
      pmod(id % 16 * lit(131) + d * lit(31), lit(97)) / lit(48.5) - lit(1.0)
    val noise = (id: org.apache.spark.sql.Column,
        d: org.apache.spark.sql.Column) =>
      (pmod(id * lit(7919) + d * lit(104729), lit(101)) - lit(50.0)) / lit(1000.0)
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(Dim)),
        d => (centroid(col("id"), d) + noise(col("id"), d)).cast("float"))
        .as("embedding"))
  }

  test("every query returns k rows, all from its probed coarse cells") {
    val k = 3
    val nProbe = 4
    val out = IvfPq.search(corpus, "vec_id", "embedding",
        queries, "qid", "qv", k = k, clusters = 16, nProbe = nProbe,
        m = M, dim = Dim, codes = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length === 10 * k)
    // pruning contract: each neighbour's coarse cell is in its query's
    // probe set — recompute both assignments through the public API
    val cents = IvfAnn.centroids(corpus, "vec_id", "embedding",
      clusters = 16, iters = 1)
    val cellOf = IvfAnn.assign(corpus, cents, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val probesOf = IvfAnn.probes(queries, cents, "qid", "qv", nProbe)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    out.foreach { case (qid, nb) =>
      assert(probesOf(qid).contains(cellOf(nb)),
        s"neighbor $nb of query $qid came from an unprobed cell")
    }
  }

  test("on clustered data the composed search keeps same-cluster recall") {
    val k = 5
    val s = synth(480)
    val q = s.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val out = IvfPq.search(s, "vec_id", "embedding", q, "qid", "qv",
        k = k, clusters = 16, nProbe = 2, m = M, dim = Dim, codes = 16,
        coarseIters = 2, pqIters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length === 8 * k)
    val sameCluster = out.count { case (qid, nb) => qid % 16 == nb % 16 }
    assert(sameCluster.toDouble / out.length >= 0.9,
      s"same-cluster fraction ${sameCluster.toDouble / out.length}")
  }

  test("appendIndex equals one-shot encoding under the same stored quantizers") {
    val base = corpus.filter(col("vec_id") % 5 =!= 0)
    val delta = corpus.filter(col("vec_id") % 5 === 0)
    // incremental: train on base, append delta through the stored state
    val idxInc = graft.Scratch.fresh("ivfpq_inc") + "/idx"
    IvfPq.writeIndex(base, "vec_id", "embedding", idxInc,
      clusters = 16, m = M, dim = Dim, codes = 16)
    IvfPq.appendIndex(delta, "vec_id", "embedding", idxInc)
    // one-shot reference: same base-trained quantizers (training is
    // deterministic, so re-deriving them is the same state), whole
    // corpus encoded in one batch
    val cents = IvfAnn.centroids(base, "vec_id", "embedding",
      clusters = 16, iters = 1)
    val cs = CentroidState.collect(cents)
    val cb = ProductQuantizer.train(base, "vec_id", "embedding",
      m = M, dim = Dim, k = 16, iters = 1)
    val oneShot = ProductQuantizer
      .encode(corpus, "vec_id", "embedding", cb, M, Dim)
      .join(IvfAnn.assign(corpus, cents, "vec_id", "embedding"), "vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toList, r.getInt(2))).toSet
    val incremental = spark.read.parquet(s"$idxInc/cells")
      .select(col("vec_id"), col("codes"), col("cell"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toList, r.getInt(2))).toSet
    assert(cs.nonEmpty && incremental === oneShot)
  }

  test("deleteFromIndex masks at search time; readmit clears the marker") {
    import spark.implicits._
    val idx = graft.Scratch.fresh("ivfpq_del") + "/idx"
    IvfPq.writeIndex(corpus, "vec_id", "embedding", idx,
      clusters = 16, m = M, dim = Dim, codes = 16)
    def neighbors() = IvfPq.searchIndex(spark, idx, "vec_id",
        queries, "qid", "qv", k = 3, nProbe = 16)
      .collect().map(_.getLong(1)).toSet
    val victim = neighbors().head
    IvfPq.deleteFromIndex(spark, idx, Seq(victim).toDF("vec_id"), "vec_id")
    assert(!neighbors().contains(victim),
      s"deleted vector $victim still served")
    // re-ingesting the victim clears its tombstone and serves again
    IvfPq.appendIndex(corpus.filter(col("vec_id") === victim),
      "vec_id", "embedding", idx)
    assert(IvfPq.tombstones(spark, idx).isEmpty)
    assert(neighbors().contains(victim),
      s"re-admitted vector $victim not served")
  }

  test("compactCells over the codes layout applies deletes physically " +
      "and preserves search") {
    import spark.implicits._
    val idx = graft.Scratch.fresh("ivfpq_compact") + "/idx"
    IvfPq.writeIndex(corpus, "vec_id", "embedding", idx,
      clusters = 16, m = M, dim = Dim, codes = 16)
    def neighbors() = IvfPq.searchIndex(spark, idx, "vec_id",
        queries, "qid", "qv", k = 3, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val victim = neighbors().head._2
    IvfPq.deleteFromIndex(spark, idx, Seq(victim).toDF("vec_id"), "vec_id")
    val masked = neighbors()
    // the shared cell-layout compactor works on the codes layout too:
    // tombstones apply physically, markers clear, results unchanged
    IvfAnn.compactIndex(spark, idx, "vec_id")
    assert(IvfPq.tombstones(spark, idx).isEmpty)
    assert(spark.read.parquet(s"$idx/cells")
      .filter(col("vec_id") === victim).count() === 0L)
    assert(neighbors() === masked)
  }

  test("residual (IVFADC) search keeps same-cluster recall on clustered data") {
    val k = 5
    val s = synth(480)
    val q = s.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val out = IvfPq.search(s, "vec_id", "embedding", q, "qid", "qv",
        k = k, clusters = 16, nProbe = 2, m = M, dim = Dim, codes = 16,
        coarseIters = 2, pqIters = 1, residual = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length === 8 * k)
    val sameCluster = out.count { case (qid, nb) => qid % 16 == nb % 16 }
    assert(sameCluster.toDouble / out.length >= 0.9,
      s"same-cluster fraction ${sameCluster.toDouble / out.length}")
  }

  test("residual codes differ from global codes (entropy goes to displacement)") {
    // sanity that the residual path is not silently the global path:
    // on clustered data the two encodings disagree for most vectors
    val s = synth(240)
    val q = s.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def dists(f: => org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val global = dists(IvfPq.search(s, "vec_id", "embedding", q, "qid", "qv",
      k = 3, clusters = 16, nProbe = 2, m = M, dim = Dim, codes = 16,
      coarseIters = 2, pqIters = 1))
    val residual = dists(IvfPq.search(s, "vec_id", "embedding",
      q, "qid", "qv", k = 3, clusters = 16, nProbe = 2, m = M, dim = Dim,
      codes = 16, coarseIters = 2, pqIters = 1, residual = true))
    assert(global.nonEmpty && residual.nonEmpty)
    assert(global !== residual, "residual encoding produced identical " +
      "ADC distances to global-codebook encoding")
  }

  // rounded (qid, neighbor, approx_dist) rows of a search
  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      math.rint(r.getDouble(2) * 1e6) / 1e6)).toSet

  private def inMemory(residual: Boolean) =
    rows(IvfPq.search(corpus, "vec_id", "embedding", queries, "qid", "qv",
      k = 3, clusters = 16, nProbe = 4, m = M, dim = Dim, codes = 16,
      residual = residual))

  private def persisted(idx: String) =
    rows(IvfPq.searchIndex(spark, idx, "vec_id", queries, "qid", "qv",
      k = 3, nProbe = 4))

  test("persisted index reproduces in-memory search under either encoding") {
    // training is deterministic, so the persisted path must equal the
    // in-memory one bit-for-bit (same quantizers, same codes), and
    // searchIndex must score each layout under the encoding it stores
    for (residual <- Seq(true, false)) {
      val idx = graft.Scratch.fresh(s"ivfpq_idx_$residual") + "/idx"
      IvfPq.writeIndex(corpus, "vec_id", "embedding", idx,
        clusters = 16, m = M, dim = Dim, codes = 16, residual = residual)
      assert(persisted(idx) === inMemory(residual), s"residual=$residual")
    }
  }

  test("refined search over the residual index re-scores with TRUE L2") {
    val idx = graft.Scratch.fresh("ivfpq_refined") + "/idx"
    IvfPq.writeIndex(corpus, "vec_id", "embedding", idx,
      clusters = 16, m = M, dim = Dim, codes = 16, residual = true)
    val out = IvfPq.searchIndexRefined(spark, idx, "vec_id",
        "embedding", corpus, queries, "qid", "qv",
        k = 3, nProbe = 4, refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length === 10 * 3)
    // final distances are the exact squared L2, not ADC approximations
    val vecs = corpus.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    out.foreach { case (qid, nb, d2) =>
      val (q, v) = (vecs(qid), vecs(nb))
      val exact = q.indices.map(i =>
        (q(i) - v(i)).toDouble * (q(i) - v(i))).sum
      assert(math.abs(d2 - exact) < 1e-6,
        s"($qid,$nb): reported $d2, exact $exact")
    }
  }

  test("overwriting a residual dir with writeIndex clears the stale flag") {
    val idx = graft.Scratch.fresh("ivfpq_flagswap") + "/idx"
    IvfPq.writeIndex(corpus, "vec_id", "embedding", idx,
      clusters = 16, m = M, dim = Dim, codes = 16, residual = true)
    // rebuild the SAME dir with global codebooks: a leftover
    // _residual_codes flag would make searchIndex score the global codes
    // with residual tables
    IvfPq.writeIndex(corpus, "vec_id", "embedding", idx,
      clusters = 16, m = M, dim = Dim, codes = 16)
    assert(persisted(idx) === inMemory(residual = false))
  }

  test("appendIndex into a residual index equals one-shot residual encoding") {
    val base = corpus.filter(col("vec_id") % 5 =!= 0)
    val delta = corpus.filter(col("vec_id") % 5 === 0)
    val idx = graft.Scratch.fresh("ivfpq_res_inc") + "/idx"
    IvfPq.writeIndex(base, "vec_id", "embedding", idx,
      clusters = 16, m = M, dim = Dim, codes = 16, residual = true)
    IvfPq.appendIndex(delta, "vec_id", "embedding", idx)
    // one-shot reference under the same base-trained quantizers: the
    // codebook trains on base residuals, and the whole corpus is
    // residual-encoded in one batch
    val cents = IvfAnn.centroids(base, "vec_id", "embedding",
      clusters = 16, iters = 1)
    def resid(d: org.apache.spark.sql.DataFrame) =
      IvfAnn.assign(d, cents, "vec_id", "embedding").join(d, "vec_id")
        .join(cents, "cell")
        .select(col("vec_id"), col("cell"),
          zip_with(col("embedding"), col("cvec"), (a, b) => a - b).as("rv"))
    val cb = ProductQuantizer.train(resid(base), "vec_id", "rv",
      m = M, dim = Dim, k = 16, iters = 1)
    val oneShot = ProductQuantizer.encode(resid(corpus), "vec_id", "rv",
        cb, M, Dim)
      .join(IvfAnn.assign(corpus, cents, "vec_id", "embedding"), "vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toList, r.getInt(2))).toSet
    val incremental = spark.read.parquet(s"$idx/cells")
      .select(col("vec_id"), col("codes"), col("cell"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toList, r.getInt(2))).toSet
    assert(incremental.size === corpus.count() && incremental === oneShot)
  }

  test("residual index: delete -> compactCells -> search keeps masking " +
      "and the encoding flag survives") {
    import spark.implicits._
    val idx = graft.Scratch.fresh("ivfpq_res_compact") + "/idx"
    IvfPq.writeIndex(corpus, "vec_id", "embedding", idx,
      clusters = 16, m = M, dim = Dim, codes = 16, residual = true)
    def neighbors() = IvfPq.searchIndex(spark, idx, "vec_id",
        queries, "qid", "qv", k = 3, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e6) / 1e6)).toSet
    val victim = neighbors().head._2
    IvfPq.deleteFromIndex(spark, idx, Seq(victim).toDF("vec_id"), "vec_id")
    val masked = neighbors()
    // the shared cell compactor operates on the codes schema; the
    // encoding is the `residual` property of the cells table it
    // rewrites, so the rewrite must keep it — a lost flag would score
    // the residual codes with global tables and change every distance
    // below
    IvfAnn.compactIndex(spark, idx, "vec_id")
    assert(IvfPq.tombstones(spark, idx).isEmpty)
    assert(spark.read.parquet(s"$idx/cells")
      .filter(col("vec_id") === victim).count() === 0L)
    assert(neighbors() === masked)
  }

  test("retrainIfDrifted: un-drifted delta leaves the index untouched; " +
      "a shifted delta rebuilds it under the same encoding") {
    val all = corpus.select(col("vec_id"), col("embedding"))
    val base = all.filter(col("vec_id") % 5 =!= 0)
    val sameDist = all.filter(col("vec_id") % 5 === 0)
    val idx = graft.Scratch.fresh("ivfpq_retrain") + "/idx"
    IvfPq.writeIndex(base, "vec_id", "embedding", idx,
      clusters = 16, m = M, dim = Dim, codes = 16, residual = true)
    IvfPq.appendIndex(sameDist, "vec_id", "embedding", idx)
    def tag(d: org.apache.spark.sql.DataFrame, g: String) =
      d.withColumn("gen", lit(g))
    // same-distribution delta: ratio ~ 1 — below tau nothing moves
    val before = spark.read.parquet(s"$idx/cells")
      .collect().map(_.toString).sorted.toSeq
    assert(!IvfPq.retrainIfDrifted(spark, idx,
      tag(base, "base").unionByName(tag(sameDist, "delta")),
      "gen", "vec_id", "embedding", clusters = 16, m = M, dim = Dim,
      codes = 16, tau = 3.0))
    assert(spark.read.parquet(s"$idx/cells")
      .collect().map(_.toString).sorted.toSeq === before,
      "no-retrain branch must not touch the layout")
    // +0.5-shifted delta: the gate fires, the dir rebuilds residual
    val shifted = sameDist.select(col("vec_id"),
      transform(col("embedding"),
        x => (x.cast("double") + lit(0.5)).cast("float")).as("embedding"))
    val idx2 = graft.Scratch.fresh("ivfpq_retrain2") + "/idx"
    IvfPq.writeIndex(base, "vec_id", "embedding", idx2,
      clusters = 16, m = M, dim = Dim, codes = 16, residual = true)
    IvfPq.appendIndex(shifted, "vec_id", "embedding", idx2)
    assert(IvfPq.retrainIfDrifted(spark, idx2,
      tag(base, "base").unionByName(tag(shifted, "delta")),
      "gen", "vec_id", "embedding", clusters = 16, m = M, dim = Dim,
      codes = 16, tau = 3.0))
    // the rebuilt artifact equals a from-scratch residual index over
    // the post-drift corpus (training is deterministic), and it kept
    // its residual encoding through the staged publish
    val fromScratch = graft.Scratch.fresh("ivfpq_retrain_ref") + "/idx"
    IvfPq.writeIndex(base.unionByName(shifted), "vec_id", "embedding",
      fromScratch, clusters = 16, m = M, dim = Dim, codes = 16,
      residual = true)
    assert(persisted(idx2) === persisted(fromScratch))
  }

  test("retrainIfDrifted applies pending deletes and carries mid-retrain " +
      "markers") {
    import spark.implicits._
    val all = corpus.select(col("vec_id"), col("embedding"))
    val base = all.filter(col("vec_id") % 5 =!= 0)
    val shifted = all.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") + lit(0.5)).cast("float")).as("embedding"))
    val idx = graft.Scratch.fresh("ivfpq_retrain_ts") + "/idx"
    IvfPq.writeIndex(base, "vec_id", "embedding", idx,
      clusters = 16, m = M, dim = Dim, codes = 16, residual = true)
    IvfPq.appendIndex(shifted, "vec_id", "embedding", idx)
    // vec 1 is forgotten BEFORE the retrain: the rebuild reads the
    // caller's corpus (which still contains it), so without filterLive
    // the publish would resurrect it and destroy its marker
    IvfPq.deleteFromIndex(spark, idx, Seq(1L).toDF("vec_id"), "vec_id")
    val tagged = base.withColumn("gen", lit("base"))
      .unionByName(shifted.withColumn("gen", lit("delta")))
    // vec 2 is forgotten DURING the retrain: its marker must be carried
    assert(IvfPq.retrainIfDrifted(spark, idx, tagged, "gen", "vec_id",
      "embedding", clusters = 16, m = M, dim = Dim, codes = 16,
      coarseIters = 1, pqIters = 1, tau = 3.0,
      () => IvfPq.deleteFromIndex(spark, idx,
        Seq(2L).toDF("vec_id"), "vec_id")))
    val ids = spark.read.parquet(s"$idx/cells").select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    assert(!ids.contains(1L),
      "pre-retrain delete must be applied physically, not resurrected")
    assert(IvfPq.tombstones(spark, idx).isDefined,
      "the mid-retrain marker must survive the publish swap")
    val served = IvfPq.searchIndex(spark, idx, "vec_id",
        queries, "qid", "qv", k = 5, nProbe = 16)
      .collect().map(_.getLong(1)).toSet
    assert(!served.contains(1L) && !served.contains(2L),
      "forgotten vectors must not serve after the retrain")
  }

  test("a crashed write's leftover staged dir cannot poison the next " +
      "writeIndex (flag travels with the staged publish)") {
    val idx = graft.Scratch.fresh("ivfpq_stagedcrash") + "/idx"
    // a residual writeIndex that died mid-build leaves its staging
    // directory (codes of the other encoding) under the log; the next
    // global build must neither serve those files nor inherit the
    // encoding — the flag travels only with a published entry
    val junk = new org.apache.hadoop.fs.Path(
      s"$idx/_log/_stage-crashed/1/cell=0/part-00000-junk.parquet")
    val fs = junk.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(junk.getParent); fs.create(junk, true).close()
    IvfPq.writeIndex(corpus, "vec_id", "embedding", idx,
      clusters = 16, m = M, dim = Dim, codes = 16)
    assert(persisted(idx) === inMemory(residual = false))
    assert(!graft.sources.Tables.read(spark, s"$idx/cells").inputFiles
      .exists(_.contains("_stage-")), "the publish must ignore the stage")
  }

  test("recallSweepResidual: recall is monotone in nProbe, bounded by truth") {
    val s = synth(480)
    val rows = IvfPq.recallSweepResidual(s, "vec_id", "embedding",
        nQueries = 8, k = 3, clusters = 16, nProbes = Seq(1, 4, 16),
        m = M, dim = Dim, codes = 16, coarseIters = 2)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq === Seq(1, 4, 16))
    assert(rows.forall(_._2 === 24L)) // 8 queries x k=3 ground truth
    assert(rows.forall(r => r._3 <= r._2))
    // widening the probe budget can only add candidates — recall is
    // non-decreasing, and probing EVERY cell leaves only quantization
    // error, which on well-separated clusters keeps most of the top-k
    assert(rows.map(_._4).sliding(2).forall(p => p(0) <= p(1)))
    assert(rows.last._4 >= 0.5, s"full-probe recall ${rows.last._4}")
  }

  test("composed search is deterministic across runs") {
    def run() = IvfPq.search(corpus, "vec_id", "embedding",
        queries, "qid", "qv", k = 3, clusters = 16, nProbe = 4,
        m = M, dim = Dim, codes = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(run() === run())
  }
}
