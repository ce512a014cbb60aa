package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.Tables

/** Immutable base index layouts shared across gate queries (round-11
  * verdict item: q160–q164/q182–q184/q188 rebuilt identical base
  * indexes from the identical corpus several times per sweep; round-12
  * optimization extends the same discipline to the IVF, IVF+PQ, LSH
  * and binary-quantizer families). Each entry is built ONCE per
  * (build-inputs) key per JVM by [[graft.Scratch.sharedBase]] and never
  * mutated: read-only gates probe it in place, lifecycle gates that
  * append/grow/delete/version start from a [[graft.Scratch.cloneBase]]
  * copy — copy-on-write over an immutable published generation, which
  * is exactly the production shape (one build, many consumers; guide
  * §1.2 "don't compute things you throw away"). Builds are
  * deterministic (decimal-grid means, stable sums), so a shared build
  * is bit-equal to the per-gate build it replaces and every oracle
  * hash is unchanged. Every build parameter is part of the key, so two
  * gates share an entry exactly when their builds were already
  * identical — a gate changing its parameters silently stops sharing
  * instead of silently probing the wrong artifact. Gates whose base
  * corpus is a query-specific SLICE nobody else consumes (q160's %7
  * split, q162's %3 split) still get a shared entry: the artifact is
  * immutable and identical across runs, so rebuilding it per run is
  * duplicate work by the same argument — the FIRST run of the owning
  * gate in any JVM pays the build.
  */
object SharedIndexes {

  /** Full-corpus BM25 text index per (sf dir, positional flag). */
  def textFull(spark: SparkSession, dir: String,
      withPositions: Boolean = false): String =
    graft.Scratch.sharedBase(s"textfull:$dir:pos=$withPositions") { d =>
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      graft.operators.TextIndex.write(docs, "doc_id", "text", s"$d/idx",
        withPositions = withPositions)
    } + "/idx"

  /** BM25 text index over a `doc_id % mod =!= 0` base slice — the
    * maintenance gates' starting generation (q160 %7, q162 %3). Always
    * cloned by consumers: every consumer appends.
    */
  def textModBase(spark: SparkSession, dir: String, mod: Int): String =
    graft.Scratch.sharedBase(s"textmod:$dir:mod=$mod") { d =>
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      graft.operators.TextIndex.write(
        docs.filter(col("doc_id") % mod =!= 0), "doc_id", "text", s"$d/idx")
    } + "/idx"

  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))

  /** The IVF families' shared corpus splits: `base` = the training
    * generation (`vec_id % 5 =!= 0`), `full` = everything.
    */
  private def embSlice(spark: SparkSession, dir: String,
      slice: String): DataFrame = slice match {
    case "base" => embeddings(spark, dir).filter(col("vec_id") % 5 =!= 0)
    case "full" => embeddings(spark, dir)
    case other => sys.error(s"unknown embedding slice '$other'")
  }

  /** Plain-IVF index root (centroids + cell layout in one log,
    * [[graft.operators.IvfAnn.writeIndex]]) over an embeddings slice.
    * Consumers: q104/q129 (`full`), q107/q119/q121/q124 v0 (`base`),
    * q124 v1 (`full`).
    */
  def ivfIndex(spark: SparkSession, dir: String, slice: String,
      clusters: Int, iters: Int): String =
    graft.Scratch.sharedBase(s"ivf:$dir:$slice:c=$clusters:i=$iters") { d =>
      val emb = graft.CacheScope.cache(embSlice(spark, dir, slice))
      val cents = graft.operators.IvfAnn
        .centroids(emb, "vec_id", "embedding", clusters, iters)
      graft.operators.IvfAnn
        .writeIndex(emb, "vec_id", "embedding", cents, s"$d/idx")
    } + "/idx"

  /** Residual IVFADC index ([[graft.operators.IvfPq.writeIndex]])
    * over an embeddings slice. Consumers: q144/q146/q147/q148 v0/q150
    * (`base`), q148 v1 (`full`).
    */
  def ivfPqResidual(spark: SparkSession, dir: String, slice: String,
      clusters: Int, m: Int, dim: Int, codes: Int, coarseIters: Int,
      pqIters: Int): String =
    graft.Scratch.sharedBase(
      s"ivfpqres:$dir:$slice:c=$clusters:m=$m:d=$dim:k=$codes" +
        s":ci=$coarseIters:pi=$pqIters") { d =>
      graft.operators.IvfPq.writeIndex(embSlice(spark, dir, slice),
        "vec_id", "embedding", s"$d/idx", clusters, m, dim, codes,
        coarseIters, pqIters, residual = true)
    } + "/idx"

  /** Non-residual IVF+PQ index ([[graft.operators.IvfPq.writeIndex]])
    * over an embeddings slice (q138's lifecycle base; cloned — the
    * gate appends).
    */
  def ivfPqIndex(spark: SparkSession, dir: String, slice: String,
      clusters: Int, m: Int, dim: Int, codes: Int, coarseIters: Int,
      pqIters: Int): String =
    graft.Scratch.sharedBase(
      s"ivfpq:$dir:$slice:c=$clusters:m=$m:d=$dim:k=$codes" +
        s":ci=$coarseIters:pi=$pqIters") { d =>
      graft.operators.IvfPq.writeIndex(embSlice(spark, dir, slice),
        "vec_id", "embedding", s"$d/idx", clusters, m, dim, codes,
        coarseIters, pqIters)
    } + "/idx"

  /** Scalar-quantizer (SQ8) index over an embeddings slice (q153's
    * lifecycle base; cloned — the gate appends and deletes).
    */
  def sqIndex(spark: SparkSession, dir: String, slice: String): String =
    graft.Scratch.sharedBase(s"sq:$dir:$slice") { d =>
      graft.operators.ScalarQuantizer.writeIndex(
        embSlice(spark, dir, slice), "vec_id", "embedding", s"$d/idx")
    } + "/idx"

  /** [[ivfPqResidual]]'s `base` generation with the `%5 === 0` delta
    * already absorbed through
    * [[graft.operators.IvfPq.appendIndex]] — the post-append
    * serving state q144 and q146 probe read-only.
    */
  def ivfPqResidualBaseDelta(spark: SparkSession, dir: String,
      clusters: Int, m: Int, dim: Int, codes: Int, coarseIters: Int,
      pqIters: Int): String =
    graft.Scratch.sharedBase(
      s"ivfpqresbd:$dir:c=$clusters:m=$m:d=$dim:k=$codes" +
        s":ci=$coarseIters:pi=$pqIters") { d =>
      graft.Scratch.copyDir(ivfPqResidual(spark, dir, "base", clusters, m,
        dim, codes, coarseIters, pqIters), s"$d/idx")
      graft.operators.IvfPq.appendIndex(
        embeddings(spark, dir).filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", s"$d/idx")
    } + "/idx"

  /** The LSH dedup gates' shared document frame recipe: 3-shingle
    * MinHash hash sets plus the portable admission bucket. NOT a shared
    * artifact (it is each gate's probe/verify input, cached per query
    * via CacheScope) — pinned here so the index entries below and
    * their consumers provably tokenize identically.
    */
  def lshDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        graft.operators.MinHashLSH.shingleHashes(
          graft.functions.Text.tokens(col("text")), 3).as("sh"),
        ((col("doc_id") % 1000003L) * 2654435761L % 100).as("bucket"))

  /** LSH band-bucket index over the `bucket < 80` corpus slice — the
    * admission gates' starting generation (q125, q131, q137 v0, q140,
    * q141, q143, q149). Always cloned by consumers that append.
    */
  def lshBase80(spark: SparkSession, dir: String): String =
    graft.Scratch.sharedBase(s"lshbase80:$dir") { d =>
      graft.operators.LshIndex.write(
        lshDocs(spark, dir).filter(col("bucket") < 80),
        "doc_id", "sh", s"$d/idx")
    } + "/idx"

  /** LSH band-bucket index over the FULL corpus (q133, q145). */
  def lshFull(spark: SparkSession, dir: String): String =
    graft.Scratch.sharedBase(s"lshfull:$dir") { d =>
      graft.operators.LshIndex.write(lshDocs(spark, dir),
        "doc_id", "sh", s"$d/idx")
    } + "/idx"

  /** Decoded luma-grid feature vectors of the P6 image assets
    * (asset_id → 2×2 luma grid as array<float>) — the q139/q188 media
    * corpus recipe, pinned here so both gates provably decode
    * identically.
    */
  def mediaLumaFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.ppmAssets(
        Tables.load(spark, dir, "documents"))
      .select(col("asset_id").as("vec_id"),
        graft.multimodal.Multimodal.ppmLumaGrid(col("payload"), 2, 2)
          .cast("array<float>").as("embedding"))

  /** Plain-IVF index over the decoded media features — the media ANN
    * serving artifact q139 and q188's vector leg both probe read-only
    * (decode + train once, probe per gate; content equals the
    * in-memory [[graft.operators.IvfAnn.search]] chain by the q104
    * partitioned-equivalence contract).
    */
  def mediaIvf(spark: SparkSession, dir: String, clusters: Int,
      iters: Int): String =
    graft.Scratch.sharedBase(s"mediaivf:$dir:c=$clusters:i=$iters") { d =>
      val feats = graft.CacheScope.cache(mediaLumaFeatures(spark, dir))
      val cents = graft.operators.IvfAnn
        .centroids(feats, "vec_id", "embedding", clusters, iters)
      graft.operators.IvfAnn
        .writeIndex(feats, "vec_id", "embedding", cents, s"$d/idx")
    } + "/idx"

  /** 1-bit binary-quantizer index over an embeddings slice (q182's
    * vector leg `full`, q157's lifecycle base `base`; always cloned —
    * both consumers mutate).
    */
  def bqIndex(spark: SparkSession, dir: String, slice: String): String =
    graft.Scratch.sharedBase(s"bq:$dir:$slice") { d =>
      graft.operators.BinaryQuantizer.writeIndex(
        embSlice(spark, dir, slice), "vec_id", "embedding", s"$d/idx")
    } + "/idx"
}
