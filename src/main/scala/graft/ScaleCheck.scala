package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{IvfAnn, IvfPq, LshIndex, MinHashLSH}

/** Empirical scale audit of the three persisted-index families (dev
  * tool, round-10 verdict item 7): synthesize an N× corpus from the
  * sf tables (deterministic copies — shingle hashes remixed per copy so
  * replicas are UNRELATED documents, embeddings shifted by a per-copy
  * epsilon so they are distinct vectors), then measure, via the
  * [[Metrics]] stage listener, the shuffle bytes of each family's
  * steady-state PROBE leg with the probe/delta size held FIXED:
  *
  *  - LSH admission (q125 shape): candidates + Jaccard verify for a
  *    fixed ~500-doc delta against a 1× vs N× persisted band index;
  *  - IVF search (q104 shape): a fixed 10-query batch against a 1× vs
  *    N× cell-partitioned layout;
  *  - IVF+PQ residual search (q144 shape): the same batch against a
  *    1× vs N× persisted residual-codes index;
  *  - SimHash Hamming-ball admission (q156 shape): the fixed delta
  *    against a 1× vs N× band-row index, verify inline;
  *  - SQ8 index search (q153 shape) and binary prefilter + exact
  *    re-rank (q155 shape, plus the PERSISTED-index q157 shape):
  *    the fixed batch against the compressed brute tiers, whose scans
  *    grow with the corpus BY DESIGN while their shuffles stay at the
  *    top-k-partials floor;
  *  - BM25 inverted-index probe (q160 shape) over vocabulary-disjoint
  *    copies: probed posting lists are constant by construction, so
  *    input-byte growth isolates probed-bucket file dilution at a
  *    fixed modulus — and a growBucketsIfHot re-probe shows the
  *    skew-gated doubling pulling probe I/O back toward the 1× level.
  *
  * The SCALING.md claim under test: probe-leg SHUFFLE bytes track the
  * delta/probe size (and collision density), not the corpus size —
  * corpus growth may only show up as (partition-pruned) input bytes.
  * Usage: runMain graft.ScaleCheck [sfDir] [scales: 1,10]
  */
object ScaleCheck {

  /** N unrelated copies of the shingled documents: copy 0 is the
    * original; copy k>0 remixes every shingle hash (odd-multiplier LCG
    * step keyed by k), so cross-copy Jaccard is ~0 and collision
    * density stays realistic instead of exploding quadratically the
    * way verbatim replicas would.
    */
  private def scaledDocs(spark: SparkSession, sfDir: String,
      n: Int): DataFrame = {
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        MinHashLSH.shingleHashes(Text.tokens(col("text")), 3).as("sh"))
    (0 until n).map { k =>
      if (k == 0) base
      else base.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        transform(col("sh"),
          h => h * lit(2654435761L) + lit(k.toLong * 1000003L)).as("sh"))
    }.reduce(_ unionByName _)
  }

  /** N vocabulary-DISJOINT copies of the raw documents: copy k suffixes
    * every token with `_k`, so a probe built from copy-0 text can match
    * only copy-0 postings. That isolates the TextIndex claim under
    * test — probe cost tracks the QUERY VOCABULARY's posting lists, not
    * the corpus — from ordinary df growth (verbatim replicas would
    * legitimately grow every posting list N×, which is score-changing
    * corpus content, not index overhead).
    */
  private def scaledDocsText(spark: SparkSession, sfDir: String,
      n: Int): DataFrame = {
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    (0 until n).map { k =>
      if (k == 0) base
      else base.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        concat_ws(" ", transform(Text.tokens(col("text")),
          t => concat(t, lit(s"_$k")))).as("text"))
    }.reduce(_ unionByName _)
  }

  /** N distinct copies of the embeddings: copy k shifts every component
    * by k·1e-3 (float-exact), so replicas are near — realistic — but
    * not identical vectors.
    */
  private def scaledVecs(spark: SparkSession, sfDir: String,
      n: Int): DataFrame = {
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    (0 until n).map { k =>
      if (k == 0) base
      else base.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") + lit(k * 1e-3)).cast("float"))
          .as("embedding"))
    }.reduce(_ unionByName _)
  }

  private def jline(family: String, scale: Int, corpusRows: Long,
      m: PlanMetrics, extra: String = ""): Unit =
    println(s"""{"scalecheck":"$family","scale":$scale""" +
      s""","corpus_rows":$corpusRows""" +
      f""","wall_sec":${m.wallSec}%.2f,"input_mb":${m.inputBytes / 1e6}%.2f""" +
      f""","shuffle_write_mb":${m.shuffleWriteBytes / 1e6}%.3f""" +
      f""","shuffle_read_mb":${m.shuffleReadBytes / 1e6}%.3f""" +
      f""","spill_mb":${m.spilledBytes / 1e6}%.1f$extra}""")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scales = args.lift(1).getOrElse("1,10")
      .split(",").map(_.trim.toInt).toSeq
    val spark = Sessions.local("graft-scalecheck")

    scales.foreach { n =>
      // ---- LSH admission: fixed delta (copy-0 docs with id%10==7) ----
      // filter-based split (the q125 shape): an exceptAll here would
      // shuffle the whole corpus inside the measured lineage
      val docs = CacheScope.cache(scaledDocs(spark, sfDir, n))
      val isDelta = col("doc_id") < 10000000L && col("doc_id") % 10 === 7
      val delta = docs.filter(isDelta)
      val corpus = docs.filter(!isDelta)
      val lshPath = Scratch.fresh(s"scalecheck_lsh_$n") + "/idx"
      LshIndex.write(corpus, "doc_id", "sh", lshPath)
      val corpusRows = corpus.count()
      def admission(cand: DataFrame): Unit = {
        // Jaccard-verify against only the collided corpus docs — the
        // q125 leg, including its broadcast of the bounded collided-id
        // set (the un-hinted semi-join was THE corpus-growing shuffle
        // this tool originally caught)
        val idxSh = corpus.join(
            broadcast(cand.select(col("indexId").as("doc_id")).distinct()),
            Seq("doc_id"), "left_semi")
          .select(col("doc_id").as("cid"), col("sh").as("__shc"))
        cand.join(delta.select(col("doc_id").as("deltaId"),
            col("sh").as("__shd")), "deltaId")
          .join(idxSh, col("indexId") === col("cid"))
          .select(MinHashLSH.jaccard(col("__shd"), col("__shc")).as("j"))
          .filter(col("j") >= 0.6).count()
        ()
      }
      // the claim is "shuffle tracks COLLISIONS, not corpus" — so report
      // the collision counts the shuffle should track (computed outside
      // the measured block; the measured run re-executes the probe)
      val candFrame = LshIndex.candidates(spark, lshPath, delta,
        "doc_id", "sh")
      val candPairs = candFrame.count()
      val collidedDocs = candFrame.select(col("indexId")).distinct().count()
      val collisions =
        s""","cand_pairs":$candPairs,"collided_docs":$collidedDocs"""
      // ingest-tier (plain-path) probe
      val mLsh = Metrics.measure(spark) {
        admission(LshIndex.candidates(spark, lshPath, delta, "doc_id", "sh"))
      }
      jline("lsh_admission_plain", n, corpusRows, mLsh, collisions)
      // bucketed steady-state probe (q140 shape): after a rollover the
      // index side scans pre-clustered — only the delta (and the verify
      // legs) shuffle
      LshIndex.compactBucketedAndTruncate(spark, lshPath, "doc_id")
      val mLshB = Metrics.measure(spark) {
        admission(LshIndex.candidates(spark, lshPath, delta, "doc_id", "sh"))
      }
      jline("lsh_admission_bucketed", n, corpusRows, mLshB, collisions)

      // ---- SimHash Hamming-ball admission (q156 shape) ----
      // band rows are 3 per doc regardless of document size; the probe
      // is an exact-match band join, so shuffle must track the fixed
      // delta + its collisions, never the index
      val shPath = Scratch.fresh(s"scalecheck_simhash_$n") + "/idx"
      graft.operators.SimHashIndex.write(corpus, "doc_id", "sh", shPath)
      val mSh = Metrics.measure(spark) {
        graft.operators.SimHashIndex.candidates(spark, shPath, delta,
          "doc_id", "sh").count()
        ()
      }
      jline("simhash_admission", n, corpusRows, mSh)
      CacheScope.releaseAll()

      // ---- IVF search: fixed 10-query batch ----
      val vecs = CacheScope.cache(scaledVecs(spark, sfDir, n))
      val vecRows = vecs.count()
      val cents = IvfAnn.centroids(vecs, "vec_id", "embedding",
        clusters = 16, iters = 1)
      val ivfPath = Scratch.fresh(s"scalecheck_ivf_$n") + "/idx"
      IvfAnn.writeIndex(vecs, "vec_id", "embedding", cents, ivfPath)
      val queries = vecs.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val mIvf = Metrics.measure(spark) {
        IvfAnn.searchIndex(spark, ivfPath, "vec_id",
          "embedding", queries, "qid", "qv", k = 3, nProbe = 4).count()
        ()
      }
      jline("ivf_search", n, vecRows, mIvf)

      // ---- IVF+PQ residual index search: same fixed batch ----
      val pqDir = Scratch.fresh(s"scalecheck_ivfpq_$n") + "/idx"
      IvfPq.writeIndex(vecs, "vec_id", "embedding", pqDir,
        clusters = 16, m = 8, dim = 64, codes = 16, residual = true)
      val mPq = Metrics.measure(spark) {
        IvfPq.searchIndex(spark, pqDir, "vec_id",
          queries, "qid", "qv", k = 3, nProbe = 4).count()
        ()
      }
      jline("ivfpq_residual_search", n, vecRows, mPq)

      // ---- SQ8 persisted-index search: same fixed batch ----
      // brute tier by design: input bytes grow with the corpus (that's
      // the full codes scan, 4× less than floats) but the SHUFFLE must
      // stay bounded by partitions·k·|queries| top-k partials
      val sqDir = Scratch.fresh(s"scalecheck_sq_$n") + "/idx"
      graft.operators.ScalarQuantizer.writeIndex(vecs, "vec_id",
        "embedding", sqDir)
      val mSq = Metrics.measure(spark) {
        graft.operators.ScalarQuantizer.searchIndex(spark, sqDir, "vec_id",
          queries, "qid", "qv", k = 3).count()
        ()
      }
      jline("sq_index_search", n, vecRows, mSq)

      // ---- binary Hamming prefilter + exact re-rank (q155 shape) ----
      // the packed scan is 64× smaller than floats; only the bounded
      // shortlist (k·refine per query) touches the float corpus
      val mBq = Metrics.measure(spark) {
        graft.operators.BinaryQuantizer.searchRefined(vecs, "vec_id",
          "embedding", queries, "qid", "qv", k = 3, refine = 4).count()
        ()
      }
      jline("bq_refined_search", n, vecRows, mBq)

      // ---- binary PERSISTED-index search (q157 shape) ----
      // thresholds/codes pre-built: serving must scan CODES ONLY (no
      // train scan of the float corpus inside the probe) and fetch
      // floats for the bounded shortlist alone
      val bqDir = Scratch.fresh(s"scalecheck_bq_$n") + "/idx"
      graft.operators.BinaryQuantizer.writeIndex(vecs, "vec_id",
        "embedding", bqDir)
      val mBqI = Metrics.measure(spark) {
        graft.operators.BinaryQuantizer.searchIndexRefined(spark, bqDir,
          vecs, "vec_id", "embedding", queries, "qid", "qv",
          k = 3, refine = 4).count()
        ()
      }
      jline("bq_index_search", n, vecRows, mBqI)
      CacheScope.releaseAll()

      // ---- BM25 inverted-index probe (q160 shape) ----
      // vocabulary-disjoint copies: the fixed copy-0 query batch can
      // match only copy-0 postings, so probed POSTING LISTS are
      // constant across scales — what may grow is probed-bucket FILE
      // bytes (other copies' vocabulary hashing into the same bucket at
      // a fixed modulus), which is exactly the signal growBucketsIfHot
      // exists to cap: after the skew-gated doublings the probe's input
      // bytes must fall back toward the 1× level.
      val textDocs = CacheScope.cache(scaledDocsText(spark, sfDir, n))
      val textRows = textDocs.count()
      val tiDir = Scratch.fresh(s"scalecheck_bm25_$n") + "/idx"
      graft.operators.TextIndex.write(textDocs, "doc_id", "text", tiDir)
      // retrieval-shaped queries: ~8 terms each, NOT whole documents —
      // 10 full word-salad docs as queries would cover most of the
      // fixture vocabulary, making "matched postings" corpus-sized by
      // construction and drowning the per-term probe signal under test
      val tQueries = textDocs
        .filter(col("doc_id") < 10)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(Text.tokens(col("text")), 1, 8)).as("text"))
      def bm25Probe(): Unit = {
        graft.operators.TextIndex.searchTopK(spark, tiDir, tQueries,
          "qid", "text", k = 3).count()
        CacheScope.releaseAll()
      }
      jline("bm25_index_search", n, textRows, Metrics.measure(spark) {
        bm25Probe()
      })
      if (n > 1) {
        // grow buckets until the hottest is back under a per-bucket
        // budget sized to the 1× layout, then re-probe
        var grown = true
        var rounds = 0
        while (grown && rounds < 5) {
          // budget ≈ 3× the 1× layout's mean bucket (sf0.1: ~1.8 k
          // postings/bucket at modulus 64) — the 1× layout passes, the
          // 10× layout doubles until per-bucket mass is back in budget
          val r = graft.operators.TextIndex.growBucketsIfHot(spark, tiDir,
            maxPostingsPerBucket = 5500L).collect().head
          grown = r.getBoolean(0)
          rounds += 1
        }
        val nb = graft.operators.TextIndex.readBuckets(spark, tiDir)
        jline("bm25_index_search_grown", n, textRows,
          Metrics.measure(spark) { bm25Probe() },
          s""","buckets":$nb""")
      }
      CacheScope.releaseAll()

      // ---- incremental packing append (q197 shape) ----
      // a FIXED ~500-doc delta appended to a 1× vs N× persisted packed
      // stream: the append packs only the delta (PrefixSum over delta
      // rows) plus two column-pruned max aggregates over the stored
      // contributions — so SHUFFLE must track the delta, while input
      // bytes may grow only by the two pruned long columns of the
      // stored tail scan
      val toks = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"),
          size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
      val packBase = CacheScope.cache(
        (0 until n).map { k =>
          toks.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
            col("n_tokens"))
        }.reduce(_ unionByName _))
      val packBaseRows = packBase.count()
      val packDir = Scratch.fresh(s"scalecheck_pack_$n") + "/packed"
      graft.operators.SequencePack.writePacked(packBase, "doc_id",
        "n_tokens", 128, packDir, buckets = 32)
      val packDelta = toks.filter(col("doc_id") % 10 === 7)
        .select((col("doc_id") + lit(900000000L)).as("doc_id"),
          col("n_tokens"))
      val mPack = Metrics.measure(spark) {
        graft.operators.SequencePack.appendPacked(packDelta, "doc_id",
          "n_tokens", packDir)
      }
      jline("pack_append", n, packBaseRows, mPack)
      CacheScope.releaseAll()
    }
    spark.stop()
  }
}
