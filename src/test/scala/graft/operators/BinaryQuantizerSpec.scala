package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class BinaryQuantizerSpec extends SparkTestBase {

  private def corpus = graft.sources.Tables.load(spark, sfDir, "embeddings")
    .select(col("vec_id"), col("embedding"))
  private def queries = corpus.filter(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  /** Driver-side reference: midranges, packing, and Hamming over the
    * collected corpus — independent arithmetic (BigInt bit ops, no
    * engine code) to pin the builtin-composed columns.
    */
  private def reference(dim: Int) = {
    val rows = corpus.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val mid = (0 until dim).map { i =>
      val xs = rows.map(_._2(i))
      (xs.min.toDouble + xs.max.toDouble) / 2.0
    }
    val packed = rows.map { case (id, v) =>
      val words = new Array[Long]((dim + 63) / 64)
      (0 until dim).foreach { i =>
        if (v(i).toDouble > mid(i)) words(i / 64) |= 1L << (i % 64)
      }
      id -> words.toSeq
    }.toMap
    (rows, mid, packed)
  }

  test("packed matches the driver-side bit reference on every embedding") {
    val dim = 64
    val (_, mid, expected) = reference(dim)
    val got = corpus
      .select(col("vec_id"), BinaryQuantizer.packed(col("embedding"), mid)
        .as("bw"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got === expected)
    // the sign bit path is actually exercised (bit 63 set somewhere)
    assert(expected.values.exists(_.exists(_ < 0L)),
      "fixture never sets bit 63 — the MinValue power path is untested")
  }

  test("multi-word packing and hamming agree with the reference on a " +
      "ragged 96-dim synthetic") {
    val dim = 96
    val synth = spark.range(64).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(dim)),
        d => (pmod(col("id") * lit(37) + d * lit(11), lit(101)) / lit(50.0)
          - lit(1.0)).cast("float")).as("v"))
    val rows = synth.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val mid = (0 until dim).map { i =>
      val xs = rows.map(_._2(i))
      (xs.min.toDouble + xs.max.toDouble) / 2.0
    }
    def pack(v: Array[Float]): Seq[Long] = {
      val w = new Array[Long]((dim + 63) / 64)
      (0 until dim).foreach(i =>
        if (v(i).toDouble > mid(i)) w(i / 64) |= 1L << (i % 64))
      w.toSeq
    }
    val got = synth
      .select(col("vec_id"), BinaryQuantizer.packed(col("v"), mid).as("bw"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    rows.foreach { case (id, v) =>
      assert(got(id) === pack(v), s"vec $id packs wrong")
      assert(got(id).length === 2)
    }
    // hamming column == popcount reference on a pair sample
    val withCodes = synth.select(col("vec_id"),
      BinaryQuantizer.packed(col("v"), mid).as("bw"))
    val hams = withCodes.as("a").join(withCodes.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        BinaryQuantizer.hamming(col("a.bw"), col("b.bw")).as("h"))
      .collect()
    val pk = rows.map { case (id, v) => id -> pack(v) }.toMap
    hams.foreach { r =>
      val expect = pk(r.getLong(0)).zip(pk(r.getLong(1)))
        .map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
      assert(r.getInt(2) === expect)
    }
  }

  test("search returns the reference Hamming top-k per query") {
    val k = 3
    val (_, _, pk) = reference(64)
    val expected = (0L until 10L).flatMap { q =>
      pk.keys.filter(_ != q).toSeq
        .map(d => (pk(q).zip(pk(d))
          .map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum, d))
        .sorted.take(k).map { case (h, d) => (q, d, h) }
    }.toSet
    val got = BinaryQuantizer.search(corpus, "vec_id", "embedding",
        queries, "qid", "qv", k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === expected)
    graft.CacheScope.releaseAll()
  }

  test("searchRefined serves EXACT distances over the Hamming shortlist") {
    val (k, refine) = (3, 4)
    val (rows, _, pk) = reference(64)
    val vecs = rows.toMap
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1
      }
      acc
    }
    val expected = (0L until 10L).flatMap { q =>
      val short = pk.keys.filter(_ != q).toSeq
        .map(d => (pk(q).zip(pk(d))
          .map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum, d))
        .sorted.take(k * refine).map(_._2)
      short.map(d => (l2(vecs(q), vecs(d)), d))
        .sorted.take(k).map { case (dist, d) => (q, d, dist) }
    }.toSet
    val got = BinaryQuantizer.searchRefined(corpus, "vec_id", "embedding",
        queries, "qid", "qv", k = k, refine = refine)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expected)
    graft.CacheScope.releaseAll()
  }

  test("index lifecycle: stored-mid appends, deletes mask, serving is " +
      "codes-only prefilter + exact re-rank from the primary store") {
    import spark.implicits._
    val idx = graft.Scratch.fresh("bq_lifecycle") + "/idx"
    val base = corpus.filter(col("vec_id") % 5 =!= 0)
    val shifted = corpus.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") + lit(0.5)).cast("float")).as("embedding"))
    BinaryQuantizer.writeIndex(base, "vec_id", "embedding", idx)

    // fresh index serves exactly what in-memory search over the same
    // corpus serves (thresholds version WITH the codes)
    val fromIdx = BinaryQuantizer.searchIndex(spark, idx, "vec_id",
        queries, "qid", "qv", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val direct = BinaryQuantizer.search(base, "vec_id", "embedding",
        queries, "qid", "qv", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(fromIdx === direct)

    // O(delta) append packs through the STORED midranges — verify the
    // appended words against a driver-side reference through the same
    // frozen thresholds
    BinaryQuantizer.appendIndex(shifted, "vec_id", "embedding", idx)
    val mid = spark.read.parquet(s"$idx/mids")
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
      .sortBy(_._1).map(_._2)
    val shiftedRows = shifted.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    val got = spark.read.parquet(s"$idx/codes")
      .filter(col("vec_id") % 5 === 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got.keySet === shiftedRows.keySet)
    got.foreach { case (id, words) =>
      val v = shiftedRows(id)
      val expect = new Array[Long]((v.length + 63) / 64)
      v.indices.foreach(i =>
        if (v(i).toDouble > mid(i)) expect(i / 64) |= 1L << (i % 64))
      assert(words === expect.toSeq, s"vec $id packs wrong through stored mids")
    }

    // forget leg + re-rank exactness: the shortlist is codes-only, the
    // floats come from the PRIMARY store, distances are exact L2
    BinaryQuantizer.deleteFromIndex(spark, idx, Seq(3L).toDF("vec_id"),
      "vec_id")
    assert(BinaryQuantizer.tombstones(spark, idx).isDefined)
    val primary = base.unionByName(shifted)
    val served = BinaryQuantizer.searchIndexRefined(spark, idx, primary,
        "vec_id", "embedding", queries, "qid", "qv", k = 3, refine = 4)
      .collect()
    assert(!served.map(_.getLong(1)).contains(3L),
      "forgotten id must not serve")
    val vecs = primary.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    // query vectors come from the QUERIES frame (unshifted corpus rows),
    // not the primary store — qids divisible by 5 differ between the two
    val qvecs = queries.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    served.foreach { r =>
      val (q, d) = (qvecs(r.getLong(0)), vecs(r.getLong(1)))
      var acc = 0.0; var i = 0
      while (i < q.length) {
        val x = q(i).toDouble - d(i).toDouble; acc += x * x; i += 1
      }
      assert(r.getDouble(2) === acc, "served distance must be exact L2")
    }
    graft.CacheScope.releaseAll()
  }

  test("recallSweep matches a driver-side reference at every budget " +
      "and is monotone in refine") {
    val (k, nQ, dim) = (3, 10, 64)
    val refines = Seq(1, 2, 4, 8)
    val (rows, _, pk) = reference(dim)
    val vecs = rows.toMap
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1
      }
      acc
    }
    // reference: gt = exact top-k; per budget, exact-re-ranked Hamming
    // shortlist top-k; hits = overlap — the recall the sweep must report
    val expected = refines.map { r =>
      val hits = (0L until nQ.toLong).map { q =>
        val gt = vecs.keys.filter(_ != q).toSeq
          .map(d => (l2(vecs(q), vecs(d)), d)).sorted.take(k).map(_._2)
        val short = pk.keys.filter(_ != q).toSeq
          .map(d => (pk(q).zip(pk(d))
            .map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum, d))
          .sorted.take(k * r).map(_._2)
        val sel = short.map(d => (l2(vecs(q), vecs(d)), d))
          .sorted.take(k).map(_._2)
        sel.count(gt.contains)
      }.sum
      r -> hits
    }.toMap
    val got = BinaryQuantizer.recallSweep(corpus, "vec_id", "embedding",
        nQueries = nQ, k = k, refines = refines)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSeq === refines, "ordered by refine")
    got.foreach { case (r, nTruth, hits) =>
      assert(nTruth === nQ.toLong * k)
      assert(hits === expected(r).toLong, s"refine $r")
    }
    val recalls = got.map(t => t._3.toDouble / t._2)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      "recall must be monotone non-decreasing in the budget")
    graft.CacheScope.releaseAll()
  }

  test("recallSweep reports exactly 1.0 when the budget covers the " +
      "whole corpus") {
    val n = corpus.count().toInt
    val k = 3
    val full = (n + k - 1) / k // shortlist ≥ corpus-1: prefilter loses nothing
    val got = BinaryQuantizer.recallSweep(corpus, "vec_id", "embedding",
        nQueries = 5, k = k, refines = Seq(1, full))
      .collect().map(r => (r.getInt(0), r.getDouble(3))).toMap
    assert(got(full) === 1.0)
    graft.CacheScope.releaseAll()
  }

  test("a crashed write's leftover staged dir cannot poison the next " +
      "writeIndex; a rewrite replaces the index whole") {
    val idx = graft.Scratch.fresh("bq_stagedcrash") + "/idx"
    // a commit killed before its log entry leaves its staging directory
    // (and a garbage file in it) under the log
    val junk = new org.apache.hadoop.fs.Path(
      s"$idx/_log/_stage-crashed/1/part-00000-junk.parquet")
    val fs = junk.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(junk.getParent); fs.create(junk, true).close()
    BinaryQuantizer.writeIndex(corpus, "vec_id", "embedding", idx)
    assert(!graft.sources.Tables.read(spark, s"$idx/codes").inputFiles
      .exists(_.contains("_stage-")), "the publish must ignore the stage")
    assert(spark.read.parquet(s"$idx/codes").count() === corpus.count())
    BinaryQuantizer.writeIndex(corpus.limit(40), "vec_id", "embedding", idx)
    assert(spark.read.parquet(s"$idx/codes").count() === 40L)
    graft.CacheScope.releaseAll()
  }

}
