package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class ScalarQuantizerSpec extends SparkTestBase {

  private def corpus = graft.sources.Tables.load(spark, sfDir, "embeddings")
    .select(col("vec_id"), col("embedding"))
  private def queries = corpus.filter(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  /** Exact squared-L2 top-k by brute force — the recall yardstick. */
  private def exactTopK(k: Int): Set[(Long, Long)] = {
    val scored = corpus.as("d").crossJoin(broadcast(queries).as("q"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("neighbor"),
        aggregate(zip_with(col("qv"), col("embedding"),
            (a, b) => (a.cast("double") - b.cast("double"))
              * (a.cast("double") - b.cast("double"))),
          lit(0.0), (acc, x) => acc + x).as("d2"))
    Dedup.topKPerKey(scored, Seq("qid"),
        Seq(col("d2").asc, col("neighbor").asc), k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("search returns k rows per query and keeps near-exact recall") {
    val k = 5
    val out = ScalarQuantizer.search(corpus, "vec_id", "embedding",
        queries, "qid", "qv", k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length === 10 * k)
    assert(out.groupBy(_._1).forall(_._2.length == k))
    // SQ8 is the compressed-brute-force tier: every pair is scored, the
    // only error is 8-bit quantization — recall should be essentially
    // exact, far above what an index tier would promise
    val exact = exactTopK(k)
    val hit = out.count(exact.contains)
    assert(hit >= (10 * k * 0.9).toInt,
      s"recall ${hit.toDouble / (10 * k)} below the near-exact bar")
    graft.CacheScope.releaseAll()
  }

  test("index lifecycle: stored-stats appends saturate, deletes mask, " +
      "readmission clears the marker") {
    import spark.implicits._
    val idx = graft.Scratch.fresh("sq_lifecycle") + "/idx"
    val base = corpus.filter(col("vec_id") % 5 =!= 0)
    val shifted = corpus.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") + lit(0.5)).cast("float")).as("embedding"))
    ScalarQuantizer.writeIndex(base, "vec_id", "embedding", idx)

    // a fresh index serves exactly what in-memory search over the same
    // corpus serves (stats version WITH the codes)
    val fromIdx = ScalarQuantizer.searchIndex(spark, idx, "vec_id",
        queries, "qid", "qv", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = ScalarQuantizer.search(base, "vec_id", "embedding",
        queries, "qid", "qv", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromIdx === direct)

    // O(delta) append encodes through the STORED stats: every shifted
    // dimension exceeds its trained hi, so codes saturate at 255 —
    // drift degrades resolution, never corrupts the layout
    ScalarQuantizer.appendIndex(shifted, "vec_id", "embedding", idx)
    val codes = spark.read.parquet(s"$idx/codes")
    val appended = codes.filter(col("vec_id") % 5 === 0)
    assert(appended.count() === shifted.count())
    assert(appended
      .select(max(array_max(col("codes"))), min(array_max(col("codes"))))
      .head match { case r => r.getInt(0) == 255 && r.getInt(1) == 255 })

    // logical delete masks immediately; the appended wave serves
    ScalarQuantizer.deleteFromIndex(spark, idx, Seq(3L).toDF("vec_id"),
      "vec_id")
    val served = ScalarQuantizer.searchIndex(spark, idx, "vec_id",
        queries, "qid", "qv", k = 8)
      .collect().map(_.getLong(1)).toSet
    assert(!served.contains(3L), "forgotten id must not serve")
    assert(ScalarQuantizer.tombstones(spark, idx).isDefined)

    // delete-then-readmit: the append clears the stale marker
    ScalarQuantizer.appendIndex(base.filter(col("vec_id") === 3L),
      "vec_id", "embedding", idx)
    assert(ScalarQuantizer.tombstones(spark, idx).isEmpty,
      "readmission must clear the stale marker")
    graft.CacheScope.releaseAll()
  }

  test("a crashed write's leftover staged dir cannot poison the next " +
      "writeIndex; a rewrite replaces the index whole") {
    val idx = graft.Scratch.fresh("sq_stagedcrash") + "/idx"
    // a commit killed before its log entry leaves its staging directory
    // (and a garbage file in it) under the log
    val junk = new org.apache.hadoop.fs.Path(
      s"$idx/_log/_stage-crashed/1/part-00000-junk.parquet")
    val fs = junk.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(junk.getParent); fs.create(junk, true).close()
    ScalarQuantizer.writeIndex(corpus, "vec_id", "embedding", idx)
    assert(!graft.sources.Tables.read(spark, s"$idx/codes").inputFiles
      .exists(_.contains("_stage-")), "the publish must ignore the stage")
    val n0 = spark.read.parquet(s"$idx/codes").count()
    assert(n0 === corpus.count())
    // rewriting over an existing index goes through the same swap: the
    // new generation fully replaces the old (no stale code files merged)
    ScalarQuantizer.writeIndex(corpus.limit(40), "vec_id", "embedding", idx)
    assert(spark.read.parquet(s"$idx/codes").count() === 40L)
    graft.CacheScope.releaseAll()
  }
}
