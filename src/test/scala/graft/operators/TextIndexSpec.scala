package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tombstones

class TextIndexSpec extends SparkTestBase {

  private def docs = graft.sources.Tables.load(spark, sfDir, "documents")
    .select(col("doc_id"), col("text"))

  private def queries(n: Int) = docs.filter(col("doc_id") < n)
    .select(col("doc_id").as("qid"), col("text"))

  private def searchRows(dir: String, k: Int = 4): Seq[(Long, Long, Long,
      Double)] =
    TextIndex.searchTopK(spark, dir, queries(5), "qid", "text", k)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq

  private def liveIds(dir: String): Set[Long] = {
    val post = spark.read.parquet(s"$dir/postings")
      .filter(col("bkt") >= 0)
    Tombstones.filterLive(graft.sources.Tables.at(spark, s"$dir/postings"),
      post, "doc_id")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
  }

  /** The single-table layout's doclen partition (what [[TextIndex.delete]]
    * prices corrections from).
    */
  private def doclenIds(dir: String): Set[Long] =
    spark.read.parquet(s"$dir/postings")
      .filter(col("bkt") === TextIndex.DlBkt)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet

  private def totalsRow(dir: String): (Long, Long) = {
    val r = TextIndex.totals(spark, dir).collect().head
    (r.getLong(0), r.getLong(1))
  }

  test("write + append serves bit-for-bit what a one-shot build over " +
      "the union serves") {
    val oneShot = graft.Scratch.fresh("ti_oneshot") + "/idx"
    val grown = graft.Scratch.fresh("ti_grown") + "/idx"
    TextIndex.write(docs, "doc_id", "text", oneShot)
    TextIndex.write(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", grown)
    TextIndex.append(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", grown)
    assert(searchRows(grown) === searchRows(oneShot))
    assert(totalsRow(grown) === totalsRow(oneShot))
  }

  test("delete masks immediately and serves exactly a live-set rebuild") {
    val idx = graft.Scratch.fresh("ti_delete") + "/idx"
    val liveOnly = graft.Scratch.fresh("ti_liveonly") + "/idx"
    import spark.implicits._
    TextIndex.write(docs, "doc_id", "text", idx)
    TextIndex.delete(spark, idx, Seq(1L, 3L).toDF("doc_id"), "doc_id")
    TextIndex.write(docs.filter(!col("doc_id").isin(1L, 3L)),
      "doc_id", "text", liveOnly)
    // scores, ranks, AND stats (n/avgdl feed idf/tf-norm) all equal the
    // fresh build over the survivors — the negative-totals correction is
    // what makes this exact rather than approximate
    assert(searchRows(idx) === searchRows(liveOnly))
    assert(totalsRow(idx) === totalsRow(liveOnly))
    assert(!liveIds(idx).contains(1L) && !liveIds(idx).contains(3L))
  }

  test("repeated delete of the same id does not double-subtract totals") {
    val idx = graft.Scratch.fresh("ti_redelete") + "/idx"
    import spark.implicits._
    TextIndex.write(docs, "doc_id", "text", idx)
    TextIndex.delete(spark, idx, Seq(2L).toDF("doc_id"), "doc_id")
    val once = totalsRow(idx)
    TextIndex.delete(spark, idx, Seq(2L).toDF("doc_id"), "doc_id")
    assert(totalsRow(idx) === once)
    // and deleting an id the index never held is a no-op
    TextIndex.delete(spark, idx, Seq(999999L).toDF("doc_id"), "doc_id")
    assert(totalsRow(idx) === once)
  }

  test("append refuses tombstoned ids until a compact applies the " +
      "markers — then the readmit serves fresh postings") {
    val idx = graft.Scratch.fresh("ti_readmit") + "/idx"
    import spark.implicits._
    TextIndex.write(docs, "doc_id", "text", idx)
    TextIndex.delete(spark, idx, Seq(2L).toDF("doc_id"), "doc_id")
    val doc2 = docs.filter(col("doc_id") === 2L)
    val e = intercept[IllegalArgumentException] {
      TextIndex.append(doc2, "doc_id", "text", idx)
    }
    assert(e.getMessage.contains("compact"))
    TextIndex.compact(spark, idx)
    TextIndex.append(doc2, "doc_id", "text", idx)
    val full = graft.Scratch.fresh("ti_readmit_full") + "/idx"
    TextIndex.write(docs, "doc_id", "text", full)
    assert(searchRows(idx) === searchRows(full))
    assert(totalsRow(idx) === totalsRow(full))
  }

  test("compact applies markers physically, clears them, and leaves " +
      "served results untouched") {
    val idx = graft.Scratch.fresh("ti_compact") + "/idx"
    import spark.implicits._
    TextIndex.write(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", idx)
    TextIndex.append(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", idx)
    TextIndex.delete(spark, idx, Seq(6L).toDF("doc_id"), "doc_id")
    val before = searchRows(idx)
    TextIndex.compact(spark, idx)
    assert(searchRows(idx) === before)
    assert(Tombstones.read(spark, s"$idx/postings").isEmpty)
    assert(!liveIds(idx).contains(6L))
    // doclen rows compacted too: the forgotten doc can never be re-priced
    assert(!doclenIds(idx).contains(6L))
    // one file per bucket directory after compaction (meta partitions
    // included — they ride the same staged rewrite)
    val bucketDirs = new java.io.File(s"$idx/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bkt="))
    assert(bucketDirs.nonEmpty)
    assert(bucketDirs.exists(_.getName == s"bkt=${TextIndex.DlBkt}"))
    assert(bucketDirs.forall(
      _.listFiles().count(_.getName.startsWith("part-")) == 1))
  }

  test("a delete landing mid-compaction survives the publish swap and " +
      "keeps masking") {
    val idx = graft.Scratch.fresh("ti_race") + "/idx"
    import spark.implicits._
    TextIndex.write(docs, "doc_id", "text", idx)
    TextIndex.delete(spark, idx, Seq(1L).toDF("doc_id"), "doc_id")
    TextIndex.compact(spark, idx, midCompact = () =>
      TextIndex.delete(spark, idx, Seq(4L).toDF("doc_id"), "doc_id"))
    // 1 applied physically; 4's marker carried into the new layout and
    // still masking (and its totals correction was priced at delete time)
    assert(!liveIds(idx).contains(1L) && !liveIds(idx).contains(4L))
    assert(Tombstones.read(spark, s"$idx/postings").isDefined)
    val liveOnly = graft.Scratch.fresh("ti_race_live") + "/idx"
    TextIndex.write(docs.filter(!col("doc_id").isin(1L, 4L)),
      "doc_id", "text", liveOnly)
    assert(searchRows(idx) === searchRows(liveOnly))
    assert(totalsRow(idx) === totalsRow(liveOnly))
    // the first compact dropped 1's doclen row with its postings (same
    // marker set, same pass); 4's doclen row SURVIVES while its carried
    // marker is pending — safely: a re-delete of a marked id is refused,
    // so the surviving row can never be re-priced
    assert(!doclenIds(idx).contains(1L))
    assert(doclenIds(idx).contains(4L))
    val t = totalsRow(idx)
    TextIndex.delete(spark, idx, Seq(1L).toDF("doc_id"), "doc_id")
    assert(totalsRow(idx) === t)
    TextIndex.delete(spark, idx, Seq(4L).toDF("doc_id"), "doc_id")
    assert(totalsRow(idx) === t) // pending marker blocks the re-price
    // the next compact applies the carried marker physically — postings
    // AND doclen row together
    TextIndex.compact(spark, idx)
    assert(Tombstones.read(spark, s"$idx/postings").isEmpty)
    assert(!doclenIds(idx).contains(4L))
    assert(searchRows(idx) === searchRows(liveOnly))
  }

  test("a delete at a rewrite's listing seam counts exactly once " +
      "(compact, growBucketsIfHot)") {
    import spark.implicits._
    val liveOnly = graft.Scratch.fresh("ti_seam_live") + "/idx"
    TextIndex.write(docs.filter(!col("doc_id").isin(1L, 4L)),
      "doc_id", "text", liveOnly)
    val ops: Seq[(String, (String, () => Unit) => Unit)] = Seq(
      "compact" -> ((idx, seam) => TextIndex.compact(spark, idx, seam)),
      "grow" -> ((idx, seam) => assert(TextIndex
        .growBucketsIfHot(spark, idx, 8L, seam).head().getBoolean(0))))
    ops.foreach { case (name, op) =>
      val idx = graft.Scratch.fresh(s"ti_seam_$name") + "/idx"
      TextIndex.write(docs, "doc_id", "text", idx)
      TextIndex.delete(spark, idx, Seq(1L).toDF("doc_id"), "doc_id")
      op(idx, () =>
        TextIndex.delete(spark, idx, Seq(4L).toDF("doc_id"), "doc_id"))
      assert(totalsRow(idx) === totalsRow(liveOnly), name)
      assert(searchRows(idx) === searchRows(liveOnly), name)
    }
  }

  test("probe reads only the query terms' bucket partitions") {
    val idx = graft.Scratch.fresh("ti_prune") + "/idx"
    TextIndex.write(docs, "doc_id", "text", idx)
    // a one-term query touches exactly one bucket: the pushed partition
    // filter must appear in the scan and the scanned partition count
    // must be 1 (of TextIndex.Buckets on disk)
    val q1 = spark.createDataFrame(Seq((0L, "the"))).toDF("qid", "text")
    val out = TextIndex.searchTopK(spark, idx, q1, "qid", "text", k = 3)
    // pruning is in the SCAN (PartitionFilters on bkt), not a post-filter
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bkt"),
      plan.take(2000))
    // and a bkt-pruned read of the layout touches exactly one bucket
    // directory of the many on disk
    import org.apache.spark.sql.functions.input_file_name
    val b = spark.range(1).select(
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.lit("the")),
        org.apache.spark.sql.functions.lit(TextIndex.Buckets.toLong))
        .cast("int").as("b")).collect().head.getInt(0)
    val touched = spark.read.parquet(s"$idx/postings")
      .filter(col("bkt") === b)
      .select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSeq
    assert(touched.nonEmpty)
    touched.foreach(f => assert(f.contains(s"bkt=$b"), f))
  }

  test("searched scores match a from-scratch BM25 computed on the " +
      "DataFrame API (no index)") {
    val idx = graft.Scratch.fresh("ti_brute") + "/idx"
    TextIndex.write(docs, "doc_id", "text", idx)
    val got = searchRows(idx, k = 3)

    // independent reference: plain-DataFrame BM25 over the same corpus
    import graft.functions.{Stable, Text}
    val tok = docs.select(col("doc_id"),
      explode(Text.tokens(col("text"))).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val st = dl.agg(count(lit(1)).cast("long").as("n_docs"),
      sum("dl").as("sum_dl"))
    val qt = queries(5).select(col("qid"),
        explode(Text.tokens(col("text"))).as("term"))
      .groupBy("qid", "term").agg(count(lit(1)).as("qtf"))
    val nD = col("n_docs").cast("double")
    val c = col("qtf").cast("double") *
      log(lit(1.0) + (nD - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))) *
      (col("tf").cast("double") * lit(TextIndex.K1 + 1)) /
      (col("tf").cast("double") + lit(TextIndex.K1) *
        (lit(1 - TextIndex.B) + lit(TextIndex.B) *
          col("dl").cast("double") * nD / col("sum_dl").cast("double")))
    val want = qt.join(tf, "term").join(dfr, "term").join(dl, "doc_id")
      .crossJoin(st)
      .select(col("qid"), col("doc_id"), c.as("c"))
      .groupBy("qid", "doc_id").agg(Stable.sumD(col("c")).as("score"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("doc_id"),
        round(col("score") + lit(1e-9), 4).as("bm25"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted
    assert(got.sorted === want)
  }

  test("growBucketsIfHot: no-grow branch leaves the layout and modulus " +
      "untouched; grow branch doubles the modulus invisibly") {
    val idx = graft.Scratch.fresh("ti_grow") + "/idx"
    TextIndex.write(docs, "doc_id", "text", idx)
    val before = searchRows(idx)
    // budget far above any bucket: nothing happens
    val noGrow = TextIndex.growBucketsIfHot(spark, idx, 1000000L)
      .collect().head
    assert(!noGrow.getBoolean(0))
    assert(TextIndex.readBuckets(spark, idx) === TextIndex.Buckets)
    assert(searchRows(idx) === before)
    // budget below the hottest bucket: modulus doubles, serving is
    // bit-identical (the q140 layout-invisibility contract)
    val grown = TextIndex.growBucketsIfHot(spark, idx, 8L).collect().head
    assert(grown.getBoolean(0))
    assert(grown.getLong(3) > 8L)
    assert(TextIndex.readBuckets(spark, idx) === TextIndex.Buckets * 2)
    assert(searchRows(idx) === before)
    // appends after the grow route through the NEW modulus: results
    // still equal a one-shot (default-modulus) build over the union
    val idx2 = graft.Scratch.fresh("ti_grow2") + "/idx"
    TextIndex.write(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", idx2)
    TextIndex.growBucketsIfHot(spark, idx2, 8L)
    TextIndex.append(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", idx2)
    assert(searchRows(idx2) === before)
    assert(totalsRow(idx2) === totalsRow(idx))
  }

  test("growBucketsIfHot actually splits bucket vocabulary on a " +
      "many-term corpus") {
    import spark.implicits._
    // 300 single-term docs over 300 distinct terms: buckets hold ~5
    // terms each at the default modulus, ~2-3 after doubling
    val d = (0 until 300).map(i => (i.toLong, s"term$i")).toDF(
      "doc_id", "text")
    val idx = graft.Scratch.fresh("ti_split") + "/idx"
    TextIndex.write(d, "doc_id", "text", idx)
    def maxBucketRows: Long = spark.read.parquet(s"$idx/postings")
      .filter(col("bkt") >= 0) // meta partitions are not probe buckets
      .groupBy(col("bkt")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).collect().head.getLong(0)
    val before = maxBucketRows
    val r = TextIndex.growBucketsIfHot(spark, idx, 1L).collect().head
    assert(r.getBoolean(0) && r.getLong(3) === before)
    assert(maxBucketRows < before,
      s"doubling the modulus did not reduce the max bucket ($before)")
  }

  test("tombstones ride along through a bucket grow: masking, re-delete " +
      "guard, and the next compact all keep working") {
    val idx = graft.Scratch.fresh("ti_grow_ts") + "/idx"
    import spark.implicits._
    TextIndex.write(docs, "doc_id", "text", idx)
    TextIndex.delete(spark, idx, Seq(2L).toDF("doc_id"), "doc_id")
    val masked = searchRows(idx)
    val t = totalsRow(idx)
    TextIndex.growBucketsIfHot(spark, idx, 8L)
    assert(!liveIds(idx).contains(2L))
    assert(searchRows(idx) === masked)
    TextIndex.delete(spark, idx, Seq(2L).toDF("doc_id"), "doc_id")
    assert(totalsRow(idx) === t) // marker survived the grow — no re-price
    TextIndex.compact(spark, idx)
    assert(Tombstones.read(spark, s"$idx/postings").isEmpty)
    assert(TextIndex.readBuckets(spark, idx) === TextIndex.Buckets * 2)
    assert(searchRows(idx) === masked)
  }

  test("positional flag lives in the layout's log and survives " +
      "grow + compact; a non-positional build reads non-positional") {
    import spark.implicits._
    val idx = graft.Scratch.fresh("ti_layout") + "/idx"
    TextIndex.write(docs, "doc_id", "text", idx, withPositions = true)
    assert(TextIndex.layout(spark, idx) === (TextIndex.Buckets, true))
    // the flag travels through every layout-rewriting lifecycle verb
    TextIndex.growBucketsIfHot(spark, idx, 8L)
    assert(TextIndex.layout(spark, idx) === (TextIndex.Buckets * 2, true))
    TextIndex.delete(spark, idx, Seq(2L).toDF("doc_id"), "doc_id")
    TextIndex.compact(spark, idx)
    assert(TextIndex.layout(spark, idx) === (TextIndex.Buckets * 2, true))
    // appends into a positional layout keep carrying positions (the
    // flag, not a parquet-footer sniff, decides)
    TextIndex.append(Seq((100L, "alpha beta alpha")).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    val appended = spark.read.parquet(s"$idx/postings")
      .filter(col("doc_id") === 100L && col("term") === "alpha")
      .select("pos").collect().head.getSeq[Int](0)
    assert(appended === Seq(0, 2))
    // non-positional build reads as such…
    val idx2 = graft.Scratch.fresh("ti_layout2") + "/idx"
    TextIndex.write(docs, "doc_id", "text", idx2)
    assert(TextIndex.layout(spark, idx2) === (TextIndex.Buckets, false))
  }

  test("single-table layout: one directory, meta rows in reserved " +
      "partitions, append touches only the postings table") {
    val idx = graft.Scratch.fresh("ti_single") + "/idx"
    TextIndex.write(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", idx)
    // the index is ONE table: no sibling doclens/stats directories
    val entries = new java.io.File(idx).list().toSet
    assert(entries === Set("postings"), entries)
    // meta partitions exist and are invisible to the bucket signal
    val parts = new java.io.File(s"$idx/postings").list()
      .filter(_.startsWith("bkt=")).toSet
    assert(parts.contains(s"bkt=${TextIndex.DlBkt}"))
    assert(parts.contains(s"bkt=${TextIndex.StBkt}"))
    // an append lands new part files in its buckets + both meta
    // partitions — and nowhere else (the one-commit contract)
    def files(): Set[String] = {
      val base = java.nio.file.Paths.get(s"$idx/postings")
      val s = java.nio.file.Files.walk(base)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p =>
            p.getFileName.toString.startsWith("part-"))
          .map(base.relativize(_).toString).toSet
      } finally s.close()
    }
    val before = files()
    TextIndex.append(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", idx)
    val added = files() -- before
    assert(added.exists(_.startsWith(s"bkt=${TextIndex.DlBkt}/")))
    assert(added.exists(_.startsWith(s"bkt=${TextIndex.StBkt}/")))
    assert(added.exists(f => !f.startsWith("bkt=-")))
  }

  test("zero-token documents are invisible to the index and to stats") {
    import spark.implicits._
    val d = Seq((1L, "alpha beta"), (2L, "   "), (3L, "beta gamma beta"))
      .toDF("doc_id", "text")
    val idx = graft.Scratch.fresh("ti_empty") + "/idx"
    TextIndex.write(d, "doc_id", "text", idx)
    assert(totalsRow(idx) === ((2L, 5L)))
    assert(liveIds(idx) === Set(1L, 3L))
  }

  /** Spark jobs of one `searchTopK(...).collect()` over a local query
    * batch, on an index with an append and a pending delete
    * (deterministic); a budget may only go down.
    */
  private val SearchJobBudget = 7

  test("a search over a local query batch stays within its job budget, " +
      "registers no engine cache, and serves a live-set rebuild") {
    import spark.implicits._
    val idx = graft.Scratch.fresh("ti_budget") + "/idx"
    TextIndex.write(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", idx)
    TextIndex.append(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", idx)
    TextIndex.delete(spark, idx, Seq(3L).toDF("doc_id"), "doc_id")
    val qs = queries(5).collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq.toDF("qid", "text")
    def search(dir: String) =
      TextIndex.searchTopK(spark, dir, qs, "qid", "text", 4).collect().toSeq
    val caches = graft.CacheScope.activeCount
    var rows: Seq[org.apache.spark.sql.Row] = Nil
    val m = graft.Metrics.measure(spark) { rows = search(idx) }
    assert(m.jobs <= SearchJobBudget,
      m.spans.map(j => s"${j.site} ${j.sql}").mkString("\n"))
    assert(graft.CacheScope.activeCount === caches)
    val liveOnly = graft.Scratch.fresh("ti_budget_live") + "/idx"
    TextIndex.write(docs.filter(col("doc_id") =!= 3L), "doc_id", "text",
      liveOnly)
    assert(rows.nonEmpty)
    assert(rows === search(liveOnly))
  }

  test("search edge inputs: null text, unindexed terms, an empty batch " +
      "and an Int qid column") {
    import spark.implicits._
    val idx = graft.Scratch.fresh("ti_edges") + "/idx"
    TextIndex.write(docs, "doc_id", "text", idx)
    def search(qs: DataFrame) =
      TextIndex.searchTopK(spark, idx, qs, "qid", "text", 3)
    val texts = queries(3).collect().map(r => (r.getLong(0), r.getString(1)))
    val plain = search(texts.toSeq.toDF("qid", "text")).collect().toSeq
    assert(plain.map(_.getLong(0)).toSet === Set(0L, 1L, 2L))
    // a null text and a query of unindexed terms score nothing, and
    // leave the other queries' rows as they were
    val mixed = (texts.map { case (q, t) => (q, Option(t)) } ++ Seq(
        (7L, None), (8L, Some("zzqx0 zzqx1 zzqx1"))))
      .toSeq.toDF("qid", "text")
    assert(search(mixed).collect().toSeq === plain)
    // an empty batch: no rows, the same schema
    val empty = search(Seq.empty[(Long, String)].toDF("qid", "text"))
    assert(empty.collect().isEmpty)
    assert(empty.schema === search(texts.toSeq.toDF("qid", "text")).schema)
    // an Int qid keeps its type and serves the same rows
    val intQ = search(texts.map { case (q, t) => (q.toInt, t) }.toSeq
      .toDF("qid", "text"))
    assert(intQ.schema("qid").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(intQ.collect().map(r => (r.getInt(0).toLong, r.getLong(1),
        r.getLong(2), r.getDouble(3))).toSeq ===
      plain.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))))
  }

  // --- positional layout / phrase probe ----------------------------------

  private def phraseHits(idx: String, qs: Seq[(Long, String)])
      : Map[(Long, Long), Long] = {
    import spark.implicits._
    TextIndex.phraseSearch(spark, idx, qs.toDF("qid", "text"),
        "qid", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
  }

  test("phrase probe: adjacency, multi-occurrence counts, and no " +
      "bag-of-words false positives") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick fox jumps the quick fox sleeps"), // phrase twice
      (2L, "quick the fox"),                            // bag matches, order no
      (3L, "the slow quick fox"),                       // not adjacent from 'the'
      (4L, "a the quick fox b")).toDF("doc_id", "text") // once, mid-doc
    val idx = graft.Scratch.fresh("ti_phrase") + "/idx"
    TextIndex.write(d, "doc_id", "text", idx, withPositions = true)
    val hits = phraseHits(idx, Seq((0L, "the quick fox")))
    assert(hits === Map((0L, 1L) -> 2L, (0L, 4L) -> 1L))
  }

  test("phrase probe: a term repeated in the phrase must match at " +
      "every one of its slots") {
    import spark.implicits._
    val d = Seq(
      (1L, "x a b a y"),  // exact 'a b a'
      (2L, "a b c a")     // both terms present, wrong offsets
    ).toDF("doc_id", "text")
    val idx = graft.Scratch.fresh("ti_phrase_rep") + "/idx"
    TextIndex.write(d, "doc_id", "text", idx, withPositions = true)
    assert(phraseHits(idx, Seq((0L, "a b a"))) === Map((0L, 1L) -> 1L))
    // an Int qid keeps its type; a null text and an unindexed term
    // match nothing
    val qs = Seq((0, Some("a b a")), (1, Some("b a")), (2, None),
      (3, Some("a zz"))).toDF("qid", "text")
    val out = TextIndex.phraseSearch(spark, idx, qs, "qid", "text")
    assert(out.schema("qid").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(out.collect().map(r => (r.getInt(0), r.getLong(1)) ->
      r.getLong(2)).toMap === Map((0, 1L) -> 1L, (1, 1L) -> 1L))
    assert(phraseHits(idx, Nil).isEmpty)
  }

  test("phrase probe: appends inherit the positional encoding; " +
      "tombstones mask the phrase path; plain layouts fail fast") {
    import spark.implicits._
    val idx = graft.Scratch.fresh("ti_phrase_life") + "/idx"
    TextIndex.write(Seq((1L, "alpha beta gamma")).toDF("doc_id", "text"),
      "doc_id", "text", idx, withPositions = true)
    // append self-describes from the layout — no withPositions arg
    TextIndex.append(Seq((2L, "x alpha beta gamma")).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    assert(phraseHits(idx, Seq((0L, "alpha beta"))) ===
      Map((0L, 1L) -> 1L, (0L, 2L) -> 1L))
    TextIndex.delete(spark, idx, Seq(1L).toDF("doc_id"), "doc_id")
    assert(phraseHits(idx, Seq((0L, "alpha beta"))) === Map((0L, 2L) -> 1L))
    // a layout without positions refuses the probe instead of silently
    // returning nothing
    val plain = graft.Scratch.fresh("ti_phrase_plain") + "/idx"
    TextIndex.write(Seq((1L, "alpha beta")).toDF("doc_id", "text"),
      "doc_id", "text", plain)
    val e = intercept[IllegalArgumentException] {
      phraseHits(plain, Seq((0L, "alpha beta")))
    }
    assert(e.getMessage.contains("positional"))
  }

  test("proximity probe: tightest span, window gate, order-free") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha x x x beta"),        // span 5
      (2L, "beta alpha"),              // reordered, span 2
      (3L, "alpha x x x x x x x beta"),// span 9 > window 8 -> dropped
      (4L, "alpha y beta z alpha beta") // tightest is 2 (positions 4,5)
    ).toDF("doc_id", "text")
    val idx = graft.Scratch.fresh("ti_prox") + "/idx"
    TextIndex.write(d, "doc_id", "text", idx, withPositions = true)
    val got = TextIndex.proximitySearch(spark, idx,
        Seq((0L, "alpha beta")).toDF("qid", "text"), "qid", "text",
        window = 8)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got === Map(1L -> 5L, 2L -> 2L, 4L -> 2L))
    // a duplicated query term collapses to one slot: every doc with the
    // term matches at span 1
    val one = TextIndex.proximitySearch(spark, idx,
        Seq((0L, "alpha alpha")).toDF("qid", "text"), "qid", "text",
        window = 8)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(one === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // an Int qid keeps its type; a repeated term counts once toward the
    // terms a window must cover; a null text and an empty batch match
    // nothing
    val qs = Seq((0, Some("beta alpha beta")), (1, None))
      .toDF("qid", "text")
    val out = TextIndex.proximitySearch(spark, idx, qs, "qid", "text",
      window = 8)
    assert(out.schema("qid").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(out.collect().map(r => (r.getInt(0), r.getLong(1)) ->
      r.getLong(2)).toMap === got.map { case (d, s) => (0, d) -> s })
    assert(TextIndex.proximitySearch(spark, idx,
      Seq.empty[(Long, String)].toDF("qid", "text"), "qid", "text",
      window = 8).collect().isEmpty)
    graft.CacheScope.releaseAll()
  }

  test("phrase probe: compact preserves positions (phrase answers " +
      "unchanged after the physical rewrite)") {
    import spark.implicits._
    val idx = graft.Scratch.fresh("ti_phrase_compact") + "/idx"
    TextIndex.write(Seq(
        (1L, "p q r"), (2L, "z p q r z"), (3L, "q p r"))
      .toDF("doc_id", "text"), "doc_id", "text", idx, withPositions = true)
    TextIndex.delete(spark, idx, Seq(3L).toDF("doc_id"), "doc_id")
    val before = phraseHits(idx, Seq((0L, "p q r")))
    TextIndex.compact(spark, idx)
    assert(Tombstones.read(spark, s"$idx/postings").isEmpty)
    assert(phraseHits(idx, Seq((0L, "p q r"))) === before)
    assert(before === Map((0L, 1L) -> 1L, (0L, 2L) -> 1L))
  }

  private def logVersion(dir: String): Long =
    graft.sources.Tables.at(spark, s"$dir/postings").snap.version

  test("a real delete is ONE commit (marker and stats row together); a " +
      "no-op delete commits nothing") {
    import spark.implicits._
    val idx = graft.Scratch.fresh("ti_delete_commit") + "/idx"
    TextIndex.write(docs, "doc_id", "text", idx)
    val liveOnly = graft.Scratch.fresh("ti_delete_commit_live") + "/idx"
    TextIndex.write(docs.filter(col("doc_id") =!= 3L), "doc_id", "text",
      liveOnly)
    val v0 = logVersion(idx)
    TextIndex.delete(spark, idx, Seq(3L).toDF("doc_id"), "doc_id")
    assert(logVersion(idx) === v0 + 1)
    val entry = graft.sources.Tables.at(spark, s"$idx/postings").snap
      .log.last._2
    assert(entry.operation === "delete")
    assert(entry.tables.toSet === Set("", Tombstones.Dir))
    assert(totalsRow(idx) === totalsRow(liveOnly))
    // ids never indexed, and ids already marked: nothing to commit
    TextIndex.delete(spark, idx, Seq(3L, 999999L).toDF("doc_id"), "doc_id")
    TextIndex.delete(spark, idx, Seq.empty[Long].toDF("doc_id"), "doc_id")
    assert(logVersion(idx) === v0 + 1)
    assert(totalsRow(idx) === totalsRow(liveOnly))
    assert(searchRows(idx) === searchRows(liveOnly))
  }

  test("a delete between a compact's read and its commit survives it: " +
      "totals and probes equal a fresh write over the live set") {
    import spark.implicits._
    val idx = graft.Scratch.fresh("ti_mid_commit") + "/idx"
    TextIndex.write(docs, "doc_id", "text", idx)
    TextIndex.delete(spark, idx, Seq(1L).toDF("doc_id"), "doc_id")
    TextIndex.compact(spark, idx, midCompact = () =>
      TextIndex.delete(spark, idx, Seq(4L, 7L).toDF("doc_id"), "doc_id"))
    val liveOnly = graft.Scratch.fresh("ti_mid_commit_live") + "/idx"
    TextIndex.write(docs.filter(!col("doc_id").isin(1L, 4L, 7L)),
      "doc_id", "text", liveOnly)
    assert(totalsRow(idx) === totalsRow(liveOnly))
    assert(searchRows(idx, k = 10) === searchRows(liveOnly, k = 10))
    assert(Tombstones.read(spark, s"$idx/postings").map(_.count())
      .contains(2L))
  }

  test("two compacts racing from one snapshot: the second fails loudly " +
      "and the winner's snapshot serves with none of its files") {
    import spark.implicits._
    val idx = graft.Scratch.fresh("ti_race2") + "/idx"
    TextIndex.write(docs, "doc_id", "text", idx)
    TextIndex.delete(spark, idx, Seq(2L).toDF("doc_id"), "doc_id")
    val before = searchRows(idx)
    val err = intercept[java.io.IOException](
      TextIndex.compact(spark, idx, midCompact = () =>
        TextIndex.compact(spark, idx)))
    assert(err.getMessage.contains("already removed"), err.getMessage)
    assert(searchRows(idx) === before)
    // exactly the winner's files are on disk: the loser deleted its own
    val t = graft.sources.Tables.at(spark, s"$idx/postings")
    assert(parquetFiles(s"$idx/postings") === t.files.map(_.path).toSet)
    assert(t.snap.log.last._2.operation === "compact")
  }

  private def parquetFiles(root: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(root)
    val s = java.nio.file.Files.walk(base)
    try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(base.relativize(_).toString).toSet
    finally s.close()
  }
}
