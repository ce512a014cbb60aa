package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions.Text
import graft.sources.Tables

class LshIndexSpec extends SparkTestBase {

  private def withSh(docs: Seq[(Long, String)]) = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
      .select(col("doc_id"),
        MinHashLSH.shingleHashes(Text.tokens(col("text")), 3).as("sh"))
  }

  test("bandRows emits exactly Bands rows per doc, equal docs collide everywhere") {
    val df = withSh(Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "completely different text with no shared shingles at all"))
    val rows = LshIndex.bandRows(df, "doc_id", "sh")
    assert(rows.count() === 3L * MinHashLSH.Bands)
    // identical docs have identical signatures => same bucket in every band
    val collisions = rows.filter(col("doc_id") === 1L).as("a")
      .join(rows.filter(col("doc_id") === 2L).as("b"),
        col("a.band") === col("b.band") && col("a.bkt") === col("b.bkt"))
      .count()
    assert(collisions === MinHashLSH.Bands.toLong)
  }

  test("write + probe + append round-trips through disk, O(delta) admission") {
    val corpus = withSh(Seq(
      10L -> "shared text body one two three four five six seven",
      11L -> "unrelated corpus document about entirely other things here"))
    val path = graft.Scratch.fresh("lshindex_spec") + "/idx"
    LshIndex.write(corpus, "doc_id", "sh", path)
    assert(spark.read.parquet(path).count() === 2L * MinHashLSH.Bands)

    // delta: one exact dup of doc 10, one novel doc
    val delta = withSh(Seq(
      20L -> "shared text body one two three four five six seven",
      21L -> "a fresh never before seen document with novel content"))
    val cached = graft.CacheScope.activeCount
    val cand = LshIndex.candidates(spark, path, delta, "doc_id", "sh")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((20L, 10L)))
    assert(!cand.exists(_._1 == 21L))
    assert(graft.CacheScope.activeCount === cached,
      "a single-tier probe must cache nothing")

    // admit only the novel doc; index grows by Bands rows
    LshIndex.append(delta.filter(col("doc_id") === 21L), "doc_id", "sh", path)
    assert(spark.read.parquet(path).count() === 3L * MinHashLSH.Bands)
    // the appended doc is immediately probe-able by the next batch
    val cand2 = LshIndex.candidates(spark, path,
        withSh(Seq(30L -> "a fresh never before seen document with novel content")),
        "doc_id", "sh")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand2.contains((30L, 21L)))
  }

  test("deleted docs stop blocking admissions immediately; compact applies physically") {
    val path = graft.Scratch.fresh("lshindex_forget") + "/idx"
    val corpus = withSh(Seq(
      10L -> "shared text body one two three four five six seven",
      11L -> "unrelated corpus document about entirely other things here"))
    LshIndex.write(corpus, "doc_id", "sh", path)
    val probe = withSh(Seq(
      20L -> "shared text body one two three four five six seven"))
    def collides() = LshIndex.candidates(spark, path, probe, "doc_id", "sh")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(collides().contains((20L, 10L)))
    // forget doc 10 — markers only, index files untouched
    import spark.implicits._
    LshIndex.delete(spark, path, Seq(10L).toDF("doc_id"), "doc_id")
    assert(spark.read.parquet(path).count() === 2L * MinHashLSH.Bands)
    assert(!collides().exists(_._2 == 10L))
    // compaction drops the band rows physically and clears the markers
    LshIndex.compact(spark, path, "doc_id")
    assert(spark.read.parquet(path).count() === 1L * MinHashLSH.Bands)
    assert(LshIndex.tombstones(spark, path).isEmpty)
    assert(!collides().exists(_._2 == 10L))
  }

  test("delete-then-readmit: append clears the stale marker so the doc " +
      "serves and survives compaction") {
    val path = graft.Scratch.fresh("lshindex_readmit") + "/idx"
    val corpus = withSh(Seq(
      10L -> "shared text body one two three four five six seven",
      11L -> "unrelated corpus document about entirely other things here"))
    LshIndex.write(corpus, "doc_id", "sh", path)
    import spark.implicits._
    LshIndex.delete(spark, path, Seq(10L).toDF("doc_id"), "doc_id")
    // doc 10 is re-ingested: the stale marker must not mask its NEW rows
    LshIndex.append(
      withSh(Seq(10L -> "shared text body one two three four five six seven")),
      "doc_id", "sh", path)
    assert(LshIndex.tombstones(spark, path).isEmpty,
      "re-admission must clear the matching tombstone")
    val probe = withSh(Seq(
      20L -> "shared text body one two three four five six seven"))
    def collides() = LshIndex.candidates(spark, path, probe, "doc_id", "sh")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(collides().contains((20L, 10L)),
      "re-admitted doc must be visible at probe time")
    // compaction must KEEP the re-admitted rows (round-8 advice: the old
    // marker used to drop them physically, losing the doc forever)
    LshIndex.compact(spark, path, "doc_id")
    assert(collides().contains((20L, 10L)),
      "re-admitted doc must survive compaction")
  }

  test("bucketed steady-state probe: index side plans with no exchange") {
    val path = graft.Scratch.fresh("lshindex_bucketed") + "/idx"
    val docs = (0L until 40L).map(i =>
      i -> s"document number $i body with distinct words w$i x$i y$i z$i")
    val plain = graft.Scratch.fresh("lshindex_bucketed_plain") + "/idx"
    LshIndex.write(withSh(docs), "doc_id", "sh", path)
    LshIndex.write(withSh(docs), "doc_id", "sh", plain)
    try {
      LshIndex.compactBucketedAndTruncate(spark, path, "doc_id")
      val delta = withSh(Seq(
        100L -> "document number 7 body with distinct words w7 x7 y7 z7",
        101L -> "a wholly novel document that matches nothing in the index"))
      // force the sort-merge path (a broadcast delta would trivially
      // leave the index exchange-free) — the claim under test is the
      // LARGE-delta shape: only the delta shuffles into the index's
      // bucket layout
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val cand = LshIndex.candidates(spark, path, delta, "doc_id", "sh")
      val plan = cand.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      val exchanges = "Exchange".r.findAllIn(plan).length
      // distinct() adds its own exchange after the join; the JOIN itself
      // must only shuffle the delta side — with the index side also
      // shuffling this would be 3
      assert(exchanges <= 2,
        s"index side of the probe must not shuffle ($exchanges exchanges):\n$plan")
      // same answer as a probe of the same rows in a single-tier index
      val got = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = LshIndex.candidates(spark, plain, delta, "doc_id", "sh")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want)
      assert(got.contains((100L, 7L)) && !got.exists(_._1 == 101L))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  private def hybrid(path: String, probe: org.apache.spark.sql.DataFrame) =
    LshIndex.candidates(spark, path, probe, "doc_id", "sh")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def bulk(path: String) = Tables.read(spark, s"$path/${LshIndex.Bulk}")

  test("two-tier rollover: truncated ingest path + bucketed bulk serve " +
      "as one index") {
    val path = graft.Scratch.fresh("lshindex_tiered") + "/idx"
    val corpus = withSh(Seq(
      10L -> "shared text body one two three four five six seven",
      11L -> "unrelated corpus document about entirely other things here"))
    LshIndex.write(corpus, "doc_id", "sh", path)
    LshIndex.compactBucketedAndTruncate(spark, path, "doc_id")
    // ingest tier is empty (schema preserved), bulk holds everything
    assert(Tables.read(spark, path).count() === 0L)
    assert(bulk(path).count() === 2L * MinHashLSH.Bands)
    val dupOf10 = withSh(Seq(
      20L -> "shared text body one two three four five six seven"))
    assert(hybrid(path, dupOf10).contains((20L, 10L)),
      "bulk-tier rows must serve after the rollover")
    // a post-rollover admission lands in the path tier…
    LshIndex.append(
      withSh(Seq(30L -> "a wholly new document admitted after rollover")),
      "doc_id", "sh", path)
    val dupOf30 = withSh(Seq(
      40L -> "a wholly new document admitted after rollover"))
    assert(hybrid(path, dupOf30).contains((40L, 30L)),
      "delta-tier rows must serve immediately")
    // …and a post-rollover delete masks BULK rows too
    import spark.implicits._
    LshIndex.delete(spark, path, Seq(10L).toDF("doc_id"), "doc_id")
    assert(!hybrid(path, dupOf10).exists(_._2 == 10L),
      "a delete after the rollover must mask the bulk tier")
    // a fresh build replaces both tiers
    LshIndex.write(withSh(Seq(
      50L -> "a rebuilt index holding one document only")), "doc_id", "sh", path)
    assert(bulk(path).count() === 0L)
    assert(hybrid(path, withSh(Seq(
      60L -> "a rebuilt index holding one document only"))) === Set((60L, 50L)))
  }

  test("second rollover folds BOTH tiers into the new bulk generation") {
    val path = graft.Scratch.fresh("lshindex_rollover2") + "/idx"
    val corpus = withSh(Seq(
      10L -> "shared text body one two three four five six seven",
      11L -> "unrelated corpus document about entirely other things here"))
    LshIndex.write(corpus, "doc_id", "sh", path)
    // rollover #1: path holds the whole index (the q141 shape)
    LshIndex.compactBucketedAndTruncate(spark, path, "doc_id")
    // an admission wave lands in the truncated ingest tier…
    LshIndex.append(
      withSh(Seq(30L -> "a wholly new document admitted after rollover")),
      "doc_id", "sh", path)
    // …then rollover #2 — the steady state the API exists for: the
    // bulk must come out as tier-1 ∪ tier-2, not just the ingest-tier
    // rows (round-9 verdict: the old code overwrote the bulk with only
    // the appends, un-indexing the compacted corpus)
    LshIndex.compactBucketedAndTruncate(spark, path, "doc_id")
    assert(Tables.read(spark, path).count() === 0L)
    assert(bulk(path).count() === 3L * MinHashLSH.Bands)
    // a dup of a TIER-1 doc must still be refused after rollover #2
    assert(hybrid(path, withSh(Seq(
        20L -> "shared text body one two three four five six seven")))
      .contains((20L, 10L)),
      "rollover #2 must keep serving docs compacted by rollover #1")
    // and the wave admitted between the rollovers serves from the bulk
    assert(hybrid(path, withSh(Seq(
        40L -> "a wholly new document admitted after rollover")))
      .contains((40L, 30L)))
  }

  test("a failed rollover changes no tier or catalog; its retry serves all") {
    val path = graft.Scratch.fresh("lshindex_rollover_fail") + "/idx"
    def catalog() = spark.catalog.listTables().collect().map(_.name).toSet
    val tables = catalog()
    LshIndex.write(withSh(Seq(
      10L -> "shared text body one two three four five six seven",
      11L -> "unrelated corpus document about entirely other things here")),
      "doc_id", "sh", path)
    LshIndex.compactBucketedAndTruncate(spark, path, "doc_id")
    assert(catalog() === tables, "a rollover must register no catalog table")
    LshIndex.append(withSh(Seq(
      30L -> "a wholly new document admitted after rollover",
      31L -> "another admitted document that is later forgotten")),
      "doc_id", "sh", path)
    import spark.implicits._
    LshIndex.delete(spark, path, Seq(31L).toDF("doc_id"), "doc_id")
    def state() = (
      Tables.read(spark, path).collect().map(_.toString).sorted.toSeq,
      LshIndex.tombstones(spark, path).map(_.as[Long].collect().toSeq),
      Tables.at(spark, s"$path/${LshIndex.Bulk}").files.map(_.path).sorted)
    val before = state()
    intercept[IllegalStateException] {
      LshIndex.compactBucketedAndTruncate(spark, path, "doc_id",
        () => throw new IllegalStateException("crash before the publish"))
    }
    assert(state() === before,
      "ingest rows, markers and the bulk generation must be unchanged")
    assert(catalog() === tables)
    LshIndex.compactBucketedAndTruncate(spark, path, "doc_id")
    assert(catalog() === tables)
    assert(Tables.read(spark, path).count() === 0L)
    assert(LshIndex.tombstones(spark, path).isEmpty)
    assert(bulk(path).select("doc_id").distinct().as[Long].collect().toSet
      === Set(10L, 11L, 30L))
    val cand = hybrid(path, withSh(Seq(
      20L -> "shared text body one two three four five six seven",
      21L -> "unrelated corpus document about entirely other things here",
      40L -> "a wholly new document admitted after rollover")))
    assert(Set((20L, 10L), (21L, 11L), (40L, 30L)).subsetOf(cand),
      "the retry must serve every tier-1 doc and the folded wave")
  }

  test("a delete landing mid-rollover survives the truncate publish") {
    val path = graft.Scratch.fresh("lshindex_rollover_race") + "/idx"
    val corpus = withSh(Seq(
      10L -> "shared text body one two three four five six seven",
      11L -> "unrelated corpus document about entirely other things here"))
    LshIndex.write(corpus, "doc_id", "sh", path)
    import spark.implicits._
    // the delete lands AFTER the live read staged the new bulk but
    // BEFORE the rollover publishes
    LshIndex.compactBucketedAndTruncate(spark, path, "doc_id",
      () => LshIndex.delete(spark, path, Seq(10L).toDF("doc_id"), "doc_id"))
    assert(LshIndex.tombstones(spark, path).isDefined,
      "the mid-rollover marker must survive the rollover")
    val cand = hybrid(path, withSh(Seq(
      20L -> "shared text body one two three four five six seven")))
    assert(!cand.exists(_._2 == 10L),
      "a delete written during the rollover must keep masking the bulk")
  }

  test("an append and a delete landing mid-rollover both survive it") {
    val path = graft.Scratch.fresh("lshindex_rollover_append") + "/idx"
    LshIndex.write(withSh(Seq(
      10L -> "shared text body one two three four five six seven",
      11L -> "unrelated corpus document about entirely other things here")),
      "doc_id", "sh", path)
    import spark.implicits._
    // both land after the rollover read the ingest tier and staged the
    // new bulk, before it commits
    LshIndex.compactBucketedAndTruncate(spark, path, "doc_id",
      () => {
        LshIndex.append(withSh(Seq(
          30L -> "a wholly new document admitted during the rollover")),
          "doc_id", "sh", path)
        LshIndex.delete(spark, path, Seq(10L).toDF("doc_id"), "doc_id")
      })
    assert(Tables.read(spark, path).select("doc_id")
      .as[Long].collect().toSeq === Seq.fill(MinHashLSH.Bands)(30L),
      "the mid-rollover append must stay in the ingest tier")
    assert(LshIndex.tombstones(spark, path).map(_.as[Long].collect().toSeq)
      .contains(Seq(10L)), "the mid-rollover marker must survive")
    val cand = hybrid(path, withSh(Seq(
      20L -> "shared text body one two three four five six seven",
      40L -> "a wholly new document admitted during the rollover")))
    assert(cand.contains((40L, 30L)))
    assert(!cand.exists(_._2 == 10L))
  }

  test("rebuild applies pending tombstones and carries mid-rebuild deletes") {
    // docs 1/2 identical (hot pair => pairs > 0 fires the gate), doc 3
    // unique; capDf=5 keeps every shingle (df <= 2), so the rebuild is
    // content-preserving except for the deletes under test
    val docs = withSh(Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      3L -> "totally different content with its own words here"))
    val path = graft.Scratch.fresh("lshindex_rebucket_ts") + "/idx"
    LshIndex.write(docs, "doc_id", "sh", path)
    import spark.implicits._
    // doc 2 is forgotten BEFORE the rebuild: the rebuild reads the
    // caller's corpus (which still contains doc 2), so without the
    // filterLive the publish would resurrect it and destroy its marker
    LshIndex.delete(spark, path, Seq(2L).toDF("doc_id"), "doc_id")
    // doc 3 is forgotten DURING the rebuild: its marker must be carried
    val (_, rebuilt) = LshIndex.rebucketIfSkewed(spark, path, docs,
      "doc_id", "sh", capDf = 5L, pairBudget = 0L,
      () => LshIndex.delete(spark, path, Seq(3L).toDF("doc_id"), "doc_id"))
    assert(rebuilt)
    assert(spark.read.parquet(path).select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet === Set(1L, 3L),
      "pre-rebuild delete must be applied physically, not resurrected")
    assert(LshIndex.tombstones(spark, path).isDefined,
      "the mid-rebuild marker must survive the publish swap")
    val cand = LshIndex.candidates(spark, path,
        withSh(Seq(
          20L -> "alpha beta gamma delta epsilon zeta eta theta",
          30L -> "totally different content with its own words here")),
        "doc_id", "sh")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((20L, 1L)))
    assert(!cand.exists(_._2 == 2L), "forgotten doc 2 must not serve")
    assert(!cand.exists(_._2 == 3L),
      "the carried marker must mask doc 3 at probe time")
  }

  test("hybrid probe computes the delta's band rows ONCE for both tiers") {
    val path = graft.Scratch.fresh("lshindex_hybrid_once") + "/idx"
    LshIndex.write(withSh(Seq(
        10L -> "shared text body one two three four five six seven")),
      "doc_id", "sh", path)
    try {
      LshIndex.compactBucketedAndTruncate(spark, path, "doc_id")
      LshIndex.append(
        withSh(Seq(30L -> "a wholly new document admitted after rollover")),
        "doc_id", "sh", path)
      val delta = withSh(Seq(
        20L -> "shared text body one two three four five six seven"))
      val cand = LshIndex.candidates(spark, path, delta, "doc_id", "sh")
      // both tier probes must read the CACHED band-rows frame — the
      // delta's MinHash signature scan is the dominant admission cost
      // and used to run once per tier (round-9 verdict #4)
      val plan = cand.queryExecution.executedPlan.toString
      val scans = "InMemoryTableScan".r.findAllIn(plan).length
      assert(scans >= 2,
        s"both tiers must probe the cached delta band rows:\n$plan")
      assert(cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        .contains((20L, 10L)))
    } finally graft.CacheScope.releaseAll()
  }

  test("hybrid probe keeps the bulk table exchange-free") {
    val path = graft.Scratch.fresh("lshindex_hybrid_pin") + "/idx"
    val docs = (0L until 40L).map(i =>
      i -> s"document number $i body with distinct words w$i x$i y$i z$i")
    LshIndex.write(withSh(docs), "doc_id", "sh", path)
    LshIndex.compactBucketedAndTruncate(spark, path, "doc_id")
    LshIndex.append(
      withSh(Seq(50L -> "a post rollover admission with words v50 u50")),
      "doc_id", "sh", path)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val delta = withSh(Seq(
        100L -> "document number 7 body with distinct words w7 x7 y7 z7"))
      val plan = LshIndex.candidates(spark, path, delta,
        "doc_id", "sh").queryExecution.executedPlan.toString
      // exchanges with the bulk side co-located: delta into the bulk's
      // bucket layout (1), both sides of the path-tier join (2), the
      // closing distinct (1) = 4. A shuffling bulk side makes it 5.
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(exchanges <= 4,
        s"bulk table side of the hybrid probe must not shuffle " +
          s"($exchanges exchanges):\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("compact refuses an index whose bulk tier holds files, so bulk " +
      "rows stay masked") {
    val path = graft.Scratch.fresh("lshindex_compact_bulk") + "/idx"
    LshIndex.write(withSh(Seq(
      10L -> "shared text body one two three four five six seven",
      11L -> "unrelated corpus document about entirely other things here")),
      "doc_id", "sh", path)
    LshIndex.compactBucketedAndTruncate(spark, path, "doc_id")
    import spark.implicits._
    LshIndex.delete(spark, path, Seq(10L).toDF("doc_id"), "doc_id")
    val dupOf10 = withSh(Seq(
      20L -> "shared text body one two three four five six seven"))
    assert(hybrid(path, dupOf10) === Set())
    // the markers mask bulk rows; a compaction of the ingest tier alone
    // would drop them and serve doc 10 again
    intercept[IllegalArgumentException] {
      LshIndex.compact(spark, path, "doc_id")
    }
    assert(LshIndex.tombstones(spark, path).isDefined)
    assert(hybrid(path, dupOf10) === Set())
  }

  test("rebucketIfSkewed over a two-tier index counts both tiers, keeps " +
      "deletes masked and holds each live doc once") {
    val docs = withSh(Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      10L -> "shared text body one two three four five six seven",
      11L -> "unrelated corpus document about entirely other things here"))
    val path = graft.Scratch.fresh("lshindex_rebucket_bulk") + "/idx"
    LshIndex.write(docs, "doc_id", "sh", path)
    LshIndex.compactBucketedAndTruncate(spark, path, "doc_id")
    import spark.implicits._
    LshIndex.delete(spark, path, Seq(10L).toDF("doc_id"), "doc_id")
    // capDf = 5 keeps every shingle, so the rebuild changes only layout
    val (pairs, rebuilt) = LshIndex.rebucketIfSkewed(spark, path, docs,
      "doc_id", "sh", capDf = 5L, pairBudget = 0L)
    assert(pairs >= MinHashLSH.Bands, "docs 1/2 collide in every band")
    assert(rebuilt)
    val perDoc = LshIndex.rows(spark, path).groupBy(col("doc_id")).count()
      .as[(Long, Long)].collect().toMap
    assert(perDoc === Map(1L -> MinHashLSH.Bands.toLong,
      2L -> MinHashLSH.Bands.toLong, 11L -> MinHashLSH.Bands.toLong),
      "each live doc once across both tiers, the deleted one gone")
    assert(hybrid(path, withSh(Seq(
        20L -> "shared text body one two three four five six seven"))) ===
      Set(), "the deleted doc must stay masked")
  }

  test("rebucketIfSkewed: below budget nothing moves; above it hot " +
      "shingles drop and pair cost falls") {
    // two near-identical docs (one hot collision) + one unique doc
    val docs = withSh(Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      3L -> "totally different content with its own words here"))
    val path = graft.Scratch.fresh("lshindex_rebucket") + "/idx"
    LshIndex.write(docs, "doc_id", "sh", path)
    val before = spark.read.parquet(path)
      .collect().map(_.toString).sorted.toSeq
    // generous budget: the gate must NOT fire and must NOT touch files
    val (pairs1, rebuilt1) = LshIndex.rebucketIfSkewed(spark, path, docs,
      "doc_id", "sh", capDf = 1L, pairBudget = 1000L)
    assert(!rebuilt1 && pairs1 > 0)
    assert(spark.read.parquet(path)
      .collect().map(_.toString).sorted.toSeq === before)
    // zero budget: rebuild fires; docs 1/2's shared shingles have df=2
    // > capDf=1 so they drop out entirely (all-boilerplate), doc 3's
    // unique shingles survive
    val (pairs2, rebuilt2) = LshIndex.rebucketIfSkewed(spark, path, docs,
      "doc_id", "sh", capDf = 1L, pairBudget = 0L)
    assert(rebuilt2 && pairs2 === pairs1)
    val after = spark.read.parquet(path)
    assert(after.select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet === Set(3L))
    // the rebuilt index's probe cost is below the old one
    val pairsAfter = after
      .groupBy(col("band"), col("bkt")).agg(count(lit(1)).as("s"))
      .agg(coalesce(sum(expr("(s * (s - 1)) div 2")), lit(0L)))
      .head.getLong(0)
    assert(pairsAfter < pairs1)
  }

  test("compact coalesces append fragments without changing content") {
    val path = graft.Scratch.fresh("lshindex_compact") + "/idx"
    val docs = (0L until 6L).map(i =>
      i -> s"document number $i with its own words here now")
    LshIndex.write(withSh(docs.take(1)), "doc_id", "sh", path)
    docs.drop(1).foreach(d =>
      LshIndex.append(withSh(Seq(d)), "doc_id", "sh", path))
    def files() = spark.read.parquet(path).select(input_file_name())
      .distinct().count()
    def content() = spark.read.parquet(path)
      .collect().map(_.toString).sorted.toSeq
    val before = content()
    assert(files() >= 6L) // one fragment per append
    LshIndex.compact(spark, path, "doc_id")
    assert(files() === 1L)
    assert(content() === before)
  }
}
