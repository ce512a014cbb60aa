package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.functions.{Stable, Text}
import graft.sources.{Table, Tables, Tombstones}

/** Persisted BM25 inverted index with O(delta) incremental maintenance —
  * the KEYWORD-retrieval tier beside the vector families ([[IvfAnn]],
  * [[IvfPq]], [[ScalarQuantizer]], [[BinaryQuantizer]]) and the dedup
  * families ([[LshIndex]], [[SimHashIndex]]). A training-data pipeline
  * needs lexical search as much as embeddings: decontamination probes,
  * targeted corpus audits ("every document mentioning X"), and the BM25
  * leg of hybrid retrieval (reference scope: the corpus-curation north
  * star; the reference itself has no retrieval surface at all).
  *
  * Layout under `dir` — ONE partitioned table, `postings/`, with its own
  * commit log (`postings/_log`, [[Tables.commit]]), so every lifecycle op
  * is a single commit (round-13: the previous
  * three-directory layout cost each streamed [[append]] 3 write jobs —
  * postings + doclens + stats — per micro-batch; at 100 TB that is 3
  * object-store commits where 1 suffices, and at gate scale it was the
  * q162 job-count ceiling):
  *  - bucket partitions `bkt >= 0` — `(term, doc_id, tf, dl)` posting
  *    rows, `bkt = pmod(xxhash64(term), Buckets)`: a probe touches only
  *    its query terms' bucket DIRECTORIES (partition pruning — the
  *    probed bucket ids are computed on the driver from the bounded
  *    query batch and pushed as literals), so probe I/O tracks query
  *    vocabulary, never corpus size. `dl` (document token length) is
  *    denormalized into the posting row — the classic inverted-file
  *    trick that makes scoring a single equi-join with zero side
  *    lookups. The bucket modulus and the positional flag are
  *    properties of the table in its log (self-describing layout —
  *    [[growBucketsIfHot]] can change the modulus, and it moves
  *    atomically with the rows it bucketed).
  *  - partition `bkt = -1` ([[DlBkt]]) — doclen rows `(doc_id, dl)`,
  *    consulted only by [[delete]] to price a forgotten document's
  *    stats correction; never read at probe time (probes prune to
  *    their query terms' non-negative buckets).
  *  - partition `bkt = -2` ([[StBkt]]) — additive `(n_docs, sum_dl)`
  *    stats rows: one per [[write]]/[[append]], one NEGATIVE row per
  *    [[delete]]. Serving stats are the SUM of the rows, so corpus-wide
  *    n/avgdl cost O(ops) rows to read — never a corpus scan. Rows grow
  *    with operation count, not data, so the partition stays tiny.
  * Meta rows carry the posting columns as NULLs (and vice versa), so
  * one schema serves the whole table; readers select their partition by
  * `bkt` literal and parquet prunes the rest.
  *
  * Lifecycle contracts (the shared index-family discipline):
  *  - [[append]] is O(|batch|) new files; it REFUSES ids with a pending
  *    tombstone (fail-fast) instead of [[LshIndex]]'s unmark-and-serve-
  *    both: BM25 stats are content-weighted, so serving a readmitted
  *    doc's old and new postings side by side would corrupt tf/df
  *    rather than be absorbed by a DISTINCT the way the dedup families'
  *    candidate joins absorb duplicate band rows. Compact first.
  *  - [[delete]] is O(|deletes|) and ONE commit: a marker masks the
  *    doc's postings at probe time immediately, and one negative `stats`
  *    row (priced from `doclens` at delete time, NOT at probe time)
  *    keeps n/avgdl exact — so the served scores equal an index built on
  *    the live set, which is exactly what the q160 oracle checks. A
  *    delete that hits nothing commits nothing.
  *  - [[compact]] and [[growBucketsIfHot]] rewrite exactly the files
  *    they read in one commit, so a delete or an append landing
  *    mid-rewrite survives it (its files are ones the rewrite never
  *    read). Appends must not run during a grow: their rows would be
  *    bucketed under the modulus the grow replaces.
  */
object TextIndex {

  /** Term-hash partition count for the postings layout. 64 directories
    * keeps per-bucket vocabulary ~1/64 while staying far under any
    * filesystem's directory-count pain; at 100 TB raise it with corpus
    * vocabulary (it is a layout constant, invisible to results).
    */
  val Buckets = 64

  /** Reserved meta partitions of the single-table layout (term hashes
    * land in [0, modulus), so negatives can never collide with a real
    * bucket): [[DlBkt]] holds doclen rows, [[StBkt]] the additive stats
    * rows. Probes prune to non-negative buckets and never read either.
    */
  val DlBkt = -1
  val StBkt = -2

  /** BM25 constants (the standard Robertson defaults). Literals — the
    * oracle SQL spells the same decimal strings, so both engines bind
    * bit-identical doubles.
    */
  val K1 = 1.2
  val B = 0.75

  private def bkt(term: Column, buckets: Int): Column =
    pmod(xxhash64(term), lit(buckets.toLong)).cast("int")

  /** The postings table of the index at `dir` (its latest snapshot). */
  private def table(spark: SparkSession, dir: String): Table =
    Tables.at(spark, s"$dir/postings")

  /** The layout's bucket modulus and positional flag — properties of the
    * postings table in its log, so they move atomically with every
    * commit that changes them: a probe or append computing `bkt` with a
    * stale modulus would prune the WRONG directories and silently miss
    * postings.
    */
  private def layout(t: Table): (Int, Boolean) = {
    val nb = t.prop("buckets").getOrElse(throw new IllegalArgumentException(
      s"${t.path} is not a TextIndex layout (rebuild via write())"))
    (nb.toInt, t.prop("positional").contains("true"))
  }

  def layout(spark: SparkSession, dir: String): (Int, Boolean) =
    layout(table(spark, dir))

  def readBuckets(spark: SparkSession, dir: String): Int =
    layout(spark, dir)._1

  private def props(buckets: Int, withPositions: Boolean) =
    Map("buckets" -> buckets.toString, "positional" -> withPositions.toString)

  /** `(bkt, term, doc_id, tf, dl)` posting rows for a document batch —
    * one scan: tokenize, per-(doc, term) counts, and the doc length
    * re-joined from the same token frame. Zero-token documents vanish
    * (they have no postings and no length — both engines agree).
    */
  def postings(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int = Buckets, withPositions: Boolean = false): DataFrame = {
    val tok = docs
      .select(col(idCol).as("doc_id"),
        posexplode(Text.tokens(col(textCol))).as(Seq("p", "term")))
    // positional layouts add `pos` (sorted 0-based token offsets) per
    // posting row — the phrase/proximity probe's adjacency input; the
    // rest of the row and the bucket layout are identical, so every
    // lifecycle op (append/delete/compact/grow) carries it untouched
    val tf =
      if (withPositions)
        tok.groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"),
            sort_array(collect_list(col("p"))).as("pos"))
      else
        tok.groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
    // (doc, term) -> tf is already grouped; dl = sum of the doc's tfs —
    // a second agg over the SAME frame, so the token scan runs once
    val dl = tf.select(col("doc_id"), col("tf"))
      .groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val base = tf.join(dl, "doc_id")
    val cols = Seq(bkt(col("term"), buckets).as("bkt"), col("term"),
      col("doc_id"), col("tf"), col("dl")) ++
      (if (withPositions) Seq(col("pos")) else Nil)
    base.select(cols: _*)
  }

  /** `(doc_id, dl)` for a batch (token-bearing docs only). */
  private def doclens(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        size(Text.tokens(col(textCol))).cast("long").as("dl"))
      .filter(col("dl") > 0)

  private def totalsRow(dls: DataFrame): DataFrame =
    dls.agg(count(lit(1)).cast("long").as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))

  /** The single-table frame for one ingested batch: posting rows in
    * their term-hash buckets, the batch's doclen rows at [[DlBkt]], and
    * ONE additive stats row at [[StBkt]] — unioned so [[write]] and
    * [[append]] commit everything in one parquet write job instead of
    * three (round-13 §1.2/§6: q162's three streamed appends paid 3
    * commits each for one batch's worth of data).
    */
  private def batchRows(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int, withPositions: Boolean): DataFrame = {
    val nulls = Seq(lit(null).cast("long").as("n_docs"),
      lit(null).cast("long").as("sum_dl"))
    val posN = if (withPositions)
      Seq(lit(null).cast("array<int>").as("pos")) else Nil
    val post = postings(docs, idCol, textCol, buckets, withPositions)
      .select(Seq(col("bkt"), col("term"), col("doc_id"), col("tf"),
        col("dl")) ++ (if (withPositions) Seq(col("pos")) else Nil) ++
        nulls: _*)
    val dls = doclens(docs, idCol, textCol)
    val dlRows = dls.select(Seq(lit(DlBkt).as("bkt"),
      lit(null).cast("string").as("term"), col("doc_id"),
      lit(null).cast("long").as("tf"), col("dl")) ++ posN ++ nulls: _*)
    val stRow = totalsRow(dls).select(Seq(lit(StBkt).as("bkt"),
      lit(null).cast("string").as("term"),
      lit(null).cast("long").as("doc_id"),
      lit(null).cast("long").as("tf"), lit(null).cast("long").as("dl")) ++
      posN ++ Seq(col("n_docs"), col("sum_dl")): _*)
    post.unionByName(dlRows).unionByName(stRow)
  }

  /** Build the index for a corpus — ONE write job and ONE commit that
    * replaces any previous index whole, so a crash mid-build never
    * leaves postings without their totals (the [[IvfPq.writeIndex]]
    * crash-consistency discipline).
    */
  def write(docs: DataFrame, idCol: String, textCol: String,
      dir: String, buckets: Int = Buckets,
      withPositions: Boolean = false): Unit = {
    val t = table(docs.sparkSession, dir)
    Tables.commit(t.snap, "write") { tx =>
      tx.remove(t.tree)
      // NOT clustered by bucket before the partitioned write: the
      // repartition shuffle measurably slows every build at gate scale
      // (+1-3.5 s per write-heavy gate, round-11 measured) for a file-
      // count concern that compact() already owns — it restores one file
      // per bucket, and at 100 TB a build is followed by a compact as a
      // matter of course
      tx.put(t, batchRows(docs, idCol, textCol, buckets, withPositions),
        Seq("bkt"), props(buckets, withPositions))
    }
  }

  /** Absorb a batch — O(|batch|) and ONE parquet commit: new posting
    * files into their bucket partitions, the batch's doclen files into
    * [[DlBkt]], one additive totals row into [[StBkt]]. Fails fast if
    * any batch id has a pending tombstone (see the class doc for why
    * this family cannot serve old and new rows side by side).
    */
  def append(batch: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    val t = table(batch.sparkSession, dir)
    Tombstones.read(t).foreach { ts =>
      val pending = ts.join(
        batch.select(col(idCol).as(Tombstones.Col)).distinct(),
        Seq(Tombstones.Col), "left_semi")
      require(pending.isEmpty,
        "TextIndex.append: batch contains tombstoned ids — compact() " +
          "the index before re-ingesting a deleted document (BM25 tf/df " +
          "cannot serve a doc's old and new postings side by side)")
    }
    // the layout self-describes its encoding: a positional index's
    // appended rows must carry positions too, or a later phrase probe
    // would silently miss the appended docs
    val (nb, withPos) = layout(t)
    Tables.commit(t.snap, "append")(
      _.put(t, batchRows(batch, idCol, textCol, nb, withPos), Seq("bkt")))
  }

  /** Forget documents — O(|deletes|) and ONE commit: tombstone markers
    * mask the docs' postings at probe time IMMEDIATELY, and one negative
    * stats row (the docs' count and summed length, looked up in the
    * [[DlBkt]] doclen partition now so probes never pay for it) keeps
    * served n/avgdl equal to the live set's. Ids already marked are
    * skipped, so a repeated delete cannot double-subtract; ids never
    * indexed contribute nothing, and a delete that hits nothing commits
    * nothing.
    */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String): Unit = {
    val t = table(spark, dir)
    val doomed0 = ids.select(col(idCol).as("doc_id")).distinct()
    val doomed = Tombstones.read(t) match {
      case Some(ts) => doomed0.join(ts,
        doomed0("doc_id") === ts(Tombstones.Col), "left_anti")
      case None => doomed0
    }
    val postings = t.df
    val hit = postings
      .filter(col("bkt") === DlBkt)
      .select(col("doc_id"), col("dl"))
      .join(broadcast(doomed), "doc_id")
      .transform(graft.CacheScope.cache)
    // the hit count rides the stats row's staging as an OBSERVED metric
    // instead of its own count action (round-13 §1.2); a delete that hit
    // nothing drops the staged (0, 0) row and commits nothing
    val posN = if (postings.columns.contains("pos"))
      Seq(lit(null).cast("array<int>").as("pos")) else Nil
    val obs = org.apache.spark.sql.Observation()
    Tables.commit(t.snap, "delete") { tx =>
      tx.put(t, hit.observe(obs, count(lit(1)).as("n"))
        .agg((-count(lit(1))).cast("long").as("n_docs"),
          (-coalesce(sum(col("dl")), lit(0L))).as("sum_dl"))
        .select(Seq(lit(StBkt).as("bkt"),
          lit(null).cast("string").as("term"),
          lit(null).cast("long").as("doc_id"),
          lit(null).cast("long").as("tf"),
          lit(null).cast("long").as("dl")) ++ posN ++
          Seq(col("n_docs"), col("sum_dl")): _*), Seq("bkt"))
      if (obs.get("n").asInstanceOf[Long] > 0L)
        Tombstones.put(tx, t, hit, "doc_id")
      else tx.cancel()
    }
    graft.CacheScope.release(hit)
  }

  /** The index's serving stats: ONE row `(n_docs, sum_dl)` — the sum of
    * the additive totals rows (live set exactly, since every delete
    * subtracted its docs). Partition-pruned to [[StBkt]]: O(operations)
    * rows read, never a corpus scan.
    */
  def totals(spark: SparkSession, dir: String): DataFrame =
    totals(table(spark, dir))

  private def totals(t: Table): DataFrame =
    t.df.filter(col("bkt") === StBkt)
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("sum_dl")).cast("long").as("sum_dl"))

  /** Apply pending tombstones physically and restore one file per
    * bucket: ONE commit rewrites the files it read, dropping marked docs'
    * posting AND doclen rows together (one marker set, one pass — the
    * stats rows carry a NULL doc_id so no marker can ever match them
    * and they ride along untouched: they are already correct, additive,
    * deletes subtracted at delete time), and removes the markers it
    * applied. A delete committed while the rewrite ran is files the
    * rewrite never read, so its marker and stats row survive and keep
    * masking — its doclen rows also survive, correctly: a re-delete is
    * refused while the marker is pending, and the NEXT compact applies
    * both sides at once. Postings and doclens can never be rewritten
    * against different marker sets.
    */
  def compact(spark: SparkSession, dir: String): Unit =
    compact(spark, dir, () => ())

  /** Test seam: `midCompact` runs after the rewrite staged its files and
    * before it commits — the whole window a concurrent delete can land
    * in between the rewrite's read and its commit.
    */
  private[graft] def compact(spark: SparkSession, dir: String,
      midCompact: () => Unit): Unit = {
    val t = table(spark, dir)
    Tables.commit(t.snap, "compact") { tx =>
      tx.remove(t.files ++ Tombstones.markers(t).files)
      tx.put(t, Tombstones.filterLive(t, t.df, "doc_id")
        .repartition(col("bkt")), Seq("bkt"))
      midCompact()
    }
  }

  /** Skew-gated BUCKET growth — the when-to-rebucket decision leg for
    * the postings layout (the [[LshIndex.rebucketIfSkewed]] /
    * [[IvfAnn.retrainIfDrifted]] discipline for this family). The
    * signal is the hottest bucket's LIVE posting-row count: probe cost
    * per query term is one bucket directory, so a bucket that outgrew
    * `maxPostingsPerBucket` makes every probe of its terms scan that
    * much. Above the budget the postings rewrite under DOUBLE the
    * modulus in one commit (markers stay for the next [[compact]] to
    * apply; mid-rebuild deletes survive), which also records the new
    * modulus. Doubling
    * splits a bucket's VOCABULARY in half (expected); a single
    * ultra-hot TERM cannot be split by any modulus — its posting list
    * is irreducible probe cost (cap-df pruning is a different, score-
    * changing lever this engine deliberately does not hide in a layout
    * op). Purely physical: serving results are bit-identical before and
    * after (spec-pinned; q163 serves through the post-decision layout).
    *
    * Returns one row `(grown, buckets_before, buckets_after,
    * max_bucket_rows)`.
    */
  def growBucketsIfHot(spark: SparkSession, dir: String,
      maxPostingsPerBucket: Long): DataFrame =
    growBucketsIfHot(spark, dir, maxPostingsPerBucket, () => ())

  /** Test seam: `midGrow` runs right after the rewrite resolved its
    * snapshot — the [[compact]] seam for this rewrite.
    */
  private[graft] def growBucketsIfHot(spark: SparkSession, dir: String,
      maxPostingsPerBucket: Long, midGrow: () => Unit): DataFrame = {
    import spark.implicits._
    val t = table(spark, dir)
    val (before, withPos) = layout(t)
    val rows = t.df
    midGrow()
    // signal over ALL posting rows (masked ones included: a probe's
    // bucket scan pays for tombstoned rows too until a compact drops
    // them) — but never the meta partitions, which no probe reads
    val maxRows = rows.filter(col("bkt") >= 0)
      .groupBy(col("bkt")).agg(count(lit(1)).as("n"))
      .agg(coalesce(max(col("n")), lit(0L))).collect().head.getLong(0)
    val grow = maxRows > maxPostingsPerBucket
    if (grow) {
      val after = before * 2
      // purely physical: every row rides along (tombstone APPLICATION
      // is compact's job — applying here would strand stale doclen
      // rows), and no marker file is removed, so masking semantics and
      // the delete lifecycle are untouched by the re-bucketing. Meta rows
      // (bkt < 0) keep their reserved partitions — only term rows
      // re-bucket under the doubled modulus.
      Tables.commit(t.snap, "grow") { tx =>
        tx.remove(t.files)
        tx.put(t, rows.withColumn("bkt",
            when(col("bkt") < 0, col("bkt"))
              .otherwise(bkt(col("term"), after)))
          .repartition(col("bkt")), Seq("bkt"), props(after, withPos))
      }
    }
    Seq((grow, before, if (grow) before * 2 else before, maxRows))
      .toDF("grown", "buckets_before", "buckets_after", "max_bucket_rows")
  }

  /** Term-level index health — the oracle-checkable half of the
    * telemetry pair ([[growBucketsIfHot]]'s bucket signal is layout
    * arithmetic DuckDB can't replay; these are corpus facts it can):
    * one row `(vocab, max_df, hot_terms, total_postings)` over the LIVE
    * postings, where `hot_terms` counts terms present in more than
    * `hotFrac` of the live corpus — the stopword mass that dominates
    * probe cost and posting-list skew. A maintenance-time full scan of
    * the index (the q117/q128 discipline), never a probe-path cost.
    */
  def healthReport(spark: SparkSession, dir: String,
      hotFrac: Double): DataFrame = {
    val t = table(spark, dir)
    val live = Tombstones.filterLive(t, t.df.filter(col("bkt") >= 0),
      "doc_id")
    val dfr = live.groupBy(col("term")).agg(count(lit(1)).as("df"))
    dfr.crossJoin(broadcast(totals(t)))
      .agg(count(lit(1)).cast("long").as("vocab"),
        max(col("df")).cast("long").as("max_df"),
        sum(when(col("df").cast("double") >
          lit(hotFrac) * col("n_docs").cast("double"), 1L).otherwise(0L))
          .cast("long").as("hot_terms"),
        sum(col("df")).cast("long").as("total_postings"))
  }

  /** The query batch tokenized once, on the driver: the `qid` field (so
    * frames built from the rows keep its type) and `(qid, tokens)` per
    * query row, a null text having no tokens. A query batch is bounded
    * by contract, and a projection over a local batch folds into a
    * local relation, so the collect starts no job.
    */
  private def queryTokens(queries: DataFrame, qidCol: String,
      textCol: String): (StructField, Seq[(Any, Seq[String])]) = {
    val q = queries.select(col(qidCol).as("qid"),
      Text.tokens(col(textCol)).as("tk"))
    (q.schema("qid"), q.collect().toSeq.map(r =>
      (r.get(0), if (r.isNullAt(1)) Nil else r.getSeq[String](1))))
  }

  /** A local frame of `rows`: broadcasting it starts no job. */
  private def local(spark: SparkSession, fields: Seq[StructField],
      rows: Seq[Product]): DataFrame =
    spark.createDataFrame(rows.map(Row.fromTuple).asJava, StructType(fields))

  private def counts[K](keys: Seq[K]): Seq[(K, Long)] =
    keys.groupMapReduce(identity)(_ => 1L)(_ + _).toSeq

  private val termField = StructField("term", StringType)

  /** The live posting rows, projected to `cols`, of `terms` — the probe
    * leg every query path shares. The terms' bucket ids come from the
    * layout's `bkt` expression over a local frame of the terms (it
    * folds, so no job), and the postings read is pruned by literals:
    * `bkt IN (…)` selects the bucket directories and `term IN (…)` the
    * exact terms, both pushed into the scan. Tombstoned docs are masked.
    */
  private def probed(t: Table, terms: Seq[String],
      cols: Seq[String]): DataFrame = {
    val spark = t.snap.spark
    import spark.implicits._
    val bkts = terms.toDF("term").select(bkt(col("term"), layout(t)._1))
      .collect().map(_.getInt(0)).distinct.toSeq
    Tombstones.filterLive(t, t.df
        .filter(col("bkt").isin(bkts: _*) && col("term").isin(terms: _*))
        .select(cols.map(col): _*), "doc_id")
  }

  /** BM25 top-k per query — the probe path, planned on the driver from
    * the bounded query batch. The batch is tokenized once on the driver
    * ([[queryTokens]]), which counts `qtf` and hands `(qid, term, qtf)`
    * back as a local frame; the postings read is pruned to the query
    * terms by literals ([[probed]]); per-term document frequency is one
    * `count(1) OVER (PARTITION BY term)` over the pruned live rows; and
    * the corpus stats `(n_docs, sum_dl)` of the same snapshot are
    * collected once and bound as double literals. NOTHING in the probe
    * scales with corpus size except the probed posting lists
    * themselves, and the call registers no [[graft.CacheScope]] entry.
    * Scores sum per (query, doc) through [[Stable]]'s decimal grid
    * (partition-order-invariant despite the float `ln`), and top-k per
    * query runs on the bounded-heap [[graft.plans.TopKPerKeyPlan]]
    * operator, whose `qid` partitioning the rank window reuses.
    *
    * Output: `(qid, rank, doc_id, bm25)`, rank 1..k by (score desc,
    * doc_id), bm25 rounded to 4 decimals; `qid` keeps the input
    * column's type.
    */
  def searchTopK(spark: SparkSession, dir: String, queries: DataFrame,
      qidCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (qid, toks) = queryTokens(queries, qidCol, textCol)
    val qtf = counts(toks.flatMap { case (q, ts) => ts.map(q -> _) })
    val qt = local(spark, Seq(qid, termField,
        StructField("qtf", LongType, nullable = false)),
      qtf.map { case ((q, term), n) => (q, term, n) })
    // ONE snapshot serves the probe, its modulus (growBucketsIfHot may
    // have changed it) and the stats
    val t = table(spark, dir)
    // the stats rows (O(operations)) collected in one job and summed
    // here: a global aggregate would cost a second job; null when the
    // table holds no stats row, as in [[totals]]
    val st = t.df.filter(col("bkt") === StBkt)
      .select(col("n_docs"), col("sum_dl")).collect()
    def total(i: Int): Column = lit(st.filterNot(_.isNullAt(i))
      .map(_.getLong(i)).reduceOption(_ + _).map(Long.box).orNull)
      .cast("double")
    val post = probed(t, qtf.map(_._1._2).distinct,
        Seq("term", "doc_id", "tf", "dl"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))

    val nD = total(0)
    val idf = log(lit(1.0) +
      (nD - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tfNorm = (col("tf").cast("double") * lit(K1 + 1)) /
      (col("tf").cast("double") + lit(K1) *
        (lit(1 - B) + lit(B) * col("dl").cast("double") * nD /
          total(1)))
    val scored = post.join(broadcast(qt), "term")
      .select(col("qid"), col("doc_id"),
        (col("qtf").cast("double") * idf * tfNorm).as("c"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(Stable.sumD(col("c")).as("score"))
    Dedup.topKPerKey(scored, Seq("qid"),
        Seq(col("score").desc, col("doc_id").asc), k)
      .withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("qid"), col("rank"), col("doc_id"),
        round(col("score") + lit(1e-9), 4).as("bm25"))
      // at most k rows per query: one partition sorts them with no range
      // exchange (whose bounds cost a sampling job of their own)
      .coalesce(1).sortWithinPartitions(col("qid"), col("rank"))
  }

  /** Exact-phrase probe over a POSITIONAL layout — the decontamination
    * primitive bag-of-words BM25 cannot express ("does this eval
    * question appear VERBATIM in the corpus?"). Fails fast unless the
    * index was written `withPositions = true`. The probe keeps
    * [[searchTopK]]'s shape — query slots and lengths planned on the
    * driver, the postings read pruned by bucket and term literals,
    * tombstone mask — so cost is O(query-vocabulary posting lists +
    * their position arrays), never a corpus scan.
    *
    * Adjacency is position arithmetic, not a self-join per term pair:
    * phrase slot `i` matching at token offset `p` anchors candidate
    * start `base = p − i`, and `base` is a verbatim occurrence iff ALL
    * `m` slots anchor it — one (qid, doc, base) groupBy counting slot
    * hits (unique by construction: offsets are distinct within a
    * posting row, so each slot hits a base at most once; a term
    * repeated in the phrase occupies multiple slots and must match at
    * multiple offsets).
    *
    * Output: `(qid, doc_id, n_occurrences)` for docs with ≥1 verbatim
    * occurrence — all-integer, no float surface.
    */
  def phraseSearch(spark: SparkSession, dir: String, queries: DataFrame,
      qidCol: String, textCol: String): DataFrame = {
    val t = table(spark, dir)
    require(layout(t)._2,
      "phraseSearch needs a positional layout: write(..., withPositions = true)")
    // slot = the term's 0-based offset in its query (posexplode's pos)
    val (qid, toks) = queryTokens(queries, qidCol, textCol)
    val slots = toks.flatMap { case (q, ts) =>
      ts.zipWithIndex.map { case (term, i) => (q, i, term) } }
    val qslots = local(spark, Seq(qid,
        StructField("slot", IntegerType, nullable = false), termField), slots)
    val qlen = local(spark, Seq(qid,
        StructField("m", LongType, nullable = false)),
      counts(slots.map(_._1)))
    val post = probed(t, slots.map(_._3).distinct,
      Seq("term", "doc_id", "pos"))
    qslots.join(post, "term")
      .select(col("qid"), col("doc_id"), col("slot"),
        explode(col("pos")).as("p"))
      .select(col("qid"), col("doc_id"),
        (col("p").cast("long") - col("slot").cast("long")).as("base"),
        col("slot"))
      .groupBy(col("qid"), col("doc_id"), col("base"))
      .agg(count(lit(1)).as("hits"))
      .join(broadcast(qlen), "qid")
      .filter(col("hits") === col("m"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_occurrences"))
  }

  /** Unordered proximity probe over a POSITIONAL layout: documents
    * where ALL distinct query terms co-occur within some `window`
    * consecutive tokens, with the TIGHTEST such span reported — the
    * "quoted-with-slop" relative of [[phraseSearch]] (plagiarism /
    * decontamination sweeps tolerate reordering and inserted words;
    * verbatim phrase match does not).
    *
    * The minimal cover is computed relationally (no per-doc sweep
    * state): every probed position is a candidate window END; for each
    * (end, term) the best start contribution is the term's latest
    * position ≤ end; a window end where all `m` terms have one yields
    * span `end − min(best) + 1`, and the per-doc minimum over ends is
    * exact. Cost is O(Σ positions² per doc) over PROBED posting rows
    * only — bounded by the query vocabulary's lists, never the corpus,
    * and the oracle replays the identical joins.
    *
    * Output: `(qid, doc_id, min_span)`, min_span ≤ window — all-integer.
    */
  def proximitySearch(spark: SparkSession, dir: String, queries: DataFrame,
      qidCol: String, textCol: String, window: Int): DataFrame = {
    val t = table(spark, dir)
    require(layout(t)._2,
      "proximitySearch needs a positional layout: write(..., withPositions = true)")
    val (qid, toks) = queryTokens(queries, qidCol, textCol)
    val pairs = toks.flatMap { case (q, ts) => ts.distinct.map(q -> _) }
    val qterms = local(spark, Seq(qid, termField), pairs)
    val qm = local(spark, Seq(qid,
        StructField("m", LongType, nullable = false)),
      counts(pairs.map(_._1)))
    val post = probed(t, pairs.map(_._2).distinct,
      Seq("term", "doc_id", "pos"))
    val tp = graft.CacheScope.cache(
      qterms.join(post, "term")
        .select(col("qid"), col("doc_id"), col("term"),
          explode(col("pos")).as("p0"))
        .select(col("qid"), col("doc_id"), col("term"),
          col("p0").cast("long").as("p")))
    val ends = tp.select(col("qid"), col("doc_id"), col("p").as("end"))
      .distinct()
    ends.join(tp, Seq("qid", "doc_id"))
      .filter(col("p") <= col("end"))
      .groupBy(col("qid"), col("doc_id"), col("end"), col("term"))
      .agg(max(col("p")).as("bp"))
      .groupBy(col("qid"), col("doc_id"), col("end"))
      .agg(count(lit(1)).as("covered"), min(col("bp")).as("start"))
      .join(broadcast(qm), "qid")
      .filter(col("covered") === col("m"))
      .select(col("qid"), col("doc_id"),
        (col("end") - col("start") + lit(1L)).as("span"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(min(col("span")).cast("long").as("min_span"))
      .filter(col("min_span") <= window)
  }

  /** DuckDB-oracle CTE chain replaying [[searchTopK]] over `corpusCte`
    * and `queriesCte` (each `SELECT doc_id|qid, text ...`): tokenize →
    * postings/doclens/totals → per-term df → the BM25 kernel with the
    * SAME decimal literals → decimal-grid sum → rank. Kept textually
    * parallel to the Column expressions above — the bit-equality of the
    * two engines' scores is the gate.
    */
  def bm25OracleSql(corpusCte: String, queriesCte: String, k: Int): String =
    s"""WITH ${bm25CtesSql(corpusCte, queriesCte)},
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY qid
      |    ORDER BY score DESC, doc_id) AS rk FROM scored)
      |SELECT qid, CAST(rk AS BIGINT) AS rank, doc_id,
      |  round(score + 1e-9, 4) AS bm25
      |FROM ranked WHERE rk <= $k
      |ORDER BY qid, rank""".stripMargin

  /** The [[bm25OracleSql]] CTE chain up to `scored (qid, doc_id, score)`
    * — exposed so composition oracles (hybrid rank fusion) can extend it.
    */
  def bm25CtesSql(corpusCte: String, queriesCte: String): String =
    s"""live AS ($corpusCte),
      |tok AS (SELECT doc_id,
      |    unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |      t -> t != '')) AS term
      |  FROM live),
      |post AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
      |  FROM tok GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
      |  FROM tok GROUP BY 1),
      |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
      |qdocs AS ($queriesCte),
      |qt AS (SELECT qid, unnest(list_filter(
      |      regexp_split_to_array(lower(text), '\\s+'), t -> t != '')) AS term
      |  FROM qdocs),
      |qtf AS (SELECT qid, term, CAST(count(*) AS BIGINT) AS qtf
      |  FROM qt GROUP BY 1, 2),
      |dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df
      |  FROM post GROUP BY 1),
      |contrib AS (
      |  SELECT q.qid, p.doc_id,
      |    CAST(q.qtf AS DOUBLE)
      |      * ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE)
      |          + 0.5) / (CAST(f.df AS DOUBLE) + 0.5))
      |      * (CAST(p.tf AS DOUBLE) * ${K1 + 1})
      |      / (CAST(p.tf AS DOUBLE) + $K1 * (${1 - B}
      |          + $B * CAST(d.dl AS DOUBLE) * CAST(s.n_docs AS DOUBLE)
      |            / CAST(s.sum_dl AS DOUBLE))) AS c
      |  FROM qtf q JOIN post p USING (term) JOIN dfr f USING (term)
      |    JOIN dl d ON d.doc_id = p.doc_id CROSS JOIN stats s),
      |scored AS (
      |  SELECT qid, doc_id, ${Stable.sumDSql("c")} AS score
      |  FROM contrib GROUP BY 1, 2)""".stripMargin
}
