package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Bucketing, Table, Tables, Tombstones}

/** Persisted MinHash-LSH band index with O(delta) incremental
  * maintenance — the dedup-index counterpart of [[IvfAnn]]'s cell
  * layout (reference scope: the corpus-dedup north star; the reference
  * itself recomputes dedup from scratch each run, `03_bronze_processing
  * .py:63-87` row_number dedup).
  *
  * The index is a plain parquet table of `(doc_id, band, bkt)` rows —
  * [[MinHashLSH.Bands]] rows per document, one per signature band. A
  * NEW batch of documents is admitted by:
  *
  *  1. computing the batch's signatures/band rows (pure scalar scan,
  *     O(|delta|), no corpus access);
  *  2. probing the persisted index with an equi-join on `(band, bkt)` —
  *     candidate cost tracks true collision density, never
  *     |delta|×|corpus|;
  *  3. Jaccard-verifying candidates against ONLY the collided corpus
  *     docs' shingles (semi-join — O(matches) corpus re-reads);
  *  4. appending the non-duplicate docs' band rows — the corpus is
  *     never rewritten and the quantizer-free index never retrains.
  *
  * Two physical tiers serve the probe, both tables of the index root's
  * log: the root table (the ingest tier — appends are cheap, the probe
  * shuffles |delta|·Bands + collided index rows, AQE broadcasts the
  * delta side when small), and the bulk tier [[Bulk]] a rollover
  * ([[compactBucketedAndTruncate]]) builds, bucketed by `(band, bkt)`
  * (the 100 TB steady state — its probe plans with zero exchange over
  * the index side, so the corpus-sized scan never moves however big the
  * delta). [[candidates]] is the one probe: it reads whichever tiers
  * hold files, under one marker set.
  */
object LshIndex {

  /** `(idCol, band, bkt)` band-bucket rows for every input doc:
    * the exploded LSH index entries of `shCol` (distinct shingle
    * hashes). Exactly [[MinHashLSH.Bands]] rows per input row.
    */
  def bandRows(df: DataFrame, idCol: String, shCol: String): DataFrame = {
    import MinHashLSH.{Bands, RowsPerBand}
    df.withColumn("__sig", MinHashLSH.signature(col(shCol)))
      .select(col(idCol), explode(array((0 until Bands).map { b =>
        struct(lit(b).as("band"),
          array_join(slice(col("__sig"), b * RowsPerBand + 1, RowsPerBand), "_")
            .as("bkt"))
      }: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.bkt").as("bkt"))
  }

  /** Materialize the index for a corpus (one overwrite commit). */
  def write(corpus: DataFrame, idCol: String, shCol: String,
      path: String): Unit =
    Tables.overwrite(bandRows(corpus, idCol, shCol), path)

  /** The probe join shared by both tiers: prebuilt delta band rows
    * equi-joined to an index frame on `(band, bkt)`. Taking the band
    * rows (not the raw delta) lets a two-tier probe reuse ONE signature
    * scan of the delta across tiers ([[candidates]]).
    */
  private def probeBands(dBand: DataFrame, index: DataFrame,
      idCol: String): DataFrame =
    dBand.as("d")
      .join(index.as("c"),
        col("d.band") === col("c.band") && col("d.bkt") === col("c.bkt"))
      .select(col(s"d.$idCol").as("deltaId"), col(s"c.$idCol").as("indexId"))

  /** The tiers of one snapshot that hold rows: the bulk tier when its
    * table holds files, the ingest tier when it does or the bulk does
    * not (so an empty index still reads under its schema).
    */
  private def tiers(t: Table): Seq[Table] = {
    val bulk = t.sub(Bulk)
    if (bulk.files.isEmpty) Seq(t)
    else if (t.files.isEmpty) Seq(bulk)
    else Seq(bulk, t)
  }

  /** Every band row of both tiers, read from one snapshot. */
  def rows(spark: SparkSession, path: String): DataFrame =
    rows(Tables.at(spark, path))

  private def rows(t: Table): DataFrame =
    tiers(t).map(_.df).reduce(_ unionByName _)

  /** Probe the persisted index with a delta batch: distinct
    * `(deltaId, indexId)` pairs sharing any band bucket, over every
    * tier of one snapshot that holds rows. Only the index rows whose
    * buckets collide ever leave the scan, and pending logical deletes
    * ([[delete]]) are filtered from either tier with an anti-join
    * against the (compaction-bounded) tombstone set.
    *
    * The bucketed bulk side plans exchange-free (a small delta
    * broadcasts with the index side streamed; a LARGE backfill delta
    * degrades to a sort-merge join where only the delta shuffles into
    * the bulk's bucket layout), and the ingest side holds only the band
    * rows appended since the last rollover. When both tiers are probed
    * the delta's band rows are cached (registered in
    * [[graft.CacheScope]]) so its MinHash signature scan — the dominant
    * per-row admission cost — runs once, not once per tier; unioning
    * the index sides instead would forfeit the bulk's exchange-free
    * plan. A single-tier index caches nothing. Admission semantics do
    * not depend on the tiers — pinned by the q141 oracle, the
    * sequential-recurrence SQL with no notion of tiers.
    */
  def candidates(spark: SparkSession, path: String, delta: DataFrame,
      idCol: String, shCol: String): DataFrame = {
    val t = Tables.at(spark, path)
    val probed = tiers(t)
    val dBand = bandRows(delta, idCol, shCol)
    val shared = if (probed.size > 1) graft.CacheScope.cache(dBand) else dBand
    probed
      .map(x => probeBands(shared, Tombstones.filterLive(t, x.df, idCol), idCol))
      .reduce(_ unionByName _)
      .distinct()
  }

  /** LOGICAL delete of documents from the index — the shared
    * [[graft.sources.Tombstones]] mechanics: O(|deletes|) append-only
    * markers. [[candidates]] skips tombstoned docs at probe time — a
    * forgotten document must stop blocking new admissions IMMEDIATELY,
    * not at compaction cadence — and the next [[compact]] (or, once the
    * index has a bulk tier, the next rollover) drops their band rows
    * physically and removes the markers it applied in the same commit.
    * The right-to-be-forgotten shape for the dedup index: the delete
    * path never rewrites the corpus.
    */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String): Unit =
    Tombstones.write(spark, path, ids, idCol)

  /** The index's pending tombstones (None when nothing was deleted). */
  def tombstones(spark: SparkSession, path: String): Option[DataFrame] =
    Tombstones.read(spark, path)

  /** Append a batch's band rows to the index — O(|batch|), new files
    * only, no rewrite, one commit. Caller admits the batch first (see
    * [[candidates]] + Jaccard verify). Any stale tombstone matching a
    * batch id is cleared in the same commit
    * ([[graft.sources.Tombstones.unmark]]): a forgotten-then-readmitted
    * document must serve its NEW band rows, not stay masked until a
    * compaction silently drops them.
    */
  def append(batch: DataFrame, idCol: String, shCol: String,
      path: String): Unit = {
    val t = Tables.at(batch.sparkSession, path)
    Tables.commit(t.snap, "append") { tx =>
      tx.put(t, bandRows(batch, idCol, shCol))
      Tombstones.unmark(tx, t, batch, idCol)
    }
  }

  /** Compact a single-tier index: per-batch appends accumulate one
    * small file each, and probe cost degrades with file COUNT
    * (open/footer per file) long before it degrades with rows. The
    * rewrite coalesces to one file and applies pending markers in one
    * commit ([[Tombstones.compact]]) — the [[IvfAnn.compactIndex]]
    * discipline for the dedup index (content untouched, spec-asserted).
    * `idCol` names the id column explicitly — inferring it from column
    * position would silently anti-join tombstones against the wrong
    * column if a layout ever arrived reordered, permanently losing the
    * deletes.
    *
    * An index whose bulk tier holds files fails loudly: the markers
    * mask rows of both tiers, and this rewrite sees only the ingest
    * tier, so removing them would bring deleted bulk rows back. A
    * two-tier index compacts by rolling over
    * ([[compactBucketedAndTruncate]]).
    */
  def compact(spark: SparkSession, path: String, idCol: String): Unit = {
    require(Tables.at(spark, path).sub(Bulk).files.isEmpty,
      s"$path has a bulk tier: compact it with a rollover")
    Tombstones.compact(spark, path, idCol)(_.repartition(1))
  }

  /** The bulk tier's table in the index root's log. */
  val Bulk = "_bulk"

  /** The bulk tier's bucket count. */
  val BulkBuckets = 16

  /** The two-tier (lambda) layout rollover, ONE commit: the bulk tier
    * ([[Bulk]]) is replaced by `bulk ∪ ingest` minus pending
    * tombstones, and the ingest files and markers the rollover read are
    * removed. The ingest tier then receives subsequent [[append]]s,
    * which [[candidates]] probes alongside the bulk.
    *
    * The bulk is BUCKETED by `(band, bkt)` into [[BulkBuckets]] buckets
    * — the steady-state serving layout at 100 TB: the admission probe
    * joins on `(band, bkt)`, and a scan of a table bucketed on exactly
    * those keys already satisfies the join's clustering, so the probe
    * plans with NO exchange over the bulk side (spec-pinned; bucketing
    * on `bkt` alone would still shuffle — Spark's co-partitioning check
    * requires ALL join keys). The corpus-sized side of every future
    * probe stops moving; only the delta shuffles.
    *
    * Rollover N>1 folds BOTH tiers — compacting only the ingest tier
    * would replace the bulk with the latest appends, silently
    * un-indexing the whole compacted corpus (round-9 verdict). Band rows
    * appended and markers committed while it runs are adds the commit
    * never removes, so they stay in the ingest tier, where
    * [[candidates]] serves and applies them to either tier.
    * A rollover that fails before its commit publishes leaves both tiers
    * and the markers as they were, and a retry folds the same rows; the
    * bulk lives in the index root's log, so it survives the JVM, and a
    * fresh [[write]] replaces both tiers.
    */
  def compactBucketedAndTruncate(spark: SparkSession, path: String,
      idCol: String): Unit =
    compactBucketedAndTruncate(spark, path, idCol, () => ())

  /** Test seam: `midRollover` runs after the new bulk generation is
    * staged and before the commit publishes — the window a concurrent
    * append or delete can land in.
    */
  private[graft] def compactBucketedAndTruncate(spark: SparkSession,
      path: String, idCol: String, midRollover: () => Unit): Unit = {
    val t = Tables.at(spark, path)
    val pathRows = t.df
    require(pathRows.columns.contains(idCol),
      s"id column '$idCol' not in index schema ${pathRows.columns.mkString(",")}")
    val bulk = t.sub(Bulk)
    val all = if (bulk.exists) bulk.df.unionByName(pathRows) else pathRows
    Tables.commit(t.snap, "rollover") { tx =>
      tx.remove(t.files ++ Tombstones.markers(t).files ++ bulk.files)
      // pending tombstones apply physically here — to BOTH tiers
      tx.put(bulk, Tombstones.filterLive(t, all, idCol),
        bucketing = Some(Bucketing(BulkBuckets, Seq("band", "bkt"))))
      midRollover()
    }
  }

  /** Per-doc shingle arrays minus corpus-wide HOT shingles (document
    * frequency > `capDf`): boilerplate shingles collapse signature
    * variance and concentrate docs into few hot buckets (the q23
    * `MaxShingleDf` rationale applied to the index itself). Docs whose
    * every shingle is hot drop out — they carry no distinguishing
    * content to dedup by and would otherwise re-pin the hottest
    * buckets. One explode + one groupBy + one semi-join + one regroup;
    * shingle sets are order-free (signatures are min-reductions), so
    * the regrouped order is immaterial.
    */
  def dfCapShingles(corpus: DataFrame, idCol: String, shCol: String,
      capDf: Long): DataFrame = {
    val ex = corpus.select(col(idCol), explode(col(shCol)).as("__s"))
    val keep = ex.groupBy(col("__s"))
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") <= capDf)
      .select(col("__s"))
    ex.join(keep, Seq("__s"), "left_semi")
      .groupBy(col(idCol))
      .agg(collect_list(col("__s")).as(shCol))
  }

  /** Skew-GATED index rebuild — the decision leg completing the dedup
    * index's maintenance loop (q128 MEASURES bucket skew; this ACTS on
    * it — the [[IvfAnn.retrainIfDrifted]] pattern for the LSH family):
    * the index's total `candidate_pairs` (Σ s·(s−1)/2 over band
    * buckets — its exact probe-join cost) is computed from the band
    * rows of both tiers ([[rows]]), one O(index) groupBy with no corpus
    * access. When it exceeds `pairBudget`, the index rebuilds over
    * [[dfCapShingles]] shingle sets in one commit ([[Tables.commit]])
    * that, like [[write]], replaces both tiers and the markers;
    * below budget nothing is touched. The expensive path hides behind
    * the cheap telemetry — q121's discipline.
    * @return (candidate_pairs observed, whether a rebuild ran)
    */
  def rebucketIfSkewed(spark: SparkSession, path: String,
      corpus: DataFrame, idCol: String, shCol: String,
      capDf: Long, pairBudget: Long): (Long, Boolean) =
    rebucketIfSkewed(spark, path, corpus, idCol, shCol, capDf, pairBudget,
      () => ())

  /** Test seam: `midRebuild` runs after the rebuilt rows are staged
    * and before the commit — the window a concurrent delete can land in.
    */
  private[graft] def rebucketIfSkewed(spark: SparkSession, path: String,
      corpus: DataFrame, idCol: String, shCol: String,
      capDf: Long, pairBudget: Long, midRebuild: () => Unit): (Long, Boolean) = {
    val t = Tables.at(spark, path)
    val pairs = rows(t)
      .groupBy(col("band"), col("bkt")).agg(count(lit(1)).as("s"))
      .agg(coalesce(sum(expr("(s * (s - 1)) div 2")), lit(0L)))
      .head.getLong(0)
    if (pairs <= pairBudget) (pairs, false)
    else {
      // the rebuild sources band rows from the CALLER's corpus, which
      // may still hold logically deleted docs — pending markers apply
      // physically here, or the rebuild would resurrect forgotten
      // documents and destroy their markers (round-9 advice); the bulk
      // tier goes too, or its rows would serve beside the rebuilt ones
      Tables.commit(t.snap, "rebucket") { tx =>
        tx.remove(t.tree)
        tx.put(t, Tombstones.filterLive(t, bandRows(
          dfCapShingles(corpus, idCol, shCol, capDf), idCol, shCol), idCol))
        midRebuild()
      }
      (pairs, true)
    }
  }
}
