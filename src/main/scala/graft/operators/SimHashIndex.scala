package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Persisted SimHash Hamming-ball dedup index — the bit-flip-distance
  * counterpart of the Jaccard [[LshIndex]] (the Manku–Jain–Sarma
  * web-crawl dedup design): each document's 32-bit tf-weighted sign
  * fingerprint ([[graft.expressions.NativeKernels.simhash]], the q25
  * kernel) splits into 3 bands of 11/11/10 bits, and by pigeonhole ANY
  * pair within Hamming distance 2 shares at least one whole band — so
  * admission probes are exact-match equi-joins on `(band, value)` with
  * GUARANTEED recall at the radius, never a distance scan. Where
  * MinHash-LSH admission is probabilistic in its Jaccard threshold,
  * the Hamming ball is exact: useful when near-dups are SMALL EDITS
  * (boilerplate swaps, tracking-tag churn) that flip few fingerprint
  * bits.
  *
  * The 100 TB shape mirrors [[LshIndex]]: the index is 3 band rows per
  * document on disk (each carrying the fingerprint, so collided pairs
  * verify INLINE via `bit_count(xor)` — no second fetch of the
  * colliding documents), probes are O(delta + collisions) equi-joins
  * where only collided index rows leave the scan, appends are
  * O(|batch|) new files, deletes are [[graft.sources.Tombstones]]
  * markers masked at probe time and applied physically by [[compact]]
  * in one commit ([[graft.sources.Tables.commit]]).
  */
object SimHashIndex {

  /** Fingerprint width and the q25 band split: 11/11/10 bits — wide
    * bands keep collisions ~8× lower than byte bands on the correlated
    * bits shared-vocabulary corpora produce.
    */
  val Bits = 32

  /** `(idCol, simhash)` — the 32-bit fingerprint from portable token
    * hashes (caller supplies the hashed-token column, the q25 front).
    */
  def fingerprints(docs: DataFrame, idCol: String,
      hsCol: String): DataFrame =
    docs.select(col(idCol),
      graft.expressions.NativeKernels.simhash(col(hsCol), Bits)
        .as("simhash"))

  /** `(idCol, simhash, j, band_val)` — 3 rows per document. The
    * fingerprint travels WITH each band row so a probe verifies the
    * Hamming radius inline on the joined pair.
    */
  def bandRows(docs: DataFrame, idCol: String, hsCol: String): DataFrame =
    fingerprints(docs, idCol, hsCol).select(col(idCol), col("simhash"),
      explode(expr(
        """transform(sequence(0, 2),
          |  j -> struct(j AS j,
          |    CASE j WHEN 0 THEN simhash % 2048L
          |           WHEN 1 THEN (simhash div 2048L) % 2048L
          |           ELSE simhash div 4194304L END AS band_val))"""
          .stripMargin)).as("bk"))
      .select(col(idCol), col("simhash"),
        col("bk.j").as("j"), col("bk.band_val").as("band_val"))

  /** Materialize the index: 3 band rows per corpus document. */
  def write(corpus: DataFrame, idCol: String, hsCol: String,
      path: String): Unit =
    Tables.overwrite(bandRows(corpus, idCol, hsCol), path)

  /** O(|batch|) append — new files only, no rewrite; stale tombstones
    * for readmitted ids are cleared (the shared lifecycle contract: a
    * forgotten-then-readmitted document serves its NEW band rows).
    */
  def append(batch: DataFrame, idCol: String, hsCol: String,
      path: String): Unit = {
    val t = Tables.at(batch.sparkSession, path)
    Tables.commit(t.snap, "append") { tx =>
      tx.put(t, bandRows(batch, idCol, hsCol))
      graft.sources.Tombstones.unmark(tx, t, batch, idCol)
    }
  }

  /** Probe the index with a delta batch: distinct
    * `(deltaId, indexId, hamming)` for every pair within `maxHamming`
    * (≤ 2 keeps the pigeonhole guarantee for the 3-band split; a wider
    * radius turns the guarantee into best-effort recall, same as
    * widening LSH bands). Only collided index rows leave the scan;
    * pending logical deletes are masked.
    */
  def candidates(spark: SparkSession, path: String, delta: DataFrame,
      idCol: String, hsCol: String, maxHamming: Int = 2): DataFrame = {
    val t = Tables.at(spark, path)
    val index = graft.sources.Tombstones.filterLive(t, t.df, idCol)
    bandRows(delta, idCol, hsCol).as("d")
      .join(index.as("c"),
        col("d.j") === col("c.j") &&
          col("d.band_val") === col("c.band_val") &&
          col(s"d.$idCol") =!= col(s"c.$idCol"))
      .select(col(s"d.$idCol").as("deltaId"),
        col(s"c.$idCol").as("indexId"),
        bit_count(col("d.simhash").bitwiseXOR(col("c.simhash")))
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** LOGICAL delete — O(|deletes|) markers; [[candidates]] masks them
    * immediately and [[compact]] applies them physically.
    */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String): Unit =
    graft.sources.Tombstones.write(spark, path, ids, idCol)

  /** The index's pending tombstones (None when nothing was deleted). */
  def tombstones(spark: SparkSession, path: String): Option[DataFrame] =
    graft.sources.Tombstones.read(spark, path)

  /** Defragment append waves and apply pending deletes physically —
    * [[LshIndex.compact]] for this family, into one file.
    */
  def compact(spark: SparkSession, path: String, idCol: String): Unit =
    graft.sources.Tombstones.compact(spark, path, idCol)(_.repartition(1))
}
