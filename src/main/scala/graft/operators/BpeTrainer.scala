package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Distributed BPE merge induction — TOKENIZER TRAINING as a Spark job
  * (Sennrich et al., "Neural Machine Translation of Rare Words with
  * Subword Units": repeatedly merge the most frequent adjacent symbol
  * pair). The missing rung of the text tier: q18's `n_bpe_tokens` counts
  * with a fixed regex; this LEARNS the merge table a real tokenizer
  * ships.
  *
  * Scale shape (how HF/SentencePiece trainers distribute): the corpus is
  * scanned ONCE into a (word, count) vocabulary — at 100 TB that is the
  * only corpus-sized stage, and it is one map-side-combinable groupBy.
  * Every merge round then runs over the VOCABULARY frame (≤ distinct
  * words, not corpus tokens): one pair-count groupBy weighted by word
  * count, one 1-row argmax to the driver (count desc, pair asc — fully
  * deterministic, all-integer), one projection applying the merge. Driver
  * state is O(rounds) merge decisions — the [[CentroidState]] pattern.
  *
  * The merge projection is a left-to-right greedy non-overlapping fold
  * (the BPE application rule) expressed as a pure string `aggregate` over
  * the symbol sequence — codegen-friendly, and replayed token-for-token
  * by the DuckDB oracle's `list_reduce`, so the learned segmentations are
  * hash-comparable across engines.
  */
object BpeTrainer {

  /** One merge decision: `x`+`y` → `xy`, chosen at `count` occurrences. */
  final case class Merge(x: String, y: String, count: Long)

  /** `(word, cnt)` vocabulary — the ONE corpus-sized scan. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Text.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** Initial segmentation: every word split to single-character symbols,
    * space-joined (`"spark"` → `"s p a r k"`).
    */
  def initSeqs(words: DataFrame): DataFrame =
    words.withColumn("seq", array_join(split(col("word"), ""), " "))

  /** Count-weighted adjacent-pair frequencies over the current
    * segmentations: `(x, y, c)`.
    */
  def pairCounts(seqs: DataFrame): DataFrame =
    seqs.select(col("cnt"), split(col("seq"), " ").as("toks"))
      // CASE guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) rather than
      // yielding empty, so single-symbol sequences need the explicit
      // no-pairs branch (typed empty array for CASE coercion)
      .select(col("cnt"), explode(expr(
        """CASE WHEN size(toks) < 2
          |  THEN cast(array() AS array<struct<x: string, y: string>>)
          |  ELSE transform(sequence(1, size(toks) - 1),
          |    i -> struct(element_at(toks, i) AS x,
          |                element_at(toks, i + 1) AS y)) END""".stripMargin))
        .as("pr"))
      .groupBy(col("pr.x").as("x"), col("pr.y").as("y"))
      .agg(sum(col("cnt")).as("c"))

  /** The round's merge decision — 1 row to the driver, deterministic
    * (count desc, then pair lexicographic). None on a single-symbol-only
    * vocabulary (nothing left to merge).
    */
  def bestPair(pc: DataFrame): Option[Merge] =
    pc.orderBy(col("c").desc, col("x").asc, col("y").asc).limit(1)
      .collect().headOption
      .map(r => Merge(r.getString(0), r.getString(1), r.getLong(2)))

  /** Greedy left-to-right non-overlapping application of ONE merge: fold
    * the symbol tokens with a string accumulator; a token `y` fuses with
    * a trailing exact-token `x` (`acc = x` covers the first position,
    * `ends_with ' x'` the rest — the space guarantees whole-token match).
    * A fused `xy` cannot re-fuse with a following `y` (it no longer
    * equals `x`), which is exactly BPE's non-overlap rule.
    */
  def applyMerge(seqs: DataFrame, m: Merge): DataFrame = {
    val merged = aggregate(split(col("seq"), " "), lit(""),
      (acc: Column, t: Column) =>
        when(acc =!= "" &&
            (acc === m.x || acc.endsWith(lit(" " + m.x))) && t === m.y,
          concat(acc.substr(lit(1), length(acc) - lit(m.x.length)),
            lit(m.x + m.y)))
          .otherwise(when(acc === "", t)
            .otherwise(concat(acc, lit(" "), t))))
    seqs.withColumn("seq", merged)
  }

  /** Corpus ENCODE with a trained merge table — the apply half the
    * train half exists for: a tokenizer is trained once (on a sample or
    * the corpus) and then encodes EVERY document. Work splits the same
    * way the training does: the merges replay over the VOCABULARY frame
    * (`rounds` fold projections over ≤ distinct words — never corpus
    * tokens), and the corpus-sized part is one explode + equi-join of
    * word instances against the per-word segmentation (AQE broadcasts
    * the vocabulary when it fits; co-partitioned on `word` otherwise)
    * + a partial-aggregated per-doc rollup. Per document: word
    * instances, BPE token count, and the tokens-per-word ratio — the
    * fertility statistic tokenizer evaluations report.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val segmented = merges.foldLeft(initSeqs(wordCounts(docs, textCol)))(applyMerge)
    val wordTok = segmented
      .select(col("word"), size(split(col("seq"), " ")).cast("long").as("__wt"))
    docs.select(col(idCol), explode(Text.tokens(col(textCol))).as("word"))
      .join(wordTok, "word")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("__wt")).as("n_bpe_tokens"))
      .withColumn("fertility",
        round(col("n_bpe_tokens").cast("double") / col("n_words") + lit(1e-9), 4))
  }

  /** Persist a trained merge table as the tokenizer ARTIFACT — ordered
    * `(ord, x, y, cnt)` rows in one commit (an interrupted rewrite
    * leaves any previous tokenizer serving).
    * The artifact is O(rounds) rows: the whole tokenizer ships as a
    * table small enough to broadcast, version, and diff like any other
    * model state here.
    */
  def writeMerges(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[Merge], dir: String): Unit = {
    import spark.implicits._
    val rows = merges.zipWithIndex
      .map { case (m, i) => (i, m.x, m.y, m.count) }
      .toDF("ord", "x", "y", "cnt").coalesce(1)
    val s = graft.sources.Tables.root(spark, dir)
    graft.sources.Tables.commit(s, "write") { tx =>
      tx.remove(s.files)
      tx.put(s.table("merges"), rows)
    }
  }

  /** The stored merge table, in training order. */
  def readMerges(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[Merge] =
    graft.sources.Tables.read(spark, s"$dir/merges")
      .orderBy(col("ord"))
      .collect()
      .map(r => Merge(r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq

  /** Run `rounds` merges. Returns the learned merge table (in order) and
    * the final `(word, cnt, seq)` segmentation frame.
    */
  def train(docs: DataFrame, textCol: String,
      rounds: Int): (Seq[Merge], DataFrame) = {
    var seqs = graft.CacheScope.cache(initSeqs(wordCounts(docs, textCol)))
    val merges = Seq.newBuilder[Merge]
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      bestPair(pairCounts(seqs)) match {
        case Some(m) =>
          merges += m
          seqs = graft.CacheScope.cache(applyMerge(seqs, m))
        case None => exhausted = true
      }
      r += 1
    }
    (merges.result(), seqs)
  }
}
