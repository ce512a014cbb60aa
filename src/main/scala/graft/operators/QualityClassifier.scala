package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Stable, Text}

/** Hashed multinomial Naive-Bayes text classifier — the MODEL-BASED
  * quality-filter rung of the curation ladder (the CCNet / fastText
  * "train a cheap linear classifier on a labeled seed, score the whole
  * corpus" skeleton; cf. reference `05_gold_aggregation.py`'s
  * heuristic-only scoring, which q20/q71/q130 already cover — this tier
  * LEARNS its weights instead).
  *
  * Design for 100 TB:
  *  - features are hashed token buckets (`poly_hash(tok) % Buckets`) —
  *    the model is a FIXED [[Buckets]]-row table whatever the vocabulary
  *    size, so it always broadcasts; no vocabulary dictionary to build,
  *    ship, or keep consistent;
  *  - training is ONE groupBy over the labeled split's token instances
  *    (map-side combinable counts); scoring is ONE broadcast join + ONE
  *    keyed aggregation over the corpus — no iteration, no driver state;
  *  - the log-odds weight is derived INSIDE the scoring expression from
  *    the joined counts (absent buckets coalesce to 0), so present and
  *    unseen features flow through the same smoothed formula;
  *  - per-document sums run through the decimal grid
  *    ([[graft.functions.Stable.sumD]]) so scores are bit-reproducible
  *    across partition counts and engines despite float log10.
  */
object QualityClassifier {

  /** Feature-space size. 2^10 buckets keeps the gate's collision rate
    * visible (the hashing-trick tradeoff under test); production would
    * use 2^20+ — still a trivially broadcastable model.
    */
  val Buckets = 1024L

  /** One row per token INSTANCE: `(id, b)` with `b = poly_hash(tok) %
    * Buckets` — multinomial NB counts instances, not presence.
    */
  def features(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), explode(Text.tokens(col(textCol))).as("tok"))
      .select(col(idCol), pmod(Text.charHash(col("tok")), lit(Buckets)).as("b"))

  /** Per-bucket class counts from the labeled split: `(b, cp, cn)`.
    * `labels` carries one row per labeled doc: `(idCol, labelCol)`.
    */
  def train(feats: DataFrame, labels: DataFrame, idCol: String,
      labelCol: String): DataFrame =
    feats.join(labels, idCol)
      .groupBy(col("b"))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("cp"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("cn"))

  /** Class token totals `(ptot, ntot)` — the NB denominators. */
  def classTotals(feats: DataFrame, labels: DataFrame, idCol: String,
      labelCol: String): DataFrame =
    feats.join(labels, idCol)
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("ptot"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("ntot"))

  /** Laplace-smoothed log-odds of ONE token in bucket `b`; the same
    * expression serves trained and never-seen buckets (`cp = cn = 0`).
    */
  def logOdds(cp: Column, cn: Column, ptot: Column, ntot: Column): Column =
    log10((cp.cast("double") + lit(1.0)) /
        (ptot.cast("double") + lit(Buckets.toDouble))) -
      log10((cn.cast("double") + lit(1.0)) /
        (ntot.cast("double") + lit(Buckets.toDouble)))

  /** Score a corpus slice: per doc, `prior + Σ_tokens logOdds` (decimal
    * grid) plus the instance count. `model`/`totals` broadcast — the
    * corpus side never shuffles until the final per-doc aggregation.
    */
  def score(feats: DataFrame, model: DataFrame, totals: DataFrame,
      idCol: String): DataFrame = {
    val w = logOdds(coalesce(col("cp"), lit(0L)), coalesce(col("cn"), lit(0L)),
      col("ptot"), col("ntot"))
    feats.join(broadcast(model), Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        Stable.sumD(w).as("s"))
  }

  // --- persisted-model lifecycle -----------------------------------------
  //
  // NB state is pure integer counts, so maintenance is EXACT arithmetic:
  // appending a labeled batch adds its counts, forgetting one subtracts
  // them — the model after (write base; append delta; forget d) is
  // bit-identical to one trained fresh on (base ∪ delta) \ d. That makes
  // this the rare learned filter with exact O(|doc|) unlearning (the
  // right-to-be-forgotten story for the MODEL, not just the data — a
  // gradient-trained filter would need retraining). Layout: the model
  // is TWO artifacts — `counts` (≤ Buckets rows) and `totals` (1 row:
  // ptot, ntot, pdocs, ndocs) — that are only consistent TOGETHER, so
  // every publish commits them into one [[graft.sources.Snapshots]]
  // version directory (`dir/_v=N/{counts,totals}`) under one commit
  // marker: a reader (or a crash) can never observe new counts with
  // stale totals, the failure two independent per-artifact swaps
  // allowed. Serving resolves the latest version once and reads both
  // artifacts from that immutable version.

  /** Combined 1-row totals: token totals + labeled-doc counts (the
    * latter feed the class prior at serving time).
    */
  def totalsRow(feats: DataFrame, labels: DataFrame, idCol: String,
      labelCol: String): DataFrame =
    classTotals(feats, labels, idCol, labelCol).crossJoin(
      labels.agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("pdocs"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("ndocs")))

  def writeModel(dir: String, feats: DataFrame, labels: DataFrame,
      idCol: String, labelCol: String): Unit =
    publish(feats.sparkSession, dir,
      train(feats, labels, idCol, labelCol),
      totalsRow(feats, labels, idCol, labelCol))

  /** Atomic two-artifact publish: one snapshot version holds counts AND
    * totals (one commit of the version's own log), and the version's
    * entry in the model's log makes both visible together.
    */
  private def publish(spark: SparkSession, dir: String,
      counts: DataFrame, totals: DataFrame): Unit = {
    graft.sources.Snapshots.commit(spark, dir) { vp =>
      val s = graft.sources.Tables.root(spark, vp)
      graft.sources.Tables.commit(s, "publish") { tx =>
        tx.put(s.table("counts"), counts)
        tx.put(s.table("totals"), totals)
      }
    }
    ()
  }

  /** Resolve the model's pinned latest version once; both artifacts
    * read from the same immutable version directory.
    */
  private def pinned(spark: SparkSession, dir: String): String = {
    val v = graft.sources.Snapshots.latestVersion(spark, dir).getOrElse(
      throw new java.util.NoSuchElementException(s"no NB model at $dir"))
    graft.sources.Snapshots.versionPath(dir, v)
  }

  def readCounts(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.read(spark, s"${pinned(spark, dir)}/counts")

  def readTotals(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.read(spark, s"${pinned(spark, dir)}/totals")

  /** O(delta) admission of a labeled batch: counts add. */
  def appendModel(spark: SparkSession, dir: String, feats: DataFrame,
      labels: DataFrame, idCol: String, labelCol: String): Unit =
    mergeModel(spark, dir, feats, labels, idCol, labelCol, sign = 1L)

  /** EXACT unlearning of previously-admitted docs: counts subtract.
    * Caller passes the same `(feats, labels)` rows that were admitted.
    */
  def forgetModel(spark: SparkSession, dir: String, feats: DataFrame,
      labels: DataFrame, idCol: String, labelCol: String): Unit =
    mergeModel(spark, dir, feats, labels, idCol, labelCol, sign = -1L)

  private def mergeModel(spark: SparkSession, dir: String, feats0: DataFrame,
      labels: DataFrame, idCol: String, labelCol: String,
      sign: Long): Unit = {
    // both the count delta (train) and the totals delta scan the same
    // featurized batch — persist it once per merge instead of
    // re-tokenizing per leg
    val feats = graft.CacheScope.cache(feats0)
    val dc = train(feats, labels, idCol, labelCol)
      .select(col("b"), (col("cp") * sign).as("cp"),
        (col("cn") * sign).as("cn"))
    val counts = readCounts(spark, dir).unionByName(dc)
      .groupBy(col("b"))
      .agg(sum(col("cp")).as("cp"), sum(col("cn")).as("cn"))
      .filter(col("cp") =!= 0L || col("cn") =!= 0L)
    val dt = totalsRow(feats, labels, idCol, labelCol)
      .select(Seq("ptot", "ntot", "pdocs", "ndocs")
        .map(c => (col(c) * sign).as(c)): _*)
    val totals = readTotals(spark, dir).unionByName(dt)
      .agg(sum(col("ptot")).as("ptot"), sum(col("ntot")).as("ntot"),
        sum(col("pdocs")).as("pdocs"), sum(col("ndocs")).as("ndocs"))
    // the new version derives from reading version N while WRITING
    // version N+1 — immutable inputs, so there is no read-while-replace
    // hazard, and a crash mid-write leaves only an uncommitted _v
    // directory no reader resolves
    publish(spark, dir, counts, totals)
  }

  /** Serve scores from the persisted model: `(idCol, n_tokens, s, prior)`
    * — `s` is the decimal-grid log-odds sum, `prior` the class prior from
    * the maintained doc counts.
    */
  def scoreIndexed(spark: SparkSession, dir: String, feats: DataFrame,
      idCol: String): DataFrame = {
    // resolve the version ONCE: counts and totals come from the same
    // immutable version even if a publish lands mid-query
    val vp = graft.sources.Tables.root(spark, pinned(spark, dir))
    val totals = vp.table("totals").df
    score(feats, vp.table("counts").df,
        totals.select(col("ptot"), col("ntot")), idCol)
      .crossJoin(broadcast(totals.select(
        log10(col("pdocs").cast("double") / col("ndocs")).as("prior"))))
  }
}
