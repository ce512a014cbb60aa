package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.QuerySpec
import graft.functions.Text
import graft.operators.{Dedup, SequencePack, Sketches}
import graft.sources.Tables

/** Training-data SELECTION tier over the `documents` fixture: the two
  * curation shapes every corpus build runs after filtering/dedup —
  * stratified subsampling (hold composition fixed while shrinking) and
  * budgeted greedy selection (maximize a quality signal under a token
  * budget). Both are deterministic (portable-hash order / exact integer
  * cumsums), so the full selection — not just its size — hash-matches
  * the DuckDB oracle, which is what makes a curation run reproducible
  * across engines and re-runs. North-star extension tier — no reference
  * counterpart (the reference pipeline ends at aggregation/reporting).
  */
object SamplingQueries {

  /** Documents per (lang, source) stratum the sample keeps. */
  private val SamplePerStratum = 3

  /** Per-source token budget for the greedy selection. */
  private val TokenBudget = 800L

  /** DuckDB mirror of `Text.tokens` — ONE copy so a tokenization tweak
    * cannot silently diverge the q109/q116/q118 oracles from each other
    * (the `componentCtesSql` rationale in DedupQueries).
    */
  private val tokSql =
    """list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '')"""

  /** Stratified fixed-size sampling: the `SamplePerStratum` smallest
    * portable-hash documents per (lang, source) stratum — a
    * deterministic reservoir that preserves corpus COMPOSITION exactly
    * (every stratum capped at the same size) while the hash order makes
    * the within-stratum pick uniform and seed-stable. Runs through the
    * custom [[graft.plans.TopKPerKeyPlan]] operator, so at 100 TB the
    * per-stratum winners reduce map-side in bounded heaps and the only
    * shuffle moves ≤ strata · k rows — no per-stratum sort, no global
    * sort, no `rand()` (re-runs and engine ports pick the SAME sample).
    */
  val stratifiedSample: QuerySpec = QuerySpec.sql(
    "q108_stratified_sample",
    s"""WITH h AS (
      |  SELECT lang, source, doc_id,
      |    ${Sketches.uniformHashSql("doc_id")} AS sample_hash
      |  FROM documents)
      |SELECT lang, source, doc_id, sample_hash
      |FROM (SELECT *, row_number() OVER (PARTITION BY lang, source
      |        ORDER BY sample_hash, doc_id) AS rk FROM h) t
      |WHERE rk <= $SamplePerStratum
      |ORDER BY lang, source, sample_hash, doc_id""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
      .select(col("lang"), col("source"), col("doc_id"),
        Sketches.uniformHash(col("doc_id")).as("sample_hash"))
    Dedup.topKPerKey(docs, Seq("lang", "source"),
        Seq(col("sample_hash").asc, col("doc_id").asc), SamplePerStratum)
      .orderBy(col("lang"), col("source"), col("sample_hash"), col("doc_id"))
  }

  /** Token-budget greedy selection: per source, walk documents in
    * quality order (lexical diversity desc — q19's signal) and keep
    * them while the running token total stays inside the budget — the
    * "best data under N tokens" selection a fixed training budget
    * forces. One keyed window (partition by source) computes the
    * inclusive running total; the budget predicate is a post-window
    * filter, so the whole selection is a single shuffle at any scale
    * and the cumsum is exact integer arithmetic — the selected SET is
    * engine-reproducible, not just its size. A fixed budget over a
    * growing corpus selects a shrinking fraction — the realistic
    * regime (budgets are set by the training run, not the corpus).
    */
  val tokenBudgetSelect: QuerySpec = QuerySpec.sql(
    "q109_token_budget",
    s"""WITH t AS (
      |  SELECT source, doc_id,
      |    $tokSql AS toks
      |  FROM documents),
      |b AS (
      |  SELECT source, doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(toks)) AS DOUBLE)
      |      / greatest(len(toks), 1) AS diversity
      |  FROM t),
      |r AS (
      |  SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
      |      ORDER BY diversity DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS run_tokens
      |  FROM b)
      |SELECT source, doc_id, n_tokens, run_tokens,
      |  round(diversity + 1e-9, 4) AS diversity
      |FROM r WHERE run_tokens <= $TokenBudget
      |ORDER BY source, run_tokens, doc_id""".stripMargin
  ) { (spark, dir) =>
    val toks = Text.tokens(col("text"))
    val base = Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        // greatest(.,1): 0-division guard, same rationale as q19
        (size(array_distinct(toks)).cast("double")
          / greatest(size(toks), lit(1))).as("diversity"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("diversity").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("run_tokens", sum(col("n_tokens")).over(w))
      .filter(col("run_tokens") <= TokenBudget)
      .select(col("source"), col("doc_id"), col("n_tokens"),
        col("run_tokens"), round(col("diversity") + lit(1e-9), 4)
          .as("diversity"))
      .orderBy(col("source"), col("run_tokens"), col("doc_id"))
  }

  /** Epochs the shuffle plan covers and shards per epoch. */
  private val Epochs = 3
  private val ShuffleShards = 8

  /** Deterministic per-epoch training order — the data-loader side of
    * the corpus: each epoch permutes the SAME corpus differently by
    * ranking documents on `hash(doc_id ":" epoch)`, realized as `shard
    * = hash % shards` plus a position within the shard from a window
    * PARTITIONED by (epoch, shard) — never a global sort. A trainer
    * reads shard files in order and gets a full, epoch-distinct,
    * seed-stable permutation; generating the next epoch's order is a
    * new hash input, zero data movement and zero stored state. At
    * 100 TB size shards ≈ executors·k so each epoch's ordering is one
    * exchange, and the portable hash makes the exact order
    * reproducible in any engine — the property that lets a training
    * run resume mid-epoch from any engine's copy of the plan.
    */
  val epochShuffle: QuerySpec = QuerySpec.sql(
    "q113_epoch_shuffle",
    s"""WITH e AS (
      |  SELECT doc_id, epoch,
      |    ${Sketches.uniformHashSql("doc_id || ':' || epoch")} AS k
      |  FROM documents
      |  CROSS JOIN (SELECT unnest(range(0, $Epochs)) AS epoch) ep)
      |SELECT epoch, CAST(k % $ShuffleShards AS INT) AS shard,
      |  CAST(row_number() OVER (
      |    PARTITION BY epoch, k % $ShuffleShards
      |    ORDER BY k, doc_id) AS BIGINT) AS pos,
      |  doc_id
      |FROM e
      |ORDER BY epoch, shard, pos""".stripMargin
  ) { (spark, dir) =>
    val plan = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(Epochs - 1))).as("epoch"))
      .select(col("doc_id"), col("epoch").cast("long").as("epoch"),
        Sketches.uniformHash(
          concat_ws(":", col("doc_id"), col("epoch"))).as("k"))
      .withColumn("shard", pmod(col("k"), lit(ShuffleShards.toLong))
        .cast("int"))
    plan
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("epoch"), col("shard"))
          .orderBy(col("k"), col("doc_id"))).cast("long"))
      .select(col("epoch"), col("shard"), col("pos"), col("doc_id"))
      .orderBy(col("epoch"), col("shard"), col("pos"))
  }

  private val WeightedPerSource = 10

  /** Weight-monotone deterministic sampling
    * ([[graft.operators.WeightedSample]]): each document's lexical
    * diversity (q109's quality signal) maps onto an integer weight band
    * 1–5; a weight-w document competes with w hash TICKETS and its
    * priority is the minimum — min-wise sampling with integer
    * replication, the deterministic stand-in for
    * Efraimidis–Spirakis `u^(1/w)` keys (whose `ln`/`pow` are not
    * bit-stable across engines). Selection probability grows with
    * quality, the selected SET is engine-reproducible, the key is a
    * pure projection (no shuffle, no explode), and the only exchange is
    * the bounded-heap top-k per source.
    */
  val weightedSample: QuerySpec = QuerySpec.sql(
    "q116_weighted_sample",
    s"""WITH t AS (
      |  SELECT source, doc_id,
      |    $tokSql AS toks
      |  FROM documents),
      |w AS (
      |  SELECT source, doc_id,
      |    CAST(1 + floor(4 * CAST(len(list_distinct(toks)) AS DOUBLE)
      |      / greatest(len(toks), 1)) AS INT) AS weight
      |  FROM t),
      |k AS (
      |  SELECT source, doc_id, weight,
      |    list_min(list_transform(generate_series(0, weight - 1),
      |      t -> ${Sketches.uniformHashSql("doc_id || ':' || CAST(t AS VARCHAR)")}))
      |      AS ticket
      |  FROM w)
      |SELECT source, doc_id, weight, ticket
      |FROM (SELECT *, row_number() OVER (PARTITION BY source
      |        ORDER BY ticket, doc_id) AS rk FROM k) z
      |WHERE rk <= $WeightedPerSource
      |ORDER BY source, ticket, doc_id""".stripMargin
  ) { (spark, dir) =>
    val toks = Text.tokens(col("text"))
    val weighted = Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        (floor(lit(4) * size(array_distinct(toks)).cast("double") /
          greatest(size(toks), lit(1))) + 1).cast("int").as("weight"))
    graft.operators.WeightedSample
      .sample(weighted, Seq("source"), "doc_id", "weight",
        WeightedPerSource)
      .select(col("source"), col("doc_id"), col("weight"), col("ticket"))
      .orderBy(col("source"), col("ticket"), col("doc_id"))
  }

  private val CurationMinTokens = 20
  private val CurationMinDiversity = 0.5
  private val CurationPerSource = 3

  /** The curation tiers COMPOSED as one manifest query — the shape a
    * real training-data pipeline runs end-to-end: exact dedup (q22's
    * md5-canonical rule) → quality gate (q19's token/diversity
    * signals) → weight-monotone sampling (q116's min-ticket keys) →
    * deterministic training order (q113's epoch-hash rule, epoch 1).
    * Every stage is individually gated elsewhere; this gate proves the
    * COMPOSITION stays deterministic and oracle-expressible — the
    * emitted manifest (who made the cut, with what weight, in what
    * order) is the pipeline's actual product. Plan shape: one
    * hash-partitioned window (dedup), map-side token stats, projection
    * ticket keys, one bounded-heap top-k — no stage adds an exchange
    * beyond its own.
    */
  val curationPipeline: QuerySpec = QuerySpec.sql(
    "q118_curation_pipeline",
    s"""WITH t AS (
      |  SELECT source, doc_id,
      |    $tokSql AS toks
      |  FROM documents),
      |h AS (
      |  SELECT source, doc_id, toks,
      |    md5(array_to_string(toks, ' ')) AS text_hash
      |  FROM t),
      |canon AS (
      |  SELECT source, doc_id, toks FROM (
      |    SELECT *, min(doc_id) OVER (PARTITION BY text_hash) AS min_id
      |    FROM h) z
      |  WHERE doc_id = min_id),
      |q AS (
      |  SELECT source, doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(toks)) AS DOUBLE)
      |      / greatest(len(toks), 1) AS diversity
      |  FROM canon),
      |w AS (
      |  SELECT source, doc_id, n_tokens, diversity,
      |    CAST(1 + floor(4 * diversity) AS INT) AS weight
      |  FROM q
      |  WHERE n_tokens >= $CurationMinTokens
      |    AND diversity >= $CurationMinDiversity),
      |k AS (
      |  SELECT source, doc_id, n_tokens, weight, diversity,
      |    list_min(list_transform(generate_series(0, weight - 1),
      |      t -> ${Sketches.uniformHashSql("doc_id || ':' || CAST(t AS VARCHAR)")}))
      |      AS ticket
      |  FROM w),
      |sel AS (
      |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY source
      |      ORDER BY ticket, doc_id) AS rk FROM k) z
      |  WHERE rk <= $CurationPerSource)
      |SELECT source, doc_id, n_tokens, weight, ticket,
      |  round(diversity + 1e-9, 4) AS diversity,
      |  ${Sketches.uniformHashSql("doc_id || ':e1'")} AS order_hash
      |FROM sel
      |ORDER BY order_hash, doc_id""".stripMargin
  ) { (spark, dir) =>
    val toks = Text.tokens(col("text"))
    val base = Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"), toks.as("toks"))
    val canon = base
      .withColumn("text_hash",
        md5(array_join(col("toks"), " ").cast("binary")))
      .withColumn("min_id",
        min(col("doc_id")).over(Window.partitionBy(col("text_hash"))))
      .filter(col("doc_id") === col("min_id"))
    val quality = canon.select(col("source"), col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(array_distinct(col("toks"))).cast("double") /
          greatest(size(col("toks")), lit(1))).as("diversity"))
      .filter(col("n_tokens") >= CurationMinTokens &&
        col("diversity") >= CurationMinDiversity)
      .withColumn("weight", (floor(col("diversity") * 4) + 1).cast("int"))
    graft.operators.WeightedSample
      .sample(quality, Seq("source"), "doc_id", "weight", CurationPerSource)
      .select(col("source"), col("doc_id"), col("n_tokens"), col("weight"),
        col("ticket"),
        round(col("diversity") + lit(1e-9), 4).as("diversity"),
        Sketches.uniformHash(
          concat(col("doc_id").cast("string"), lit(":e1"))).as("order_hash"))
      .orderBy(col("order_hash"), col("doc_id"))
  }

  /** Curation-manifest VERSIONING: two admission configs (A: ≥20
    * tokens, diversity ≥0.5; B: ≥15 tokens, diversity ≥0.6) are
    * committed as REAL snapshot versions of one manifest table
    * ([[graft.sources.Snapshots]] — the q96 machinery applied to the
    * pipeline's own product), and the gate reports the CDF between
    * them: which documents entered and left the training set when the
    * quality bar moved. This is the reproducibility story a training
    * run needs end-to-end — "what exactly changed in my data between
    * run 17 and run 18" answered from versioned manifests, not by
    * re-running the old config. The oracle replays both selections and
    * EXCEPT-ALLs them both ways.
    */
  val curationDiff: QuerySpec = QuerySpec.sql(
    "q120_curation_diff",
    s"""WITH t AS (
      |  SELECT source, doc_id,
      |    $tokSql AS toks
      |  FROM documents),
      |b AS (
      |  SELECT source, doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(toks)) AS DOUBLE)
      |      / greatest(len(toks), 1) AS diversity
      |  FROM t),
      |va AS (
      |  SELECT source, doc_id, n_tokens,
      |    round(diversity + 1e-9, 4) AS diversity
      |  FROM b WHERE n_tokens >= 20 AND diversity >= 0.5),
      |vb AS (
      |  SELECT source, doc_id, n_tokens,
      |    round(diversity + 1e-9, 4) AS diversity
      |  FROM b WHERE n_tokens >= 15 AND diversity >= 0.6)
      |SELECT *, 'insert' AS _change_type FROM (
      |  SELECT * FROM vb EXCEPT ALL SELECT * FROM va)
      |UNION ALL
      |SELECT *, 'delete' AS _change_type FROM (
      |  SELECT * FROM va EXCEPT ALL SELECT * FROM vb)
      |ORDER BY _change_type, doc_id""".stripMargin
  ) { (spark, dir) =>
    import graft.sources.Snapshots
    val toks = Text.tokens(col("text"))
    val stats = graft.CacheScope.cache(
      Tables.load(spark, dir, "documents")
        .select(col("source"), col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          (size(array_distinct(toks)).cast("double") /
            greatest(size(toks), lit(1))).as("diversity")))
    def admitted(minTokens: Int, minDiv: Double) =
      stats.filter(col("n_tokens") >= minTokens &&
          col("diversity") >= minDiv)
        .select(col("source"), col("doc_id"), col("n_tokens"),
          round(col("diversity") + lit(1e-9), 4).as("diversity"))
    val table = graft.Scratch.fresh("q120")
    val va = Snapshots.write(admitted(20, 0.5), table)
    val vb = Snapshots.write(admitted(15, 0.6), table)
    Snapshots.diff(spark, table, va, vb)
      .orderBy(col("_change_type"), col("doc_id"))
  }

  /** Fraction of an asset's payload blocks that also appear in OTHER
    * assets — admission must reject mostly-recycled media. */
  private val MaxSharedBlocks = 0.5

  /** Curation extended to MULTIMODAL assets — text admission (q118's
    * token/diversity gates) joined with a block-level CONTENT-
    * ADDRESSABLE dedup signal from the q77 machinery: every asset's
    * payload splits into 64-byte checksummed blocks, a corpus-wide
    * block-frequency pass counts how many assets carry each block, and
    * an asset whose payload is mostly OTHER assets' blocks
    * (`shared_frac ≥ 0.5` — recycled/near-duplicate media) is refused
    * admission regardless of its caption text. The survivors flow into
    * the same weight-monotone per-source selection as q118, and the
    * manifest carries both modalities' signals (tokens/diversity AND
    * block stats), so "why is this asset in my training set" is
    * answerable from the manifest alone.
    *
    * Plan shape at 100 TB: block explode is generator-only (no
    * shuffle), the frequency pass is one map-side-combinable groupBy
    * on block hash, the join back is hash-partitioned on the same key,
    * and the per-asset rollup + bounded-heap top-k add one exchange
    * each — linear in corpus bytes, never pairwise in assets (the
    * content-addressable trick: near-dup detection via a GROUP BY
    * instead of an asset×asset comparison).
    */
  val multimodalCuration: QuerySpec = {
    val kindSql = s"(['image', 'audio', 'video'])[CAST(${
      graft.functions.Text.charHashSql("source")} % 3 + 1 AS INT)]"
    QuerySpec.sql(
      "q122_multimodal_curation",
      s"""WITH t AS (
        |  SELECT source, doc_id,
        |    $tokSql AS toks
        |  FROM documents),
        |q AS (
        |  SELECT source, doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS DOUBLE)
        |      / greatest(len(toks), 1) AS diversity
        |  FROM t),
        |assets AS (
        |  SELECT doc_id AS asset_id, $kindSql AS kind,
        |    octet_length(CAST(text AS BLOB)) AS n_bytes,
        |    hex(CAST(text AS BLOB)) AS hx
        |  FROM documents),
        |b AS (
        |  SELECT asset_id, kind,
        |    greatest(CAST(ceil(n_bytes / 64.0) AS BIGINT), 1) AS n_blocks, hx
        |  FROM assets),
        |bl AS (
        |  SELECT asset_id, kind, n_blocks,
        |    unnest([md5(substring(hx, CAST(i * 128 + 1 AS BIGINT), 128))
        |            FOR i IN range(0, n_blocks)]) AS bh
        |  FROM b),
        |freq AS (SELECT bh, count(DISTINCT asset_id) AS na FROM bl GROUP BY bh),
        |ast AS (
        |  SELECT bl.asset_id, bl.kind, bl.n_blocks,
        |    CAST(sum(CASE WHEN f.na > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*) AS shared_frac
        |  FROM bl JOIN freq f USING (bh)
        |  GROUP BY bl.asset_id, bl.kind, bl.n_blocks),
        |adm AS (
        |  SELECT q.source, q.doc_id, a.kind, q.n_tokens, q.diversity,
        |    a.n_blocks, a.shared_frac,
        |    CAST(1 + floor(4 * q.diversity) AS INT) AS weight
        |  FROM q JOIN ast a ON a.asset_id = q.doc_id
        |  WHERE q.n_tokens >= $CurationMinTokens
        |    AND q.diversity >= $CurationMinDiversity
        |    AND a.shared_frac < $MaxSharedBlocks),
        |k AS (
        |  SELECT *, list_min(list_transform(generate_series(0, weight - 1),
        |    t -> ${Sketches.uniformHashSql("doc_id || ':' || CAST(t AS VARCHAR)")}))
        |    AS ticket
        |  FROM adm)
        |SELECT source, doc_id, kind, n_tokens, weight, n_blocks, ticket,
        |  round(diversity + 1e-9, 4) AS diversity,
        |  round(shared_frac + 1e-9, 4) AS shared_frac
        |FROM (SELECT *, row_number() OVER (PARTITION BY source
        |        ORDER BY ticket, doc_id) AS rk FROM k) z
        |WHERE rk <= $CurationPerSource
        |ORDER BY source, ticket, doc_id""".stripMargin
    ) { (spark, dir) =>
      val docs = graft.CacheScope.cache(Tables.load(spark, dir, "documents"))
      val toks = Text.tokens(col("text"))
      val quality = docs.select(col("source"), col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        (size(array_distinct(toks)).cast("double") /
          greatest(size(toks), lit(1))).as("diversity"))
      val blocks = graft.multimodal.Multimodal.assets(docs)
        .select(col("asset_id"), col("kind"),
          greatest(ceil(col("n_bytes") / 64.0).cast("long"), lit(1L))
            .as("n_blocks"),
          hex(col("payload")).as("hx"))
        .select(col("asset_id"), col("kind"), col("n_blocks"),
          col("hx"), explode(sequence(lit(0L), col("n_blocks") - 1)).as("blk"))
        .withColumn("bh",
          md5(expr("cast(substring(hx, blk * 128 + 1, 128) as binary)")))
        .drop("hx")
      val freq = blocks.groupBy(col("bh"))
        .agg(countDistinct(col("asset_id")).as("na"))
      val assetStats = blocks.join(freq, "bh")
        .groupBy(col("asset_id"), col("kind"), col("n_blocks"))
        .agg((sum(when(col("na") > 1, 1).otherwise(0)).cast("double") /
          count(lit(1))).as("shared_frac"))
      val admitted = quality
        .join(assetStats, quality("doc_id") === assetStats("asset_id"))
        .filter(col("n_tokens") >= CurationMinTokens &&
          col("diversity") >= CurationMinDiversity &&
          col("shared_frac") < MaxSharedBlocks)
        .withColumn("weight", (floor(col("diversity") * 4) + 1).cast("int"))
        .select(col("source"), col("doc_id"), col("kind"), col("n_tokens"),
          col("diversity"), col("n_blocks"), col("shared_frac"), col("weight"))
      graft.operators.WeightedSample
        .sample(admitted, Seq("source"), "doc_id", "weight", CurationPerSource)
        .select(col("source"), col("doc_id"), col("kind"), col("n_tokens"),
          col("weight"), col("n_blocks"), col("ticket"),
          round(col("diversity") + lit(1e-9), 4).as("diversity"),
          round(col("shared_frac") + lit(1e-9), 4).as("shared_frac"))
        .orderBy(col("source"), col("ticket"), col("doc_id"))
    }
  }

  /** A train doc sharing at least this fraction of its shingles with
    * the eval split is refused admission (would memorize eval content). */
  private val MaxEvalOverlap = 0.5

  /** DECONTAMINATION-aware curation — q69's leak measurement turned
    * into an admission gate, pointed the direction a corpus build
    * needs: q69 asks "which EVAL docs leak from train" (benchmark
    * validity); curation must ask "which TRAIN candidates contain eval
    * content" and refuse them, or the model memorizes its own test
    * set. The train split's candidate docs (q41's portable-hash
    * bucket < 80) each measure the fraction of their 3-gram shingles
    * present anywhere in the eval split (bucket ≥ 90); a candidate at
    * or above `MaxEvalOverlap` is dropped no matter how good its
    * text quality, and survivors flow through the q118 quality gates
    * and weighted per-source selection. The manifest carries the
    * overlap evidence (n_shingles, n_overlap, ratio) so an audit can
    * re-derive every refusal.
    *
    * Scale shape: the eval shingle set is DISTINCT-reduced before the
    * join (eval splits are fixed benchmark suites — tiny vs the
    * corpus), so at 100 TB it broadcasts (or becomes a bloom filter,
    * q81's machinery) and the decon pass costs one generator + one
    * map-side join over the candidates' shingle stream — no
    * candidate×eval pairing ever materializes. A doc with zero
    * shingles has no overlap stats and is dropped by the inner join —
    * admission requires EVIDENCE of cleanliness, not absence of
    * evidence (both engines agree: empty explode/unnest emits no row).
    */
  val decontaminatedCuration: QuerySpec = QuerySpec.sql(
    "q123_curation_decon",
    s"""WITH t AS (
      |  SELECT source, doc_id, $tokSql AS toks,
      |    ((doc_id % 1000003) * 2654435761) % 100 AS bucket
      |  FROM documents),
      |sh AS (
      |  SELECT source, doc_id, bucket, toks,
      |    ${DedupQueries.shinglesSql} AS sh
      |  FROM t),
      |eval_sh AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE bucket >= 90),
      |tr AS (SELECT source, doc_id, toks, sh FROM sh WHERE bucket < 80),
      |ex AS (SELECT doc_id, unnest(sh) AS s FROM tr),
      |ov AS (
      |  SELECT e.doc_id, count(*) AS n_shingles,
      |    CAST(sum(CASE WHEN es.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_overlap
      |  FROM ex e LEFT JOIN eval_sh es ON e.s = es.s
      |  GROUP BY e.doc_id),
      |q AS (
      |  SELECT source, doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(toks)) AS DOUBLE)
      |      / greatest(len(toks), 1) AS diversity
      |  FROM tr),
      |adm AS (
      |  SELECT q.source, q.doc_id, q.n_tokens, q.diversity,
      |    o.n_shingles, o.n_overlap,
      |    CAST(o.n_overlap AS DOUBLE) / o.n_shingles AS overlap_ratio,
      |    CAST(1 + floor(4 * q.diversity) AS INT) AS weight
      |  FROM q JOIN ov o USING (doc_id)
      |  WHERE q.n_tokens >= $CurationMinTokens
      |    AND q.diversity >= $CurationMinDiversity
      |    AND CAST(o.n_overlap AS DOUBLE) / o.n_shingles < $MaxEvalOverlap),
      |k AS (
      |  SELECT *, list_min(list_transform(generate_series(0, weight - 1),
      |    t -> ${Sketches.uniformHashSql("doc_id || ':' || CAST(t AS VARCHAR)")}))
      |    AS ticket
      |  FROM adm)
      |SELECT source, doc_id, n_tokens, weight, n_shingles, n_overlap, ticket,
      |  round(diversity + 1e-9, 4) AS diversity,
      |  round(overlap_ratio + 1e-9, 4) AS overlap_ratio
      |FROM (SELECT *, row_number() OVER (PARTITION BY source
      |        ORDER BY ticket, doc_id) AS rk FROM k) z
      |WHERE rk <= $CurationPerSource
      |ORDER BY source, ticket, doc_id""".stripMargin
  ) { (spark, dir) =>
    import graft.operators.MinHashLSH
    val base = graft.CacheScope.cache(
      Tables.load(spark, dir, "documents")
        .select(col("source"), col("doc_id"), Text.tokens(col("text")).as("toks"),
          ((col("doc_id") % 1000003L) * 2654435761L % 100).as("bucket"))
        .withColumn("sh", MinHashLSH.shingleHashes(col("toks"), 3)))
    val evalSh = base.filter(col("bucket") >= 90)
      .select(explode(col("sh")).as("s")).distinct()
      .withColumn("hit", lit(1L))
    val train = base.filter(col("bucket") < 80)
    val overlap = train
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .join(evalSh, Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
    val ratio = col("n_overlap").cast("double") / col("n_shingles")
    val admitted = train
      .select(col("source"), col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(array_distinct(col("toks"))).cast("double") /
          greatest(size(col("toks")), lit(1))).as("diversity"))
      .join(overlap, "doc_id")
      .filter(col("n_tokens") >= CurationMinTokens &&
        col("diversity") >= CurationMinDiversity &&
        ratio < MaxEvalOverlap)
      .withColumn("overlap_ratio", ratio)
      .withColumn("weight", (floor(col("diversity") * 4) + 1).cast("int"))
    graft.operators.WeightedSample
      .sample(admitted, Seq("source"), "doc_id", "weight", CurationPerSource)
      .select(col("source"), col("doc_id"), col("n_tokens"), col("weight"),
        col("n_shingles"), col("n_overlap"), col("ticket"),
        round(col("diversity") + lit(1e-9), 4).as("diversity"),
        round(col("overlap_ratio") + lit(1e-9), 4).as("overlap_ratio"))
      .orderBy(col("source"), col("ticket"), col("doc_id"))
  }

  /** Per-source budget for the scrub-aware selection (cleaned tokens). */
  private val CleanTokenBudget = 600L

  /** Scrub-aware token budgeting — q109's greedy selection with the
    * budget counted in UNIQUE-content tokens: documents first pass
    * through [[graft.operators.SpanScrub]] (q126's hot-span removal),
    * then the per-source quality walk accumulates `n_clean` — tokens
    * surviving the scrub — instead of raw length. A training budget
    * buys information, not bytes: without this, boilerplate-padded
    * documents consume budget with content the model has already seen
    * (the Lee et al. motivation applied at SELECTION time). Fully
    * scrubbed docs (nothing unique left) drop out before the walk;
    * quality (diversity) is likewise computed on the cleaned tokens,
    * so a doc can't buy rank with repeated content either. Cost = the
    * q126 scrub chain + ONE keyed window — same exchange count as
    * q109 at any scale.
    */
  val scrubbedBudgetSelect: QuerySpec = QuerySpec.sql(
    "q127_scrubbed_budget",
    s"""WITH t AS (SELECT source, doc_id, $tokSql AS toks FROM documents),
      |${DedupQueries.scrubCtesSql},
      |cl AS (
      |  SELECT source, t.doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_tokens,
      |    ${DedupQueries.cleanedToksSql} AS ctoks
      |  FROM t LEFT JOIN covl USING (doc_id)),
      |b AS (
      |  SELECT source, doc_id, n_tokens,
      |    CAST(len(ctoks) AS BIGINT) AS n_clean,
      |    CAST(len(list_distinct(ctoks)) AS DOUBLE)
      |      / greatest(len(ctoks), 1) AS diversity
      |  FROM cl WHERE len(ctoks) > 0),
      |r AS (
      |  SELECT *, CAST(sum(n_clean) OVER (PARTITION BY source
      |      ORDER BY diversity DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS run_clean
      |  FROM b)
      |SELECT source, doc_id, n_tokens, n_clean, run_clean,
      |  round(diversity + 1e-9, 4) AS diversity
      |FROM r WHERE run_clean <= $CleanTokenBudget
      |ORDER BY source, run_clean, doc_id""".stripMargin
  ) { (spark, dir) =>
    import graft.queries.{DedupQueries => DQ}
    val docs = Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        Text.tokens(col("text")).as("toks"))
    val b = graft.operators.SpanScrub
      .scrub(docs, "doc_id", "toks", DQ.SpanN, DQ.SpanHotDf)
      .select(col("source"), col("doc_id"), col("n_tokens"),
        size(col("cleaned")).cast("long").as("n_clean"),
        (size(array_distinct(col("cleaned"))).cast("double")
          / greatest(size(col("cleaned")), lit(1))).as("diversity"))
      .filter(col("n_clean") > 0)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("diversity").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.withColumn("run_clean", sum(col("n_clean")).over(w))
      .filter(col("run_clean") <= CleanTokenBudget)
      .select(col("source"), col("doc_id"), col("n_tokens"),
        col("n_clean"), col("run_clean"),
        round(col("diversity") + lit(1e-9), 4).as("diversity"))
      .orderBy(col("source"), col("run_clean"), col("doc_id"))
  }

  /** One day's corpus ingest as a single oracle-gated cycle — the
    * composition every pieces-gate points at: a delta batch arrives,
    * dedup ADMISSION runs against the persisted LSH band index (q125's
    * probe/verify/append, O(delta)), the per-source token-budget
    * manifest REBUILDS over the grown corpus, and both manifests are
    * real [[graft.sources.Snapshots]] versions whose CDF is the
    * deliverable: which documents ENTERED the training set because of
    * today's batch — and which LEFT, because a fixed budget means a
    * better new document DISPLACES the marginal old one (the subtle
    * effect: an admitted doc with higher diversity shifts every
    * later cumsum in its source, so downstream rows change or fall off
    * the budget). "What changed in my training set today and why" is
    * answered from versioned manifests alone; every stage is the
    * already-gated machinery, so the new surface under test is exactly
    * the composition.
    */
  val ingestCycle: QuerySpec = {
    def walkSql(src: String) =
      s"""SELECT source, doc_id, n_tokens, run_tokens,
        |    round(diversity + 1e-9, 4) AS diversity
        |  FROM (
        |    SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
        |        ORDER BY diversity DESC, doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |        AS run_tokens
        |    FROM $src) z
        |  WHERE run_tokens <= $TokenBudget""".stripMargin
    QuerySpec.sql(
      "q132_ingest_cycle",
      s"""WITH t AS (
        |  SELECT source, doc_id, $tokSql AS toks,
        |    ((doc_id % 1000003) * 2654435761) % 100 AS bucket
        |  FROM documents),
        |shs AS (SELECT source, doc_id, bucket, toks,
        |  ${DedupQueries.shinglesSql} AS sh FROM t),
        |sig AS (SELECT doc_id, bucket, sh,
        |  ${graft.operators.MinHashLSH.signatureSql("sh")} AS sig FROM shs),
        |bk AS (
        |  SELECT doc_id, bucket, b.band,
        |    array_to_string(sig[b.band * ${graft.operators.MinHashLSH.RowsPerBand} + 1 : (b.band + 1) * ${graft.operators.MinHashLSH.RowsPerBand}], '_') AS bkt
        |  FROM sig, (SELECT unnest(range(0, ${graft.operators.MinHashLSH.Bands})) AS band) b),
        |cand AS (
        |  SELECT DISTINCT d.doc_id AS did, c.doc_id AS cid
        |  FROM bk d JOIN bk c ON d.band = c.band AND d.bkt = c.bkt
        |  WHERE d.bucket >= 80 AND c.bucket < 80),
        |dup AS (
        |  SELECT DISTINCT did FROM cand
        |  JOIN sig sd ON sd.doc_id = cand.did
        |  JOIN sig sc ON sc.doc_id = cand.cid
        |  WHERE CAST(len(list_intersect(sd.sh, sc.sh)) AS DOUBLE)
        |    / (len(sd.sh) + len(sc.sh) - len(list_intersect(sd.sh, sc.sh))) >= 0.6),
        |b AS (
        |  SELECT source, doc_id, bucket,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS DOUBLE)
        |      / greatest(len(toks), 1) AS diversity
        |  FROM shs),
        |m0 AS (SELECT * FROM b WHERE bucket < 80),
        |m1 AS (SELECT * FROM b WHERE bucket < 80
        |       OR (bucket >= 80 AND doc_id NOT IN (SELECT did FROM dup))),
        |v0 AS (${walkSql("m0")}),
        |v1 AS (${walkSql("m1")})
        |SELECT *, 'insert' AS _change_type FROM (
        |  SELECT * FROM v1 EXCEPT ALL SELECT * FROM v0)
        |UNION ALL
        |SELECT *, 'delete' AS _change_type FROM (
        |  SELECT * FROM v0 EXCEPT ALL SELECT * FROM v1)
        |ORDER BY _change_type, doc_id, run_tokens""".stripMargin
    ) { (spark, dir) =>
      import graft.operators.{LshIndex, MinHashLSH}
      import graft.sources.Snapshots
      val toks = Text.tokens(col("text"))
      val docs = graft.CacheScope.cache(
        Tables.load(spark, dir, "documents")
          .select(col("source"), col("doc_id"),
            MinHashLSH.shingleHashes(toks, 3).as("sh"),
            size(toks).cast("long").as("n_tokens"),
            (size(array_distinct(toks)).cast("double")
              / greatest(size(toks), lit(1))).as("diversity"),
            ((col("doc_id") % 1000003L) * 2654435761L % 100).as("bucket")))
      val corpus = docs.filter(col("bucket") < 80)
      val delta = docs.filter(col("bucket") >= 80)
      val root = graft.Scratch.fresh("q132")
      val path = root + "/lsh_index"
      LshIndex.write(corpus, "doc_id", "sh", path)
      val cand = LshIndex.candidates(spark, path, delta, "doc_id", "sh")
      val corpusSh = corpus
        .join(cand.select(col("indexId").as("doc_id")).distinct(),
          Seq("doc_id"), "left_semi")
        .select(col("doc_id").as("cid"), col("sh").as("__shc"))
      val dupIds = cand
        .select(col("deltaId").as("did"), col("indexId").as("cid"))
        .join(delta.select(col("doc_id").as("did"), col("sh").as("__shd")),
          "did")
        .join(corpusSh, "cid")
        .filter(MinHashLSH.jaccard(col("__shd"), col("__shc")) >= 0.6)
        .select(col("did").as("doc_id")).distinct()
      val admitted = delta.join(dupIds, Seq("doc_id"), "left_anti")
      LshIndex.append(admitted, "doc_id", "sh", path)
      def manifest(d: org.apache.spark.sql.DataFrame) = {
        val w = Window.partitionBy(col("source"))
          .orderBy(col("diversity").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        d.withColumn("run_tokens", sum(col("n_tokens")).over(w))
          .filter(col("run_tokens") <= TokenBudget)
          .select(col("source"), col("doc_id"), col("n_tokens"),
            col("run_tokens"),
            round(col("diversity") + lit(1e-9), 4).as("diversity"))
      }
      val table = root + "/manifest"
      val v0 = Snapshots.write(manifest(corpus), table)
      val v1 = Snapshots.write(manifest(corpus.unionByName(admitted)), table)
      Snapshots.diff(spark, table, v0, v1)
        .orderBy(col("_change_type"), col("doc_id"), col("run_tokens"))
    }
  }

  /** Model sequence length for q193/q194 — small enough that the
    * fixture corpus packs into a few thousand sequences, so boundary
    * arithmetic (documents crossing sequences) is exercised densely.
    */
  private val SeqLen = 128

  /** Shared oracle fragment for q193/q194: the concat-and-chunk packing
    * chain (token counts → global running offsets → per-sequence
    * contribution spans), ONE copy so the manifest cannot diverge from
    * the packing it summarizes. Ends with
    * `c(seq_id, doc_id, n_tokens, start_off, end_off, tok_start, tok_len)`.
    */
  private val packCtesSql =
    s"""t AS (SELECT doc_id, CAST(len($tokSql) AS BIGINT) AS n_tokens
      |       FROM documents),
      |o AS (SELECT doc_id, n_tokens,
      |    CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS end_off
      |  FROM t WHERE n_tokens > 0),
      |s AS (SELECT *, end_off - n_tokens AS start_off FROM o),
      |f AS (SELECT doc_id, n_tokens, start_off, end_off,
      |    unnest(range(start_off // $SeqLen, (end_off - 1) // $SeqLen + 1)) AS sq
      |  FROM s),
      |c AS (SELECT CAST(sq AS BIGINT) AS seq_id, doc_id, n_tokens,
      |    start_off, end_off,
      |    greatest(start_off, sq * $SeqLen) - sq * $SeqLen AS tok_start,
      |    least(end_off, (sq + 1) * $SeqLen) - greatest(start_off, sq * $SeqLen) AS tok_len
      |  FROM f)""".stripMargin

  /** Concat-and-chunk sequence packing ([[graft.operators.SequencePack]]
    * over [[graft.operators.PrefixSum]]): the token stream in doc_id
    * order is cut into `SeqLen`-token model sequences, documents
    * crossing boundaries — one row per (sequence, document)
    * contribution with its global span and in-sequence offset. The
    * oracle replays the identical arithmetic on a plain global-window
    * cumsum; the Spark side computes the SAME offsets through the
    * two-phase distributed scan (no single-partition window), so the
    * hash compare certifies the stitch is exact, not just plausible.
    */
  val sequencePack: QuerySpec = QuerySpec.sql(
    "q193_sequence_pack",
    s"""WITH $packCtesSql
      |SELECT seq_id, doc_id, n_tokens, start_off, end_off, tok_start, tok_len
      |FROM c
      |ORDER BY seq_id, doc_id""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
    SequencePack.pack(docs, "doc_id", "n_tokens", SeqLen, buckets = 8)
      .orderBy(col("seq_id"), col("doc_id"))
  }

  /** The packing MANIFEST a training job actually consumes: per
    * sequence, how many documents contribute, how many arrive whole vs
    * truncated-at-a-boundary, the filled token count and fill ratio
    * (exactly 1.0 everywhere but the final partial sequence — the
    * no-padding invariant), and the contributing doc_id span. One
    * `groupBy(seq_id)` over the q193 contribution rows; at 100 TB the
    * manifest is ~total_tokens/SeqLen rows, partial-aggregated.
    */
  val packManifest: QuerySpec = QuerySpec.sql(
    "q194_pack_manifest",
    s"""WITH $packCtesSql
      |SELECT seq_id,
      |  count(*) AS n_docs,
      |  CAST(sum(CASE WHEN tok_len = n_tokens THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_whole_docs,
      |  CAST(sum(tok_len) AS BIGINT) AS n_filled,
      |  round(CAST(sum(tok_len) AS DOUBLE) / $SeqLen + 1e-9, 4) AS fill_ratio,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM c
      |GROUP BY seq_id
      |ORDER BY seq_id""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
    SequencePack.pack(docs, "doc_id", "n_tokens", SeqLen, buckets = 8)
      .groupBy(col("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("tok_len") === col("n_tokens"), 1L).otherwise(0L))
          .as("n_whole_docs"),
        sum(col("tok_len")).as("n_filled"),
        round(sum(col("tok_len")).cast("double") / SeqLen + lit(1e-9), 4)
          .as("fill_ratio"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("seq_id"))
  }

  /** INCREMENTAL packing lifecycle
    * ([[graft.operators.SequencePack.writePacked]]/`appendPacked`/
    * `readPacked`): the stream is packed in three strictly-increasing
    * batches — base write then two O(delta) appends, each continuing
    * from the persisted tail (max(end_off) of the stored rows; no
    * separate running-total state to drift from the data) — and the
    * union must be BIT-IDENTICAL to packing the whole corpus at once,
    * which is exactly what the oracle replays (one global cumsum; the
    * q107/q119 append-invisibility contract, here for the training
    * layout itself). A batch landing mid-sequence fills that
    * sequence's tail rather than opening a fresh one — the invariant
    * that keeps incremental and one-shot layouts interchangeable.
    */
  val packLifecycle: QuerySpec = QuerySpec.sql(
    "q197_pack_lifecycle",
    s"""WITH $packCtesSql
      |SELECT seq_id, doc_id, n_tokens, start_off, end_off, tok_start, tok_len
      |FROM c
      |ORDER BY seq_id, doc_id""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0) // lifecycle admission contract
      .transform(graft.CacheScope.cache)
    val root = graft.Scratch.fresh("q197") + "/packed"
    SequencePack.writePacked(docs.filter(col("doc_id") < 200),
      "doc_id", "n_tokens", SeqLen, root, buckets = 8)
    SequencePack.appendPacked(
      docs.filter(col("doc_id") >= 200 && col("doc_id") < 350),
      "doc_id", "n_tokens", root)
    SequencePack.appendPacked(docs.filter(col("doc_id") >= 350),
      "doc_id", "n_tokens", root)
    SequencePack.readPacked(spark, root)
      .orderBy(col("seq_id"), col("doc_id"))
  }

  /** STREAMED packing maintenance — q197's appends arriving as a
    * Structured Streaming source: three AvailableNow micro-batches,
    * `foreachBatch` → [[graft.operators.SequencePack.appendPacked]],
    * then one serve from the persisted stream. Unlike the commuting
    * append families (q119 IVF, q162 BM25), packing appends DON'T
    * commute — the stream tail is positional — so batch ORDER is part
    * of the contract: the delta files carry strictly increasing key
    * ranges and staggered modification times (the file source's
    * `latestFirst=false` ordering key), mirroring the monotone arrival
    * a real queue/ledger source gives for free. A violated order
    * doesn't corrupt the layout — `appendPacked`'s frontier check
    * fails the batch fast. The final layout must be bit-identical to
    * the one-shot pack (same oracle as q193/q197).
    */
  val packStream: QuerySpec = QuerySpec.sql(
    "q201_pack_stream",
    s"""WITH $packCtesSql
      |SELECT seq_id, doc_id, n_tokens, start_off, end_off, tok_start, tok_len
      |FROM c
      |ORDER BY seq_id, doc_id""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0) // lifecycle admission contract
      .transform(graft.CacheScope.cache)
    val root = graft.Scratch.fresh("q201")
    val packed = root + "/packed"
    SequencePack.writePacked(docs.filter(col("doc_id") < 200),
      "doc_id", "n_tokens", SeqLen, packed, buckets = 8)
    // thirds of the remaining id range, so every batch is non-trivial
    // at any fixture SF (empty batches are legal — appendPacked no-ops
    // — but a gate should exercise real ones); the three strictly
    // increasing key ranges replay in arrival order
    val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
    val step = math.max(1L, (maxId - 200L) / 3 + 1)
    val bounds = Seq(
      (200L, 200L + step), (200L + step, 200L + 2 * step),
      (200L + 2 * step, Long.MaxValue))
    graft.streaming.Replay.files(root,
      docs.withColumn("wave",
        graft.streaming.Replay.ranges(col("doc_id"), bounds)),
      "wave", bounds.size) { (batch, _) =>
      SequencePack.appendPacked(batch, "doc_id", "n_tokens", packed)
    }
    SequencePack.readPacked(spark, packed)
      .orderBy(col("seq_id"), col("doc_id"))
  }

  /** Power-of-2 length ladder for q198 — the bucketed-batching shape
    * inference servers use (pad within a bucket, never to the global
    * max). All-integer, so bucket membership is engine-exact.
    */
  private val LengthLadder = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L)

  /** Length-bucketed BATCHING audit — the inference-side complement of
    * q194's training-side fill manifest: documents pad to their
    * power-of-2 length bucket (over-long docs truncate at the ladder
    * cap — the serving contract), and the report prices the padding a
    * batch planner actually pays: per bucket, docs, kept vs padded
    * tokens, the kept/(kept+pad) efficiency, and the batch count at a
    * fixed batch size (tail batches run short — batch-granularity
    * waste). One map-side-combinable aggregation producing ≤ ladder
    * rows at any corpus size; bucket selection is an all-integer
    * `array_min(filter(ladder, b >= n))` — no float log2 at bucket
    * boundaries to skew across engines.
    */
  val lengthBuckets: QuerySpec = {
    val cap = LengthLadder.last
    val batchSize = 8
    val ladderSql = LengthLadder.mkString("[", ", ", "]")
    QuerySpec.sql(
      "q198_length_buckets",
      s"""WITH t AS (
        |  SELECT CAST(least(len($tokSql), $cap) AS BIGINT) AS n
        |  FROM documents),
        |b AS (
        |  SELECT n, CAST(list_min(list_filter($ladderSql, b -> b >= n)) AS BIGINT)
        |    AS bucket_len
        |  FROM t WHERE n > 0)
        |SELECT bucket_len, count(*) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS kept_tokens,
        |  CAST(sum(bucket_len - n) AS BIGINT) AS pad_tokens,
        |  round(CAST(sum(n) AS DOUBLE) / (sum(n) + sum(bucket_len - n)) + 1e-9, 4)
        |    AS efficiency,
        |  CAST((count(*) + ${batchSize - 1}) // $batchSize AS BIGINT) AS n_batches
        |FROM b
        |GROUP BY bucket_len
        |ORDER BY bucket_len""".stripMargin
    ) { (spark, dir) =>
      val n = least(size(Text.tokens(col("text"))).cast("long"), lit(cap))
      val pad = col("bucket_len") - col("n")
      Tables.load(spark, dir, "documents")
        .select(n.as("n"))
        .filter(col("n") > 0)
        .withColumn("bucket_len",
          array_min(filter(typedlit(LengthLadder), b => b >= col("n"))))
        .groupBy(col("bucket_len"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).as("kept_tokens"),
          sum(pad).as("pad_tokens"),
          round(sum(col("n")).cast("double")
            / (sum(col("n")) + sum(pad)) + lit(1e-9), 4).as("efficiency"))
        .withColumn("n_batches",
          expr(s"(n_docs + ${batchSize - 1}) div $batchSize"))
        .orderBy(col("bucket_len"))
    }
  }

  val all: Seq[QuerySpec] =
    Seq(stratifiedSample, tokenBudgetSelect, epochShuffle, weightedSample,
      curationPipeline, curationDiff, multimodalCuration,
      decontaminatedCuration, scrubbedBudgetSelect, ingestCycle,
      sequencePack, packManifest, packLifecycle, lengthBuckets, packStream)
}
