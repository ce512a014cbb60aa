package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.QuerySpec
import graft.functions.Text
import graft.operators.MinHashLSH
import graft.sources.Tables

/** Deduplication tier over the `documents` fixture (north-star extension):
  * exact hash dedup, brute-force n-gram Jaccard, MinHash+LSH, and SimHash
  * Hamming-band near-dup detection. The embedding-cosine variant lives in
  * [[SimilarityQueries]].
  *
  * Scale shapes: q22 is one hash-groupBy (map-side combinable); q23's
  * inverted-index join is bounded by pairs sharing a shingle (the honest
  * brute-force baseline); q24/q25 are the 100 TB paths — candidate
  * generation via bucket self-join whose cost tracks true-duplicate
  * density, not corpus².
  */
object DedupQueries {

  /** q23's boilerplate cap: shingles in more documents than this are
    * dropped before the inverted-index self-join (see [[ngramJaccard]]).
    */
  val MaxShingleDf = 10

  private val tokSql =
    """list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != '')"""

  private def charHashSql(e: String): String = Text.charHashSql(e)

  /** DuckDB mirror of [[MinHashLSH.shingleHashes]] (3-gram word shingles). */
  private[queries] val shinglesSql =
    s"""list_distinct(list_transform(
      |      CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |           ELSE [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)] END,
      |      s -> ${charHashSql("s")}))""".stripMargin

  /** Shared oracle fragment for q55/q112: the LSH → Jaccard-verify →
    * connected-components chain (`shs` … `cc`), assuming a
    * `t(doc_id, toks)` CTE is in scope — ONE copy so a threshold or
    * band-arithmetic change cannot silently diverge between the two
    * oracles.
    */
  private val componentCtesSql =
    s"""shs AS (SELECT doc_id, $shinglesSql AS sh FROM t),
      |sig AS (SELECT doc_id, sh, ${MinHashLSH.signatureSql("sh")} AS sig FROM shs),
      |bk AS (
      |  SELECT doc_id, b.band, array_to_string(sig[b.band * ${MinHashLSH.RowsPerBand} + 1 : (b.band + 1) * ${MinHashLSH.RowsPerBand}], '_') AS bucket
      |  FROM sig, (SELECT unnest(range(0, ${MinHashLSH.Bands})) AS band) b),
      |cand AS (
      |  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
      |  FROM bk l JOIN bk r ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
      |pairs AS (
      |  SELECT id1, id2
      |  FROM cand JOIN sig sa ON cand.id1 = sa.doc_id
      |            JOIN sig sb ON cand.id2 = sb.doc_id
      |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.6),
      |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
      |          UNION ALL SELECT id2, id1 FROM pairs),
      |reach AS (
      |  SELECT doc_id AS node, doc_id AS label FROM documents
      |  UNION
      |  SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.node),
      |cc AS (SELECT node AS doc_id, min(label) AS component FROM reach GROUP BY node)""".stripMargin

  /** Exact deduplication: hash-groupBy on the whitespace-normalized,
    * lowercased text; every row keeps its group size and a canonical flag
    * (lowest doc_id wins).
    */
  val exactDedup: QuerySpec = QuerySpec.sql(
    "q22_exact_dedup",
    """WITH h AS (
      |  SELECT doc_id,
      |    md5(array_to_string(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != ''), ' ')) AS text_hash
      |  FROM documents)
      |SELECT doc_id, text_hash,
      |  count(*) OVER (PARTITION BY text_hash) AS group_size,
      |  doc_id = min(doc_id) OVER (PARTITION BY text_hash) AS is_canonical
      |FROM h
      |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        md5(array_join(Text.tokens(col("text")), " ").cast("binary"))
          .as("text_hash"))
      .withColumn("group_size",
        count(lit(1)).over(Window.partitionBy(col("text_hash"))))
      .withColumn("is_canonical",
        col("doc_id") === min(col("doc_id"))
          .over(Window.partitionBy(col("text_hash"))))
      .orderBy(col("doc_id"))
  }

  /** Brute-force 3-gram Jaccard near-dup pairs via an inverted shingle
    * index: explode distinct shingle hashes, self-join on the hash to
    * count common shingles, Jaccard = |∩|/(|a|+|b|-|∩|), threshold 0.5.
    *
    * Boilerplate prune: a shingle appearing in more than [[MaxShingleDf]]
    * documents is shared template/boilerplate, not duplication signal —
    * its contribution to the inverted-index self-join is df² pairs (the
    * one quadratic term that breaks the "cost tracks duplicate density"
    * claim at 100 TB) while near-dup pairs are identified by their RARE
    * shared shingles. Drop those shingles BEFORE the join and compute
    * sizes/intersections on the pruned universe (measured at sf0.1:
    * 2.79M→1.05M candidate pairs, identical surviving pair set). The
    * trade is recall on near-dup families larger than the cap whose
    * every shingle is family-wide — exactly the regime q22 (exact
    * dedup) and q24 (MinHash LSH, which has no df blowup) cover. The
    * oracle replays the identical cap, and every row reports the global
    * kept/dropped shingle counts so the prune's effect is visible in
    * the gate.
    */
  val ngramJaccard: QuerySpec = QuerySpec.sql(
    "q23_ngram_jaccard",
    s"""WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents),
      |sh AS (SELECT doc_id, $shinglesSql AS sh FROM t),
      |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      |dfq AS (
      |  SELECT s, count(*) <= $MaxShingleDf AS keep
      |  FROM ex GROUP BY s),
      |st AS (
      |  SELECT CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS shingles_kept,
      |         CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT) AS shingles_dropped
      |  FROM dfq),
      |exk AS (SELECT doc_id, s FROM ex WHERE s IN (SELECT s FROM dfq WHERE keep)),
      |pairs AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
      |  FROM exk a JOIN exk b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, count(*) AS n FROM exk GROUP BY 1)
      |SELECT id1, id2, CAST(common AS BIGINT) AS common,
      |  round(CAST(common AS DOUBLE) / (sa.n + sb.n - common) + 1e-9, 4) AS jaccard,
      |  st.shingles_kept, st.shingles_dropped
      |FROM pairs JOIN sizes sa ON id1 = sa.doc_id JOIN sizes sb ON id2 = sb.doc_id
      |  CROSS JOIN st
      |WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.5
      |ORDER BY id1, id2""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        MinHashLSH.shingleHashes(Text.tokens(col("text")), 3).as("sh"))
      .transform(graft.CacheScope.cache)
    val ex = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    // document frequency per shingle + the keep verdict, persisted once:
    // feeds the semi-join prune AND the kept/dropped report
    val dfq = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .withColumn("keep", col("df") <= lit(MaxShingleDf.toLong))
      .transform(graft.CacheScope.cache)
    val stats = dfq.agg(
      sum(when(col("keep"), 1L).otherwise(0L)).as("shingles_kept"),
      sum(when(col("keep"), 0L).otherwise(1L)).as("shingles_dropped"))
    val exk = ex.join(dfq.filter(col("keep")).select(col("s")),
      Seq("s"), "left_semi")
    val pairs = exk.as("a").join(exk.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("common"))
    val sizes = exk.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val jac = col("common").cast("double") /
      (col("sa.n") + col("sb.n") - col("common"))
    pairs
      .join(sizes.as("sa"), col("id1") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("id2") === col("sb.doc_id"))
      .filter(jac >= 0.5)
      .select(col("id1"), col("id2"), col("common"),
        round(jac + lit(1e-9), 4).as("jaccard"))
      .crossJoin(broadcast(stats))
      .orderBy(col("id1"), col("id2"))
  }

  /** MinHash + banded LSH near-dup pairs ([[MinHashLSH]] — 16-component
    * signatures, 4 bands × 4 rows), verified by exact shingle Jaccard
    * ≥ 0.6. The scale path: only bucket-colliding pairs are compared.
    */
  val minhashLsh: QuerySpec = QuerySpec.sql(
    "q24_minhash_lsh",
    s"""WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents),
      |shs AS (SELECT doc_id, $shinglesSql AS sh FROM t),
      |sig AS (SELECT doc_id, sh, ${MinHashLSH.signatureSql("sh")} AS sig FROM shs),
      |bk AS (
      |  SELECT doc_id, b.band, array_to_string(sig[b.band * ${MinHashLSH.RowsPerBand} + 1 : (b.band + 1) * ${MinHashLSH.RowsPerBand}], '_') AS bucket
      |  FROM sig, (SELECT unnest(range(0, ${MinHashLSH.Bands})) AS band) b),
      |cand AS (
      |  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
      |  FROM bk l JOIN bk r ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id)
      |SELECT id1, id2,
      |  round(CAST(len(list_filter([sa.sig[i] = sb.sig[i] FOR i IN range(1, ${MinHashLSH.K} + 1)], x -> x)) AS DOUBLE) / ${MinHashLSH.K} + 1e-9, 4) AS est_jaccard,
      |  round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) + 1e-9, 4) AS jaccard
      |FROM cand
      |  JOIN sig sa ON cand.id1 = sa.doc_id
      |  JOIN sig sb ON cand.id2 = sb.doc_id
      |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.6
      |ORDER BY id1, id2""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        MinHashLSH.shingleHashes(Text.tokens(col("text")), 3).as("sh"))
    MinHashLSH.nearDupPairs(docs, "doc_id", "sh", threshold = 0.6)
      .select(col("id1"), col("id2"),
        round(col("est_jaccard") + lit(1e-9), 4).as("est_jaccard"),
        round(col("jaccard") + lit(1e-9), 4).as("jaccard"))
      .orderBy(col("id1"), col("id2"))
  }

  /** SimHash near-dup pairs: 32-bit tf-weighted sign fingerprint from
    * portable token hashes; candidates from a 3-band Hamming-LSH
    * self-join (11/11/10-bit bands — by pigeonhole every pair with
    * Hamming distance ≤ 2 shares at least one whole band, and the wide
    * bands keep collisions ~8× lower than byte bands on the correlated
    * bits shared-vocabulary corpora produce), verified by
    * bit_count(xor) ≤ 2.
    */
  val simhash: QuerySpec = QuerySpec.sql(
    "q25_simhash",
    s"""WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents),
      |hs AS (SELECT doc_id, list_transform(toks, s -> (${charHashSql("s")} * 2654435761) % 4294967296) AS hs FROM t),
      |sim AS (
      |  SELECT doc_id, CAST(list_sum(
      |    [CASE WHEN list_sum([CASE WHEN (h // (1::BIGINT << i)) % 2 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0
      |          THEN (1::BIGINT << i) ELSE 0::BIGINT END FOR i IN range(0, 32)]) AS BIGINT) AS simhash
      |  FROM hs),
      |bands AS (
      |  SELECT doc_id, simhash, b.j,
      |    CASE b.j WHEN 0 THEN simhash % 2048
      |             WHEN 1 THEN (simhash // 2048) % 2048
      |             ELSE simhash // 4194304 END AS band_val
      |  FROM sim, (SELECT unnest(range(0, 3)) AS j) b),
      |cand AS (
      |  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2, l.simhash AS h1, r.simhash AS h2
      |  FROM bands l JOIN bands r ON l.j = r.j AND l.band_val = r.band_val AND l.doc_id < r.doc_id)
      |SELECT id1, id2, h1, h2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
      |FROM cand
      |WHERE bit_count(xor(h1, h2)) <= 2
      |ORDER BY id1, id2""".stripMargin
  ) { (spark, dir) =>
    val toks = Text.tokens(col("text"))
    val hs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        transform(toks,
          s => (Text.charHash(s) * lit(2654435761L)) % lit(4294967296L))
          .as("hs"))
    val sim = hs.select(col("doc_id"),
      graft.expressions.NativeKernels.simhash(col("hs"), 32).as("simhash"))
    val bands = sim.select(col("doc_id"), col("simhash"),
      explode(expr(
        """transform(sequence(0, 2),
          |  j -> struct(j AS j,
          |    CASE j WHEN 0 THEN simhash % 2048L
          |           WHEN 1 THEN (simhash div 2048L) % 2048L
          |           ELSE simhash div 4194304L END AS band_val))"""
          .stripMargin)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.j").as("j"), col("bk.band_val").as("band_val"))
    val cand = bands.as("l").join(bands.as("r"),
        col("l.j") === col("r.j") && col("l.band_val") === col("r.band_val") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("id1"), col("r.doc_id").as("id2"),
        col("l.simhash").as("h1"), col("r.simhash").as("h2"))
      .distinct()
    cand
      .withColumn("hamming",
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long"))
      .filter(col("hamming") <= 2)
      .orderBy(col("id1"), col("id2"))
  }

  /** Connected components over the verified MinHash-LSH pairs — the step
    * that turns near-dup PAIRS into dedup GROUPS (component = min doc_id,
    * canonical flag, group size; singletons keep their own id). Spark
    * side is iterative min-label propagation
    * ([[graft.operators.ConnectedComponents]]); the oracle computes the
    * same fixpoint with a recursive CTE.
    */
  val dedupGroups: QuerySpec = QuerySpec.sql(
    "q55_dedup_groups",
    s"""WITH RECURSIVE t AS (SELECT doc_id, $tokSql AS toks FROM documents),
      |$componentCtesSql
      |SELECT doc_id, component,
      |  count(*) OVER (PARTITION BY component) AS group_size,
      |  doc_id = component AS is_canonical
      |FROM cc
      |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
    val withSh = docs.select(col("doc_id"),
      MinHashLSH.shingleHashes(Text.tokens(col("text")), 3).as("sh"))
    val pairs = MinHashLSH.nearDupPairs(withSh, "doc_id", "sh", threshold = 0.6)
      .select(col("id1"), col("id2"))
    graft.operators.ConnectedComponents
      .dedupGroups(docs, "doc_id", pairs, "id1", "id2")
      .orderBy(col("doc_id"))
  }

  /** Train/eval DECONTAMINATION — the LLM-pipeline staple q41's split
    * makes necessary: for every eval-split document, the fraction of its
    * shingles that also occur anywhere in the train split (an eval doc
    * leaking from train inflates benchmarks). Splits come from the q41
    * portable hash (train < 80, eval ≥ 90), overlap from a semi-style
    * left join of exploded eval shingles against the DISTINCT train
    * shingle set. At 100 TB the train set becomes a broadcast bloom
    * filter (one bit per shingle hash, the `InjectRuntimeFilter`
    * pattern applied by hand) and the join cost collapses to the eval
    * side's scan; here the exact join IS the oracle-checkable form.
    */
  val decontamination: QuerySpec = QuerySpec.sql(
    "q69_decontamination",
    s"""WITH t AS (
      |  SELECT doc_id, $tokSql AS toks,
      |    ((doc_id % 1000003) * 2654435761) % 100 AS bucket
      |  FROM documents),
      |sh AS (SELECT doc_id, bucket, $shinglesSql AS sh FROM t),
      |train_sh AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE bucket < 80),
      |eval_ex AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE bucket >= 90),
      |hits AS (
      |  SELECT e.doc_id, count(*) AS n_shingles,
      |    CAST(sum(CASE WHEN ts.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
      |  FROM eval_ex e LEFT JOIN train_sh ts ON e.s = ts.s
      |  GROUP BY e.doc_id)
      |SELECT doc_id, n_shingles, n_overlap,
      |  round(CAST(n_overlap AS DOUBLE) / n_shingles + 1e-9, 4) AS overlap_ratio,
      |  CAST(n_overlap AS DOUBLE) / n_shingles >= 0.5 AS is_contaminated
      |FROM hits
      |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        MinHashLSH.shingleHashes(Text.tokens(col("text")), 3).as("sh"),
        ((col("doc_id") % 1000003L) * 2654435761L % 100).as("bucket"))
      .transform(graft.CacheScope.cache)
    val trainSh = base.filter(col("bucket") < 80)
      .select(explode(col("sh")).as("s")).distinct()
      .withColumn("hit", lit(1L))
    val evalEx = base.filter(col("bucket") >= 90)
      .select(col("doc_id"), explode(col("sh")).as("s"))
    val ratio = col("n_overlap").cast("double") / col("n_shingles")
    evalEx.join(trainSh, Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        round(ratio + lit(1e-9), 4).as("overlap_ratio"),
        (ratio >= 0.5).as("is_contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Canonical representative selection — the APPLY step that turns
    * q55's group detection into the kept corpus: per near-duplicate
    * component, keep the highest-QUALITY member (lexical diversity
    * desc, doc_id tiebreak) instead of the arbitrary min-id — the
    * policy a real curation run wants, since duplicates differ by
    * boilerplate and truncation and the kept copy should be the best
    * one. Group detection is q55's LSH → verify → connected-components
    * chain; the selection itself is one [[graft.plans.TopKPerKeyPlan]]
    * pass (k=1) over the component-joined quality frame, so at 100 TB
    * choosing representatives costs one bounded-heap shuffle of
    * ≤ components rows on top of the grouping. Singleton components
    * select themselves — output is exactly one row per component, the
    * deduplicated corpus manifest.
    */
  val canonicalPick: QuerySpec = QuerySpec.sql(
    "q112_dedup_canonical",
    s"""WITH RECURSIVE t AS (SELECT doc_id, $tokSql AS toks FROM documents),
      |$componentCtesSql,
      |qual AS (
      |  SELECT doc_id,
      |    CAST(len(list_distinct(toks)) AS DOUBLE)
      |      / greatest(len(toks), 1) AS diversity
      |  FROM t),
      |sized AS (
      |  SELECT cc.doc_id, component, diversity,
      |    CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS group_size
      |  FROM cc JOIN qual USING (doc_id)),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY component
      |    ORDER BY diversity DESC, doc_id) AS rk
      |  FROM sized)
      |SELECT component, doc_id AS kept_doc, group_size,
      |  round(diversity + 1e-9, 4) AS diversity
      |FROM ranked WHERE rk = 1
      |ORDER BY component""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
    val toks = Text.tokens(col("text"))
    val withSh = docs.select(col("doc_id"),
      MinHashLSH.shingleHashes(toks, 3).as("sh"))
    val pairs = MinHashLSH.nearDupPairs(withSh, "doc_id", "sh", threshold = 0.6)
      .select(col("id1"), col("id2"))
    val groups = graft.operators.ConnectedComponents
      .dedupGroups(docs, "doc_id", pairs, "id1", "id2")
      .select(col("doc_id"), col("component"),
        col("group_size").cast("long").as("group_size"))
    val qual = docs.select(col("doc_id"),
      (size(array_distinct(toks)).cast("double")
        / greatest(size(toks), lit(1))).as("diversity"))
    graft.operators.Dedup.topKPerKey(groups.join(qual, "doc_id"),
        Seq("component"), Seq(col("diversity").desc, col("doc_id").asc), 1)
      .select(col("component"), col("doc_id").as("kept_doc"),
        col("group_size"), round(col("diversity") + lit(1e-9), 4)
          .as("diversity"))
      .orderBy(col("component"))
  }

  /** q126 hot-span parameters: span length in tokens, and the number of
    * DISTINCT documents an n-gram must appear in to count as repeated.
    */
  val SpanN = 5
  val SpanHotDf = 2L

  /** Shared oracle fragment for q126/q127: the hot-span coverage chain
    * (`ex` … `covl`) of [[graft.operators.SpanScrub]], assuming a
    * `t(doc_id, toks, …)` CTE in scope — ONE copy so a span-length or
    * threshold change cannot silently diverge the two oracles
    * (the componentCtesSql rationale).
    */
  private[queries] val scrubCtesSql =
    s"""ex AS (
      |  SELECT doc_id, u.i, array_to_string(toks[u.i : u.i + ${SpanN - 1}], ' ') AS g
      |  FROM t, unnest(generate_series(1, greatest(len(toks) - ${SpanN - 1}, 0))) AS u(i)),
      |hot AS (SELECT g FROM ex GROUP BY g
      |        HAVING count(DISTINCT doc_id) >= $SpanHotDf),
      |occ AS (SELECT doc_id, i FROM ex WHERE g IN (SELECT g FROM hot)),
      |cov AS (SELECT DISTINCT doc_id, u.p
      |        FROM occ, unnest(generate_series(i, i + ${SpanN - 1})) AS u(p)),
      |covl AS (SELECT doc_id, list_sort(list(p)) AS ps FROM cov GROUP BY doc_id)""".stripMargin

  /** The surviving-token list after the scrub, as DuckDB SQL — assumes
    * `toks` and (possibly NULL) `ps` in scope.
    */
  private[queries] val cleanedToksSql =
    """[toks[p] FOR p IN generate_series(1, len(toks))
      |    IF NOT list_contains(coalesce(ps, CAST([] AS BIGINT[])), p)]""".stripMargin

  /** Incremental dedup-index maintenance ([[graft.operators.LshIndex]])
    * — the day-2 story of q24's LSH: the corpus's band-bucket rows are
    * a PERSISTED parquet index, and a later delta batch (deterministic
    * 20% hash split, q123's bucket formula) is admitted by probing that
    * on-disk index instead of recomputing corpus signatures: delta band
    * rows join the index on `(band, bkt)`, candidates Jaccard-verify
    * against only the COLLIDED corpus docs' shingles (left-semi), and
    * docs with zero verified duplicates append their band rows O(delta)
    * — no corpus rewrite, no retraining, immediately probe-able by the
    * next batch. The oracle re-derives the whole pipeline from scratch
    * (signatures for both splits, band collisions, verify, admission
    * count), and `index_rows_after` is read back from DISK post-append,
    * so a hash-equal row set gates index write, probe, verify, and
    * append end-to-end. This is continuous-ingest dedup at 100 TB:
    * per-batch cost is O(|delta| + collisions), never O(corpus).
    */
  /** Shared oracle for q125 (plain-path probe) and q140 (bucketed
    * steady-state probe): the physical index layout is invisible to
    * the admission SEMANTICS, so both gates must hash-match the same
    * re-derived pipeline.
    */
  private val lshIndexAppendSql =
    s"""WITH t AS (
      |  SELECT doc_id, $tokSql AS toks,
      |    ((doc_id % 1000003) * 2654435761) % 100 AS bucket
      |  FROM documents),
      |shs AS (SELECT doc_id, bucket, $shinglesSql AS sh FROM t),
      |sig AS (SELECT doc_id, bucket, sh,
      |  ${MinHashLSH.signatureSql("sh")} AS sig FROM shs),
      |bk AS (
      |  SELECT doc_id, bucket, b.band,
      |    array_to_string(sig[b.band * ${MinHashLSH.RowsPerBand} + 1 : (b.band + 1) * ${MinHashLSH.RowsPerBand}], '_') AS bkt
      |  FROM sig, (SELECT unnest(range(0, ${MinHashLSH.Bands})) AS band) b),
      |cand AS (
      |  SELECT DISTINCT d.doc_id AS did, c.doc_id AS cid
      |  FROM bk d JOIN bk c ON d.band = c.band AND d.bkt = c.bkt
      |  WHERE d.bucket >= 80 AND c.bucket < 80),
      |ver AS (
      |  SELECT did, cid,
      |    CAST(len(list_intersect(sd.sh, sc.sh)) AS DOUBLE)
      |      / (len(sd.sh) + len(sc.sh) - len(list_intersect(sd.sh, sc.sh))) AS j
      |  FROM cand JOIN sig sd ON sd.doc_id = cand.did
      |            JOIN sig sc ON sc.doc_id = cand.cid),
      |agg AS (
      |  SELECT s.doc_id,
      |    CAST(count(v.cid) AS BIGINT) AS n_candidates,
      |    CAST(count(v.cid) FILTER (WHERE v.j >= 0.6) AS BIGINT) AS n_dups
      |  FROM sig s LEFT JOIN ver v ON v.did = s.doc_id
      |  WHERE s.bucket >= 80
      |  GROUP BY 1),
      |st AS (
      |  SELECT CAST(${MinHashLSH.Bands} * (
      |      (SELECT count(*) FROM t WHERE bucket < 80)
      |      + (SELECT count(*) FROM agg WHERE n_dups = 0)) AS BIGINT)
      |    AS index_rows_after)
      |SELECT doc_id, n_candidates, n_dups, n_dups = 0 AS admitted,
      |  st.index_rows_after
      |FROM agg CROSS JOIN st
      |ORDER BY doc_id""".stripMargin

  /** Shared Spark-side admission pipeline for q125/q140: build the
    * on-disk index from the corpus split, optionally roll it over into
    * the bucketed bulk tier (the only difference between the two
    * gates), probe the delta, Jaccard-verify collided
    * docs only, append the admitted band rows, and report per-doc stats
    * plus the index's row count across both tiers read back AFTER the
    * append.
    */
  private def lshAdmissionRun(spark: SparkSession, dir: String, tag: String,
      rollover: Boolean): DataFrame = {
    import graft.operators.LshIndex
    val docs = SharedIndexes.lshDocs(spark, dir)
      .transform(graft.CacheScope.cache)
    val corpus = docs.filter(col("bucket") < 80)
    val delta = docs.filter(col("bucket") >= 80)
    // copy-on-write from the shared immutable base index (admission
    // appends the admitted band rows into its copy)
    val path = graft.Scratch.cloneBase(
      SharedIndexes.lshBase80(spark, dir), tag + "_lsh_index")
    if (rollover) LshIndex.compactBucketedAndTruncate(spark, path, "doc_id")
    val cand = LshIndex.candidates(spark, path, delta, "doc_id", "sh")
    // verify against only the collided corpus docs (left-semi prune);
    // the collided-id set is bounded by the probe contract (distinct
    // index docs sharing a bucket with the bounded delta), so it
    // BROADCASTS — without the hint the semi-join plans as SMJ and
    // re-shuffles the whole corpus every admission batch (measured in
    // graft.ScaleCheck: the corpus-side shuffle, not the probe, was
    // the only admission cost growing with corpus size)
    val corpusSh = corpus
      .join(broadcast(cand.select(col("indexId").as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("cid"), col("sh").as("__shc"))
    val deltaSh = delta.select(col("doc_id").as("did"), col("sh").as("__shd"))
    val ver = cand
      .select(col("deltaId").as("did"), col("indexId").as("cid"))
      .join(deltaSh, "did").join(corpusSh, "cid")
      .withColumn("j", MinHashLSH.jaccard(col("__shd"), col("__shc")))
    val perDoc = delta.select(col("doc_id"))
      .join(ver.groupBy(col("did").as("doc_id"))
          .agg(count(lit(1)).as("nc"),
            sum(when(col("j") >= 0.6, 1L).otherwise(0L)).as("nd")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nc"), lit(0L)).as("n_candidates"),
        coalesce(col("nd"), lit(0L)).as("n_dups"))
      .withColumn("admitted", col("n_dups") === 0L)
      .transform(graft.CacheScope.cache)
    LshIndex.append(
      delta.join(perDoc.filter(col("admitted")).select(col("doc_id")),
        Seq("doc_id"), "left_semi"),
      "doc_id", "sh", path)
    val after = LshIndex.rows(spark, path)
      .agg(count(lit(1)).as("index_rows_after"))
    perDoc.crossJoin(broadcast(after)).orderBy(col("doc_id"))
  }

  val lshIndexAppend: QuerySpec = QuerySpec.sql(
    "q125_lsh_index_append", lshIndexAppendSql
  ) { (spark, dir) =>
    lshAdmissionRun(spark, dir, "q125", rollover = false)
  }

  /** q125's admission run against the BUCKETED steady-state serving
    * layout: the index rolls over into its bulk tier
    * ([[graft.operators.LshIndex.compactBucketedAndTruncate]]), bucketed
    * by the probe keys `(band, bkt)`, and the delta probes it
    * exchange-free on the index side
    * ([[graft.operators.LshIndex.candidates]]; `LshIndexSpec` pins the
    * plan) — at 100 TB this is the difference
    * between re-shuffling the corpus-sized index on every ingest batch
    * and shuffling only the delta. Identical oracle to q125: the
    * physical layout must be invisible to the admission semantics, so
    * a hash-equal row set proves the bucketed compaction + probe chain
    * end-to-end.
    */
  val lshBucketedAdmission: QuerySpec = QuerySpec.sql(
    "q140_lsh_bucketed", lshIndexAppendSql
  ) { (spark, dir) =>
    lshAdmissionRun(spark, dir, "q140", rollover = true)
  }

  /** Substring-level dedup ([[graft.operators.SpanScrub]]): delete
    * token spans repeated across documents — the partial-overlap
    * regime document-level dedup can't see (shared boilerplate inside
    * otherwise-unique docs). Every [[SpanN]]-gram occurring in ≥
    * [[SpanHotDf]] distinct documents marks its token positions; the
    * scrubbed text keeps the unique remainder, and each row reports
    * how much was cut. Cost is one generator scan + one gram groupBy +
    * one semi-join — linear in corpus tokens (see the operator doc for
    * the 100 TB shape).
    */
  val spanScrub: QuerySpec = QuerySpec.sql(
    "q126_span_scrub",
    s"""WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents),
      |$scrubCtesSql,
      |spans AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
      |          FROM occ GROUP BY doc_id)
      |SELECT t.doc_id,
      |  CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(len(ps), 0) AS BIGINT) AS n_removed,
      |  coalesce(n_spans, CAST(0 AS BIGINT)) AS n_spans,
      |  coalesce(array_to_string($cleanedToksSql, ' '), '') AS cleaned_text
      |FROM t LEFT JOIN covl USING (doc_id) LEFT JOIN spans USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
    graft.operators.SpanScrub
      .scrub(docs, "doc_id", "toks", SpanN, SpanHotDf)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        col("n_spans"), array_join(col("cleaned"), " ").as("cleaned_text"))
      .orderBy(col("doc_id"))
  }

  /** q128's hot-bucket threshold: a band bucket holding at least this
    * many docs is "hot" (its probe cost is quadratic in its size).
    */
  val HotBucket = 8L

  /** LSH index-health telemetry — the when-to-rebucket signal
    * completing the q125 maintenance story (the [[SimilarityQueries]]
    * q117 drift report, for the dedup index family). Per band:
    * bucket count, max bucket size, hot buckets (≥ [[HotBucket]]
    * docs), and `candidate_pairs` = Σ s·(s−1)/2 — the EXACT pair
    * count the q24/q125 probe join will generate, i.e. the index's
    * real serving cost. Boilerplate-heavy corpora collapse signature
    * variance and concentrate docs into few buckets; when
    * `candidate_pairs` outgrows the duplicate-density budget, raise
    * bands/rows or df-cap the shingles and rebuild. One groupBy
    * cascade over the band rows — O(index) with map-side combine,
    * no pair ever materializes.
    */
  val lshSkewReport: QuerySpec = QuerySpec.sql(
    "q128_lsh_skew",
    s"""WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents),
      |shs AS (SELECT doc_id, $shinglesSql AS sh FROM t),
      |sig AS (SELECT doc_id, ${MinHashLSH.signatureSql("sh")} AS sig FROM shs),
      |bk AS (
      |  SELECT doc_id, b.band,
      |    array_to_string(sig[b.band * ${MinHashLSH.RowsPerBand} + 1 : (b.band + 1) * ${MinHashLSH.RowsPerBand}], '_') AS bkt
      |  FROM sig, (SELECT unnest(range(0, ${MinHashLSH.Bands})) AS band) b),
      |sz AS (SELECT band, bkt, CAST(count(*) AS BIGINT) AS s
      |       FROM bk GROUP BY 1, 2)
      |SELECT CAST(band AS BIGINT) AS band,
      |  CAST(count(*) AS BIGINT) AS n_buckets,
      |  CAST(sum(s) AS BIGINT) AS n_docs,
      |  CAST(max(s) AS BIGINT) AS max_bucket,
      |  CAST(count(*) FILTER (WHERE s >= $HotBucket) AS BIGINT) AS hot_buckets,
      |  CAST(sum(s * (s - 1) // 2) AS BIGINT) AS candidate_pairs
      |FROM sz GROUP BY band
      |ORDER BY band""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        MinHashLSH.shingleHashes(Text.tokens(col("text")), 3).as("sh"))
    val sz = graft.operators.LshIndex.bandRows(docs, "doc_id", "sh")
      .groupBy(col("band"), col("bkt")).agg(count(lit(1)).as("s"))
    sz.groupBy(col("band").cast("long").as("band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("s")).as("n_docs"),
        max(col("s")).as("max_bucket"),
        sum(when(col("s") >= HotBucket, 1L).otherwise(0L)).as("hot_buckets"),
        sum(expr("(s * (s - 1)) div 2")).as("candidate_pairs"))
      .orderBy(col("band"))
  }

  /** q131's arrival waves: [lo, hi) bucket ranges, admitted in order. */
  private val SeqWaves = Seq((80, 87), (87, 94), (94, 100))

  /** Sequential (arrival-ORDER-dependent) index admission — what q125
    * proves for one delta batch, run as three consecutive waves against
    * the SAME persisted index, each wave probing the index state its
    * predecessors left: a wave-2 doc that near-duplicates an ADMITTED
    * wave-1 doc is refused, while under q125's single-batch semantics
    * neither would see the other. This is the steady-state ingest
    * contract (today's batch dedups against everything admitted before
    * it), and the oracle replays the exact sequential recurrence
    * (idx₀ = corpus bands; aggᵢ = wave i admission against idxᵢ₋₁;
    * idxᵢ = idxᵢ₋₁ ∪ admitted bands), so the hash gate proves the
    * on-disk index's grow-as-you-admit state machine, not just one
    * probe. Each wave's stats frame is materialized (lineage-truncated)
    * BEFORE its append — re-executing the probe after the index grew
    * would silently change the answer. The q119 AvailableNow machinery
    * layers directly on top (one wave per micro-batch via foreachBatch);
    * the semantics under test — state recurrence — are identical.
    */
  /** The sequential-admission oracle for an arbitrary wave split —
    * shared by q131 (single-tier index) and q141 (two-tier bucketed +
    * delta layout): the recurrence idxᵢ = idxᵢ₋₁ ∪ admittedᵢ has no
    * notion of physical tiers, which is exactly the claim the q141
    * gate makes.
    */
  private def lshSequentialSql(wavesList: Seq[(Int, Int)]): String = {
    def candSql(i: Int, lo: Int, hi: Int) =
      s"""cand$i AS (
        |  SELECT DISTINCT d.doc_id AS did, x.doc_id AS cid
        |  FROM bk d JOIN idx${i - 1} x ON d.band = x.band AND d.bkt = x.bkt
        |  WHERE d.bucket >= $lo AND d.bucket < $hi),
        |ver$i AS (
        |  SELECT did, cid,
        |    CAST(len(list_intersect(sd.sh, sc.sh)) AS DOUBLE)
        |      / (len(sd.sh) + len(sc.sh) - len(list_intersect(sd.sh, sc.sh))) AS j
        |  FROM cand$i JOIN sig sd ON sd.doc_id = cand$i.did
        |              JOIN sig sc ON sc.doc_id = cand$i.cid),
        |agg$i AS (
        |  SELECT s.doc_id,
        |    CAST(count(v.cid) AS BIGINT) AS n_candidates,
        |    CAST(count(v.cid) FILTER (WHERE v.j >= 0.6) AS BIGINT) AS n_dups
        |  FROM sig s LEFT JOIN ver$i v ON v.did = s.doc_id
        |  WHERE s.bucket >= $lo AND s.bucket < $hi
        |  GROUP BY 1),
        |idx$i AS (
        |  SELECT * FROM idx${i - 1}
        |  UNION ALL
        |  SELECT bk.doc_id, band, bkt FROM bk
        |  JOIN agg$i a ON bk.doc_id = a.doc_id WHERE a.n_dups = 0)""".stripMargin
    val waves = wavesList.zipWithIndex
      .map { case ((lo, hi), i) => candSql(i + 1, lo, hi) }.mkString(",\n")
    val unions = wavesList.indices
      .map(i => s"SELECT CAST(${i + 1} AS BIGINT) AS batch, * FROM agg${i + 1}")
      .mkString("\n  UNION ALL ")
    s"""WITH t AS (
      |  SELECT doc_id, $tokSql AS toks,
      |    ((doc_id % 1000003) * 2654435761) % 100 AS bucket
      |  FROM documents),
      |shs AS (SELECT doc_id, bucket, $shinglesSql AS sh FROM t),
      |sig AS (SELECT doc_id, bucket, sh,
      |  ${MinHashLSH.signatureSql("sh")} AS sig FROM shs),
      |bk AS (
      |  SELECT doc_id, bucket, b.band,
      |    array_to_string(sig[b.band * ${MinHashLSH.RowsPerBand} + 1 : (b.band + 1) * ${MinHashLSH.RowsPerBand}], '_') AS bkt
      |  FROM sig, (SELECT unnest(range(0, ${MinHashLSH.Bands})) AS band) b),
      |idx0 AS (SELECT doc_id, band, bkt FROM bk WHERE bucket < 80),
      |$waves,
      |adm AS ($unions),
      |st AS (
      |  SELECT CAST(${MinHashLSH.Bands} * (
      |      (SELECT count(*) FROM t WHERE bucket < 80)
      |      + (SELECT count(*) FROM adm WHERE n_dups = 0)) AS BIGINT)
      |    AS index_rows_after)
      |SELECT doc_id, batch, n_candidates, n_dups, n_dups = 0 AS admitted,
      |  st.index_rows_after
      |FROM adm CROSS JOIN st
      |ORDER BY doc_id""".stripMargin
  }

  /** One arrival wave's admission stats against the probe result
    * `cand`, MATERIALIZED (lineage-truncated) before returning — a
    * lazy stats frame re-executed after the index grew would silently
    * change its answer (q131's read-your-predecessors'-writes
    * discipline). Shared by q131/q141.
    */
  private def waveStats(docs: DataFrame, wave: DataFrame, cand: DataFrame,
      batch: Int): DataFrame = {
    // collided ids broadcast (bounded by the wave's collisions) — the
    // corpus-side semi-join must never re-shuffle the doc set per wave
    val idxSh = docs
      .join(broadcast(cand.select(col("indexId").as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("cid"), col("sh").as("__shc"))
    val ver = cand
      .select(col("deltaId").as("did"), col("indexId").as("cid"))
      .join(wave.select(col("doc_id").as("did"), col("sh").as("__shd")),
        "did")
      .join(idxSh, "cid")
      .withColumn("j", MinHashLSH.jaccard(col("__shd"), col("__shc")))
    val stats0 = wave.select(col("doc_id"))
      .join(ver.groupBy(col("did").as("doc_id"))
          .agg(count(lit(1)).as("nc"),
            sum(when(col("j") >= 0.6, 1L).otherwise(0L)).as("nd")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), lit(batch.toLong).as("batch"),
        coalesce(col("nc"), lit(0L)).as("n_candidates"),
        coalesce(col("nd"), lit(0L)).as("n_dups"))
      .withColumn("admitted", col("n_dups") === 0L)
    // pin the probe's answer BEFORE the index grows: persist at the
    // row-RDD level and count THAT — one action materializes the cache
    // (the previous cacheTruncated + DataFrame count re-scanned the
    // final stage through the SQL cache, one extra job per wave)
    val pinned = graft.CacheScope.cacheRdd(stats0.rdd)
    pinned.count()
    stats0.sparkSession.createDataFrame(pinned, stats0.schema)
  }

  val lshSequential: QuerySpec = {
    QuerySpec.sql(
      "q131_lsh_sequential", lshSequentialSql(SeqWaves)
    ) { (spark, dir) =>
      import graft.operators.LshIndex
      val docs = SharedIndexes.lshDocs(spark, dir)
        .transform(graft.CacheScope.cache)
      // copy-on-write from the shared immutable base index (each wave
      // appends its admitted band rows)
      val path = graft.Scratch.cloneBase(
        SharedIndexes.lshBase80(spark, dir), "q131_lsh_index")
      val perWave = SeqWaves.zipWithIndex.map { case ((lo, hi), i) =>
        val wave = docs.filter(col("bucket") >= lo && col("bucket") < hi)
        val cand = LshIndex.candidates(spark, path, wave, "doc_id", "sh")
        val stats = waveStats(docs, wave, cand, i + 1)
        LshIndex.append(
          wave.join(stats.filter(col("admitted")).select(col("doc_id")),
            Seq("doc_id"), "left_semi"),
          "doc_id", "sh", path)
        stats
      }
      val after = Tables.read(spark, path)
        .agg(count(lit(1)).as("index_rows_after"))
      perWave.reduce(_ unionByName _)
        .crossJoin(broadcast(after))
        .orderBy(col("doc_id"))
    }
  }

  /** q131's order-dependent admission driven by a REAL Structured
    * Streaming ingest — the q119 pattern for the dedup family, with
    * the extra constraint q119 didn't have: LSH admission is
    * arrival-ORDER-dependent (an admitted wave-1 doc must gate wave 2),
    * so each wave is materialized as ONE file with ascending
    * modification times — `AvailableNow` + `maxFilesPerTrigger=1`
    * delivers files oldest-first, making micro-batch order the arrival
    * order. Each `foreachBatch` runs the full probe → Jaccard-verify →
    * append admission against the index state its predecessors left,
    * and materializes its stats BEFORE its append (the q131
    * discipline, unchanged inside a stream). The oracle is the same
    * sequential recurrence as q131 — a hash-equal row set proves
    * micro-batching changed nothing about the state machine. This is
    * the production shape: continuous dedup-at-ingest as a streaming
    * job, per-batch cost O(|batch| + collisions).
    */
  val lshStreamed: QuerySpec = QuerySpec.sql(
    "q143_lsh_stream", lshSequentialSql(SeqWaves)
  ) { (spark, dir) =>
    import graft.operators.LshIndex
    val docs = SharedIndexes.lshDocs(spark, dir)
      .transform(graft.CacheScope.cache)
    val root = graft.Scratch.fresh("q143")
    // copy-on-write from the shared immutable base index (each streamed
    // wave appends its admitted band rows)
    val path = graft.Scratch.cloneBase(
      SharedIndexes.lshBase80(spark, dir), "q143_lsh_index")
    // one micro-batch per wave, in arrival order
    val statsBuf = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    graft.streaming.Replay.files(root,
      docs.select(col("doc_id"), col("sh"),
        graft.streaming.Replay.ranges(col("bucket"), SeqWaves).as("wave")),
      "wave", SeqWaves.size) { (batch, batchId) =>
      val cand = LshIndex.candidates(spark, path, batch, "doc_id", "sh")
      val stats = waveStats(docs, batch, cand, batchId.toInt + 1)
      LshIndex.append(
        batch.join(stats.filter(col("admitted")).select(col("doc_id")),
          Seq("doc_id"), "left_semi"),
        "doc_id", "sh", path)
      statsBuf += stats
    }
    val after = Tables.read(spark, path)
      .agg(count(lit(1)).as("index_rows_after"))
    statsBuf.reduce(_ unionByName _)
      .crossJoin(broadcast(after))
      .orderBy(col("doc_id"))
  }

  /** q145's rebuild gate: shingles in more docs than [[RebucketCapDf]]
    * drop from the rebuilt index; a rebuild runs when the index's total
    * candidate pairs exceed [[RebucketPairBudget]] (64 — below the
    * measured totals at every gate SF, so the gate provably exercises
    * the rebuild branch; the no-rebuild branch is spec-pinned).
    */
  val RebucketCapDf = 5L
  val RebucketPairBudget = 64L

  /** Skew-gated index REBUILD
    * ([[graft.operators.LshIndex.rebucketIfSkewed]]) — the decision leg
    * q128's telemetry exists for, closing the dedup index's maintenance
    * loop the way q121 closes IVF's: the index's total candidate_pairs
    * (its exact probe-join cost, read from the index rows alone) trips
    * the pair budget, the index rebuilds over df-capped shingle sets
    * (corpus-wide hot shingles are boilerplate — they collapse
    * signature variance and concentrate docs into few hot buckets; docs
    * with ONLY hot shingles drop out, carrying no content to dedup by),
    * and the one-commit rebuild makes it crash-safe. The oracle
    * computes the same signal, replays BOTH the original and the
    * df-capped chains, and selects per the gate's decision — so the
    * conditional itself is part of the hash-matched contract. Output:
    * the q128 skew report over the POST-decision index, plus the
    * observed pair total and the decision.
    */
  val lshRebucket: QuerySpec = QuerySpec.sql(
    "q145_lsh_rebucket",
    s"""WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents),
      |shs AS (SELECT doc_id, $shinglesSql AS sh FROM t),
      |sig AS (SELECT doc_id, ${MinHashLSH.signatureSql("sh")} AS sig FROM shs),
      |bk AS (
      |  SELECT doc_id, b.band,
      |    array_to_string(sig[b.band * ${MinHashLSH.RowsPerBand} + 1 : (b.band + 1) * ${MinHashLSH.RowsPerBand}], '_') AS bkt
      |  FROM sig, (SELECT unnest(range(0, ${MinHashLSH.Bands})) AS band) b),
      |sz AS (SELECT band, bkt, CAST(count(*) AS BIGINT) AS s
      |       FROM bk GROUP BY 1, 2),
      |flag AS (
      |  SELECT CAST(coalesce(sum(s * (s - 1) // 2), 0) AS BIGINT) AS before_pairs,
      |    coalesce(sum(s * (s - 1) // 2), 0) > $RebucketPairBudget AS rebuilt
      |  FROM sz),
      |ex AS (SELECT doc_id, unnest(sh) AS s FROM shs),
      |keep AS (SELECT s FROM ex GROUP BY s
      |         HAVING count(DISTINCT doc_id) <= $RebucketCapDf),
      |shc AS (SELECT doc_id, list(s) AS sh
      |        FROM ex JOIN keep USING (s) GROUP BY doc_id),
      |sig2 AS (SELECT doc_id, ${MinHashLSH.signatureSql("sh")} AS sig FROM shc),
      |bk2 AS (
      |  SELECT doc_id, b.band,
      |    array_to_string(sig[b.band * ${MinHashLSH.RowsPerBand} + 1 : (b.band + 1) * ${MinHashLSH.RowsPerBand}], '_') AS bkt
      |  FROM sig2, (SELECT unnest(range(0, ${MinHashLSH.Bands})) AS band) b),
      |sz2 AS (SELECT band, bkt, CAST(count(*) AS BIGINT) AS s
      |        FROM bk2 GROUP BY 1, 2),
      |post AS (
      |  SELECT * FROM sz2 WHERE (SELECT rebuilt FROM flag)
      |  UNION ALL
      |  SELECT * FROM sz WHERE NOT (SELECT rebuilt FROM flag))
      |SELECT CAST(band AS BIGINT) AS band,
      |  CAST(count(*) AS BIGINT) AS n_buckets,
      |  CAST(sum(s) AS BIGINT) AS n_docs,
      |  CAST(max(s) AS BIGINT) AS max_bucket,
      |  CAST(sum(s * (s - 1) // 2) AS BIGINT) AS candidate_pairs,
      |  flag.before_pairs, flag.rebuilt
      |FROM post CROSS JOIN flag
      |GROUP BY band, flag.before_pairs, flag.rebuilt
      |ORDER BY band""".stripMargin
  ) { (spark, dir) =>
    import graft.operators.LshIndex
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        MinHashLSH.shingleHashes(Text.tokens(col("text")), 3).as("sh"))
      .transform(graft.CacheScope.cache)
    // copy-on-write from the shared immutable full-corpus index (the
    // skew gate may rebucket-rebuild in place)
    val path = graft.Scratch.cloneBase(
      SharedIndexes.lshFull(spark, dir), "q145_lsh_index")
    val (beforePairs, rebuilt) = LshIndex.rebucketIfSkewed(spark, path,
      docs, "doc_id", "sh", RebucketCapDf, RebucketPairBudget)
    Tables.read(spark, path)
      .groupBy(col("band"), col("bkt")).agg(count(lit(1)).as("s"))
      .groupBy(col("band").cast("long").as("band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("s")).as("n_docs"),
        max(col("s")).as("max_bucket"),
        sum(expr("(s * (s - 1)) div 2")).as("candidate_pairs"))
      .withColumn("before_pairs", lit(beforePairs))
      .withColumn("rebuilt", lit(rebuilt))
      .orderBy(col("band"))
  }

  /** q141's arrival waves ([lo, hi) bucket ranges, admitted in order). */
  private val TieredWaves = Seq((80, 90), (90, 100))

  /** Two-tier (lambda) serving for the dedup index
    * ([[graft.operators.LshIndex.compactBucketedAndTruncate]] +
    * [[graft.operators.LshIndex.candidates]]): the compacted
    * bulk lives in the `(band, bkt)`-bucketed bulk tier — the
    * exchange-free probe side q140 pins — while the ingest tier is
    * truncated to EMPTY and receives each wave's admitted band rows;
    * every probe spans BOTH tiers. This is the steady-state continuous-
    * ingest shape at 100 TB: the corpus-sized side never moves, the
    * delta tier stays rollover-bounded, and periodic
    * `compactBucketedAndTruncate` folds the delta into the bulk. The
    * oracle is the q131 sequential recurrence over this wave split —
    * the recurrence has no notion of tiers, so a hash-equal row set
    * proves the two-tier layout changes NOTHING about admission
    * semantics while `index_rows_after` (bulk + ingest rows read back
    * from both tiers) proves the rollover/append bookkeeping.
    */
  val lshTieredServing: QuerySpec = QuerySpec.sql(
    "q141_lsh_tiered", lshSequentialSql(TieredWaves)
  ) { (spark, dir) =>
    import graft.operators.LshIndex
    val docs = SharedIndexes.lshDocs(spark, dir)
      .transform(graft.CacheScope.cache)
    // copy-on-write from the shared immutable base index: the copy IS
    // the mutable ingest tier (rolled over, then appended into)
    val path = graft.Scratch.cloneBase(
      SharedIndexes.lshBase80(spark, dir), "q141_lsh_delta")
    // rollover: the index folds into the bucketed bulk tier, the ingest
    // tier is truncated to empty
    LshIndex.compactBucketedAndTruncate(spark, path, "doc_id")
    val perWave = TieredWaves.zipWithIndex.map { case ((lo, hi), i) =>
      val wave = docs.filter(col("bucket") >= lo && col("bucket") < hi)
      val cand = LshIndex.candidates(spark, path, wave, "doc_id", "sh")
      val stats = waveStats(docs, wave, cand, i + 1)
      LshIndex.append(
        wave.join(stats.filter(col("admitted")).select(col("doc_id")),
          Seq("doc_id"), "left_semi"),
        "doc_id", "sh", path)
      stats
    }
    // the index is the UNION of both tiers — count rows across them
    val after = LshIndex.rows(spark, path)
      .agg(count(lit(1)).as("index_rows_after"))
    perWave.reduce(_ unionByName _)
      .crossJoin(broadcast(after))
      .orderBy(col("doc_id"))
  }

  /** CONTINUOUS rollover under sequential admission — the q141 two-tier
    * layout driven through its FULL steady-state cycle: the q131
    * three-wave recurrence runs with a
    * [[graft.operators.LshIndex.compactBucketedAndTruncate]] rollover
    * BETWEEN every wave, so rollovers #2 and #3 exercise the N>1 fold
    * (`bulk ∪ ingest` → new bulk generation, in one commit).
    * This is the gate for the round-9 verdict's lifecycle defect: with
    * a rollover that compacts only the ingest tier, rollover #2 wipes
    * the corpus and wave-1 admissions from the bulk — wave-2/3 docs
    * then probe an empty index, admission decisions flip, and
    * `index_rows_after` (read back across both tiers) collapses, so
    * the tier-blind sequential-recurrence oracle hash-mismatches. A
    * green row proves the fold preserves every prior generation while
    * each wave's admissions keep gating its successors.
    */
  val lshRolloverCycle: QuerySpec = QuerySpec.sql(
    "q149_lsh_rollover_cycle", lshSequentialSql(SeqWaves)
  ) { (spark, dir) =>
    import graft.operators.LshIndex
    val docs = SharedIndexes.lshDocs(spark, dir)
      .transform(graft.CacheScope.cache)
    // copy-on-write from the shared immutable base index: the copy IS
    // the mutable ingest tier (rolled over, then appended into)
    val path = graft.Scratch.cloneBase(
      SharedIndexes.lshBase80(spark, dir), "q149_lsh_delta")
    // rollover #1: the whole corpus folds into the bucketed bulk
    LshIndex.compactBucketedAndTruncate(spark, path, "doc_id")
    val perWave = SeqWaves.zipWithIndex.map { case ((lo, hi), i) =>
      val wave = docs.filter(col("bucket") >= lo && col("bucket") < hi)
      val cand = LshIndex.candidates(spark, path, wave, "doc_id", "sh")
      val stats = waveStats(docs, wave, cand, i + 1)
      LshIndex.append(
        wave.join(stats.filter(col("admitted")).select(col("doc_id")),
          Seq("doc_id"), "left_semi"),
        "doc_id", "sh", path)
      // rollover between waves: the admitted band rows fold from the
      // ingest tier into the bulk — rollovers #2/#3 are the
      // steady-state N>1 case the API exists for (no rollover after
      // the last wave: its rows serve from the ingest tier, which the
      // final two-tier count reads back anyway)
      if (i < SeqWaves.length - 1)
        LshIndex.compactBucketedAndTruncate(spark, path, "doc_id")
      stats
    }
    val after = LshIndex.rows(spark, path)
      .agg(count(lit(1)).as("index_rows_after"))
    perWave.reduce(_ unionByName _)
      .crossJoin(broadcast(after))
      .orderBy(col("doc_id"))
  }

  /** The right-to-be-forgotten leg for the dedup index
    * ([[graft.operators.LshIndex.delete]]): a slice of the corpus
    * (every `doc_id % 13 = 7`) is forgotten via O(|deletes|)
    * append-only tombstone markers — the index is NOT rewritten — and
    * the delta batch's admission runs twice: phase `tombstone`
    * (markers anti-joined at probe time) and phase `compacted` (after
    * [[graft.operators.LshIndex.compact]] dropped the forgotten band
    * rows physically and removed the markers it applied). Both
    * phases must hash-match ONE oracle probing only the SURVIVING
    * corpus — the consequential behavior: a delta doc whose only
    * near-duplicate was forgotten is now ADMITTED (a forgotten doc
    * must stop blocking admissions immediately, not at compaction
    * cadence), and `index_rows_after` read from disk post-compaction
    * proves the physical application. The tombstone-phase stats are
    * materialized before compaction deletes the files under them
    * (q129's discipline).
    */
  val lshForget: QuerySpec = QuerySpec.sql(
    "q133_lsh_forget",
    s"""SELECT ph.phase, r.* FROM (
      |WITH t AS (
      |  SELECT doc_id, $tokSql AS toks,
      |    ((doc_id % 1000003) * 2654435761) % 100 AS bucket
      |  FROM documents),
      |shs AS (SELECT doc_id, bucket, $shinglesSql AS sh FROM t),
      |sig AS (SELECT doc_id, bucket, sh,
      |  ${MinHashLSH.signatureSql("sh")} AS sig FROM shs),
      |bk AS (
      |  SELECT doc_id, bucket, b.band,
      |    array_to_string(sig[b.band * ${MinHashLSH.RowsPerBand} + 1 : (b.band + 1) * ${MinHashLSH.RowsPerBand}], '_') AS bkt
      |  FROM sig, (SELECT unnest(range(0, ${MinHashLSH.Bands})) AS band) b),
      |cand AS (
      |  SELECT DISTINCT d.doc_id AS did, c.doc_id AS cid
      |  FROM bk d JOIN bk c ON d.band = c.band AND d.bkt = c.bkt
      |  WHERE d.bucket >= 80 AND c.bucket < 80 AND c.doc_id % 13 <> 7),
      |ver AS (
      |  SELECT did, cid,
      |    CAST(len(list_intersect(sd.sh, sc.sh)) AS DOUBLE)
      |      / (len(sd.sh) + len(sc.sh) - len(list_intersect(sd.sh, sc.sh))) AS j
      |  FROM cand JOIN sig sd ON sd.doc_id = cand.did
      |            JOIN sig sc ON sc.doc_id = cand.cid),
      |agg AS (
      |  SELECT s.doc_id,
      |    CAST(count(v.cid) AS BIGINT) AS n_candidates,
      |    CAST(count(v.cid) FILTER (WHERE v.j >= 0.6) AS BIGINT) AS n_dups
      |  FROM sig s LEFT JOIN ver v ON v.did = s.doc_id
      |  WHERE s.bucket >= 80
      |  GROUP BY 1),
      |st AS (
      |  SELECT CAST(${MinHashLSH.Bands} *
      |      (SELECT count(*) FROM t WHERE bucket < 80 AND doc_id % 13 <> 7)
      |    AS BIGINT) AS index_rows_after)
      |SELECT doc_id, n_candidates, n_dups, n_dups = 0 AS admitted,
      |  st.index_rows_after
      |FROM agg CROSS JOIN st
      |) r CROSS JOIN (SELECT unnest(['compacted', 'tombstone']) AS phase) ph
      |ORDER BY ph.phase, r.doc_id""".stripMargin
  ) { (spark, dir) =>
    import graft.operators.LshIndex
    val docs = SharedIndexes.lshDocs(spark, dir)
      .transform(graft.CacheScope.cache)
    val corpus = docs.filter(col("bucket") < 80)
    val delta = docs.filter(col("bucket") >= 80)
    // copy-on-write from the shared immutable base index (this gate
    // deletes and compacts in place)
    val path = graft.Scratch.cloneBase(
      SharedIndexes.lshBase80(spark, dir), "q133_lsh_index")
    LshIndex.delete(spark, path,
      corpus.filter(col("doc_id") % 13 === 7).select(col("doc_id")),
      "doc_id")
    def admission(phase: String) = {
      val cand = LshIndex.candidates(spark, path, delta, "doc_id", "sh")
      // collided ids broadcast — see lshAdmissionRun
      val corpusSh = corpus
        .join(broadcast(cand.select(col("indexId").as("doc_id")).distinct()),
          Seq("doc_id"), "left_semi")
        .select(col("doc_id").as("cid"), col("sh").as("__shc"))
      val ver = cand
        .select(col("deltaId").as("did"), col("indexId").as("cid"))
        .join(delta.select(col("doc_id").as("did"), col("sh").as("__shd")),
          "did")
        .join(corpusSh, "cid")
        .withColumn("j", MinHashLSH.jaccard(col("__shd"), col("__shc")))
      delta.select(col("doc_id"))
        .join(ver.groupBy(col("did").as("doc_id"))
            .agg(count(lit(1)).as("nc"),
              sum(when(col("j") >= 0.6, 1L).otherwise(0L)).as("nd")),
          Seq("doc_id"), "left")
        .select(lit(phase).as("phase"), col("doc_id"),
          coalesce(col("nc"), lit(0L)).as("n_candidates"),
          coalesce(col("nd"), lit(0L)).as("n_dups"))
        .withColumn("admitted", col("n_dups") === 0L)
    }
    val served = graft.CacheScope.cacheTruncated(admission("tombstone"))
    served.count() // pin BEFORE compaction deletes the files it read
    LshIndex.compact(spark, path, "doc_id")
    val after = Tables.read(spark, path)
      .agg(count(lit(1)).as("index_rows_after"))
    served.unionByName(admission("compacted"))
      .crossJoin(broadcast(after))
      .select(col("phase"), col("doc_id"), col("n_candidates"),
        col("n_dups"), col("admitted"), col("index_rows_after"))
      .orderBy(col("phase"), col("doc_id"))
  }

  /** INCREMENTAL maintenance of the scrub's model — the q126 hot-gram
    * set rebuilt as a persisted STATE TABLE folded one corpus slice at
    * a time: per-gram distinct-doc counts over disjoint slices are
    * additive (each doc lives in exactly one slice), so each wave
    * merges its counts into the state with one groupBy-sum and a
    * crash-safe overwrite commit — the sketch-maintenance pattern
    * (q105/q111) applied to the dedup model, O(slice grams) per wave
    * with no corpus recompute. The gate thresholds the MAINTAINED
    * state and scrubs through it — and its oracle is BYTE-IDENTICAL to
    * q126's: maintained-state scrubbing must equal the one-shot batch
    * recompute exactly, which is the entire claim of incremental
    * maintenance.
    */
  val spanScrubMaintained: QuerySpec = QuerySpec.sql(
    "q134_span_state",
    spanScrub.oracle.get
  ) { (spark, dir) =>
    import graft.operators.SpanScrub
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"),
        ((col("doc_id") % 1000003L) * 2654435761L % 100).as("bucket"))
      .transform(graft.CacheScope.cache)
    val state = graft.Scratch.fresh("q134") + "/gram_state"
    Seq((0, 34), (34, 67), (67, 100)).zipWithIndex
      .foreach { case ((lo, hi), i) =>
        val inc = SpanScrub.gramCounts(
          docs.filter(col("bucket") >= lo && col("bucket") < hi),
          "doc_id", "toks", SpanN)
        val merged =
          if (i == 0) inc
          else Tables.read(spark, state).unionByName(inc)
            .groupBy(col("g")).agg(sum(col("df")).as("df"))
        Tables.overwrite(merged, state) // safe: replaces the files it read
      }
    val hot = Tables.read(spark, state)
      .filter(col("df") >= SpanHotDf).select(col("g"))
    SpanScrub.scrubWith(docs.drop("bucket"), "doc_id", "toks", SpanN, hot)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        col("n_spans"), array_join(col("cleaned"), " ").as("cleaned_text"))
      .orderBy(col("doc_id"))
  }

  /** VERSIONED serving for the dedup index (q124's zero-downtime
    * contract applied to the LSH family): index generation v0 covers
    * the corpus, v1 additionally the wave-1 admissions, both committed
    * as real [[graft.sources.Snapshots]] versions of one index table.
    * A second arrival wave probes BOTH — and the v0 probe runs AFTER
    * the v1 publish, proving a reader pinned to a version keeps
    * serving identical admission decisions while the next generation
    * lands (MVCC: resolve the pointer once, scan an immutable
    * directory; an in-place index rewrite under a live reader is the
    * failure mode this kills). The consequential difference is in the
    * gate: a wave-2 doc duplicating an ADMITTED wave-1 doc is refused
    * under v1 but admitted under v0 — version choice IS an admission
    * semantics choice, which is why serving must be pinned.
    */
  val lshVersioned: QuerySpec = {
    def admSql(i: Int, idx: String, lo: Int, hi: Int) =
      s"""cand$i AS (
        |  SELECT DISTINCT d.doc_id AS did, x.doc_id AS cid
        |  FROM bk d JOIN $idx x ON d.band = x.band AND d.bkt = x.bkt
        |  WHERE d.bucket >= $lo AND d.bucket < $hi),
        |ver$i AS (
        |  SELECT did, cid,
        |    CAST(len(list_intersect(sd.sh, sc.sh)) AS DOUBLE)
        |      / (len(sd.sh) + len(sc.sh) - len(list_intersect(sd.sh, sc.sh))) AS j
        |  FROM cand$i JOIN sig sd ON sd.doc_id = cand$i.did
        |              JOIN sig sc ON sc.doc_id = cand$i.cid),
        |agg$i AS (
        |  SELECT s.doc_id,
        |    CAST(count(v.cid) AS BIGINT) AS n_candidates,
        |    CAST(count(v.cid) FILTER (WHERE v.j >= 0.6) AS BIGINT) AS n_dups
        |  FROM sig s LEFT JOIN ver$i v ON v.did = s.doc_id
        |  WHERE s.bucket >= $lo AND s.bucket < $hi
        |  GROUP BY 1)""".stripMargin
    QuerySpec.sql(
      "q137_lsh_versioned",
      s"""WITH t AS (
        |  SELECT doc_id, $tokSql AS toks,
        |    ((doc_id % 1000003) * 2654435761) % 100 AS bucket
        |  FROM documents),
        |shs AS (SELECT doc_id, bucket, $shinglesSql AS sh FROM t),
        |sig AS (SELECT doc_id, bucket, sh,
        |  ${MinHashLSH.signatureSql("sh")} AS sig FROM shs),
        |bk AS (
        |  SELECT doc_id, bucket, b.band,
        |    array_to_string(sig[b.band * ${MinHashLSH.RowsPerBand} + 1 : (b.band + 1) * ${MinHashLSH.RowsPerBand}], '_') AS bkt
        |  FROM sig, (SELECT unnest(range(0, ${MinHashLSH.Bands})) AS band) b),
        |idx0 AS (SELECT doc_id, band, bkt FROM bk WHERE bucket < 80),
        |${admSql(1, "idx0", 80, 90)},
        |idx1 AS (
        |  SELECT * FROM idx0
        |  UNION ALL
        |  SELECT bk.doc_id, band, bkt FROM bk
        |  JOIN agg1 a ON bk.doc_id = a.doc_id WHERE a.n_dups = 0),
        |${admSql(2, "idx1", 90, 100)},
        |${admSql(3, "idx0", 90, 100)}
        |SELECT CAST(1 AS BIGINT) AS version, doc_id, n_candidates, n_dups,
        |  n_dups = 0 AS admitted FROM agg2
        |UNION ALL
        |SELECT CAST(0 AS BIGINT) AS version, doc_id, n_candidates, n_dups,
        |  n_dups = 0 AS admitted FROM agg3
        |ORDER BY version, doc_id""".stripMargin
    ) { (spark, dir) =>
      import graft.operators.LshIndex
      import graft.sources.Snapshots
      val docs = SharedIndexes.lshDocs(spark, dir)
        .transform(graft.CacheScope.cache)
      val corpus = docs.filter(col("bucket") < 80)
      val wave1 = docs.filter(col("bucket") >= 80 && col("bucket") < 90)
      val wave2 = docs.filter(col("bucket") >= 90)
      val table = graft.Scratch.fresh("q137") + "/lsh_index"
      def admissionAt(path: String, wave: org.apache.spark.sql.DataFrame) = {
        val cand = LshIndex.candidates(spark, path, wave, "doc_id", "sh")
        // collided ids broadcast — see lshAdmissionRun
        val idxSh = docs
          .join(broadcast(cand.select(col("indexId").as("doc_id")).distinct()),
            Seq("doc_id"), "left_semi")
          .select(col("doc_id").as("cid"), col("sh").as("__shc"))
        val ver = cand
          .select(col("deltaId").as("did"), col("indexId").as("cid"))
          .join(wave.select(col("doc_id").as("did"), col("sh").as("__shd")),
            "did")
          .join(idxSh, "cid")
          .withColumn("j", MinHashLSH.jaccard(col("__shd"), col("__shc")))
        wave.select(col("doc_id"))
          .join(ver.groupBy(col("did").as("doc_id"))
              .agg(count(lit(1)).as("nc"),
                sum(when(col("j") >= 0.6, 1L).otherwise(0L)).as("nd")),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("nc"), lit(0L)).as("n_candidates"),
            coalesce(col("nd"), lit(0L)).as("n_dups"))
          .withColumn("admitted", col("n_dups") === 0L)
      }
      // v0 = the shared immutable base-slice build, published as a
      // real commit (the corpus slice IS bucket < 80)
      val v0 = Snapshots.commit(spark, table)(d =>
        graft.Scratch.copyDir(SharedIndexes.lshBase80(spark, dir), d))
      // wave-1 admission decides against v0, then v1 = corpus ∪ admitted
      val adm1 = graft.CacheScope.cacheTruncated(
        admissionAt(Snapshots.versionPath(table, v0), wave1))
      adm1.count()
      val grown = corpus.unionByName(
        wave1.join(adm1.filter(col("admitted")).select(col("doc_id")),
          Seq("doc_id"), "left_semi"))
      val v1 = Snapshots.commit(spark, table)(d =>
        LshIndex.write(grown, "doc_id", "sh", d))
      // the v0 probe runs AFTER the v1 publish — the pinned reader
      // must be undisturbed by the newer commit
      val s1 = admissionAt(Snapshots.versionPath(table, v1), wave2)
        .withColumn("version", lit(1L))
      val s0 = admissionAt(Snapshots.versionPath(table, v0), wave2)
        .withColumn("version", lit(0L))
      s0.unionByName(s1)
        .select(col("version"), col("doc_id"), col("n_candidates"),
          col("n_dups"), col("admitted"))
        .orderBy(col("version"), col("doc_id"))
    }
  }


  /** Persisted SimHash Hamming-ball index lifecycle
    * ([[graft.operators.SimHashIndex]]) — q25's banded fingerprint
    * self-join turned into a MAINTAINED index, the Hamming-space
    * counterpart of the q125 LSH admission family: the base corpus
    * writes 3 band rows per doc, a delta probes by exact-match band
    * join (pigeonhole guarantees every pair within Hamming 2 is found),
    * collided pairs verify INLINE via `bit_count(xor)` of the
    * fingerprints the band rows carry, and the lowest collided corpus
    * doc is forgotten mid-query — its pairs must vanish from the probe
    * immediately. Oracle: the q25 CTE chain split base/delta, with the
    * forget leg replayed as `index_id <> min(index_id)` (the q145
    * compute-the-signal-in-a-CTE trick).
    */
  val simhashIndex: QuerySpec = QuerySpec.sql(
    "q156_simhash_index",
    s"""WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents),
      |hs AS (SELECT doc_id, list_transform(toks, s -> (${charHashSql("s")} * 2654435761) % 4294967296) AS hs FROM t),
      |sim AS (
      |  SELECT doc_id, CAST(list_sum(
      |    [CASE WHEN list_sum([CASE WHEN (h // (1::BIGINT << i)) % 2 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0
      |          THEN (1::BIGINT << i) ELSE 0::BIGINT END FOR i IN range(0, 32)]) AS BIGINT) AS simhash
      |  FROM hs),
      |bands AS (
      |  SELECT doc_id, simhash, b.j,
      |    CASE b.j WHEN 0 THEN simhash % 2048
      |             WHEN 1 THEN (simhash // 2048) % 2048
      |             ELSE simhash // 4194304 END AS band_val
      |  FROM sim, (SELECT unnest(range(0, 3)) AS j) b),
      |coll AS (
      |  SELECT d.doc_id AS delta_id, c.doc_id AS index_id,
      |    CAST(bit_count(xor(d.simhash, c.simhash)) AS INTEGER) AS hamming
      |  FROM bands d JOIN bands c ON d.j = c.j AND d.band_val = c.band_val
      |    AND d.doc_id % 10 = 7 AND c.doc_id % 10 <> 7
      |  WHERE bit_count(xor(d.simhash, c.simhash)) <= 2
      |  GROUP BY 1, 2, 3)
      |SELECT delta_id, index_id, hamming FROM coll
      |WHERE index_id <> COALESCE((SELECT min(index_id) FROM coll), -1)
      |ORDER BY delta_id, index_id""".stripMargin
  ) { (spark, dir) =>
    import spark.implicits._
    val docs = graft.CacheScope.cache(Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        transform(Text.tokens(col("text")),
          s => (Text.charHash(s) * lit(2654435761L)) % lit(4294967296L))
          .as("hs")))
    val base = docs.filter(col("doc_id") % 10 =!= 7)
    val delta = docs.filter(col("doc_id") % 10 === 7)
    val idx = graft.Scratch.fresh("q156") + "/idx"
    graft.operators.SimHashIndex.write(base, "doc_id", "hs", idx)
    // right-to-be-forgotten leg: the lowest collided corpus doc is
    // deleted AFTER serving once; its pairs must vanish immediately
    val minId = graft.operators.SimHashIndex
      .candidates(spark, idx, delta, "doc_id", "hs")
      .agg(min(col("indexId"))).head()
    if (!minId.isNullAt(0))
      graft.operators.SimHashIndex.delete(spark, idx,
        Seq(minId.getLong(0)).toDF("doc_id"), "doc_id")
    graft.operators.SimHashIndex.candidates(spark, idx, delta, "doc_id", "hs")
      .select(col("deltaId").as("delta_id"), col("indexId").as("index_id"),
        col("hamming"))
      .orderBy(col("delta_id"), col("index_id"))
  }

  /** Shingle-CONTAINMENT template detection — the asymmetric companion
    * to q23's Jaccard: `C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|` flags A as a
    * (near-)subset of B even when B is much larger, exactly the
    * boilerplate/template/quote-expansion relation Jaccard's symmetric
    * denominator suppresses (a 10-line disclaimer inside a 500-line doc
    * has tiny Jaccard but containment 1.0). Same scale shape as q23: the
    * inverted shingle index joins only docs SHARING a kept shingle
    * (df ≤ [[MaxShingleDf]] prunes the hot boilerplate shingles that
    * would quadratically blow up the pair join — at 100 TB that cap is
    * the difference between O(matching pairs) and O(n²)); directed pairs
    * are one directional count + a divide by the contained side's size.
    * `is_template` marks full containment. DMLR-style template mining
    * (cf. Broder's containment sketches) re-expressed as two groupBys.
    */
  val containment: QuerySpec = QuerySpec.sql(
    "q167_containment",
    s"""WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents),
      |sh AS (SELECT doc_id, $shinglesSql AS sh FROM t),
      |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      |dfq AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= $MaxShingleDf),
      |exk AS (SELECT doc_id, s FROM ex WHERE s IN (SELECT s FROM dfq)),
      |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM exk GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS id_sub, b.doc_id AS id_super, count(*) AS common
      |  FROM exk a JOIN exk b ON a.s = b.s AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_sub, id_super, CAST(common AS BIGINT) AS common, sa.n AS n_sub,
      |  round(CAST(common AS DOUBLE) / sa.n + 1e-9, 4) AS containment,
      |  common = sa.n AS is_template
      |FROM pairs JOIN sizes sa ON id_sub = sa.doc_id
      |WHERE CAST(common AS DOUBLE) / sa.n >= 0.8
      |ORDER BY id_sub, id_super""".stripMargin
  ) { (spark, dir) =>
    val ex = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(MinHashLSH.shingleHashes(Text.tokens(col("text")), 3)).as("s"))
      .transform(graft.CacheScope.cache)
    val kept = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= lit(MaxShingleDf.toLong)).select(col("s"))
    val exk = ex.join(kept, Seq("s"), "left_semi")
      .transform(graft.CacheScope.cache)
    val sizes = exk.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pairs = exk.as("a").join(exk.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_sub"), col("b.doc_id").as("id_super"))
      .agg(count(lit(1)).as("common"))
    val cont = col("common").cast("double") / col("n")
    pairs.join(sizes.withColumnRenamed("doc_id", "id_sub"), "id_sub")
      .filter(cont >= 0.8)
      .select(col("id_sub"), col("id_super"), col("common"),
        col("n").as("n_sub"),
        round(cont + lit(1e-9), 4).as("containment"),
        (col("common") === col("n")).as("is_template"))
      .orderBy(col("id_sub"), col("id_super"))
  }

  /** PageRank centrality over the near-dup graph
    * ([[graft.operators.PageRank]]) — the graph-centrality QUALITY
    * PRIOR (web pipelines filter on centrality-family signals; here the
    * edges are q23's verified Jaccard ≥ 0.5 near-dup pairs,
    * symmetrized): two damped iterations from a uniform start, float
    * state summed through the decimal grid so the unrolled oracle
    * replays every iteration bit-for-bit. Beside q55's connected
    * components (integer labels, convergence loop) this gates the other
    * classic iterative-graph shape — fixed-iteration FLOAT recursion —
    * with per-iteration cost one edge-to-rank join + one combinable
    * aggregation. The `(1.0 - 0.85)` damping complement is written as a
    * SUBTRACTION in both engines (the literal 0.15 is a different
    * double).
    */
  /** PageRank oracle CTEs over an in-scope `ed(src, dst)` edge list:
    * `deg`/`nn`/`r0` then `iters` unrolled damped iterations ending at
    * `r<iters>(node, rank)`. Shared by q177/q178 so the iteration
    * arithmetic cannot diverge between their oracles.
    */
  private def pageRankCtesSql(iters: Int, damping: Double): String = {
    val rounds = (1 to iters).map { i =>
      s"""c$i AS (
        |  SELECT e.dst AS node,
        |    ${graft.functions.Stable.sumDSql("r.rank / d.deg")} AS sc
        |  FROM ed e JOIN r${i - 1} r ON r.node = e.src
        |  JOIN deg d ON d.src = e.src
        |  GROUP BY e.dst),
        |r$i AS (SELECT node,
        |    (CAST(1.0 AS DOUBLE) - CAST($damping AS DOUBLE)) / n
        |      + CAST($damping AS DOUBLE) * sc AS rank
        |  FROM c$i CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    s"""deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM ed GROUP BY src),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
      |r0 AS (SELECT src AS node, 1.0 / n AS rank FROM deg CROSS JOIN nn),
      |$rounds""".stripMargin
  }

  val nearDupRank: QuerySpec = {
    val (iters, damping) = (2, 0.85)
    QuerySpec.sql(
      "q177_neardup_pagerank",
      s"""WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents),
        |sh AS (SELECT doc_id, $shinglesSql AS sh FROM t),
        |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        |dfq AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= $MaxShingleDf),
        |exk AS (SELECT doc_id, s FROM ex WHERE s IN (SELECT s FROM dfq)),
        |sizes AS (SELECT doc_id, count(*) AS nsh FROM exk GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
        |  FROM exk a JOIN exk b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jp AS (
        |  SELECT id1, id2 FROM pairs
        |  JOIN sizes sa ON id1 = sa.doc_id JOIN sizes sb ON id2 = sb.doc_id
        |  WHERE CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common) >= 0.5),
        |ed AS (SELECT id1 AS src, id2 AS dst FROM jp
        |  UNION ALL SELECT id2, id1 FROM jp),
        |${pageRankCtesSql(iters, damping)}
        |SELECT r$iters.node AS doc_id, deg.deg AS deg,
        |  round(r$iters.rank + 1e-12, 8) AS rank
        |FROM r$iters JOIN deg ON deg.src = r$iters.node
        |ORDER BY doc_id""".stripMargin
    ) { (spark, dir) =>
      val ex = Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          explode(MinHashLSH.shingleHashes(Text.tokens(col("text")), 3)).as("s"))
        .transform(graft.CacheScope.cache)
      val kept = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= lit(MaxShingleDf.toLong)).select(col("s"))
      val exk = ex.join(kept, Seq("s"), "left_semi")
        .transform(graft.CacheScope.cache)
      val sizes = exk.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
      val jac = col("common").cast("double") /
        (col("sa.nsh") + col("sb.nsh") - col("common"))
      val jp = exk.as("a").join(exk.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .agg(count(lit(1)).as("common"))
        .join(sizes.as("sa"), col("id1") === col("sa.doc_id"))
        .join(sizes.as("sb"), col("id2") === col("sb.doc_id"))
        .filter(jac >= 0.5)
        .select(col("id1"), col("id2"))
      val edges = jp.unionByName(
        jp.select(col("id2").as("id1"), col("id1").as("id2")))
      graft.operators.PageRank.ranks(edges, "id1", "id2", iters, damping)
        .select(col("node").as("doc_id"), col("deg"),
          round(col("rank") + lit(1e-12), 8).as("rank"))
        .orderBy(col("doc_id"))
    }
  }

  /** AUTHORITY-based canonical selection — q112's APPLY step with a
    * graph-derived tiebreak: per q55 near-dup component, keep the member
    * with the highest PageRank over the SAME verified-pair graph
    * (centrality picks the version other docs cluster around — the
    * canonical-URL heuristic web dedup uses — instead of q112's quality
    * heuristic). Composition gate: LSH candidates → Jaccard verify →
    * connected components AND two PageRank iterations share ONE edge
    * list, then a k=1 top-k per component (rank desc, doc_id tiebreak —
    * exact-equal ranks at symmetric positions break deterministically).
    * The oracle chains the recursive-CTE components with the unrolled
    * iterations over the same `ed`.
    */
  val authorityCanonical: QuerySpec = {
    val (iters, damping) = (2, 0.85)
    QuerySpec.sql(
      "q178_authority_canonical",
      s"""WITH RECURSIVE t AS (SELECT doc_id, $tokSql AS toks FROM documents),
        |$componentCtesSql,
        |ed AS (SELECT a AS src, b AS dst FROM edges),
        |${pageRankCtesSql(iters, damping)},
        |ccx AS (
        |  SELECT cc.doc_id, cc.component FROM cc
        |  WHERE cc.doc_id IN (SELECT src FROM ed)),
        |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members
        |  FROM ccx GROUP BY component),
        |ranked AS (
        |  SELECT ccx.component, ccx.doc_id, r$iters.rank,
        |    row_number() OVER (PARTITION BY ccx.component
        |      ORDER BY r$iters.rank DESC, ccx.doc_id) AS rk
        |  FROM ccx JOIN r$iters ON r$iters.node = ccx.doc_id)
        |SELECT component, n_members, doc_id AS canonical_doc,
        |  round(rank + 1e-12, 8) AS rank
        |FROM ranked JOIN sz USING (component)
        |WHERE rk = 1
        |ORDER BY component""".stripMargin
    ) { (spark, dir) =>
      val withSh = Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          MinHashLSH.shingleHashes(Text.tokens(col("text")), 3).as("sh"))
      val pairs = MinHashLSH
        .nearDupPairs(withSh, "doc_id", "sh", threshold = 0.6)
        .select(col("id1"), col("id2"))
        .transform(graft.CacheScope.cache)
      val cc = graft.operators.ConnectedComponents
        .components(pairs, "id1", "id2")
        .select(col("node"), col("label").as("component"))
      val edges = pairs.unionByName(
        pairs.select(col("id2").as("id1"), col("id1").as("id2")))
      val pr = graft.operators.PageRank
        .ranks(edges, "id1", "id2", iters, damping)
      val members = cc.join(pr, "node")
      val sizes = cc.groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"))
      graft.operators.Dedup.topKPerKey(members, Seq("component"),
          Seq(col("rank").desc, col("node").asc), 1)
        .join(sizes, "component")
        .select(col("component"), col("n_members"),
          col("node").as("canonical_doc"),
          round(col("rank") + lit(1e-12), 8).as("rank"))
        .orderBy(col("component"))
    }
  }

  /** LEAKAGE-FREE train/val/test assignment — the split step q69's
    * decontamination check exists to audit, done right at source:
    * hashing raw doc_ids into splits (the q41 shape) lets two NEAR
    * DUPLICATES land on opposite sides of the train/eval fence, which
    * is exactly the leak that inflates benchmarks. Here the split is a
    * function of the near-duplicate COMPONENT (q55's LSH → Jaccard →
    * connected-components chain, shared `componentCtesSql` oracle), so
    * every member of a duplicate group — including singletons, whose
    * component is their own id — moves as one unit: no component can
    * straddle splits, by construction rather than by audit. The
    * portable hash keeps the 80/10/10 assignment deterministic across
    * engines and re-runs. Cost on top of the q55 grouping: one
    * projection — the assignment itself is shuffle-free.
    */
  val leakageSplit: QuerySpec = QuerySpec.sql(
    "q195_leakage_split",
    s"""WITH RECURSIVE t AS (SELECT doc_id, $tokSql AS toks FROM documents),
      |$componentCtesSql,
      |sp AS (SELECT doc_id, component,
      |    ((component % 1000003) * 2654435761) % 100 AS b
      |  FROM cc)
      |SELECT doc_id, component,
      |  CASE WHEN b < 80 THEN 'train'
      |       WHEN b < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM sp
      |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
    val withSh = docs.select(col("doc_id"),
      MinHashLSH.shingleHashes(Text.tokens(col("text")), 3).as("sh"))
    val pairs = MinHashLSH.nearDupPairs(withSh, "doc_id", "sh", threshold = 0.6)
      .select(col("id1"), col("id2"))
    val b = (col("component") % 1000003L) * 2654435761L % 100
    graft.operators.ConnectedComponents
      .dedupGroups(docs, "doc_id", pairs, "id1", "id2")
      .select(col("doc_id"), col("component"),
        when(b < 80, "train").when(b < 90, "val").otherwise("test")
          .as("split"))
      .orderBy(col("doc_id"))
  }

  val all: Seq[QuerySpec] =
    Seq(exactDedup, ngramJaccard, minhashLsh, simhash, dedupGroups,
      decontamination, canonicalPick, lshIndexAppend, spanScrub,
      lshSkewReport, lshSequential, lshForget, spanScrubMaintained,
      lshVersioned, lshBucketedAdmission, lshTieredServing, lshStreamed,
      lshRebucket, lshRolloverCycle, simhashIndex, containment,
      nearDupRank, authorityCanonical, leakageSplit)
}
