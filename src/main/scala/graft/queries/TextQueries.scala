package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.QuerySpec
import graft.functions.Text
import graft.sources.Tables

/** Text-analysis tier over the `documents` fixture (north-star extension:
  * the operations a large-scale training-data pipeline needs). All per-doc
  * work is scalar expression-only — embarrassingly parallel, no shuffle
  * except the final presentation ORDER BY; at 100 TB these run as a single
  * scan stage inside whole-stage codegen.
  *
  * Oracle note: the `+ 1e-9` nudge and `+ 0` negative-zero collapse follow
  * the conventions documented in [[graft.functions.Physics]].
  */
object TextQueries {

  /** Token counting: whitespace tokens, distinct tokens, BPE-ish subword
    * count, and length stats per document.
    */
  val textStats: QuerySpec = QuerySpec.sql(
    "q18_text_stats",
    """SELECT doc_id,
      |  length(text) AS n_chars_calc,
      |  CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
      |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / greatest(len(toks), 1) + 1e-9, 4) AS avg_token_len,
      |  CAST(list_max(list_transform(toks, t -> length(t))) AS BIGINT) AS max_token_len
      |FROM (SELECT *, list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != '') AS toks
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val toks = Text.tokens(col("text"))
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_calc"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
        Text.bpeTokenCount(col("text")).as("n_bpe_tokens"),
        round(length(regexp_replace(col("text"), " ", "")).cast("double")
          / greatest(size(toks), lit(1)) + lit(1e-9), 4).as("avg_token_len"),
        array_max(transform(toks, t => length(t))).cast("long")
          .as("max_token_len"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring: stopword ratio, length saturation, lexical
    * diversity → composite 0-100 score + band ladder, SHORT flag.
    */
  val qualityScore: QuerySpec = QuerySpec.sql(
    "q19_quality_score",
    """SELECT doc_id, n_tokens, stop_hits,
      |  round(stop_ratio + 1e-9, 4) AS stop_ratio,
      |  round(diversity + 1e-9, 4) AS diversity,
      |  round(score + 1e-9, 2) AS quality_score,
      |  CASE WHEN score >= 70 THEN 'HIGH'
      |       WHEN score >= 40 THEN 'MEDIUM'
      |       ELSE 'LOW' END AS quality_band,
      |  length(text) < 100 AS is_short
      |FROM (
      |  SELECT *,
      |    100 * (0.4 * stop_ratio
      |           + 0.3 * least(n_tokens, 200) / 200.0
      |           + 0.3 * diversity) AS score
      |  FROM (
      |    SELECT doc_id, text,
      |      CAST(len(toks) AS BIGINT) AS n_tokens,
      |      CAST(len(list_filter(toks, t -> list_contains(['the','a','an','and','of','to','in','is'], t))) AS BIGINT) AS stop_hits,
      |      CAST(len(list_filter(toks, t -> list_contains(['the','a','an','and','of','to','in','is'], t))) AS DOUBLE) / greatest(len(toks), 1) AS stop_ratio,
      |      CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS diversity
      |    FROM (SELECT *, list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != '') AS toks
      |          FROM documents)))
      |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val toks = Text.tokens(col("text"))
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        size(toks).cast("long").as("n_tokens"),
        Text.vocabHits(toks, Text.StopEn).as("stop_hits"),
        // greatest(.,1): empty documents would otherwise hit 0-division,
        // where Spark yields NULL but DuckDB yields IEEE inf/nan
        (Text.vocabHits(toks, Text.StopEn).cast("double")
          / greatest(size(toks), lit(1))).as("stop_ratio"),
        (size(array_distinct(toks)).cast("double")
          / greatest(size(toks), lit(1))).as("diversity"))
      .withColumn("score",
        lit(100) * (lit(0.4) * col("stop_ratio")
          + lit(0.3) * least(col("n_tokens"), lit(200L)) / lit(200.0)
          + lit(0.3) * col("diversity")))
    base.select(
        col("doc_id"), col("n_tokens"), col("stop_hits"),
        round(col("stop_ratio") + lit(1e-9), 4).as("stop_ratio"),
        round(col("diversity") + lit(1e-9), 4).as("diversity"),
        round(col("score") + lit(1e-9), 2).as("quality_score"),
        when(col("score") >= 70, "HIGH")
          .when(col("score") >= 40, "MEDIUM")
          .otherwise("LOW").as("quality_band"),
        (length(col("text")) < 100).as("is_short"))
      .orderBy(col("doc_id"))
  }

  /** Function-word language ID per document (n-gram heuristic) plus
    * agreement with the claimed `lang` column, rolled up per
    * (claimed, predicted) pair.
    */
  val langId: QuerySpec = QuerySpec.sql(
    "q20_lang_id",
    """WITH scored AS (
      |  SELECT lang,
      |    CAST(len(list_filter(toks, t -> list_contains(['the','a','an','and','of','to','in','is'], t))) AS BIGINT) AS s_en,
      |    CAST(len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','ein','zu','von'], t))) AS BIGINT) AS s_de,
      |    CAST(len(list_filter(toks, t -> list_contains(['le','la','les','et','est','un','une','de'], t))) AS BIGINT) AS s_fr,
      |    CAST(len(list_filter(toks, t -> list_contains(['el','la','los','las','y','es','un','una'], t))) AS BIGINT) AS s_es
      |  FROM (SELECT *, list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != '') AS toks
      |        FROM documents)),
      |pred AS (
      |  SELECT lang,
      |    CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
      |         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
      |         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
      |         WHEN s_fr >= s_es THEN 'fr'
      |         ELSE 'es' END AS pred_lang,
      |    s_en, s_de, s_fr, s_es
      |  FROM scored)
      |SELECT lang, pred_lang, count(*) AS n_docs,
      |  CAST(sum(s_en) AS BIGINT) AS sum_s_en,
      |  CAST(sum(s_de) AS BIGINT) AS sum_s_de,
      |  CAST(sum(s_fr) AS BIGINT) AS sum_s_fr,
      |  CAST(sum(s_es) AS BIGINT) AS sum_s_es
      |FROM pred
      |GROUP BY lang, pred_lang
      |ORDER BY lang, pred_lang""".stripMargin
  ) { (spark, dir) =>
    // tokenize ONCE into a column; four independent Text.tokens(col("text"))
    // expressions would each re-split (no CSE across projection expressions)
    val (sEn, sDe, sFr, sEs) = Text.langScores(col("toks"))
    Tables.load(spark, dir, "documents")
      .select(col("lang"), Text.tokens(col("text")).as("toks"))
      .select(col("lang"), sEn.as("s_en"), sDe.as("s_de"),
        sFr.as("s_fr"), sEs.as("s_es"))
      .withColumn("pred_lang",
        Text.predictedLang(col("s_en"), col("s_de"), col("s_fr"), col("s_es")))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("s_en")).as("sum_s_en"),
        sum(col("s_de")).as("sum_s_de"),
        sum(col("s_fr")).as("sum_s_fr"),
        sum(col("s_es")).as("sum_s_es"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  /** Document fingerprinting: portable rolling hash of the raw text plus
    * an order-insensitive content fingerprint (sorted distinct tokens),
    * with a per-fingerprint duplicate-group count.
    */
  val fingerprint: QuerySpec = QuerySpec.sql(
    "q21_fingerprint",
    s"""WITH fp AS (
      |  SELECT doc_id,
      |    ${Text.charHashSql("lower(text)")} AS raw_fp,
      |    ${Text.charHashSql(
         "array_to_string(list_sort(list_distinct(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t != ''))), ' ')")} AS content_fp
      |  FROM documents)
      |SELECT doc_id, raw_fp, content_fp,
      |  count(*) OVER (PARTITION BY content_fp) > 1 AS has_content_dup
      |FROM fp
      |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        Text.charHash(lower(col("text"))).as("raw_fp"),
        Text.contentFingerprint(col("text")).as("content_fp"))
      .withColumn("has_content_dup",
        count(lit(1)).over(Window.partitionBy(col("content_fp"))) > 1)
      .orderBy(col("doc_id"))
  }

  /** Corpus vocabulary profile: explode tokens, global term frequencies,
    * top 25 — the word-count shape (map-side combine before one shuffle).
    */
  val vocabTop: QuerySpec = QuerySpec.sql(
    "q39_vocab_top",
    """SELECT tok, count(*) AS tf,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |FROM (SELECT doc_id,
      |        unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != '')) AS tok
      |      FROM documents)
      |GROUP BY tok
      |ORDER BY tf DESC, tok
      |LIMIT 25""".stripMargin
  ) { (spark, dir) =>
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("tf"),
        countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("tok"))
      .limit(25)
  }

  /** TF-IDF top-3 terms per document. Ranking uses the integer surrogate
    * `(tf * 1e6) div df` — order-equivalent to tf·(N/df) for fixed N and
    * computed in exact integer arithmetic, so the per-doc row_number cut
    * is bit-identical across engines (ranking on the float tf·ln(N/df)
    * itself would let one-ulp libm differences flip rank at ties). The
    * float score is still reported, rounded. Shape: ONE tokenization
    * scan into the tf hash aggregate; df is a plain count over tf
    * ((doc, tok) is unique there, so no two-phase distinct and no
    * second scan) + a broadcast corpus-size scalar + top-k window.
    */
  val tfidfTopTerms: QuerySpec = QuerySpec.sql(
    "q63_tfidf_top_terms",
    """WITH t AS (
      |  SELECT doc_id,
      |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != '')) AS tok
      |  FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
      |df AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM t GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
      |    (tf.tf * 1000000) // df.df AS salience,
      |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) + 1e-9, 4) AS tfidf
      |  FROM tf JOIN df USING (tok) CROSS JOIN n),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY salience DESC, tok) AS rn
      |  FROM scored)
      |SELECT doc_id, tok, tf, df, salience, tfidf, rn
      |FROM ranked WHERE rn <= 3
      |ORDER BY doc_id, rn""".stripMargin
  ) { (spark, dir) =>
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      // both df and the scored join consume tf; column pruning makes the
      // two subtrees differ, so ReuseExchange cannot dedup them — persist
      // the (bounded: distinct (doc, tok) pairs) frame instead of
      // re-running the tokenization scan
      .transform(graft.CacheScope.cache)
    // (doc, tok) is unique in tf, so document frequency is a plain count
    // over tf — df aggregates the distinct-pair frame, not the raw token
    // stream, and the two-phase distinct aggregation disappears
    val df = tf.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"))
    val nDocs = Tables.load(spark, dir, "documents")
      .agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "tok").crossJoin(broadcast(nDocs))
      .withColumn("salience", expr("(tf * 1000000) div df"))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df"))
          + lit(1e-9), 4))
    scored
      .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("salience").desc, col("tok"))).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        col("salience"), col("tfidf"), col("rn"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** Fixed-window document chunking with overlap — the training-data
    * staple that turns documents into model-sized sequences. Tokens are
    * windowed into 32-token chunks on a 24-token stride (8-token
    * overlap); every doc yields at least one chunk, and the final chunk
    * keeps the natural tail (no padding). The generator runs
    * executor-side (`explode(sequence(...))` — a whole-stage-codegen
    * Generate, not a driver loop), so chunk fan-out is embarrassingly
    * parallel: at 100 TB this is one scan stage whose output is ~n/stride
    * rows per doc with zero shuffle before the presentation sort.
    */
  val docChunks: QuerySpec = QuerySpec.sql(
    "q65_doc_chunks",
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != '') AS toks
      |  FROM documents),
      |sized AS (
      |  SELECT doc_id, toks,
      |    1 + greatest(0, CAST(ceil((len(toks) - 32) / 24.0) AS INT)) AS n_chunks
      |  FROM toks),
      |fanned AS (
      |  SELECT doc_id, toks, unnest(range(0, n_chunks)) AS g FROM sized)
      |SELECT doc_id, CAST(g AS BIGINT) AS chunk_idx,
      |  CAST(len(list_slice(toks, g*24 + 1, g*24 + 32)) AS BIGINT) AS n_chunk_tokens,
      |  array_to_string(list_slice(toks, g*24 + 1, g*24 + 32), ' ') AS chunk_text
      |FROM fanned
      |ORDER BY doc_id, chunk_idx""".stripMargin
  ) { (spark, dir) =>
    val chunk = slice(col("toks"), (col("g") * 24 + 1).cast("int"), lit(32))
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .withColumn("n_chunks",
        (lit(1) + greatest(lit(0),
          ceil((size(col("toks")) - lit(32)).cast("double") / 24.0))).cast("int"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("g"))
      .select(
        col("doc_id"),
        col("g").cast("long").as("chunk_idx"),
        size(chunk).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", chunk).as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Deterministic corpus mixing: re-derive q19's quality score, band it
    * with thresholds tuned to the fixture's score spread (>=30 HIGH /
    * >=24 MEDIUM — q19's 70/40 ladder is all-LOW on this corpus), then
    * subsample each band at its mixing rate (HIGH 100% / MEDIUM 50% /
    * LOW 10%) using the q41 portable arithmetic hash of `doc_id` — no
    * rand(), identical membership in any engine, stable across re-runs
    * and partitionings (how training mixes stay reproducible). Output is
    * the per-band audit: kept/total docs and kept token mass.
    */
  val corpusMix: QuerySpec = QuerySpec.sql(
    "q66_corpus_mix",
    """WITH scored AS (
      |  SELECT doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_tokens,
      |    100 * (0.4 * (CAST(len(list_filter(toks, t -> list_contains(['the','a','an','and','of','to','in','is'], t))) AS DOUBLE) / greatest(len(toks), 1))
      |           + 0.3 * least(len(toks), 200) / 200.0
      |           + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1))) AS score,
      |    ((doc_id % 1000003) * 2654435761) % 100 AS bucket
      |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != '') AS toks
      |        FROM documents)),
      |banded AS (
      |  SELECT *,
      |    CASE WHEN round(score + 1e-9, 4) >= 30 THEN 'HIGH'
      |         WHEN round(score + 1e-9, 4) >= 24 THEN 'MEDIUM'
      |         ELSE 'LOW' END AS quality_band,
      |    CASE WHEN round(score + 1e-9, 4) >= 30 THEN 100
      |         WHEN round(score + 1e-9, 4) >= 24 THEN 50
      |         ELSE 10 END AS mix_rate
      |  FROM scored)
      |SELECT quality_band, mix_rate,
      |  count(*) AS n_docs,
      |  CAST(sum(CASE WHEN bucket < mix_rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN bucket < mix_rate THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
      |FROM banded
      |GROUP BY quality_band, mix_rate
      |ORDER BY quality_band""".stripMargin
  ) { (spark, dir) =>
    val toks = col("toks")
    val stop = array(Seq("the", "a", "an", "and", "of", "to", "in", "is")
      .map(lit): _*)
    // float-op association mirrors the oracle text exactly (ratio-first
    // parens on the two ratios, (0.3*least)/200.0 on the saturation term)
    // so band edges cannot diverge between engines
    val stopRatio = size(filter(toks, t => array_contains(stop, t)))
      .cast("double") / greatest(size(toks), lit(1))
    val diversity = size(array_distinct(toks)).cast("double") /
      greatest(size(toks), lit(1))
    val scored = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        (lit(100) * (lit(0.4) * stopRatio
          + lit(0.3) * least(size(toks), lit(200)) / 200.0
          + lit(0.3) * diversity)).as("score"),
        ((col("doc_id") % 1000003L) * 2654435761L % 100).as("bucket"))
    // band on the ROUNDED score (repo float convention) so an ulp of
    // engine difference cannot flip a document across a band edge;
    // thresholds sit inside the fixture's observed 18-40 score range
    val snapped = round(col("score") + lit(1e-9), 4)
    scored
      .withColumn("quality_band",
        when(snapped >= 30, "HIGH")
          .when(snapped >= 24, "MEDIUM").otherwise("LOW"))
      .withColumn("mix_rate",
        when(snapped >= 30, 100)
          .when(snapped >= 24, 50).otherwise(10))
      .groupBy(col("quality_band"), col("mix_rate"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("bucket") < col("mix_rate"), 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col("bucket") < col("mix_rate"), col("n_tokens"))
          .otherwise(0L)).as("kept_tokens"))
      .orderBy(col("quality_band"))
  }

  /** Intra-document repetition signals — the Gopher/RefinedWeb-style
    * quality filters that catch boilerplate and degenerate generation:
    * duplicate-token fraction, duplicate-3-gram fraction, and
    * top-token concentration (share of the single most frequent
    * token). All per-document scalar expression work over one scan —
    * the same embarrassingly-parallel shape as q18/q19.
    */
  val repetition: QuerySpec = QuerySpec.sql(
    "q71_repetition",
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != '') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, toks,
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)] END AS grams
      |  FROM t)
      |SELECT doc_id,
      |  CAST(len(toks) AS BIGINT) AS n_tokens,
      |  round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) + 1e-9, 4) AS dup_token_frac,
      |  round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / greatest(len(grams), 1) + 1e-9, 4) AS dup_gram_frac,
      |  round(CAST(list_max(list_transform(list_distinct(toks), u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE) / greatest(len(toks), 1) + 1e-9, 4) AS top_token_share
      |FROM g
      |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val toks = col("toks")
    val grams = col("grams")
    // 3-gram strings (same construction as the shingle SQL, pre-hash)
    val gramsExpr = when(size(toks) < 3, array(array_join(toks, " ")))
      .otherwise(transform(sequence(lit(1), size(toks) - 2),
        i => array_join(slice(toks, i, lit(3)), " ")))
    val topCount = array_max(transform(array_distinct(toks),
      u => size(filter(toks, x => x === u))))
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .withColumn("grams", gramsExpr)
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        round(lit(1.0) - size(array_distinct(toks)).cast("double")
          / greatest(size(toks), lit(1)) + lit(1e-9), 4)
          .as("dup_token_frac"),
        round(lit(1.0) - size(array_distinct(grams)).cast("double")
          / greatest(size(grams), lit(1)) + lit(1e-9), 4)
          .as("dup_gram_frac"),
        round(topCount.cast("double") / greatest(size(toks), lit(1))
          + lit(1e-9), 4).as("top_token_share"))
      .orderBy(col("doc_id"))
  }

  /** Sequence packing — the concat-then-chunk offset assignment GPT-style
    * pretraining uses: documents are concatenated (in deterministic
    * doc_id order within a portable-hash SHARD) and the stream is cut
    * into fixed 256-token training sequences; each document reports its
    * start offset and the first/last sequence it lands in (a document
    * may straddle a boundary — that is the packing's defining property,
    * zero padding waste).
    *
    * Scale shape: packing is embarrassingly parallel per shard — the
    * cumulative sum is a window PARTITIONED by shard (at 100 TB, shards
    * ≈ executors·k so each holds one task's worth), budget waste exists
    * only at shard tails, and assignment is reproducible in any engine
    * (portable hash + integer arithmetic — the q41/q66 contract).
    */
  /** Shared CTE chain of q87/q90: tokenize → shard → shard-partitioned
    * cumulative sum → per-doc offsets. Every cum-derived column is CAST
    * to BIGINT (DuckDB's window sum returns HUGEINT, which the gate's
    * type-strict hash rejects against Spark's LONG).
    */
  private val packCtes =
    """t AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != '')) AS BIGINT) AS n_tokens,
      |    ((doc_id % 1000003) * 2654435761) % 8 AS shard
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, shard, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t WHERE n_tokens > 0),
      |p AS (
      |  SELECT doc_id, shard, n_tokens,
      |    CAST(cum - n_tokens AS BIGINT) AS start_offset,
      |    CAST((cum - n_tokens) // 256 AS BIGINT) AS seq_first,
      |    CAST((cum - 1) // 256 AS BIGINT) AS seq_last
      |  FROM c)""".stripMargin

  /** Spark twin of [[packCtes]]' `p`: the per-document packing frame
    * (doc_id, shard, n_tokens, start_offset, seq_first, seq_last).
    */
  private def packOffsets(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"),
        ((col("doc_id") % 1000003L) * 2654435761L % 8).as("shard"))
      .filter(col("n_tokens") > 0)
    val cum = sum(col("n_tokens")).over(
      Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    t.withColumn("cum", cum)
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        (col("cum") - col("n_tokens")).as("start_offset"),
        expr("(cum - n_tokens) div 256").as("seq_first"),
        expr("(cum - 1) div 256").as("seq_last"))
  }

  val sequencePack: QuerySpec = QuerySpec.sql(
    "q87_sequence_pack",
    s"""WITH $packCtes
      |SELECT doc_id, shard, n_tokens, start_offset, seq_first, seq_last
      |FROM p
      |ORDER BY shard, doc_id""".stripMargin
  ) { (spark, dir) =>
    packOffsets(spark, dir).orderBy(col("shard"), col("doc_id"))
  }

  /** The materialization step a trainer consumes, completing q87's
    * packing story: one row per (training sequence, document span) —
    * which slice of each 256-token sequence comes from which document.
    * A document straddling a boundary contributes one span per sequence
    * it touches; within a sequence, spans tile [0, 256) exactly (only
    * the final sequence of a shard may end short).
    *
    * Scale shape: a single generator (`explode(sequence(...))`) over the
    * q87 frame — rows out ≈ total_tokens/256 + n_docs, produced in the
    * same stage as the window projection (no extra shuffle beyond q87's
    * shard-partitioned window; the gather that follows in a trainer is
    * then a sequential read of each shard's spans in order).
    */
  val sequenceSpans: QuerySpec = QuerySpec.sql(
    "q90_sequence_spans",
    s"""WITH $packCtes,
      |x AS (
      |  SELECT doc_id, shard, start_offset, n_tokens,
      |    unnest(generate_series(seq_first, seq_last)) AS seq_id
      |  FROM p)
      |SELECT shard, seq_id, doc_id,
      |  CAST(greatest(start_offset, seq_id * 256) - seq_id * 256 AS BIGINT)
      |    AS span_start,
      |  CAST(least(start_offset + n_tokens, seq_id * 256 + 256)
      |    - greatest(start_offset, seq_id * 256) AS BIGINT) AS span_len
      |FROM x
      |ORDER BY shard, seq_id, span_start, doc_id""".stripMargin
  ) { (spark, dir) =>
    val seqStart = col("seq_id") * 256
    packOffsets(spark, dir)
      .select(col("doc_id"), col("shard"), col("start_offset"),
        col("n_tokens"),
        explode(sequence(col("seq_first"), col("seq_last"))).as("seq_id"))
      .select(col("shard"), col("seq_id"), col("doc_id"),
        (greatest(col("start_offset"), seqStart) - seqStart)
          .as("span_start"),
        (least(col("start_offset") + col("n_tokens"), seqStart + 256)
          - greatest(col("start_offset"), seqStart)).as("span_len"))
      .orderBy(col("shard"), col("seq_id"), col("span_start"), col("doc_id"))
  }

  /** Temperature-based source re-weighting
    * ([[graft.operators.TemperatureMix]]) at α = 0.5 over the `source`
    * column, re-allocating the corpus's own token budget: the
    * per-source mixing plan (natural vs temperature share, target
    * tokens, epochs) an LLM pretraining loader consumes. α = 0.5 is the
    * hash-gateable temperature (sqrt is IEEE-correctly-rounded in both
    * engines; general pow is not), and the weight denominator is an
    * exact decimal sum, so the whole plan is bit-reproducible.
    */
  val temperatureMix: QuerySpec = QuerySpec.sql(
    "q91_temperature_mix",
    """WITH t AS (
      |  SELECT source,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != '')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |per AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      |  FROM t GROUP BY source),
      |tot AS (
      |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |    CAST(sum(CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(28,10))) AS DOUBLE) AS z
      |  FROM per)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
      |  round(CAST(n_tokens AS DOUBLE) / total_tokens + 1e-9, 4) AS natural_share,
      |  round(sqrt(CAST(n_tokens AS DOUBLE)) / z + 1e-9, 4) AS temp_share,
      |  CAST(round(CAST(total_tokens AS DOUBLE) * (sqrt(CAST(n_tokens AS DOUBLE)) / z) + 1e-9, 0) AS BIGINT) AS target_tokens,
      |  round(CAST(round(CAST(total_tokens AS DOUBLE) * (sqrt(CAST(n_tokens AS DOUBLE)) / z) + 1e-9, 0) AS BIGINT) / n_tokens + 1e-9, 4) AS epochs
      |FROM per CROSS JOIN tot
      |ORDER BY source""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
      .select(col("source"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
    graft.operators.TemperatureMix.plan(docs, "source", "n_tokens",
      alpha = 0.5, budget = col("total_tokens"))
  }

  /** The q91 mixing plan MATERIALIZED
    * ([[graft.operators.TemperatureMix.materialize]]): per-document
    * copy counts realizing each source's token target — full epochs by
    * integer division plus a greedy portable-hash-priority prefix for
    * the remainder. One partitioned window over the corpus;
    * bit-reproducible, and the oracle replays plan + prefix identically.
    */
  val mixMaterialize: QuerySpec = QuerySpec.sql(
    "q103_mix_materialize",
    s"""WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t != '')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |per AS (
      |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
      |  FROM t GROUP BY source),
      |tot AS (
      |  SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
      |    CAST(sum(CAST(sqrt(CAST(src_tokens AS DOUBLE)) AS DECIMAL(28,10))) AS DOUBLE) AS z
      |  FROM per),
      |pl AS (
      |  SELECT source, src_tokens,
      |    CAST(round(CAST(total_tokens AS DOUBLE) * (sqrt(CAST(src_tokens AS DOUBLE)) / z) + 1e-9, 0) AS BIGINT) AS target_tokens
      |  FROM per CROSS JOIN tot),
      |pr AS (
      |  SELECT t.doc_id, t.source, t.n_tokens,
      |    p.target_tokens // p.src_tokens AS full_epochs,
      |    p.target_tokens - (p.target_tokens // p.src_tokens) * p.src_tokens AS rem,
      |    ${graft.operators.Sketches.uniformHashSql("t.doc_id")} AS h
      |  FROM t JOIN pl p ON t.source = p.source),
      |w AS (
      |  SELECT doc_id, source, n_tokens, full_epochs, rem,
      |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
      |      ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cum_before
      |  FROM pr)
      |SELECT source, doc_id, n_tokens,
      |  CAST(full_epochs + CASE WHEN cum_before < rem THEN 1 ELSE 0 END AS BIGINT) AS n_copies,
      |  cum_before
      |FROM w
      |WHERE full_epochs + CASE WHEN cum_before < rem THEN 1 ELSE 0 END > 0
      |ORDER BY source, doc_id""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
      .transform(graft.CacheScope.cache)
    graft.operators.TemperatureMix.materialize(docs, "source", "doc_id",
      "n_tokens", alpha = 0.5, budget = col("total_tokens"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** q130's rarity bar: a doc whose average token log10-probability
    * under the corpus unigram model falls below this is flagged.
    */
  private val RareLogProb = -1.7

  /** Corpus-trained unigram language-model scoring — the distributed
    * skeleton of the CCNet/KenLM perplexity quality filter: train token
    * frequencies over the corpus itself (one groupBy), score each
    * document by its average token log-probability, and flag documents
    * whose tokens are corpus-atypical (the rarity tail where OCR noise
    * and gibberish live; with an external reference model the same
    * plumbing scores against any vocabulary). Train+score is two scans
    * + one join against the model — the model is vocabulary-sized, so
    * the join broadcasts at any corpus scale. Per-doc averaging sums
    * through [[graft.functions.Stable]]'s decimal grid, so the score is
    * partition-order-invariant and engine-reproducible despite the
    * float log. Zero-token documents have no probability under the
    * model and drop out (inner-join semantics in both engines).
    */
  val unigramScore: QuerySpec = QuerySpec.sql(
    "q130_unigram_lm",
    s"""WITH t AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS toks
      |  FROM documents),
      |ex AS (SELECT doc_id, unnest(toks) AS tok FROM t),
      |m AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM ex GROUP BY tok),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM m),
      |lp AS (
      |  SELECT e.doc_id, log10(CAST(m.cnt AS DOUBLE))
      |    - log10(CAST(tot.total AS DOUBLE)) AS logp
      |  FROM ex e JOIN m USING (tok) CROSS JOIN tot),
      |d AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |    ${graft.functions.Stable.sumDSql("logp")} / count(*) AS avg_logp
      |  FROM lp GROUP BY doc_id)
      |SELECT doc_id, n_tokens,
      |  round(avg_logp + 1e-9, 4) AS avg_logp,
      |  avg_logp < $RareLogProb AS is_rare
      |FROM d ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val ex = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .transform(graft.CacheScope.cache)
    val model = ex.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .transform(graft.CacheScope.cache)
    val total = model.agg(sum(col("cnt")).as("total"))
    val avgLogp = graft.functions.Stable
      .sumD(log10(col("cnt").cast("double"))
        - log10(col("total").cast("double"))) / count(lit(1))
    ex.join(broadcast(model), "tok")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"), avgLogp.as("avg_logp"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("avg_logp") + lit(1e-9), 4).as("avg_logp"),
        (col("avg_logp") < RareLogProb).as("is_rare"))
      .orderBy(col("doc_id"))
  }

  /** Persisted BM25 inverted index served through its FULL lifecycle —
    * the keyword-retrieval tier beside the vector/dedup index families
    * ([[graft.operators.TextIndex]]): the base corpus slice builds the
    * index (write), a delta batch appends O(|delta|) posting files
    * through the bucket partitions, one document is forgotten (a
    * tombstone masks its postings immediately and a negative totals row
    * keeps n/avgdl exact), and a bounded query batch probes ONLY its
    * query terms' bucket directories (partition pruning from the
    * collected query vocabulary — probe I/O tracks query terms, never
    * corpus size). The oracle replays tokenize → postings → df/totals →
    * the BM25 kernel (same decimal literals) → decimal-grid sum → rank
    * over the LIVE set, so hash-equality proves the maintained on-disk
    * index serves exactly what a fresh build over the surviving corpus
    * would — lifecycle invisible, the q153/q157 contract for text.
    */
  val bm25Index: QuerySpec = QuerySpec.sql(
    "q160_bm25_index",
    graft.operators.TextIndex.bm25OracleSql(
      "SELECT doc_id, text FROM documents WHERE doc_id <> 3",
      "SELECT doc_id AS qid, text FROM documents WHERE doc_id < 6",
      k = 4)
  ) { (spark, dir) =>
    import spark.implicits._
    val docs = graft.CacheScope.cache(Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")))
    // copy-on-write from the shared immutable %7 base generation (this
    // gate appends and deletes in place)
    val idx = graft.Scratch.cloneBase(
      SharedIndexes.textModBase(spark, dir, 7), "q160_text")
    graft.operators.TextIndex.append(
      docs.filter(col("doc_id") % 7 === 0), "doc_id", "text", idx)
    graft.operators.TextIndex.delete(spark, idx,
      Seq(3L).toDF("doc_id"), "doc_id")
    graft.operators.TextIndex.searchTopK(spark, idx,
      docs.filter(col("doc_id") < 6)
        .select(col("doc_id").as("qid"), col("text")),
      "qid", "text", k = 4)
  }

  /** STREAMED ingest for the text index — the q119/q143/q150 leg for
    * this family: the delta slice arrives as three real AvailableNow
    * micro-batches (`maxFilesPerTrigger=1`) and each `foreachBatch`
    * runs [[graft.operators.TextIndex.append]] against the persisted
    * layout — O(batch) posting files into their bucket partitions plus
    * one additive stats row, never a rewrite. Appends commute (new
    * files + additive counters), so the index's end state is identical
    * however the delta was sliced, and the same whole-corpus oracle
    * gates the streamed path: a hash-equal search proves micro-batching
    * changed nothing about the served BM25 scores (including n/avgdl,
    * which accumulate across the three stats rows).
    */
  val bm25Streamed: QuerySpec = QuerySpec.sql(
    "q162_bm25_stream",
    graft.operators.TextIndex.bm25OracleSql(
      "SELECT doc_id, text FROM documents",
      "SELECT doc_id AS qid, text FROM documents WHERE doc_id < 6",
      k = 4)
  ) { (spark, dir) =>
    val docs = graft.CacheScope.cache(Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")))
    val root = graft.Scratch.fresh("q162")
    // copy-on-write from the shared immutable %3 base generation (this
    // gate appends the streamed delta in place)
    val idx = graft.Scratch.cloneBase(
      SharedIndexes.textModBase(spark, dir, 3), "q162_text")
    // the delta replays as three REAL micro-batches
    graft.streaming.Replay.files(root, docs.filter(col("doc_id") % 3 === 0)
        .withColumn("wave", pmod(hash(col("doc_id")), lit(3))),
      "wave", 3) { (batch, _) =>
      graft.operators.TextIndex.append(batch, "doc_id", "text", idx)
    }
    graft.operators.TextIndex.searchTopK(spark, idx,
      docs.filter(col("doc_id") < 6)
        .select(col("doc_id").as("qid"), col("text")),
      "qid", "text", k = 4)
  }

  /** q163's bucket budget: far below the hottest term's posting count
    * at every gate SF (max df ≈ 402 at sf0.001/0.01, ≈ 3.9k at sf0.1),
    * so the gate provably exercises the GROW branch; the no-grow branch
    * is spec-pinned.
    */
  val GrowBudget = 256L

  /** Index-health telemetry + skew-GATED bucket growth for the text
    * index — the q128→q145 pair for this family in one gate: the query
    * runs [[graft.operators.TextIndex.growBucketsIfHot]] (the hottest
    * bucket's posting count trips [[GrowBudget]], the postings rewrite
    * under double the modulus through the staged publish, and the new
    * modulus travels inside the layout), then serves a probe batch
    * through the POST-decision layout and reports the term-level health
    * facts ([[graft.operators.TextIndex.healthReport]]: vocabulary
    * size, max document frequency, stopword-mass terms above 25% of
    * the corpus, total postings). The oracle replays scoring and the
    * term-level report — it CANNOT see the bucket arithmetic, which is
    * exactly the point: hash-equality proves the re-bucketing changed
    * nothing about served results (the q140 layout-invisibility
    * contract), while the decision branches are spec-pinned.
    */
  val bm25Health: QuerySpec = QuerySpec.sql(
    "q163_bm25_health",
    s"""WITH ${graft.operators.TextIndex.bm25CtesSql(
        "SELECT doc_id, text FROM documents",
        "SELECT doc_id AS qid, text FROM documents " +
          "WHERE doc_id >= 6 AND doc_id < 10")},
      |health AS (
      |  SELECT CAST(count(*) AS BIGINT) AS vocab,
      |    CAST(max(df) AS BIGINT) AS max_df,
      |    CAST(sum(CASE WHEN CAST(df AS DOUBLE) >
      |        0.25 * CAST((SELECT n_docs FROM stats) AS DOUBLE)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS hot_terms,
      |    CAST(sum(df) AS BIGINT) AS total_postings
      |  FROM dfr),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY qid
      |    ORDER BY score DESC, doc_id) AS rk FROM scored)
      |SELECT qid, CAST(rk AS BIGINT) AS rank, doc_id,
      |  round(score + 1e-9, 4) AS bm25,
      |  vocab, max_df, hot_terms, total_postings
      |FROM ranked CROSS JOIN health WHERE rk <= 3
      |ORDER BY qid, rank""".stripMargin
  ) { (spark, dir) =>
    val docs = graft.CacheScope.cache(Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")))
    // copy-on-write from the shared immutable full-corpus base (this
    // gate MUTATES its layout: the grow rewrites postings)
    val idx = graft.Scratch.cloneBase(
      SharedIndexes.textFull(spark, dir), "q163")
    // the decision leg: trips at every gate SF and doubles the modulus;
    // everything after this line serves through the grown layout
    graft.operators.TextIndex.growBucketsIfHot(spark, idx, GrowBudget)
    val health = graft.operators.TextIndex
      .healthReport(spark, idx, hotFrac = 0.25)
    graft.operators.TextIndex.searchTopK(spark, idx,
        docs.filter(col("doc_id") >= 6 && col("doc_id") < 10)
          .select(col("doc_id").as("qid"), col("text")),
        "qid", "text", k = 3)
      .crossJoin(broadcast(health))
      .orderBy(col("qid"), col("rank"))
  }

  /** VERSIONED serving for the text index — the q124/q137/q148
    * zero-downtime contract for this family: two index generations
    * (v0 = the base slice, v1 = the full corpus) commit as real
    * [[graft.sources.Snapshots]] versions of one index table — the
    * self-contained directory carries the single-table postings layout
    * (posting + doclen + stats partitions) AND the bucket modulus
    * together — and the v0 search runs AFTER the v1
    * publish: a reader pinned to a version must be undisturbed by newer
    * commits. BM25 makes version pinning an unusually visible semantics
    * choice: the SAME query scores differently under v0 and v1 even for
    * documents both versions contain, because df/n/avgdl are corpus
    * facts — the oracle replays each version's full chain.
    */
  val bm25Versioned: QuerySpec = QuerySpec.sql(
    "q164_bm25_versioned",
    s"""SELECT version, qid, rank, doc_id, bm25 FROM (
      |  SELECT CAST(0 AS BIGINT) AS version, t0.* FROM (
      |${graft.operators.TextIndex.bm25OracleSql(
          "SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0",
          "SELECT doc_id AS qid, text FROM documents WHERE doc_id < 4",
          k = 3)}
      |  ) t0
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT) AS version, t1.* FROM (
      |${graft.operators.TextIndex.bm25OracleSql(
          "SELECT doc_id, text FROM documents",
          "SELECT doc_id AS qid, text FROM documents WHERE doc_id < 4",
          k = 3)}
      |  ) t1) u
      |ORDER BY version, qid, rank""".stripMargin
  ) { (spark, dir) =>
    import graft.sources.Snapshots
    val docs = graft.CacheScope.cache(Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")))
    val root = graft.Scratch.fresh("q164") + "/text_versions"
    // v0 is the shared immutable %4 base generation, published as a
    // real commit (each version is a full self-contained layout)
    val v0 = Snapshots.commit(spark, root)(d =>
      graft.Scratch.copyDir(SharedIndexes.textModBase(spark, dir, 4), d))
    // v1 is the full corpus — the shared immutable base, copied into
    // the version directory (publishing an already-built generation)
    val v1 = Snapshots.commit(spark, root)(d =>
      graft.Scratch.copyDir(SharedIndexes.textFull(spark, dir), d))
    def searchV(v: Long) = graft.operators.TextIndex.searchTopK(spark,
        Snapshots.versionPath(root, v),
        docs.filter(col("doc_id") < 4)
          .select(col("doc_id").as("qid"), col("text")),
        "qid", "text", k = 3)
      .withColumn("version", lit(v))
    // the v0 search runs AFTER the v1 publish — the pinned reader must
    // be undisturbed by the newer commit
    val s1 = searchV(v1)
    val s0 = searchV(v0)
    s0.unionByName(s1)
      .select(col("version"), col("qid"), col("rank"), col("doc_id"),
        col("bm25"))
      .orderBy(col("version"), col("qid"), col("rank"))
  }

  /** Exact-phrase probe over POSITIONAL postings
    * ([[graft.operators.TextIndex.phraseSearch]]) — the decontamination
    * primitive ("does this eval question appear VERBATIM?") that
    * bag-of-words BM25 cannot express. The index is written with
    * per-posting token-offset arrays; each query is the first three
    * tokens of a fixture document, one document is tombstoned so the
    * mask provably reaches the phrase path, and matching is pure
    * position arithmetic: slot i at offset p anchors base = p − i, a
    * base with ALL m slots anchored is one verbatim occurrence. Probe
    * cost is the query terms' posting lists + their offset arrays
    * (bucket-pruned, broadcast-narrowed) — never a corpus scan — and
    * the output is all-integer. The oracle replays tokenize-with-
    * ordinality → slot join → base groupBy → m-of-m filter.
    */
  val phraseProbe: QuerySpec = QuerySpec.sql(
    "q183_phrase_probe",
    """WITH toks AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'),
      |      t -> t != '') AS tk
      |  FROM documents),
      |tokpos AS (SELECT doc_id, unnest(tk) AS term,
      |    CAST(unnest(range(len(tk))) AS BIGINT) AS p
      |  FROM toks WHERE doc_id <> 2),
      |qslots AS (SELECT doc_id AS qid, unnest(list_slice(tk, 1, 3)) AS term,
      |    CAST(unnest(range(least(len(tk), 3))) AS BIGINT) AS slot
      |  FROM toks WHERE doc_id < 5),
      |qlen AS (SELECT qid, CAST(count(*) AS BIGINT) AS m
      |  FROM qslots GROUP BY 1),
      |hits AS (SELECT s.qid, d.doc_id, d.p - s.slot AS base,
      |    CAST(count(*) AS BIGINT) AS h
      |  FROM qslots s JOIN tokpos d USING (term) GROUP BY 1, 2, 3)
      |SELECT h.qid, h.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
      |FROM hits h JOIN qlen q USING (qid) WHERE h.h = q.m
      |GROUP BY 1, 2
      |ORDER BY qid, doc_id""".stripMargin
  ) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    // copy-on-write from the shared POSITIONAL base (this gate deletes)
    val idx = graft.Scratch.cloneBase(
      SharedIndexes.textFull(spark, dir, withPositions = true), "q183")
    graft.operators.TextIndex.delete(spark, idx,
      Seq(2L).toDF("doc_id"), "doc_id")
    val queries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(Text.tokens(col("text")), 1, 3)).as("text"))
    graft.operators.TextIndex.phraseSearch(spark, idx, queries,
        "qid", "text")
      .orderBy(col("qid"), col("doc_id"))
  }

  /** Unordered proximity probe
    * ([[graft.operators.TextIndex.proximitySearch]]): all distinct query
    * terms within an 8-token window, tightest span reported — the
    * slop-tolerant relative of q183 (plagiarism/decontamination sweeps
    * tolerate reordering and inserted words). Each query is two widely
    * separated tokens of a fixture document (offsets 0 and 4, so the
    * self-match span is exactly 5), and the minimal cover is computed
    * relationally: every probed position is a candidate window end, the
    * per-(end, term) latest-position-≤-end join gives the best start,
    * m-of-m coverage gates the span, and the per-doc min is exact. The
    * oracle replays the identical joins; all-integer output.
    */
  val proximityProbe: QuerySpec = QuerySpec.sql(
    "q184_proximity_probe",
    """WITH toks AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'),
      |      t -> t != '') AS tk
      |  FROM documents),
      |tokpos AS (SELECT doc_id, unnest(tk) AS term,
      |    CAST(unnest(range(len(tk))) AS BIGINT) AS p
      |  FROM toks),
      |q AS (SELECT doc_id AS qid, list_distinct([tk[1], tk[5]]) AS qt
      |  FROM toks WHERE doc_id < 6 AND len(tk) >= 5),
      |qterms AS (SELECT qid, unnest(qt) AS term FROM q),
      |qm AS (SELECT qid, CAST(count(*) AS BIGINT) AS m
      |  FROM qterms GROUP BY 1),
      |tp AS (SELECT s.qid, d.doc_id, d.term, d.p
      |  FROM qterms s JOIN tokpos d USING (term)),
      |ends AS (SELECT DISTINCT qid, doc_id, p AS e FROM tp),
      |best AS (SELECT ends.qid, ends.doc_id, ends.e, tp.term,
      |    max(tp.p) AS bp
      |  FROM ends JOIN tp ON tp.qid = ends.qid
      |    AND tp.doc_id = ends.doc_id AND tp.p <= ends.e
      |  GROUP BY 1, 2, 3, 4),
      |cov AS (SELECT qid, doc_id, e, CAST(count(*) AS BIGINT) AS covered,
      |    min(bp) AS start
      |  FROM best GROUP BY 1, 2, 3),
      |spans AS (SELECT c.qid, c.doc_id, c.e - c.start + 1 AS span
      |  FROM cov c JOIN qm USING (qid) WHERE c.covered = qm.m)
      |SELECT qid, doc_id, CAST(min(span) AS BIGINT) AS min_span
      |FROM spans GROUP BY 1, 2 HAVING min(span) <= 8
      |ORDER BY qid, doc_id""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    // read-only probe of the shared POSITIONAL base — no clone needed
    val idx = SharedIndexes.textFull(spark, dir, withPositions = true)
    val queries = docs
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
      .filter(col("doc_id") < 6 && size(col("tk")) >= 5)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", element_at(col("tk"), 1), element_at(col("tk"), 5))
          .as("text"))
    graft.operators.TextIndex.proximitySearch(spark, idx, queries,
        "qid", "text", window = 8)
      .orderBy(col("qid"), col("doc_id"))
  }

  /** PII redaction ([[graft.functions.Text.redactPii]]) — the scrub every
    * training-data pipeline runs before anything else (emails, IPv4s,
    * phone-shaped numbers → typed placeholder tokens), plus per-rule match
    * counts for the compliance report. The fixture corpus is synthetic
    * word-salad with no PII, so the gate deterministically enriches each
    * document in-query (identically in both engines) with a doc_id-derived
    * email / IP / phone before redacting — the operator under test is the
    * redaction fold, and hash-equality proves the Spark scan and the
    * oracle produce byte-identical redacted text and counts.
    *
    * Scale shape: pure per-row projection — three codegen `regexp_replace`
    * kernels and three `regexp_extract_all` counts in ONE scan, no
    * shuffle, no UDF; at 100 TB this is the ideal embarrassingly-parallel
    * stage and the regex set extends without changing the plan.
    */
  val piiRedact: QuerySpec = {
    val msgSql = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
      "'@mail.example.com or 10.' || CAST(doc_id % 256 AS VARCHAR) || " +
      "'.0.' || CAST(doc_id % 100 AS VARCHAR) || ' phone 555-' || " +
      "lpad(CAST((doc_id * 37) % 10000 AS VARCHAR), 4, '0')"
    val Seq(email, ip, phone) = Text.PiiRules.map(_._1)
    QuerySpec.sql(
      "q165_pii_redact",
      s"""WITH m AS (SELECT doc_id, $msgSql AS msg FROM documents)
        |SELECT doc_id,
        |  ${Text.piiCountSql("msg", email)} AS n_emails,
        |  ${Text.piiCountSql("msg", ip)} AS n_ips,
        |  ${Text.piiCountSql("msg", phone)} AS n_phones,
        |  ${Text.redactPiiSql("msg")} AS redacted
        |FROM m ORDER BY doc_id""".stripMargin
    ) { (spark, dir) =>
      val msg = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), (col("doc_id") % 100).cast("string"),
        lit(" phone 555-"),
        lpad(((col("doc_id") * 37) % 10000).cast("string"), 4, "0"))
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), msg.as("msg"))
        .select(col("doc_id"),
          Text.piiCount(col("msg"), email).as("n_emails"),
          Text.piiCount(col("msg"), ip).as("n_ips"),
          Text.piiCount(col("msg"), phone).as("n_phones"),
          Text.redactPii(col("msg")).as("redacted"))
        .orderBy(col("doc_id"))
    }
  }

  /** Model-BASED quality filtering ([[graft.operators.QualityClassifier]])
    * — the CCNet/fastText rung above the heuristic filters (q20/q71) and
    * the unigram LM (q130): a hashed multinomial Naive-Bayes classifier
    * trains on the even-doc_id split (seed label = the n_chars ≥ 300
    * length heuristic — in production, a curated "looks like good prose"
    * sample) and scores the HELD-OUT odd split. The model is a fixed
    * 1024-bucket count table (hashing trick — no vocabulary dictionary),
    * training is one map-side-combinable groupBy, scoring one broadcast
    * join + one keyed aggregation; log-odds weights are derived inside
    * the scoring expression so unseen buckets flow through the same
    * Laplace smoothing, and per-doc sums ride the decimal grid — scores
    * bit-match DuckDB's replay of the identical train→score chain.
    */
  /** Shared NB-classifier oracle: the train→score chain of q166 with a
    * pluggable train-split predicate — q170's maintained model must serve
    * EXACTLY what a fresh train over the surviving set would (NB
    * maintenance is integer-exact), so its oracle is this same chain
    * with the lifecycle's end-state membership folded into the WHERE.
    */
  private def nbOracleSql(thr: Long, trainPred: String): String = {
    val B = graft.operators.QualityClassifier.Buckets
    val wSql =
      s"""log10((CAST(COALESCE(cp, 0) AS DOUBLE) + 1.0) / (CAST(ptot AS DOUBLE) + $B.0))
        |      - log10((CAST(COALESCE(cn, 0) AS DOUBLE) + 1.0) / (CAST(ntot AS DOUBLE) + $B.0))""".stripMargin
    s"""WITH d AS (SELECT doc_id, n_chars >= $thr AS label,
      |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS toks
      |  FROM documents),
      |f AS (SELECT doc_id, (${Text.charHashSql("tok")}) % $B AS b
      |  FROM (SELECT doc_id, unnest(toks) AS tok FROM d)),
      |tr AS (SELECT f.doc_id, b, label FROM f JOIN d USING (doc_id)
      |  WHERE ${trainPred.replace("doc_id", "f.doc_id")}),
      |m AS (SELECT b,
      |    CAST(count(*) FILTER (WHERE label) AS BIGINT) AS cp,
      |    CAST(count(*) FILTER (WHERE NOT label) AS BIGINT) AS cn
      |  FROM tr GROUP BY b),
      |tot AS (SELECT
      |    CAST(count(*) FILTER (WHERE label) AS BIGINT) AS ptot,
      |    CAST(count(*) FILTER (WHERE NOT label) AS BIGINT) AS ntot FROM tr),
      |dt AS (SELECT
      |    CAST(count(*) FILTER (WHERE label) AS BIGINT) AS pdocs,
      |    CAST(count(*) FILTER (WHERE NOT label) AS BIGINT) AS ndocs
      |  FROM d WHERE $trainPred),
      |sc AS (SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |    ${graft.functions.Stable.sumDSql(wSql)} AS s
      |  FROM f LEFT JOIN m USING (b) CROSS JOIN tot
      |  WHERE f.doc_id % 2 = 1 GROUP BY f.doc_id)
      |SELECT sc.doc_id, n_tokens, d.label,
      |  round(log10(CAST(pdocs AS DOUBLE) / ndocs) + s + 1e-9, 4) AS score,
      |  (log10(CAST(pdocs AS DOUBLE) / ndocs) + s) > 0.0 AS pred
      |FROM sc JOIN d ON sc.doc_id = d.doc_id CROSS JOIN dt
      |ORDER BY sc.doc_id""".stripMargin
  }

  val nbQuality: QuerySpec = {
    val thr = 300L
    QuerySpec.sql(
      "q166_nb_quality",
      nbOracleSql(thr, "doc_id % 2 = 0")
    ) { (spark, dir) =>
      import graft.operators.QualityClassifier
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"), (col("n_chars") >= thr).as("label"))
      val feats = QualityClassifier.features(docs, "doc_id", "text")
        .transform(graft.CacheScope.cache)
      val labels = docs.select(col("doc_id"), col("label"))
      val trF = feats.filter(col("doc_id") % 2 === 0)
      val model = QualityClassifier.train(trF, labels, "doc_id", "label")
      val tot = QualityClassifier.classTotals(trF, labels, "doc_id", "label")
      val dt = labels.filter(col("doc_id") % 2 === 0)
        .agg(sum(when(col("label"), 1L).otherwise(0L)).as("pdocs"),
          sum(when(col("label"), 0L).otherwise(1L)).as("ndocs"))
      val prior = log10(col("pdocs").cast("double") / col("ndocs"))
      QualityClassifier
        .score(feats.filter(col("doc_id") % 2 === 1), model, tot, "doc_id")
        .join(labels, "doc_id").crossJoin(broadcast(dt))
        .select(col("doc_id"), col("n_tokens"), col("label"),
          round(prior + col("s") + lit(1e-9), 4).as("score"),
          (prior + col("s") > 0.0).as("pred"))
        .orderBy(col("doc_id"))
    }
  }

  /** Distributed BPE tokenizer training ([[graft.operators.BpeTrainer]])
    * — three merge rounds learned from the corpus and applied to the
    * vocabulary; output is the final per-word segmentation plus the
    * learned merge table (as constant columns, so a different merge
    * DECISION in either engine breaks the hash even where segmentations
    * happen to agree). All-integer statistics with lexicographic
    * tie-breaks — no float surface at all — so the oracle replays the
    * whole train loop as static SQL: per round, a pair-count CTE, a
    * 1-row argmax CTE, and a `list_reduce` string fold applying the
    * merge (bit-parallel to the Spark-side `aggregate` fold; the Spark
    * driver holds only the O(rounds) merge decisions, the
    * [[graft.operators.CentroidState]] contract).
    */
  /** Shared oracle fragments for q169/q196: the BPE train loop — per
    * round a pair-count CTE (`b$r`, the 1-row argmax decision) and a
    * `list_reduce` merge-application CTE (`s$r`) — ONE copy so the
    * encode gate cannot drift from the training it replays (the
    * `componentCtesSql` rationale). Assumes `s0(word, cnt, seq)` is in
    * scope; ends with `s$rounds` holding the final segmentations.
    */
  private def bpePairCte(src: String, b: String): String =
    s"""pp$b AS (SELECT cnt, unnest([{'x': toks[i], 'y': toks[i+1]}
      |    FOR i IN range(1, len(toks))]) AS pr
      |  FROM (SELECT cnt, string_split(seq, ' ') AS toks FROM $src)),
      |$b AS (SELECT pr.x AS mx, pr.y AS my, CAST(sum(cnt) AS BIGINT) AS mc
      |  FROM pp$b GROUP BY 1, 2 ORDER BY sum(cnt) DESC, pr.x, pr.y LIMIT 1)""".stripMargin

  private def bpeMergeCte(prev: String, b: String, out: String): String =
    s"""$out AS (SELECT word, cnt,
      |  list_reduce(list_prepend('', string_split(seq, ' ')),
      |    (acc, t) -> CASE WHEN acc != '' AND (acc = mx OR ends_with(acc, ' ' || mx)) AND t = my
      |      THEN substr(acc, 1, length(acc) - length(mx)) || mx || my
      |      ELSE CASE WHEN acc = '' THEN t ELSE acc || ' ' || t END END) AS seq
      |  FROM $prev CROSS JOIN $b)""".stripMargin

  private def bpeRoundsCtes(rounds: Int): String =
    (1 to rounds).map { r =>
      bpePairCte(s"s${r - 1}", s"b$r") + ",\n" +
        bpeMergeCte(s"s${r - 1}", s"b$r", s"s$r")
    }.mkString(",\n")

  val bpeTrain: QuerySpec = {
    val rounds = 3
    val roundsCtes = bpeRoundsCtes(rounds)
    val mergeCols = (1 to rounds)
      .map(r => s"b$r.mx || b$r.my AS merge$r").mkString(", ")
    val joins = (1 to rounds).map(r => s"CROSS JOIN b$r").mkString(" ")
    QuerySpec.sql(
      "q169_bpe_train",
      s"""WITH ex AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\\s+'), x -> x != '')) AS word
        |  FROM documents),
        |w AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM ex GROUP BY word),
        |s0 AS (SELECT word, cnt,
        |  array_to_string(string_split(word, ''), ' ') AS seq FROM w),
        |$roundsCtes
        |SELECT s$rounds.word, s$rounds.cnt, s$rounds.seq, $mergeCols
        |FROM s$rounds $joins
        |ORDER BY s$rounds.cnt DESC, s$rounds.word""".stripMargin
    ) { (spark, dir) =>
      import graft.operators.BpeTrainer
      val docs = Tables.load(spark, dir, "documents")
      val (merges, seqs) = BpeTrainer.train(docs, "text", rounds)
      require(merges.length == rounds, s"expected $rounds merges")
      val mergeCols = merges.zipWithIndex.map { case (m, i) =>
        lit(m.x + m.y).as(s"merge${i + 1}")
      }
      seqs.select(col("word") +: col("cnt") +: col("seq") +: mergeCols: _*)
        .orderBy(col("cnt").desc, col("word"))
    }
  }

  /** Corpus-wide BPE ENCODE with the q169-trained merge table
    * ([[graft.operators.BpeTrainer.encode]]) — the apply half of the
    * tokenizer story: training runs once, encoding runs on every
    * document forever after. The merges replay over the VOCABULARY
    * (3 fold projections over distinct words), and the corpus-sized
    * work is one explode + word-instance equi-join against the
    * per-word segmentation + a partial-aggregated per-doc rollup — at
    * 100 TB the vocabulary side is sublinear in corpus size and the
    * instance join co-partitions on `word` (broadcast under AQE when
    * the vocabulary fits). Output is per-document word instances, BPE
    * token count, and fertility (tokens per word — the statistic
    * tokenizer evaluations report); the oracle replays the ENTIRE
    * chain, training included, through the shared q169 CTEs, so a
    * divergent merge decision in either engine breaks the hash even
    * where totals happen to agree.
    */
  val bpeEncode: QuerySpec = {
    val rounds = 3
    QuerySpec.sql(
      "q196_bpe_encode",
      s"""WITH ex AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\\s+'), x -> x != '')) AS word
        |  FROM documents),
        |w AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM ex GROUP BY word),
        |s0 AS (SELECT word, cnt,
        |  array_to_string(string_split(word, ''), ' ') AS seq FROM w),
        |${bpeRoundsCtes(rounds)},
        |wt AS (SELECT word,
        |  CAST(len(string_split(seq, ' ')) AS BIGINT) AS wt FROM s$rounds),
        |inst AS (SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\\s+'), x -> x != '')) AS word
        |  FROM documents)
        |SELECT inst.doc_id, count(*) AS n_words,
        |  CAST(sum(wt.wt) AS BIGINT) AS n_bpe_tokens,
        |  round(CAST(sum(wt.wt) AS DOUBLE) / count(*) + 1e-9, 4) AS fertility
        |FROM inst JOIN wt ON inst.word = wt.word
        |GROUP BY inst.doc_id
        |ORDER BY inst.doc_id""".stripMargin
    ) { (spark, dir) =>
      import graft.operators.BpeTrainer
      val docs = Tables.load(spark, dir, "documents")
      val (merges, _) = BpeTrainer.train(docs, "text", rounds)
      require(merges.length == rounds, s"expected $rounds merges")
      BpeTrainer.encode(docs, "doc_id", "text", merges)
        .orderBy(col("doc_id"))
    }
  }

  /** Persisted tokenizer ARTIFACT lifecycle
    * ([[graft.operators.BpeTrainer.writeMerges]]/`readMerges`): the
    * production split q196 folds together — the tokenizer trains ONCE
    * on its own split (even doc_ids here), ships as an O(rounds)-row
    * merge table through the staged publish, and a later job loads the
    * stored artifact to encode the WHOLE corpus, training-split words
    * and never-seen words alike (BPE merges apply to any word — the
    * open-vocabulary property that makes subword tokenizers shippable).
    * The oracle replays BOTH chains: merge decisions induced over the
    * training split's vocabulary, then those frozen decisions folded
    * over the FULL corpus vocabulary — a drifted decision or a
    * stale-artifact read breaks the hash.
    */
  val bpeArtifact: QuerySpec = {
    val rounds = 3
    val applyCtes = (1 to rounds)
      .map(r => bpeMergeCte(s"a${r - 1}", s"b$r", s"a$r")).mkString(",\n")
    QuerySpec.sql(
      "q200_bpe_artifact",
      s"""WITH ex AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\\s+'), x -> x != '')) AS word
        |  FROM documents WHERE doc_id % 2 = 0),
        |w AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM ex GROUP BY word),
        |s0 AS (SELECT word, cnt,
        |  array_to_string(string_split(word, ''), ' ') AS seq FROM w),
        |${bpeRoundsCtes(rounds)},
        |exf AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\\s+'), x -> x != '')) AS word
        |  FROM documents),
        |wf AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM exf GROUP BY word),
        |a0 AS (SELECT word, cnt,
        |  array_to_string(string_split(word, ''), ' ') AS seq FROM wf),
        |$applyCtes,
        |wt AS (SELECT word,
        |  CAST(len(string_split(seq, ' ')) AS BIGINT) AS wt FROM a$rounds),
        |inst AS (SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\\s+'), x -> x != '')) AS word
        |  FROM documents)
        |SELECT inst.doc_id, count(*) AS n_words,
        |  CAST(sum(wt.wt) AS BIGINT) AS n_bpe_tokens,
        |  round(CAST(sum(wt.wt) AS DOUBLE) / count(*) + 1e-9, 4) AS fertility
        |FROM inst JOIN wt ON inst.word = wt.word
        |GROUP BY inst.doc_id
        |ORDER BY inst.doc_id""".stripMargin
    ) { (spark, dir) =>
      import graft.operators.BpeTrainer
      val docs = Tables.load(spark, dir, "documents")
      val (merges, _) =
        BpeTrainer.train(docs.filter(col("doc_id") % 2 === 0), "text", rounds)
      require(merges.length == rounds, s"expected $rounds merges")
      val root = graft.Scratch.fresh("q200") + "/tokenizer"
      BpeTrainer.writeMerges(spark, merges, root)
      BpeTrainer.encode(docs, "doc_id", "text",
          BpeTrainer.readMerges(spark, root))
        .orderBy(col("doc_id"))
    }
  }

  /** Persisted quality-model LIFECYCLE
    * ([[graft.operators.QualityClassifier.writeModel]]/`appendModel`/
    * `forgetModel`/`scoreIndexed`) — the index-maintenance story for the
    * LEARNED filter: NB state is integer counts, so admission of a
    * labeled delta is O(delta) count addition and forgetting a doc is
    * EXACT O(|doc|) unlearning (count subtraction) — the model after
    * write(base) → append(delta) → forget(d) is bit-identical to one
    * trained fresh on the surviving set, which is precisely what the
    * oracle replays (the q160/q153/q157 lifecycle-invisibility contract,
    * here for a MODEL: right-to-be-forgotten reaches the filter itself,
    * not just the corpus — a gradient-trained filter would retrain).
    * Both state tables (≤1024-row counts + 1-row totals) publish as one
    * snapshot version, so serving never sees a half-updated model.
    */
  val nbMaintained: QuerySpec = {
    val thr = 300L
    QuerySpec.sql(
      "q170_nb_maintained",
      nbOracleSql(thr, "doc_id % 2 = 0 AND doc_id % 20 <> 0")
    ) { (spark, dir) =>
      import graft.operators.QualityClassifier
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"), (col("n_chars") >= thr).as("label"))
      val feats = QualityClassifier.features(docs, "doc_id", "text")
        .transform(graft.CacheScope.cache)
      val labels = docs.select(col("doc_id"), col("label"))
      val idx = graft.Scratch.fresh("q170") + "/nbmodel"
      QualityClassifier.writeModel(idx,
        feats.filter(col("doc_id") % 4 === 0),
        labels.filter(col("doc_id") % 4 === 0), "doc_id", "label")
      QualityClassifier.appendModel(spark, idx,
        feats.filter(col("doc_id") % 4 === 2),
        labels.filter(col("doc_id") % 4 === 2), "doc_id", "label")
      QualityClassifier.forgetModel(spark, idx,
        feats.filter(col("doc_id") % 20 === 0),
        labels.filter(col("doc_id") % 20 === 0), "doc_id", "label")
      QualityClassifier.scoreIndexed(spark, idx,
          feats.filter(col("doc_id") % 2 === 1), "doc_id")
        .join(labels, "doc_id")
        .select(col("doc_id"), col("n_tokens"), col("label"),
          round(col("prior") + col("s") + lit(1e-9), 4).as("score"),
          (col("prior") + col("s") > 0.0).as("pred"))
        .orderBy(col("doc_id"))
    }
  }

  /** Interpolated BIGRAM language-model scoring — the KenLM-ish rung
    * above q130's unigram LM (CCNet filters on n-gram LM perplexity, not
    * unigram): `p(w₂|w₁) = λ·c(w₁w₂)/c(w₁·) + (1−λ)·c(w₂)/N`, per-doc
    * average log₁₀ probability over bigram INSTANCES. Three
    * map-side-combinable groupBys build the model (bigram counts,
    * context totals, unigram counts); scoring joins instances to the
    * model on the bigram key — at 100 TB the bigram table is too big to
    * broadcast, and this equi-join co-partitions both sides on (w1, w2)
    * in ONE exchange each (the fixture sizes broadcast under AQE).
    * Per-doc sums ride the decimal grid, so float log10s still
    * hash-match the oracle's replay.
    */
  val bigramScore: QuerySpec = {
    val lambda = "0.75"
    val FluentLogProb = -2.0
    QuerySpec.sql(
      "q171_bigram_lm",
      s"""WITH t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS toks
        |  FROM documents),
        |bg AS (SELECT doc_id, pr.w1 AS w1, pr.w2 AS w2
        |  FROM (SELECT doc_id, unnest([{'w1': toks[i], 'w2': toks[i+1]}
        |          FOR i IN range(1, len(toks))]) AS pr FROM t)),
        |u AS (SELECT tok, CAST(count(*) AS BIGINT) AS cu
        |  FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok),
        |n AS (SELECT CAST(sum(cu) AS BIGINT) AS total FROM u),
        |b AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY 1, 2),
        |cx AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS ctx FROM b GROUP BY 1),
        |lp AS (
        |  SELECT g.doc_id,
        |    log10($lambda * (CAST(cb AS DOUBLE) / ctx)
        |      + (1.0 - $lambda) * (CAST(cu AS DOUBLE) / total)) AS logp
        |  FROM bg g JOIN b USING (w1, w2) JOIN cx USING (w1)
        |    JOIN u ON u.tok = g.w2 CROSS JOIN n),
        |d AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    ${graft.functions.Stable.sumDSql("logp")} / count(*) AS avg_logp
        |  FROM lp GROUP BY doc_id)
        |SELECT doc_id, n_bigrams,
        |  round(avg_logp + 1e-9, 4) AS avg_logp,
        |  avg_logp < $FluentLogProb AS is_disfluent
        |FROM d ORDER BY doc_id""".stripMargin
    ) { (spark, dir) =>
      val t = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .transform(graft.CacheScope.cache)
      // CASE guard: sequence(1, 0) descends, so sub-2-token docs need the
      // explicit no-bigrams branch (typed empty array for CASE coercion)
      val bg = t.select(col("doc_id"), explode(expr(
          """CASE WHEN size(toks) < 2
            |  THEN cast(array() AS array<struct<w1: string, w2: string>>)
            |  ELSE transform(sequence(1, size(toks) - 1),
            |    i -> struct(element_at(toks, i) AS w1,
            |                element_at(toks, i + 1) AS w2)) END""".stripMargin))
          .as("pr"))
        .select(col("doc_id"), col("pr.w1").as("w1"), col("pr.w2").as("w2"))
        .transform(graft.CacheScope.cache)
      val u = t.select(explode(col("toks")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cu"))
        .transform(graft.CacheScope.cache)
      val n = u.agg(sum(col("cu")).as("total"))
      val b = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
        .transform(graft.CacheScope.cache)
      val cx = b.groupBy(col("w1")).agg(sum(col("cb")).as("ctx"))
      val lam = lambda.toDouble
      val logp = log10(lit(lam) * (col("cb").cast("double") / col("ctx"))
        + lit(1.0 - lam) * (col("cu").cast("double") / col("total")))
      val avgLogp = graft.functions.Stable.sumD(logp) / count(lit(1))
      bg.join(broadcast(b), Seq("w1", "w2"))
        .join(broadcast(cx), Seq("w1"))
        .join(broadcast(u.withColumnRenamed("tok", "w2")), Seq("w2"))
        .crossJoin(broadcast(n))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_bigrams"),
          avgLogp.as("avg_logp"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_logp") + lit(1e-9), 4).as("avg_logp"),
          (col("avg_logp") < FluentLogProb).as("is_disfluent"))
        .orderBy(col("doc_id"))
    }
  }

  /** One-pass curation MANIFEST with reason codes — the Dolma/CCNet
    * "filter pipeline" composed as a single scan: language gate (q20's
    * function-word argmax), length gate, stopword-ratio gate (q19),
    * 3-gram-repetition gate (q71), each surfaced as its own flag plus
    * `kept` and the FIRST failing rule as `reason` (what production
    * pipelines log for filter-rate dashboards and appeal/debug). Every
    * rule is a scalar expression over one tokenization — zero joins,
    * zero shuffles except the presentation sort; at 100 TB this is one
    * codegen'd map stage emitting the keep/drop decision stream, and
    * adding a rule never adds a pass over the data.
    */
  val curationManifest: QuerySpec = {
    val (minToks, minStop, maxDupGram) = (20L, 0.05, 0.2)
    QuerySpec.sql(
      "q172_curation_manifest",
      s"""WITH t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t != '') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, toks,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)] END AS grams
        |  FROM t),
        |r AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CASE WHEN len(list_filter(toks, t -> list_contains(['the','a','an','and','of','to','in','is'], t))) = 0
        |           AND len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','ein','zu','von'], t))) = 0
        |           AND len(list_filter(toks, t -> list_contains(['le','la','les','et','est','un','une','de'], t))) = 0
        |           AND len(list_filter(toks, t -> list_contains(['el','la','los','las','y','es','un','una'], t))) = 0 THEN 'und'
        |         WHEN len(list_filter(toks, t -> list_contains(['the','a','an','and','of','to','in','is'], t))) >= len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','ein','zu','von'], t)))
        |           AND len(list_filter(toks, t -> list_contains(['the','a','an','and','of','to','in','is'], t))) >= len(list_filter(toks, t -> list_contains(['le','la','les','et','est','un','une','de'], t)))
        |           AND len(list_filter(toks, t -> list_contains(['the','a','an','and','of','to','in','is'], t))) >= len(list_filter(toks, t -> list_contains(['el','la','los','las','y','es','un','una'], t))) THEN 'en'
        |         WHEN len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','ein','zu','von'], t))) >= len(list_filter(toks, t -> list_contains(['le','la','les','et','est','un','une','de'], t)))
        |           AND len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','ein','zu','von'], t))) >= len(list_filter(toks, t -> list_contains(['el','la','los','las','y','es','un','una'], t))) THEN 'de'
        |         WHEN len(list_filter(toks, t -> list_contains(['le','la','les','et','est','un','une','de'], t))) >= len(list_filter(toks, t -> list_contains(['el','la','los','las','y','es','un','una'], t))) THEN 'fr'
        |         ELSE 'es' END AS pred_lang,
        |    CAST(len(list_filter(toks, t -> list_contains(['the','a','an','and','of','to','in','is'], t))) AS DOUBLE) / greatest(len(toks), 1) AS stop_ratio,
        |    1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / greatest(len(grams), 1) AS dup_gram_frac
        |  FROM g)
        |SELECT doc_id, n_tokens, pred_lang,
        |  round(stop_ratio + 1e-9, 4) AS stop_ratio,
        |  round(dup_gram_frac + 1e-9, 4) AS dup_gram_frac,
        |  pred_lang = 'en' AND n_tokens >= $minToks
        |    AND stop_ratio >= $minStop AND dup_gram_frac <= $maxDupGram AS kept,
        |  CASE WHEN pred_lang <> 'en' THEN 'lang'
        |       WHEN n_tokens < $minToks THEN 'length'
        |       WHEN stop_ratio < $minStop THEN 'stopwords'
        |       WHEN dup_gram_frac > $maxDupGram THEN 'repetition'
        |       ELSE 'ok' END AS reason
        |FROM r ORDER BY doc_id""".stripMargin
    ) { (spark, dir) =>
      val toks = col("toks")
      val gramsExpr = when(size(toks) < 3, array(array_join(toks, " ")))
        .otherwise(transform(sequence(lit(1), size(toks) - 2),
          i => array_join(slice(toks, i, lit(3)), " ")))
      val (sEn, sDe, sFr, sEs) = Text.langScores(toks)
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .withColumn("grams", gramsExpr)
        .select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          Text.predictedLang(sEn, sDe, sFr, sEs).as("pred_lang"),
          (sEn.cast("double") / greatest(size(toks), lit(1)))
            .as("stop_ratio"),
          (lit(1.0) - size(array_distinct(col("grams"))).cast("double")
            / greatest(size(col("grams")), lit(1))).as("dup_gram_frac"))
        .select(col("doc_id"), col("n_tokens"), col("pred_lang"),
          round(col("stop_ratio") + lit(1e-9), 4).as("stop_ratio"),
          round(col("dup_gram_frac") + lit(1e-9), 4).as("dup_gram_frac"),
          (col("pred_lang") === "en" && col("n_tokens") >= minToks &&
            col("stop_ratio") >= minStop &&
            col("dup_gram_frac") <= maxDupGram).as("kept"),
          when(col("pred_lang") =!= "en", "lang")
            .when(col("n_tokens") < minToks, "length")
            .when(col("stop_ratio") < minStop, "stopwords")
            .when(col("dup_gram_frac") > maxDupGram, "repetition")
            .otherwise("ok").as("reason"))
        .orderBy(col("doc_id"))
    }
  }

  /** STREAMED maintenance of the persisted quality model — the
    * q119/q143/q150/q162 leg for the classifier family: the labeled
    * delta arrives as three real AvailableNow micro-batches
    * (`maxFilesPerTrigger=1`) and each `foreachBatch` folds its counts
    * into the persisted model
    * ([[graft.operators.QualityClassifier.appendModel]] — integer
    * addition through the staged publish). Count addition commutes, so
    * the model's end state is identical however the delta was sliced,
    * and the FULL-train-split oracle (q166's — base ∪ delta = all
    * evens) gates the streamed path: hash-equal held-out scores prove
    * micro-batching changed nothing about the served model.
    */
  val nbStreamed: QuerySpec = {
    val thr = 300L
    QuerySpec.sql(
      "q173_nb_stream",
      nbOracleSql(thr, "doc_id % 2 = 0")
    ) { (spark, dir) =>
      import graft.operators.QualityClassifier
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"), (col("n_chars") >= thr).as("label"))
      val feats = QualityClassifier.features(docs, "doc_id", "text")
        .transform(graft.CacheScope.cache)
      val labels = docs.select(col("doc_id"), col("label"))
      val root = graft.Scratch.fresh("q173")
      val idx = root + "/nbmodel"
      QualityClassifier.writeModel(idx,
        feats.filter(col("doc_id") % 4 === 0),
        labels.filter(col("doc_id") % 4 === 0), "doc_id", "label")
      // the delta replays as three REAL micro-batches
      graft.streaming.Replay.files(root, docs.filter(col("doc_id") % 4 === 2)
          .withColumn("wave", pmod(hash(col("doc_id")), lit(3))),
        "wave", 3) { (batch, _) =>
        QualityClassifier.appendModel(spark, idx,
          QualityClassifier.features(batch, "doc_id", "text"),
          batch.select(col("doc_id"), col("label")), "doc_id", "label")
      }
      QualityClassifier.scoreIndexed(spark, idx,
          feats.filter(col("doc_id") % 2 === 1), "doc_id")
        .join(labels, "doc_id")
        .select(col("doc_id"), col("n_tokens"), col("label"),
          round(col("prior") + col("s") + lit(1e-9), 4).as("score"),
          (col("prior") + col("s") > 0.0).as("pred"))
        .orderBy(col("doc_id"))
    }
  }

  /** PERCENTILE-gated per-source quality filtering — the FineWeb-style
    * calibration trick: raw quality scores aren't comparable across
    * sources (a mid-tier web page and a mid-tier paper score
    * differently), so each source keeps its own TOP fraction by
    * percent_rank instead of sharing one absolute cutoff. One keyed
    * window over the q19 composite score (rank ties broken by doc_id,
    * so the kept SET is engine-reproducible), then a per-source
    * admission summary: docs kept, the realized score cutoff, and the
    * token mass admitted — the knobs a mixing plan consumes. At 100 TB
    * this is one exchange on `source` + one combinable aggregation;
    * `(rank−1)/(n−1)` is exact rational arithmetic in both engines.
    */
  val percentileFilter: QuerySpec = {
    val keepFrac = 0.6
    QuerySpec.sql(
      "q180_percentile_filter",
      s"""WITH s AS (
        |  SELECT doc_id, source,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    100 * (0.4 * (CAST(len(list_filter(toks, t -> list_contains(['the','a','an','and','of','to','in','is'], t))) AS DOUBLE) / greatest(len(toks), 1))
        |         + 0.3 * least(len(toks), 200) / 200.0
        |         + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1))) AS score
        |  FROM (SELECT *, list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t != '') AS toks
        |        FROM documents)),
        |r AS (SELECT *, percent_rank() OVER (PARTITION BY source
        |    ORDER BY score DESC, doc_id) AS pr FROM s)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) FILTER (WHERE pr <= $keepFrac) AS BIGINT) AS n_kept,
        |  round(min(score) FILTER (WHERE pr <= $keepFrac) + 1e-9, 2) AS cutoff_score,
        |  CAST(sum(n_tokens) FILTER (WHERE pr <= $keepFrac) AS BIGINT) AS kept_tokens
        |FROM r GROUP BY source ORDER BY source""".stripMargin
    ) { (spark, dir) =>
      val toks = Text.tokens(col("text"))
      val base = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(toks).cast("long").as("n_tokens"),
          (Text.vocabHits(toks, Text.StopEn).cast("double")
            / greatest(size(toks), lit(1))).as("stop_ratio"),
          (size(array_distinct(toks)).cast("double")
            / greatest(size(toks), lit(1))).as("diversity"))
        .withColumn("score",
          lit(100) * (lit(0.4) * col("stop_ratio")
            + lit(0.3) * least(col("n_tokens"), lit(200L)) / lit(200.0)
            + lit(0.3) * col("diversity")))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("score").desc, col("doc_id"))
      val kept = col("pr") <= keepFrac
      base.withColumn("pr", percent_rank().over(w))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
          round(min(when(kept, col("score"))) + lit(1e-9), 2)
            .as("cutoff_score"),
          sum(when(kept, col("n_tokens"))).as("kept_tokens"))
        .orderBy(col("source"))
    }
  }

  val all: Seq[QuerySpec] =
    Seq(textStats, qualityScore, langId, fingerprint, vocabTop, tfidfTopTerms,
      docChunks, corpusMix, repetition, sequencePack, sequenceSpans,
      temperatureMix, mixMaterialize, unigramScore, bm25Index, bm25Streamed,
      bm25Health, bm25Versioned, piiRedact, nbQuality, bpeTrain, nbMaintained,
      bigramScore, curationManifest, nbStreamed, percentileFilter,
      phraseProbe, proximityProbe, bpeEncode, bpeArtifact)
}
