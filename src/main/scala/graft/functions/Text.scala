package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the training-data-pipeline tier
  * (north-star extensions beyond the reference's operator surface —
  * SURVEY.md §7 item 8): tokenization, portable content hashing,
  * stopword/quality ratios, and n-gram language scoring.
  *
  * Everything is a native Catalyst expression (higher-order array
  * functions — `transform`/`filter`/`aggregate` — stay codegen-friendly
  * and distribute trivially: per-row scalar work, no shuffle, no UDF
  * serialization boundary). Each helper has an exact DuckDB-SQL
  * equivalent used by the query oracles.
  */
object Text {

  /** Modulus for portable polynomial hashing. Prime < 2^30 so
    * `h*31 + codepoint` never exceeds 2^35 — safe in a BIGINT in both
    * Spark (silent wrap, never reached) and DuckDB (errors on wrap).
    */
  val HashP = 1000000007L

  /** Whitespace tokenization, lowercased, empty tokens dropped (Spark's
    * `split` keeps a trailing "" that DuckDB's `regexp_split_to_array`
    * does not — the filter makes both agree).
    */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** Portable polynomial rolling hash of a string:
    * `h := (h*31 + codepoint) mod HashP`, h0 = 0.
    * DuckDB equivalent:
    * `list_reduce(list_prepend(0::BIGINT, [ascii(c) FOR c IN
    *   string_split(s, '')]), (h, c) -> (h*31 + c) % 1000000007)`.
    *
    * Dispatches to the codegen [[graft.expressions.PolyHash]] kernel;
    * [[charHashHof]] is the pure-`functions._` reference implementation
    * (bit-identical, kept for the property tests).
    */
  def charHash(s: Column): Column =
    graft.expressions.NativeKernels.polyHash(s)

  /** DuckDB-SQL mirror of [[charHash]] over SQL expression `e` — the ONE
    * place the oracle-side hash is written, so every query's oracle stays
    * in lockstep with the kernel and [[HashP]].
    */
  def charHashSql(e: String): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(string_split($e, ''), c -> ascii(c)::BIGINT)), (h, c) -> (h * 31 + c) % $HashP)"

  def charHashHof(s: Column): Column =
    aggregate(
      filter(split(s, ""), c => c =!= ""),
      lit(0L),
      (h, c) => (h * lit(31L) + ascii(c).cast("long")) % lit(HashP))

  /** Order-insensitive content fingerprint: hash of the sorted distinct
    * token list (catches shuffled-word near-dups that a raw hash misses).
    */
  def contentFingerprint(text: Column): Column =
    charHash(array_join(array_sort(array_distinct(tokens(text))), " "))

  /** Count of occurrences of tokens present in `vocab`. Dispatches to
    * the codegen [[graft.expressions.VocabHits]] kernel; [[vocabHitsHof]]
    * is the pure-`functions._` reference (bit-identical, kept for tests).
    */
  def vocabHits(toks: Column, vocab: Seq[String]): Column =
    graft.expressions.NativeKernels.vocabHits(toks, vocab)

  def vocabHitsHof(toks: Column, vocab: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(vocab))).cast("long")

  /** BPE-ish subword count: runs of letters, runs of digits, and single
    * other non-space chars — the standard pre-tokenizer regex shape.
    */
  val BpePattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0))).cast("long")

  /** Stopword lists used for quality scoring and language ID. Tiny
    * hand-picked function-word sets — the standard n-gram/function-word
    * language-ID heuristic.
    */
  val StopEn = Seq("the", "a", "an", "and", "of", "to", "in", "is")
  val StopDe = Seq("der", "die", "das", "und", "ist", "ein", "zu", "von")
  val StopFr = Seq("le", "la", "les", "et", "est", "un", "une", "de")
  val StopEs = Seq("el", "la", "los", "las", "y", "es", "un", "una")

  /** Language scores + deterministic argmax (tie order en>de>fr>es,
    * 'und' when every score is zero).
    */
  def langScores(toks: Column): (Column, Column, Column, Column) =
    (vocabHits(toks, StopEn), vocabHits(toks, StopDe),
      vocabHits(toks, StopFr), vocabHits(toks, StopEs))

  def predictedLang(sEn: Column, sDe: Column, sFr: Column, sEs: Column): Column =
    when(sEn === 0 && sDe === 0 && sFr === 0 && sEs === 0, "und")
      .when(sEn >= sDe && sEn >= sFr && sEn >= sEs, "en")
      .when(sDe >= sFr && sDe >= sEs, "de")
      .when(sFr >= sEs, "fr")
      .otherwise("es")

  /** PII redaction rules: `(pattern, replacement-token)` applied in list
    * order. Patterns stay inside the RE2 ∩ java.util.regex common subset
    * (no backreferences, no lookaround) so the Spark scan and the DuckDB
    * oracle match byte-identically. Production deployments extend this
    * list per locale/policy; the mechanism — a fold of codegen'd
    * `regexp_replace` kernels, one scan, zero shuffle — is what scales.
    */
  val PiiRules: Seq[(String, String)] = Seq(
    // (?i): email locals/domains are case-insensitive in the wild —
    // a lowercase-only class would leave 'User@Mail.example.com'
    // unredacted and redact only the lowercase TAIL of mixed-case
    // locals, leaking the rest. The inline flag is part of the RE2 ∩
    // java.util.regex common subset, so oracle parity holds.
    "(?i)[a-z0-9._]+@[a-z0-9]+(\\.[a-z0-9]+)+" -> "<EMAIL>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    "\\b\\d{3}-\\d{4}\\b" -> "<PHONE>")

  /** Count matches per rule BEFORE redaction (`regexp_extract_all` group
    * 0 = whole match; DuckDB twin `len(regexp_extract_all(e, pat))`).
    */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  /** Apply every [[PiiRules]] entry left-to-right. Spark's
    * `regexp_replace` is global, matching DuckDB's `'g'` flag.
    */
  def redactPii(text: Column, rules: Seq[(String, String)] = PiiRules): Column =
    rules.foldLeft(text) { case (c, (pat, tok)) =>
      regexp_replace(c, lit(pat), lit(tok))
    }

  /** DuckDB twins, kept textually parallel to the Spark fold. */
  def piiCountSql(e: String, pattern: String): String =
    s"CAST(len(regexp_extract_all($e, '$pattern')) AS BIGINT)"

  def redactPiiSql(e: String, rules: Seq[(String, String)] = PiiRules): String =
    rules.foldLeft(e) { case (s, (pat, tok)) =>
      s"regexp_replace($s, '$pat', '$tok', 'g')"
    }
}
