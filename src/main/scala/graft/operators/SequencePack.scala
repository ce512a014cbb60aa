package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequence PACKING — the training-data step after chunking/curation:
  * concatenate the (deduped, filtered, ordered) token stream and cut it
  * into fixed-length model sequences, letting documents CROSS sequence
  * boundaries. This is the standard "concat-and-chunk" LLM pretraining
  * layout (one sequence = `seqLen` tokens of back-to-back documents,
  * no padding except the final partial sequence) — distinct from q65's
  * per-document chunking, which never crosses documents and pads every
  * tail.
  *
  * Relation to q87/q90 (`TextQueries.sequencePack`/`sequenceSpans`):
  * those pack PER HASH SHARD — 8 independent token streams, each with
  * its own sequence numbering — because a shard-partitioned window was
  * the only scalable cumsum available. That changes the layout
  * semantics (sequence ids are (shard, seq) pairs; stream order is
  * shard-local). This operator keeps the SINGLE global stream a
  * trainer actually consumes — one totally-ordered sequence space —
  * and gets scalability from [[PrefixSum]] instead of from weakening
  * the contract.
  *
  * The whole operator is arithmetic on ONE number per document: its
  * exclusive/inclusive global token offset `[start_off, end_off)` in
  * the concatenated stream, which [[PrefixSum.running]] computes as a
  * distributed two-phase scan (no single-partition window). From the
  * offsets, the sequences a document overlaps are
  * `start_off div L .. (end_off - 1) div L` — a codegen
  * `explode(sequence(...))` fan-out of `1 + ceil(n/L)` rows max per
  * document, embarrassingly parallel, no further shuffle. Every token
  * is assigned to exactly one (sequence, position): Σ tok_len = Σ
  * n_tokens by construction, and per-sequence fills are exactly
  * `seqLen` except the last — the invariants the q194 manifest and
  * `SequencePackSpec` pin.
  *
  * At 100 TB: cost = one PrefixSum (one data-sized exchange) + a scan
  * stage; the fan-out adds ~n_tokens/L rows. Packing order is the
  * caller's key (here doc_id; an epoch shuffle feeds a shuffled unique
  * rank — the composition q113 establishes).
  */
object SequencePack {

  /** Per-(sequence, document) contribution rows for packing `docs` in
    * ascending `idCol` order into `seqLen`-token sequences.
    *
    * Output columns (beyond `idCol` and `nTokCol`):
    *  - `seq_id`     — 0-based sequence index
    *  - `start_off`/`end_off` — the document's global token span
    *  - `tok_start`  — the contribution's offset WITHIN the sequence
    *  - `tok_len`    — tokens this document contributes to this sequence
    *
    * Empty documents (`nTokCol` = 0) occupy no tokens and emit no rows.
    */
  def pack(docs: DataFrame, idCol: String, nTokCol: String, seqLen: Int,
      buckets: Int = 32, base: Long = 0L): DataFrame = {
    require(seqLen >= 1, s"SequencePack.pack needs seqLen >= 1, got $seqLen")
    require(base >= 0, s"SequencePack.pack needs base >= 0, got $base")
    val withEnd = PrefixSum.running(
        docs.filter(col(nTokCol) > 0), idCol, nTokCol, "end_off", buckets)
      // a non-zero base resumes an existing stream: offsets continue
      // from the persisted tail, BEFORE the span arithmetic, so a batch
      // landing mid-sequence fills that sequence rather than opening a
      // fresh one
      .withColumn("end_off", col("end_off") + base)
    val spanned = withEnd
      .withColumn("start_off", col("end_off") - col(nTokCol).cast("long"))
      // integer floor-division on non-negative longs (matches SQL `//`)
      .withColumn("__first", expr(s"start_off DIV $seqLen"))
      .withColumn("__last", expr(s"(end_off - 1) DIV $seqLen"))
    val segStart = greatest(col("start_off"), col("seq_id") * seqLen)
    val segEnd = least(col("end_off"), (col("seq_id") + 1) * seqLen)
    spanned
      .select(col(idCol), col(nTokCol), col("start_off"), col("end_off"),
        explode(sequence(col("__first"), col("__last"))).as("seq_id"))
      .select(col("seq_id"), col(idCol), col(nTokCol),
        col("start_off"), col("end_off"),
        (segStart - col("seq_id") * seqLen).as("tok_start"),
        (segEnd - segStart).as("tok_len"))
  }

  // ---- persisted packing lifecycle ---------------------------------
  //
  // A production packing run is INCREMENTAL: yesterday's corpus is
  // already packed and shipped; today's batch must continue the stream,
  // not repack it. The persisted layout holds the contribution rows
  // plus a one-row meta (seqLen/buckets — immutable parameters, the
  // TextIndex-modulus pattern). There is NO separate running-total
  // state to keep consistent with the data: the stream tail IS
  // max(end_off) of the stored rows and the admitted-key frontier is
  // max(id) — both derived from the contributions themselves via
  // column-pruned max aggregates (two long columns read, partial-agg
  // to one row per partition; footer-cheap where parquet aggregate
  // pushdown applies), so a crash between "data landed" and "state
  // updated" cannot exist. Appends
  // require strictly increasing keys (the same monotone contract a
  // stream's source order gives for free); the batch is O(delta) work
  // and lands as new files — stored sequences are never rewritten, and
  // a batch landing mid-sequence fills that sequence's tail exactly.

  /** The persisted lifecycle's admission contract: no zero-token rows.
    * The frontier is derived from stored CONTRIBUTION rows, and empty
    * documents emit none — admitting one would leave its id outside the
    * frontier, letting a later batch silently re-admit at-or-below it
    * and break the incremental-equals-one-shot invariant. Empty docs
    * carry no tokens to pack anyway; the caller filters them upstream,
    * and this guard (one partial-aggregated count) turns a violation
    * into a fail-fast instead of silent divergence.
    */
  private def requireNoEmptyDocs(docs: DataFrame, nTokCol: String,
      op: String): Unit = {
    val nEmpty = docs.filter(col(nTokCol) <= 0).count()
    require(nEmpty == 0,
      s"$op admits only n_tokens > 0 rows (the stored frontier cannot " +
        s"cover token-less ids); got $nEmpty empty docs — filter them " +
        "upstream")
  }

  /** Pack `docs` from offset 0 and persist as the stream's base
    * (one commit — an interrupted write leaves any previous layout
    * serving). Input must be empty-doc-free ([[requireNoEmptyDocs]]).
    */
  def writePacked(docs: DataFrame, idCol: String, nTokCol: String,
      seqLen: Int, dir: String, buckets: Int = 32): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    requireNoEmptyDocs(docs, nTokCol, "writePacked")
    val s = graft.sources.Tables.root(spark, dir)
    graft.sources.Tables.commit(s, "write") { tx =>
      tx.remove(s.files)
      tx.put(s.table("contrib"), pack(docs, idCol, nTokCol, seqLen, buckets))
      tx.put(s.table("meta"),
        Seq((seqLen, buckets)).toDF("seq_len", "buckets").coalesce(1))
    }
  }

  /** Continue the persisted stream with `delta` (empty-doc-free, all
    * keys strictly above the stored frontier — fails fast otherwise).
    * O(delta): two column-pruned tail aggregates plus packing and
    * appending the batch's contribution rows in one commit, so a
    * crash leaves the batch wholly absent or wholly visible; a retry of
    * a committed batch trips the monotone-key frontier check loudly
    * rather than silently double-admitting. What the derived-from-data
    * tail ELIMINATES is the other, quieter failure: a separate running
    * total drifting from the rows actually stored.
    */
  def appendPacked(delta: DataFrame, idCol: String, nTokCol: String,
      dir: String): Unit = {
    val s = graft.sources.Tables.root(delta.sparkSession, dir)
    val meta = s.table("meta").df.collect().head
    val (seqLen, buckets) = (meta.getInt(0), meta.getInt(1))
    val tail = s.table("contrib").df
      .agg(max(col("end_off")).as("t"), max(col(idCol)).as("k"))
      .collect().head
    // an all-empty-docs base leaves no contributions: the stream starts
    // at 0 and every key is above the (absent) frontier
    val (base, frontier) =
      if (tail.isNullAt(0)) (0L, Long.MinValue)
      else (tail.getLong(0), tail.getLong(1))
    // ONE partial-aggregated pass over the batch serves both guards:
    // the empty-doc count (requireNoEmptyDocs' check, fused here — a
    // per-micro-batch extra scan is pure job overhead) and the
    // monotone-frontier minimum
    val low = delta.agg(min(col(idCol)),
      sum(when(col(nTokCol) <= 0, 1L).otherwise(0L))).collect().head
    // an empty batch (idle micro-batch, empty range) is a no-op, not a
    // contract violation — streams deliver them routinely
    if (low.isNullAt(0)) return
    require(low.getLong(1) == 0L,
      s"appendPacked admits only n_tokens > 0 rows (the stored frontier " +
        s"cannot cover token-less ids); got ${low.getLong(1)} empty docs " +
        "— filter them upstream")
    require(low.getLong(0) > frontier,
      s"appendPacked needs all delta keys above the stored frontier " +
        s"$frontier (stream order is monotone by contract); got min " +
        s"${low.getLong(0)}")
    graft.sources.Tables.commit(s, "append")(_.put(s.table("contrib"),
      pack(delta, idCol, nTokCol, seqLen, buckets, base)))
  }

  /** The stream's contribution rows (all batches). */
  def readPacked(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.sources.Tables.read(spark, s"$dir/contrib")
}
