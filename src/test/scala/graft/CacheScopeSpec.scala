package graft

/** Pins the cache-scope contract (round-7): every cache an operator or
  * query creates internally registers in [[CacheScope]], so after a
  * query's output materializes and `releaseAll()` runs, NOTHING is left
  * in the Spark cache — a long-lived session running gate queries
  * back-to-back cannot accumulate MEMORY_AND_DISK entries. An operator
  * that adds a raw `.persist` without routing it through
  * `CacheScope.cache` (or `CentroidState.ensureCached`) fails this spec.
  *
  * The query list is every gate query whose implementation caches
  * internally (grep: `CacheScope.cache` / `ensureCached` reachable from
  * its operators); sf0.001 keeps the sweep cheap.
  */
class CacheScopeSpec extends SparkTestBase {

  private val cacheUsers = Seq(
    "q23_ngram_jaccard",   // DedupQueries: shingle + pair frames
    "q24_minhash_lsh",     // MinHashLSH.groups signature cache
    "q55_dedup_groups",    // MinHashLSH.nearDupPairs signature cache
    "q112_dedup_canonical", // same, through the canonical-pick chain
    "q58_ivf_ann",         // IvfAnn.search: corpus + query caches
    "q63_tfidf_top_terms", // TextQueries: token frame
    "q67_pq_ann",          // ProductQuantizer: corpus cache
    "q69_decontamination", // DedupQueries: shingle cache
    "q81_bloom_decon",     // SketchQueries: base + eval caches
    "q83_pq_refined",      // PQ shortlist + exact re-rank
    "q85_ivfpq_ann",       // IvfPq: corpus + query caches
    "q86_countmin_topk",   // token cache
    "q88_neardup_recall",  // SimilarityQueries sample cache
    "q89_ivf_recall",      // recallSweep: corpus + ground-truth caches
    "q92_hist_quantiles",  // lineitem + sketch caches
    "q100_hist_merge",     // sharded scan cache
    "q101_cms_merge",      // token cache
    "q103_mix_materialize", // TemperatureMix.plan per-source cache
    "q104_ivf_partitioned", // corpus + query/probe caches
    "q105_hist_stream",    // price-column cache
    "q106_hist_grouped_exact", // lineitem + grouped-sketch caches
    "q107_ivf_append",     // corpus cache + searchIndex probe cache
    "q111_cms_stream",     // doc + token caches
    "q114_semantic_dedup", // SemanticDedup assigned-frame cache
    "q117_ivf_drift",      // embeddings cache
    "q119_ivf_stream",     // embeddings cache + searchIndex probe cache
    "q120_curation_diff",  // token-stats cache
    "q121_ivf_retrain",    // embeddings + tagged-generation caches
    "q123_curation_decon", // shingled-base cache
    "q124_ivf_versioned",  // embeddings cache (two-version build)
    "q125_lsh_index_append", // docs + per-doc admission caches
    "q126_span_scrub",     // positioned-ngram + occurrence caches
    "q127_scrubbed_budget", // same, through the budget walk
    "q129_ivf_delete",     // corpus + materialized tombstone-phase caches
    "q130_unigram_lm",     // token-stream + model caches
    "q131_lsh_sequential", // docs + per-wave truncated stats caches
    "q132_ingest_cycle",   // docs cache through admission + manifests
    "q133_lsh_forget",     // docs + materialized tombstone-phase caches
    "q134_span_state",     // docs + scrub caches over the maintained state
    "q135_triplet_mining", // embeddings + scored-frame caches
    "q136_kcenter",        // sample cache across the greedy steps
    "q137_lsh_versioned",  // docs + wave-1 admission caches
    "q138_ivfpq_append",   // embeddings cache + writeIndex/searchIndex caches
    "q139_media_ann",      // IvfAnn.search corpus + query caches
    "q140_lsh_bucketed",   // docs + per-doc admission caches (bucketed probe)
    "q141_lsh_tiered",     // docs + per-wave truncated stats caches
    "q142_ivfpq_residual", // corpus + residual-frame + query caches
    "q143_lsh_stream",     // docs + per-micro-batch truncated stats caches
    "q144_ivfpq_residual_index", // embeddings + residual index/search caches
    "q145_lsh_rebucket",   // docs cache through the gated rebuild
    "q146_ivfpq_refined",  // embeddings + residual index/search caches
    "q147_ivfpq_retrain",  // embeddings + tagged caches through the gate
    "q148_ivfpq_versioned", // embeddings cache (two-version build)
    "q149_lsh_rollover_cycle", // docs + per-wave stats + hybrid band caches
    "q150_ivfpq_stream",   // embeddings cache + streamed append/search
    "q151_ivfpq_recall",   // corpus/residual/query/ground-truth caches
    "q152_sq_search",      // corpus cache through train + encode + score
    "q153_sq_index",       // embeddings cache through the index lifecycle
    "q154_bq_search",      // corpus cache through midrange train + pack
    "q155_bq_refined",     // corpus + Hamming-shortlist caches
    "q156_simhash_index",  // hashed-docs cache through write + 2 probes
    "q157_bq_index",       // embeddings + codes-shortlist caches
    "q158_bq_recall",      // ranked-exact + ground-truth caches
    "q159_ann_routed",     // shared ranked frame + calibration caches
    "q160_bm25_index",     // docs cache through write/append/forget/search
    "q162_bm25_stream",    // docs cache through streamed appends
    "q163_bm25_health",    // docs cache through the gated bucket growth
    "q164_bm25_versioned", // docs cache across both index versions
    "q166_nb_quality",     // token-feature cache (train + score reuse)
    "q167_containment",    // exploded-shingle + df-pruned caches
    "q168_mrl_refined",    // corpus cache + prefix-shortlist cache
    "q169_bpe_train",      // per-round segmentation caches
    "q170_nb_maintained",  // token-feature cache through the lifecycle
    "q171_bigram_lm",      // token/bigram/model caches
    "q173_nb_stream",      // token-feature cache through streamed appends
    "q174_mrl_recall",     // corpus + ground-truth caches across widths
    "q175_tier_routed",    // corpus + calibration-slice + gt caches
    "q177_neardup_pagerank", // shingle + edge + degree caches
    "q178_authority_canonical", // signature + pair + PR edge/degree caches
    "q179_wap_publish",    // poisoned-orders cache across the admissions
    "q181_topic_profile",  // embeddings + assignment caches
    "q182_hybrid_persisted", // embeddings + the vector leg's probe caches
    "q184_proximity_probe", // probed-position cache
    "q187_scd2_merge",     // shared change-log cache across build + merge
    "q188_crossmodal_rrf", // IvfAnn corpus + query caches on the media leg
    "q196_bpe_encode",     // per-round segmentation caches (train before encode)
    "q197_pack_lifecycle", // token-count frame cache across the three batches
    "q199_mmr_rerank",     // embeddings + shortlist caches across the rounds
    "q200_bpe_artifact",   // per-round segmentation caches (split-trained)
    "q201_pack_stream"     // token-count frame cache across staged batches
  )

  test("no engine cache survives releaseAll after a gate query materializes") {
    // start from a clean slate: an earlier suite's leftovers are not
    // this contract's concern
    CacheScope.releaseAll()
    spark.catalog.clearCache()
    val byName = SparkEntry.queries
    cacheUsers.foreach { name =>
      val fn = byName.getOrElse(name, fail(s"unknown gate query $name"))
      fn(spark, sfDir).count() // materialize like the gate does
      assert(CacheScope.activeCount > 0,
        s"$name registered no caches — drop it from this list " +
          "or its operators stopped caching")
      CacheScope.releaseAll()
      assert(CacheScope.activeCount === 0, name)
      val live = spark.sparkContext.getPersistentRDDs
      assert(live.isEmpty,
        s"$name leaked ${live.size} cache entr(ies) past releaseAll: " +
          live.values.map(_.name).mkString("; "))
    }
  }
}
