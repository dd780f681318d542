package graft

/** Bench membership — the single source of truth for WHICH queries
  * [[Bench]] times, kept apart from the bench main so PlanAuditSpec
  * can assert that every benched name is a registered, plan-audited
  * query: [[GraftSession]] silences WindowExec warnings, so the plan
  * ratchet must provably cover everything the bench runs or a
  * bench-only path could regress behind the silenced logger.
  */
object BenchSets {

  /** Headline set: the 10 reference analytical queries — stable
    * round-over-round so BENCH_r{N} totals stay comparable.
    */
  val headline: Seq[String] = Seq(
    "q1a_yoy_growth", "q1b_seasonal_index", "q2a_grouping_sets",
    "q2b_rollup", "q3a_rank_ntile", "q3b_moving_avg_ytd",
    "q4a_semi_join_chain", "q4b_price_vs_brand", "q5a_top_ltv",
    "q5b_monthly_kpis")

  /** Extension families: text, dedup, ANN, streaming batch-twins — one
    * representative per family member that is linear at scale (the
    * labeled quadratic baselines q13e / q14a stay out).
    */
  val ext: Seq[String] = Seq(
    "q12a_token_stats", "q12d_fingerprint", "q12e_bpe_tokens",
    "q12f_corpus_rebalance", "q12g_pii_scrub", "q12h_repetition_stats",
    "q12i_shuffle_order", "q12j_vocab_stats",
    "q12k_curation_pipeline", "q12l_pack_chunks", "q12m_chunk_windows",
    "q12o_tfidf_topk", "q12p_mixture_sample", "q12q_weighted_sample",
    "q12r_unigram_logprob", "q12s_source_kl", "q12t_perplexity_buckets",
    "q12u_nfc_normalize",
    "q12v_heavy_hitters", "q12w_filter_funnel",
    "q13a_exact_dedup",
    "q13b_ngram_jaccard", "q13c_minhash_lsh", "q13d_simhash",
    "q13g_contamination", "q13h_chunk_dedup",
    "q14b_ann_lsh", "q14d_embed_quantize",
    "q14f_ann_ivf_multiprobe", "q14g_ann_ivfpq",
    "q17d_orc_roundtrip", "q19b_geo_gridjoin", "q9p_multireg",
    "q15a_event_kpis_tumbling", "q15c_sessionization",
    "q15f_asof_join", "q15h_asof_nearest", "q15g_stream_dedup",
    "q23_proximity_join",
    // the W2/W3 scale path, tracked against q3a's window form
    "q3a_rank_ntile_dist",
    // the bounded-heap top-k vs q5a/q3a's sort-based forms
    "q21_topk_per_nation",
    // q14j times the whole PCA chain (covariance + projections), so
    // q14i stays out. The graph pair (q24e PageRank 14.7 s, q24f
    // triangles 15.7 s at sf0.1 min-of-3) stays out like q13f/q13i:
    // their cost is the shared co-purchase build plus inherently
    // iterative/wedge joins, and ~30 s more per timed iteration would
    // drown the regression signal the ext set exists to carry. q25b
    // shares the q25 basket build already timed via q12-family members.
    "q13j_editdist_join", "q14j_pca_project",
    "q26a_profile", "q27_exp_smoothing",
    // RFM rides the DistributedRank scale path ×3, multitouch is the
    // 7-day band join, gap-fill is the calendar-window interpolation,
    // BM25 the inverted-index probe, q17e the layout-audit write+stat
    // shape (q17f/g share its write-audit cost profile and stay out,
    // like q13f vs q13b). q14k stays out: it re-runs four ANN
    // pipelines plus the guard-capped brute truth by design.
    "q28_rfm_segments", "q24h_multitouch", "q20e_gapfill_interp",
    "q12y_bm25_topk", "q17e_skipping_audit",
    // CMS (the point-freq sketch next to q12v's MG), BPE training (the
    // iterative vocab-grain loop), HLL merge (q26h shares its cost
    // profile and stays out, like q17f/g vs q17e), and the first
    // multimodal member — q16j runs the real encode→decode→hash
    // chain. q27b rides q27's fold profile, q17i/j the write-audit
    // profile — all stay out by the same rule.
    "q12z_countmin", "q29_bpe_train", "q26g_hll_merge",
    "q16j_phash_dedup",
    // the avro-core reader is a genuinely new IO stack (binaryFile +
    // DataFileReader decode), not a variant of the parquet/CSV paths
    // already timed. q16l/m stay out: their mapPartitions codec
    // profile is q16j's, the q17f/g rule.
    "q17l_avro_roundtrip")
  // q13f (components) stays out: its dominant cost is recomputing the
  // q13b pair graph, which is already tracked above. q13i (canonical
  // docs) stays out for the same reason — it re-runs the q13f chain
  // and adds only a struct-max groupBy of its own.

  /** Every timeable query: the whole registry minus the q15 streaming
    * twins, whose readStream execution StreamingSpec drives and whose
    * batch bodies re-run plans timed elsewhere. Bench's untimed first
    * pass runs all of it as the spill census.
    */
  lazy val census: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filterNot(_.startsWith("q15"))
}
