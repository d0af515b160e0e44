"""Query modules self-register into the registry on import.

Registration ORDER matters: the driver's correctness gate checks the
first 50 registered queries (VERDICT r1).  ``PRIORITY`` recomposes that
window each round to maximize CUMULATIVE driver-verified coverage:

* round 1 checked the original module order (43 green);
* round 2 pinned the domain/ETL/events/vector/text suites (44 green,
  6 hash-fails from the pandas-representation gap — fixed in r3);
* round 3: the 6 r2 hash-fails first, then the never-checked
  sql-surface/analytics block, then the r3 additions (49/50 green;
  the since-deleted full-eigendecomposition PCA projection was the
  one rows-only row);
* round 4: events/streaming layer re-proven on regenerated testdata
  (ts nanos->micros) + never-checked + new + anchors — 50/50 green,
  the first fully green round;
* round 5 (this order): OLDEST-FIRST rotation (VERDICT r4 #1).  After
  r4 the staleness profile was 33 queries last-checked r1, 28 r2,
  17 r3, 50 r4.  The r5 window = all 33 r1-checked + 6 high-value
  r2-checked (ANN anchors, multimodal, exact dedup) + the flagship +
  the three queries whose code changed this round (triangle-count
  orientation fix, stream top-k timeout guard, power-iteration
  refactor) + the SEVEN queries new this round (GenBank scan,
  deflated PC2, stream-static enrich, embedding decontamination, PQ
  codes, PQ-ADC search, IVF-PQ composed).  Two late r5 additions
  (CMS counts, segment dedup) queue right after the boundary with
  the 22 remaining r2-checked queries — first in line for r6;
  everything rotated out is unchanged code with green rows from
  r2-r4, re-proven locally by a full check_oracle run at HEAD;
* round 6 (this order): generated by ``tools/plan_window.py``
  (VERDICT r5 #8) — the flagship, then the six queries whose code
  changed this round (integer epoch derivation in gap-fill / SCD2 /
  sessionize / rate-limit / retention, the decontamination
  empty-benchmark guard), then the never-driver-checked tail (CMS
  counts, segment dedup, NEW real-decode media features), then ALL
  22 r2-checked and ALL 17 r3-checked queries oldest-first, then one
  r4 filler.  After this round every registered query at the window
  freeze has a green driver row from r4 or later — staleness <= 2
  across that set.  The ~100 extension queries registered AFTER the
  freeze queue behind the boundary in registration order, each
  locally sf0.01-gate verified at registration and re-proven by
  full-registry gate runs at HEAD; the r7 window sweeps the first
  49 of them and r8/r9 finish the rotation (compose the next window
  with ``tools/plan_window.py``);
* round 7 (this order): generated by ``tools/plan_window.py`` —
  the flagship, then the FIRST 49 never-driver-checked post-freeze
  queries in registration order (``events_heavy_hitters`` …
  ``events_cusum_changepoint``).  No query code changed before the
  freeze, so no changed-code slots.  The remaining 62 never-checked
  queue immediately after the boundary (r8 sweeps them), then the
  previously-checked set oldest-first (r4 → r6).  Registry growth is
  paused until the never-checked tail is swept (VERDICT r6 #7);
* round 8 (this order): generated by ``tools/plan_window.py``
  (freeze-aware replay — see ``WINDOW_ROUND``): the flagship, then
  ``media_real_decode_features`` (code changed this round: PNG +
  baseline-JPEG kinds joined the real-decode fixture per VERDICT r7
  #5), then the next 48 never-driver-checked post-freeze queries in
  registration order (``orders_pareto_abc`` …
  ``doc_template_grams_by_source``).  The remaining 14 never-checked
  queue right after the boundary — r9's head finishes the sweep.
  Registry growth stays paused until then (VERDICT r7 #3);
* round 9 (this order): generated by ``tools/plan_window.py``
  (WINDOW_ROUND = 9): the flagship, then the LAST 14
  never-driver-checked post-freeze queries (``customer_km_survival``
  … ``doc_shard_assignment_balanced`` — the sweep completes), then
  the newly registered ``media_container_probe`` (built + oracle-
  pre-validated in r8, registered while composing this window per
  VERDICT r8 #1 — the registry-growth pause lifts with this round),
  then 34 oldest-checked-first refresh slots (the r4-checked set,
  5 rounds stale).  After this round every registered query has a
  green driver row at least once — the sweep the last three rounds
  were structured around is complete;
* round 10 (this order): generated by ``tools/plan_window.py``
  (WINDOW_ROUND = 10): the flagship, then the FIVE queries whose
  code changed this round (rep-collapse in the three LSH-family pair
  queries, the container-probe error-path split, the GenBank parser
  hardening — see ``CHANGED_THIS_ROUND``), then the six r9
  post-freeze registrations (never driver-checked) plus the new
  ``etl_pirate_to_graph`` end-to-end fingerprint query, then
  oldest-checked-first refresh: the 12 remaining r4-checked names
  and 25 of the 48 r5-checked (VERDICT r9 #2).  The r5 remainder
  queues right after the boundary for r11;
* round 11 (this order): generated by ``tools/plan_window.py``
  (WINDOW_ROUND = 11): the flagship, then the EIGHT queries whose
  code changed this round (adaptive dup-light collapse in the three
  pair queries, the three de-eagered plan constructions, the WAV
  menu fix, the gene-model fixture join — ``CHANGED_THIS_ROUND``),
  then the five never-driver-checked registrations (the three r10
  post-freeze names plus r11's capped-LSH consumer and GenBank
  gene-model query), then oldest-first refresh: 36 of the r5-checked
  remainder (VERDICT r10 #7 — staleness <= 5 rounds registry-wide
  after this window);
* round 12 (this order): generated by ``tools/plan_window.py``
  (WINDOW_ROUND = 12): the flagship, then the THREE changed-code
  slots (strainD.gbk joined the gene-model fixture tree — both
  GenBank queries' hashes move; blocked_hamming_pairs grew the
  max_d precondition guard, re-proving its one driver-checked
  consumer), then ALL TWELVE never-driver-checked registrations
  (the r11 post-freeze cohort VERDICT r11 #1 names — ExactSubstr,
  BM25, BPE learn/segment, quality classifier, phash/audio pairs,
  k-center coreset, distributed linkage, SO types — plus the r12
  table-driven ``etl_genbank_so_types_mapped``), then oldest-first
  refresh: the entire 27-query r6-stale cohort and 7 r7 fillers.
  After this window every registered query has a driver row from
  r7 or later;
* round 13 (this order): generated by ``tools/plan_window.py``
  (WINDOW_ROUND = 13): the flagship, then the FOUR changed-code
  slots (decode_png rewritten for palette/Adam7 — phash + real-decode
  consumers; the with_so_type table-path dedup; the _parallel_rnn_cut
  threshold enforcement — ``CHANGED_THIS_ROUND``), then ALL FIVE
  never-driver-checked registrations (the r12 post-freeze trio
  VERDICT r12 #1 names — linkage_rnn_cut, doc_rare_ngram_privacy,
  blast_builtin_exact_hits — plus the two r13 aligner-scoring
  oracles, VERDICT r12 #2), then oldest-first refresh: the entire
  40-query r7-stale cohort (the staleness rotation's oldest set).
  After this window every registered query has a driver row from
  r8 or later;
* round 14 (this order): generated by ``tools/plan_window.py``
  (WINDOW_ROUND = 14): the flagship, then the EIGHT changed-code
  slots (seed_align's broadcast-proof width pin + scaled DUST
  cutoff + per-subject blast-table dedup re-prove the three aligner
  hits queries; the with_so_type conflict guard re-proves the
  table-path consumer; the multi-interval join() parser + strainE
  fixture re-prove both gene-model fixture-glob queries; the 12-bit
  SOF1/Pq=1 JPEG kind re-proves the real-decode hash; the
  limb-split checksum overflow fix the sf0.1 full gate forced —
  ``CHANGED_THIS_ROUND``), then BOTH never-driver-checked
  registrations (the r13 post-freeze ``blast_builtin_enrich`` —
  VERDICT r13 #1's named item — and the r14 gapped-statistics pipe
  ``blast_builtin_gapped_enrich``, VERDICT r13 #4), then
  oldest-first refresh: 39 of the 47 remaining r8-stale queries
  (the staleness rotation's oldest set — its 48th member,
  star_table_checksums, took a changed-code slot instead; the 8
  leftovers queue first for r15);
* round 15 (this order): generated by ``tools/plan_window.py``
  (WINDOW_ROUND = 15, the first OPTIMIZATION round): the flagship,
  then the EIGHTEEN changed-plan slots (no results changed — every
  r15 rewrite is oracle-proven equivalent — but the executed plans
  did: the ANN/k-means map-side argmin family, the five
  fixture-graph consumers of the need-first backfill, and the three
  array-surgery pair expansions — ``CHANGED_THIS_ROUND``), then
  oldest-first refresh: the entire remaining r8-stale cohort
  (VERDICT r14 #2 — after this window no query's freshest driver row
  is older than r9) and r9-stale fillers to 50;
* round 16 (this order): generated by ``tools/plan_window.py``
  (WINDOW_ROUND = 16, optimization round 2): the flagship, then the
  THIRTEEN changed-plan slots (results unchanged — oracle-proven at
  sf0.001/0.01/0.1 — but the executed plans moved: the chunked
  pair-expansion trio, the lag-adjacency + array-intersect synteny
  graph family, the footer-gated sl-persist PQ chain, find_rgps —
  ``CHANGED_THIS_ROUND``), then oldest-first refresh: 36 of the 47
  r9-stale queries (the rotation's oldest set; the remaining 11
  queue first for r17).
"""

from __future__ import annotations

_LOADED = False

# Queries registered AFTER the current round's window froze (locally
# verified, deferred to the next round's window).  Names listed here
# are excluded when tools/plan_window.py replays the rotation policy
# against PRIORITY (and pytest enforces that the head matches the
# policy) — so a post-freeze registration REQUIRES adding the name
# here, keeping the shipped window equal to the planned one by
# construction.  Empty at the r10 freeze: the six r9 post-freeze
# registrations enter the r10 window head (never driver-checked), and
# ``etl_pirate_to_graph`` registered BEFORE this freeze.  Policy for
# later registrations: sf0.01 gate at registration time, and any name
# added after this round's freeze goes through this tuple (VERDICT
# r8 #3).  r10 post-freeze additions (each gated at sf0.001 + sf0.01 +
# sf0.1 at registration; they queue for the r11 window): the LSH
# band-bucket occupancy audit (the monitoring counterpart of the r10
# hot-bucket guards), the sampled exact near-dup-rate estimator
# (the corpus-scale weak-threshold answer SCALE.md r10 adjudicates),
# and the RIFF/WAVE container probe (the PCM sibling of
# media_container_probe over the new operators/containers.probe_wav).
QUEUED_AFTER_FREEZE: tuple[str, ...] = (
    # Empty at the r14 freeze: the r13 post-freeze registration
    # (blast_builtin_enrich — the S11 -> S14 end-to-end pipe under
    # one hash) and the r14 pre-freeze registration
    # (blast_builtin_gapped_enrich — gapped Karlin-Altschul
    # statistics end-to-end, VERDICT r13 #4) both absorb into the
    # r14 window head as never-driver-checked.  Policy unchanged: any
    # name registered after THIS freeze goes through this tuple
    # (sf0.001 + sf0.01 + sf0.1 gates at registration time).
)

# The r11 post-freeze cohort, absorbed into the r12 window head as
# never-driver-checked (VERDICT r11 #1 — these 11 names plus the r12
# pre-freeze registration etl_genbank_so_types_mapped are exactly
# where an engine-vs-DuckDB drift would hide).  Kept for the ledger:
_R11_POST_FREEZE: tuple[str, ...] = (
    # The three r10 post-freeze registrations and the two r11
    # pre-freeze ones (doc_lsh_capped_pairs, etl_genbank_gene_models)
    # entered the r11 window head as never-driver-checked.  Policy
    # unchanged: any name registered after THIS freeze goes through
    # this tuple (sf0.001 + sf0.01 + sf0.1 gates at registration
    # time).  r11 post-freeze additions:
    # F17's driver row on the NEW distributed exact per-component
    # path — chain triples pin complete-vs-single linkage, id-derived
    # oracle (VERDICT r10 #5).
    "linkage_distributed_cut",
    # ExactSubstr dedup (Lee et al. 2022) at 8-word window resolution:
    # sliding-gram duplicate detection -> first-occurrence keep ->
    # maximal-span merge (the report), and the corpus-reassembly
    # transform (the clean).  Gated sf0.001 + sf0.01 + sf0.1 at
    # registration; planted-fixture + cross-query-consistency pytests
    # in tests/test_text_dedup.py.
    "doc_duplicate_spans",
    "doc_duplicate_span_clean",
    # BM25 ranked retrieval (Lucene idf variant) — the curation
    # "rank corpus against topic query" scorer; top-k via TakeOrdered,
    # not a single-partition window.  Gated sf0.001 + sf0.01 + sf0.1;
    # hand-computed length-normalization fixture in
    # tests/test_text_dedup.py.
    "doc_bm25_topk",
    # Perceptual-hash image near-dup: synthesized (base, perturbed)
    # pairs encoded through DIFFERENT lossless codecs, real
    # decode+grid-hash in mapInPandas, block-pigeonhole Hamming join.
    # Gated sf0.001 + sf0.01 + sf0.1; planted cross-format fixture in
    # tests/test_multimodal.py.
    "media_phash_pairs",
    # FT->SO map_types consumer (bp_genbank2gff3.pl :1180 no-obo
    # subset) over its OWN fixture tree (fixtures_data/genbank_types —
    # the gene-model queries' driver hashes never move when this
    # fixture grows); oracle CASE generated from the same literal map.
    # Gated sf0.001 + sf0.01 + sf0.1; map-breadth pytest in
    # tests/test_genbank.py.
    "etl_genbank_so_types",
    # Feature-hashing linear quality classifier (fastText-filter
    # INFERENCE shape): md5-bucket features, deterministic Knuth
    # weights, integer fixed-point logit (round-half-proof), keep from
    # the integer sign.  Gated sf0.001 + sf0.01 + sf0.1; pure-python
    # replica fixture in tests/test_text_dedup.py.
    "doc_quality_classifier",
    # Distributed BPE vocabulary LEARNING (Sennrich 2016): K merge
    # steps, per-step argmax as a 1-row in-plan broadcast (jobless
    # construction), triple-leftmost-replace merge with exact
    # left-to-right semantics property-pinned against a pure-python
    # replica.  Gated sf0.001 + sf0.01 + sf0.1; slope is FLAT at the
    # 10x point (the word table is vocab-bounded).
    "doc_bpe_learn",
    # ...and its inference half: segment every document with the
    # learned merges (word-internal by construction), fixed-point
    # chars/token.  Same gates; replica test beside the learner's.
    "doc_bpe_segment",
    # Audio near-dup: sample-grid fingerprint over real-decoded PCM,
    # block-pigeonhole Hamming join (the WAV sibling of
    # media_phash_pairs; the linear-ramp fingerprint collapse was
    # measured and fixed with a Knuth recurrence before shipping).
    # Same gates; planted fixture in tests/test_multimodal.py.
    "media_audio_fp_pairs",
    # Greedy k-center coreset (Gonzalez farthest-point) — the
    # diversity-sampling data-selection operator; K in-plan argmax
    # rounds (jobless, no collect), K-stage MATERIALIZED oracle chain.
    # Gated sf0.001 + sf0.01 + sf0.1; invariants (monotone radius
    # curve, distinct picks, min-id seed) in tests/test_vectors.py.
    "emb_kcenter_coreset",
)

# The round the CURRENT PRIORITY head was composed FOR.  The rotation
# policy plans round N's window from CORRECTNESS ledgers of rounds
# < N; the driver drops CORRECTNESS_r0N.json only after the freeze, so
# tools/plan_window.py (and the pytest guard replaying it) must ignore
# ledgers >= WINDOW_ROUND or the end-of-round ledger drop would
# retroactively move the proposal and redden HEAD (VERDICT r7 #1).
# Bumping this constant is part of composing each new window.
WINDOW_ROUND = 16

# Queries whose code changed while composing this round's window:
# green history no longer vouches for them, so the rotation policy
# gives them window slots right after the flagship.  Declared here
# (not hand-edited into the pytest guard) so plan_window.py and the
# test replay the same inputs.  (Never-driver-checked changed queries
# — e.g. blast_builtin_exact_hits after the r13 seed_align multi-HSP
# refactor — enter the window through the never-checked rule and are
# not listed here.)
CHANGED_THIS_ROUND: tuple[str, ...] = (
    # r16 (optimization round 2): no query's RESULT changed (every
    # rewrite is oracle-proven equivalent), but these executed plans
    # did, so green history no longer vouches for them.
    # Pair expansion went chunked (capped in-row batches,
    # OPTIMIZATION_r16.md skew guard):
    "dice_similarity_pairs",
    "jaccard_distance_pairs",
    "order_basket_pairs",
    # The synteny graph family: lag-based adjacency everywhere, and
    # triangle counting via sorted-adjacency array_intersect:
    "graph_triangle_count",
    "graph_clustering_coefficient",
    "graph_components",
    "graph_sssp_hops",
    "graph_degree_assortativity",
    # The PQ chain rode the footer-gated sliced-frame persist:
    "ann_ivfpq_topk",
    "emb_pq_codes",
    "ann_pq_adc_topk",
    "emb_pq_distortion_report",
    # find_rgps (its cache A/B was measured, not shipped; OPTIMIZATION_r16.md):
    "pangenome_rgp",
)

# First-50 driver window, in check order.  Names registered later (new
# queries) may be listed here ahead of time; unknown names are skipped.
PRIORITY = (
    # --- r16 driver window head (composed by tools/plan_window.py;
    # flagship, then this round's changed-plan queries — the chunked
    # pair-expansion trio, the lag-adjacency/array-intersect graph
    # family, the sl-persist PQ chain, find_rgps — then the r9-stale
    # cohort oldest-checked-first) ---
    "gi_scan_flagship",
    "dice_similarity_pairs",
    "jaccard_distance_pairs",
    "order_basket_pairs",
    "graph_triangle_count",
    "graph_clustering_coefficient",
    "graph_components",
    "graph_sssp_hops",
    "graph_degree_assortativity",
    "ann_ivfpq_topk",
    "emb_pq_codes",
    "ann_pq_adc_topk",
    "emb_pq_distortion_report",
    "pangenome_rgp",
    "graph_degree_stats",
    "graph_kcore",
    "pricing_summary_report",
    "etl_coords_scan",
    "etl_repr_headers",
    "etl_neighbour_edges",
    "graph_pagerank",
    "emb_covariance",
    "emb_label_stats",
    "doc_domain_mixture",
    "doc_curation_verdicts",
    "doc_importance_resample",
    "doc_ngram_jaccard_dedup",
    "doc_minhash_signature",
    "dedup_increment_split",
    "media_container_probe",
    "doc_token_budget_mixture",
    "doc_prefix_canonical_pick",
    "doc_token_snake_shards",
    "events_freshness_lag",
    "doc_tokenizer_fertility",
    "stream_freshness_lag",
    "etl_pirate_to_graph",
    "doc_decontaminate",
    "doc_pack_sequences",
    "doc_gopher_repetition",
    "events_incremental_rollup",
    "emb_rp_project",
    "zscore_vs_group",
    "lineitem_zorder_layout",
    "welch_ttest_pvalue",
    "stream_windowed_topk",
    "emb_power_iteration_pc1",
    "emb_power_iteration_pc2",
    "typed_projection",
    "threshold_filter",
    # --- below the 50-slot boundary: previously-checked names in
    # prior-window order (r10-or-fresher staleness; next rotation
    # r17) ---
    "events_cms_error_sweep",
    "events_chi2_independence",
    "star_referential_integrity",
    "events_max_drawdown",
    "events_session_pair_pmi",
    "orders_large_basket_q18",
    "doc_template_grams_by_source",
    "emb_ivf_list_balance",
    "emb_semantic_dedup",
    "pangenome_cluster_neighbour",
    "pangenome_strain_stats",
    "pangenome_build_summary",
    "pangenome_gi_scan",
    "customer_km_survival",
    "events_out_of_order_audit",
    "orders_calendar_rollup",
    "part_price_anova_f",
    "lineitem_benford_audit",
    "emb_twonn_intrinsic_dim",
    "doc_bigram_heldout_ppl",
    "customer_order_frequency_histogram",
    "events_error_budget_burn",
    "part_abc_xyz_matrix",
    "orders_activity_islands",
    "doc_shard_assignment_balanced",
    "events_sliding_avg",
    "events_json_props",
    "events_asof_join",
    "events_funnel_depth",
    "stream_tumbling_counts",
    "stream_interval_join",
    "stream_dedup_counts",
    "rollup_aggregation",
    "events_anomaly_mad",
    "events_windowed_topk",
    "ann_ivf_topk",
    "emb_kmeans_ivf",
    "ann_ivf_recall_curve",
    "emb_cluster_purity",
    "blast_builtin_exact_hits",
    "blast_builtin_scored_hits",
    "blast_builtin_gapped_hits",
    "etl_genbank_so_types_mapped",
    "etl_genbank_scan",
    "etl_genbank_gene_models",
    "media_real_decode_features",
    "star_table_checksums",
    "blast_builtin_enrich",
    "blast_builtin_gapped_enrich",
    "orders_pareto_abc",
    "sql_grouping_sets",
    "doc_minimizer_match_pairs",
    "ann_mips_topk",
    "lineitem_weighted_median",
    "orders_cohort_ltv",
    "orders_q3_topk_unshipped",
    "lineitem_promo_share",
    "customer_band_range_join",
    "lineitem_zonemap_pruning",
    "doc_modal_lang_by_source",
    "stream_session_windows",
    "events_psi_drift",
    "doc_ngram_novelty",
    "emb_knn_label_vote",
    "lineitem_compaction_bins",
    "events_ab_test_ztest",
    "events_mutual_info",
    "doc_zipf_fit",
    "doc_near_dup_source_matrix",
    "doc_length_outlier_filter",
    "lineitem_skewsafe_distinct",
    "stream_sliding_avg",
    "part_trigram_like_search",
    "events_user_sequence_entropy",
    "orders_snaive_backtest_mae",
    "lineitem_join_cardinality_est",
    "events_cuped_adjustment",
    "doc_lang_confusion_matrix",
    "doc_dup_group_histogram",
    "lineitem_discount_elasticity",
    "events_interarrival_stats",
    "doc_filter_ablation",
    "lineitem_equidepth_histogram",
    "part_revenue_gini",
    "events_dau_mau_stickiness",
    "media_phash_pairs",
    "linkage_distributed_cut",
    "linkage_rnn_cut",
    "doc_rare_ngram_privacy",
    "doc_weighted_systematic_sample",
    "stream_hll_distinct",
    "events_quantile_histogram",
    "lineitem_hilbert_layout",
    "doc_char_entropy",
    "ann_rrf_fusion",
    "graph_label_propagation",
    "orders_join_view_ivm",
    "data_quality_checks",
    "events_exact_median_2pass",
    "user_forget_cascade",
    "ann_truncation_recall",
    "stream_quantile_histogram",
    "events_windowed_hll_rollup",
    "emb_ood_scores",
    "events_attribution_touchpoints",
    "orders_merge_into",
    "orders_snapshot_diff",
    "customer_rfm_segments",
    "events_markov_transitions",
    "graph_link_prediction",
    "orders_ols_trend",
    "doc_bigram_logprob",
    "stream_cms_counts",
    "dedup_lsh_recall",
    "regional_revenue_q5",
    "events_pit_features",
    "events_seasonal_profile",
    "events_autocorr_lag1",
    "events_windowed_heavy_hitters",
    "doc_kfold_split",
    "gene_accumulation_curve",
    "part_skyline_pareto",
    "lineitem_running_distinct",
    "events_time_weighted_avg",
    "doc_kmer_minimizers",
    "events_tv_drift",
    "events_cusum_changepoint",
    "doc_simhash_hamming_pairs",
    "doc_duplicate_spans",
    "doc_duplicate_span_clean",
    "doc_bm25_topk",
    "etl_genbank_so_types",
    "doc_quality_classifier",
    "doc_bpe_learn",
    "doc_bpe_segment",
    "media_audio_fp_pairs",
    "emb_kcenter_coreset",
    "doc_pii_scrub",
    "doc_winnow_fingerprints",
    "doc_partial_overlap_pairs",
    "doc_token_count_bpe",
    "doc_rolling_fingerprint",
    "collect_set_membership",
    "split_filter_hof",
    "array_transform_aggregate",
    "array_intersect_union",
    "doc_stratified_sample",
    "doc_vocab_coverage",
    "doc_source_cap",
    "doc_chunk_windows",
    "approx_distinct_extension",
    "cube_aggregation",
    "exists_any_predicate",
    "posexplode_tokens",
    "ranking_functions",
    "window_navigation",
    "range_frame_window",
    "percentile_stats",
    "string_agg_group",
    "orders_by_month",
    "pivot_native",
    "sql_correlated_exists",
    "sql_scalar_subquery",
    "events_tumbling_counts",
    "events_heavy_hitters",
    "doc_bloom_dedup",
    "events_hll_distinct",
    "interval_sweep_concurrency",
    "doc_fuzzy_match_pairs",
    "events_mannwhitney_value",
    "events_ewma_value",
    "doc_lsh_near_dup_pairs",
    "emb_cosine_near_dup",
    "doc_jaccard_containment",
    "doc_tfidf_top_terms",
    "doc_unigram_logprob",
    "media_wav_probe",
    "doc_lsh_band_occupancy",
    "emb_near_dup_rate_sampled",
    "doc_lsh_capped_pairs",
    "topk_parts_by_revenue",
    "union_distinct",
    "canonical_pair_dedup",
    "replace_chains",
    "header_field_extraction",
    "substring_by_coordinates",
    "gc_content_translate",
    "welch_ttest_from_stats",
    "ann_bruteforce_topk",
    "ann_lsh_topk",
    "media_feature_extract",
    "doc_exact_dedup",
    "stream_static_enrich",
    "events_gap_fill",
    "events_scd2_intervals",
    "events_sessionize",
    "events_rate_limited_sample",
    "events_retention_cohorts",
    "emb_decontaminate",
    "events_cms_counts",
    "doc_segment_dedup",
    "ann_lsh_buckets",
    "doc_train_split",
    "group_collect_list",
    "emb_norms",
    "emb_quantize_int8",
    "doc_token_count",
    "doc_fingerprint",
    "doc_quality_score",
    "doc_lang_id",
    "doc_simhash",
    "doc_clean_normalize",
    "contains_predicate",
    "null_predicate_backfill",
    "ratio_filter_on_aggregate",
    "argmax_per_group",
    "multiway_join_revenue",
    "self_join_adjacent",
    "anti_join_orderless",
    "semi_join_active_parts",
    "merge_distinct_membership",
    "pairwise_distance_within_group",
    "interval_path_counts",
    "lag_adjacency_edges",
    "genome_ordinal",
    "rolling_mean_min_periods",
    "rolling_flag_runs",
    "group_avg_stddev",
    "group_min_mean_max",
    "histogram_binned",
    "having_core_selection",
    "pivot_presence_matrix",
    "scalar_aggregates",
)


def _load_all() -> None:
    global _LOADED
    if _LOADED:
        return
    # Imports are for registration side effects.
    from pangenomesasgraphdatabases_spark.queries import (  # noqa: F401
        flagship,
        relational,
        windows_q,
        functions_q,
        similarity_q,
        text_q,
        vectors_q,
        events_q,
        graph_q,
        analytics_q,
        sources_q,
        sql_surface_q,
        curation_q,
        pipeline_q,
        graph_algo_q,
        emb_stats_q,
    )

    _LOADED = True
