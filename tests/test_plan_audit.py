"""Fleet-wide physical-plan audit: every registered query is scanned for
scale red flags. Anything flagged must appear in the allowlist below WITH
its justification — new entries require a documented reason, so a scale
regression (an accidental cartesian, an unbounded nested-loop join, a
driver-bottleneck gather) fails CI instead of shipping.
"""

from __future__ import annotations

import pytest

from parquet_exporter_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()

# name -> (allowed flags, why it's fine at scale)
ALLOWED: dict[str, tuple[set[str], str]] = {
    "agg_tdigest_sketch": (
        {"single_partition_x1"},
        "the canonical batch t-digest build ranks globally once — here "
        "a single-partition window; the 100 TB form is "
        "repartitionByRange + per-partition offsets (range sort IS "
        "global order, so per-range centroids concatenate), and the "
        "output is the O(log n)-row sketch, never data-sized",
    ),
    "agg_kmv_distinct": (
        {"bnlj", "single_partition_x1"},
        "TakeOrderedAndProject keeps k=128 hashes per partition before "
        "the driver merge (no global sort); the gather carries one "
        "partially-aggregated stats row, and the bnlj is the 1-row "
        "stats x 1-row truth verdict join",
    ),
    "agg_kmv_union": (
        {"bnlj", "single_partition_x1"},
        "same shape as agg_kmv_distinct run twice (per-half + whole "
        "bottom-k are all TakeOrderedAndProject over <= 2k sketch "
        "rows); the bnljs are the 1-row merged-stats x whole-stats x "
        "truth verdict joins",
    ),
    "agg_hll_portable": (
        {"bnlj", "single_partition_x2"},
        "registers reduce map-side to <= 512 (bucket, max-rho) rows; "
        "the gathers carry the 1-row register-sum state and 1-row "
        "truth, joined by a 1x1 bnlj for the verdict columns",
    ),
    "agg_hll_union": (
        {"bnlj", "single_partition_x3"},
        "register tables reduce map-side to <= 512 rows per partial; "
        "the gathers carry the 1-row merged-state sum, the 1-row "
        "mismatch count, and 1-row truth, verdict-joined by 1x1 bnljs",
    ),
    "agg_kmv_jaccard": (
        {"bnlj", "single_partition_x1"},
        "the union bottom-k is TakeOrderedAndProject (per-partition "
        "top-k); the gather carries the 1-row sample stats, bnlj is "
        "the 1-row stats x 1-row exact-Jaccard verdict join",
    ),
    "cdc_scd2_asof_lookup": (
        {"bnlj"},
        "the PIT interval join probes x broadcast dimension is "
        "non-equi by nature (valid_from <= t < valid_to); the "
        "dimension is version-bounded metadata, never fact-sized",
    ),
    "text_langid_predict": (
        {"bnlj", "single_partition_x3"},
        "model-state scalars: the 1-row bigram-vocabulary size and the "
        "4-row class-prior total gather single rows, and the bnlj is "
        "the doc-bigrams x 4-language unseen-weight grid — model "
        "tables, all bounded by (langs x bigrams); the scoring scan "
        "itself stays fully partitioned",
    ),
    "search_ndcg_eval": (
        {"bnlj", "single_partition_x3"},
        "bounded metric tables only: the TOP_N=20 ranking and the "
        "20-row graded-ideal windows, the 1-row avgdl/mrr scalars, and "
        "the 3-k x 20-row bnlj expansions — the one corpus-sized pass "
        "is BM25's |Q|-term posting filter, which stays partitioned",
    ),
    "stream_cms_twin": (
        {"bnlj", "single_partition_x1"},
        "agg_cms_merge's shape driven through the streaming "
        "foreachBatch handler: counter tables reduce map-side to "
        "<= 256 (depth, bucket) rows per partial; the gather carries "
        "the 1-row law count, bnlj is the 4-probe x 1-row verdict join",
    ),
    "stream_kmv_twin": (
        {"bnlj", "single_partition_x1"},
        "agg_kmv_union's shape driven through the streaming "
        "foreachBatch handler: per-batch bottom-k is "
        "TakeOrderedAndProject; the single-partition window ranks the "
        "<= k merged SKETCH rows, bnljs join 1-row state/truth scalars",
    ),
    "agg_hdr_histogram": (
        {"bnlj", "single_partition_x5"},
        "builds and serves through streaming/hdr_ingest.py, the shape "
        "stream_hdr_twin is waived for: single-partition windows run "
        "over the O(octaves * 8)-row BUCKET table (cum-count serve + "
        "n=sum(c)) and the verification-only global exact ranking; "
        "gathers/bnljs carry 2 probe rows and 1-row scalars — the serve "
        "path reads the counter table only",
    ),
    "agg_hdr_merge": (
        {"bnlj", "single_partition_x6"},
        "stream_hdr_twin's shape over two in-memory half partials "
        "instead of a store: single-partition windows run over the "
        "O(octaves * 8)-row BUCKET table and the verification-only "
        "global exact ranking; gathers/bnljs carry 2 probe rows, the "
        "1-row law count and 1-row scalars",
    ),
    "stream_hdr_twin": (
        {"bnlj", "single_partition_x6"},
        "agg_hdr_merge's shape driven through the streaming "
        "foreachBatch handler: single-partition windows run over the "
        "O(octaves * 8)-row BUCKET store (cum-count serve + n=sum(c)) "
        "and the verification-only global exact ranking; gathers/bnljs "
        "carry 2 probe rows, the 1-row law count and 1-row scalars — "
        "the serve path reads the merged counter table only",
    ),
    "stream_hll_twin": (
        {"bnlj", "single_partition_x3"},
        "register tables reduce map-side to <= 512 (bucket, max-rho) "
        "rows per partial (agg_hll_union's shape driven through the "
        "streaming foreachBatch handler); the gathers carry the 1-row "
        "merged-state sum, 1-row mismatch count and 1-row truth, "
        "verdict-joined by 1x1 bnljs",
    ),
    "stream_tdigest_twin": (
        {"bnlj", "single_partition_x7"},
        "agg_tdigest_merged's shape driven through the streaming "
        "foreachBatch handler: per-micro-batch builds rank within a "
        "bounded trigger (single-partition by definition of a "
        "micro-batch), the merge/cum-weight windows run over the "
        "O(k log n)-row centroid STORE, and the verification-only "
        "global exact ranking plus 5-probe bnljs are the test harness, "
        "not the serve path",
    ),
    "agg_tdigest_merged": (
        {"bnlj", "single_partition_x7"},
        "the two digest builds rank within half-partitions (keyed "
        "exchange, not gathered); single-partition windows run over "
        "the O(log n)-row CENTROID table (cum-weight merge + n=sum(w)) "
        "and the verification-only global exact ranking; remaining "
        "gathers/bnljs carry 7 probe rows and 1-row scalars. The "
        "100 TB serve path reads the merged O(log n)-row sketch only — "
        "the exact/rank_err columns are the test harness",
    ),
    "join_cross": ({"bnlj", "cartesian"}, "cross join IS the operator; inputs are bounded dims"),
    "sample_fraction": (
        {"bnlj", "single_partition_x2"},
        "the verdict form crossJoins TWO 1-row global aggregates "
        "(population count x sample count) — both sides are map-side "
        "combined scalars at any scale; the sample scan itself stays "
        "fully partitioned",
    ),
    "analytics_survival_km": (
        {"bnlj", "single_partition_x4"},
        "1-row watermark and 1-row user-total scalars broadcast; the "
        "at-risk/survival windows are global-order but run over the "
        "BOUNDED per-duration table (<= |days| rows at any scale) — "
        "the fact reduces to per-user min/max in one keyed shuffle first",
    ),
    "analytics_day_n_retention": (
        {"bnlj", "single_partition_x2"},
        "1-row last-day watermark broadcast for right-censoring; "
        "gathers carry one partially-aggregated max-day row and the "
        "1-row retention verdict",
    ),
    "analytics_lifecycle_stages": (
        {"bnlj", "single_partition_x3"},
        "1-row corpus-watermark and 1-row total-user scalars broadcast; "
        "gathers carry partially-aggregated max rows and the 3-row "
        "stage rollup",
    ),
    "agg_trimmed_mean": (
        {"bnlj", "single_partition_x2"},
        "1-row p10/p90 fence profile broadcast onto the scan; gathers "
        "carry one partially-aggregated percentile row and the 1-row "
        "verdict",
    ),
    "text_word_length_histogram": (
        {"bnlj"},
        "1-row token-total scalar broadcast against the 15-row histogram",
    ),
    "emb_cosine_histogram": (
        {"bnlj"},
        "bounded 80-vector sample broadcast for pairwise scoring, plus "
        "the 1-row total against the 10-bin histogram",
    ),
    "dq_uniqueness_report": (
        {"single_partition_x4"},
        "four 1-row per-column distinct-profile aggregates unioned, same "
        "bounded shape as dq_categorical_profile",
    ),
    "text_bigram_entropy_rate": (
        {"bnlj", "single_partition_x4"},
        "two 1-row count-total broadcasts and the 1-row-per-entropy "
        "gathers; every gathered row is a partially-aggregated scalar",
    ),
    "dq_enum_new_values": (
        {"bnlj", "single_partition_x2"},
        "1-row midpoint scalar broadcast; gathers carry the min/max row "
        "and the bounded category sets",
    ),
    "emb_twonn_intrinsic_dim": (
        {"bnlj"},
        "bounded 60-vector sample broadcast for the O(sample^2) TwoNN "
        "distances — sampling IS the method at corpus scale",
    ),
    "sample_hash_rate_sweep": (
        {"bnlj"},
        "3-row rate table broadcast over the hash-uniform column",
    ),
    "dedup_lsh_s_curve": (
        {"cartesian"},
        "4x6 literal design-table cross product — no data scan at all",
    ),
    "similarity_ann_mllib": (
        {"bnlj"},
        "1-row top1-verdict crossJoin onto the 1-row recall aggregate — "
        "both sides are bounded scalars; the ANN candidate generation "
        "itself is MLlib's bucketed LSH, never all-pairs",
    ),
    "linkage_sorted_neighborhood": (
        {"single_partition_x2"},
        "the global-row-id operator's per-partition OFFSET table: a "
        "|partitions|-row aggregate (one count per task, ~dozens of rows "
        "at any scale) cumulated in one partition then broadcast — the "
        "data itself never leaves its range partitions; referenced twice "
        "(both join sides) hence x2",
    ),
    "dq_join_key_skew": (
        {"bnlj"},
        "1-row total/key-count scalar broadcast onto the bounded top-10 "
        "key list (TakeOrdered reduces the per-key table; no global sort, "
        "no single-partition exchange)",
    ),
# search_mmr_rerank needs no waiver: its bounded shortlist/pair tables
# (and per-round selections) are localCheckpoint-ed, so the returned
# plan reads materialized blocks — the broadcast shortlist scan executes
# once at build time inside the checkpoint (see the query docstring).
    "dq_categorical_profile": (
        {"single_partition_x3"},
        "three 1-row per-column profile aggregates unioned, same bounded "
        "shape as profile_table_summary",
    ),
    "timeseries_acf": (
        {"bnlj"},
        "7-row lag table broadcast-replicated over the bounded daily "
        "rollup (x7 duplication of days, never raw events)",
    ),
    "stream_watermark_what_if": (
        {"bnlj"},
        "3-row delay table broadcast over the lateness column",
    ),
    "split_time_holdout_leakage": (
        {"bnlj", "single_partition_x2"},
        "1-row midpoint-cutoff scalar broadcast; the gathers carry one "
        "partially-aggregated min/max row and the 1-row leak verdict",
    ),
    "timeseries_cross_correlation": (
        {"bnlj"},
        "4-row lag table broadcast-replicated over the bounded daily "
        "rollup (x4 duplication of days, never raw events)",
    ),
    "analytics_feature_adoption": (
        {"bnlj"},
        "1-row total-distinct-users scalar broadcast against the "
        "|types|-row adoption aggregate",
    ),
    "dq_row_count_anomaly": (
        {"bnlj"},
        "1-row mean/stddev scalar broadcast against the bounded daily "
        "rollup",
    ),
    "dq_fk_coverage": (
        {"single_partition_x3"},
        "three 1-row per-edge coverage aggregates unioned — each gather "
        "carries one partially-aggregated row per FK edge",
    ),
    "analytics_monthly_churn": (
        {"bnlj"},
        "1-row last-month scalar broadcast; the churn self-join is equi "
        "on (user, month)",
    ),
    "analytics_weekly_churn": (
        {"bnlj", "single_partition_x1"},
        "1-row last-week scalar broadcast (the monthly-churn shape at "
        "week grain); the churn self-join is equi on (user, week)",
    ),
    "analytics_nelson_aalen": (
        {"bnlj", "single_partition_x2"},
        "1-row watermark scalar broadcast; the hazard windows are "
        "global-order but run over the BOUNDED per-duration table "
        "(<= |days| rows at any scale) — the same shape as its KM twin",
    ),
    "analytics_cuped_adjustment": (
        {"bnlj", "single_partition_x3"},
        "1-row span-cutoff, 1-row pooled-moments, and 1-row theta/rho2 "
        "scalars broadcast onto the user table; the only data-sized "
        "work is the user-keyed partial agg, and the final group-by "
        "has 2 rows",
    ),
    "dq_cramer_v": (
        {"bnlj", "single_partition_x1"},
        "1-row N/r/c scalar broadcast; the ordered chi2 fold gathers "
        "the <= r*c (35-row) term table, never the events",
    ),
    "graph_assortativity": (
        {"single_partition_x1"},
        "1-row moments gather carrying one partially-aggregated "
        "six-sum row over the edge-endpoint pairs",
    ),
    "analytics_srm_check": (
        {"single_partition_x1"},
        "1-row verdict gather carrying one partially-aggregated "
        "variant-count row over the distinct-user rollup",
    ),
    "scan_csv_quarantine": (
        {"single_partition_x2"},
        "two 1-row clean/quarantined summary aggregates unioned — each "
        "gather carries one partially-aggregated verdict row over the "
        "bounded fixture",
    ),
    "analytics_auc_mann_whitney": (
        {"bnlj", "single_partition_x2"},
        "1-row tie-correction scalar broadcast; the rank window is "
        "global-order but runs over the per-user table (bounded "
        "relative to events — the documented histogram-CDF rank path "
        "replaces it at 100 TB), and the final gather carries one "
        "partially-aggregated verdict row",
    ),
    "timeseries_dominant_period": (
        {"bnlj"},
        "bounded 9-row lag spine broadcast-replicated over the daily "
        "rollup — the same shape as timeseries_acf's lag table",
    ),
    "timeseries_forecast_backtest": (
        {"bnlj"},
        "bounded 5-row fold spine broadcast-replicated over the "
        "per-entity series arrays — the lag-table shape",
    ),
    "graph_hits": (
        {"single_partition_x1"},
        "per-iteration normalizers are 1-row sum aggregates broadcast "
        "back; the gather carries one partially-aggregated row per "
        "half-iteration, the propagation joins stay key-partitioned",
    ),
    "dedup_minhash_estimate_error": (
        {"bnlj"},
        "bounded 30-doc calibration sample broadcast for all-pairs "
        "estimate-vs-truth comparison; the production path is the LSH "
        "banded join, this query MEASURES its estimator",
    ),
    "dedup_minhash_bbit_estimate": (
        {"bnlj"},
        "same bounded 30-doc calibration sample as "
        "dedup_minhash_estimate_error — measures the b-bit estimator's "
        "collision correction, not a production pair join",
    ),
    "similarity_recall_eval": (
        {"bnlj"},
        "the exact-baseline leg of the recall evaluation: 20-query "
        "sample broadcast against the corpus (linear in corpus, the "
        "same shape as similarity_topk_bruteforce); the LSH leg under "
        "evaluation is bucket-bounded",
    ),
    "analytics_diff_in_diff": (
        {"bnlj"},
        "1-row DiD-estimate scalar broadcast onto the 4-cell table — "
        "both sides bounded aggregates",
    ),
    "text_collocations_pmi": (
        {"bnlj"},
        "1-row corpus-token-total scalar broadcast into the PMI "
        "projection; bigram generation is the doc_id-keyed positional "
        "join",
    ),
    "emb_label_separation": (
        {"bnlj"},
        "bounded 40-vector sample broadcast for pairwise separation; "
        "corpus-scale swaps to centroid+moment aggregates per docstring",
    ),
    "sample_proportional_quota": (
        {"bnlj", "single_partition_x2"},
        "1-row grand-total broadcast plus leftover/rank windows over the "
        "|sources|-row allocation table",
    ),
    "text_js_divergence_sources": (
        {"bnlj"},
        "1-row corpus-total scalar broadcast; the probability join itself "
        "is keyed on term",
    ),
    "similarity_hard_negatives": (
        {"bnlj"},
        "bounded query set broadcast with a label-inequality residual — "
        "the exact-baseline shape shared with similarity_topk_bruteforce",
    ),
    "sample_balanced_classes": (
        {"bnlj"},
        "1-row minority-count scalar broadcast against the ranked corpus",
    ),
    "cdc_snapshot_diff": (
        {"bnlj", "single_partition_x2"},
        "1-row midpoint-timestamp scalar broadcast onto the fact scan; "
        "the single-partition gathers carry one partially-aggregated "
        "min/max row and the final O(4)-row change-kind rollup",
    ),
    "analytics_rfm_segmentation": (
        {"bnlj", "single_partition_x2"},
        "1-row corpus-max-date scalar broadcast, plus global ntile "
        "windows over the BOUNDED per-customer aggregate (the scale-out "
        "swap is width_bucket over approx quantiles, see docstring)",
    ),
    "analytics_pareto_share": (
        {"bnlj", "single_partition_x2"},
        "1-row revenue-total scalar broadcast; the cumulative-share "
        "window is inherently a global order over the bounded customer "
        "aggregate, never the orders fact",
    ),
    "analytics_market_basket": (
        {"bnlj"},
        "1-row n_orders scalar broadcast into the lift projection; pair "
        "generation itself is the okey equi join (plan-asserted)",
    ),
    "dq_benford_first_digit": (
        {"bnlj"},
        "1-row total-count scalar broadcast against the 9-row digit "
        "aggregate",
    ),
    "text_vocab_coverage": (
        {"bnlj"},
        "3-row k-cutpoint literal table broadcast; rank/total windows run "
        "over the bounded vocabulary aggregate, not the token stream",
    ),
    "join_range": ({"bnlj"}, "3-row band table broadcast; O(n*k) per-row nested loop, no shuffle"),
    "q11_important_stock": ({"bnlj"}, "1-row fraction-of-total scalar broadcast"),
    "q22_global_sales_opportunity": ({"bnlj"}, "1-row avg-balance scalar broadcast"),
    "sql_scalar_subquery": (
        {"single_partition_x2"},
        "two scalar subqueries -> two 1-row gathers; both broadcast back",
    ),
    "sql_cte_multi_ref": ({"bnlj"}, "1-row aggregate CTE re-joined as a scalar"),
    "similarity_topk_bruteforce": ({"bnlj"}, "query set broadcast against corpus — the exact baseline"),
    "similarity_ivf_topk": ({"bnlj"}, "k centroid rows broadcast for cell assignment"),
    "text_unigram_logprob": ({"bnlj"}, "1-row corpus-total broadcast (plan-asserted elsewhere)"),
    "text_bigram_logprob": (
        {"bnlj"},
        "1-row vocabulary-size scalar broadcast into the scoring join; "
        "the bigram/unigram count joins underneath shuffle on term keys",
    ),
    "sample_domain_mixture": (
        {"bnlj"},
        "1-row totals aggregate broadcast against a per-source aggregate; "
        "both sides bounded by domain cardinality, never the corpus",
    ),
    "dq_constraint_checks": (
        {"single_partition_x4"},
        "four whole-table constraint checks, each a scalar aggregate: the "
        "single-partition exchange carries ONE partially-aggregated row "
        "per check (map-side combine runs first), so the gather is "
        "O(checks), not O(rows)",
    ),
    "profile_table_summary": (
        {"single_partition_x3"},
        "three per-column profile rows, each a scalar aggregate over the "
        "column; same bounded 1-row-per-gather shape as "
        "dq_constraint_checks",
    ),
    "emb_standardize_dims": (
        {"bnlj"},
        "1-row packed dimension-stats aggregate broadcast back to the "
        "corpus; cardinality = 1 regardless of data size",
    ),
    "search_bm25": (
        {"bnlj"},
        "1-row average-document-length scalar broadcast into the "
        "posting-score join; postings are filtered to |Q| literal terms",
    ),
    "search_hybrid_rrf": (
        {"bnlj"},
        "the 1-row avgdl scalar broadcast; the rank windows run over "
        "top-LEG_N lists already cut by TakeOrdered (at most 100 rows "
        "each regardless of corpus size)",
    ),
    "dq_drift_psi": (
        {"bnlj"},
        "1-row min/max bounds aggregate broadcast back onto the stream "
        "for binning; cardinality = 1 regardless of data size",
    ),
    "dq_drift_wasserstein": (
        {"bnlj", "single_partition_x2"},
        "the dq_drift_psi bounds-broadcast shape twice (binning pass + "
        "final width scaling); both gathers carry the partially-"
        "aggregated 1-row min/max bounds, never data",
    ),
    "funnel_three_step": (
        {"bnlj", "single_partition_x3"},
        "three 1-row stage counts gathered then cross-joined into the "
        "single summary row; the per-user stage joins underneath shuffle "
        "on user_id normally",
    ),
    "dsir_importance_weights": (
        {"bnlj", "single_partition_x2"},
        "the fitted model is two 1-row totals gathers plus a 64-row "
        "bucket-distribution broadcast — all O(buckets), never corpus-"
        "sized; the corpus itself contributes one partial-agg'd shuffle",
    ),
    "text_perplexity_buckets": (
        {"bnlj"},
        "1-row scalar broadcasts (corpus token total, percentile_disc "
        "cutpoints); the LM scoring pass runs eagerly at localCheckpoint "
        "time, so its bounded gathers sit before the audited plan",
    ),
    "similarity_range_search": (
        {"bnlj"},
        "the bounded query set broadcast against a linear corpus scan — "
        "the radius-search analogue of similarity_topk_bruteforce",
    ),
    "dq_freshness_lag": (
        {"bnlj"},
        "the corpus watermark is a 1-row aggregate over the |types|-row "
        "per-type maxima, broadcast back onto those same rows — nothing "
        "data-sized on either side of the nested loop",
    ),
    "similarity_binary_quantized": (
        {"bnlj"},
        "the bounded query-signature set (3 rows of two packed words) "
        "broadcast against the linear signature scan — same shape as "
        "the other exact-baseline searches, but over 8-byte signatures",
    ),
    "similarity_rabitq_topk": (
        {"bnlj"},
        "the bounded rotated-query set (3 rows) broadcast against the "
        "linear sign+L1 signature scan — the rotated twin of "
        "similarity_binary_quantized's exact-baseline shape",
    ),
    "similarity_rabitq_fast_topk": (
        {"bnlj"},
        "same bounded 3-row broadcast-query shape as "
        "similarity_rabitq_topk, appearing in both the FWHT branch "
        "under verdict and its in-query exact ground-truth twin",
    ),
    "similarity_rabitq_persisted_probe": (
        {"bnlj"},
        "the bounded 3-row rotated-query set broadcast against the "
        "linear 16-byte-row signature scan — serving from the "
        "persisted index IS the broadcast-probe shape",
    ),
}

# Round 9 flipped the audit to flag single_partition_x1 too (the >1
# threshold structurally exempted the single-gather-of-unbounded-data
# class — exactly dq_sequence_gaps' legacy form). Every plan with exactly
# ONE SinglePartition exchange is waived HERE, by what the judge-audited
# plan shows the gather actually carries (child node of the exchange),
# in four bounded shapes:
#   scalar  — one partially-aggregated row per task (map-side combine
#             first), O(tasks) bytes at any scale;
#   rollup  — a global-order window/sort over a BOUNDED rollup (days,
#             months, nations, sources, segments, vocabulary), never the
#             fact/token stream;
#   tasks   — the |tasks|-row per-partition offset/bounds table of the
#             global-row-id / boundary-stitch decompositions;
#   exact   — a documented exact baseline over the raw scan whose
#             shipped approx twin is the 100 TB path.
_X1_JUSTIFIED: dict[str, str] = {
    "text_negative_sampling_dist": "rollup: rank window over the vocabulary table (tf^0.75 weights)",
    "text_collocations_pmi": "scalar: 1-row corpus-token-total gather",
    "text_hapax_ratio": "scalar: 1-row token-total + hapax-count gather",
    "text_word_length_histogram": "scalar: 1-row token-total gather",
    "text_perplexity_buckets": (
        "exact: percentile_disc cut-point state over per-document scores; "
        "the approx_percentile sketch is the documented corpus-scale swap"
    ),
    "emb_twonn_intrinsic_dim": "scalar: 1-row count/sum-log-mu gather over the bounded TwoNN sample",
    "emb_cosine_histogram": "scalar: 1-row pair-total gather over the bounded sample",
    "dq_row_count_anomaly": "scalar: 1-row mean/stddev gather over the bounded daily rollup",
    "timeseries_dow_adjusted": "rollup: adjustment window over the per-day table",
    "analytics_monthly_churn": "scalar: 1-row max-month gather",
    "analytics_order_value_deciles": (
        "exact: global ntile over orders is the documented exact baseline; "
        "approx_percentile cutpoints + width_bucket is the 100 TB form "
        "(docstring, agg_width_bucket_histogram)"
    ),
    "analytics_cumulative_users": "rollup: cumulative window over the per-day new-user table",
    "analytics_feature_adoption": "scalar: 1-row distinct-user total (keyed two-phase distinct underneath)",
    "analytics_order_backlog": "rollup: cumulative window over the per-day net-change table",
    "analytics_session_conversion": "scalar: 1-row funnel-counter gather",
    "analytics_time_to_first_purchase": "scalar: percentile state over the bounded per-user rollup",
    "analytics_spearman_daily": "rollup: rank windows over the per-day click/purchase table",
    "q6_forecast_revenue": "scalar: 1-row revenue-sum gather",
    "q11_important_stock": "scalar: the 1-row fraction-of-total gather behind the broadcast",
    "q14_promo_revenue": "scalar: 1-row promo/total revenue gather",
    "q15_top_supplier": "scalar: 1-row max-revenue gather over the per-supplier rollup",
    "q17_small_quantity_revenue": "scalar: 1-row revenue-sum gather",
    "q19_bracketed_revenue": "scalar: 1-row revenue-sum gather",
    "q22_global_sales_opportunity": "scalar: 1-row avg-balance gather",
    "sql_cte_multi_ref": "scalar: 1-row aggregate-CTE gather",
    "count_star": "scalar: the 1-row partial-count gather IS the query",
    "ids_global_rownum": "tasks: the per-partition offset table (global_row_number)",
    "agg_tdigest_sketch_distributed": (
        "tasks: the per-partition offset table (global_row_number) — the "
        "whole point of this query is that the DATA never crosses a "
        "single-partition exchange; only the O(partitions) count table does"
    ),
    "multimodal_dedup_exact": "scalar: 1-row distinct-digest total",
    "text_unigram_logprob": "scalar: 1-row corpus-total gather",
    "sample_domain_mixture": "scalar: 1-row token-total gather",
    "text_bigram_logprob": "scalar: 1-row vocabulary-size gather",
    "emb_standardize_dims": "scalar: collect_list over the 16-row per-dimension stats",
    "text_vocab_coverage": "rollup: rank/total windows over the vocabulary aggregate",
    "text_js_divergence_sources": "scalar: 1-row corpus-total gather",
    "search_bm25": "scalar: 1-row avgdl gather",
    "search_hybrid_rrf": "scalar: 1-row avgdl gather",
    "window_ratio_to_report": "rollup: ratio window over the 25-row per-nation table",
    "profile_frequent_items": "scalar: approx_top_k sketch buffer, one bounded buffer per task",
    "dq_drift_psi": "scalar: 1-row min/max bounds gather",
    "profile_numeric_correlations": "scalar: 1-row correlation-moment gather",
    "dq_rule_engine": "scalar: 1-row rule-counter gather",
    "dq_freshness_lag": "scalar: 1-row watermark gather",
    "dq_sequence_gaps": (
        "tasks: the per-partition (lo, hi) bounds table for the boundary "
        "stitch — the round-9 scale-safe decomposition; the id stream "
        "itself stays range/hash partitioned (plan-asserted in "
        "test_round9_ops)"
    ),
    "dq_benford_first_digit": "scalar: 1-row total-count gather",
    "dq_null_fractions": "scalar: 1-row per-column null-counter gather",
    "dq_join_key_skew": "scalar: 1-row total/key-count gather",
    "sample_global_shuffle": "tasks: the per-partition offset table (global_row_number)",
    "sample_mixture_temperature": "rollup: temperature window over the per-source table",
    "sample_balanced_classes": "scalar: 1-row minority-count gather",
    "sample_systematic_every_k": "tasks: the per-partition offset table (global_row_number)",
    "sample_neyman_allocation": "rollup: allocation window over the per-segment table",
    "graph_triangle_count": "scalar: 1-row triangle-total gather",
    "ab_test_proportions": "scalar: 1-row variant-counter gather",
    "analytics_market_basket": "scalar: 1-row n_orders gather",
    "analytics_gini_revenue": (
        "rollup: cumulative-share window over the per-customer revenue "
        "aggregate, never the orders fact (pareto posture)"
    ),
    "analytics_diff_in_diff": "scalar: 1-row 4-cell DiD gather",
    "agg_approx_distinct": "scalar: 1-row distinct-total gather (keyed expand shuffle underneath)",
    "agg_ntile_histogram": (
        "exact: global ntile over orders — documented exact baseline whose "
        "shipped approx twin is agg_approx_percentile"
    ),
    "dedup_minhash_mllib": "scalar: 1-row verdict-counter gather",
    "layout_zorder_key": (
        "exact: percent_rank over orders is the oracle twin of the layout "
        "key; write_zordered defaults to zorder_key_approx's histogram-CDF "
        "ranks with no data-sized gather (round 9)"
    ),
    "layout_hilbert_key": (
        "exact: same percent_rank oracle-twin shape as layout_zorder_key; "
        "the write path (write_hilberted, round 11) composes the Hilbert "
        "fold with hilbert_key_approx's histogram-CDF ranks, no "
        "data-sized gather"
    ),
}
for _n, _why in _X1_JUSTIFIED.items():
    _prev_flags, _prev_why = ALLOWED.get(_n, (set(), ""))
    ALLOWED[_n] = (
        _prev_flags | {"single_partition_x1"},
        (_prev_why + "; " if _prev_why else "") + _why,
    )


def _flags(plan: str) -> set[str]:
    out = set()
    if "CartesianProduct" in plan:
        out.add("cartesian")
    # ANY SinglePartition exchange is review-worthy — x1 included: the
    # single-gather-of-unbounded-data case (dq_sequence_gaps' legacy
    # form) is precisely the shape a >1 threshold structurally exempted.
    # Every legitimate 1-gather plan carries an allowlist justification.
    n_single = plan.count("Exchange SinglePartition")
    if n_single >= 1:
        out.add(f"single_partition_x{n_single}")
    if "BroadcastNestedLoopJoin" in plan:
        out.add("bnlj")
    return out


def _is_allowed(flag: str, allowed: set[str]) -> bool:
    if flag in allowed:
        return True
    # single_partition_xK is allowed by any single_partition_xN with N >= K:
    # the allowlisted count is an upper bound. Plans can legitimately show
    # FEWER gathers than allowlisted (e.g. when a persisted branch is
    # served from InMemoryRelation after another test executed the query).
    if flag.startswith("single_partition_x"):
        k = int(flag.rsplit("x", 1)[1])
        for a in allowed:
            if a.startswith("single_partition_x") and int(a.rsplit("x", 1)[1]) >= k:
                return True
    return False


@pytest.mark.slow  # fleet-wide plan sweep (~3 min); runs in the round-close gate (tools/roundcheck.sh)
def test_no_unapproved_scale_red_flags(spark, sf_dir):
    offenders = {}
    for name, qd in REGISTRY.items():
        df = qd.raw_fn(spark, sf_dir)
        # Audit COLD plans: when a query (this one or an earlier test's)
        # persists an intermediate, CacheManager substitutes
        # InMemoryRelation into the plan, and the relation's toString
        # re-prints its cached subplan — inflating exchange counts with
        # duplicates of already-counted nodes. Clearing AFTER the build
        # but BEFORE reading the plan un-registers any persist the build
        # itself made (executedPlan resolves lazily on access).
        spark.catalog.clearCache()
        flags = _flags(df._jdf.queryExecution().executedPlan().toString())
        allowed = ALLOWED.get(name, (set(), ""))[0]
        extra = {f for f in flags if not _is_allowed(f, allowed)}
        if extra:
            offenders[name] = sorted(extra)
    assert not offenders, (
        "scale red flags outside the allowlist (add with a justification "
        f"only if genuinely bounded): {offenders}"
    )


@pytest.mark.slow  # fleet-wide plan sweep (~3 min); runs in the round-close gate (tools/roundcheck.sh)
def test_no_stale_allowlist_waivers(spark, sf_dir):
    """Every allowlist entry must still be EARNED: if a query's cold plan
    no longer exhibits any flag in the waived category, the waiver is
    stale and must be deleted — otherwise the allowlist silently decays
    into blanket permission for future regressions. (A lower
    single_partition count than allowlisted is fine — the entry is an
    upper bound — but ZERO single-partition exchanges means the waiver
    no longer describes the plan.)"""
    stale = {}
    for name, (allowed, _why) in ALLOWED.items():
        if name not in REGISTRY:
            stale[name] = "query no longer registered"
            continue
        df = REGISTRY[name].raw_fn(spark, sf_dir)
        spark.catalog.clearCache()
        flags = _flags(df._jdf.queryExecution().executedPlan().toString())
        for a in sorted(allowed):
            if a.startswith("single_partition_x"):
                if not any(f.startswith("single_partition_x") for f in flags):
                    stale[name] = f"waives {a} but plan has no 1-row gather"
            elif a in ("bnlj", "cartesian"):
                # Spark picks BroadcastNestedLoopJoin vs CartesianProduct
                # by runtime size estimates, so either earns a waiver in
                # the nested-loop family.
                if not flags & {"bnlj", "cartesian"}:
                    stale[name] = f"waives {a} but plan has no nested-loop join"
            elif a not in flags:
                stale[name] = f"waives {a} but plan does not exhibit it"
    assert not stale, f"stale plan-audit waivers — delete them: {stale}"
