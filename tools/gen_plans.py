"""Regenerate PLANS.md — physical-plan audit of headline queries."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from proto_to_avro_ql_spark.entry_queries import QUERIES  # noqa: E402
from proto_to_avro_ql_spark.session import get_spark  # noqa: E402

AUDIT = {
    "flagship_report": "projection + filters + grouped sums + ratios (the reference's whole pipeline)",
    "src_parquet_scan": "predicate + column pushdown",
    "proj_paths": "nested projection over the synthesized view",
    "join_equi_inner": "dimension join",
    "ext_dedup_near": "normalize+hash dedup",
    "ext_sim_search": "brute-force cosine top-k (each kernel one SQL-text expression)",
    "ext_window_rank": "per-user latest event",
    "ext_sessionize": "gap sessionization",
    "ext_asof_join": "as-of join via union+window",
    "ext_range_join": "binned interval join (no nested loop)",
    "ext_bm25_search": "BM25 lexical top-k (broadcast idf)",
    "ext_corpus_pipeline": "score-then-dedup corpus cleaning",
    "ext_contamination": "8-gram eval-overlap check (broadcast eval)",
    "ext_stratified_sample": "deterministic hash sampling (no exchange)",
    # round 2 additions
    "ext_dedup_ngram_jaccard": "inverted-index Jaccard (n_sh inline, no sizes join)",
    "ext_repetition_score": "repetition signals (two keyed aggs, text never shuffles)",
    "ext_lm_score": "unigram LM score (vocab agg + token-keyed rejoin)",
    "ext_domain_mix": "domain-mix solver (per-source agg + 1-row budget)",
    "src_proto_decode": "proto wire decode (mapInArrow, no shuffle)",
    "ext_multi_join_report": "3-hop star join (only nation broadcast-hinted)",
    "ext_doc_chunk": "fixed-window chunking (narrow explode, zero exchanges)",
    "ext_segment_dedup": "segment dedup (md5+ids shuffle, text stays at scan)",
    "ext_tfidf": "TF-IDF top terms (term-keyed joins, text never shuffles)",
    "ext_funnel": "ordered funnel (user-keyed aggs, 1-row broadcast counts)",
    "join_full_outer": "full-outer reconciliation (must stay shuffle-merge)",
    "ext_forward_fill": "forward-fill imputation (single window exchange)",
    "ext_bloom_prune": "Bloom semi-join pruning (scan-absorbed bit tests)",
    "ext_zorder_layout": "z-order layout (one range exchange on the code)",
    "ext_temperature_mix": "temperature mix (group stats broadcast, 1 corpus agg)",
    "ext_dedup_lsh_incremental": "incremental LSH admission (batch x corpus only)",
    "ext_domain_cap": "per-domain cap (one window shuffle, group-limit pushdown)",
    # round 3
    "ext_pivot": "declared-values pivot (ONE conditional-sum hash agg)",
    "ext_unpivot": "melt to long format (narrow expansion, zero exchanges)",
    "ext_percentiles": "exact grouped quantiles (sort aggregate, one exchange)",
    "ext_vocab": "global top-k via TakeOrderedAndProject (no window)",
    "ext_zorder_manifest": "banded global ntile (windows partitioned by _band)",
    "ext_range_frame": "time-RANGE frame (one user-keyed exchange)",
    "ext_embed_centroids": "per-label centroid (scalar shuffle, no vectors)",
    "agg_grouping_sets": "grouping sets (one Expand + one agg pass)",
    # round 3, session 2
    "ext_variant_json": "Variant schema-on-read (narrow JVM expressions, zero exchanges)",
    "ext_entropy": "token entropy ((doc,token) agg + doc window, 2 exchanges)",
    "ext_udtf_tokens": "Python UDTF lateral join (documented slow path)",
    "ext_pmi_bigrams": "PMI collocations (windows over bigram vocab, TakeOrdered top-k)",
    "ext_embed_quantize": "int8 embedding quantize (narrow array exprs, zero exchanges)",
    "ext_semdedup": "SemDeDup cell-scoped pairs (salted cell join + key anti-join)",
    "ext_multimodal_resize": "NN resize (one Arrow pass, no shuffle)",
    "ext_hybrid_search": "RRF fusion of BM25 + cosine top-20 (20-row join)",
    "ext_recursive_cte": "native recursive CTE (frontier joins to fixpoint)",
    # round 3, session 3
    "ext_pagerank": "3-iteration PageRank (keyed joins, cached edges, no nested loop)",
    "ext_ewma": "EWMA 10 lags (ONE window node, one user-keyed exchange)",
    "ext_lateral_topk": "correlated LATERAL (decorrelated to window+join)",
    "ext_winsorize": "winsorize (percentile agg once, bounds broadcast back)",
    "ext_markov_transitions": "Markov transitions (3 keyed exchanges, no joins)",
    "ext_url_normalize": "URL canonicalization (narrow exprs, zero exchanges)",
    "ext_dedup_containment": "containment pairs (same blocking as ngram Jaccard)",
    "ext_map_in_arrow": "Arrow-native Python hop (MapInArrow, no shuffle)",
    "ext_auc": "exact AUC (distinct-score agg + banded prefix, 1 division)",
    "ext_ndcg": "NDCG@10 (broadcast queries, decimal-literal gains)",
    "ext_scd2_join": "SCD2 lookup (broadcast equi join, interval filter)",
    "ext_overlap_join": "interval overlap (user-keyed join + bound filters)",
    "ext_class_metrics": "confusion counts (one conditional agg, 4-int shuffle)",
    "ext_feature_hash": "hashing-trick vectorizer (one (doc,bucket) exchange)",
    "ext_file_metadata": "_metadata file lineage (per-partition agg)",
    "ext_window_navigation": "six navigation fns, ONE window exchange",
    "ext_array_ops": "higher-order array lanes (narrow codegen, 0 exchanges)",
    "ext_copurchase": "basket pairs (apriori prune BEFORE the order-keyed self-join)",
    "ext_vocab_coverage": "vocab coverage (top-k joined back at vocab cardinality)",
    "ext_conversion_lag": "conversion lag (one conditional-MIN pass, disc percentiles)",
    "ext_degree_dist": "degree histogram (two map-side-partial aggs)",
    "ext_triangle_count": "degree-oriented triangles (cached oriented edges, keyed wedge joins)",
    "ext_survivorship": "golden record (ONE max_by aggregation, no window/self-join)",
    "ext_dedup_url": "canonical-URL dedup (keys shuffle, text stays put)",
    "ext_ks_test": "exact KS statistic (band-partitioned ECDF prefix sums)",
    "ext_gini": "Gini + top-1% share (banded global rank, 128-bit sums)",
    "ext_js_divergence": "token JSD (vocab-scale conditional agg, broadcast totals)",
    "ext_chi_square": "integer-micros chi-square (broadcast marginals, zero-cell cross)",
    "ext_cusum": "CUSUM changepoint (integer n*Sk - k*Sn, type-keyed windows)",
    "ext_sql_udf": "SQL-defined function (inlined, no Python node)",
    "ext_key_skew_profile": "heavy-hitter profile (TakeOrdered over agg counts)",
    "ext_graph_jaccard": "link scoring (oriented triangle enumeration, no adjacency arrays)",
    "ext_spatial_join": "grid-blocked radius join (cell equi join, int predicate)",
    "ext_bootstrap_ci": "Poisson bootstrap (one explode + one agg, all replicates)",
    "ext_attribution": "integer-ledger attribution (user join + pid window)",
    "ext_snapshot_diff": "CDC diff (full-outer on id, hashes shuffle)",
    "ext_gopher_rules": "quality gate (zero exchanges, scan-stage only)",
    "ext_label_propagation": "3-round LPA (driver-side rounds over the Arrow-collected edges, labels back as a LocalTableScan; keyed rounds over a cached adjacency above LOCAL_CUTOFF)",
    # round 3 session 5 additions
    "ext_cc_starcontraction": "CC (union-find over the Arrow-collected edges, a LocalTableScan leaf; log-round edge-keyed star contraction above LOCAL_CUTOFF)",
    "ext_event_paths": "journey paths (ordering inside the agg, TakeOrdered)",
    "ext_rolling_median": "rolling exact median (one keyed window)",
    "ext_mann_whitney": "U test (banded midrank prefix sums, cached cents)",
    "ext_kcore": "k-core (distributed peel while large; bounded numpy tail, so the bench-SF plan is its Arrow LocalTableScan)",
    "ext_freq_triples": "apriori triples (cached pairs, keyed self-joins)",
    "ext_trend_ols": "OLS trend (one moment aggregate, no window)",
    "ext_time_weighted_avg": "TWA (one keyed window, 128-bit weights)",
    "ext_entity_resolution": "entity resolution (vocab-scale fuzzy + string CC)",
    "ext_survival_km": "Kaplan-Meier (cached duration relation, tiny prefix)",
    "ext_cuped": "CUPED (one user agg, pooled + variant moments shared)",
    "ext_trimmed_mean": "trimmed mean (type-banded prefix, integer selection)",
    "ext_lift_table": "decile gains (banded global rank, 10-row windows)",
    "ext_token_overlap_matrix": "vocab overlap (cached type relation, token joins)",
    "ext_zipf_fit": "Zipf fit (TakeOrdered candidates, integer-micros moments)",
    "ext_mutual_information": "MI over contingency (cached, broadcast marginals)",
    # round 4
    "ext_dedup_span": "repeated passages (hash-only count shuffle, text after top-k)",
    "ext_reservoir_sample": "deterministic k-sample (TakeOrdered, no global sort)",
    "ext_minhash_merge": "mergeable MinHash (one map-side-partial signature agg)",
    "ext_pq_search": "PQ ADC search (broadcast codebooks, LUT join + hash agg)",
    "src_state_reader": "statestore read of a completed stream (vs batch oracle)",
    # round 4, session 2
    "ext_prop_ztest": "two-proportion z (one conditional agg pass, 1-row result)",
    "ext_rfm": "RFM quintile grid (banded ranks — windows partitioned by _band)",
    "join_theta": "pure inequality join (broadcast nested loop, fact unshuffled)",
    "ext_shortest_path": "3-round BFS (cached edges, (id,dist)-only shuffles)",
    "src_binary_files": "binaryFile whole-object scan (JVM-side md5/length)",
    "ext_qte": "per-decile treatment effects (one scan, 18 quantiles, stack melt)",
    "ext_modularity": "Newman Q of the LPA partition (integer kernel, cached labels)",
    "ext_hits": "bipartite HITS path counting (keyed agg rounds, TakeOrdered)",
    "ext_negative_sampling": "hash negatives (narrow explode, keyed anti join)",
    "ext_gdpr_cascade": "erasure-impact audit (broadcast semi probes, 1-row aggs)",
    "ext_runs_test": "runs test (one daily agg, two narrow windows, 5-row output)",
    "ext_stratified_ate": "post-stratified ATE (one conditional agg, ordered-frame combine)",
    "udf_grouped_arrow": "grouped-map applyInArrow (one group-key shuffle, Arrow hop)",
    "sink_stream_foreachbatch": "foreachBatch sink read-back (written table scan)",
    "ext_backtest_naive": "seasonal-naive backtest (daily agg + lag window)",
    "ext_assortativity": "degree-mixing r (degree agg + keyed joins, 1-row moments)",
    "ext_clustering_coeff": "transitivity (oriented out-list triangles + degree wedges)",
    "ext_theilsen": "Theil-Sen (daily rollup, per-type bounded pair join, median)",
    "ext_fk_audit": "FK orphans (broadcast anti probes per relationship)",
    "ext_rate_test": "two-count rate z (one conditional agg pass)",
    "ext_hash_uniformity": "hash-bucket chi-square (bucket agg + 1-row moments)",
    "ext_wilson_interval": "Wilson CI (one conditional agg, closed form)",
    "ext_mde_sizing": "MDE sizing (decimal moment kernel, 5-row output)",
    "ext_srm_check": "SRM guardrail (distinct users + 1-row chi-square)",
    "ext_contribution_analysis": "delta decomposition (one agg + bounded window)",
    "ext_pareto_frontier": "2-D skyline (banded prefix-max, no global window)",
    # round 4, batch 9
    "ext_spearman": "rank correlation on contingency cells (marginal-sized windows)",
    "ext_t_closeness": "distribution-distance privacy check (cell-relation math)",
    "ext_readability": "Flesch scoring (pure column exprs, one group agg)",
    "ext_assoc_rules": "market-basket rules (in-task pairs, TakeOrdered top-k)",
    "ext_ohlc": "OHLC bars (ONE window node + same-key agg)",
    "ext_holt": "Holt level+trend (fact-scale agg, series-sized Python)",
    # round 4, batch 10
    "ext_kendall_tau": "tau-b via 2-D prefix sums on the dense cell grid",
    "ext_mann_kendall": "MK trend test (pair join on series-sized relation)",
    "ext_psm_match": "caliper 1-NN matching (edge windows, keyed joins)",
    "ext_uplift_deciles": "uplift by decile (banded ntile, one count agg)",
    "ext_anomaly_band": "median/MAD control band (bounded 7-row frames)",
    # round 4, batch 11
    "ext_dbscan_grid": "grid DBSCAN (cell agg + components on cell graph)",
    "ext_seasonal_decompose": "STL-lite decomposition (7-row frames, weekday join)",
    "ext_jl_projection": "JL signed projection (array exprs, zero exchanges)",
    "ext_chi_residuals": "per-cell chi residuals (marginal grid math)",
    # round 4, batch 12
    "ext_isotonic": "isotonic PAV via closed-form minimax on buckets",
    "ext_shapley_attribution": "Shapley credit over the 16-set lattice",
    "ext_pca_power": "integer covariance + 3 mat-vec power steps",
    # round 4, batch 13
    "ext_best_split": "Gini split search via prefix sums on buckets",
    "ext_permutation_test": "100-replicate randomization test, one explode+agg",
    "ext_raking": "IPF raking, four cell-relation scaling steps",
    # round 4, batch 14
    "ext_knn_classify": "kNN vote eval over broadcast brute-force top-k",
    "ext_cluster_quality": "squared-distance cohesion/separation, exact micros",
    "ext_coec_bias": "COEC position-bias correction, broadcast CTR table",
    # round 4, batch 15
    "ext_anova": "one-way F from truncated-micros group moments",
    "ext_mrr_map": "MRR/MAP@10 per query, integer-micros fold",
    "ext_holt_winters": "triple smoothing, seasonal ring in series Python",
    # round 4, batch 16
    "ext_effect_size": "Cohen d / Hedges g from one conditional agg",
    "ext_markov_absorption": "absorbing-chain steps, 6 micros iterations",
    "ext_dtw": "pairwise DTW, series-sized mapInPandas",
    # round 4, batch 17
    "ext_lorenz_deciles": "revenue Lorenz curve via banded ntile",
    "ext_tree_depth2": "two-level split search, one pass per level",
    # round 4, batch 18
    "ext_sequence_match": "regex over per-user event trails",
    "ext_price_index": "Laspeyres/Paasche vs frozen base basket",
    # round 4, batch 19
    "ext_growth_accounting": "DAU flows via day-shifted self-joins",
    "ext_rdd": "local-linear discontinuity, six moments per side",
    "ext_capture_recapture": "Chapman estimate, one per-user agg",
    # round 4, batch 20
    "ext_cohort_ltv": "cohort LTV curves, cohort-age running sums",
    "ext_scenario_grid": "9 what-if scenarios from ONE scan",
    "ext_audience_overlap": "pairwise audience Jaccard via bitmaps",
    # round 4, batch 21
    "ext_abc_analysis": "ABC classes via banded global prefix sums",
    "ext_peak_detection": "local maxima, bounded lag/lead frames",
    "ext_elasticity": "log-log demand OLS, rounded-ln micros",
    # round 4, batch 22
    "ext_factorial_effects": "2x2 contrasts from one conditional agg",
    "ext_novelty_curve": "first-occurrence novelty, one shingle pass",
    # round 4, batch 23
    "ext_fleiss_kappa": "n-rater agreement, two integer aggregates",
    "ext_seasonal_mk": "Hirsch-Slack MK, within-stratum pairs only",
    "ext_streaks": "gaps-and-islands streaks, one window + two aggs",
    "ext_stickiness": "DAU/WAU/MAU via bounded 28x fan-out",
    "ext_xyz_analysis": "demand-CV classes from three moments",
    "ext_burn_rate": "multi-window SLO burn, integer alert predicate",
    "ext_bitmap_index": "bitmap build + AND/popcount conjunctive counts",
    "ext_paired_ttest": "within-user pre/post t, exact diff moments",
    "ext_eb_shrinkage": "posterior-mean rate smoothing, integer SS",
    "ext_cross_correlation": "CCF at 7 lags, date-shifted series joins",
    "ext_hurst": "R/S long-memory slope, scaled-integer windows",
    "ext_sql_identifier": "IDENTIFIER()-bound dynamic names",
    "ext_sql_groupby_all": "GROUP BY ALL sugar parity",
    "ext_match_pattern": "V-shape row patterns via direction islands",
    "ext_feature_importance": "4-feature Gini screen via one melted pass",
    # round 9
    "ext_dsir_weights": "DSIR selection (bucketed token counts, broadcast ratios, TakeOrdered)",
    "ext_dsir_bigram": "DSIR bigram features (map-side zip_with pairing, same scoring tail)",
    "ext_bpe_train": "BPE merge training (one word-freq pass, driver-side merge loop, rules back as a LocalTableScan; k pair-count aggregates above LOCAL_CUTOFF)",
    "ext_bpe_encode": "BPE encoding (trained rules as k literal replaces over (lang, word) counts)",
    "ext_kneser_ney": "KN bigram LM (one corpus partial-agg, vocab-bounded joins, broadcast T)",
    "ext_kneser_ney_holdout": "held-out KN (split in the one partial-agg, vocab-bounded LEFT joins, OOV floor)",
    "ext_nb_langid": "NB lang-id (one bucket partial-agg, broadcast LxB model, per-doc argmax window)",
    "ext_dsir_resample": "DSIR systematic resample (banded cumsum, broadcast total, per-row copies arithmetic)",
    "ext_tokenizer_fertility": "per-lang fertility (one map pass, #langs-row agg, no joins)",
}

CODEGEN_RE = re.compile(r"\*\((\d+)\)")
SCAN_RE = re.compile(r"FileScan parquet \[([^\]]*)\]")
PLAN_ID_RE = re.compile(r"\[plan_id=(\d+)\]")


def count_nodes(plan: str, marker: str) -> int:
    """Count distinct EXECUTED plan nodes containing ``marker``."""
    # Two inflation sources in AQE plan strings, neither of which is
    # executed work: (a) every AdaptiveSparkPlan prints its pre-runtime
    # "== Initial Plan ==" alongside the final one (the bulk — ~6x on
    # cache-heavy queries), and (b) a cached relation re-prints its
    # defining plan (fresh plan_ids each time) under every
    # InMemoryRelation reference. Skip initial sections, then dedup by
    # content with expr-ids/plan-ids stripped so re-prints collapse.
    # Textually identical but genuinely re-executed branch twins merge
    # too — a slight undercount, preferred to the former 5-10x
    # overcount.
    seen: set[str] = set()
    mode = "exec"
    for line in plan.splitlines():
        if "== Final Plan ==" in line:
            mode = "final"
            continue
        if "== Initial Plan ==" in line:
            mode = "initial"
            continue
        if mode == "initial":
            continue
        if marker not in line or "ReusedExchange" in line:
            continue
        norm = re.sub(r"#\d+|\[plan_id=\d+\]", "", line).lstrip(" :+-*")
        seen.add(norm)
    return len(seen)


def main() -> None:
    spark = get_spark("plans")
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = [
        "# PLANS — physical-plan audit of headline queries (sf0.01, generated)",
        "",
        "Regenerate with `python tools/gen_plans.py`. Summary metrics per",
        "query: exchanges (shuffles), broadcast joins, sort-merge joins,",
        "hash aggregates, codegen spans, scan width. Hard assertions live",
        "in tests/test_plans.py.",
        "",
        "Counting basis: the AQE FINAL plan as executed at sf0.01 —",
        "never-executed `== Initial Plan ==` sections and cached-relation",
        "re-prints are excluded, and nodes are deduplicated by",
        "expr-id-stripped content (re-printed shared subtrees collapse;",
        "textually identical branch twins may merge, so counts are a",
        "floor, not a ceiling). AQE may have runtime-converted small",
        "shuffles to broadcasts at this scale; at lake scale the same",
        "queries plan more exchanges.",
        "",
    ]
    for name, desc in AUDIT.items():
        df = QUERIES[name](spark, sf)
        df.count()  # finalize the adaptive plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_codegen = len(set(CODEGEN_RE.findall(plan)))
        out.append(f"## {name} — {desc}\n")
        out.append(
            f"- exchanges: {count_nodes(plan, 'Exchange hashpartitioning')}"
            f" | broadcast joins: {count_nodes(plan, 'BroadcastHashJoin')}"
            f" | sort-merge joins: {count_nodes(plan, 'SortMergeJoin')}"
            f" | hash aggregates: {count_nodes(plan, 'HashAggregate')}"
            f" | codegen spans: {n_codegen}"
        )
        for s in SCAN_RE.findall(plan)[:4]:
            cols = [c.split("#")[0] for c in s.split(",")]
            shown = ", ".join(cols[:6]) + (", …" if len(cols) > 6 else "")
            out.append(f"- scan: {len(cols)} cols [{shown}]")
        out.append("")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(AUDIT)} queries)")


if __name__ == "__main__":
    main()
