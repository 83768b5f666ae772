"""Repo-wide physical-plan smell audit (round 5) — the generalization
of tools/audit_windows.py to the other three scale smells:

- ``CartesianProduct``            — unkeyed all-pairs join of two
                                    data-scale relations;
- ``Exchange SinglePartition``    — the whole relation funnels through
                                    one task (global sorts, coalesce(1),
                                    unpartitioned windows' shuffle);
- ``BroadcastNestedLoopJoin``     — per-row scan of the broadcast side;
                                    fine for bounded sides / theta
                                    joins, fatal for two fact relations.

Each smell is legitimate over a BOUNDED relation (band/bucket/series
rollups, 1-row stat broadcasts, declared theta joins); the audited
allowlist pins exactly which entries carry which smell so a new one
cannot land silently. Exit 1 when an entry shows a smell outside its
allowlist row.

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.audit_windows import unpartitioned_windows  # noqa: E402

def _indent(line: str) -> int:
    body = line.split("- ", 1)[-1]
    return len(line) - len(body)


def _single_partition_funnels(plan: str) -> list[str]:
    """SinglePartition exchanges whose input is NOT the benign
    global-aggregate funnel.

    ``Exchange SinglePartition`` under a final ``HashAggregate(keys=[]``
    / ``SortAggregate(key=[]`` with a ``partial_`` child moves one
    PARTIAL ROW PER TASK, not the relation — the standard scale-safe
    two-exchange global aggregate. Every other single-partition
    exchange (feeding a sort, a window, a non-aggregated relation) is
    a real funnel and is reported with its child's head for
    classification.
    """
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        my_indent = _indent(line)
        child_head = ""
        for nxt in lines[i + 1 :]:
            if not nxt.strip():
                continue  # blank separator lines between plan sections
            # the first non-blank following line is the exchange's
            # child iff it prints deeper; same-or-shallower indent
            # means the exchange is a leaf-side boundary (no child to
            # classify) — either way the FIRST such line decides.
            if _indent(nxt) > my_indent:
                child_head = nxt.strip().lstrip(":+- ")
            break
        if (
            ("HashAggregate" in child_head or "SortAggregate" in child_head)
            and "partial_" in child_head
        ):
            continue  # partial-row funnel of a global aggregate
        head = child_head.split("(")[0].split("[")[0].strip()
        out.append(head or "?")
    return out


def plan_smells(plan: str) -> set[str]:
    found = set()
    if "CartesianProduct" in plan:
        found.add("cartesian")
    if "BroadcastNestedLoopJoin" in plan:
        found.add("bnl_join")
    funnels = _single_partition_funnels(plan)
    if funnels:
        found.add("single_part_exchange")
    if unpartitioned_windows(plan):
        found.add("global_window")
    return found


# Audited allowlist (2026-08-15, all 361 entries at sf0.001). Every row
# is a smell over a BOUNDED relation; the boundedness argument lives in
# the entry's docstring. Shapes:
#   band/bucket/series prefix windows — the ALLOWED set of
#     audit_windows.py; their one-task exchange carries #bands rows.
#   1-row / stat-row funnels — global aggregates joined back broadcast
#     (anchor rows, corpus totals): the SinglePartition exchange holds
#     ONE row.
#   declared theta/interval joins — BroadcastNestedLoopJoin where one
#     side is bounded by construction (join_theta's dim side, spatial
#     grid cells, scenario grids, top-k slices).
ALLOWED: dict[str, set[str]] = {
    "ext_abc_analysis": {'global_window', 'single_part_exchange'},
    "ext_ann_recall": {'bnl_join'},
    # round 8: portable-sketch upgrades — 1-row broadcast stat joins
    # (exact-count / n / p-grid relations crossJoined back, ≤4 rows).
    "ext_approx_distinct": {'bnl_join'},
    "ext_approx_quantile": {'bnl_join'},
    "ext_assoc_rules": {'bnl_join'},
    "ext_auc": {'global_window', 'single_part_exchange'},
    "ext_audience_overlap": {'bnl_join'},
    "ext_benford": {'bnl_join'},
    "ext_best_split": {'global_window', 'single_part_exchange'},
    "ext_bitmap_index": {'global_window'},
    "ext_bm25_search": {'bnl_join'},
    "ext_bootstrap_ci": {'bnl_join'},
    "ext_burn_rate": {'global_window', 'single_part_exchange'},
    "ext_calibration": {'bnl_join'},
    "ext_chi_residuals": {'bnl_join'},
    "ext_chi_square": {'bnl_join'},
    "ext_class_balance": {'bnl_join'},
    "ext_clustering_coeff": {'bnl_join'},
    "ext_contribution_analysis": {'global_window', 'single_part_exchange'},
    "ext_cramers_v": {'bnl_join'},
    "ext_cross_correlation": {'bnl_join'},
    "ext_cuped": {'bnl_join'},
    "ext_dedup_embed": {'bnl_join'},
    "ext_domain_mix": {'bnl_join'},
    # round 9/10: DSIR family — the 1-row corpus-totals relation
    # crossJoined back onto the 64-row bucket-ratio build (weights /
    # bigram) and onto the per-doc copies arithmetic (resample);
    # resample's global window/exchange is the #bands-row offset
    # relation of banded_global_cumsum (bounded: docs/4096).
    # round 11: good_turing crossJoins the 1-row totals; lm_ppl_filter
    # crossJoins the 1-row T and the 1-row (n_docs, Σavg) decision row.
    "ext_good_turing": {'bnl_join'},
    "ext_lm_ppl_filter": {'bnl_join'},
    "ext_dsir_bigram": {'bnl_join'},
    # round 11: the composed pipeline adds the CUT's banded cumsum —
    # its global window/exchange is the weight-band offset relation,
    # ≤ ~977 rows at any corpus size (weight saturates at 1,000,001,
    # band = weight div 1024) — plus the 1-row budget broadcast.
    "ext_curriculum_order": {'bnl_join', 'global_window', 'single_part_exchange'},
    "ext_dsir_pipeline": {'bnl_join', 'global_window', 'single_part_exchange'},
    "ext_heaps_law": {'bnl_join', 'global_window', 'single_part_exchange'},
    "ext_dsir_resample": {'bnl_join', 'global_window', 'single_part_exchange'},
    "ext_dsir_weights": {'bnl_join'},
    "ext_dtw": {'bnl_join'},
    "ext_eb_shrinkage": {'bnl_join'},
    "ext_fk_audit": {'bnl_join'},
    "ext_fleiss_kappa": {'bnl_join'},
    "ext_funnel": {'bnl_join'},
    "ext_gdpr_cascade": {'bnl_join'},
    "ext_gini": {'bnl_join', 'global_window', 'single_part_exchange'},
    "ext_growth_accounting": {'bnl_join'},
    "ext_hurst": {'bnl_join'},
    "ext_hybrid_search": {'bnl_join', 'global_window'},
    "ext_isotonic": {'bnl_join', 'global_window', 'single_part_exchange'},
    "ext_js_divergence": {'bnl_join'},
    "ext_key_skew_profile": {'bnl_join'},
    "ext_kmeans": {'bnl_join'},
    # round 11: SemDeDup rides the same kmeans machinery (broadcast
    # k-row centroid relations crossJoined for assignment).
    "ext_semdedup_kmeans": {'bnl_join'},
    # round 10: KN bigram LM — the 1-row bigram-type total T
    # crossJoined onto the vocab-bounded probability relation.
    # round 11: Katz adds the 1-row unigram total and the 1-row
    # (N_1, N_6) GT-constant relation, same broadcast stat shape.
    "ext_katz_backoff": {'bnl_join'},
    # round 12: the Katz-vs-KN comparison inherits BOTH parents'
    # 1-row broadcast stat attaches (KN's T total; Katz's unigram
    # total and GT-constant row).
    "ext_katz_vs_kn": {'bnl_join'},
    # round 11: composed CCNet chain — same 1-row T + decision-row
    # broadcasts as ext_lm_ppl_filter.
    "ext_ccnet_pipeline": {'bnl_join'},
    "ext_kneser_ney": {'bnl_join'},
    "ext_kneser_ney_holdout": {'bnl_join'},
    # round 12: trigram KN — the 1-row N1+(..) continuation total
    # crossJoined onto the scoring relation (broadcast stat shape).
    "ext_trigram_kn": {'bnl_join'},
    # round 12: MMR — the 1-row query-vector broadcast attach.
    "ext_mmr_select": {'bnl_join'},
    "ext_knn_classify": {'bnl_join'},
    "ext_ks_test": {'bnl_join', 'global_window', 'single_part_exchange'},
    "ext_lift_table": {'global_window', 'single_part_exchange'},
    "ext_lm_score": {'bnl_join'},
    "ext_lorenz_deciles": {'global_window', 'single_part_exchange'},
    "ext_mann_whitney": {'global_window', 'single_part_exchange'},
    "ext_modularity": {'bnl_join'},
    "ext_mrr_map": {'bnl_join'},
    "ext_mutual_information": {'bnl_join'},
    "ext_ndcg": {'bnl_join'},
    "ext_nb_langid": {'bnl_join'},
    "ext_nb_quality": {'bnl_join'},
    "ext_negative_sampling": {'bnl_join'},
    "ext_pareto_frontier": {'global_window', 'single_part_exchange'},
    "ext_pca_power": {'bnl_join'},
    "ext_permutation_test": {'bnl_join'},
    "ext_pmi_bigrams": {'global_window', 'single_part_exchange'},
    "ext_pq_search": {'bnl_join'},
    "ext_psi": {'bnl_join'},
    "ext_raking": {'bnl_join'},
    "ext_rare_collapse": {'bnl_join'},
    "ext_rdd": {'bnl_join'},
    "ext_reservoir_sample": {'global_window'},
    "ext_rfm": {'bnl_join', 'global_window', 'single_part_exchange'},
    "ext_scenario_grid": {'bnl_join'},
    "ext_shapley_attribution": {'bnl_join'},
    "ext_sim_search": {'bnl_join'},
    "ext_sim_search_ivf": {'bnl_join'},
    "ext_spatial_join": {'bnl_join'},
    "ext_sprt_monitor": {'global_window', 'single_part_exchange'},
    "ext_stickiness": {'bnl_join'},
    "ext_stratified_ate": {'global_window', 'single_part_exchange'},
    "ext_survival_km": {'bnl_join', 'global_window', 'single_part_exchange'},
    "ext_t_closeness": {'bnl_join'},
    "ext_temperature_mix": {'global_window', 'single_part_exchange'},
    "ext_tfidf": {'bnl_join'},
    "ext_tree_depth2": {'bnl_join', 'global_window', 'single_part_exchange'},
    "ext_triangle_count": {'bnl_join'},
    "ext_uplift_deciles": {'global_window', 'single_part_exchange'},
    "ext_zipf_fit": {'global_window'},
    "ext_zorder_manifest": {'bnl_join', 'global_window', 'single_part_exchange'},
    "join_theta": {'bnl_join'},
}


def audit(sf_dir: str) -> dict[str, set[str]]:
    from proto_to_avro_ql_spark.entry_queries import QUERIES
    from proto_to_avro_ql_spark.session import get_spark

    spark = get_spark("audit_plans")
    found: dict[str, set[str]] = {}
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 - audit must not abort
            found[name] = {f"PLAN_ERROR:{type(exc).__name__}"}
            continue
        smells = plan_smells(plan)
        if smells:
            found[name] = smells
    return found


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    hits = audit(sf)
    new = {
        name: smells
        for name, smells in hits.items()
        if smells - ALLOWED.get(name, set())
    }
    for name in sorted(hits):
        flag = "NEW " if name in new else ""
        print(f"{flag}{name}: {sorted(hits[name])}")
    print(f"# {len(hits)} entries with plan smells, {len(new)} new")
    sys.exit(1 if new else 0)
