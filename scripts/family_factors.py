#!/usr/bin/env python3
"""Per-family sf0.1 -> sf1 scaling factors from two bench JSONs.

Buckets every query into the BASELINE.md family taxonomy (one query
module per family, e.g. graft.dedup.DedupQueries) and prints the
summed-minimum ratio per family plus the whole-surface ratio — the
numbers the standing sf1 row quotes. Dev tooling only.

Usage: python3 scripts/family_factors.py BENCH_FULL_sf01.json BENCH_sf1.json
"""
import json
import sys

FAMILIES = {
    "cdc_serde": ["q_envelope", "q_json_roundtrip", "q_cdc_", "q_audit_parse",
                  "q_snapshot_diff", "q_latest", "q_scd2", "q_table_checksum"],
    "filters_enrich": ["q_debit", "q_high_value", "q_two_hop", "q_enrich",
                       "q_notification", "q_format", "q_velocity", "q_daily_spend",
                       "q_dormancy", "q_balance_reconcile", "q_reconcile"],
    "events": ["q_funnel", "q_event_", "q_gap_fill", "q_session", "q_weekly",
               "q_spend_", "q_rolling", "q_ewma", "q_churn", "q_idle_customer",
               "q_interval", "q_asof", "q_time_weighted", "q_distinct_users",
               "q_heavy_hitters", "q_topk_spenders", "q_fraud"],
    "tpch": ["q_pricing", "q_ship", "q_large_orders", "q_local_supplier",
             "q_min_cost", "q_order_count", "q_part_supplier", "q_priority",
             "q_small_qty", "q_top_supplier", "q_waiting", "q_fk_audit",
             "q_rollup", "q_cube", "q_pivot", "q_salt"],
    "text_prep": ["q_text_", "q_token", "q_lang_cap", "q_doc_", "q_bpe",
                  "q_unigram", "q_bigram", "q_tfidf", "q_decontaminate",
                  "q_repetition", "q_mixture", "q_corpus", "q_seq_pack",
                  "q_train", "q_curriculum", "q_boilerplate", "q_importance",
                  "q_dataset_card", "q_stratified", "q_label_centroids",
                  "q_nb_", "q_pmi", "q_frequent_pairs", "q_rank_fusion",
                  "q_source_mix", "q_bm25", "q_ql_", "q_hybrid", "q_postings",
                  "q_retrieval", "q_weighted_sample", "q_leakage"],
    "dedup": ["q_dedup", "q_dup_", "q_semantic", "q_kmv"],
    "sim": ["q_sim_", "q_embed_", "q_pq_encode", "q_hard_negatives"],
    "graph": ["q_pagerank", "q_trustrank", "q_triangles", "q_kcore",
              "q_prefix_jaccard"],
    "multimodal": ["q_multimodal"],
    "stats": ["q_amount_histogram", "q_approx_percentiles", "q_benford",
              "q_chi_square", "q_equidepth", "q_exact_percentiles",
              "q_mad_", "q_profile", "q_psi", "q_stats", "q_winsorize",
              "q_zscore", "q_zorder", "q_rfm", "q_k_anonymity",
              "q_l_diversity"],
}


def family(name):
    for fam, prefixes in FAMILIES.items():
        if any(name.startswith(p) for p in prefixes):
            return fam
    return "other"


def load(path):
    d = json.load(open(path))
    return d["queries"], d["value"]


def main():
    a, atot = load(sys.argv[1])
    b, btot = load(sys.argv[2])
    common = sorted(set(a) & set(b))
    missing = sorted(set(a) ^ set(b))
    if missing:
        print(f"(surface mismatch, ignored: {missing})")
    sums = {}
    for q in common:
        f = family(q)
        s = sums.setdefault(f, [0.0, 0.0, 0])
        s[0] += a[q]
        s[1] += b[q]
        s[2] += 1
    print(f"{'family':<16}{'n':>4}{'sf0.1 s':>10}{'sf1 s':>10}{'ratio':>8}")
    for f in sorted(sums, key=lambda f: -sums[f][1] / max(sums[f][0], 1e-9)):
        s01, s1, n = sums[f]
        print(f"{f:<16}{n:>4}{s01:>10.1f}{s1:>10.1f}{s1 / max(s01, 1e-9):>8.2f}")
    t01 = sum(a[q] for q in common)
    t1 = sum(b[q] for q in common)
    print(f"{'TOTAL':<16}{len(common):>4}{t01:>10.1f}{t1:>10.1f}{t1 / t01:>8.2f}")


if __name__ == "__main__":
    main()
