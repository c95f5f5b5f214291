"""Regenerate the physical-plan evidence behind docs/PLANS.md.

Prints, for each audited query: exchange/join counts and the FileScan
lines with their PushedFilters / ReadSchema (pushdown + pruning proof).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDITED = [
    "fact_ventas",
    "lineitem_pricing_summary",
    "doc_minhash_lsh",
    "ann_brute_topk",
    "fact_balance",
    "events_tumbling_window",
    "customer_balance_quartiles",
    "doc_ngram_jaccard",
    # round-5 additions: the two rewritten plans (single-tokenize BM25,
    # candidate-bounded incremental verify)
    "doc_bm25_topk",
    "doc_incremental_dedup",
    # round-5 session-2 additions
    "doc_tfidf_pairs",
    "source_quality_report",
    "emb_random_projection",
    # round-5 session-3 additions
    "doc_repeated_spans",
    "doc_segment_dedup",
    "doc_collocations",
    "events_drift_psi",
    # round-5 session-5 additions
    "lineitem_ols_trend",
    "doc_bpe_merges",
    "customer_supplier_link",
    "part_triangles",
    "events_key_skew",
    "events_value_buckets",
    "events_asof_nearest",
    # round-5 session-6 additions
    "ann_pq_topk",
    "emb_mmr_diverse",
    "events_type_hour_mi",
    "events_ks_value_drift",
    "nation_revenue_concentration",
    "trade_kcore",
    # round-6 additions
    "urgent_lineitems_bloom",
    "events_ewma_daily",
    "revenue_cusum_changepoint",
    "doc_quality_auc",
    "doc_prefix_jaccard_pairs",
    "events_purchase_path_match",
    "weekly_revenue_theilsen",
    "events_trailing_dau",
    "lsh_blocking_quality",
    # round-7 addition
    "ann_ivfpq_topk",
    # round-8 additions: the persisted/incremental index searches (no
    # training job in-plan — also gated by tests/test_round8_ops.py)
    # and the heavier round-8 window debuts
    "ann_ivfpq_persisted_topk",
    "ann_ivfpq_incremental_topk",
    "orders_profile",
    "lineitem_fd_violations",
    "doc_quality_avg_precision",
    "doc_curation_report",
    "events_value_band_rangejoin_bucketed",
    "orders_loo_priority_encoding",
    # round-8 late additions: classifier training (broadcast-model
    # scoring, no Window in the logreg trajectory), winnowing overlap
    # (fingerprint-blocked join), DSIR (broadcast 256-row model +
    # TakeOrderedAndProject), the persisted NB scorer (no training
    # job in-plan), and the mixture/gate pair
    "doc_nb_lang_classifier",
    "doc_nb_persisted_classifier",
    "doc_quality_logreg",
    "doc_winnow_overlap",
    "doc_dsir_sample",
    "doc_temperature_resample",
    "doc_source_quality_gate",
    # round-11 additions: the federated/persisted retrieval tier (no
    # corpus scan in any persisted search; bucket-pruned postings /
    # positions) and the evaluation pair
    "doc_bm25_federated_topk",
    "doc_phrase_search_persisted",
    "doc_proximity_search",
    "doc_retrieval_rank_metrics",
    "doc_bm25_prf_search_persisted",
    # round-12 additions: sloppy phrase over the v2 array layout and the
    # stream-maintained inverted index (search plan must look exactly
    # like any persisted BM25 search: bucket-pruned, no corpus scan)
    "doc_phrase_slop_search",
    "doc_bm25_maintained_topk",
    "doc_cooccurrence_search",
    # round-13 additions: the compacted-index searches (must carry
    # exactly their family's persisted-search shape — compaction changes
    # layout, not plan) and the maintained-NB scorer (no training job,
    # no epoch machinery in the read path)
    "doc_bm25_compacted_topk",
    "doc_phrase_search_compacted",
    "ann_ivfpq_compacted_topk",
    "doc_nb_maintained_classifier",
]


def main() -> None:
    import __spark_entry__ as entrymod
    from data_warehouse_punta_fina_spark import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plan_audit")
    # audited set spans both registries (driver window + extras)
    qs = entrymod.all_queries()

    def build(name):
        if name == "fact_ventas":
            # bypass the session memo (lazy localCheckpoint collapses the
            # executed plan to an RDD scan) — audit the real builder plan
            from data_warehouse_punta_fina_spark.plans.dims import (
                build_dim_almacen,
                build_dim_cliente,
                build_dim_producto,
            )
            from data_warehouse_punta_fina_spark.plans.facts import build_fact_ventas

            return build_fact_ventas(
                spark,
                sf_dir,
                build_dim_producto(spark, sf_dir),
                build_dim_cliente(spark, sf_dir),
                build_dim_almacen(spark, sf_dir),
            )
        return qs[name](spark, sf_dir)

    for name in AUDITED:
        df = build(name)
        plan = df._jdf.queryExecution().executedPlan().toString()
        print(f"\n##### {name}")
        print(
            "Exchanges:",
            sum(plan.count(k) for k in ("Exchange hashpartitioning", "Exchange SinglePartition", "Exchange RoundRobin")),
            "| BroadcastHashJoin:", plan.count("BroadcastHashJoin"),
            "| SortMergeJoin:", plan.count("SortMergeJoin"),
        )
        for line in plan.splitlines():
            s = line.strip().lstrip(":+- ")
            if s.startswith("FileScan parquet"):
                pf = line[line.index("PushedFilters"):][:140] if "PushedFilters" in line else ""
                rs = line[line.index("ReadSchema"):][:140] if "ReadSchema" in line else ""
                print("  SCAN:", s[:58], "|", pf, "|", rs)
    spark.stop()


if __name__ == "__main__":
    main()
