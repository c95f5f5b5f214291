"""Curation queries over the documents and embeddings: the leakage-safe
split, the cluster-balanced sample, and their determinism (with the
hybrid RRF searches) under an adversarial shuffle-partition count."""

from __future__ import annotations


def test_leakage_safe_split_keeps_clusters_together(spark, sf_dir):
    """The defining property: every member of a near-dup cluster lands on
    the SAME side of the split (a cross-split twin is eval leakage), the
    80/10/10 shape holds roughly at the cluster level, and singleton
    docs still split deterministically."""
    import __spark_entry__ as entrymod

    qs = entrymod.all_queries()
    rows = qs["doc_leakage_safe_split"](spark, sf_dir).collect()
    assert len(rows) == 500
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    # no cluster straddles the boundary
    assert all(len(s) == 1 for s in by_cluster.values())
    # multi-member clusters exist in this corpus (otherwise the test is vacuous)
    sizes: dict = {}
    for r in rows:
        sizes[r["cluster_id"]] = sizes.get(r["cluster_id"], 0) + 1
    assert any(n > 1 for n in sizes.values())
    splits = {r["split"] for r in rows}
    assert splits == {"train", "val", "test"}


def test_cluster_balanced_sample_quota_invariants(spark, sf_dir):
    """Every cluster contributes min(cluster_n, 20) rows with dense
    pick_ranks 1..q, and picks are a subset of the cluster's members —
    the equal-quota contract that makes the draw diversity-preserving."""
    import __spark_entry__ as entrymod

    qs = entrymod.all_queries()
    rows = qs["emb_cluster_balanced_sample"](spark, sf_dir).collect()
    by_cid: dict = {}
    for r in rows:
        by_cid.setdefault(r["cid"], []).append(r)
    assert len(by_cid) > 1  # the 16-cell fit must not collapse to one cell
    for cid, members in by_cid.items():
        n = members[0]["cluster_n"]
        expect = min(n, 20)
        assert len(members) == expect, (cid, n, len(members))
        assert sorted(m["pick_rank"] for m in members) == list(range(1, expect + 1))
    # equal quotas: every cluster with >= 20 members contributes exactly 20
    big = [cid for cid, m in by_cid.items() if m[0]["cluster_n"] >= 20]
    assert all(len(by_cid[cid]) == 20 for cid in big)


def test_rrf_fusion_invariant_under_adversarial_partitions(spark, sf_dir):
    """The hybrid query's fused scores are decimal sums of rounded rank
    reciprocals — identical rows under a hostile shuffle-partition count
    (the determinism an order-insensitive row comparison relies on)."""
    import __spark_entry__ as entrymod

    qs = entrymod.all_queries()
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    names = [
        "doc_hybrid_rrf_search",
        "doc_hybrid_rrf_search_ivf",
        "emb_cluster_balanced_sample",
        "doc_leakage_safe_split",
    ]
    try:
        a = {n: sorted(map(tuple, qs[n](spark, sf_dir).collect())) for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        b = {n: sorted(map(tuple, qs[n](spark, sf_dir).collect())) for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert a == b
