"""Round-9 operator gates: session-memo reset, RRF determinism under
adversarial partitioning, and cluster-balanced quota invariants."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_reset_session_memo_rebuilds_identically(spark):
    """bench.py times the flagship min-of-2 via reset_session_memo(): the
    reset must empty the memo AND a rebuilt fact must be row-identical to
    the first build (determinism of the whole dataflow, not just the
    cache)."""
    import __spark_entry__ as entrymod
    from data_warehouse_punta_fina_spark.registry import star

    sf = "/root/testdata/sf0.001"
    q = entrymod.all_queries()["fact_ventas"]
    first = {(r["venta_id"]): (r["total"], r["cliente_id"]) for r in q(spark, sf).collect()}
    assert len(star._DIM_MEMO) > 0
    entrymod.reset_session_memo()
    assert star._DIM_MEMO == {}
    second = {(r["venta_id"]): (r["total"], r["cliente_id"]) for r in q(spark, sf).collect()}
    assert first == second


def test_rrf_fusion_invariant_under_adversarial_partitions(spark):
    """The hybrid query's fused scores are decimal sums of rounded rank
    reciprocals — identical rows under a hostile shuffle-partition count
    (the cluster-determinism gate the driver's value hash relies on)."""
    import __spark_entry__ as entrymod

    qs = entrymod.all_queries()
    sf = "/root/testdata/sf0.001"
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    names = [
        "doc_hybrid_rrf_search",
        "doc_hybrid_rrf_search_ivf",
        "emb_cluster_balanced_sample",
        "doc_leakage_safe_split",
    ]
    try:
        a = {n: sorted(map(tuple, qs[n](spark, sf).collect())) for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        b = {n: sorted(map(tuple, qs[n](spark, sf).collect())) for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert a == b


def test_leakage_safe_split_keeps_clusters_together(spark):
    """The defining property: every member of a near-dup cluster lands on
    the SAME side of the split (a cross-split twin is eval leakage), the
    80/10/10 shape holds roughly at the cluster level, and singleton
    docs still split deterministically."""
    import __spark_entry__ as entrymod

    qs = entrymod.all_queries()
    rows = qs["doc_leakage_safe_split"](spark, "/root/testdata/sf0.001").collect()
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


def test_luhn_valid_known_card_numbers(spark):
    """Luhn checksum (functions.text.luhn_valid): canonical test numbers
    validate, off-by-one digits fail, non-digit/empty input is NULL —
    the precision gate for card-like <NUMBER> PII candidates, computed
    entirely in codegen (no UDF)."""
    from data_warehouse_punta_fina_spark.functions.text import luhn_valid

    rows = [
        (1, "4539578763621486", True),   # canonical Visa test number
        (2, "4539578763621487", False),  # last digit off by one
        (3, "79927398713", True),        # the classic Luhn example
        (4, "79927398710", False),
        (5, "378282246310005", True),    # 15-digit Amex test number
        (6, "1234567812345678", False),
        (7, "4539 5787 6362 1486", None),  # spaces: caller must strip first
        (8, "", None),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s, _ in rows], "id int, digits string"
    )
    got = {r["id"]: r["ok"] for r in df.select("id", luhn_valid("digits").alias("ok")).collect()}
    want = {i: v for i, _, v in rows}
    assert got == want
    # python cross-check over a digit sweep: appending the correct check
    # digit always validates, any other check digit never does
    import random

    rng = random.Random(7)
    bodies = ["".join(rng.choice("0123456789") for _ in range(15)) for _ in range(10)]

    def check_digit(body: str) -> str:
        digits = [int(d) for d in body][::-1]
        s = 0
        for i, d in enumerate(digits):
            if i % 2 == 0:  # positions that double once the check digit appends
                d *= 2
                if d > 9:
                    d -= 9
            s += d
        return str((10 - s % 10) % 10)

    cases = []
    for b in bodies:
        cd = check_digit(b)
        for d in "0123456789":
            cases.append((b + d, d == cd))
    df2 = spark.createDataFrame(cases, "digits string, want boolean")
    bad = df2.filter(luhn_valid("digits") != F.col("want")).count()
    assert bad == 0


def test_cluster_balanced_sample_quota_invariants(spark):
    """Every cluster contributes min(cluster_n, 20) rows with dense
    pick_ranks 1..q, and picks are a subset of the cluster's members —
    the equal-quota contract that makes the draw diversity-preserving."""
    import __spark_entry__ as entrymod

    qs = entrymod.all_queries()
    sf = "/root/testdata/sf0.001"
    rows = qs["emb_cluster_balanced_sample"](spark, sf).collect()
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
