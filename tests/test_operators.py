"""Unit tests for the reusable operator library (SURVEY.md §2 inventory).

Small in-memory DataFrames; every invariant the reference enforces at
runtime (SURVEY.md §5.2) is asserted here as a first-class test.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F


def test_sk_lookup_default_member(spark):
    from data_warehouse_punta_fina_spark.operators.sk_lookup import sk_lookup

    fact = spark.createDataFrame([(1, 10), (2, 20), (3, 99)], "id int, nk int")
    dim = spark.createDataFrame([(2, 10), (3, 20)], "sk int, nk int")
    out = sk_lookup(fact, dim, "nk", sk="sk").orderBy("id").collect()
    assert [r["sk"] for r in out] == [2, 3, 1]  # 99 falls back to default member 1
    assert len(out) == 3  # row count preserved (1:1 join)


def test_sk_lookup_preserves_rowcount_on_dup_dim(spark):
    from data_warehouse_punta_fina_spark.operators.sk_lookup import sk_lookup

    fact = spark.createDataFrame([(1, 10)], "id int, nk int")
    dim = spark.createDataFrame([(2, 10), (3, 10)], "sk int, nk int")  # dirty dim
    assert sk_lookup(fact, dim, "nk", sk="sk").count() == 1


def test_running_total_and_lag(spark):
    from data_warehouse_punta_fina_spark.operators.windows import lag_prev, running_total

    df = spark.createDataFrame(
        [("a", 1, Decimal("10.00")), ("a", 2, Decimal("5.00")), ("b", 1, Decimal("7.00"))],
        "k string, t int, v decimal(15,2)",
    )
    out = running_total(df, "v", "k", "t", out="run")
    out = lag_prev(out, "run", "k", "t", default=0, out="prev")
    rows = {(r["k"], r["t"]): (r["run"], r["prev"]) for r in out.collect()}
    assert rows[("a", 1)] == (Decimal("10.00"), Decimal("0.00"))
    assert rows[("a", 2)] == (Decimal("15.00"), Decimal("10.00"))
    assert rows[("b", 1)] == (Decimal("7.00"), Decimal("0.00"))


def test_top_n_per_group_deterministic_ties(spark):
    from data_warehouse_punta_fina_spark.operators.windows import top_n_per_group

    df = spark.createDataFrame(
        [("a", 1, 5), ("a", 2, 5), ("b", 3, 1)], "k string, id int, v int"
    )
    out = top_n_per_group(df, "k", [F.desc("v"), F.asc("id")], n=1)
    assert {(r["k"], r["id"]) for r in out.collect()} == {("a", 1), ("b", 3)}


def test_dedupe_by_grain_keeps_first_by_order(spark):
    from data_warehouse_punta_fina_spark.operators.dedup import dedupe_by_grain

    df = spark.createDataFrame(
        [(1, "z", 30), (1, "a", 10), (2, "m", 20)], "k int, payload string, v int"
    )
    out = dedupe_by_grain(df, ["k"], [F.asc("payload")])
    assert {(r["k"], r["payload"]) for r in out.collect()} == {(1, "a"), (2, "m")}


def test_journal_explode_double_entry_invariant(spark):
    """Σ débitos == Σ créditos (reference `complete_fact_builder.py:973-980`)."""
    from data_warehouse_punta_fina_spark.operators.journal import explode_journal_entries

    base = spark.createDataFrame(
        [
            (1, Decimal("113.00"), Decimal("100.00"), Decimal("13.00"), Decimal("40.00")),
            (2, Decimal("226.00"), Decimal("200.00"), Decimal("26.00"), Decimal("0.00")),
        ],
        "orden_id int, total decimal(15,2), subtotal decimal(15,2), iva decimal(15,2), costo decimal(15,2)",
    )
    j = explode_journal_entries(base)
    agg = j.groupBy().agg(
        F.sum(F.when(F.col("tipo_movimiento") == "DEBITO", F.col("monto")).otherwise(0)).alias("d"),
        F.sum(F.when(F.col("tipo_movimiento") == "CREDITO", F.col("monto")).otherwise(0)).alias("c"),
    ).collect()[0]
    assert agg["d"] == agg["c"]
    # order 1: 5 entries (iva>0, costo>0); order 2: 3 entries (no costo rows... iva only)
    counts = {r["orden_id"]: r["n"] for r in j.groupBy("orden_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {1: 5, 2: 3}


def test_pivot_sum_explicit_values(spark):
    from data_warehouse_punta_fina_spark.operators.pivots import pivot_sum

    df = spark.createDataFrame(
        [(1, "x", 10.0), (1, "y", 5.0), (2, "x", 1.0)], "g int, p string, v double"
    )
    out = pivot_sum(df, ["g"], "p", ["x", "y", "z"], "v")
    rows = {r["g"]: (r["x"], r["y"], r["z"]) for r in out.collect()}
    assert rows[1] == (10.0, 5.0, 0.0)
    assert rows[2] == (1.0, 0.0, 0.0)


def test_validate_and_populate_pipeline(spark):
    from data_warehouse_punta_fina_spark.operators.validation import (
        ColumnRule,
        TableRules,
        validate_and_populate,
    )

    df = spark.createDataFrame(
        [(1, None, 500.0), (1, "b", -3.0), (2, "c", 50.0)], "id int, name string, v double"
    )
    rules = TableRules(
        columns={
            "id": ColumnRule(type="int", required=True),
            "name": ColumnRule(type="string", default="unknown"),
            "v": ColumnRule(type="float", min=0.0, max=100.0),
            "added_col": ColumnRule(type="string", default="x"),
        },
        primary_key=["id"],
    )
    clean, report = validate_and_populate(df, rules)
    rows = {r["id"]: r for r in clean.collect()}
    assert len(rows) == 2  # PK dedup
    assert report["rows_deduped"] == 1
    assert rows[2]["v"] == 50.0
    assert all(r["added_col"] == "x" for r in rows.values())
    assert 0.0 <= rows[1]["v"] <= 100.0
    assert report["structure"]["added_col"] == "added"


def test_exact_dedup_clusters(spark):
    from data_warehouse_punta_fina_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "doc_id long, text string"
    )
    out = {r["canonical_id"]: r["n_copies"] for r in exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_finds_near_duplicates(spark):
    from data_warehouse_punta_fina_spark.operators.dedup import minhash_lsh_pairs

    a = "the quick brown fox jumps over the lazy dog again and again every day"
    b = a + " tonight"
    c = "completely different words about spark and large scale data processing here"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(df).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_shingle_rows_matches_word_shingles(spark):
    """The codegen'd posexplode+lead path must produce the same shingle
    SET as the array-expression path, including the short/empty-doc
    fallbacks."""
    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.functions.text import word_shingles
    from data_warehouse_punta_fina_spark.operators.dedup import shingle_rows

    docs = spark.createDataFrame(
        [
            (1, "one two three four five"),
            (2, "short doc"),          # < n tokens → single all-tokens shingle
            (3, ""),                    # empty → single "" shingle
            (4, "a b c a b c a b c"),  # repeated shingles → distinct
        ],
        "doc_id long, text string",
    )
    fast = {(r["doc_id"], r["shingle"]) for r in shingle_rows(docs).collect()}
    slow = {
        (r["doc_id"], r["s"])
        for r in docs.select("doc_id", F.explode(word_shingles("text", 3)).alias("s")).collect()
    }
    assert fast == slow


def test_ngram_jaccard_exact(spark):
    from data_warehouse_punta_fina_spark.operators.dedup import ngram_jaccard_pairs

    a = "one two three four five"
    df = spark.createDataFrame([(1, a), (2, a), (3, "unrelated totally other words")], "doc_id long, text string")
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(df, threshold=0.9).collect()}
    assert out[(1, 2)] == Decimal("1.000000")
    assert len(out) == 1


def test_dedup_clusters_connected_components(spark):
    from data_warehouse_punta_fina_spark.operators.dedup import dedup_clusters

    ids = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    # components: {1,2,3} via chain 1-2, 2-3; {5,6}; singletons 4, 7
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    out = {r["doc_id"]: (r["cluster_id"], r["is_canonical"]) for r in dedup_clusters(ids, pairs).collect()}
    assert out[1] == (1, True) and out[2] == (1, False) and out[3] == (1, False)
    assert out[5] == (5, True) and out[6] == (5, False)
    assert out[4] == (4, True) and out[7] == (7, True)


def test_brute_force_topk_self_excluded(spark):
    from data_warehouse_punta_fina_spark.operators.similarity import brute_force_topk

    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.01, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = brute_force_topk(df, df.filter(F.col("vec_id") == 1), k=2)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in rows] == [2, 3]
    assert rows[0]["cosine"] > Decimal("0.99")


def test_scalar_lookup_broadcast_constant(spark):
    from data_warehouse_punta_fina_spark.operators.sk_lookup import scalar_lookup

    fact = spark.createDataFrame([(1,), (2,)], "id int")
    one = spark.createDataFrame([(99, "x")], "const_id int, const_name string")
    out = scalar_lookup(fact, one).collect()
    assert len(out) == 2 and all(r["const_id"] == 99 for r in out)


def test_media_feature_stub_shapes(spark):
    from data_warehouse_punta_fina_spark.operators.multimodal import (
        extract_features,
        media_from_documents,
    )

    docs = spark.createDataFrame(
        [(1, "abcd"), (2, ""), (3, "P5 2 2 255 abcd"), (4, None)],
        "doc_id long, text string",
    )
    out = {r["asset_id"]: r for r in extract_features(media_from_documents(docs)).collect()}
    assert out[1]["n_bytes"] == 4
    assert out[1]["header_word"] == int.from_bytes(b"abcd", "big")
    assert out[2]["n_bytes"] == 0
    # the media_features oracle SQL's values: an image-shaped payload is
    # still featurized byte by byte, and a NULL payload keeps NULL length
    # and checksum (strlen(NULL) is NULL; the header CASE falls to 0)
    feats = {a: (r["n_bytes"], r["header_word"], r["checksum"]) for a, r in out.items()}
    assert feats[3] == (15, 1345658930, 911)
    assert feats[4] == (None, 0, None)


def test_quality_checks(spark):
    from data_warehouse_punta_fina_spark.operators.quality import (
        check_double_entry,
        check_fk_orphans,
        check_grain_unique,
    )

    fact = spark.createDataFrame([(1, 10), (2, 10), (3, 99)], "id int, fk int")
    dim = spark.createDataFrame([(10,), (20,)], "pk int")
    r = check_fk_orphans(fact, "f", {"fk": (dim, "pk")}).collect()[0]
    assert r["value"] == 1 and not r["passed"]

    g = check_grain_unique(fact, "f", ["fk"]).collect()[0]
    assert g["value"] == 1 and not g["passed"]

    j = spark.createDataFrame(
        [("DEBITO", Decimal("10.00")), ("CREDITO", Decimal("10.00"))],
        "tipo_movimiento string, monto decimal(15,2)",
    )
    d = check_double_entry(j).collect()[0]
    assert d["passed"]


def test_validator_pk_dedup_deterministic_survivor(spark):
    """Duplicate PKs with different payloads must keep the payload-ordered
    first row, not an arbitrary one (round-1 verdict: ordering by the PK
    itself is a no-op inside a PK group)."""
    from data_warehouse_punta_fina_spark.operators.validation import (
        ColumnRule,
        TableRules,
        validate_and_populate,
    )

    rows = [(1, 30, "b"), (1, 10, "z"), (1, 10, "a"), (2, 5, "x")]
    df = spark.createDataFrame(rows, "pk int, v int, s string")
    rules = TableRules(
        columns={"pk": ColumnRule(type="int", required=True)}, primary_key=["pk"]
    )
    for _ in range(3):  # stable across repeated runs
        clean, report = validate_and_populate(df.repartition(7), rules)
        got = {r["pk"]: (r["v"], r["s"]) for r in clean.collect()}
        assert got == {1: (10, "a"), 2: (5, "x")}
        assert report["rows_deduped"] == 2


def test_ranked_sequential_id_matches_global_row_number(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.operators.windows import ranked_sequential_id

    df = spark.range(0, 997).select(
        (F.col("id") * 37 % 1009).alias("k"), F.col("id").alias("payload")
    )
    got = ranked_sequential_id(df, "k", out="rid", start=5)
    want = df.withColumn("rid", F.row_number().over(Window.orderBy("k")) + F.lit(4))
    assert got.count() == 997
    diff = got.join(want, ["k", "payload"]).filter(got["rid"] != want["rid"]).count()
    # join keys: (k, payload) unique since id unique and k = f(id) may collide;
    # compare on payload alone to be safe
    got2 = {r["payload"]: r["rid"] for r in got.collect()}
    want2 = {r["payload"]: r["rid"] for r in want.collect()}
    assert diff == 0 or got2 == want2
    assert sorted(got2.values()) == list(range(5, 1002))


def test_lsh_guards_raise_on_misuse(spark):
    import pytest as _pytest

    from data_warehouse_punta_fina_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_near_dup_pairs,
    )

    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="divisible"):
        minhash_lsh_pairs(docs, num_hashes=10, bands=4)
    with _pytest.raises(ValueError, match="max_hamming"):
        simhash_near_dup_pairs(docs, bits=32, max_hamming=4)


def test_ngram_jaccard_shingle_df_cap(spark):
    """Hot shingles above the df cap drop out of sizes AND intersections."""
    from data_warehouse_punta_fina_spark.operators.dedup import ngram_jaccard_pairs

    # 'x y z' appears in every doc (hot); each pair also shares nothing else
    rows = [(i, f"x y z unique{i} a{i} b{i}") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = ngram_jaccard_pairs(docs, threshold=0.01)
    capped = ngram_jaccard_pairs(docs, threshold=0.01, max_shingle_df=3)
    assert exact.count() > 0  # hot shingle links every pair
    assert capped.count() == 0  # cap removes the only shared shingle


def test_ivf_multiprobe_superset_of_single_probe(spark):
    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.operators.similarity import ivf_topk

    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 3)
    single = ivf_topk(emb, q, k=3, bits=6)
    multi = ivf_topk(emb, q, k=3, bits=6, multiprobe=True)
    # multiprobe scans a superset of cells, so per query its candidate set
    # is a superset of single-probe's — after top-k truncation that means
    # element-wise score dominance: multiprobe's i-th best cosine >= single
    # probe's i-th best, and at least as many results per query
    s_scores: dict[int, list[float]] = {}
    for r in single.collect():
        s_scores.setdefault(r["query_id"], []).append(r["cosine"])
    m_scores: dict[int, list[float]] = {}
    for r in multi.collect():
        m_scores.setdefault(r["query_id"], []).append(r["cosine"])
    assert set(s_scores) <= set(m_scores)
    for qid, ss in s_scores.items():
        ms = sorted(m_scores[qid], reverse=True)
        ss = sorted(ss, reverse=True)
        assert len(ms) >= len(ss), qid
        for m_i, s_i in zip(ms, ss):
            assert m_i >= s_i, (qid, m_i, s_i)


def test_kmeans_fit_deterministic_and_partition_invariant(spark):
    """Trained quantizer: same centroids under any input partitioning
    (integer-exact distances + rounded-int centroid means)."""
    import random

    from data_warehouse_punta_fina_spark.operators.similarity import kmeans_fit

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = {r["cid"]: r["cvec"] for r in kmeans_fit(emb.repartition(3), k=4).collect()}
    b = {r["cid"]: r["cvec"] for r in kmeans_fit(emb.repartition(17), k=4).collect()}
    assert a == b and len(a) >= 1
    assert all(isinstance(v, int) for vec in a.values() for v in vec)  # int64 centroids


def test_ivf_trained_cell_locality(spark):
    """Every returned neighbor shares the query's trained cell, ranks are
    dense 1..k' and self-matches are excluded."""
    import random

    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.operators.similarity import ivf_trained_topk

    rng = random.Random(13)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(100)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = ivf_trained_topk(emb, emb.filter(F.col("vec_id") < 4), k=3, n_centroids=8).collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in out)
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_bucketed_range_join_equals_nested_loop(spark):
    """Grid rewrite == broadcast nested-loop for random bands/values,
    including boundary values and the open-ended overflow band."""
    import random

    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.operators.rangejoin import bucketed_range_join

    rng = random.Random(3)
    vals = [(i, rng.uniform(0, 500)) for i in range(400)]
    vals += [(1000 + j, float(b)) for j, b in enumerate((0, 50, 100, 250, 499))]  # exact boundaries
    vals += [(2000, 1e17)]  # deep overflow
    facts = spark.createDataFrame(vals, "id long, value double")
    band_rows = [(f"b{j}", float(j * 37 % 400), float(j * 37 % 400 + 5 + 60 * (j % 3))) for j in range(30)]
    band_rows.append(("open", 250.0, 1e18))
    bands = spark.createDataFrame(band_rows, "band string, lo double, hi double")

    nested = facts.join(
        F.broadcast(bands), (facts["value"] >= bands["lo"]) & (facts["value"] < bands["hi"])
    ).select("id", "band")
    for step, cap in ((50.0, 400.0), (7.0, 512.0), (100.0, 256.0)):
        gridded = bucketed_range_join(
            facts, "value", bands, step=step, hi_cap=cap
        ).select("id", "band")
        assert sorted(map(tuple, nested.collect())) == sorted(map(tuple, gridded.collect())), (step, cap)


def test_dedup_clusters_star_equals_label_propagation(spark):
    """Large-star/small-star must produce the same components as min-label
    propagation — including a long path (the case propagation is slow on)
    and singletons."""
    import random

    from data_warehouse_punta_fina_spark.operators.dedup import (
        dedup_clusters,
        dedup_clusters_star,
    )

    rng = random.Random(5)
    n = 120
    edges = [(i, i + 1) for i in range(40)]  # path 0..40
    edges += [(50 + rng.randrange(30), 50 + rng.randrange(30)) for _ in range(40)]  # random blob
    edges = [(a, b) for a, b in edges if a != b]
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a long, id_b long"
    )
    want = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(ids, pairs, max_iter=200).collect()}
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters_star(ids, pairs).collect()}
    assert got == want
    # path collapses to its min
    assert all(got[i] == 0 for i in range(41))
    # untouched ids are their own singleton clusters
    assert got[119] == 119


def test_ivf_trained_multiprobe_recall_monotone(spark):
    """nprobe widens the candidate set: every probes=1 hit stays reachable
    and recall vs brute force never decreases."""
    import random

    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.operators.similarity import (
        brute_force_topk,
        ivf_trained_topk,
    )

    rng = random.Random(17)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(150)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 6)

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    truth = pairs(brute_force_topk(emb, q, k=4))
    p1 = pairs(ivf_trained_topk(emb, q, k=4, n_centroids=8, probes=1))
    p3 = pairs(ivf_trained_topk(emb, q, k=4, n_centroids=8, probes=3))
    assert len(p3 & truth) >= len(p1 & truth)
    assert len(p3) >= len(p1)


def test_aqe_splits_skewed_join_partitions(spark):
    """Scale posture: with AQE on, a hot-key sort-merge join gets its
    skewed shuffle partition split at runtime (SortMergeJoin(skew=true) /
    'AQEShuffleRead coalesced and skewed' in the final adaptive plan) —
    the mechanism that absorbs hot keys at 100 TB without manual salting.
    Thresholds are lowered so the effect triggers at test scale."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        big = spark.range(0, 300_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        small = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        joined = big.join(small, "k")
        rows = joined.collect()  # executes THROUGH this plan object
        assert len(rows) == 270_100
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan and "skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lsh_verified_pairs_subset_of_exact(spark):
    """The LSH→verify composition returns a SUBSET of the exact Jaccard
    pairs (banding may miss pairs, never invent them) with identical
    jaccard values on the pairs it keeps."""
    from data_warehouse_punta_fina_spark.operators.dedup import (
        lsh_verified_pairs,
        ngram_jaccard_pairs,
    )

    a = "the quick brown fox jumps over the lazy dog again and again every day"
    rows = [
        (1, a),
        (2, a + " tonight"),
        (3, a.replace("lazy", "sleepy")),
        (4, "completely different words about spark and large scale data processing"),
        (5, "another unrelated string of tokens with no overlap whatsoever here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()}
    verified = {(r["id_a"], r["id_b"]): r["jaccard"] for r in lsh_verified_pairs(docs, threshold=0.2).collect()}
    assert verified  # near-dups found
    assert set(verified) <= set(exact)
    for pair, j in verified.items():
        assert exact[pair] == j


def test_snapshot_diff_hash_and_exact_agree(spark):
    """CDC diff: both comparison modes label every change class the same
    (hash is the wide-row scale path, exact is the oracle semantics)."""
    from data_warehouse_punta_fina_spark.operators.scd import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None), (4, "d", 40)],
        "k int, s string, v int",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (3, "c", None), (5, "e", 50)],
        "k int, s string, v int",
    )
    want = {1: "unchanged", 2: "updated", 3: "unchanged", 4: "deleted", 5: "inserted"}
    for hash_compare in (True, False):
        got = {
            r["k"]: r["change_type"]
            for r in snapshot_diff(old, new, ["k"], hash_compare=hash_compare).collect()
        }
        assert got == want, hash_compare


def test_type1_upsert_updates_win(spark):
    from data_warehouse_punta_fina_spark.operators.scd import type1_upsert

    target = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    updates = spark.createDataFrame([(2, "B"), (4, "d")], "k int, v string")
    got = {r["k"]: r["v"] for r in type1_upsert(target, updates, ["k"]).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}


def test_pack_documents_budget_boundaries(spark):
    """Packing: exact-boundary docs start the next bin; oversize docs get
    the bin their start falls in; shards pack independently."""
    from data_warehouse_punta_fina_spark.operators.packing import pack_documents

    rows = [
        (1, "en", "w " * 256),   # 256 tokens → bin 0, offset 0
        (2, "en", "w " * 256),   # cum_before 256 → bin 0, offset 256
        (3, "en", "w " * 600),   # cum_before 512 → bin 1, offset 0 (oversize ok)
        (4, "en", "w"),          # cum_before 1112 → bin 2
        (5, "es", "w " * 100),   # other shard restarts at 0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        r["doc_id"]: (r["bin_id"], r["offset_in_bin"], r["cum_before"])
        for r in pack_documents(docs, budget=512).collect()
    }
    assert got[1] == (0, 0, 0)
    assert got[2] == (0, 256, 256)
    assert got[3] == (1, 0, 512)
    assert got[4] == (2, 1112 % 512, 1112)
    assert got[5] == (0, 0, 0)


def test_kmeans_fit_seeds_k_centroids_on_sparse_ids(spark):
    """Init must yield exactly k centroids on sparse / 1-based id domains
    (filter(id < k) would silently under-seed them)."""
    import random

    from data_warehouse_punta_fina_spark.operators.similarity import kmeans_fit

    rng = random.Random(23)
    # 1-based, stride-1000 ids: nothing below k
    rows = [(1 + i * 1000, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit(emb, k=4, iters=0).collect()
    assert len(cents) == 4
    assert sorted(r["cid"] for r in cents) == [1, 1001, 2001, 3001]  # k smallest ids
    # and a full fit still converges to ≥1 non-empty cluster, deterministically
    a = {r["cid"]: r["cvec"] for r in kmeans_fit(emb.repartition(5), k=4).collect()}
    b = {r["cid"]: r["cvec"] for r in kmeans_fit(emb.repartition(2), k=4).collect()}
    assert a == b and len(a) >= 1


def test_snapshot_diff_hash_never_misses_updates_on_corpus(spark):
    """64-bit row-hash CDC path: every genuinely-changed row on a 20k-row
    corpus is classified 'updated' — a hash collision with the old row
    would silently misclassify it 'unchanged'."""
    from data_warehouse_punta_fina_spark.operators.scd import snapshot_diff

    old = spark.range(20_000).select(
        F.col("id").alias("k"),
        F.md5(F.col("id").cast("string")).alias("s"),
        (F.col("id") * 7).alias("v"),
    )
    # every row differs from old in at least one compare column
    new = old.withColumn("v", F.col("v") + 1)
    out = snapshot_diff(old, new, ["k"], hash_compare=True)
    counts = {r["change_type"]: r["n"] for r in
              out.groupBy("change_type").agg(F.count("*").alias("n")).collect()}
    assert counts == {"updated": 20_000}


def test_ranked_sequential_id_no_materialization_and_null_keys(spark):
    """The rank must come out correct with NO checkpoint/persist in the
    DEFAULT path (bucket ids are a pure key function, so independent
    branch re-execution agrees), including null and duplicate-adjacent
    keys and multi-column order. The only materialization allowed in the
    source is the opt-in ``pin=`` guard — exactly one occurrence, behind
    the flag."""
    import inspect

    from pyspark.sql import Window

    from data_warehouse_punta_fina_spark.operators import windows as W

    src = inspect.getsource(W.ranked_sequential_id)
    for banned in ("persist", "cache("):
        assert banned not in src, banned
    # the pin escape hatch is the single sanctioned materialization, and
    # it must be guarded by the flag (default-off lineage replay)
    body = src.split('"""')[-1]  # strip docstring mentions
    assert body.count("materialize(") == 1
    assert "if pin:" in body

    rows = [(None, 0)] + [((i * 61) % 499, i) for i in range(1, 499)]
    df = spark.createDataFrame(rows, "k int, payload int").repartition(13)
    got = {r["payload"]: r["rid"] for r in
           W.ranked_sequential_id(df, ["k", "payload"], out="rid", start=3).collect()}
    want = {r["payload"]: r["rid"] for r in
            df.withColumn("rid", F.row_number().over(Window.orderBy("k", "payload")) + F.lit(2)).collect()}
    assert got == want
    assert sorted(got.values()) == list(range(3, 3 + 499))


def test_partitioned_sequential_id_dense_and_jvm_side(spark):
    """Layout-ordered dense ids: 1..n with no gaps over a multi-partition
    input, payload preserved, and no Python-RDD round-trip in the source."""
    import inspect

    from data_warehouse_punta_fina_spark.operators import windows as W

    src = inspect.getsource(W.partitioned_sequential_id)
    assert "zipWithIndex" not in src and ".rdd" not in src

    df = spark.range(0, 1000).select((F.col("id") * 3).alias("payload")).repartition(7)
    out = W.partitioned_sequential_id(df, out="seq", start=10).collect()
    assert sorted(r["seq"] for r in out) == list(range(10, 1010))
    assert sorted(r["payload"] for r in out) == [i * 3 for i in range(1000)]


def test_ranked_sequential_id_pin_equals_default(spark):
    """pin=True (input materialized once for branch locality) must assign
    exactly the same dense ranks as the default lineage-replay path."""
    from data_warehouse_punta_fina_spark.operators import windows as W

    df = spark.range(0, 2000).select(
        (F.col("id") * 17 % 4093).alias("k"), F.col("id").alias("payload")
    ).distinct()
    a = {r["k"]: r["seq"] for r in W.ranked_sequential_id(df, "k", out="seq").collect()}
    b = {r["k"]: r["seq"] for r in W.ranked_sequential_id(df, "k", out="seq", pin=True).collect()}
    assert a == b
    assert sorted(a.values()) == list(range(1, len(a) + 1))


def test_partitioned_sequential_id_dense_on_shuffle_fed_input(spark):
    """Defensive density check for a SHUFFLE-FED input (the risky case:
    the offsets branch and the join branch must agree on the partition
    layout): ids are dense 1..n — count == max-min+1 == distinct — both
    with the default lineage-replay path and with pin=True (which
    materializes the _mid assignment once for nondeterministic layouts,
    e.g. AQE-coalesced shuffles)."""
    from data_warehouse_punta_fina_spark.operators import windows as W

    # aggregate output = shuffle-fed lineage (AQE may coalesce partitions)
    src = (
        spark.range(0, 5000)
        .groupBy((F.col("id") % 997).alias("k"))
        .agg(F.sum("id").alias("v"))
    )
    for pin in (False, True):
        got = [r["seq"] for r in W.partitioned_sequential_id(src, out="seq", pin=pin).collect()]
        assert len(got) == 997
        assert min(got) == 1 and max(got) == 997
        assert len(set(got)) == 997, f"colliding ids with pin={pin}"


def test_no_partition_defined_warnings_registry_wide():
    """WindowExec's 'No Partition Defined' warning must not fire for ANY
    registered query — a foldable constant partition key (lit(0), even
    xxhash64(lit(0))) is constant-folded to an EMPTY partition spec, i.e.
    a true single-partition global window, and this sweep is how that
    class gets caught before commit (the round-6 3-query version of this
    gate missed exactly that in the evaluation tier). Full registry,
    noop-write at sf0.001; any offender is named in the failure."""
    import subprocess
    import sys as _sys

    snippet = (
        "import sys, traceback; sys.path.insert(0, '/root/repo')\n"
        "import __spark_entry__ as m\n"
        "from data_warehouse_punta_fina_spark import get_spark\n"
        "spark = get_spark('warncheck')\n"
        "qs = dict(m.queries()); qs.update(m.extra_queries())\n"
        "for name in sorted(qs):\n"
        "    print('RUNNING::' + name, file=sys.stderr, flush=True)\n"
        "    try:\n"
        "        qs[name](spark, '/root/testdata/sf0.001').write.format('noop')"
        ".mode('overwrite').save()\n"
        "    except Exception:\n"
        "        print('FAILED::' + name, file=sys.stderr, flush=True)\n"
        "        traceback.print_exc()\n"
        "        raise\n"
        "spark.stop()\n"
    )
    proc = subprocess.run(
        [_sys.executable, "-c", snippet], capture_output=True, text=True, timeout=1800
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    if "No Partition Defined" in proc.stderr:
        # attribute each warning to the query running when it fired
        current, offenders = "<setup>", []
        for line in proc.stderr.splitlines():
            if line.startswith("RUNNING::"):
                current = line.split("::", 1)[1]
            elif "No Partition Defined" in line:
                offenders.append(current)
        raise AssertionError(
            f"global windows (No Partition Defined) in: {sorted(set(offenders))}"
        )


def test_repetition_metrics_known_values(spark):
    """Hand-checked Gopher repetition signals on a tiny corpus, including
    a single-token doc (no bigrams) and an empty doc."""
    from data_warehouse_punta_fina_spark.operators.text_quality import repetition_metrics

    rows = [
        # "a b a b a" -> bigrams: ab,ba,ab,ba -> total 4, distinct 2,
        # top 2, dup 4 -> top_share .5, dup_frac 1.0, unique .5
        (1, "a b a b a"),
        # "x y z" -> xy,yz -> total 2, distinct 2, top 1, dup 0
        (2, "x y z"),
        (3, "solo"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition_metrics(df).collect()}
    assert len(got) == 4
    assert got[1]["n_grams"] == 4 and got[1]["distinct_grams"] == 2
    assert got[1]["top_gram_share"] == 0.5
    assert got[1]["dup_gram_frac"] == 1.0
    assert got[1]["unique_ratio"] == 0.5
    assert got[2]["n_grams"] == 2 and got[2]["dup_gram_frac"] == 0.0
    for d in (3, 4):
        assert got[d]["n_grams"] == 0 and got[d]["distinct_grams"] == 0
        assert got[d]["top_gram_share"] is None


def test_bm25_topk_ranks_by_relevance(spark):
    """BM25 orders exact-term-heavy docs first; scores are deterministic
    under repartitioning (decimal per-term rounding before the sum)."""
    from data_warehouse_punta_fina_spark.operators.retrieval import bm25_topk

    rows = [
        (1, "spark spark spark window"),
        (2, "spark window window agg agg"),
        (3, "hash join merge"),
        (4, "the quick brown fox"),
        (5, "spark"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = bm25_topk(docs, [(1, "spark window"), (2, "join")], k=3)
    got = [(r["query_id"], r["doc_id"], r["rank"]) for r in
           out.orderBy("query_id", "rank").collect()]
    q1 = [(d, rk) for q, d, rk in got if q == 1]
    q2 = [(d, rk) for q, d, rk in got if q == 2]
    # docs 1,2 both match both terms; doc 5 matches one; doc 3/4 none for q1
    assert [d for d, _ in q1][:2] in ([1, 2], [2, 1])
    assert q1[2][0] == 5
    assert q2 == [(3, 1)]  # only doc 3 contains 'join'
    # partition invariance: same scores regardless of layout
    a = {(r["query_id"], r["doc_id"]): r["score"] for r in out.collect()}
    b = {(r["query_id"], r["doc_id"]): r["score"] for r in
         bm25_topk(docs.repartition(7), [(1, "spark window"), (2, "join")], k=3).collect()}
    assert a == b


def test_rrf_fuse_known_values_and_query_by_example(spark):
    """RRF (round 9): fused score is Σ round6(1/(60+rank)); a doc on both
    lists outranks a higher-ranked doc on one list when the sums say so;
    presence flags are per-list; bm25_topk_terms excludes the query doc."""
    import math

    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_topk_terms,
        rrf_fuse,
    )

    r6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6
    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)], "query_id int, doc_id int, rank int"
    )
    sem = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)], "query_id int, doc_id int, rank int"
    )
    out = {r["doc_id"]: (r["rrf_score"], r["in_lex"], r["in_sem"], r["rank"])
           for r in rrf_fuse({"lex": lex, "sem": sem}, k=4).collect()}
    # doc 11: lex rank 2 + sem rank 1 -> 1/62 + 1/61 beats doc 10's 1/61
    assert out[11] == (r6(1 / 62) + r6(1 / 61), True, True, 1)
    assert out[10] == (r6(1 / 61), True, False, 2)
    assert out[13] == (r6(1 / 62), False, True, 3)
    assert out[12] == (r6(1 / 63), True, False, 4)

    # query-by-example BM25: doc 1's own tokens as the query; doc 1 itself
    # is excluded from the ranking
    docs = spark.createDataFrame(
        [(1, "spark window agg"), (2, "spark window"), (3, "hash join")],
        "doc_id int, text string",
    )
    qterms = spark.createDataFrame(
        [(1, "spark"), (1, "window"), (1, "agg")], "query_id int, term string"
    )
    got = [(r["doc_id"], r["rank"]) for r in
           bm25_topk_terms(docs, qterms, k=3, exclude_query_doc=True)
           .orderBy("rank").collect()]
    assert got[0][0] == 2 and all(d != 1 for d, _ in got)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one"):
        rrf_fuse({}, k=3)


def test_unigram_surprisal_known_values(spark):
    """Corpus 'a a a b': p(a)=3/4, p(b)=1/4. Doc1='a a a b' mean =
    (3*ln(4/3)+ln(4))/4; doc2 is empty -> null."""
    import math

    from data_warehouse_punta_fina_spark.operators.text_quality import unigram_surprisal

    df = spark.createDataFrame([(1, "a a a b"), (2, "")], "doc_id int, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["surprisal"]) for r in
           unigram_surprisal(df).collect()}
    r6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6
    want = r6((3 * r6(math.log(4 / 3)) + r6(math.log(4.0))) / 4)
    assert got[1] == (4, want)
    assert got[2] == (0, None)
    # partition invariance (decimal sums)
    b = {r["doc_id"]: r["surprisal"] for r in
         unigram_surprisal(df.repartition(5)).collect()}
    assert b[1] == want


def test_shingle_rows_max_tokens_cap(spark):
    """The giant-document skew guard: max_tokens truncates the token
    stream before shingling, and the capped shingle set equals shingling
    the truncated text directly."""
    from data_warehouse_punta_fina_spark.operators.dedup import shingle_rows

    long_doc = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame([(1, long_doc)], "doc_id long, text string")
    capped = {r["shingle"] for r in shingle_rows(df, max_tokens=10).collect()}
    truncated = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10)))], "doc_id long, text string"
    )
    want = {r["shingle"] for r in shingle_rows(truncated).collect()}
    assert capped == want
    assert len(capped) == 8  # 10 tokens → 8 trigrams
    # default stays exact
    assert len({r["shingle"] for r in shingle_rows(df).collect()}) == 98


def test_bigram_surprisal_known_values(spark):
    """Corpus doc1='a b a b', doc2='a c': bigrams ab,ba,ab + ac.
    c(a·)=3 (ab×2, ac), c(b·)=1 (ba). p(b|a)=2/3, p(a|b)=1, p(c|a)=1/3.
    doc1 mean = (2·ln(3/2) + ln(1)) / 3; doc2 = ln(3). Docs under 2
    tokens get null surprisal."""
    import math

    from data_warehouse_punta_fina_spark.operators.text_quality import bigram_surprisal

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c"), (3, "solo")], "doc_id int, text string"
    )
    got = {r["doc_id"]: (r["n_bigrams"], r["surprisal"]) for r in
           bigram_surprisal(df).collect()}
    r6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6
    assert got[1] == (3, r6((2 * r6(math.log(3 / 2)) + r6(math.log(1.0))) / 3))
    assert got[2] == (1, r6(math.log(3.0)))
    assert got[3] == (0, None)
    # partition invariance (decimal sums)
    b = {r["doc_id"]: r["surprisal"] for r in bigram_surprisal(df.repartition(5)).collect()}
    assert b[1] == got[1][1]


def test_pit_lookup_resolves_versions_half_open(spark):
    """PIT join picks the version valid at the fact timestamp; on the
    change date the NEW version is in effect (half-open intervals)."""
    import datetime as dt

    from data_warehouse_punta_fina_spark.operators.scd import pit_lookup

    dim = spark.createDataFrame(
        [
            (1, "A", dt.date(1990, 1, 1), dt.date(1996, 6, 1)),
            (1, "B", dt.date(1996, 6, 1), dt.date(9999, 12, 31)),
            (2, "C", dt.date(1990, 1, 1), dt.date(9999, 12, 31)),
        ],
        "k int, seg string, valid_from date, valid_to date",
    )
    facts = spark.createDataFrame(
        [
            (10, 1, dt.date(1995, 12, 31)),
            (11, 1, dt.date(1996, 6, 1)),   # boundary -> new version
            (12, 1, dt.date(2000, 1, 1)),
            (13, 2, dt.date(1994, 1, 1)),
            (14, 3, dt.date(1994, 1, 1)),   # no dim key -> null (left)
            (15, 1, dt.date(1989, 1, 1)),   # before history -> null
        ],
        "fid int, fk int, ts date",
    )
    out = pit_lookup(facts, dim, "fk", "k", "ts")
    got = {r["fid"]: r["seg"] for r in out.collect()}
    assert got == {10: "A", 11: "B", 12: "B", 13: "C", 14: None, 15: None}
    # every fact row appears exactly once (non-overlapping versions)
    assert out.count() == 6
    # broadcast plan: no shuffle of the fact side
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_incremental_lsh_dedup_flags_known_dupes(spark):
    """A new batch containing a copy of an indexed doc and a fresh doc:
    the copy is flagged with its corpus match, the fresh doc admitted."""
    from data_warehouse_punta_fina_spark.operators.dedup import incremental_lsh_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(0, base), (2, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, base), (3, "totally different words nothing shared here at all ok then")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["is_dup"], r["match_id"]) for r in
           incremental_lsh_dedup(corpus, new, threshold=0.5).collect()}
    assert got[1] == (True, 0)
    assert got[3] == (False, None)


def test_incremental_lsh_dedup_with_persisted_index(spark, tmp_path):
    """The production path: band index written once, arriving batch joins
    the STORED index — verdicts identical to the recompute path."""
    from data_warehouse_punta_fina_spark.operators.dedup import (
        incremental_lsh_dedup,
        minhash_band_keys,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(0, base), (2, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    idx_path = str(tmp_path / "band_index")
    minhash_band_keys(corpus).write.partitionBy("band").parquet(idx_path)
    stored = spark.read.parquet(idx_path)

    new = spark.createDataFrame(
        [(1, base), (3, "totally different words nothing shared here at all ok then")],
        "doc_id long, text string",
    )
    via_index = {r["doc_id"]: (r["is_dup"], r["match_id"]) for r in
                 incremental_lsh_dedup(corpus, new, threshold=0.5, corpus_bands=stored).collect()}
    recompute = {r["doc_id"]: (r["is_dup"], r["match_id"]) for r in
                 incremental_lsh_dedup(corpus, new, threshold=0.5).collect()}
    assert via_index == recompute == {1: (True, 0), 3: (False, None)}


def test_incremental_lsh_dedup_verify_is_candidate_bounded(spark):
    """The verify stage must never re-shingle the whole corpus: the
    document scan feeding jaccard verification is restricted by a
    semi-join against the candidate id set, so verify cost scales with
    the arriving batch, not the indexed corpus (the round-4 VERDICT's one
    scale defect)."""
    from data_warehouse_punta_fina_spark.operators import dedup as D

    # corpus docs share NO shingles (unique token vocabulary per doc), so
    # the only LSH candidate is the new doc's exact source
    corpus = spark.createDataFrame(
        [(i, " ".join(f"tok{i}x{j}" for j in range(9))) for i in range(0, 40, 2)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, " ".join(f"tok0x{j}" for j in range(9)))],
        "doc_id long, text string",
    )
    # intercept the verify stage and measure how many documents it is fed
    # (localCheckpoint hides the semi-join from downstream plan strings,
    # so assert on the actual row count instead of the plan text)
    seen: dict[str, int] = {}
    real_verify = D.jaccard_on_candidates

    def spy(df, candidates, *args, **kwargs):
        seen["verify_input_docs"] = df.count()
        seen["candidates"] = candidates.count()
        return real_verify(df, candidates, *args, **kwargs)

    D.jaccard_on_candidates = spy
    try:
        out = D.incremental_lsh_dedup(corpus, new, threshold=0.5)
        got = {r["doc_id"]: (r["is_dup"], r["match_id"]) for r in out.collect()}
    finally:
        D.jaccard_on_candidates = real_verify
    assert got == {1: (True, 0)}
    # 20-doc corpus + 1-doc batch, but the only candidate pair is (0, 1):
    # the verify stage must see exactly the 2 candidate documents, not 21
    assert seen["candidates"] == 1
    assert seen["verify_input_docs"] == 2, (
        "verify stage re-shingled non-candidate documents: "
        f"saw {seen['verify_input_docs']} docs for {seen['candidates']} candidate pair(s)"
    )


def test_durable_materialization_equals_ephemeral(spark, tmp_path):
    """With a checkpoint directory set on the session, every
    ``materialize`` writes reliable checkpoint files (executor loss
    replays from them) and must give the same results as the default
    local checkpoints: the LSH band and shingle tables, the trained-IVF
    centroids, and the eager dfstats re-read in ``bm25_append_index``."""
    import shutil

    from data_warehouse_punta_fina_spark.operators.dedup import lsh_verified_pairs
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_append_index,
        bm25_build_index,
    )
    from data_warehouse_punta_fina_spark.operators.similarity import ivf_trained_topk

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base),
            (2, "one two three four five six seven eight nine ten"),
            (3, "alpha beta gamma one two three"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, [float(i % 7) + 1.0, float((i * 3) % 5) + 1.0, float(i % 4) + 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") < 3)
    built = tmp_path / "bm25"
    bm25_build_index(docs.filter(F.col("doc_id") < 2), str(built), n_buckets=4)

    def run(tag):
        idx = str(tmp_path / f"bm25_{tag}")
        shutil.copytree(built, idx)
        bm25_append_index(docs.filter(F.col("doc_id") >= 2), idx)
        return [
            sorted(map(tuple, lsh_verified_pairs(docs, threshold=0.5).collect())),
            sorted(map(tuple, ivf_trained_topk(emb, q, k=3, n_centroids=4, iters=2).collect())),
        ] + [
            sorted(map(tuple, spark.read.parquet(f"{idx}/{part}").collect()))
            for part in ("postings", "dfstats", "stats")
        ]

    sc = spark.sparkContext
    ckpt = tmp_path / "ckpt"
    previous = sc._jsc.sc().getCheckpointDir()
    assert previous.isEmpty(), "the shared session must start without a checkpoint directory"
    try:
        sc.setCheckpointDir(str(ckpt))
        durable = run("durable")
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(previous)
    assert sc.getCheckpointDir() is None
    ephemeral = run("ephemeral")
    assert durable == ephemeral
    assert all(durable), "every compared output is non-empty"
    written = [p for p in ckpt.rglob("part-*") if p.is_file()]
    assert written, "no checkpoint files under the session's checkpoint directory"


def test_build_concurrently_without_pinned_threads(monkeypatch):
    """With pinned-thread mode off (PYSPARK_PIN_THREAD=false) the py4j
    gateway is not a ClientServer and pyspark's inheritable_thread_target
    returns its argument unchanged. The builders must still run, and
    their results come back in builder order."""
    import time

    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from data_warehouse_punta_fina_spark.operators.materialize import build_concurrently

    session = object.__new__(SparkSession)  # an active session handle
    monkeypatch.setattr(SparkContext, "_gateway", object())
    monkeypatch.setattr(SparkSession, "getActiveSession", classmethod(lambda cls: session))
    builders = [lambda: (time.sleep(0.2), "slow")[1], lambda: "fast", lambda: 3]
    assert build_concurrently(builders) == ["slow", "fast", 3]


def test_incremental_lsh_dedup_rejects_mismatched_index(spark, tmp_path):
    """A persisted band index built under different (num_hashes, bands,
    shingle_n) would silently admit every new doc (mismatched band keys
    never collide) — the parameter fingerprint stored in the index's
    column metadata must turn that into a loud error, including across a
    parquet round-trip."""
    import pytest

    from data_warehouse_punta_fina_spark.operators.dedup import (
        incremental_lsh_dedup,
        minhash_band_keys,
    )

    corpus = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )

    from data_warehouse_punta_fina_spark.operators.dedup import MINHASH_SCHEME

    idx_path = str(tmp_path / "band_index_8_2")
    minhash_band_keys(corpus, num_hashes=8, bands=2).write.partitionBy("band").parquet(idx_path)
    stored = spark.read.parquet(idx_path)
    # metadata (incl. the versioned hash scheme) survives the parquet
    # round-trip on the band_key data column
    assert dict(stored.schema["band_key"].metadata) == {
        "scheme": MINHASH_SCHEME, "num_hashes": 8, "bands": 2, "shingle_n": 3,
    }
    with pytest.raises(ValueError, match="different parameters.*num_hashes: stored 8 != expected 12"):
        incremental_lsh_dedup(corpus, new, num_hashes=12, bands=4, corpus_bands=stored)
    # missing layout columns are rejected up front, not at join time
    with pytest.raises(ValueError, match="missing required columns"):
        incremental_lsh_dedup(corpus, new, corpus_bands=stored.drop("band_key"))
    # an index WITHOUT metadata (foreign writer / pre-versioning) is
    # unverifiable → rejected
    bare = stored.select(
        "doc_id", "band", F.col("band_key").alias("band_key", metadata={})
    )
    assert dict(bare.schema["band_key"].metadata) == {}
    with pytest.raises(ValueError, match="no parameter metadata"):
        incremental_lsh_dedup(corpus, new, num_hashes=8, bands=2, corpus_bands=bare)
    # a stamp that lacks a parameter cannot vouch for it
    partial = stored.select(
        "doc_id",
        "band",
        F.col("band_key").alias(
            "band_key", metadata={"scheme": MINHASH_SCHEME, "num_hashes": 8, "shingle_n": 3}
        ),
    )
    with pytest.raises(ValueError, match="bands: stored <missing> != expected 2"):
        incremental_lsh_dedup(corpus, new, num_hashes=8, bands=2, corpus_bands=partial)


def test_tfidf_doc_pairs_cosine_semantics(spark):
    """Identical docs → sim 1.0 and rank-1 each other; disjoint docs never
    pair; the relation is symmetric; df_cap drops ubiquitous terms from
    the pair join entirely."""
    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.operators.retrieval import tfidf_doc_pairs

    rows = [
        (1, "spark window agg join"),
        (2, "spark window agg join"),
        (3, "spark window hash merge"),
        (4, "quantum chromo dynamics"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = tfidf_doc_pairs(docs, k=3).collect()
    sims = {(r["doc_a"], r["doc_b"]): r["sim"] for r in out}
    # identical documents: unit vectors coincide -> sim 1.0 (quantized)
    assert abs(sims[(1, 2)] - 1.0) < 1e-5
    assert sims[(1, 2)] == sims[(2, 1)]  # symmetric
    # overlapping > disjoint: doc 3 shares 2 of 4 terms with doc 1
    assert 0.0 < sims[(1, 3)] < sims[(1, 2)]
    # doc 4 shares no terms with anyone -> appears in no pair
    assert not any(4 in p for p in sims)
    # rank-1 neighbor of doc 1 is its exact duplicate
    r1 = {r["doc_a"]: r["doc_b"] for r in out if r["rank"] == 1}
    assert r1[1] == 2 and r1[2] == 1
    # df_cap=3 drops nothing here (max df is 3: 'spark'/'window');
    # df_cap=2 drops those, killing the 1-3 pair's shared terms
    capped = tfidf_doc_pairs(docs, k=3, df_cap=2).collect()
    csims = {(r["doc_a"], r["doc_b"]): r["sim"] for r in capped}
    assert (1, 3) not in csims and (1, 2) in csims
    # partition invariance: integer fixed-point sums are order-free
    again = {
        (r["doc_a"], r["doc_b"]): r["sim"]
        for r in tfidf_doc_pairs(docs.repartition(7), k=3).collect()
    }
    assert sims == again


def test_source_quality_report_gate(spark):
    """A source of copy-paste duplicates fails the dup gate; a healthy
    source passes."""
    from data_warehouse_punta_fina_spark.operators.text_quality import (
        source_quality_report,
    )

    good_text = (
        "a reasonably long document with plenty of alphabetic words and "
        "varied vocabulary that scores well on the composite quality signal"
    )
    rows = (
        [(i, good_text + f" variant {i}", "good.example") for i in range(4)]
        + [(10 + i, "same spam text repeated verbatim", "spam.example") for i in range(4)]
    )
    docs = spark.createDataFrame(rows, "doc_id int, text string, source string")
    rep = {r["source"]: r for r in source_quality_report(docs).collect()}
    assert rep["good.example"]["kept"] is True
    assert rep["good.example"]["dup_frac"] == 0.0
    # 4 identical docs -> 1 distinct hash -> dup_frac 0.75 > 0.5 -> dropped
    assert abs(rep["spam.example"]["dup_frac"] - 0.75) < 1e-9
    assert rep["spam.example"]["kept"] is False


def test_tfidf_doc_pairs_matches_pure_python_cosine(spark):
    """Independent ground truth (not the shared-formula oracle): plain
    float tf-idf cosine computed in Python must agree with the quantized
    Spark result to ~1e-3 — catches formula bugs that a mirrored oracle
    would reproduce on both sides."""
    import math

    from data_warehouse_punta_fina_spark.operators.retrieval import tfidf_doc_pairs

    rows = [
        (1, "spark window agg join filter scan"),
        (2, "spark window agg merge sort shuffle"),
        (3, "filter scan spark spark spark window"),
        (4, "sort shuffle merge partition broadcast"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["sim"]
        for r in tfidf_doc_pairs(docs, k=3).collect()
    }

    corpus = {i: t.split() for i, t in rows}
    n = len(corpus)
    df = {}
    for toks in corpus.values():
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    vecs = {}
    for i, toks in corpus.items():
        tf = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        w = {
            t: (1 + math.log(c)) * (math.log((n + 1) / (df[t] + 1)) + 1)
            for t, c in tf.items()
        }
        nrm = math.sqrt(sum(x * x for x in w.values()))
        vecs[i] = {t: x / nrm for t, x in w.items()}
    for (a, b), sim in got.items():
        expect = sum(vecs[a][t] * vecs[b].get(t, 0.0) for t in vecs[a])
        assert abs(sim - expect) < 1e-3, (a, b, sim, expect)


def test_edit_distance_near_dup_verifies_candidates(spark):
    """A one-token edit passes the ratio gate; an unrelated doc never
    reaches the Levenshtein stage (no shared SimHash band)."""
    from data_warehouse_punta_fina_spark.operators.dedup import edit_distance_near_dup

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [
        (1, base),
        (2, base.replace("kappa", "kapppa")),
        (3, "utterly different content about completely other things entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = edit_distance_near_dup(docs, max_hamming=3, max_ratio=0.2).collect()
    pairs = {(r["id_a"], r["id_b"]): (r["dist"], r["ratio"]) for r in out}
    assert (1, 2) in pairs
    dist, ratio = pairs[(1, 2)]
    assert dist == 1 and ratio < 0.02
    assert not any(3 in p for p in pairs)


def test_repeated_span_stats_interval_merge(spark):
    """Hand-checked exact-substring spans: overlapping duplicated 3-gram
    occurrences merge into ONE maximal span; disjoint repeats stay
    separate spans; docs with no duplicated gram (or too short to gram)
    report zeros."""
    from data_warehouse_punta_fina_spark.operators.dedup import repeated_span_stats

    shared = "the quick brown fox jumps"  # docs 1 & 2 share 3 grams of n=3
    rows = [
        # doc 1: shared phrase at tokens 0-4, then unique tail; grams
        # "the quick brown","quick brown fox","brown fox jumps" all occur
        # in doc 2 too -> positions 0,1,2 -> ONE merged span covering 0-4
        (1, shared + " over unique1 tail1 words1 here1"),
        (2, "prefix2a prefix2b " + shared + " end2a end2b"),
        # doc 3: its own phrase twice -> within-doc repeat; two DISJOINT
        # occurrences of the same 3 tokens -> two spans of 3 tokens each
        (3, "alpha beta gamma stop1 stop2 alpha beta gamma"),
        (4, "totally distinct content nothing matching anything else"),
        (5, "tiny doc"),  # < n tokens: no grams at all
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r.asDict() for r in repeated_span_stats(df, n=3).collect()}
    assert len(got) == 6
    assert got[1]["n_spans"] == 1 and got[1]["dup_tokens"] == 5
    assert got[1]["longest_span"] == 5 and got[1]["n_tokens"] == 10
    assert got[1]["dup_fraction"] == 0.5
    assert got[2]["n_spans"] == 1 and got[2]["dup_tokens"] == 5
    assert got[3]["n_spans"] == 2 and got[3]["dup_tokens"] == 6
    assert got[3]["longest_span"] == 3
    for d in (4, 5, 6):
        assert got[d]["n_spans"] == 0 and got[d]["dup_tokens"] == 0
        assert got[d]["dup_fraction"] == 0.0
    assert got[5]["n_tokens"] == 2 and got[6]["n_tokens"] == 0


def test_pmi_collocations_known_values(spark):
    """Hand-computed PMI on a 3-bigram corpus; min_pair_count filters
    singletons; top-k order is (pmi desc, w1, w2)."""
    from data_warehouse_punta_fina_spark.operators.text_quality import pmi_collocations

    df = spark.createDataFrame([(1, "a b a b")], "doc_id int, text string")
    # bigrams: "a b" x2, "b a" x1; N=3
    # pmi(a,b) = ln((2/3)/((2/3)*(2/3))) = ln(1.5); pmi(b,a) = ln(3)
    out = pmi_collocations(df, min_pair_count=1, top_k=10).collect()
    got = [(r["w1"], r["w2"], r["n_pair"], r["pmi"]) for r in out]
    assert got[0][:2] == ("b", "a") and got[0][2] == 1
    assert abs(float(got[0][3]) - 1.098612) < 1e-9
    assert got[1][:2] == ("a", "b") and got[1][2] == 2
    assert abs(float(got[1][3]) - 0.405465) < 1e-9
    only = pmi_collocations(df, min_pair_count=2, top_k=10).collect()
    assert [(r["w1"], r["w2"]) for r in only] == [("a", "b")]


def test_psi_report_stable_and_drifted(spark):
    """PSI ≈ 0 when the distribution is unchanged; a fully-shifted
    current snapshot lands in the last bin with a large PSI; empty bins
    hit the eps floor instead of ±inf."""
    from data_warehouse_punta_fina_spark.operators.quality import psi_report

    base = spark.range(1, 101).select(F.col("id").cast("double").alias("v"))
    same = psi_report(base, base, "v", n_bins=10).collect()
    assert len(same) == 10
    assert all(r["psi_term"] == 0.0 for r in same)
    assert [r["n_base"] for r in sorted(same, key=lambda r: r["bin"])] == [10] * 10
    # open-ended outer bins
    by_bin = {r["bin"]: r for r in same}
    assert by_bin[1]["lo"] is None and by_bin[10]["hi"] is None

    shifted = base.select((F.col("v") + 1000).alias("v"))
    drift = psi_report(base, shifted, "v", n_bins=10).collect()
    bybin = {r["bin"]: r for r in drift}
    assert bybin[10]["n_cur"] == 100  # everything beyond the last cut
    assert all(bybin[b]["n_cur"] == 0 for b in range(1, 10))
    total = sum(float(r["psi_term"]) for r in drift)
    assert total > 0.25  # "drifted" by every rule of thumb
    # eps floor: empty-bin terms are finite
    assert all(abs(float(r["psi_term"])) < 1e6 for r in drift)


def test_dedup_segments_keep_first_and_reassembly(spark):
    """Corpus-wide keep-first segment dedup: boilerplate survives only in
    its earliest (doc, pos); within-doc repeats drop too; reassembly
    preserves segment order; all-dropped and empty docs report ''."""
    from data_warehouse_punta_fina_spark.operators.dedup import dedup_segments

    rows = [
        (1, ["intro one", "boiler plate", "body one"]),
        (2, ["boiler plate", "body two"]),       # boilerplate dropped here
        (3, ["boiler plate"]),                   # everything dropped
        (4, ["rep seg", "middle bit", "rep seg"]),  # within-doc repeat
        (5, []),
    ]
    df = spark.createDataFrame(rows, "doc_id int, segs array<string>")
    got = {
        r["doc_id"]: r.asDict()
        for r in dedup_segments(df, F.col("segs"), "doc_id").collect()
    }
    assert len(got) == 5
    assert got[1]["cleaned_text"] == "intro one boiler plate body one"
    assert (got[1]["n_segments"], got[1]["n_kept"]) == (3, 3)
    assert got[2]["cleaned_text"] == "body two"
    assert (got[2]["n_segments"], got[2]["n_kept"]) == (2, 1)
    assert got[3]["cleaned_text"] == "" and got[3]["n_kept"] == 0
    assert got[4]["cleaned_text"] == "rep seg middle bit"
    assert (got[4]["n_segments"], got[4]["n_kept"]) == (3, 2)
    assert got[5]["cleaned_text"] == "" and got[5]["n_segments"] == 0


def test_fixed_token_segments_windows(spark):
    from data_warehouse_punta_fina_spark.operators.dedup import fixed_token_segments

    df = spark.createDataFrame([(1, "a b c d e"), (2, "")], "doc_id int, text string")
    got = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", fixed_token_segments("text", 2).alias("s")).collect()
    }
    assert got[1] == ["a b", "c d", "e"]  # tail kept
    assert got[2] == []


def test_token_entropy_known_values(spark):
    """Hand-checked Shannon entropy: uniform 2-token doc -> H = ln 2,
    norm ~= 1; skewed doc lower; single-token and empty docs undefined."""
    from data_warehouse_punta_fina_spark.operators.text_quality import token_entropy

    rows = [(1, "a a b b"), (2, "a a a b"), (3, "solo solo"), (4, "")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r.asDict() for r in token_entropy(df).collect()}
    # round-6 per term: -2*round6(.5*ln .5) = 0.693148
    assert abs(got[1]["entropy"] - 0.693148) < 1e-9
    assert abs(got[1]["norm_entropy"] - 1.000001) < 1e-9
    # H(.75,.25) = 0.562335 (term-rounded)
    assert abs(got[2]["entropy"] - 0.562335) < 1e-6
    assert got[2]["norm_entropy"] < got[1]["norm_entropy"]
    assert got[3]["entropy"] == 0.0 and got[3]["norm_entropy"] is None
    assert got[3]["distinct_tokens"] == 1 and got[3]["n_tokens"] == 2
    assert got[4]["entropy"] is None and got[4]["n_tokens"] == 0


def test_exact_ntile_matches_sql_ntile(spark):
    """exact_ntile reproduces SQL NTILE's front-loaded buckets (N=10,
    k=4 -> sizes 3,3,2,2) without any global window in the plan."""
    from data_warehouse_punta_fina_spark.operators.windows import exact_ntile

    df = spark.range(1, 11).select(F.col("id").alias("v"))
    got = exact_ntile(df, ["v"], 4, out="q").orderBy("v").collect()
    assert [r["q"] for r in got] == [1, 1, 1, 2, 2, 2, 3, 3, 4, 4]


def test_rfm_scores_segments(spark):
    """RFM quintiles + segment labels: top-everything customer lands in
    'champion', stale low-frequency in 'hibernating'; every score in
    1..5 and deterministic."""
    import datetime

    from data_warehouse_punta_fina_spark.operators.behavior import rfm_scores

    rows = [
        # key, last order date, frequency, monetary
        (i, datetime.date(2024, 1, i + 1), i + 1, float((i + 1) * 100)) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "k int, last_dt date, freq int, mon double")
    got = {r["k"]: r.asDict() for r in rfm_scores(df, "k", "last_dt", "freq", "mon").collect()}
    assert got[9]["segment"] == "champion"        # best on all three axes
    assert got[0]["segment"] == "hibernating"     # worst on all three
    for r in got.values():
        assert 1 <= r["r_score"] <= 5 and 1 <= r["f_score"] <= 5 and 1 <= r["m_score"] <= 5
    # monotone alignment: the axes are perfectly correlated here
    assert all(got[i]["r_score"] == got[i]["f_score"] == got[i]["m_score"] for i in got)


def test_basket_affinity_known_values(spark):
    """Hand-checked support/confidence/lift on 4 baskets; the
    max_basket_items guard drops a giant basket before pairing."""
    from data_warehouse_punta_fina_spark.operators.behavior import basket_affinity

    rows = [
        (1, "a"), (1, "b"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "c"),
        (4, "c"),
        (4, "c"),  # duplicate line within basket: deduped before pairing
    ]
    df = spark.createDataFrame(rows, "bk int, it string")
    out = basket_affinity(df, "bk", "it", min_pair_count=1, top_k=10).collect()
    got = {(r["item_a"], r["item_b"]): r.asDict() for r in out}
    # n=4 baskets; a in 3, b in 2, c in 2; (a,b) in 2, (a,c) in 1
    ab = got[("a", "b")]
    assert ab["n_pair"] == 2 and ab["n_a"] == 3 and ab["n_b"] == 2
    assert float(ab["support"]) == 0.5
    assert abs(float(ab["confidence"]) - 2 / 3) < 1e-6
    assert abs(float(ab["lift"]) - (0.5 / (0.75 * 0.5))) < 1e-5
    ac = got[("a", "c")]
    assert ac["n_pair"] == 1 and abs(float(ac["lift"]) - (0.25 / (0.75 * 0.5))) < 1e-5

    # guard: basket 5 with 3 items dropped when max_basket_items=2
    rows5 = rows + [(5, "a"), (5, "b"), (5, "c")]
    df5 = spark.createDataFrame(rows5, "bk int, it string")
    full = basket_affinity(df5, "bk", "it", min_pair_count=1, top_k=10).collect()
    capped = basket_affinity(
        df5, "bk", "it", min_pair_count=1, top_k=10, max_basket_items=2
    ).collect()
    assert {(r["item_a"], r["item_b"], r["n_pair"]) for r in capped} == {
        (r["item_a"], r["item_b"], r["n_pair"]) for r in out
    }
    assert len(full) >= len(capped)


def test_pagerank_star_graph(spark):
    """Star graph: the hub out-ranks every leaf; undirected mass is
    conserved (sum of ranks ~ 1); result invariant under input
    repartitioning (decimal-sum determinism)."""
    from data_warehouse_punta_fina_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("hub", "a"), ("hub", "b"), ("hub", "c")], "src string, dst string"
    )
    got = {r["node"]: float(r["rank"]) for r in pagerank(edges, iterations=5).collect()}
    assert got["hub"] > got["a"] == got["b"] == got["c"]
    assert abs(sum(got.values()) - 1.0) < 1e-4
    again = {
        r["node"]: float(r["rank"])
        for r in pagerank(edges.repartition(7), iterations=5).collect()
    }
    assert got == again


def test_weighted_sample_deterministic_and_weight_sensitive(spark):
    """A-ES weighted sampling: reproducible under repartitioning, heavy
    weights dominate the sample, zero/negative weights excluded."""
    from data_warehouse_punta_fina_spark.operators.sampling import weighted_sample

    rows = [(i, 1000.0 if i < 10 else 1.0) for i in range(200)] + [(900, 0.0), (901, -5.0)]
    df = spark.createDataFrame(rows, "doc_id int, w double")
    got = weighted_sample(df, "w", 10, seed="t", id_col="doc_id").collect()
    ids = {r["doc_id"] for r in got}
    assert len(ids) == 10 and 900 not in ids and 901 not in ids
    # the ten 1000x-weight rows should dominate (each ~1000x more likely)
    assert len(ids & set(range(10))) >= 8
    again = {
        r["doc_id"]
        for r in weighted_sample(df.repartition(13), "w", 10, seed="t", id_col="doc_id").collect()
    }
    assert again == ids
    other = {
        r["doc_id"] for r in weighted_sample(df, "w", 10, seed="u", id_col="doc_id").collect()
    }
    assert other != ids  # a different seed draws a different sample


def test_heavy_hitters_exact_and_partition_invariant(spark):
    """MG candidates + exact recount: output is exactly {items with
    freq > N/k} regardless of partitioning; borderline items excluded."""
    from data_warehouse_punta_fina_spark.operators.sampling import heavy_hitters

    # N = 100: 'hot' x 40, 'warm' x 25, 20 singles with 35 filler rows
    rows = (
        [("hot",)] * 40 + [("warm",)] * 25 + [(f"u{i}",) for i in range(35)]
    )
    df = spark.createDataFrame(rows, "t string")
    got = {r["t"]: r["n_occurrences"] for r in heavy_hitters(df, "t", 4).collect()}
    assert got == {"hot": 40}  # threshold N/4 = 25: warm (=25) excluded, hot in
    got8 = {r["t"]: r["n_occurrences"] for r in heavy_hitters(df, "t", 8).collect()}
    assert got8 == {"hot": 40, "warm": 25}  # threshold 12.5
    # partition invariance (the MG union is a superset under ANY layout)
    got_r = {
        r["t"]: r["n_occurrences"]
        for r in heavy_hitters(df.repartition(11), "t", 8).collect()
    }
    assert got_r == got8


def test_phrase_search_token_exact(spark):
    """Phrase matching is token-exact: punctuation/case variants match,
    prefix-extensions don't; positions and counts are right."""
    from data_warehouse_punta_fina_spark.operators.retrieval import phrase_search

    rows = [
        (1, "the quick brown fox"),
        (2, "very Quick, BROWN! things"),      # normalization still matches
        (3, "quick brownish fox"),             # not the phrase
        (4, "quick brown quick brown"),        # two matches
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: (r["n_matches"], r["first_pos"])
           for r in phrase_search(df, "Quick Brown").collect()}
    assert got == {1: (1, 1), 2: (1, 1), 4: (2, 0)}
    import pytest

    with pytest.raises(ValueError):
        phrase_search(df, "!!!")


def test_psi_categorical_vanished_category(spark):
    """Categorical PSI: identical mixes score 0; a category present only
    in one side hits the eps floor (large finite term, not inf)."""
    from data_warehouse_punta_fina_spark.operators.quality import psi_report_categorical

    base = spark.createDataFrame([("a",)] * 50 + [("b",)] * 50, "t string")
    same = psi_report_categorical(base, base, "t").collect()
    assert sorted(r["category"] for r in same) == ["a", "b"]
    assert all(float(r["psi_term"]) == 0.0 for r in same)

    cur = spark.createDataFrame([("a",)] * 100, "t string")  # b vanished
    drift = {r["category"]: r.asDict() for r in psi_report_categorical(base, cur, "t").collect()}
    assert drift["b"]["n_cur"] == 0 and float(drift["b"]["p_cur"]) == 1e-06
    total = sum(float(r["psi_term"]) for r in drift.values())
    assert 0.25 < total < 1e6  # clearly drifted, finite


def test_pq_fit_codebook_shape_and_grouping(spark):
    # m codebooks train in one grouped chain: m*k rows (minus any emptied
    # clusters), subvector length dims/m, cn2 = exact squared norm
    from data_warehouse_punta_fina_spark.operators.similarity import pq_fit

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = pq_fit(emb, m=4, n_centroids=8, iters=1).collect()
    assert len(cb) <= 32 and len({(r["sub"], r["cid"]) for r in cb}) == len(cb)
    assert {r["sub"] for r in cb} == {0, 1, 2, 3}
    for r in cb:
        assert len(r["cvec"]) == 16
        assert r["cn2"] == sum(c * c for c in r["cvec"])


def test_pq_fit_rejects_wrong_dims(spark):
    """A dims mismatch must raise, not silently train a truncated
    codebook via short F.slice subvectors (ADVICE r5): the guard is an
    inline JVM-side raise_error on every vector's real length."""
    import pytest as _pytest

    from data_warehouse_punta_fina_spark.operators.similarity import pq_fit

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with _pytest.raises(Exception) as exc:
        pq_fit(emb, m=4, n_centroids=8, iters=1, dims=32).collect()
    assert "!= dims=32" in str(exc.value)


def test_pq_topk_with_full_rerank_equals_brute_force(spark):
    # rerank >= corpus size makes the ADC stage pure candidate generation
    # over everything — the exact rerank must then reproduce brute force
    # bit-for-bit (scores AND ranks)
    from data_warehouse_punta_fina_spark.operators.similarity import (
        brute_force_topk,
        pq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 4)
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in pq_topk(emb, q, k=3, m=4, n_centroids=8, iters=1, rerank=10_000).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in brute_force_topk(emb, q, k=3).collect()
    }
    assert got == want


def test_pq_topk_scores_are_exact_cosines(spark):
    # PQ decides WHICH candidates survive, never the reported score: every
    # emitted cosine must equal the exact quantized cosine of that pair
    from data_warehouse_punta_fina_spark.functions.vectors import QUANT
    from data_warehouse_punta_fina_spark.operators.similarity import pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def quant(v):
        import math

        return [math.floor(float(x) * QUANT + 0.5) for x in v]

    out = pq_topk(emb, emb.filter(F.col("vec_id") < 2), k=5, rerank=20).collect()
    assert len(out) == 10
    import math

    for r in out:
        a, b = quant(vecs[r["query_id"]]), quant(vecs[r["neighbor_id"]])
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a)
        nb = sum(x * x for x in b)
        want = math.floor(dot / math.sqrt(na * nb) * 1e6 + 0.5) / 1e6
        assert float(r["cosine"]) == want


def test_mmr_skips_near_duplicates_plain_topk_does_not(spark):
    # corpus: two near-identical highly-relevant vectors + one moderately
    # relevant orthogonal one. Plain top-2 returns the duplicate pair;
    # MMR picks one of them, then the orthogonal doc.
    from data_warehouse_punta_fina_spark.operators.similarity import (
        brute_force_topk,
        mmr_topk,
    )

    dim = 64
    a = [1.0] + [0.0] * (dim - 1)           # cluster A
    a2 = [1.0, 0.01] + [0.0] * (dim - 2)    # near-duplicate of A
    b = [0.0] * 32 + [1.0] + [0.0] * 31     # orthogonal cluster B
    qv = [0.8] + [0.0] * 31 + [0.6] + [0.0] * 31  # between A and B, closer to A
    emb = spark.createDataFrame(
        [(1, a), (2, a2), (3, b)], "vec_id long, embedding array<float>"
    )
    q = spark.createDataFrame([(0, qv)], "vec_id long, embedding array<float>")

    plain = [r["neighbor_id"] for r in
             brute_force_topk(emb, q, k=2).orderBy("rank").collect()]
    assert plain == [1, 2]  # top-2 by pure relevance = the duplicate pair

    mmr = {(r["step"], r["neighbor_id"]) for r in mmr_topk(emb, q, k=2, pool=3).collect()}
    assert mmr == {(1, 1), (2, 3)}  # step 2 skips the near-copy, takes B


def test_mmr_steps_are_distinct_and_pool_bound(spark):
    from data_warehouse_punta_fina_spark.operators.similarity import mmr_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = mmr_topk(emb, emb.filter(F.col("vec_id") < 3), k=4, pool=10).collect()
    assert len(out) == 12
    for qid in (0, 1, 2):
        picks = [r["neighbor_id"] for r in out if r["query_id"] == qid]
        assert len(set(picks)) == 4  # no repeats across steps


def test_group_concentration_uniform_vs_monopoly(spark):
    from data_warehouse_punta_fina_spark.operators.stats import group_concentration

    rows = [("eq", f"u{i}", 10.0) for i in range(4)] + [
        ("mono", "u0", 100.0),
        ("mono", "u1", 0.0),
        ("mono", "u2", 0.0),
        ("mono", "u3", 0.0),
    ]
    df = spark.createDataFrame(rows, "g string, u string, v double")
    out = {r["g"]: r for r in group_concentration(df, ["g"], "u", "v").collect()}
    assert out["eq"]["gini"] == 0.0 and out["eq"]["top_share"] == 0.25
    # all mass on one of 4 units: G = (n-1)/n = 0.75
    assert out["mono"]["gini"] == 0.75 and out["mono"]["top_share"] == 1.0
    assert out["eq"]["total"] == 40.0 and out["eq"]["n_units"] == 4


def test_mutual_information_zero_iff_independent(spark):
    from data_warehouse_punta_fina_spark.operators.stats import mutual_information

    # perfectly independent 2x2 (balanced) -> every term ln(1) = 0
    ind = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")] * 3, "a string, b string"
    )
    terms = [float(r["mi_term"]) for r in mutual_information(ind, "a", "b").collect()]
    assert terms == [0.0, 0.0, 0.0, 0.0]

    # perfectly dependent (a == b) -> MI = ln(2) for 2 balanced classes
    dep = spark.createDataFrame([("a", "a"), ("b", "b")] * 6, "a string, b string")
    mi = sum(float(r["mi_term"]) for r in mutual_information(dep, "a", "b").collect())
    import math

    assert abs(mi - math.log(2)) < 2e-6  # two round-6 terms


def test_ks_grid_zero_on_identical_one_on_separated(spark):
    from data_warehouse_punta_fina_spark.operators.stats import ks_grid_drift

    grid = spark.createDataFrame([(5.0, 15.0)], "cut_1 double, cut_2 double")
    same = spark.createDataFrame(
        [("base", float(v)) for v in range(10)] + [("cur", float(v)) for v in range(10)],
        "side string, value double",
    )
    out = ks_grid_drift(same, "value", "side", "base", grid).collect()
    assert all(float(r["ks_term"]) == 0.0 for r in out)
    assert {r["j"] for r in out} == {1, 2}

    # base in [0,10), cur in [20,30): at cut 15 the CDFs are 1 vs 0
    apart = spark.createDataFrame(
        [("base", float(v)) for v in range(10)]
        + [("cur", float(v + 20)) for v in range(10)],
        "side string, value double",
    )
    by_j = {r["j"]: r for r in ks_grid_drift(apart, "value", "side", "base", grid).collect()}
    assert float(by_j[2]["ks_term"]) == 1.0
    assert by_j[2]["n_base"] == 10 and by_j[2]["n_cur"] == 10


def test_kcore_peels_cascading_tail(spark):
    # path tail hanging off a clique: the 2-core must peel the whole tail
    # (each removal exposes the next — multi-round cascade), keep the clique
    from data_warehouse_punta_fina_spark.operators.graph import kcore

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    tail = [(3, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(clique + tail, "src int, dst int")
    out = {r["node"]: r["core_degree"] for r in kcore(edges, k=2, max_iter=8).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}  # tail edges gone from core degrees


def test_kcore_empty_when_k_exceeds_connectivity(spark):
    from data_warehouse_punta_fina_spark.operators.graph import kcore

    ring = spark.createDataFrame(
        [(i, (i + 1) % 5) for i in range(5)], "src int, dst int"
    )
    assert kcore(ring, k=3, max_iter=8).count() == 0  # a ring has no 3-core
    assert kcore(ring, k=2, max_iter=8).count() == 5  # but IS its own 2-core


def test_group_concentration_matches_pairwise_gini_definition(spark):
    # the sorted-rank identity must equal the mean-absolute-difference
    # definition G = sum|xi-xj| / (2 n^2 mean) — checked on an awkward
    # value set (ties, zeros, big spread) computed exactly in Python
    from data_warehouse_punta_fina_spark.operators.stats import group_concentration

    vals = [0.0, 0.0, 1.25, 1.25, 3.5, 10.0, 10.0, 250.75, 4.2, 0.01]
    df = spark.createDataFrame(
        [("g", f"u{i}", v) for i, v in enumerate(vals)], "g string, u string, v double"
    )
    got = group_concentration(df, ["g"], "u", "v").collect()[0]

    import math

    q = [math.floor(v * 100 + 0.5) for v in vals]  # the operator's int64 cents
    n = len(q)
    pairwise = sum(abs(a - b) for a in q for b in q) / (2 * n * n * (sum(q) / n))
    want = math.floor(pairwise * 1e6 + 0.5) / 1e6
    # rank identity: compute the same way the operator does for the exact
    # IEEE op order, then compare both closed forms at round-6
    xs = sorted(q)
    six = sum((i + 1) * x for i, x in enumerate(xs))
    rank_form = (2.0 * six) / (n * float(sum(q))) - (n + 1.0) / n
    assert math.floor(rank_form * 1e6 + 0.5) / 1e6 == want
    assert float(got["gini"]) == want


def test_mmr_pool_smaller_than_k_returns_whole_pool(spark):
    # corpus of 3 neighbors, k=5: selection exhausts the pool and stops
    # emitting — no crash, no duplicates, steps stay dense 1..3
    from data_warehouse_punta_fina_spark.operators.similarity import mmr_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").filter(
        "vec_id < 4"
    )
    out = mmr_topk(emb, emb.filter("vec_id = 0"), k=5, pool=10).collect()
    picks = [(r["step"], r["neighbor_id"]) for r in out]
    assert sorted(s for s, _ in picks) == [1, 2, 3]
    assert len({n for _, n in picks}) == 3


def test_kmeans_quality_report_separated_clusters_score_high(spark):
    from data_warehouse_punta_fina_spark.operators.similarity import (
        kmeans_quality_report,
    )

    dim = 64
    # two tight, well-separated blobs -> near-perfect silhouettes
    rows = []
    for i in range(6):
        v = [0.0] * dim
        v[0] = 10.0 + 0.001 * i
        rows.append((i, v))
    for i in range(6, 12):
        v = [0.0] * dim
        v[1] = 10.0 + 0.001 * i
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_quality_report(emb, n_centroids=2, iters=3).collect()
    assert len(out) == 2 and sum(r["n_vecs"] for r in out) == 12
    for r in out:
        assert float(r["mean_silhouette"]) > 0.99
        assert float(r["mean_sq_dist"]) < 100.0  # tight: ~1e-3-scale spread

    import pytest

    with pytest.raises(ValueError):
        kmeans_quality_report(emb, n_centroids=1)


def test_scd_type3_previous_value_semantics(spark):
    from data_warehouse_punta_fina_spark.operators.scd import type3_update

    target = spark.createDataFrame(
        [(1, "north", "old-n", "x1"), (2, "south", None, "x2"), (3, "east", "old-e", "x3")],
        "k int, region string, prev_region string, other string",
    )
    updates = spark.createDataFrame(
        [
            (1, "west", "y1"),    # changed -> prev_region takes 'north'
            (2, "south", "y2"),   # re-asserted same value -> prev stays None
            (4, "mid", "y4"),     # brand new key -> NULL prev
        ],
        "k int, region string, other string",
    )
    out = {r["k"]: r for r in type3_update(target, updates, ["k"], "region").collect()}
    assert len(out) == 4
    assert (out[1]["region"], out[1]["prev_region"], out[1]["other"]) == ("west", "north", "y1")
    assert (out[2]["region"], out[2]["prev_region"], out[2]["other"]) == ("south", None, "y2")
    assert (out[3]["region"], out[3]["prev_region"], out[3]["other"]) == ("east", "old-e", "x3")
    assert (out[4]["region"], out[4]["prev_region"], out[4]["other"]) == ("mid", None, "y4")


def test_type3_null_tracked_update_overwrites(spark):
    """Pins the documented NULL-overwrite corner (ADVICE r5): an explicit
    NULL tracked value in an update IS a change — tracked becomes NULL,
    prev captures the old value; NULL-to-NULL re-assertion is NOT a
    change (null-safe compare)."""
    from data_warehouse_punta_fina_spark.operators.scd import type3_update

    target = spark.createDataFrame(
        [(1, "north", "old-n"), (2, None, "old-s")],
        "k int, region string, prev_region string",
    )
    updates = spark.createDataFrame(
        [(1, None), (2, None)], "k int, region string"
    )
    out = {r["k"]: r for r in type3_update(target, updates, ["k"], "region").collect()}
    # explicit NULL overwrote, prev captured the old value
    assert (out[1]["region"], out[1]["prev_region"]) == (None, "north")
    # NULL == NULL null-safely -> unchanged, prev untouched
    assert (out[2]["region"], out[2]["prev_region"]) == (None, "old-s")


def test_scd_type3_creates_prev_column_when_absent(spark):
    from data_warehouse_punta_fina_spark.operators.scd import type3_update

    target = spark.createDataFrame([(1, "a")], "k int, seg string")
    updates = spark.createDataFrame([(1, "b")], "k int, seg string")
    row = type3_update(target, updates, ["k"], "seg").collect()[0]
    assert (row["seg"], row["prev_seg"]) == ("b", "a")


def test_seasonal_decompose_recovers_known_components(spark):
    # value = 10t + seasonal [5,-5,0,0]: trend MA must recover 10t where
    # the window is full, seasonal the exact pattern, residual zero
    from data_warehouse_punta_fina_spark.operators.timeseries import (
        seasonal_decompose,
    )

    rows = [(t, 10.0 * t + [5.0, -5.0, 0.0, 0.0][t % 4]) for t in range(16)]
    df = spark.createDataFrame(rows, "t int, v double")
    out = {r["t"]: r for r in seasonal_decompose(df, "t", "v", period=4).collect()}
    assert out[0]["trend"] is None and out[1]["trend"] is None  # incomplete edges
    for t in range(2, 14):
        assert out[t]["trend"] == 10.0 * t
        assert out[t]["seasonal"] == [5.0, -5.0, 0.0, 0.0][t % 4]
        assert out[t]["residual"] == 0.0

    import pytest

    with pytest.raises(ValueError):
        seasonal_decompose(df, "t", "v", period=1)


def test_seasonal_decompose_grouped_series_partition_independently(spark):
    from data_warehouse_punta_fina_spark.operators.timeseries import (
        seasonal_decompose,
    )

    rows = [("a", t, 100.0 + [2.0, -2.0, 0.0][t % 3]) for t in range(9)] + [
        ("b", t, 50.0 + [0.0, 6.0, -6.0][t % 3]) for t in range(9)
    ]
    df = spark.createDataFrame(rows, "s string, t int, v double")
    out = seasonal_decompose(df, "t", "v", period=3, series_cols=["s"]).collect()
    a = {r["t"]: r for r in out if r["s"] == "a"}
    b = {r["t"]: r for r in out if r["s"] == "b"}
    # flat trend per series where windows are full; each series keeps its
    # OWN seasonal pattern (no cross-series leakage)
    for t in range(1, 8):
        assert a[t]["trend"] == 100.0 and b[t]["trend"] == 50.0
        assert a[t]["seasonal"] == [2.0, -2.0, 0.0][t % 3]
        assert b[t]["seasonal"] == [0.0, 6.0, -6.0][t % 3]
        assert a[t]["residual"] == 0.0 and b[t]["residual"] == 0.0


def test_frequent_triples_apriori_semantics(spark):
    from data_warehouse_punta_fina_spark.operators.behavior import frequent_triples

    rows = (
        [(f"b{i}", x) for i in range(3) for x in ("a", "b", "c")]  # abc x3
        + [("b3", "a"), ("b3", "b"), ("b3", "d")]                  # ab+d once
        + [("b4", "x"), ("b4", "y"), ("b4", "z")]                  # xyz once
    )
    df = spark.createDataFrame(rows, "bk string, it string")
    out = frequent_triples(df, "bk", "it", min_count=2, top_k=10).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["item_a"], r["item_b"], r["item_c"], r["n_triple"]) == ("a", "b", "c", 3)
    assert float(r["support"]) == 0.6  # 3 of 5 baskets


def test_linear_attribution_splits_credit_and_keeps_organic(spark):
    from data_warehouse_punta_fina_spark.operators.behavior import linear_attribution

    from datetime import datetime as dt

    rows = [
        # user 1: 2 touches (view, click) then a purchase -> 0.5 each
        (1, dt(2024, 1, 1, 10), "view", 1),
        (1, dt(2024, 1, 1, 11), "click", 2),
        (1, dt(2024, 1, 1, 12), "purchase", 3),
        # user 2: no touch in window -> organic
        (2, dt(2024, 1, 5, 12), "purchase", 4),
        # user 2 old view 3 days before: outside the 24h window
        (2, dt(2024, 1, 2, 12), "view", 5),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string, event_id long")
    out = {r["channel"]: (r["conversions"], r["credited"]) for r in linear_attribution(df).collect()}
    assert out["view"] == (1, 0.5)
    assert out["click"] == (1, 0.5)
    assert out["organic"] == (1, 1.0)


def test_neyman_allocation_favors_variable_strata_and_sums_exactly(spark):
    from data_warehouse_punta_fina_spark.operators.sampling import neyman_allocation

    # stratum 'wild': huge spread; 'calm': same size, tiny spread
    rows = [("wild", float(v)) for v in (0, 1000, 0, 1000, 0, 1000)] + [
        ("calm", 500.0 + 0.01 * i) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "s string, v double")
    out = {r["s"]: r for r in neyman_allocation(df, ["s"], "v", 100).collect()}
    assert out["wild"]["alloc"] + out["calm"]["alloc"] == 100  # budget exact
    assert out["wild"]["alloc"] > 90  # nearly all budget to the variable stratum
    assert out["wild"]["n_pop"] == out["calm"]["n_pop"] == 6


def test_neyman_allocation_constant_strata_fall_back_proportional(spark):
    from data_warehouse_punta_fina_spark.operators.sampling import neyman_allocation

    rows = [("a", 5.0)] * 30 + [("b", 7.0)] * 10
    df = spark.createDataFrame(rows, "s string, v double")
    out = {r["s"]: r["alloc"] for r in neyman_allocation(df, ["s"], "v", 20).collect()}
    assert out == {"a": 15, "b": 5}  # proportional to size when every S_h = 0
