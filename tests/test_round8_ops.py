"""Round-8 gates: k-core depth-3 convergence must fail loudly if the
data shifts, null scores must not diverge the grouped vs ungrouped
evaluation paths, and the range-partitioned cumulative must not degrade
to one data-sized partition on low-key-cardinality inputs (ADVICE r7)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_trade_kcore_depth3_actually_converges(spark):
    """trade_kcore caps the peel at max_iter=3 because the k=10 peel is
    MEASURED to converge in one effective round at every probed SF — but
    both engines cap identically, so agreement alone can never detect an
    unconverged core if the data distribution shifts. The output itself
    carries the convergence certificate: a converged k-core has every
    node's within-core degree >= k. If depth 3 ever becomes too shallow,
    some survivor keeps degree < k and this assertion fails loudly."""
    import __spark_entry__ as entrymod

    out = entrymod.all_queries()["trade_kcore"](spark, SF_DIR)
    row = out.agg(
        F.min("core_degree").alias("mn"), F.count("*").alias("n")
    ).head()
    assert row["n"] > 0
    assert row["mn"] >= 10, (
        f"min within-core degree {row['mn']} < k=10: the depth-3 peel did "
        "not converge on this data — raise max_iter in trade_kcore AND its "
        "unrolled oracle together"
    )


def test_auc_and_ap_drop_null_scores_consistently(spark):
    """NULL scores sort last in the grouped desc window but first in the
    ungrouped range-partitioned cumulative — both operators now drop
    them up front, so the two paths must agree exactly on data WITH
    nulls present (the grouped run uses a constant group column so the
    row sets are identical)."""
    from data_warehouse_punta_fina_spark.operators.evaluation import (
        average_precision,
        binary_auc,
    )

    rows = [
        (float(s) if s is not None else None, y)
        for s, y in [
            (9, 1), (8, 0), (7, 1), (None, 1), (6, 0), (5, 1),
            (None, 0), (4, 0), (3, 1), (2, 0), (1, 0), (None, 1),
        ]
    ] * 40
    df = spark.createDataFrame(rows, "score double, label int").withColumn(
        "g", F.lit("all")
    )

    g_auc = binary_auc(df, "score", "label", ["g"]).select("n_pos", "n_neg", "auc")
    u_auc = binary_auc(df, "score", "label").select("n_pos", "n_neg", "auc")
    assert g_auc.collect() == u_auc.collect()
    # null-score rows (3 per block of 12) are excluded from the counts
    assert u_auc.head()["n_pos"] + u_auc.head()["n_neg"] == 9 * 40

    g_ap = average_precision(df, "score", "label", ["g"]).select(
        "n", "n_pos", "avg_precision"
    )
    u_ap = average_precision(df, "score", "label").select(
        "n", "n_pos", "avg_precision"
    )
    assert g_ap.collect() == u_ap.collect()
    assert u_ap.head()["n"] == 9 * 40


def test_range_partitioned_cumsum_buckets_low_cardinality_keys(spark):
    """A key-hash sample goes empty whenever there are fewer than
    ~sample_mod distinct keys — even on a huge input — silently
    recreating the global single-partition funnel. The row-content
    sample must yield real cutpoints here: 40 distinct keys x 2000 rows
    must land in >1 bucket, and the running sum must still be exact."""
    from data_warehouse_punta_fina_spark.operators.windows import (
        range_partitioned_cumsum,
    )

    n_keys, reps = 40, 2000
    df = (
        spark.range(n_keys * reps)
        .select(
            (F.col("id") % n_keys).alias("k"),
            (F.col("id") * 31 % 97).alias("v"),
            F.col("id").alias("rid"),
        )
    )
    # per-key aggregate (distinct order keys, the documented contract)
    per = df.groupBy("k").agg(F.sum("v").alias("v"))
    out = range_partitioned_cumsum(per, "k", "v", out="c", partitions=8)
    got = {r["k"]: r["c"] for r in out.collect()}
    rows = sorted((r["k"], r["v"]) for r in per.collect())
    acc, want = 0, {}
    for k, v in rows:
        acc += v
        want[k] = acc
    assert got == want

    # the guard that matters is the RAW-input case: 40 distinct keys
    # would give a key-hash sample ZERO hits at mod 512, but the
    # content-hash sample over 80k rows yields ~156 cutpoint candidates
    raw = range_partitioned_cumsum(
        df.select("k", "v", "rid"), ["k", "rid"], "v", out="c", partitions=8
    )
    raw_hits = df.filter(
        F.pmod(F.xxhash64("k", "rid", "v"), F.lit(512)) == 0
    ).count()
    assert raw_hits >= 2, "content sample unexpectedly empty on 80k rows"
    got_raw = [
        r["c"]
        for r in raw.orderBy("k", "rid").collect()
    ]
    acc, want_raw = 0, []
    for k, rid, v in sorted(
        (r["k"], r["rid"], r["v"]) for r in df.collect()
    ):
        acc += v
        want_raw.append(acc)
    assert got_raw == want_raw


def test_ivfpq_persisted_search_has_no_training_job(spark, tmp_path):
    """VERDICT r7 #5: searching the PERSISTED index must not retrain.
    Gate: the persisted-search plan scans the stored index artifacts and
    touches the embeddings source strictly fewer times than the
    train-in-query plan (whose k-means chains re-scan the corpus per
    fit); results are bit-identical to in-query training; and a
    parameter-drifted or metadata-stripped index is rejected."""
    import pytest
    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.operators.similarity import (
        ivfpq_build_index,
        ivfpq_search_index,
        ivfpq_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    idx = str(tmp_path / "ivfpq")
    params = dict(n_cells=16, m=8, n_centroids=8, iters=2)
    codes = ivfpq_build_index(emb, idx, **params)
    assert dict(codes.schema["scid"].metadata)["scheme"] == "ivfpq-md5seed-v1"

    persisted = ivfpq_search_index(
        q, emb, idx, k=5, probes=4, rerank=30, **params
    )
    trained = ivfpq_topk(
        emb, q, k=5, n_cells=16, probes=4, m=8, n_centroids=8, iters=2, rerank=30
    )
    p_plan = persisted._jdf.queryExecution().executedPlan().toString()
    t_plan = trained._jdf.queryExecution().executedPlan().toString()
    # the index artifacts are read from storage...
    assert "ivfpq" in p_plan
    # ...with dynamic partition pruning on the cid-partitioned codes
    # (the broadcast query->cell join decides which cell directories are
    # read — the probes/n_cells scan reduction is physical, not just
    # logical)
    assert "dynamicpruning" in p_plan.lower()
    # ...and no training chain re-scans the corpus: the persisted plan's
    # embeddings touches are query-prep + rerank only
    assert p_plan.count("embeddings.parquet") < t_plan.count("embeddings.parquet")
    assert sorted(map(tuple, persisted.collect())) == sorted(
        map(tuple, trained.collect())
    )

    # parameter drift and metadata-stripped indexes are rejected
    with pytest.raises(ValueError, match="different parameters"):
        ivfpq_search_index(
            q, emb, idx, k=5, probes=4, rerank=30,
            n_cells=16, m=8, n_centroids=16, iters=2,
        )
    stripped = str(tmp_path / "stripped")
    spark.read.parquet(f"{idx}/codes").select(
        "vec_id", "sub", F.col("scid").alias("scid", metadata={}), "cid"
    ).write.parquet(f"{stripped}/codes")
    spark.read.parquet(f"{idx}/centroids").write.parquet(f"{stripped}/centroids")
    spark.read.parquet(f"{idx}/codebook").write.parquet(f"{stripped}/codebook")
    with pytest.raises(ValueError, match="no parameter metadata"):
        ivfpq_search_index(q, emb, stripped, k=5, probes=4, rerank=30, **params)


def test_ivfpq_append_is_encode_only_and_validated(spark, tmp_path):
    """Encode-only ingestion: the appended batch is assigned and coded
    by the STORED quantizers (no training job), the codes table then
    covers base ∪ batch with m rows per vector and the parameter
    fingerprint intact, and appending into a metadata-stripped index is
    rejected (a silent codebook mismatch corrupts every future ADC
    score)."""
    import pytest
    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.operators.similarity import (
        ivfpq_append_index,
        ivfpq_build_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "inc")
    ivfpq_build_index(base, idx, n_cells=8, m=8, n_centroids=8, iters=2)

    codes = ivfpq_append_index(batch, idx)
    n_vec = emb.count()
    per_vec = codes.groupBy("vec_id").count()
    assert per_vec.count() == n_vec
    assert per_vec.filter(F.col("count") != 8).count() == 0
    meta = dict(codes.schema["scid"].metadata)
    assert meta["scheme"] == "ivfpq-md5seed-v1" and meta["m"] == 8

    # encode is deterministic: appending the SAME batch under identical
    # stored quantizers (a second index built on the same base) yields
    # identical code rows
    idx2 = str(tmp_path / "inc2")
    ivfpq_build_index(base, idx2, n_cells=8, m=8, n_centroids=8, iters=2)
    codes2 = ivfpq_append_index(batch, idx2)
    got = sorted(map(tuple, codes.select("vec_id", "sub", "scid", "cid").collect()))
    got2 = sorted(map(tuple, codes2.select("vec_id", "sub", "scid", "cid").collect()))
    assert got == got2

    # stripped fingerprint → reject
    stripped = str(tmp_path / "stripped")
    spark.read.parquet(f"{idx}/codes").select(
        "vec_id", "sub", F.col("scid").alias("scid", metadata={}), "cid"
    ).write.parquet(f"{stripped}/codes")
    spark.read.parquet(f"{idx}/centroids").write.parquet(f"{stripped}/centroids")
    spark.read.parquet(f"{idx}/codebook").write.parquet(f"{stripped}/codebook")
    with pytest.raises(ValueError, match="no parameter metadata"):
        ivfpq_append_index(batch, stripped)


def test_range_partitioned_cumsum_fuzz(spark):
    """Property fuzz over adversarial key/value shapes: for any list of
    (unique-key, value) pairs — duplicate VALUES, negative values,
    clustered keys — the range-partitioned running sum equals the
    sequential prefix sum, inclusive and exclusive, at several partition
    counts including more partitions than rows."""
    import random

    from data_warehouse_punta_fina_spark.operators.windows import (
        range_partitioned_cumsum,
    )

    rng = random.Random(8)
    for trial in range(4):
        n = rng.choice([1, 2, 7, 300])
        keys = rng.sample(range(-(10**6), 10**6), n)
        vals = [rng.randint(-50, 50) for _ in range(n)]
        rows = list(zip(keys, vals))
        df = spark.createDataFrame(rows, "k long, v long")
        parts = rng.choice([2, 8, 64])
        out = range_partitioned_cumsum(
            df, "k", ["v", "v"], out=["inc", "exc2"], partitions=parts
        )
        exc = range_partitioned_cumsum(
            df, "k", "v", out="exc", inclusive=False, partitions=parts
        )
        got_inc = {r["k"]: r["inc"] for r in out.collect()}
        got_exc = {r["k"]: r["exc"] for r in exc.collect()}
        acc = 0
        for k, v in sorted(rows):
            assert got_exc[k] == acc, (trial, n, parts, k)
            acc += v
            assert got_inc[k] == acc, (trial, n, parts, k)


def test_persisted_band_index_ingestion_equals_in_query(spark):
    """doc_incremental_dedup_persisted (batch joins the STORED band
    index) must return byte-identical verdicts to the in-query-indexed
    doc_incremental_dedup — the versioned band scheme makes the stored
    rows equal the recomputed ones, and the parameter fingerprint on the
    index column guarantees it stays that way."""
    import __spark_entry__ as entrymod

    qs = entrymod.all_queries()
    a = sorted(map(tuple, qs["doc_incremental_dedup_persisted"](spark, SF_DIR).collect()))
    b = sorted(map(tuple, qs["doc_incremental_dedup"](spark, SF_DIR).collect()))
    assert a == b and len(a) > 0


def test_nb_classify_semantics_and_plan(spark):
    """Multinomial NB (operators/classify.py): separable vocabularies
    train correctly; all-unseen-term docs reduce to prior + uniform
    Laplace mass (pinned against a pure-Python recomputation of the exact
    round-6 formula); empty docs fall back to the prior argmax; and the
    vocabulary-model join is broadcast (scoring never shuffles the model
    by default)."""
    import math

    from data_warehouse_punta_fina_spark.operators.classify import nb_classify

    train = spark.createDataFrame(
        [
            (1, "gato perro gato casa", "es"),
            (2, "perro casa gato", "es"),
            (3, "cat dog cat house", "en"),
            (4, "dog house cat the", "en"),
            (5, "the cat sat", "en"),
        ],
        "doc_id bigint, text string, label string",
    )
    test = spark.createDataFrame(
        [
            (10, "gato casa perro", "es"),
            (11, "the cat dog", "en"),
            (12, "zzz qqq", "en"),  # every term unseen -> smoothing only
            (13, "", "en"),  # no tokens -> prior argmax
        ],
        "doc_id bigint, text string, label string",
    )
    out = nb_classify(train, test, "text", "doc_id", "label")
    rows = {r["doc_id"]: r for r in out.collect()}

    assert rows[10]["predicted"] == "es" and rows[10]["correct"]
    assert rows[11]["predicted"] == "en" and rows[11]["correct"]
    assert rows[13]["n_tokens"] == 0 and rows[13]["margin"] > 0
    # empty doc: argmax over priors alone -> en (3/5 train docs)
    assert rows[13]["predicted"] == "en"

    # doc 12: replicate the exact formula (round-6 each ln, sum, argmax).
    # tot_en=11 tot_es=7, V=8 distinct train terms, priors 3/5 vs 2/5 --
    # the uniform Laplace mass ln(1/(tot+V)) favors the SMALLER class
    # enough to flip the prior here; the operator must agree with the
    # from-scratch computation, not with intuition.
    r6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6
    s_en = r6(math.log(3 / 5)) + 2 * r6(math.log(1 / (11 + 8)))
    s_es = r6(math.log(2 / 5)) + 2 * r6(math.log(1 / (7 + 8)))
    want = "en" if s_en >= s_es else "es"
    assert rows[12]["predicted"] == want
    assert abs(abs(rows[12]["margin"]) - abs(s_en - s_es)) < 1e-9

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the per-doc argmax window partitions by a real column, never a
    # constant (the registry-wide warning gate also sweeps this query)
    assert "Window" in plan


def test_logistic_regression_gd_matches_pure_python_trajectory(spark):
    """logistic_regression_gd (operators/classify.py) must reproduce,
    bit for bit, a from-scratch pure-Python replay of its documented
    arithmetic contract: per-row IEEE-double dot product + sigmoid,
    sigmoid and log-loss round-9'd to decimals the instant they exist,
    exact decimal cross-row sums, weights re-rounded to 9 decimals per
    step. If any stage silently drifted to float accumulation (and so
    became partition-order-dependent on a real cluster), the decimal
    trajectory would diverge from this replay within an iteration."""
    import math
    from decimal import Decimal

    from data_warehouse_punta_fina_spark.operators.classify import (
        logistic_regression_gd,
    )

    r9 = lambda x: math.floor(x * 1e9 + 0.5) / 1e9
    rows = [
        (0.25, 0.1, 1), (0.5, 0.9, 0), (0.125, 0.375, 1),
        (0.75, 0.5, 0), (0.0, 1.0, 1), (1.0, 0.0, 0),
    ]
    feats = spark.createDataFrame(
        [(Decimal(str(a)), Decimal(str(b)), y) for a, b, y in rows],
        "f1 decimal(12,6), f2 decimal(12,6), y int",
    )
    out = logistic_regression_gd(feats, ["f1", "f2"], "y", iters=4, lr=0.5)
    got = [
        (r["iter"], r["loss"], r["w_bias"], r["w_f1"], r["w_f2"])
        for r in out.collect()
    ]

    # pure-python replay (Decimal sums where the operator sums decimals)
    w = [0.0, 0.0, 0.0]
    want = []
    for it in range(4):
        n = len(rows)
        lsum = Decimal(0)
        g = [Decimal(0), Decimal(0), Decimal(0)]
        for a, b, y in rows:
            z = w[0] + w[1] * a + w[2] * b
            s = r9(1.0 / (1.0 + math.exp(-z)))
            scl = min(max(s, 1e-9), 1.0 - 1e-9)
            ll = r9(-(y * math.log(scl) + (1 - y) * math.log(1.0 - scl)))
            lsum += Decimal(str(ll)).quantize(Decimal("1e-9"))
            resid = Decimal(str(s)).quantize(Decimal("1e-9")) - y
            g[0] += resid
            g[1] += resid * Decimal(str(a))
            g[2] += resid * Decimal(str(b))
        want.append((it, r9(float(lsum) / n), w[0], w[1], w[2]))
        w = [r9(wi - 0.5 * (float(gi) / n)) for wi, gi in zip(w, g)]
    assert got == want

    # scale shape: the per-iteration barrier is a 1-row aggregate -- the
    # trajectory output must contain NO window and no per-row Python
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "BatchEvalPython" not in plan


def _py_tokens(text):
    import re

    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _py_winnow(text, k=4, w=4):
    """Pure-python winnowing replay of operators/winnow.py's documented
    contract: 8-hex md5 k-gram hashes, rightmost minimum of every
    w-window (one truncated window for docs with < w k-grams)."""
    import hashlib

    toks = _py_tokens(text)
    grams = (
        [" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)]
        if len(toks) >= k
        else []
    )
    m = 1 << 31
    combs = [
        int(hashlib.md5(g.encode()).hexdigest()[:8], 16) * m + (m - 1 - p)
        for p, g in enumerate(grams)
    ]
    n = len(combs)
    sel = set()
    for e in range(n):
        if e >= w - 1 or e == n - 1:
            sel.add(min(combs[max(0, e - w + 1) : e + 1]))
    return {(c >> 31, (m - 1) - (c % m)) for c in sel}


def test_winnow_fingerprints_match_pure_python_and_guarantee(spark):
    """winnow_fingerprints must equal a from-scratch replay of the paper's
    selection rule on every doc shape (long, tie-heavy, truncated-window,
    sub-k); and the winnowing GUARANTEE must hold: two docs sharing a
    token run of >= w+k-1 tokens share at least one fingerprint."""
    from data_warehouse_punta_fina_spark.operators.winnow import (
        winnow_fingerprints,
    )

    texts = {
        1: "a b c d e f g h i j k l",
        2: "x y z q a b c d e f g w t u v",  # shares 'a b c d e f g' (7 = w+k-1)
        3: "m m m m m m m m",  # all-identical grams: pure tie territory
        4: "p q r s t",  # 2 grams < w: one truncated window
        5: "only three toks",  # < k tokens: no fingerprints
        6: "",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id bigint, text string")
    out = winnow_fingerprints(df, k=4, w=4)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], set()).add((r["fp_hash"], r["fp_pos"]))
    for did, text in texts.items():
        assert got.get(did, set()) == _py_winnow(text), f"doc {did} diverged"
    shared = {h for h, _ in got[1]} & {h for h, _ in got[2]}
    assert shared, "w+k-1 shared run must produce a shared fingerprint"


def test_winnow_overlap_df_cap_and_plan(spark):
    """The document-frequency cap must drop ubiquitous fingerprints
    BEFORE the pair join (a boilerplate hash in every doc may not emit
    quadratic pairs), sizes must be counted over the capped vocabulary
    (overlap stays <= 1), and the per-doc selection windows must
    partition by the real doc id."""
    from data_warehouse_punta_fina_spark.operators.winnow import (
        winnow_fingerprints,
        winnow_overlap,
    )

    boiler = "common tail line here"
    rows = [(i, f"unique{i} token{i} filler{i} pad{i} " + boiler) for i in range(8)]
    rows += [(100, "alpha beta gamma delta epsilon zeta eta theta"),
             (101, "alpha beta gamma delta epsilon zeta eta iota")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    fp = winnow_fingerprints(df, k=4, w=4)
    out = winnow_overlap(fp, max_df=3, min_shared=1)
    pairs = {(r["id_a"], r["id_b"]): r for r in out.collect()}
    assert all(a >= 100 for a, _ in pairs), (
        "boilerplate-only pairs must be dropped by the df cap: "
        f"{sorted(pairs)}"
    )
    assert (100, 101) in pairs
    assert all(0 < r["overlap"] <= 1.0 for r in pairs.values())

    # selection windows partition by the real doc id (never a constant)
    fp_plan = fp._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(doc_id" in fp_plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the fingerprint extraction (explode + selection windows) feeds four
    # consumers (df cap, sizes, both join sides) through checkpoint
    # boundaries — the overlap plan itself re-plans ZERO of that subtree
    assert plan.count("windowspecdefinition(doc_id") == 0
    assert "ExistingRDD" in plan


def test_dsir_sample_matches_pure_python(spark):
    """doc_dsir_sample's whole arithmetic contract replayed from scratch:
    hashed unigram+bigram buckets, Laplace round-6 log-ratios as exact
    decimals, exact-decimal logw, md5-Gumbel keys round-9'd — the
    operator's top-k (ids, logw, keys) must equal the replay bit for
    bit. A drift to float accumulation anywhere (partition-order-
    dependent on a real cluster) diverges within one document."""
    import hashlib
    import math

    from data_warehouse_punta_fina_spark.operators.importance import (
        dsir_resample,
        hashed_ngram_logratio,
    )

    texts = {
        1: ("the cat sat on the mat", "en"),
        2: ("el gato en la alfombra", "es"),
        3: ("the dog ran to the cat", "en"),
        4: ("", "es"),                       # zero tokens -> logw 0
        5: ("cat mat the", "es"),
        6: ("un perro y un gato", "es"),
    }
    df = spark.createDataFrame(
        [(i, t, l) for i, (t, l) in texts.items()],
        "doc_id bigint, text string, lang string",
    )
    nb, k = 8, 4
    lam_df = hashed_ngram_logratio(
        df.filter(F.col("lang") == "en"), df, text_col="text", n_buckets=nb
    )
    out = dsir_resample(
        df.select("doc_id", "text"), lam_df, k=k, n_buckets=nb, seed="dsir"
    )
    got = [(r["doc_id"], r["logw"], r["sample_key"]) for r in out.collect()]

    def grams(text):
        t = _py_tokens(text)
        return t + [" ".join(t[j : j + 2]) for j in range(len(t) - 1)]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:13], 16) % nb

    tc, rc = [0] * nb, [0] * nb
    for i, (t, l) in texts.items():
        for g in grams(t):
            rc[bucket(g)] += 1
            if l == "en":
                tc[bucket(g)] += 1
    tt, tr = sum(tc), sum(rc)
    r6i = lambda x: math.floor(x * 1e6 + 0.5)  # numerator of the DECIMAL(12,6)
    lam_n = [
        r6i(math.log((tc[b] + 1) / (tt + nb))) - r6i(math.log((rc[b] + 1) / (tr + nb)))
        for b in range(nb)
    ]
    r9 = lambda x: math.floor(x * 1e9 + 0.5) / 1e9
    want = []
    for i, (t, _) in texts.items():
        logw_n = sum(lam_n[bucket(g)] for g in grams(t))  # tf folded into the sum
        logw = float(__import__("decimal").Decimal(logw_n) / 1000000)
        h = int(hashlib.md5(f"dsir|{i}".encode()).hexdigest()[:13], 16)
        u = (h + 0.5) / 4503599627370496.0
        want.append((i, logw, r9(logw + (-math.log(-math.log(u))))))
    want = sorted(want, key=lambda r: (-r[2], r[0]))[:k]
    assert got == want
    assert any(r[0] == 4 and r[1] == 0.0 for r in want + got) or all(
        r[0] != 4 for r in want
    )

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan


def test_spread_call_sites_tokenize_above_the_exchange(spark):
    """Projections do not migrate across an Exchange: tokenizing INSIDE
    the select handed to _spread leaves the tokenize on the scan's
    (possibly single) split — the serial Amdahl term this round removed
    from every shingle/ngram/BPE path (docs/BENCH_NOTES.md). Pin the
    fixed shape for the representative operators: in the printed physical
    plan (top-down), the tokenize projection must appear ABOVE the
    RoundRobin exchange, i.e. at a smaller string offset."""
    from data_warehouse_punta_fina_spark.operators.dedup import shingle_rows
    from data_warehouse_punta_fina_spark.operators.text_quality import ngram_rows
    from data_warehouse_punta_fina_spark.operators.winnow import (
        winnow_fingerprints,
    )

    # a 1-partition input (the small-file scan shape) so _spread fires
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(4)],
        "doc_id bigint, text string",
    ).coalesce(1)

    def tokenize_is_above_exchange(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        tok = plan.find("split(lower(")
        exch = plan.find("Exchange RoundRobinPartitioning")
        assert tok != -1, "tokenize projection missing from the plan"
        assert exch != -1, "spread exchange missing from the plan"
        return tok < exch

    assert tokenize_is_above_exchange(shingle_rows(docs, "text", "doc_id", 3))
    assert tokenize_is_above_exchange(ngram_rows(docs, "text", "doc_id", 2))
    assert tokenize_is_above_exchange(winnow_fingerprints(docs))


def test_temperature_sampling_rates_matches_pure_python(spark):
    """The τ-smoothing formula replayed from scratch (round-6 at every
    stage, exact-decimal normalizing sum): rates must match bit for bit;
    τ < 1 must upweight the tail group (its temp_share above its raw
    share, head below); τ = 1 must be the identity mixture."""
    import math

    from data_warehouse_punta_fina_spark.operators.mixture import (
        temperature_sampling_rates,
    )

    counts = {"en": 6000, "es": 3000, "fr": 800, "de": 200}
    per = spark.createDataFrame(list(counts.items()), "lang string, n bigint")
    out = temperature_sampling_rates(per, tau=0.7, group_col="lang", count_col="n")
    got = {
        r["lang"]: (
            r["n"], float(r["share"]), float(r["temp_share"]),
            r["target"], float(r["keep_rate"]), r["keep_mille"],
        )
        for r in out.collect()
    }

    r6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6
    tot = sum(counts.values())
    share = {l: r6(n / tot) for l, n in counts.items()}
    p = {l: r6(share[l] ** 0.7) for l in counts}
    # exact decimal sum of round-6 values: integers over 1e6
    psum = sum(round(v * 1e6) for v in p.values()) / 1e6
    ts = {l: r6(p[l] / psum) for l in counts}
    for l, n in counts.items():
        target = math.floor(tot * ts[l])
        rate = r6(min(1.0, target / n))
        want = (n, share[l], ts[l], target, rate, math.floor(rate * 1000 + 0.5))
        assert got[l] == want, f"{l}: {got[l]} != {want}"

    # τ < 1 rebalances toward the tail...
    assert got["de"][2] > share["de"] and got["en"][2] < share["en"]
    # ...and τ = 1 is the identity mixture (temp_share == share)
    ident = temperature_sampling_rates(per, tau=1.0, group_col="lang", count_col="n")
    for r in ident.collect():
        assert abs(float(r["temp_share"]) - float(r["share"])) <= 2e-6


def test_source_percentile_gate_semantics(spark):
    """Percentile gate: explicit (rank-1)/(n-1) with total ordering —
    best doc pct 0, worst pct 1, singleton sources pct 0 (kept), score
    ties broken by id, and the kept fraction per source ~ keep_top."""
    from data_warehouse_punta_fina_spark.operators.text_quality import (
        source_percentile_gate,
    )

    rows = [(i, "a", float(100 - i)) for i in range(10)]          # strict order
    rows += [(100 + i, "b", 5.0) for i in range(4)]               # all tied
    rows += [(999, "c", 1.0)]                                     # singleton
    df = spark.createDataFrame(rows, "doc_id bigint, source string, q double")
    out = source_percentile_gate(df, "q", "source", "doc_id", keep_top=0.5)
    got = {r["doc_id"]: r for r in out.collect()}

    assert float(got[0]["pct_rank"]) == 0.0 and got[0]["keep"]
    assert float(got[9]["pct_rank"]) == 1.0 and not got[9]["keep"]
    # ties rank by id ascending: 100 best (pct 0), 103 worst (pct 1)
    assert float(got[100]["pct_rank"]) == 0.0
    assert float(got[103]["pct_rank"]) == 1.0
    # singleton source: pct 0, kept
    assert float(got[999]["pct_rank"]) == 0.0 and got[999]["keep"]
    kept_a = sum(1 for i in range(10) if got[i]["keep"])
    assert kept_a == 5  # pct in {0, 1/9, ..., 4/9} < 0.5


def test_nb_persisted_model_scores_without_training(spark, tmp_path):
    """The persisted NB model is the classifier tier's deployment shape:
    scoring must equal in-query training bit for bit, must NOT re-scan
    the training split (strictly fewer source touches in the plan), and
    must reject a metadata-stripped model."""
    import pytest

    from data_warehouse_punta_fina_spark.operators.classify import (
        nb_classify,
        nb_save_model,
        nb_score_model,
    )

    train = spark.createDataFrame(
        [
            (1, "gato perro gato casa", "es"),
            (2, "perro casa gato", "es"),
            (3, "cat dog cat house", "en"),
            (4, "dog house cat the", "en"),
            (5, "the cat sat", "en"),
        ],
        "doc_id bigint, text string, label string",
    )
    test = spark.createDataFrame(
        [(10, "gato casa perro", "es"), (11, "the cat dog", "en")],
        "doc_id bigint, text string, label string",
    )
    mdl = str(tmp_path / "nb")
    cond = nb_save_model(train, mdl)
    assert dict(cond.schema["_c"].metadata)["scheme"].startswith("nb-multinomial")

    persisted = nb_score_model(test, mdl)
    inquery = nb_classify(train, test)
    assert sorted(map(tuple, persisted.collect())) == sorted(
        map(tuple, inquery.collect())
    )

    # no training job in the persisted plan: the model arrives as parquet
    # scans of the stored tables (cond/classes/consts), never as aggregates
    # over the train split
    p_plan = persisted._jdf.queryExecution().executedPlan().toString()
    # (FileScan locations elide long paths, so match the model dir)
    assert p_plan.count("FileScan parquet") >= 3  # cond + classes + consts
    assert "/nb/" in p_plan

    # a metadata-stripped model is rejected (scheme fingerprint gone)
    stripped = str(tmp_path / "stripped")
    spark.read.parquet(f"{mdl}/cond").select(
        "_y", "term", F.col("_c").alias("_c", metadata={})
    ).write.parquet(f"{stripped}/cond")
    spark.read.parquet(f"{mdl}/classes").write.parquet(f"{stripped}/classes")
    spark.read.parquet(f"{mdl}/consts").write.parquet(f"{stripped}/consts")
    with pytest.raises(ValueError, match="no parameter metadata"):
        nb_score_model(test, stripped)
    # a model stamped under another scheme is drift, not a missing stamp
    foreign = str(tmp_path / "foreign")
    spark.read.parquet(f"{mdl}/cond").select(
        "_y", "term", F.col("_c").alias("_c", metadata={"scheme": "nb-v0"})
    ).write.parquet(f"{foreign}/cond")
    with pytest.raises(ValueError, match="different parameters.*scheme: stored 'nb-v0'"):
        nb_score_model(test, foreign)


def test_uncertainty_sample_uses_takeordered(spark):
    """Active-learning selection must be a per-partition top-k merge
    (TakeOrderedAndProject on |margin|), never a global sort of the
    scored corpus; the 50 rows must be the smallest |margin| docs with
    deterministic doc_id ties."""
    import __spark_entry__ as entrymod

    out = entrymod.all_queries()["doc_uncertainty_sample"](spark, SF_DIR)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = out.collect()
    assert len(rows) == 50
    margins = [abs(r["margin"]) for r in rows]
    assert margins == sorted(margins) or len(set(margins)) < len(margins)


def test_nb_train_drops_null_labels_and_dsir_rejects_empty_target(spark):
    """Review findings (round 8): NULL labels must not train a phantom
    NULL class (whose nulls-first argmax tie-break could make
    predicted=NULL and keep verdicts NULL downstream); an empty DSIR
    target must raise instead of silently degrading the importance
    weights to uniform Gumbel draws."""
    import pytest

    from data_warehouse_punta_fina_spark.operators.classify import nb_classify
    from data_warehouse_punta_fina_spark.operators.importance import (
        hashed_ngram_logratio,
    )

    train = spark.createDataFrame(
        [
            (1, "gato perro casa", "es"),
            (2, "cat dog house", "en"),
            (3, "mystery words here", None),  # unlabeled -> dropped
        ],
        "doc_id bigint, text string, label string",
    )
    test = spark.createDataFrame(
        [(10, "totally unseen terms", "en")],  # smoothing-only scores: the
        # phantom-NULL-class bug would tie and predict NULL here
        "doc_id bigint, text string, label string",
    )
    out = nb_classify(train, test).collect()
    assert len(out) == 1 and out[0]["predicted"] in ("en", "es")

    docs = spark.createDataFrame(
        [(1, "some text", "en")], "doc_id bigint, text string, lang string"
    )
    with pytest.raises(ValueError, match="zero n-gram mass"):
        hashed_ngram_logratio(
            None, docs, n_buckets=8, target_predicate=F.col("lang") == "EN"
        )
    with pytest.raises(ValueError, match="zero n-gram mass"):
        hashed_ngram_logratio(docs.filter(F.col("lang") == "xx"), docs, n_buckets=8)
