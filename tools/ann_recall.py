"""Measure recall@k of the approximate ANN tiers against brute force.

The blocking designs (sign buckets, multiprobe, trained k-means cells)
trade scan fraction for recall; this prints the actual trade at the given
SF so docs/SCALE.md claims stay measured, not asserted.

    python tools/ann_recall.py [sf_dir] [k]
    python tools/ann_recall.py --json [sf_dir ...] [k]

``--json`` (round-9, VERDICT r8 #5) runs only the FIXED regression panel
— the quantizer tiers a green oracle can't protect (oracles pin exactness
of the *chosen* candidates, not recall) — and writes RECALL.json at the
repo root so recall is tracked round-over-round: sq8/pq/ivf_trained/
ivfpq at pinned parameters, plus the PERSISTED ivfpq index (built fresh
in a temp dir each run; deterministic training means it must equal the
in-query tier at identical parameters — the panel asserts that too).
Since round 10 (VERDICT r9 #3) the panel runs at BOTH sf0.01 and sf0.1
by default, with per-SF floors (recall is corpus-size sensitive), and
RECALL.json carries one block per SF under ``panels``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Round-11 federated calibration (VERDICT r10 #4): the verdict's prior
# — "each shard's top-k is exact-reranked, so federated should sit AT OR
# ABOVE the single-index row" — is measurably FALSE: at identical
# per-shard parameters (c32_p4) the 2-shard federation reads 0.7125 vs
# the single index's 0.85 at sf0.01 and 0.675 vs 0.9062 at sf0.1. The
# exact-merge property holds (pytest-pinned), but each shard's
# quantizers train on HALF the corpus: noisier cells + noisier PQ
# codebooks shrink the candidate pool's quality before the exact rerank
# ever sees it. Probe compensation (c32_p8, 25% scan/shard) recovers to
# 0.8063/0.775; right-sizing cells to shard size (c16_p4, same 25% scan)
# measures the same 0.80/0.725 — at equal scan fraction the two knobs
# are equivalent, so the panel pins the probe-doubling row. The floors
# guard BOTH the naive row (a drop below ~0.66/0.62 means per-shard
# training degraded further) and the compensated row (the recovery path
# must keep recovering).
#
# the pinned regression panel: tier name -> floor it must not drop
# below, PER SF (round-10, VERDICT r9 #3): recall is corpus-size
# sensitive — pq8x8_rerank50 measures 0.631 on the 500-vector sf0.01
# corpus but 0.469 on the 2000-vector sf0.1 corpus (a fixed rerank
# budget over 4x the candidates; the ivfpq rows with richer codebooks
# hold 0.90+ at both sizes), so a single-SF floor would either
# false-alarm or be blind at the other size. Floors are the MEASURED
# values (r9 run at sf0.01: sq8 1.000, pq8x8 0.631, trained16_p8
# 0.919, trained32_p12 0.944, ivfpq_c64 0.844, ivfpq_c32 0.850,
# persisted 0.850; r10 run at sf0.1: sq8 1.000, pq8x8 0.469,
# trained16_p8 0.906, trained32_p12 0.956, ivfpq_c64 0.919, ivfpq_c32
# 0.906, persisted 0.906) minus a ~0.05 guard band — a quantizer
# regression shows up as a floor breach in RECALL.json, which only a
# recall metric can catch (oracles pin exactness of the chosen
# candidates, not recall).
PANEL_FLOORS = {
    "sf0.01": {
        "sq8_rerank20": 0.95,
        "pq8x8_rerank50": 0.58,
        "ivf_trained16_p8": 0.86,
        "ivf_trained32_p12": 0.89,
        "ivfpq_c64_p9_m16k16_r100": 0.79,
        "ivfpq_c32_p4_m8k32_r100": 0.80,
        "ivfpq_persisted_c32_p4_m8k32_r100": 0.80,
        "ivfpq_federated2_c32_p4_m8k32_r100": 0.66,
        "ivfpq_federated2_c32_p8_m8k32_r100": 0.75,
        # round-12 (VERDICT r11 #2): the 4-shard axis pinned — measured
        # r11 (docs/BENCH_NOTES.md addendum): naive p4 0.725/0.544,
        # compensated p16 (probes × shards via compensate=True)
        # 0.969/0.919 — minus the usual ~0.05 guard band. A per-shard-
        # training regression at higher shard counts now breaches.
        "ivfpq_federated4_c32_p4_m8k32_r100": 0.67,
        "ivfpq_federated4_c32_p16_m8k32_r100": 0.91,
        # round-13 (VERDICT r12 #3): train-on-half + encode-only append
        # of the other half, searched globally — measured 0.600/0.5625
        # at pinning (the half-corpus-training penalty, the appended
        # sibling of the federated-naive row) minus the ~0.05 band. A
        # breach means frozen-quantizer appends degraded beyond the
        # structural penalty. DISTRIBUTION drift is not pinned here: the
        # fingerprint tracks corpus identity, not quantizer fit, so only
        # a recall reading against brute force can show it.
        "ivfpq_appended_c32_p4_m8k32_r100": 0.55,
    },
    "sf0.1": {
        "sq8_rerank20": 0.95,
        "pq8x8_rerank50": 0.42,
        "ivf_trained16_p8": 0.85,
        "ivf_trained32_p12": 0.90,
        "ivfpq_c64_p9_m16k16_r100": 0.86,
        "ivfpq_c32_p4_m8k32_r100": 0.85,
        "ivfpq_persisted_c32_p4_m8k32_r100": 0.85,
        "ivfpq_federated2_c32_p4_m8k32_r100": 0.62,
        "ivfpq_federated2_c32_p8_m8k32_r100": 0.72,
        "ivfpq_federated4_c32_p4_m8k32_r100": 0.49,
        "ivfpq_federated4_c32_p16_m8k32_r100": 0.86,
        "ivfpq_appended_c32_p4_m8k32_r100": 0.51,
    },
}


def _pair_set(df):
    return {(r["query_id"], r["neighbor_id"]) for r in df.select("query_id", "neighbor_id").collect()}


def _measure(spark, sf_dir: str, k: int):
    """Build the (lazy) tier DataFrames, scan fractions, and the
    brute-force truth set for one SF's embeddings table."""
    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        ivf_trained_topk,
    )
    from data_warehouse_punta_fina_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n_corpus = emb.count()
    queries = emb.filter(F.col("vec_id") < 32)
    truth = _pair_set(brute_force_topk(emb, queries, k=k))

    # JL tier: brute force in the 16-dim random projection — full scan but
    # 1/4 the dot-product cost; recall measures the JL distortion directly
    from data_warehouse_punta_fina_spark.operators.similarity import random_projection

    proj_rows = random_projection(emb, out_dims=16, in_dims=64)
    proj = proj_rows.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("out_dim", "value"))),
            lambda s: s["value"],
        ).alias("embedding")
    )
    proj_q = proj.filter(F.col("vec_id") < 32)

    # the production JL pattern: generate top-50 candidates in the cheap
    # reduced space, re-rank ONLY those with exact 64-dim cosine
    from pyspark.sql import Window

    from data_warehouse_punta_fina_spark.functions.vectors import cosine_q, quantize

    cand = brute_force_topk(proj, proj_q, k=50).select("query_id", "neighbor_id")
    qv = emb.select(F.col("vec_id").alias("query_id"), quantize("embedding").alias("_qv"))
    nv = emb.select(F.col("vec_id").alias("neighbor_id"), quantize("embedding").alias("_nv"))
    rer = (
        cand.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .withColumn("cosine", cosine_q(F.col("_qv"), F.col("_nv")))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("cosine"), F.asc("neighbor_id")
                )
            ),
        )
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
    )

    from data_warehouse_punta_fina_spark.operators.similarity import (
        ivfpq_topk,
        pq_topk,
        sq8_topk,
    )

    tiers = {
        "jl16_brute": brute_force_topk(proj, proj_q, k=k),
        "jl16_rerank50": rer,
        "sq8_rerank20": sq8_topk(emb, queries, k=k, rerank=20),
        "pq4x8_rerank20": pq_topk(emb, queries, k=k, m=4, n_centroids=8, rerank=20),
        "pq8x8_rerank20": pq_topk(emb, queries, k=k, m=8, n_centroids=8, rerank=20),
        "pq8x8_rerank50": pq_topk(emb, queries, k=k, m=8, n_centroids=8, rerank=50),
        "ivf_sign4": ivf_topk(emb, queries, k=k, bits=4),
        "ivf_sign6": ivf_topk(emb, queries, k=k, bits=6),
        "ivf_sign6_multiprobe": ivf_topk(emb, queries, k=k, bits=6, multiprobe=True),
        "ivf_sign8": ivf_topk(emb, queries, k=k, bits=8),
        "ivf_trained16": ivf_trained_topk(emb, queries, k=k, n_centroids=16, iters=2),
        "ivf_trained16_p3": ivf_trained_topk(emb, queries, k=k, n_centroids=16, iters=2, probes=3),
        # round-6 (VERDICT r5 #8): configs that cross recall@5 >= 0.9
        "ivf_trained16_p6": ivf_trained_topk(emb, queries, k=k, n_centroids=16, iters=2, probes=6),
        "ivf_trained16_p8": ivf_trained_topk(emb, queries, k=k, n_centroids=16, iters=2, probes=8),
        "ivf_trained32_p8": ivf_trained_topk(emb, queries, k=k, n_centroids=32, iters=3, probes=8),
        "ivf_trained32_p12": ivf_trained_topk(emb, queries, k=k, n_centroids=32, iters=3, probes=12),
        # round-7 (VERDICT r6 #4): the IVF-PQ composition — probe trained
        # cells, ADC-scan only probed cells' codes, exact rerank. The
        # target row: recall@5 >= 0.9 at <= 15% scan.
        "ivfpq_c32_p4_r50": ivfpq_topk(emb, queries, k=k, n_cells=32, probes=4, m=8, iters=3, rerank=50),
        "ivfpq_c32_p8_r50": ivfpq_topk(emb, queries, k=k, n_cells=32, probes=8, m=8, iters=3, rerank=50),
        "ivfpq_c64_p8_r50": ivfpq_topk(emb, queries, k=k, n_cells=64, probes=8, m=8, iters=3, rerank=50),
        "ivfpq_c64_p9_r80": ivfpq_topk(emb, queries, k=k, n_cells=64, probes=9, m=8, iters=3, rerank=80),
        # the two measured >=0.9-recall-at-<=15%-scan rows (sf0.1,
        # 2000-vector corpus): codebook RICHNESS closes the gap, not
        # rerank depth (m8k8_r150 stalled at 0.869)
        "ivfpq_c64_p9_m16k16_r100": ivfpq_topk(emb, queries, k=k, n_cells=64, probes=9, m=16, n_centroids=16, iters=3, rerank=100),
        "ivfpq_c32_p4_m8k32_r100": ivfpq_topk(emb, queries, k=k, n_cells=32, probes=4, m=8, n_centroids=32, iters=3, rerank=100),
        # the cell-recall ceiling of the c64_p8/p9 rows (no PQ, no rerank cap)
        "ivf_trained64_p8": ivf_trained_topk(emb, queries, k=k, n_centroids=64, iters=3, probes=8),
    }
    scan_fraction = {
        "jl16_brute": 1.0,  # full scan, but every dot product costs 1/4
        "jl16_rerank50": 1.0,  # 1/4-cost scan + exact re-rank of 50/query
        "sq8_rerank20": 1.0,  # full scan over 1-byte codes (4x less IO) + 20/query exact
        "pq4x8_rerank20": 1.0,  # full scan over 4 int codes/vec (64x less IO) + 20/query exact
        "pq8x8_rerank20": 1.0,  # 8 codes/vec (32x less IO) + 20/query exact
        "pq8x8_rerank50": 1.0,  # 8 codes/vec + 50/query exact
        "ivf_sign4": 1 / 16,
        "ivf_sign6": 1 / 64,
        "ivf_sign6_multiprobe": 7 / 64,
        "ivf_sign8": 1 / 256,
        "ivf_trained16": 1 / 16,
        "ivf_trained16_p3": 3 / 16,
        "ivf_trained16_p6": 6 / 16,
        "ivf_trained16_p8": 8 / 16,
        "ivf_trained32_p8": 8 / 32,
        "ivf_trained32_p12": 12 / 32,
        # ivfpq scan = probed fraction of CODES (m ints/vector, ~1/32 the
        # bytes of the raw vector) + rerank/query full vectors
        "ivfpq_c32_p4_r50": 4 / 32,
        "ivfpq_c32_p8_r50": 8 / 32,
        "ivfpq_c64_p8_r50": 8 / 64,
        "ivfpq_c64_p9_r80": 9 / 64,
        "ivfpq_c64_p9_m16k16_r100": 9 / 64,
        "ivfpq_c32_p4_m8k32_r100": 4 / 32,
        "ivf_trained64_p8": 8 / 64,
    }
    return emb, n_corpus, queries, truth, tiers, scan_fraction


def _panel_block(spark, sf_dir: str, k: int) -> dict:
    """One SF's fixed regression panel + the persisted-index twin."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.operators.similarity import (
        ivfpq_append_index,
        ivfpq_build_index,
        ivfpq_federated_search,
        ivfpq_search_index,
    )

    emb, n_corpus, queries, truth, tiers, scan_fraction = _measure(spark, sf_dir, k)
    label = os.path.basename(sf_dir.rstrip("/"))
    floors = PANEL_FLOORS.get(label)
    panel_tiers = list(PANEL_FLOORS["sf0.01"])  # tier names are SF-independent
    idx_dir = tempfile.mkdtemp(prefix="recall_ivfpq_")
    app_dir = tempfile.mkdtemp(prefix="recall_app_")
    shard_dirs = [tempfile.mkdtemp(prefix=f"recall_fed{i}_") for i in range(2)]
    shard4_dirs = [tempfile.mkdtemp(prefix=f"recall_fed4_{i}_") for i in range(4)]
    try:
        ivfpq_build_index(emb, idx_dir, n_cells=32, m=8, n_centroids=32, iters=3)
        tiers["ivfpq_persisted_c32_p4_m8k32_r100"] = ivfpq_search_index(
            queries, emb, idx_dir, k=k, probes=4, rerank=100,
            n_cells=32, m=8, n_centroids=32, iters=3,
        )
        scan_fraction["ivfpq_persisted_c32_p4_m8k32_r100"] = 4 / 32
        # appended tier (round-13, VERDICT r12 #3): quantizers train on
        # the EVEN half only, the odd half arrives encode-only with
        # FROZEN quantizers (ivfpq_append_index — the production
        # ingestion path). Same-distribution appends cost a modest
        # half-corpus-training penalty; this floor pins that an
        # append-shaped index keeps recalling. DISTRIBUTION-SHIFTED
        # appends get no fixed panel floor: the fingerprint tracks
        # corpus identity, not quantizer fit, so such an index stays
        # is_fresh=True while its recall falls (measured ~0.06 on a
        # shifted-cluster append at sf0.001).
        ivfpq_build_index(
            emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 0),
            app_dir, n_cells=32, m=8, n_centroids=32, iters=3,
        )
        ivfpq_append_index(
            emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 1), app_dir
        )
        tiers["ivfpq_appended_c32_p4_m8k32_r100"] = ivfpq_search_index(
            queries, emb, app_dir, k=k, probes=4, rerank=100,
            n_cells=32, m=8, n_centroids=32, iters=3,
        )
        scan_fraction["ivfpq_appended_c32_p4_m8k32_r100"] = 4 / 32
        # federated tier (round-11, VERDICT r10 #4): the corpus split into
        # two disjoint shards, each with its OWN persisted IVF-PQ index
        # trained on its half alone; queries fan out and the global top-k
        # is the rank-merge. The merge is exact over the shards' candidate
        # pools, but the POOLS are worse: each shard's quantizers train on
        # half the corpus, so at identical per-shard probes the federated
        # recall sits measurably BELOW the single-index row (0.71 vs 0.85
        # at sf0.01, 0.68 vs 0.91 at sf0.1 — the header calibration block;
        # the r10 verdict's contrary prior is falsified and pytest-pinned
        # as federated < single). A naive-floor breach means per-shard
        # training degraded FURTHER than that measured penalty.
        for i, d in enumerate(shard_dirs):
            shard = emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == i)
            ivfpq_build_index(shard, d, n_cells=32, m=8, n_centroids=32, iters=3)
        tiers["ivfpq_federated2_c32_p4_m8k32_r100"] = ivfpq_federated_search(
            queries, emb, shard_dirs, k=k, probes=4, rerank=100,
            n_cells=32, m=8, n_centroids=32, iters=3,
        )
        # per shard: 4/32 of that shard's codes — same fraction of the
        # whole corpus' codes when summed over disjoint halves
        scan_fraction["ivfpq_federated2_c32_p4_m8k32_r100"] = 4 / 32
        # the compensated row: federation at the SAME per-shard probes
        # measurably costs recall (r11 calibration: 0.71 vs the single
        # index's 0.85 at sf0.01, 0.68 vs 0.91 at sf0.1 — half-corpus
        # training makes noisier cells AND the probed fraction of the
        # true neighbor's own shard stays 4/32 while that shard holds
        # only half the candidates). Doubling per-shard probes is the
        # standard operational answer; this row pins that the recovery
        # path actually recovers.
        tiers["ivfpq_federated2_c32_p8_m8k32_r100"] = ivfpq_federated_search(
            queries, emb, shard_dirs, k=k, probes=8, rerank=100,
            n_cells=32, m=8, n_centroids=32, iters=3,
        )
        scan_fraction["ivfpq_federated2_c32_p8_m8k32_r100"] = 8 / 32
        # 4-shard axis (round-12, VERDICT r11 #2): quarter-corpus
        # training degrades the naive row further (0.725/0.544 measured
        # r11), and the COMPENSATED row exercises the encoded recovery
        # law — compensate=True scales the caller's probes by the shard
        # count (4 × 4 = 16/shard, 50% per-shard scan), which measured
        # 0.969/0.919: ABOVE the single index, because four exact-
        # reranked quarter-corpus lists union a wider candidate pool.
        for i, d in enumerate(shard4_dirs):
            shard = emb.filter(F.pmod(F.col("vec_id"), F.lit(4)) == i)
            ivfpq_build_index(shard, d, n_cells=32, m=8, n_centroids=32, iters=3)
        tiers["ivfpq_federated4_c32_p4_m8k32_r100"] = ivfpq_federated_search(
            queries, emb, shard4_dirs, k=k, probes=4, rerank=100,
            n_cells=32, m=8, n_centroids=32, iters=3,
        )
        scan_fraction["ivfpq_federated4_c32_p4_m8k32_r100"] = 4 / 32
        tiers["ivfpq_federated4_c32_p16_m8k32_r100"] = ivfpq_federated_search(
            queries, emb, shard4_dirs, k=k, probes=4, rerank=100,
            n_cells=32, m=8, n_centroids=32, iters=3, compensate=True,
        )
        scan_fraction["ivfpq_federated4_c32_p16_m8k32_r100"] = 16 / 32
        out = {
            "sf_dir": sf_dir,
            "corpus": n_corpus,
            "tiers": {},
            "floor_breaches": [],
            # an SF without calibrated floors still records its measured
            # recalls (for calibration) but can't breach anything
            "floors_calibrated": floors is not None,
        }
        for name in panel_tiers:
            got = _pair_set(tiers[name])
            recall = len(got & truth) / max(len(truth), 1)
            floor = floors.get(name) if floors else None
            out["tiers"][name] = {
                "recall_at_k": round(recall, 4),
                "scan_fraction": round(scan_fraction[name], 4),
                "floor": floor,
            }
            if floor is not None and recall < floor:
                out["floor_breaches"].append(name)
        # the persisted index MUST equal its in-query twin exactly
        # (deterministic md5-seeded training) — a mismatch means the
        # build/search split diverged from the composed operator
        out["persisted_equals_inquery"] = _pair_set(
            tiers["ivfpq_persisted_c32_p4_m8k32_r100"]
        ) == _pair_set(tiers["ivfpq_c32_p4_m8k32_r100"])
        return out
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
        shutil.rmtree(app_dir, ignore_errors=True)
        for d in shard_dirs + shard4_dirs:
            shutil.rmtree(d, ignore_errors=True)


def main() -> None:
    import json

    from data_warehouse_punta_fina_spark import get_spark

    argv = [a for a in sys.argv[1:] if a != "--json"]
    as_json = "--json" in sys.argv[1:]
    k = 5
    if argv and argv[-1].isdigit():
        k = int(argv.pop())
    spark = get_spark("ann_recall")

    if as_json:
        # per-SF panels (VERDICT r9 #3): default BOTH correctness scales
        sf_dirs = argv or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
        out = {
            "k": k,
            "queries": 32,
            "panels": {},
            "floor_breaches": [],
            "persisted_equals_inquery": True,
        }
        for sf_dir in sf_dirs:
            label = os.path.basename(sf_dir.rstrip("/"))
            block = _panel_block(spark, sf_dir, k)
            out["panels"][label] = block
            out["floor_breaches"] += [f"{label}:{n}" for n in block["floor_breaches"]]
            out["persisted_equals_inquery"] &= block["persisted_equals_inquery"]
        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "RECALL.json",
        )
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
        print(json.dumps(out, sort_keys=True))
        spark.stop()
        return

    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    emb, n_corpus, queries, truth, tiers, scan_fraction = _measure(spark, sf_dir, k)
    print(f"corpus={n_corpus} queries=32 k={k} sf_dir={sf_dir}")
    print(f"{'tier':24s} {'recall@k':>9s} {'~scan':>7s}")
    for name, df in tiers.items():
        got = _pair_set(df)
        recall = len(got & truth) / max(len(truth), 1)
        print(f"{name:24s} {recall:9.3f} {scan_fraction[name]:7.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
