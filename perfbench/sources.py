"""Seeded source tables for the benchmark.

The base tables are a copy of the repository's test data (``TESTDATA.md``:
the seed-42 TPC-H-ish tables plus ``events``, ``documents`` and
``embeddings``) at scale 0.001 and 0.01, kept under ``data/sf<scale>/``
beside this file so that a checkout of the repository holds everything a
run reads.

``copies`` replicas follow the scheme of ``tools/make_scaled_sf.py``: copy
*i* shifts every key column by ``i * OFFSET``, suffixes document text with
`` cpy<i>`` and rotates embeddings by *i* positions; ``region`` and
``nation`` stay single. The run seed perturbs the replica: each copy's key
offset gets a seeded jitter and each copy's embedding rotation a seeded
extra turn. Seed 0 adds no jitter and reproduces ``make_scaled_sf``'s
layout. Documents of copy 0 are never perturbed, so the document-only oracle
answers are shared by every seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
OFFSET = 10_000_000
DIMS = 64

KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def base_dir(sf: float) -> str:
    return os.path.join(DATA, f"sf{sf}")


def replica_plan(copies: int, seed: int) -> list[tuple[int, int]]:
    """(key offset, extra embedding rotation) per copy; seed 0 adds nothing."""
    rng = np.random.default_rng([seed, copies])
    plan = []
    for i in range(copies):
        if seed == 0:
            jitter, turn = 0, 0
        else:
            jitter, turn = int(rng.integers(0, 1000)) * 1000, int(rng.integers(1, DIMS))
        plan.append((i * OFFSET + jitter, turn))
    return plan


def _replicate(name: str, base: pa.Table, plan: list[tuple[int, int]]) -> pa.Table:
    parts = []
    for i, (offset, turn) in enumerate(plan):
        t = base
        if name == "documents" and i == 0:
            parts.append(t)  # copy 0's documents are the same for every seed
            continue
        for col in KEY_COLS[name]:
            idx = t.schema.get_field_index(col)
            t = t.set_column(idx, col, pa.array(t.column(col).to_numpy() + offset, pa.int64()))
        if name == "documents":
            text = [f"{x} cpy{i}" for x in t.column("text").to_pylist()]
            t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(text, pa.string()))
            t = t.set_column(
                t.schema.get_field_index("n_chars"), "n_chars", pa.array([len(x) for x in text], pa.int64())
            )
        if name == "embeddings":
            r = (i + turn) % DIMS
            if r:
                vec = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
                vec = np.concatenate([vec[:, r:], vec[:, :r]], axis=1)
                t = t.set_column(
                    t.schema.get_field_index("embedding"),
                    "embedding",
                    pa.array(list(vec), pa.list_(pa.float32())),
                )
        parts.append(t)
    return pa.concat_tables(parts)


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha1(f.read()).hexdigest()


def fingerprints(sf: float, copies: int, seed: int) -> dict[str, str]:
    """Content key per table: equal keys mean identical replicated data."""
    plan = replica_plan(copies, seed)
    out = {}
    for name in TABLES:
        if name in ("region", "nation"):
            varies = []
        elif name == "documents":
            varies = plan[1:]
        else:
            varies = plan
        base = _digest(os.path.join(base_dir(sf), f"{name}.parquet"))
        blob = json.dumps([base, name, copies, varies])
        out[name] = hashlib.sha1(blob.encode()).hexdigest()[:16]
    return out


def make_sources(out_dir: str, sf: float, copies: int, seed: int) -> dict[str, str]:
    """Write every table's replica under ``out_dir`` (once; a finished
    directory is reused) and return the per-table fingerprints."""
    fps = fingerprints(sf, copies, seed)
    manifest = os.path.join(out_dir, "MANIFEST.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            if json.load(f) == fps:
                return fps
    os.makedirs(out_dir, exist_ok=True)
    plan = replica_plan(copies, seed)
    for name in TABLES:
        src = os.path.join(base_dir(sf), f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        if name in KEY_COLS:
            pq.write_table(_replicate(name, pq.read_table(src), plan), dst, compression="snappy")
        else:
            shutil.copyfile(src, dst)
    with open(manifest, "w") as f:
        json.dump(fps, f)
    return fps
