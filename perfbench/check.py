"""Output checks: Spark results against their DuckDB ``oracle_sql()`` twins.

The rules and their canonicalization are those of the repository's oracle
gate, imported from ``tools/check_oracle.py``: equal column names, equal row
count, an equal order-insensitive multiset of rows whose cells compare by
exact ``repr`` (floats bit-exact), no decimal output column, and only
canonical output types on both sides. DuckDB answers are computed once per
input and cached on disk, keyed by the oracle SQL and the fingerprints of the
tables it reads, so a run only pays for an oracle the first time its inputs
are seen.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time

from tools.check_oracle import TABLES, arrow_type_ok, df_to_multiset, spark_type_ok

CACHE_VERSION = 2  # bump when the cached answer's format changes


class Oracle:
    """DuckDB over one source directory, with an answer cache."""

    def __init__(self, src_dir: str, fingerprints: dict[str, str], cache_dir: str) -> None:
        self.src_dir = src_dir
        self.fingerprints = fingerprints
        self.cache_dir = cache_dir
        self.seconds = 0.0  # time spent computing answers that were not cached
        self._con = None

    def _key(self, kind: str, name: str, sql: str) -> str:
        used = [t for t in TABLES if re.search(rf"\b{t}\b", sql)]
        blob = json.dumps([CACHE_VERSION, kind, name, sql, [self.fingerprints[t] for t in used]])
        return hashlib.sha1(blob.encode()).hexdigest()

    def _connection(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in TABLES:
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.src_dir}/{t}.parquet'")
        return self._con

    def _cached(self, kind: str, name: str, sql: str, compute):
        path = os.path.join(self.cache_dir, f"{name}-{self._key(kind, name, sql)}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        t0 = time.time()
        value = compute(self._connection())
        self.seconds += time.time() - t0
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(value, f)
        os.replace(tmp, path)
        return value

    def answer(self, name: str, sql: str) -> dict:
        """Column names, non-canonical Arrow types and the row multiset of the oracle."""

        def compute(con):
            tbl = con.execute(sql).fetch_arrow_table()
            cols = tbl.column_names
            rows = list(zip(*(tbl.column(c).to_pylist() for c in cols))) if tbl.num_rows else []
            bad = [f"{f.name}:{f.type}" for f in tbl.schema if not arrow_type_ok(f.type)]
            return {"cols": cols, "bad_types": bad, "rows": df_to_multiset(cols, rows)}

        return self._cached("answer", name, sql, compute)

    def row_count(self, name: str, sql: str) -> int:
        def compute(con):
            return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]

        return self._cached("count", name, sql, compute)

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def compare(expected: dict, df) -> tuple[list[str], int]:
    """Problems found between an oracle answer and a Spark DataFrame, and
    the number of rows the DataFrame returned."""
    problems = []
    types = dict(df.dtypes)
    dec = [c for c, t in types.items() if t.startswith("decimal")]
    if dec:
        problems.append(f"decimal output columns {dec}")
    bad = [f"{c}:{t}" for c, t in types.items() if not t.startswith("decimal") and not spark_type_ok(t)]
    if bad:
        problems.append(f"non-canonical Spark output types {bad}")
    if expected["bad_types"]:
        problems.append(f"non-canonical oracle output types {expected['bad_types']}")
    cols = df.columns
    rows = df.collect()
    if sorted(cols) != sorted(expected["cols"]):
        problems.append(f"columns spark={sorted(cols)} oracle={sorted(expected['cols'])}")
    elif len(rows) != len(expected["rows"]):
        problems.append(f"rows spark={len(rows)} oracle={len(expected['rows'])}")
    else:
        got = df_to_multiset(cols, [[r[c] for c in cols] for r in rows])
        diff = sum(1 for a, b in zip(got, expected["rows"]) if a != b)
        if diff:
            problems.append(f"values differ in {diff} of {len(got)} rows")
    return problems, len(rows)
