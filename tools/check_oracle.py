"""Local mirror of the driver's t2 correctness gate.

Runs every __spark_entry__.queries() entry (and extra_queries()) on Spark
and its oracle_sql() on DuckDB over the same sf dir, then compares row
count, column names, and the order-insensitive multiset of row values.

STRICT canonicalization (round-2 fix): round 1's mirror normalized
decimals (``Decimal.normalize()``) and rounded floats to 9 places, which
was MORE lenient than the driver — the mirror said 0 failures while the
driver reported 23. Cells now compare by exact repr: floats bit-exact,
decimals full-scale. Queries must not emit DecimalType at all (the
_dbl_out boundary); any decimal in an output is flagged loudly.

ARROW-TYPED oracle side (round-6 fix): round 5's mirror fetched DuckDB
results via ``fetchall()``, which coerces HUGEINT (the result type of an
uncast ``SUM(integer)``) to Python int — masking a typed-hash mismatch
the driver catches (CORRECTNESS_r05: 5 hash fails, all decimal128 on the
oracle side vs int64 on Spark). The oracle side is now fetched as an
Arrow table and BOTH sides are schema-gated: any output column whose
(Arrow/Spark) type is outside {int32/64, float64, string, bool, date,
timestamp, list/struct thereof} is a loud failure even when the values
stringify identically.

Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, Decimal):
        return f"DECIMAL:{v}"  # full scale, no normalize — decimals should never reach an output
    if isinstance(v, float):
        return repr(v)  # bit-exact: repr round-trips doubles
    return str(v)


#: Arrow types the driver's typed hasher treats as canonical — anything
#: else on the oracle side (HUGEINT/decimal128, uint*, float32, ...) is
#: a latent hash mismatch and must be cast in the oracle SQL itself.
def arrow_type_ok(t) -> bool:
    import pyarrow as pa

    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return arrow_type_ok(t.value_type)
    if pa.types.is_struct(t):
        return all(arrow_type_ok(f.type) for f in t)
    return (
        pa.types.is_int32(t)
        or pa.types.is_int64(t)
        or pa.types.is_float64(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_boolean(t)
        or pa.types.is_date(t)
        or pa.types.is_timestamp(t)
    )


def spark_type_ok(dtype: str) -> bool:
    base = dtype.split("(")[0]
    if base.startswith("array<") and base.endswith(">"):
        return spark_type_ok(dtype[6:-1])
    if base.startswith("struct<"):
        return True  # element types surface via Arrow on collect; keep shallow
    return base in {"int", "bigint", "double", "string", "boolean", "date", "timestamp", "timestamp_ntz"}


def df_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = ["\x01".join(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from data_warehouse_punta_fina_spark import get_spark

    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = dict(entrymod.queries())
    n_driver = len(qs)
    qs.update(entrymod.extra_queries())
    oracles = entrymod.oracle_sql()
    failures = []
    for pos, (name, fn) in enumerate(qs.items()):
        tier = "driver" if pos < n_driver else "extra"
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            stypes = dict(sdf.dtypes)
            srows = sdf.collect()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        problems = []
        dec_cols = [c for c, t in stypes.items() if t.startswith("decimal")]
        if dec_cols:
            problems.append(f"DECIMAL output columns (must be double at the boundary): {dec_cols}")
        bad_spark = [f"{c}:{t}" for c, t in stypes.items() if not t.startswith("decimal") and not spark_type_ok(t)]
        if bad_spark:
            problems.append(f"non-canonical Spark output types: {bad_spark}")
        if name not in oracles:
            if problems:
                failures.append(name)
                print(f"FAIL  {name} [no-oracle]: {'; '.join(problems)}")
            else:
                print(f"SKIP  {name}: no oracle ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            atbl = con.execute(oracles[name]).fetch_arrow_table()
            dcols = atbl.column_names
            bad_arrow = [
                f"{f.name}:{f.type}" for f in atbl.schema if not arrow_type_ok(f.type)
            ]
            if bad_arrow:
                problems.append(
                    f"non-canonical oracle Arrow types (cast in the SQL): {bad_arrow}"
                )
            drows = list(zip(*(atbl.column(c).to_pylist() for c in dcols))) if atbl.num_rows else []
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {type(e).__name__}: {e}")
            continue
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            sm = df_to_multiset(scols, [[r[c] for c in scols] for r in srows])
            dm = df_to_multiset(dcols, drows)
            if sm != dm:
                diff = sum(1 for a, b in zip(sm, dm) if a != b)
                problems.append(f"values differ ({diff} of {len(sm)} rows)")
                for a, b in list(zip(sm, dm))[:200]:
                    if a != b:
                        problems.append(f"  spark: {a[:220]}")
                        problems.append(f"  duck : {b[:220]}")
                        break
        if problems:
            failures.append(name)
            print(f"FAIL  {name} [{tier}] ({len(srows)} rows, {time.time()-t0:.1f}s)")
            for p in problems:
                print(f"      {p}")
        else:
            print(f"OK    {name} [{tier}] ({len(srows)} rows, {time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
