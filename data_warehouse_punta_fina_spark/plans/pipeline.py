"""Pipeline orchestration (reference SURVEY.md §3.1; `main.py:94-154`).

The reference runs two ordered phases, dims then facts, and writes
fact_transacciones to the DW only to read it back for fact_balance /
fact_estado_resultados (`complete_fact_builder.py:918-932`). Those two
edges, dims → facts and journal → ledger, are the only real dependencies
in the star build. Here every wave-1 table that wave 2 reads (the three
lookup dims and the journal) is materialized once through
``operators.materialize.materialize``, with no caller-owned cache, and
fed forward (one computation, each consumer reading stored rows). Every
table's whole life (build its DataFrame, write it, count it) runs in its
own driver thread (``operators.materialize.build_concurrently``), in two
waves:

1. the 8 dims, fact_inventario and fact_transacciones — the first action
   on each materialized table (its write, or its count) stores its rows;
2. fact_ventas over the stored dim_producto / dim_cliente / dim_almacen,
   and the two ledger facts over the stored journal.

Why threads: at these scales the build is bound by the per-job floor,
not by data. Built one table after another it is ~100 small Spark jobs
in series with the driver-side DataFrame construction (thousands of py4j
round trips) between them, and most cores sit idle. The threads overlap
both; every plan, and so every written row, is the serial composition's.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from data_warehouse_punta_fina_spark.operators.materialize import (
    build_concurrently,
    materialize,
)
from data_warehouse_punta_fina_spark.plans.dims import (
    build_dim_almacen,
    build_dim_cliente,
    build_dim_cuenta_contable,
    build_dim_fecha,
    build_dim_producto,
    build_dim_promocion,
    build_dim_proveedor,
    build_dim_usuario,
)
from data_warehouse_punta_fina_spark.plans.facts import (
    build_fact_balance,
    build_fact_estado_resultados,
    build_fact_inventario,
    build_fact_transacciones,
    build_fact_ventas,
)
from data_warehouse_punta_fina_spark.sources.writers import write_parquet

_DIMS = {
    "dim_fecha": build_dim_fecha,
    "dim_producto": build_dim_producto,
    "dim_cliente": build_dim_cliente,
    "dim_usuario": build_dim_usuario,
    "dim_almacen": build_dim_almacen,
    "dim_proveedor": build_dim_proveedor,
    "dim_cuenta_contable": build_dim_cuenta_contable,
    "dim_promocion": build_dim_promocion,
}
# the wave-1 tables that wave 2 reads: each is materialized once, so wave 2
# reads its stored rows instead of re-deriving it
_FED_FORWARD = ("dim_producto", "dim_cliente", "dim_almacen", "fact_transacciones")
# the key order of ``PipelineResult.tables``
_TABLES = (
    *_DIMS,
    "fact_ventas",
    "fact_inventario",
    "fact_transacciones",
    "fact_balance",
    "fact_estado_resultados",
)


@dataclass
class PipelineResult:
    tables: dict[str, DataFrame]
    counts: dict[str, int] = field(default_factory=dict)
    seconds: float = 0.0


class StarBuildError(RuntimeError):
    """One star table failed; ``table`` and ``stage`` (build, write or
    count) say where, and ``__cause__`` is the original exception."""

    def __init__(self, table: str, stage: str):
        super().__init__(f"star build failed at {table} ({stage})")
        self.table = table
        self.stage = stage


def run_star_build(
    spark: SparkSession,
    sf_dir: str,
    warehouse_dir: str | None = None,
    count: bool = True,
) -> PipelineResult:
    """Build every dim + fact. If ``warehouse_dir`` is set, each table is
    written as parquet; if ``count``, each is counted into ``counts``.

    The worker threads inherit the caller's job group and description
    (in PySpark's default pinned-thread mode), so ``cancelJobGroup`` and
    job attribution cover the whole build. A failing table raises
    ``StarBuildError`` naming it.

    The three lookup dims and the journal are materialized once through
    ``materialize`` (lazily: their own wave-1 write or count stores them)
    and wave 2 reads them; there is no caller-owned cache to release."""
    t0 = time.time()
    built: dict[str, DataFrame] = {}
    counts: dict[str, int] = {}

    def life(name, build):
        def run():
            stage = "build"
            try:
                df = build()
                if name in _FED_FORWARD:
                    df = materialize(df)
                built[name] = df
                if warehouse_dir:
                    stage = "write"
                    write_parquet(df, f"{warehouse_dir}/{name}")
                if count:
                    stage = "count"
                    counts[name] = df.count()
            except Exception as exc:
                raise StarBuildError(name, stage) from exc

        return run

    wave_1 = {
        **{name: partial(build, spark, sf_dir) for name, build in _DIMS.items()},
        "fact_inventario": partial(build_fact_inventario, spark, sf_dir),
        "fact_transacciones": partial(build_fact_transacciones, spark, sf_dir),
    }
    wave_2 = {
        "fact_ventas": lambda: build_fact_ventas(
            spark, sf_dir, built["dim_producto"], built["dim_cliente"], built["dim_almacen"]
        ),
        "fact_balance": lambda: build_fact_balance(
            built["fact_transacciones"], built["dim_cuenta_contable"]
        ),
        "fact_estado_resultados": lambda: build_fact_estado_resultados(
            built["fact_transacciones"]
        ),
    }
    for wave in (wave_1, wave_2):
        build_concurrently([life(name, build) for name, build in wave.items()])

    result = PipelineResult(tables={name: built[name] for name in _TABLES})
    if count:
        result.counts = {name: counts[name] for name in _TABLES}
    result.seconds = time.time() - t0
    return result
