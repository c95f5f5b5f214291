#!/usr/bin/env python3
"""The repository benchmark: closed-loop workloads over the engine's layers.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload star_etl --seed 0 --seconds 10 --trace 0

One client in one process drives the engine on ``local[<nproc>]``; the next
operation starts only after the previous one has completed. A run

1. generates the workload's seeded inputs (cached per seed, see sources.py)
   and the DuckDB oracle answers for them (cached per input, see check.py);
2. sets up: starts the session through the package's ``get_spark`` and
   imports the query registry; a registry workload then makes one warm-up
   pass in which every output is checked against its oracle answer;
3. measures. ``star_etl`` times one star build, the first of the process, as
   a nightly build runs, and checks what it wrote. A registry workload
   repeats passes over its operations, each in a seed-shuffled order, while
   another pass would end within ``--seconds`` (at least one whole pass);
4. stops the session, waits for its JVM to exit, removes its scratch
   directory and prints one JSON result as the last line of standard output.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json; ``--trace 1``
enables Spark's event log at launch, records a span around every call into a
layer and reports the per-layer metrics. The line before the result holds the
run's context: host probe, input sizes, sample counts and, when traced, every
per-span figure. See README.md beside this file.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

from sources import make_sources
from spans import COUNTERS, Tracer, fold_event_log, net_seconds, snapshot

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# the registry_mix workload: star-schema read queries (SQL join and rollup,
# top-n window, as-of join, sessionize, a country-quarter rollup over the
# session-memoized fact_ventas), then curation operations for every operator
# layer: dedup (MinHash LSH, exact), retrieval (BM25 top-k), similarity (IVF
# top-k), graph (PageRank) and the dedup/split/packing composition (training
# batches). Each costs 0.4-3.5 s a call on 4 cores; the set fits the run
# budget of about 70 s with its checked warm-up pass.
REGISTRY_MIX = [
    "sql_revenue_by_nation",
    "top_discount_line_per_order",
    "asof_last_order",
    "events_sessionized",
    "star_revenue_by_pais_trimestre",
    "doc_minhash_lsh",
    "doc_exact_dedup",
    "doc_bm25_topk",
    "ann_ivf_topk",
    "part_pagerank",
    "corpus_training_batches",
]
DIMS = [
    "dim_fecha",
    "dim_producto",
    "dim_cliente",
    "dim_usuario",
    "dim_almacen",
    "dim_proveedor",
    "dim_cuenta_contable",
    "dim_promocion",
]
FACTS = ["fact_ventas", "fact_inventario", "fact_transacciones", "fact_balance", "fact_estado_resultados"]

# name -> (scale factor, replica copies, registry operations or None for the star build)
WORKLOADS = {
    "star_etl": (0.01, 5, None),
    "registry_mix": (0.001, 1, REGISTRY_MIX),
}
HOST_CAL_ROWS = 80_000_000  # bench.py's fixed CPU probe


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def forced_rows(df, tag: str) -> int:
    """Force ``df`` with the ``noop`` sink and return the rows it produced."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    seen = Observation(tag)
    df.observe(seen, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
    return seen.get["rows"]


def p90(values: list[float]) -> float:
    """90th percentile, interpolated between the order statistics around it."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10)[8]


def host_context(spark=None) -> dict:
    ctx = {"nproc": os.cpu_count(), "loadavg": list(os.getloadavg())}
    if spark is not None:
        from pyspark.sql import functions as F

        t0 = time.time()
        probe = F.expr("bit_xor(xxhash64(md5(cast(id as string))))")
        spark.range(HOST_CAL_ROWS).select(probe).collect()
        ctx["host_cal_s"] = round(time.time() - t0, 3)
    return ctx


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_session(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def launch_env(run_dir: str, trace: bool) -> None:
    """Launch configuration: one Spark process on every core, all scratch inside run_dir."""
    for d in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = " ".join(f"--conf {k}={v}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


class Run:
    """One benchmark run: its operations, spans, samples and failures."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, run_dir: str) -> None:
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.sf, self.copies, self.ops = WORKLOADS[workload]
        self.tracer = Tracer()
        self.attempted = 0
        self.failures: list[str] = []
        self.passes: list[dict] = []  # timed passes: seconds net of steal, rows, bytes
        self.op_seconds: list[float] = []
        self.ctx: dict = {"workload": workload, "seed": seed, "trace": int(trace)}

    # -- inputs -------------------------------------------------------------

    def prepare(self) -> None:
        t0 = time.time()
        self.src = os.path.join(WORK, "data", f"sf{self.sf}-x{self.copies}-seed{self.seed}")
        self.fps = make_sources(self.src, self.sf, self.copies, self.seed)
        self.ctx["prepare_s"] = round(time.time() - t0, 3)

    def fail(self, what: str) -> None:
        self.failures.append(what)
        log(f"FAILED {what}")

    # -- one operation of a registry workload ---------------------------------

    def registry_op(self, name: str, pass_no: int, expected: dict | None = None) -> tuple[float, int]:
        """Build and execute one registry query; check it against its oracle
        answer when ``expected`` is given (the warm-up pass)."""
        self.attempted += 1
        fn = self.queries[name]
        try:
            with self.tracer.span(f"{name}.build", pass_no) as build:
                df = fn(self.spark, self.src)
            with self.tracer.span(f"{name}.exec", pass_no) as execute:
                if expected is None:
                    rows = forced_rows(df, f"{name}-{pass_no}")
                else:
                    from check import compare

                    problems, rows = compare(expected, df)
                    if problems:
                        self.fail(f"{name}: {'; '.join(problems)}")
            return build.seconds + execute.seconds, rows
        except Exception:  # noqa: BLE001 — a failing operation is counted, not fatal
            self.fail(f"{name}: {traceback.format_exc(limit=3)}")
            return 0.0, 0

    # -- one pass of the star build -------------------------------------------

    def star_pass(self, pass_no: int, decomposed: bool) -> tuple[float, int, int]:
        """One full star build into a fresh warehouse directory, checked.
        Returns (seconds, DW rows, parquet bytes)."""
        import tempfile

        from data_warehouse_punta_fina_spark.plans.pipeline import run_star_build

        self.attempted += 1
        wh = tempfile.mkdtemp(prefix="warehouse-", dir=self.run_dir)
        try:
            t0 = snapshot()
            if decomposed:
                self.star_build_traced(wh, pass_no)
            else:
                with self.tracer.span("plans.pipeline.run_star_build", pass_no):
                    run_star_build(self.spark, self.src, warehouse_dir=wh, count=False)
            seconds = net_seconds(t0, snapshot())
            rows, nbytes = self.check_warehouse(wh)
            return seconds, rows, nbytes
        except Exception:  # noqa: BLE001
            self.fail(f"star build: {traceback.format_exc(limit=3)}")
            return 0.0, 0, 0
        finally:
            shutil.rmtree(wh, ignore_errors=True)
            self.spark.catalog.clearCache()

    def star_build_traced(self, wh: str, pass_no: int) -> None:
        """The build functions run_star_build composes, in its order, one span each."""
        from data_warehouse_punta_fina_spark.plans import dims as D
        from data_warehouse_punta_fina_spark.plans import facts as F
        from data_warehouse_punta_fina_spark.sources.writers import write_parquet

        spark, src, span = self.spark, self.src, self.tracer.span
        tables = {}
        for name in DIMS:
            with span(f"plans.dims.{name}.build", pass_no):
                tables[name] = getattr(D, f"build_{name}")(spark, src)
        with span("plans.facts.fact_ventas.build", pass_no):
            tables["fact_ventas"] = F.build_fact_ventas(
                spark, src, tables["dim_producto"], tables["dim_cliente"], tables["dim_almacen"]
            )
        with span("plans.facts.fact_inventario.build", pass_no):
            tables["fact_inventario"] = F.build_fact_inventario(spark, src)
        with span("plans.facts.fact_transacciones.build", pass_no):
            tables["fact_transacciones"] = F.build_fact_transacciones(spark, src).cache()
        with span("plans.facts.fact_balance.build", pass_no):
            tables["fact_balance"] = F.build_fact_balance(
                tables["fact_transacciones"], tables["dim_cuenta_contable"]
            )
        with span("plans.facts.fact_estado_resultados.build", pass_no):
            tables["fact_estado_resultados"] = F.build_fact_estado_resultados(
                tables["fact_transacciones"]
            )
        for name, df in tables.items():
            layer = "dims" if name in DIMS else "facts"
            with span(f"plans.{layer}.{name}.exec", pass_no):
                write_parquet(df, f"{wh}/{name}")

    def check_warehouse(self, wh: str) -> tuple[int, int]:
        """Row count of every written table against the oracle's, and
        débitos = créditos on fact_transacciones. Returns (rows, bytes)."""
        import duckdb
        import pyarrow.parquet as pq

        rows = nbytes = 0
        for name in DIMS + FACTS:
            files = [
                os.path.join(dp, f)
                for dp, _, fs in os.walk(f"{wh}/{name}")
                for f in fs
                if f.endswith(".parquet")
            ]
            n = sum(pq.ParquetFile(p).metadata.num_rows for p in files)
            nbytes += sum(os.path.getsize(p) for p in files)
            rows += n
            if n != self.expected_rows[name]:
                self.fail(f"{name}: wrote {n} rows, expected {self.expected_rows[name]}")
        deb, cred = duckdb.sql(
            "SELECT sum(monto) FILTER (WHERE tipo_movimiento = 'DEBITO'), "
            "sum(monto) FILTER (WHERE tipo_movimiento = 'CREDITO') "
            f"FROM read_parquet('{wh}/fact_transacciones/**/*.parquet')"
        ).fetchone()
        if deb is None or deb != cred:
            self.fail(f"fact_transacciones: débitos {deb} != créditos {cred}")
        return rows, nbytes

    # -- phases ---------------------------------------------------------------

    def setup(self) -> None:
        """Session, registry, oracle answers and the checked warm-up pass."""
        with self.tracer.span("session.get_spark", -1):
            from data_warehouse_punta_fina_spark import get_spark

            self.spark = get_spark("perfbench")
        if self.trace:
            self.tracer.spark_context = self.spark.sparkContext
        with self.tracer.span("registry.import", -1):
            import __spark_entry__ as registry

            self.queries = registry.all_queries()
            oracles = registry.oracle_sql()

        from check import Oracle

        oracle = Oracle(self.src, self.fps, os.path.join(WORK, "oracle"))
        if self.ops is None:
            self.expected_rows = {n: oracle.row_count(n, oracles[n]) for n in DIMS + FACTS}
            expected = {}
        else:
            expected = {n: oracle.answer(n, oracles[n]) for n in self.ops}
        oracle.close()
        self.ctx["oracle_s"] = round(oracle.seconds, 3)

        self.ctx["host_before"] = host_context()

        # warm-up pass of a registry workload: every operation once, every
        # output checked. The star build has none: its one pass per run is
        # the nightly build of a fresh process, checked after it is timed.
        t1 = snapshot()
        for name in self.ops or []:
            sec, _ = self.registry_op(name, 0, expected[name])
            self.ctx.setdefault("warmup_op_s", {})[name] = round(sec, 3)
        warmup_s = net_seconds(t1, snapshot())
        self.ctx["warmup_s"] = round(warmup_s, 3)
        # set-up excludes the cached prepare steps (inputs, oracle answers)
        self.setup_s = sum(s.seconds for s in self.tracer.spans if s.pass_no == -1) + warmup_s

    def measure(self) -> None:
        first = snapshot()
        t_end = first[0] + self.seconds
        pass_no, last_wall = 1, 0.0
        # another pass only if it would end within --seconds, judged by the last one
        while pass_no == 1 or (self.ops is not None and time.time() + last_wall <= t_end):
            t0 = snapshot()
            if self.ops is None:
                sec, rows, nbytes = self.star_pass(pass_no, decomposed=self.trace)
                self.op_seconds.append(sec)
            else:
                order = list(self.ops)
                random.Random(f"{self.seed}:{pass_no}").shuffle(order)
                rows = 0
                for name in order:
                    sec, n = self.registry_op(name, pass_no)
                    self.op_seconds.append(sec)
                    self.ctx.setdefault("op_s", {}).setdefault(name, []).append(round(sec, 3))
                    rows += n
                nbytes = 0
            t1 = snapshot()
            self.passes.append({"pass": pass_no, "s": net_seconds(t0, t1), "rows": rows, "bytes": nbytes})
            last_wall = t1[0] - t0[0]
            self.ctx.setdefault("pass_wall_s", []).append(round(last_wall, 3))
            pass_no += 1
        last = snapshot()
        self.ctx["cpu_steal_share"] = round((last[2] - first[2]) / max(1, last[1] - first[1]), 3)

    # -- results --------------------------------------------------------------

    def end_to_end(self) -> dict:
        pass_s = statistics.median(p["s"] for p in self.passes)
        rows = statistics.median(p["rows"] for p in self.passes)
        return {
            "setup_s": (self.setup_s, "s"),
            "pass_s": (pass_s, "s"),
            "op_p50_s": (statistics.median(self.op_seconds), "s"),
            "op_p90_s": (p90(self.op_seconds), "s"),
            "rows_per_s": (rows / pass_s if pass_s else 0.0, "rows/s"),
        }

    def per_layer(self) -> dict:
        spans = [s for s in self.tracer.spans if s.pass_no >= 1]
        by_pass: dict[int, dict] = {}
        for s in spans:
            agg = by_pass.setdefault(
                s.pass_no, {c: 0 for c in COUNTERS} | {"build_s": 0.0, "exec_s": 0.0}
            )
            agg["build_s" if s.name.endswith(".build") else "exec_s"] += s.seconds
            for c in COUNTERS:
                agg[c] += s.counters.get(c, 0)
        keys = next(iter(by_pass.values()))
        med = {k: statistics.median(a[k] for a in by_pass.values()) for k in keys}
        ratio = med["spark.stages_skipped"] / max(1, med["spark.stages"])
        nbytes = statistics.median(p["bytes"] for p in self.passes)
        rows = statistics.median(p["rows"] for p in self.passes)
        setup = {s.name: s.seconds for s in self.tracer.spans if s.pass_no == -1}
        out = {
            "session.get_spark_s": (setup["session.get_spark"], "s"),
            "registry.import_s": (setup["registry.import"], "s"),
            "build_s": (med["build_s"], "s"),
            "exec_s": (med["exec_s"], "s"),
            "traced_pass_s": (statistics.median(p["s"] for p in self.passes), "s"),
            "jvm.peak_rss_mb": (self.peak_rss_mb, "MB"),
            "sources.writers.bytes_written": (nbytes, "bytes"),
            "sources.writers.bytes_per_row": (nbytes / rows if rows else 0.0, "B/row"),
            "spark.stages_skipped_ratio": (ratio, "ratio"),
        }
        units = {
            "spark.task_s": "s",
            "spark.gc_s": "s",
            "spark.shuffle_write_bytes": "bytes",
            "spark.spill_bytes": "bytes",
        }
        for c in COUNTERS:
            if c != "spark.stages_skipped":
                out[c] = (med[c], units.get(c, "count"))
        return out

    def span_detail(self) -> dict:
        """Median per pass of every span name's seconds and Spark counters."""
        per: dict[str, dict[int, dict]] = {}
        for s in self.tracer.spans:
            if s.pass_no < 1:
                continue
            key = s.name.rsplit(".", 1)
            d = per.setdefault(key[0], {}).setdefault(s.pass_no, {"build_s": 0.0, "exec_s": 0.0})
            d[f"{key[1]}_s"] += s.seconds
            for c in COUNTERS:
                d[c] = d.get(c, 0) + s.counters.get(c, 0)
        out = {}
        for name, passes in per.items():
            for k in next(iter(passes.values())):
                out[f"{name}.{k}"] = round(statistics.median(p[k] for p in passes.values()), 6)
        # the 8 dims as one layer, as in the layer map of README.md
        for k in ("build_s", "exec_s"):
            vals = [v for n, v in out.items() if n.startswith("plans.dims.dim_") and n.endswith(k)]
            if vals:
                out[f"plans.dims.{k}"] = round(sum(vals), 6)
        return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    engine = [
        os.path.join(ROOT, p)
        for p in ("__spark_entry__.py", "data_warehouse_punta_fina_spark", "tools/check_oracle.py")
    ]
    if not all(os.path.exists(p) for p in engine):
        log(f"the engine ({', '.join(engine)}) is missing")
        return 2
    sys.path.insert(0, ROOT)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    launch_env(run_dir, bool(args.trace))
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    spark = None
    try:
        run.prepare()
        run.setup()
        spark = run.spark
        run.measure()
        # bench.py's host probe takes 3-25 s, so only the traced run pays it,
        # and only after the timed section: before it, the probe would warm
        # up the JVM that star_etl's timed build is the first work of
        run.ctx["host_after"] = host_context(spark if args.trace else None)
        run.peak_rss_mb = jvm_peak_rss_mb(spark)
        run.ctx["peak_rss_mb"] = round(run.peak_rss_mb, 1)
        stop_session(spark)
        spark = None
        if args.trace:
            fold_event_log(os.path.join(run_dir, "events"), run.tracer.spans)
        metrics = run.per_layer() if args.trace else run.end_to_end()
        run.ctx.update(
            passes=len(run.passes),
            op_samples=len(run.op_seconds),
            op_samples_beyond_p90=sum(1 for x in run.op_seconds if x > p90(run.op_seconds)),
            attempted=run.attempted,
            failed=len(run.failures),
            error_rate=len(run.failures) / max(1, run.attempted),
        )
        if args.trace:
            run.ctx["spans"] = run.span_detail()
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(run.ctx, sort_keys=True))
    print(json.dumps(result), flush=True)
    return 0 if not run.failures else 1


if __name__ == "__main__":
    sys.exit(main())
