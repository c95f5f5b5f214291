"""Per-query profiling harness for optimization rounds.

Isolates one or more registry queries with the same session + warm-up the
bench uses, times each min-of-N through the noop sink, and (optionally)
writes `.explain("formatted")` to plans/<tag>/<query>_<suffix>.txt so plan
claims in OPTIMIZATION_*.md are verifiable without running Spark.

Also reports the driver-side planning phases (parsing/analysis/
optimization/planning) from the QueryExecution tracker — at bench SF the
data is small enough that a bloated plan's optimizer time is a real
fraction of the reading.

Each run also reports its Janino compiles: how many generated classes it
compiled and their compile milliseconds. A repeated run that still
compiles is missing the codegen class cache (see session.py).

Each run also reports its Spark jobs, counted per run from job groups in
the status tracker (no UI needed): ``build_jobs=`` launched while building
the DataFrame (schema inference, checkpoints at construction) and
``jobs=`` for the whole run, build plus the terminal write.

Usage:
    python tools/profile_query.py [--runs 3] [--explain plans/r15 --suffix before]
        [--sf-dir /root/testdata/sf0.1] query1 query2 ...
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--explain", default=None, help="directory to write explain files into")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--stages", action="store_true",
                    help="dump per-stage task-time via the UI REST API (set SPARK_GRAFT_UI=true)")
    ap.add_argument("--sql", action="store_true",
                    help="dump top SQL-plan operators by time via the UI REST API")
    ap.add_argument("--no-checkpoint", action="store_true",
                    help="neutralize DataFrame.localCheckpoint while building the "
                    "query. operators/materialize.materialize() is the package's only "
                    "checkpoint site and calls it for every materialization when the "
                    "session has no checkpoint directory (the default), so --explain "
                    "captures the FULL pre-checkpoint lineage "
                    "(VERDICT r15 #8: checkpoint tails hid the deleted operators). "
                    "Plan-evidence mode only — timings under this flag re-execute "
                    "shared subtrees and must not be quoted as readings.")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from data_warehouse_punta_fina_spark import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("profile")
    qs = entrymod.all_queries()

    # same warm-up the bench does: page cache + codegen + shuffle machinery
    for t in ("lineitem", "orders", "part", "customer", "supplier",
              "events", "documents", "embeddings"):
        spark.read.parquet(os.path.join(args.sf_dir, f"{t}.parquet")).count()
    from pyspark.sql import Window
    warm = spark.range(10000).select(
        F.col("id"), (F.col("id") % 7).alias("k"), F.md5(F.col("id").cast("string")).alias("h")
    )
    (
        warm.join(warm.groupBy("k").agg(F.count("*").alias("n")), "k")
        .withColumn("rn", F.row_number().over(Window.partitionBy("k").orderBy("id")))
        .withColumn("e", F.explode(F.array(F.lit(1), F.lit(2))))
        .write.format("noop").mode("overwrite").save()
    )

    if args.no_checkpoint:
        from pyspark.sql import DataFrame

        DataFrame.localCheckpoint = lambda self, eager=True: self  # type: ignore[method-assign]
        try:  # Spark 4: the concrete classic DataFrame overrides the base
            from pyspark.sql.classic.dataframe import DataFrame as _CDF

            _CDF.localCheckpoint = lambda self, eager=True: self  # type: ignore[method-assign]
        except ImportError:
            pass

    for name in args.queries:
        fn = qs.get(name)
        if fn is None:
            print(f"profile: unknown query {name}", file=sys.stderr)
            continue
        runs = []
        jobs = []
        compiles = []
        compile_ms = []
        phases = None
        for i in range(args.runs):
            if hasattr(entrymod, "reset_session_memo"):
                entrymod.reset_session_memo()
            sc = spark.sparkContext
            group = f"profile:{name}:{i}"
            sc.setJobGroup(f"{group}:build", group)
            c0 = _compiles(spark)
            t0 = time.time()
            df = fn(spark, args.sf_dir)
            built = time.time() - t0
            sc.setJobGroup(f"{group}:exec", group)
            df.write.format("noop").mode("overwrite").save()
            total = time.time() - t0
            runs.append(round(total, 3))
            build_jobs = _group_jobs(spark, f"{group}:build")
            jobs.append((build_jobs, build_jobs + _group_jobs(spark, f"{group}:exec")))
            c1 = _compiles(spark)
            compiles.append(c1[0] - c0[0])
            compile_ms.append(round(c1[1] - c0[1], 1))
            if i == 0:
                phases = _phases(df)
                if args.explain:
                    os.makedirs(args.explain, exist_ok=True)
                    path = os.path.join(args.explain, f"{name}_{args.suffix}.txt")
                    txt = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"
                    )
                    with open(path, "w") as fh:
                        fh.write(txt)
            print(
                f"profile: {name} run{i} build={built:.3f}s total={total:.3f}s "
                f"build_jobs={jobs[-1][0]} jobs={jobs[-1][1]} "
                f"compiles={compiles[-1]} compile_ms={compile_ms[-1]}",
                file=sys.stderr,
            )
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        spark.sparkContext.setJobDescription(None)
        print(
            f"RESULT {name} min={min(runs)} runs={runs} phases={phases} "
            f"build_jobs={[b for b, _ in jobs]} jobs={[n for _, n in jobs]} "
            f"compiles={compiles} compile_ms={compile_ms}"
        )
        if args.stages:
            _dump_stage_table(spark, name)
        if args.sql:
            _dump_sql_metrics(spark, name)


def _phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase (analysis, optimization, planning) of
    ``df``'s own QueryExecution, planning it first if nothing has. The
    tracker's phase table is a Scala map, walked through its key
    iterator (py4j has no zero-argument ``toArray`` on it)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    tr = qe.tracker().phases()
    keys = tr.keys().iterator()
    out = {}
    while keys.hasNext():
        k = keys.next()
        ph = tr.apply(k)
        out[str(k)] = round((ph.endTimeMs() - ph.startTimeMs()) / 1000.0, 3)
    return out


def _group_jobs(spark, group: str) -> int:
    """Jobs launched under job group ``group``, once the listener bus has
    delivered every event posted so far (the tracker is fed asynchronously)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _compiles(spark) -> tuple[int, float]:
    """(classes compiled, compile milliseconds) by Janino in this JVM so far.
    The count is CodegenMetrics' compilation-time histogram count; the
    milliseconds come from CodeGenerator's compile-time accumulator, because
    the histogram keeps only a sample of its values, not their sum."""
    jvm = spark._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return count, nanos / 1e6


def _dump_sql_metrics(spark, name: str) -> None:
    """Top physical operators by reported time across this query's SQL
    executions (UI REST /sql endpoint, planDescription + node metrics)."""
    import json as _json
    import re as _re
    import urllib.request

    try:
        base = spark.sparkContext.uiWebUrl + "/api/v1/applications/" + spark.sparkContext.applicationId
        sqls = _json.load(urllib.request.urlopen(base + "/sql?details=true&planDescription=false&length=1000"))
        rows = []
        for s in sqls:
            if not (s.get("description") or "").startswith(f"profile:{name}:0"):
                continue
            for node in s.get("nodes", []):
                t = 0.0
                info = []
                for m in node.get("metrics", []):
                    v = m.get("value", "")
                    if m["name"] in ("time to build hash map", "time in aggregation build",
                                      "scan time", "shuffle write time", "fetch wait time",
                                      "time to broadcast", "duration", "op time", "sort time"):
                        nums = [float(x.replace("'", "")) for x in _re.findall(r"[\d.]+", v.split("(")[-1]) ]
                        tot = _re.search(r"total \(min, med, max[^)]*\)\s*\n?([\d.smh ]+)", v)
                        ms = _parse_dur(v)
                        if ms is not None:
                            t += ms
                            info.append(f"{m['name']}={v.splitlines()[0][:40]}")
                    if m["name"] == "number of output rows":
                        info.append(f"rows={v}")
                rows.append((t, node.get("nodeName", "")[:60], "; ".join(info)[:120]))
        rows.sort(reverse=True)
        print(f"SQLNODES {name}:")
        for t, nm, info in rows[:25]:
            print(f"  {t:9.1f}ms {nm:45} {info}")
    except Exception as exc:  # noqa: BLE001
        print(f"SQLNODES {name}: unavailable ({exc})")


def _parse_dur(v: str) -> float | None:
    """Parse the leading 'total' duration out of a Spark metric value like
    'total (min, med, max (stageId: taskId))\\n2.3 s (12 ms, ...)' → ms."""
    import re as _re

    lines = v.splitlines()
    txt = lines[1] if len(lines) > 1 else lines[0]
    m = _re.match(r"\s*([\d.]+)\s*(ms|s|m|h)", txt)
    if not m:
        return None
    mult = {"ms": 1.0, "s": 1000.0, "m": 60000.0, "h": 3600000.0}[m.group(2)]
    return float(m.group(1)) * mult


def _dump_stage_table(spark, name: str) -> None:
    """Summarize per-stage wall/task time for this query's jobs via the UI
    REST API (requires SPARK_GRAFT_UI=true). Shows where a multi-job query
    actually spends its time — job count and the per-stage task-time
    distribution are the sf0.1 cost drivers."""
    import json as _json
    import urllib.request

    try:
        base = spark.sparkContext.uiWebUrl + "/api/v1/applications/" + spark.sparkContext.applicationId
        jobs = _json.load(urllib.request.urlopen(base + "/jobs"))
        mine = [j for j in jobs if (j.get("description") or "").startswith(f"profile:{name}:")]
        stage_ids = sorted({s for j in mine for s in j.get("stageIds", [])})
        stages = _json.load(urllib.request.urlopen(base + "/stages"))
        by_id = {}
        for s in stages:
            if s["stageId"] in by_id or s["stageId"] not in stage_ids:
                continue
            by_id[s["stageId"]] = s
        print(f"STAGES {name}: {len(mine)} jobs, {len(stage_ids)} stages")
        rows = []
        for sid in stage_ids:
            s = by_id.get(sid)
            if not s:
                continue
            dur = (s.get("executorRunTime") or 0) / 1000.0
            rows.append((dur, sid, s.get("numTasks"), s.get("name", "")[:90],
                         s.get("shuffleWriteBytes", 0), s.get("shuffleReadBytes", 0)))
        rows.sort(reverse=True)
        for dur, sid, nt, nm, sw, sr in rows[:20]:
            print(f"  stage {sid:5d} taskTime={dur:8.2f}s tasks={nt:4} shW={sw:>10} shR={sr:>10} {nm}")
    except Exception as exc:  # noqa: BLE001 — profiling aid only
        print(f"STAGES {name}: unavailable ({exc})")


if __name__ == "__main__":
    main()
