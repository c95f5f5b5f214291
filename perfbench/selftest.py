#!/usr/bin/env python3
"""Self-test of the benchmark: one pass per workload, untraced and traced.

    python3 perfbench/selftest.py [--seed N]

Asserts that every end-to-end metric of BENCHMARK.json is emitted with its
unit, that no operation failed (error rate 0), that every per-layer metric
appears in the traced output, and that the traced context carries the span
of every layer the workload drives. Prints the tracing overhead per workload
(traced pass minus untraced pass). Exits non-zero on the first violation.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import DIMS, FACTS, WORKLOADS  # noqa: E402


def expected_spans(workload: str) -> list[str]:
    ops = WORKLOADS[workload][2]
    if ops is None:
        names = ["plans.dims.build_s", "plans.dims.exec_s"]
        for t in DIMS + FACTS:
            layer = "dims" if t in DIMS else "facts"
            names += [f"plans.{layer}.{t}.{k}" for k in ("build_s", "exec_s", "spark.jobs")]
        return names
    return [f"{op}.{k}" for op in ops for k in ("build_s", "exec_s", "spark.jobs")]


def run_once(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed)]
    cmd += ["--seconds", "0", "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} trace={trace}: exit {proc.returncode}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def check_metrics(result: dict, declared: list[dict], where: str) -> None:
    for m in declared:
        got = result["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            raise SystemExit(f"{where}: metric {m['name']} missing or without unit {m['unit']}: {got}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        name = w["name"]
        _, plain = run_once(name, args.seed, 0)
        check_metrics(plain, spec["end_to_end"], f"{name} untraced")
        ctx, traced = run_once(name, args.seed, 1)
        check_metrics(traced, spec["per_layer"], f"{name} traced")
        for res, where in ((plain, "untraced"), (traced, "traced")):
            if not res["correct"] or res["failed"]:
                raise SystemExit(f"{name} {where}: error rate {res['failed']}/{res['attempted']}")
        missing = [s for s in expected_spans(name) if s not in ctx["spans"]]
        if missing:
            raise SystemExit(f"{name} traced: spans missing {missing}")
        overhead = traced["metrics"]["traced_pass_s"]["value"] - plain["metrics"]["pass_s"]["value"]
        pass_s = plain["metrics"]["pass_s"]["value"]
        print(f"{name}: ok; tracing overhead {overhead:+.3f} s on a {pass_s:.3f} s pass")
    return 0


if __name__ == "__main__":
    sys.exit(main())
