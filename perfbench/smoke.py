"""Smoke test of the benchmark at tiny size.

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced, from the repository
root, and checks that each run exits 0, passes every correctness check,
and prints every metric it names with its unit: the end-to-end metrics of
BENCHMARK.json (untraced) or its per-layer metrics (traced) on the last
line, and every catalog metric (``metrics.json``) of the workload on the
report line. Exits 1 on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_run(workload: str, trace: int, spec: dict, catalog: dict) -> list[str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    where = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}\n{proc.stderr[-3000:]}"]
    lines = proc.stdout.strip().splitlines()
    last, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
    errs = []
    if set(last) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{where}: last line keys {sorted(last)}")
    if not last["correct"] or last["failed"] or last["attempted"] < 1:
        errs.append(f"{where}: correct={last['correct']} failed={last['failed']} "
                    f"attempted={last['attempted']} wrong_rows={report['wrong_rows']}")
    listed = spec["per_layer"] if trace else spec["end_to_end"]
    want = {m["name"]: m["unit"] for m in listed}
    got = {k: v["unit"] for k, v in last["metrics"].items()}
    if got != want:
        errs.append(f"{where}: metrics/units {got} != {want}")
    for k, v in last["metrics"].items():
        if not isinstance(v["value"], int | float):
            errs.append(f"{where}: {k} is not a number: {v['value']!r}")
    for k, v in catalog["end_to_end"].items():
        m = report["metrics"].get(k)
        if workload in v["workloads"] and (m is None or m["unit"] != v["unit"]):
            errs.append(f"{where}: report lacks {k} [{v['unit']}]")
    gated = {m["name"] for m in spec["end_to_end"]} - {"setup_s"}
    if trace and not gated <= set(report["tracing_overhead"]):
        errs.append(f"{where}: tracing overhead misses one of {sorted(gated)}")
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(HERE, "metrics.json")) as fh:
        catalog = json.load(fh)
    errs = []
    for workload in catalog["workloads"]:
        for trace in (0, 1):
            errs += check_run(workload, trace, spec, catalog)
            print(f"{workload} trace={trace}: {'ok' if not errs else 'FAILED'}", flush=True)
            if errs:
                print("\n".join(errs), file=sys.stderr)
                return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
