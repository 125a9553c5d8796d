"""Benchmark of the CDC engine: streaming ingest on a hot and a wide key
space, reads beside writes, and batch registry queries.

    python3 perfbench/run.py --workload cdc_wide_steps --seed 1 --seconds 20 --trace 0

Run it from the repository root. Workloads: ``cdc_hot_drain``,
``cdc_wide_steps`` and ``batch_queries`` (``perfbench/metrics.json`` says
what each one is for); ``--workload all`` runs the three in one process and
prints every end-to-end metric under its own name. ``--size tiny`` shrinks
the inputs for the smoke test (``perfbench/smoke.py``). With
``--trace 1`` the timed loop runs twice, untraced and then traced on fresh
inputs from the same seed. The last line then carries the per-layer
metrics, the report line the tracing overhead (traced minus untraced, per
end-to-end metric), and the spans go to ``.perfbench_out/``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. The line before it is a report
with every named metric, tail percentiles with their sample counts, the
set-up split and the host and configuration stamp.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

CATALOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "metrics.json")


def _probe(spark) -> float:
    """Constant-work CPU probe, as in ``bench.py``: recorded so that host
    contention shows next to the numbers, never used to correct them."""
    t0 = time.perf_counter()
    spark.range(0, 100_000_000, 1, 8).selectExpr("sum(id * 2654435761 % 1000003)").collect()
    return time.perf_counter() - t0


def _java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = [ln for ln in out.stderr.splitlines() if " version " in ln]
    return lines[0] if lines else "unknown"


def _start_session(work: str, nproc: int):
    from cdc_postgresql_clickhouse_spark import session

    spark = session.get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_confs={
            # every file the JVM writes stays inside the checkout
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # the traced run attributes every job and stage of its loop
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _setup(wl, work: str, nproc: int, seed: int, size: dict):
    """One complete set-up: session (launching the JVM), inputs, warm-up."""
    from perfbench.trace import ProgressLog
    from perfbench.workloads import Ctx

    t0 = time.perf_counter()
    spark = _start_session(work, nproc)
    t1 = time.perf_counter()
    progress = ProgressLog()
    spark.streams.addListener(progress)
    ctx = Ctx(spark, progress, size, seed, os.path.join(work, "tmp"))
    inp = wl.generate(ctx, os.path.join(work, wl.name, "setup"))
    t2 = time.perf_counter()
    wl.warm(ctx, inp)
    t3 = time.perf_counter()
    ctx.setup_split = {"session_s": t1 - t0, "inputs_s": t2 - t1, "warm_s": t3 - t2,
                       "total_s": t3 - t0}
    return ctx, inp


def _install_tracer(ctx):
    """Spans around the program's public functions for the traced loop."""
    import cdc_postgresql_clickhouse_spark.operators.state as state_mod
    import cdc_postgresql_clickhouse_spark.streaming.pipeline as pipeline
    from perfbench.trace import Tracer
    from perfbench.workloads import dir_bytes_rows

    tr = Tracer()
    tr.count_py4j()

    def after_upsert(rec, args, kwargs, touched):
        # the pipeline calls upsert_changes_bucketed(spark, updates, path, key_buckets=n)
        path, n_buckets = args[2], kwargs["key_buckets"]
        b = r = 0
        for k in touched:
            db, dr = dir_bytes_rows(os.path.join(path, f"{state_mod.BUCKET_COL}={k}"))
            b, r = b + db, r + dr
        rec["attrs"].update(touched_ratio=len(touched) / n_buckets, bytes_rewritten=b,
                            rows_rewritten=r)

    tr.wrap(pipeline, "changes_to_state_updates", "cdc_transform.changes_to_state_updates")
    tr.wrap(pipeline, "upsert_changes_bucketed", "state.upsert_changes_bucketed", after_upsert)
    for name in ("read_state", "apply_changes", "write_state"):
        tr.wrap(state_mod, name, f"state.{name}")
    ctx.tracer = tr
    return tr


def _layers(wl, ctx, tr, res, loop_window) -> dict:
    """Per-layer metrics of the traced loop. A layer the workload does not
    run reports 0."""
    from perfbench.workloads import PROGRESS_KEYS, med

    named = tr.named
    runs = named("pipeline.run_cdc_pipeline")
    batches = [b for s in runs for b in s["attrs"]["batches"]]
    out = {}
    for metric, key in PROGRESS_KEYS.items():
        out[metric] = med([b["duration_ms"].get(key, 0) for b in batches])
    out["pipeline.start_ms"] = med(
        [s["ms"] - sum(b["duration_ms"]["triggerExecution"] for b in s["attrs"]["batches"])
         for s in runs]
    )
    env = sum(s["attrs"]["envelopes"] for s in runs)
    env_bytes = sum(s["attrs"]["envelope_bytes"] for s in runs)
    out["pipeline.rows_read_per_env"] = (
        sum(b["num_input_rows"] for b in batches) / env if env else 0.0
    )
    tf = named("cdc_transform.changes_to_state_updates")
    out["cdc_transform.call_ms"] = med([s["ms"] for s in tf])
    out["cdc_transform.py4j_calls"] = med([s["py4j_calls"] for s in tf])
    ups = named("state.upsert_changes_bucketed")
    up_ids = {s["id"] for s in ups}
    out["state.upsert_ms"] = med([s["ms"] for s in ups])
    out["state.upsert_self_ms"] = med([tr.self_ms(s) for s in ups])
    for short in ("read_state", "apply_changes", "write_state"):
        inner = [s["ms"] for s in named(f"state.{short}") if s["parent"] in up_ids]
        out[f"state.{short}_ms"] = med(inner)
    out["state.touched_bucket_ratio"] = med([s["attrs"]["touched_ratio"] for s in ups])
    rewritten = [s["attrs"]["bytes_rewritten"] for s in ups]
    out["state.bytes_rewritten"] = med(rewritten)
    out["state.write_amp"] = sum(rewritten) / env_bytes if env_bytes else 0.0
    out["state.rows_rewritten_per_change"] = (
        sum(s["attrs"]["rows_rewritten"] for s in ups) / env if env else 0.0
    )
    rp, rx = named("read.plan"), named("read.exec")
    out["read.plan_ms"] = med([s["ms"] for s in rp])
    out["read.exec_ms"] = med([s["ms"] for s in rx])
    returned = sum(s["attrs"]["rows_returned"] for s in rx)
    out["read.rows_scanned_per_row_returned"] = (
        sum(s["input_records"] for s in rx) / returned if returned else 0.0
    )
    qb, qx = named("queries.build"), named("queries.exec")
    # times over the warm passes, as latency_p50_ms; counts over the cold pass
    first = len(res["cold"]["rows"]) if "cold" in res else 0
    fb, fx = qb[:first], qx[:first]
    out["queries.build_ms"] = med([s["ms"] for s in qb[first:]])
    out["queries.exec_ms"] = med([s["ms"] for s in qx[first:]])
    out["queries.build_jobs"] = sum(s["jobs"] for s in fb)
    out["queries.py4j_calls"] = sum(s["py4j_calls"] for s in fb + fx)
    out["queries.jobs"] = sum(s["jobs"] for s in fb + fx)
    out["queries.stages"] = sum(s["stages"] for s in fb + fx)
    out["session.start_ms"] = ctx.setup_split["session_s"] * 1000.0
    n_ops = max(wl.attempted(res), 1)
    t_lo, p_lo, t_hi, p_hi = loop_window
    jobs = [j for j in tr.jobs if t_lo <= j["submitted_ms"] <= t_hi]
    out["op.jobs"] = len(jobs) / n_ops
    for k in ("stages", "tasks", "shuffle_bytes"):
        out[f"op.{k}"] = sum(j[k] for j in jobs) / n_ops
    out["op.py4j_calls"] = (p_hi - p_lo) / n_ops
    return out


def run_workload(name: str, seed: int, seconds: float, trace: bool, size_name: str,
                 work: str, nproc: int) -> dict:
    from perfbench.workloads import SIZES, WORKLOADS

    wl = WORKLOADS[name]
    size = SIZES[size_name]
    ctx, inp = _setup(wl, work, nproc, seed, size)
    spark = ctx.spark
    res = wl.measure(ctx, inp, seconds)
    failed = wl.check(ctx, inp, res)
    e2e = wl.report(inp, res)
    attempted = wl.attempted(res)
    e2e["setup_s"] = ctx.setup_split["total_s"]
    out = {"workload": name, "e2e": e2e, "attempted": attempted, "failed": failed,
           "setup_split": ctx.setup_split, "wrong_rows": res.get("wrong_rows", [])}
    if trace:
        inp2 = wl.generate(ctx, os.path.join(work, name, "traced"))
        wl.warm(ctx, inp2)
        tr = _install_tracer(ctx)
        try:
            window = [time.time() * 1000.0, tr.py4j_count()]
            res2 = wl.measure(ctx, inp2, seconds)
            window += [time.time() * 1000.0, tr.py4j_count()]
        finally:
            tr.uninstall()
            ctx.tracer = None
        failed2 = wl.check(ctx, inp2, res2)
        e2e2 = wl.report(inp2, res2)
        tr.attribute_jobs(spark)
        out["layers"] = _layers(wl, ctx, tr, res2, window)
        out["overhead"] = {
            k: e2e2[k] - v for k, v in e2e.items() if isinstance(v, float) and k in e2e2
        }
        out["attempted"] += wl.attempted(res2)
        out["failed"] += failed2
        out["spans"] = tr.spans
    out["probe_s"] = _probe(spark)
    out["stamp"] = {
        "nproc": nproc,
        "seed": seed,
        "spark": spark.version,
        "pyspark": __import__("pyspark").__version__,
        "java": _java_version(),
        "python": platform.python_version(),
        "spark.driver.memory": spark.conf.get("spark.driver.memory", "unset"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "size": size_name,
    }
    return out


def _stop_spark() -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _metric(value, unit):
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["cdc_hot_drain", "cdc_wide_steps", "batch_queries", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size; tiny is for the smoke test")
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    # the program under test; absent outside a checkout, which must fail
    import cdc_postgresql_clickhouse_spark  # noqa: F401

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the launcher lets SPARK_LOCAL_DIRS override spark.local.dir; every JVM
    # (launcher, Spark driver, version probe) keeps its temp and perf files here
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    nproc = len(os.sched_getaffinity(0))
    names = (["cdc_hot_drain", "cdc_wide_steps", "batch_queries"]
             if args.workload == "all" else [args.workload])
    try:
        results = [
            run_workload(n, args.seed, args.seconds, bool(args.trace), args.size, work, nproc)
            for n in names
        ]
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only if no other run is using it

    with open(CATALOG) as fh:
        units = {k: v["unit"] for k, v in json.load(fh)["end_to_end"].items()}
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    for r in results:
        samples = r["e2e"].pop("samples")
        r["e2e"]["ops_failed_ratio"] = r["failed"] / max(r["attempted"], 1)
        named = {}
        for k, v in r["e2e"].items():
            if isinstance(v, dict):  # a tail: value plus percentile and count
                named[k] = dict(v, unit=units[k])
            else:
                named[k] = _metric(v, units[k])
        report = {"workload": r["workload"], "metrics": named, "stamp": r["stamp"],
                  "probe_s": r["probe_s"], "setup_split": r["setup_split"],
                  "wrong_rows": r["wrong_rows"], "samples_ms": samples}
        if args.trace:
            report["tracing_overhead"] = {
                k: _metric(v, units[k]) for k, v in r["overhead"].items()
            }
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"{r['workload']}-seed{args.seed}-trace.json")
            with open(path, "w") as fh:
                json.dump({"layers": r["layers"], "spans": r["spans"]}, fh)
            report["spans_file"] = os.path.relpath(path, root)
        print(json.dumps({"report": report}), flush=True)

    # the last line carries exactly the metrics BENCHMARK.json lists
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    listed = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if args.trace:
        metrics = {
            (k if len(results) == 1 else f"{r['workload']}/{k}"): _metric(r["layers"][k], u)
            for r in results for k, u in listed.items()
        }
    elif len(results) == 1:
        metrics = {k: _metric(results[0]["e2e"][k], u) for k, u in listed.items()}
    else:
        metrics = {
            f"{r['workload']}/{k}": _metric(v, units[k])
            for r in results for k, v in r["e2e"].items() if not isinstance(v, dict)
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
