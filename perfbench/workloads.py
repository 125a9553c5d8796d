"""The three closed-loop workloads. Each one has the same shape:

- ``generate``: write the seeded inputs (part of set-up time);
- ``warm``: run the measured path once, untimed but inside set-up;
- ``measure``: the timed loop, one operation at a time, until ``seconds``
  have passed (whole passes for ``batch_queries``);
- ``check``: compare every answer with DuckDB, after the loop;
- ``report``: the end-to-end metrics (``run.py`` derives the per-layer
  ones from the spans of a traced loop).

Every call into the program goes through a module attribute
(``pipeline.run_cdc_pipeline``, ``state.read_state`` ...) so that a traced
run can wrap it.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import cdc_postgresql_clickhouse_spark.operators.state as state_mod
import cdc_postgresql_clickhouse_spark.streaming.pipeline as pipeline
from perfbench import envelopes, fixtures, oracle

#: size presets; ``tiny`` is for the smoke test only
SIZES = {
    "full": {
        "hot_events": 100_000,
        "hot_users": 1_500,
        "hot_per_file": 2_500,
        "hot_round": 2,
        "wide_orders": 150_000,
        "wide_keys": 300_000,
        "wide_changes": 2_000,
        "queries_sf": 0.1,
        "lookups": 20,
    },
    "tiny": {
        "hot_events": 4_000,
        "hot_users": 200,
        "hot_per_file": 1_000,
        "hot_round": 2,
        "wide_orders": 2_000,
        "wide_keys": 6_000,
        "wide_changes": 200,
        "queries_sf": 0.001,
        "lookups": 6,
    },
}

#: untimed steps of the wide workload's warm-up
WARM_STEPS = 2

#: out-of-order and replayed envelopes, as shares of a step's changes
LATE_SHARE = 0.05
REPLAY_SHARE = 0.05

#: ``batch_queries`` rows, fixed so every seed times the same plans: CDC
#: rows first, then a TPC-H aggregate, an iterative graph query with a
#: Python-heavy build and a vector search. ``streaming_queries`` is left
#: out: it is the pipeline, which the CDC workloads measure.
QUERY_SAMPLE = (
    "cdc_current_state",
    "cdc_count_final",
    "cdc_state_asof",
    "cdc_key_churn",
    "q1_pricing_summary",
    "graph_pagerank_types",
    "ann_bruteforce_topk",
)
TINY_QUERY_SAMPLE = ("cdc_current_state", "cdc_count_final", "q1_pricing_summary")

#: streaming progress durations reported per batch, metric name -> key
PROGRESS_KEYS = {
    "pipeline.trigger_ms": "triggerExecution",
    "pipeline.add_batch_ms": "addBatch",
    "pipeline.wal_commit_ms": "walCommit",
    "pipeline.commit_offsets_ms": "commitOffsets",
    "pipeline.latest_offset_ms": "latestOffset",
    "pipeline.get_batch_ms": "getBatch",
    "pipeline.query_planning_ms": "queryPlanning",
}


def tail(values: list[float]) -> dict:
    """The highest of p50/p75/p90/p95/p99/p99.9 that has at least ten
    samples above it (nearest rank), with its percentile and sample count;
    ``value`` is None when even p50 lacks ten."""
    n = len(values)
    best = None
    for p in (50, 75, 90, 95, 99, 99.9):
        rank = int(np.ceil(p / 100 * n))
        if n - rank >= 10:
            best = (p, sorted(values)[rank - 1])
    if best is None:
        return {"value": None, "percentile": None, "n": n}
    return {"value": best[1], "percentile": best[0], "n": n}


def med(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def dir_bytes_rows(path: str) -> tuple[int, int]:
    """Bytes and rows of the parquet files under ``path`` (footers only)."""
    n_bytes = n_rows = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                n_bytes += os.path.getsize(p)
                n_rows += pq.read_metadata(p).num_rows
    return n_bytes, n_rows


def _new_dirs(base: str, *names: str) -> list[str]:
    out = []
    for n in names:
        p = os.path.join(base, n)
        os.makedirs(p, exist_ok=True)
        out.append(p)
    return out


class Ctx:
    """What a workload needs from the runner."""

    def __init__(self, spark, progress, size: dict, seed: int, tmp: str):
        self.spark = spark
        self.progress = progress
        self.size = size
        self.seed = seed
        self.tmp = tmp
        self.tracer = None  # set for the traced loop only
        self.calls = 0  # run_cdc_pipeline calls so far, for the listener

    def run_pipeline(self, inp: dict, n_env=0, env_bytes=0, **kw):
        """One ``run_cdc_pipeline`` call draining what has landed. Returns
        the ``perf_counter`` time it returned at, its wall ms and the
        progress of the batches it ran, which the listener delivers after
        the clock has stopped."""
        seen = len(self.progress.progress)
        span = (contextlib.nullcontext({"attrs": {}}) if self.tracer is None
                else self.tracer.span("pipeline.run_cdc_pipeline"))
        with span as rec:
            t0 = time.perf_counter()
            pipeline.run_cdc_pipeline(
                self.spark, inp["src"], inp["state"], inp["ckpt"], available_now=True, **kw
            )
            t_end = time.perf_counter()
        self.calls += 1
        self.progress.wait_terminated(self.calls)
        batches = [p for p in self.progress.progress[seen:] if p["num_input_rows"] > 0]
        rec["attrs"].update(batches=batches, envelopes=n_env, envelope_bytes=env_bytes)
        return t_end, (t_end - t0) * 1000.0, batches


# ---------------------------------------------------------------------------
class HotDrain:
    """Backfill of the ``events`` envelope log: 1.5k keys over 16 buckets,
    one file per trigger, so every batch touches every bucket and the
    per-batch fixed cost dominates."""

    name = "cdc_hot_drain"

    def generate(self, ctx: Ctx, d: str) -> dict:
        sz = ctx.size
        fx, staging, src, warm_src = _new_dirs(d, "fixtures", "staging", "src", "warm_src")
        rng = np.random.default_rng([ctx.seed, 1])
        events = os.path.join(fx, "events.parquet")
        pq.write_table(fixtures.events_table(rng, sz["hot_events"], sz["hot_users"]), events)
        files = envelopes.stage_hot_files(ctx.spark, events, staging, sz["hot_per_file"])
        shutil.copy(files[0][0], warm_src)
        return {
            "events": events,
            "files": files,
            "src": src,
            "state": os.path.join(d, "state"),
            "ckpt": os.path.join(d, "ckpt"),
            "warm": {"src": warm_src, "state": os.path.join(d, "warm_state"),
                     "ckpt": os.path.join(d, "warm_ckpt")},
        }

    def warm(self, ctx: Ctx, inp: dict) -> None:
        ctx.run_pipeline(inp["warm"], max_files_per_trigger=1)

    def measure(self, ctx: Ctx, inp: dict, seconds: float) -> dict:
        per_round = ctx.size["hot_round"]
        calls, n_landed = [], 0
        files = list(inp["files"])
        busy = 0.0
        while busy < seconds * 1000.0 and files:
            batch_files, files = files[:per_round], files[per_round:]
            t0 = time.perf_counter()
            for path, _n, _b in batch_files:
                envelopes.land(path, inp["src"])
            n_landed += len(batch_files)
            land_ms = (time.perf_counter() - t0) * 1000.0
            env = sum(n for _p, n, _b in batch_files)
            _t, ms, batches = ctx.run_pipeline(
                inp, env, sum(b for _p, _n, b in batch_files), max_files_per_trigger=1
            )
            calls.append({"ms": ms, "land_ms": land_ms, "batches": batches, "envelopes": env})
            busy += ms + land_ms
        return {"calls": calls, "files_landed": n_landed, "busy_ms": busy}

    def check(self, ctx: Ctx, inp: dict, res: dict) -> int:
        """Final state against the repo's ``streaming_cdc_pipeline_equiv``
        oracle over the landed prefix of the event log; a wrong state marks
        every batch of the run as failed."""
        from pyspark.sql import functions as F

        from cdc_postgresql_clickhouse_spark.queries.streaming_queries import ORACLE

        n_landed = res["files_landed"] * ctx.size["hot_per_file"]
        st = state_mod.current_state(state_mod.read_state(ctx.spark, inp["state"]))
        got = oracle.spark_digest(
            st.select(
                "booking_id",
                F.col("status").alias("last_status"),
                "is_canceled",
                F.unix_micros("created_at").alias("created_at_us"),
                F.unix_micros("modified_at").alias("modified_at_us"),
                "version",
            )
        )
        con = oracle.connect(ctx.tmp)
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{inp['events']}') "
            f"WHERE event_id < {n_landed}"
        )
        want = oracle.duck_digest(con, ORACLE["streaming_cdc_pipeline_equiv"])
        con.close()
        n_batches = sum(len(c["batches"]) for c in res["calls"])
        return 0 if got == want else n_batches

    def attempted(self, res: dict) -> int:
        return sum(len(c["batches"]) for c in res["calls"])

    def report(self, inp: dict, res: dict) -> dict:
        trig = [b["duration_ms"]["triggerExecution"] for c in res["calls"] for b in c["batches"]]
        env = sum(c["envelopes"] for c in res["calls"])
        n_bytes, n_rows = dir_bytes_rows(inp["state"])
        return {
            "ingest_env_per_s": env / (res["busy_ms"] / 1000.0),
            "batch_p50_ms": med(trig),
            "batch_tail_ms": tail(trig),
            "state_bytes_per_key": n_bytes / max(n_rows, 1),
            "latency_p50_ms": med(trig),
            "throughput_per_s": env / (res["busy_ms"] / 1000.0),
            "samples": {"batch_ms": trig},
        }


# ---------------------------------------------------------------------------
class WideSteps:
    """A replicated ``orders`` key space far larger than one change file;
    each step lands a file, drains it and reads the state back."""

    name = "cdc_wide_steps"

    def generate(self, ctx: Ctx, d: str) -> dict:
        from pyspark.sql import functions as F

        sz = ctx.size
        staging, src = _new_dirs(d, "staging", "src")
        rng = np.random.default_rng([ctx.seed, 2])
        orders = fixtures.orders_table(rng, sz["wide_orders"], max(10, sz["wide_orders"] // 10))
        ks = envelopes.WideKeyspace(orders, sz["wide_keys"], ctx.seed)
        snap_path = os.path.join(d, "snapshot.parquet")
        pq.write_table(pa.table(ks.snapshot_columns()), snap_path)
        snap = ctx.spark.read.parquet(snap_path).select(
            "booking_id",
            "status",
            "is_canceled",
            F.timestamp_micros("created_at_us").alias("created_at"),
            F.timestamp_micros("created_at_us").alias("modified_at"),
        )
        inp = {
            "ks": ks,
            "snapshot": snap_path,
            "staging": staging,
            "src": src,
            "state": os.path.join(d, "state"),
            "ckpt": os.path.join(d, "ckpt"),
            "steps": [],  # (file, lookup keys, answers) per landed step
        }
        state_mod.write_state(
            state_mod.snapshot_load(snap), inp["state"], key_buckets=pipeline.DEFAULT_KEY_BUCKETS
        )
        return inp

    def warm(self, ctx: Ctx, inp: dict) -> None:
        # full-size steps, so the timed loop starts with the state already
        # rewritten and the query already restarted from its checkpoint;
        # checked with the rest
        for _ in range(WARM_STEPS):
            self._step(ctx, inp, ctx.size["wide_changes"])

    def _reads(self, ctx: Ctx, inp: dict, keys: list[str]) -> list[tuple[str, float, object]]:
        """The reference's verification reads: count FINAL, the status
        histogram and point lookups, each planned and run on its own."""
        from pyspark.sql import functions as F

        def final():
            return state_mod.current_state(state_mod.read_state(ctx.spark, inp["state"]))

        ops = (
            ("count", lambda: final(), lambda df: df.count()),
            ("status_hist", lambda: final().groupBy("status").count(),
             lambda df: sorted(tuple(r) for r in df.collect())),
            ("lookup", lambda: final().filter(F.col("booking_id").isin(keys)).select(
                "booking_id", "status", "is_canceled",
                F.unix_micros("created_at").alias("created_us"),
                F.unix_micros("modified_at").alias("modified_us"), "version"),
             lambda df: sorted(tuple(r) for r in df.collect())),
        )
        out = []
        tr = ctx.tracer
        for name, plan, act in ops:
            t0 = time.perf_counter()
            if tr is None:
                ans = act(plan())
            else:
                with tr.span("read.plan", op=name):
                    df = plan()
                    df._jdf.queryExecution().executedPlan()
                with tr.span("read.exec", op=name) as rec:
                    ans = act(df)
                rec["attrs"]["rows_returned"] = 1 if name == "count" else len(ans)
            out.append((name, (time.perf_counter() - t0) * 1000.0, ans))
        return out

    def _step(self, ctx: Ctx, inp: dict, n_changes: int) -> dict:
        ks = inp["ks"]
        lines, touched = ks.step_lines(n_changes, LATE_SHARE, REPLAY_SHARE)
        path, nbytes = ks.write_step(inp["staging"], len(inp["steps"]), lines)
        n = ctx.size["lookups"] // 2
        keys = [ks.key(int(i)) for i in ks.rng.choice(touched, min(n, len(touched)), replace=False)]
        keys += [ks.key(int(i)) for i in ks.rng.integers(0, ks.n_keys, n)]
        t_land = time.perf_counter()
        landed = envelopes.land(path, inp["src"])
        t_end, ms, batches = ctx.run_pipeline(inp, len(lines), nbytes)
        visible = (t_end - t_land) * 1000.0
        reads = self._reads(ctx, inp, keys)
        inp["steps"].append({"file": landed, "keys": keys, "reads": reads})
        return {"visible_ms": visible, "call_ms": ms, "batches": batches,
                "envelopes": len(lines), "bytes": nbytes, "reads": reads}

    def measure(self, ctx: Ctx, inp: dict, seconds: float) -> dict:
        steps, busy = [], 0.0
        while busy < seconds * 1000.0:
            s = self._step(ctx, inp, ctx.size["wide_changes"])
            steps.append(s)
            busy += s["visible_ms"] + sum(ms for _n, ms, _a in s["reads"])
        # the warm-up step is checked with the rest, so it counts as attempted
        n_ops = sum(1 + len(st["reads"]) for st in inp["steps"])
        return {"steps": steps, "busy_ms": busy, "n_ops": n_ops}

    def check(self, ctx: Ctx, inp: dict, res: dict) -> int:
        """Each read of each step (warm-up step included) against a DuckDB
        replay of the snapshot plus the files landed up to that step."""
        con = oracle.connect(ctx.tmp)
        failed = 0
        files = []
        for st in inp["steps"]:
            files.append(st["file"])
            con.execute(
                "CREATE OR REPLACE TEMP TABLE final AS "
                + oracle.wide_state_sql(inp["snapshot"], files)
            )
            key_list = ", ".join(f"'{k}'" for k in st["keys"])
            want = {
                "count": con.execute("SELECT count(*) FROM final").fetchone()[0],
                "status_hist": sorted(
                    con.execute("SELECT status, count(*) FROM final GROUP BY 1").fetchall()
                ),
                "lookup": sorted(
                    con.execute(
                        "SELECT booking_id, status, is_canceled, created_us, modified_us, "
                        f"version FROM final WHERE booking_id IN ({key_list})"
                    ).fetchall()
                ),
            }
            failed += sum(1 for name, _ms, ans in st["reads"] if ans != want[name])
        con.close()
        inp["steps"].clear()
        return failed

    def attempted(self, res: dict) -> int:
        return res["n_ops"]

    def report(self, inp: dict, res: dict) -> dict:
        steps = res["steps"]
        env = sum(s["envelopes"] for s in steps)
        trig = [b["duration_ms"]["triggerExecution"] for s in steps for b in s["batches"]]
        vis = [s["visible_ms"] for s in steps]
        reads = [ms for s in steps for _n, ms, _a in s["reads"]]
        n_bytes, n_rows = dir_bytes_rows(inp["state"])
        return {
            "ingest_env_per_s": env / (sum(s["call_ms"] for s in steps) / 1000.0),
            "batch_p50_ms": med(trig),
            "batch_tail_ms": tail(trig),
            "visible_p50_ms": med(vis),
            "visible_tail_ms": tail(vis),
            "read_p50_ms": med(reads),
            "read_tail_ms": tail(reads),
            "state_bytes_per_key": n_bytes / max(n_rows, 1),
            "latency_p50_ms": med(vis),
            "throughput_per_s": env / (res["busy_ms"] / 1000.0),
            "samples": {"visible_ms": vis, "read_ms": reads, "batch_ms": trig},
        }


# ---------------------------------------------------------------------------
class BatchQueries:
    """One fixed sample of registry rows over seeded sf0.1 fixtures, timed
    as Python build plus ``count()``; no streaming or state code runs."""

    name = "batch_queries"

    def generate(self, ctx: Ctx, d: str) -> dict:
        fx = os.path.join(d, "fixtures")
        fixtures.write_fixtures(fx, ctx.seed, ctx.size["queries_sf"])
        return {"fixtures": fx}

    def warm(self, ctx: Ctx, inp: dict) -> None:
        ctx.spark.range(1000).count()  # the pass itself is cold by design

    def _sample(self, ctx: Ctx) -> tuple[str, ...]:
        return TINY_QUERY_SAMPLE if ctx.size is SIZES["tiny"] else QUERY_SAMPLE

    @staticmethod
    def _reset(spark) -> None:
        """Drop the program's shared memos and cached relations, so every
        pass recomputes what a first caller would."""
        from cdc_postgresql_clickhouse_spark.queries.cluster import reset_clusters_cache
        from cdc_postgresql_clickhouse_spark.queries.search import reset_kie_cache
        from cdc_postgresql_clickhouse_spark.queries.similarity import reset_semdedup_cache
        from cdc_postgresql_clickhouse_spark.queries.text_ext import reset_langid_cache

        for reset in (reset_clusters_cache, reset_kie_cache, reset_semdedup_cache,
                      reset_langid_cache):
            reset()
        spark.catalog.clearCache()

    def _pass(self, ctx: Ctx, inp: dict, registry) -> dict:
        rows, dfs = [], {}
        tr = ctx.tracer
        for name in self._sample(ctx):
            self._reset(ctx.spark)
            t0 = time.perf_counter()
            if tr is None:
                df = registry[name](ctx.spark, inp["fixtures"])
                t1 = time.perf_counter()
                df.count()
            else:
                with tr.span("queries.build", row=name):
                    df = registry[name](ctx.spark, inp["fixtures"])
                t1 = time.perf_counter()
                with tr.span("queries.exec", row=name):
                    df.count()
            t2 = time.perf_counter()
            rows.append({"name": name, "build_ms": (t1 - t0) * 1000.0,
                         "exec_ms": (t2 - t1) * 1000.0})
            dfs[name] = df
        return {"rows": rows, "ms": sum(r["build_ms"] + r["exec_ms"] for r in rows), "dfs": dfs}

    def measure(self, ctx: Ctx, inp: dict, seconds: float) -> dict:
        """A cold pass, then warm passes until they have run ``seconds``.
        Latency and throughput come from the warm passes only: the cold
        pass is mostly JIT compilation, which varies too much from run to
        run to gate on; it is reported as ``queries_total_s``."""
        from cdc_postgresql_clickhouse_spark.queries import all_queries

        registry = all_queries()
        cold = self._pass(ctx, inp, registry)
        passes, busy = [], 0.0
        while busy < seconds * 1000.0:
            passes.append(self._pass(ctx, inp, registry))
            del passes[-1]["dfs"]
            busy += passes[-1]["ms"]
        return {"cold": cold, "passes": passes, "busy_ms": busy}

    def check(self, ctx: Ctx, inp: dict, res: dict) -> int:
        """Each sampled row (once per run: the cold pass's DataFrames)
        against its ``oracle_sql()`` twin: row count plus order-insensitive
        value hash."""
        from cdc_postgresql_clickhouse_spark.queries import all_oracles

        oracles = all_oracles()
        con = oracle.connect(ctx.tmp, inp["fixtures"])
        bad = set()
        for name, df in res["cold"].pop("dfs").items():
            if oracle.spark_digest(df) != oracle.duck_digest(con, oracles[name]):
                bad.add(name)
        con.close()
        res["wrong_rows"] = sorted(bad)
        return sum(1 for p in (res["cold"], *res["passes"]) for r in p["rows"] if r["name"] in bad)

    def attempted(self, res: dict) -> int:
        return sum(len(p["rows"]) for p in (res["cold"], *res["passes"]))

    def report(self, inp: dict, res: dict) -> dict:
        times = [r["build_ms"] + r["exec_ms"] for p in res["passes"] for r in p["rows"]]
        # a whole pass is the latency unit, so every row of the sample counts
        passes = [p["ms"] for p in res["passes"]]
        return {
            "query_p50_ms": med(times),
            "query_tail_ms": tail(times),
            "queries_total_s": res["cold"]["ms"] / 1000.0,
            "latency_p50_ms": med(passes),
            "throughput_per_s": len(times) / (res["busy_ms"] / 1000.0),
            "samples": {"query_ms": times, "pass_ms": passes},
        }


WORKLOADS = {w.name: w for w in (HotDrain(), WideSteps(), BatchQueries())}
