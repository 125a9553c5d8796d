"""Tracing made only from the benchmark's side of the program boundary.

- ``ProgressLog``: a ``StreamingQueryListener`` that keeps every progress
  event (``durationMs`` split, ``numInputRows``). Always on: the micro-batch
  latency metrics come from it.
- ``Tracer``: spans around calls into the program's public functions,
  installed by replacing module attributes (``pipeline.upsert_changes_bucketed``,
  ``state.write_state`` ...) for the length of a traced run; a counter on
  the Py4J gateway client charges each command to the innermost open span
  of the calling thread. Spans stay in memory until the run ends.
- Spark jobs, stages, tasks, input records and shuffle bytes are read once,
  after the run, from the Spark driver's status store and charged to every span
  whose wall-clock interval holds the job's submission time. The
  benchmark runs one operation at a time, so the interval is an exact
  attribution; a job group per span would not follow the jobs that the
  streaming engine starts from its own thread.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class ProgressLog(StreamingQueryListener):
    """Collects query progress; ``wait_terminated`` blocks until the
    listener bus has delivered a query's termination event, which it posts
    after every progress event of that query."""

    def __init__(self):
        self.progress: list[dict] = []
        self._terminated: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self._cv:
            self.progress.append(
                {
                    "run_id": str(p.runId),
                    "batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                }
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self._terminated.add(str(event.runId))
            self._cv.notify_all()

    def wait_terminated(self, n_queries: int, timeout_s: float = 30.0) -> None:
        deadline = time.monotonic() + timeout_s
        with self._cv:
            while len(self._terminated) < n_queries:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError("streaming listener missed a termination event")
                self._cv.wait(left)


class Tracer:
    """In-memory spans with per-thread nesting and Py4J call counts."""

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._main = threading.get_ident()
        self._stacks: dict[int, list[dict]] = {}
        self._patches: list[tuple[object, str, object]] = []
        self._py4j_by_thread: dict[int, int] = {}
        self.jobs: list[dict] = []

    # -- spans ----------------------------------------------------------
    def _stack(self) -> list[dict]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
            self._stacks[threading.get_ident()] = st
        return st

    def _py4j(self) -> int:
        return getattr(self._tls, "py4j", 0)

    def py4j_count(self) -> int:
        """Py4J commands sent so far, over all threads."""
        return sum(self._py4j_by_thread.values())

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        st = self._stack()
        if st:
            parent = st[-1]["id"]
        else:
            # a foreachBatch callback runs on a Py4J callback thread; its
            # cause is the call the main thread is blocked in
            main = self._stacks.get(self._main) or []
            parent = main[-1]["id"] if main else None
        rec = {
            "id": next(self._ids),
            "parent": parent,
            "name": name,
            "thread": threading.get_ident(),
            "start_epoch_ms": time.time() * 1000.0,
            "attrs": attrs,
        }
        st.append(rec)
        p0 = self._py4j()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["ms"] = (time.perf_counter() - t0) * 1000.0
            rec["end_epoch_ms"] = rec["start_epoch_ms"] + rec["ms"]
            rec["py4j_calls"] = self._py4j() - p0
            st.pop()
            self.spans.append(rec)

    # -- installation ---------------------------------------------------
    def wrap(self, module, attr: str, name: str, on_return=None) -> None:
        """Replace ``module.attr`` by a spanned wrapper until ``uninstall``.
        ``on_return(rec, args, kwargs, result)`` runs after the span closes,
        so its own cost stays out of the span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
            if on_return is not None:
                on_return(rec, args, kwargs, out)
            return out

        self._patches.append((module, attr, fn))
        setattr(module, attr, traced)

    def count_py4j(self) -> None:
        from py4j.java_gateway import GatewayClient

        send = GatewayClient.send_command
        tls = self._tls
        by_thread = self._py4j_by_thread

        @functools.wraps(send)
        def counted(client, *args, **kwargs):
            # each thread writes only its own counter
            n = tls.py4j = getattr(tls, "py4j", 0) + 1
            by_thread[threading.get_ident()] = n
            return send(client, *args, **kwargs)

        self._patches.append((GatewayClient, "send_command", send))
        GatewayClient.send_command = counted

    def uninstall(self) -> None:
        while self._patches:
            obj, attr, orig = self._patches.pop()
            setattr(obj, attr, orig)

    # -- post-run attribution --------------------------------------------
    def attribute_jobs(self, spark) -> None:
        """Charge every finished job of the status store to the spans whose
        interval holds its submission time (inclusive of children)."""
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        by_stage: dict[int, tuple[int, int, int]] = {}  # attempts add up
        for s in _scala_iter(store.stageList(None, False, False, no_quantiles, None)):
            if str(s.status().toString()) == "SKIPPED":
                continue  # shuffle output reused: listed under the job, never ran
            v = (s.numTasks(), s.inputRecords(), s.shuffleReadBytes() + s.shuffleWriteBytes())
            a = by_stage.get(s.stageId(), (0, 0, 0))
            by_stage[s.stageId()] = tuple(x + y for x, y in zip(a, v))
        # a stage belongs to the first job that lists it; later jobs that
        # reuse its shuffle output list it again but do not run it
        owned: set[int] = set()
        jobs = sorted(_scala_iter(store.jobsList(None)), key=lambda j: j.jobId())
        for j in jobs:
            sub = j.submissionTime()
            if sub.isEmpty():
                continue
            ids = [int(x) for x in str(j.stageIds().mkString(",")).split(",") if x]
            ran = [sid for sid in ids if sid in by_stage and sid not in owned]
            owned.update(ran)
            self.jobs.append(
                {
                    "submitted_ms": float(sub.get().getTime()),
                    "stages": len(ran),
                    "tasks": sum(by_stage[s][0] for s in ran),
                    "input_records": sum(by_stage[s][1] for s in ran),
                    "shuffle_bytes": sum(by_stage[s][2] for s in ran),
                }
            )
        for rec in self.spans:
            lo, hi = rec["start_epoch_ms"], rec["end_epoch_ms"]
            mine = [j for j in self.jobs if lo <= j["submitted_ms"] <= hi]
            rec["jobs"] = len(mine)
            for k in ("stages", "tasks", "input_records", "shuffle_bytes"):
                rec[k] = sum(j[k] for j in mine)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_ms(self, rec: dict) -> float:
        """Span duration minus the part its direct children cover."""
        kids = [s["ms"] for s in self.spans if s["parent"] == rec["id"]]
        return rec["ms"] - sum(kids)
