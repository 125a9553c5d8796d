"""Seeded Debezium envelope files for the two CDC workloads.

Every file is written under a temporary name outside the source directory
and renamed into it when it lands (``land``), so the file source never lists
a partial file.

- Hot keyspace: the repo's own ``_event_envelopes`` mapping of the
  ``events`` table (key = ``user_id``, version = ``event_id``), cut into
  files of consecutive event ids. A prefix of files is a prefix of the
  event log, which is what the oracle replays.
- Wide keyspace: ``orders`` rows replicated into a large key space, loaded
  once as a snapshot; each step then writes one small change file of
  updates, deletes and inserts plus a share of out-of-order envelopes
  (older than a change already landed for the key) and replayed ones
  (exact copies of envelopes landed before).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa

STATUSES = ("Open", "Created", "In Progress", "Delayed", "Completed", "Cancelled", "New", "Closed")
# o_orderstatus -> initial booking status of the snapshot rows
SNAPSHOT_STATUS = {"O": "Open", "F": "Completed", "P": "In Progress"}


def land(staged_path: str, source_dir: str) -> str:
    """Move one finished file into the source directory (atomic rename)."""
    dst = os.path.join(source_dir, os.path.basename(staged_path))
    os.rename(staged_path, dst)
    return dst


def stage_hot_files(spark, events_path: str, staging_dir: str, per_file: int) -> list[tuple[str, int, int]]:
    """Write the ``_event_envelopes`` of ``events`` as JSON-lines files of
    ``per_file`` consecutive event ids. Returns ``(path, n_envelopes,
    n_bytes)`` per file, in landing order."""
    from pyspark.sql import functions as F

    from cdc_postgresql_clickhouse_spark.queries.streaming_queries import _event_envelopes
    from cdc_postgresql_clickhouse_spark.sources.registry import load_table

    ev = load_table(spark, os.path.dirname(events_path), "events")
    out = os.path.join(staging_dir, "hot")
    (
        _event_envelopes(ev)
        .select(
            F.floor(F.col("source.lsn") / per_file).cast("int").alias("f"),
            F.to_json(F.struct("before", "after", "op", "ts_ms", "source")).alias("value"),
        )
        .repartition("f")
        .write.partitionBy("f")
        .text(out)
    )
    files = []
    for d in sorted(os.listdir(out), key=lambda s: int(s.split("=")[1]) if "=" in s else -1):
        if not d.startswith("f="):
            continue
        part = [p for p in os.listdir(os.path.join(out, d)) if p.endswith(".txt")]
        (name,) = part  # one task per file index, so one part file
        src = os.path.join(out, d, name)
        dst = os.path.join(staging_dir, f"hot-{int(d[2:]):06d}.json")
        os.rename(src, dst)
        with open(dst, "rb") as fh:
            n = sum(1 for _ in fh)
        files.append((dst, n, os.path.getsize(dst)))
    return files


class WideKeyspace:
    """The ``orders``-derived key space and its change generator.

    Key ``i`` is ``o<orderkey>r<replica>`` for ``orderkey = i % n_orders``
    and ``replica = i // n_orders``; keys past the snapshot are inserts.
    Keeps, per key, whether it is live, so updates and deletes target
    live rows, as a source database would emit them. Versions are global
    LSNs; an out-of-order envelope takes the LSN just below a change already
    landed for its key, so it must lose.
    """

    def __init__(self, orders: pa.Table, n_keys: int, seed: int):
        self.rng = np.random.default_rng([seed, 7])
        self.n_orders = orders.num_rows
        self.orderkey = orders["o_orderkey"].to_numpy()
        self.status = orders["o_orderstatus"].to_pandas().map(SNAPSHOT_STATUS).to_numpy()
        self.urgent = orders["o_orderpriority"].to_numpy(zero_copy_only=False) == "1-URGENT"
        self.created_us = orders["o_orderdate"].cast(pa.int64()).to_numpy()
        self.n_snapshot = n_keys
        self.live = np.zeros(n_keys * 2, dtype=bool)
        self.live[:n_keys] = True
        self.n_keys = n_keys
        self.lsn = 2  # the snapshot is version 1
        self.history: list[str] = []  # every envelope landed, for replays
        self.pending_late: list[str] = []

    def key(self, i: int) -> str:
        return f"o{self.orderkey[i % self.n_orders]}r{i // self.n_orders}"

    def snapshot_columns(self) -> dict:
        """The snapshot rows (the source table before any change): one dict
        of equal-length columns, in key order."""
        idx = np.arange(self.n_snapshot)
        o = idx % self.n_orders
        rep = idx // self.n_orders
        return {
            "booking_id": [f"o{k}r{r}" for k, r in zip(self.orderkey[o], rep)],
            "status": self.status[o].tolist(),
            "is_canceled": self.urgent[o].tolist(),
            "created_at_us": (self.created_us[o] + rep * 1_000_000).tolist(),
        }

    def _image(self, i: int, status: str, canceled: bool, ts_us: int) -> dict:
        o = i % self.n_orders
        return {
            "id": int(i),
            "booking_id": self.key(i),
            "status": status,
            "is_deleted": False,
            "is_canceled": bool(canceled),
            "created_at": int(self.created_us[o] + (i // self.n_orders) * 1_000_000),
            "modified_at": int(ts_us),
        }

    def _envelope(self, op: str, i: int, lsn: int) -> dict:
        ts_ms = 1_700_000_000_000 + lsn
        img = self._image(
            i,
            STATUSES[int(self.rng.integers(0, len(STATUSES)))],
            self.rng.random() < 0.1,
            ts_ms * 1000,
        )
        env = {
            "before": img if op == "d" else None,
            "after": None if op == "d" else img,
            "op": op,
            "ts_ms": ts_ms,
            "source": {"sequence": None, "lsn": lsn},
        }
        return env

    def _pick_live(self, n: int) -> np.ndarray:
        out: list[int] = []
        chosen: set[int] = set()
        while len(out) < n:
            for i in self.rng.integers(0, self.n_keys, 2 * n):
                if self.live[i] and int(i) not in chosen:
                    chosen.add(int(i))
                    out.append(int(i))
                    if len(out) == n:
                        break
        return np.asarray(out, dtype=np.int64)

    def step_lines(self, n_changes: int, late_share: float, replay_share: float) -> tuple[list[str], list[int]]:
        """One step's envelope lines (shuffled) and the keys it changed.

        Mix: ``n_changes`` in-order changes (75% updates, 10% deletes, 15%
        inserts), plus ``late_share`` of that many out-of-order updates
        held back from this step and landed with the next one, plus
        ``replay_share`` exact copies of envelopes landed in earlier steps.
        """
        n_del = n_changes // 10
        n_ins = (n_changes * 15) // 100
        n_upd = n_changes - n_del - n_ins
        targets = self._pick_live(n_upd + n_del)
        lines: list[str] = []
        touched: list[int] = []
        late: list[str] = []
        n_late = int(n_changes * late_share)
        for j, i in enumerate(targets):
            op = "u" if j < n_upd else "d"
            # every in-order change takes two versions; the lower one is
            # reserved for an out-of-order copy landed one step later
            lsn = self.lsn + 1
            self.lsn += 2
            lines.append(json.dumps(self._envelope(op, int(i), lsn)))
            if op == "d":
                self.live[i] = False
            touched.append(int(i))
            if j < n_late and op == "u":
                late.append(json.dumps(self._envelope("u", int(i), lsn - 1)))
        if self.n_keys + n_ins > len(self.live):
            self.live = np.concatenate([self.live, np.zeros(len(self.live), dtype=bool)])
        for _ in range(n_ins):
            i = self.n_keys
            self.n_keys += 1
            lsn = self.lsn + 1
            self.lsn += 2
            lines.append(json.dumps(self._envelope("c", i, lsn)))
            self.live[i] = True
            touched.append(i)
        n_replay = int(n_changes * replay_share)
        if self.history and n_replay:
            picks = self.rng.integers(0, len(self.history), n_replay)
            lines.extend(self.history[p] for p in picks)
        lines.extend(self.pending_late)
        self.pending_late = late
        self.history.extend(lines)
        order = self.rng.permutation(len(lines))
        return [lines[k] for k in order], touched

    def write_step(self, staging_dir: str, step: int, lines: list[str]) -> tuple[str, int]:
        path = os.path.join(staging_dir, f"wide-{step:06d}.json")
        data = ("\n".join(lines) + "\n").encode()
        with open(path, "wb") as fh:
            fh.write(data)
        return path, len(data)
