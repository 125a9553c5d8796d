"""Seeded fixture tables in the layout of the repo's parquet fixtures.

The benchmark may read nothing outside its own checkout, so it cannot use a
shared fixture directory: it writes the tables its query sample reads, one
parquet file each, with the same column names, physical types (naive
microsecond timestamps, int32/int64 keys, ``list<float>`` embeddings) and
value distributions as the fixtures the queries were written against. Row
counts scale with ``sf`` exactly as those fixtures do (sf0.1: 100k events,
600k lineitem rows, 2k embeddings); ``orders`` feeds the wide CDC key space.

Same seed, same bytes: each table draws from its own ``numpy`` generator,
seeded with the run's seed and the table's position in ``TABLES``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the tables ``workloads.QUERY_SAMPLE`` reads; add one when a sampled row needs it
TABLES = ("events", "lineitem", "embeddings")

EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    idx = rng.choice(len(values), size=n)
    return pa.array(np.asarray(values, dtype=object)[idx], type=pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def events_table(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """``events``: ids in time order over January 2024, uniform users and
    types, exponential values (mean 50), ``props`` a one-key JSON object."""
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _US_PER_DAY, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], type=pa.string()
            ),
        }
    )


def orders_table(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    days = rng.integers(0, 2404, n)  # 1995-01-01 .. 2001-08-01
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ("O", "F", "P"), n),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
            "o_orderdate": _ts(_EPOCH_1995 + days * _US_PER_DAY),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    )


def _lineitem(rng, n, n_orders, n_part, n_supp) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n),
            "l_linestatus": _pick(rng, ("O", "F"), n),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n) * _US_PER_DAY),
        }
    )


def _embeddings(rng, n, dim=64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


def write_fixtures(out_dir: str, seed: int, sf: float) -> None:
    """Write ``<out_dir>/<table>.parquet`` for each table in ``TABLES``."""
    os.makedirs(out_dir, exist_ok=True)
    # key ranges of the tables the sample does not read, as in the fixtures
    n_supp, n_part = (max(10, int(x * sf)) for x in (10_000, 200_000))
    n_orders = max(100, int(1_500_000 * sf))
    builders = {
        "events": lambda rng: events_table(rng, int(1_000_000 * sf), max(10, int(15_000 * sf))),
        "lineitem": lambda rng: _lineitem(rng, int(6_000_000 * sf), n_orders, n_part, n_supp),
        "embeddings": lambda rng: _embeddings(rng, max(20, int(20_000 * sf))),
    }
    for name in TABLES:
        table = builders[name](np.random.default_rng([seed, TABLES.index(name)]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
