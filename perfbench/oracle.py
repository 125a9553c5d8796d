"""DuckDB answers for every check the benchmark makes. All of it runs after
the timed loop, so no oracle work lands in a metric."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os

import duckdb
import numpy as np
import pandas as pd

from cdc_postgresql_clickhouse_spark.sources.registry import TABLES

ROW_IMAGE = (
    "STRUCT(id BIGINT, booking_id VARCHAR, status VARCHAR, is_deleted BOOLEAN, "
    "is_canceled BOOLEAN, created_at BIGINT, modified_at BIGINT)"
)


def connect(tmp_dir: str, fixtures_dir: str | None = None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(tmp_dir, 'duckdb')}'")
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=2")
    if fixtures_dir:
        for t in TABLES:
            path = os.path.join(fixtures_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(v):
    if v is None or v is pd.NA or v is pd.NaT:
        return None
    if isinstance(v, bool | np.bool_):
        return bool(v)
    if isinstance(v, float | np.floating):
        # pandas turns an integer column holding NULLs into floats on one
        # side only, so integral floats compare as integers
        f = float(v)
        if math.isnan(f):
            return None
        return int(f) if f.is_integer() else f
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return _canon(float(v))
    if isinstance(v, pd.Timestamp):
        return str(np.datetime64(v.to_datetime64(), "us"))
    if isinstance(v, datetime.datetime | datetime.date | np.datetime64):
        return str(np.datetime64(v, "us"))
    if isinstance(v, list | tuple | np.ndarray):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def digest(rows, columns) -> tuple[int, str]:
    """Row count and an order-insensitive hash of the rows, columns taken
    in name order, values canonicalised (floats exact, NaN as NULL)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256("\n".join(canon).encode()).hexdigest()
    return len(canon), h


def spark_digest(df) -> tuple[int, str]:
    pdf = df.toPandas()
    return digest(pdf.itertuples(index=False, name=None), list(pdf.columns))


def duck_digest(con, sql: str) -> tuple[int, str]:
    pdf = con.execute(sql).df()
    return digest(pdf.itertuples(index=False, name=None), list(pdf.columns))


def wide_state_sql(snapshot_path: str, files: list[str]) -> str:
    """FINAL state after replaying ``files`` over the snapshot: the
    pipeline's transform (image switch, tombstone flag, version = LSN) and
    its total order (version, ts_ms, is_deleted, then the remaining columns
    by name, all descending)."""
    snap = f"""
      SELECT booking_id, status, is_canceled, created_at_us AS created_us,
             created_at_us AS modified_us, 0 AS is_deleted, 1::BIGINT AS version,
             0::BIGINT AS ts_ms
      FROM read_parquet('{snapshot_path}')"""
    union = snap
    if files:
        file_list = ", ".join(f"'{f}'" for f in files)
        union += f"""
      UNION ALL
      SELECT img.booking_id, img.status, img.is_canceled, img.created_at,
             img.modified_at, CAST(op = 'd' AS INTEGER), lsn, ts_ms
      FROM (
        SELECT CASE WHEN op = 'd' THEN "before" ELSE "after" END AS img, op,
               source.lsn AS lsn, ts_ms
        FROM read_json([{file_list}], format='newline_delimited',
          columns={{"before": '{ROW_IMAGE}', "after": '{ROW_IMAGE}', op: 'VARCHAR',
                    ts_ms: 'BIGINT', source: 'STRUCT(sequence VARCHAR, lsn BIGINT)'}})
        WHERE op IN ('c', 'r', 'u', 'd')
      )"""
    return f"""
      SELECT booking_id, status, is_canceled, created_us, modified_us, version
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY booking_id
          ORDER BY version DESC, ts_ms DESC, is_deleted DESC, created_us DESC,
                   is_canceled DESC, modified_us DESC, status DESC) AS rn
        FROM ({union})
      ) WHERE rn = 1 AND is_deleted = 0"""
