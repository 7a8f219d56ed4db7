"""Output checks: order-insensitive value hashes of query results.

A result and its DuckDB oracle are compared through the same canonical
form: columns sorted by name, floats rounded to 9 places, integral
floats folded to ints (pandas turns nullable ints into floats), dates
and timestamps as ISO strings, rows sorted. Oracle hashes depend only on
the base dataset, so they are computed once per dataset and cached
beside it.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os

import numpy as np
import pandas as pd

from data import TABLE_NAMES


def _norm(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return None
        return int(v) if v.is_integer() else round(v, 9)
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (dt.date, pd.Timestamp, np.datetime64)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    return v


def value_hash(pdf: pd.DataFrame) -> tuple[int, str]:
    """(row count, hash) of a result frame, independent of row order."""
    cols = sorted(pdf.columns)
    rows = [tuple(_norm(x) for x in r) for r in pdf[cols].itertuples(index=False, name=None)]
    rows.sort(key=repr)
    return len(rows), hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


class OracleCache:
    """DuckDB oracle hashes for the registry's queries over one dataset."""

    def __init__(self, data_dir: str):
        self.data_dir = data_dir
        self.path = os.path.join(data_dir, "oracle_hashes.json")
        self._hashes = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self._hashes = json.load(f)

    def get(self, name: str, sql: str) -> tuple[int, str]:
        key = f"{name}:{hashlib.sha1(sql.encode()).hexdigest()[:12]}"
        if key not in self._hashes:
            import duckdb

            con = duckdb.connect()
            try:
                con.execute("SET TimeZone='UTC'")
                for t in TABLE_NAMES:
                    path = os.path.join(self.data_dir, f"{t}.parquet")
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
                self._hashes[key] = list(value_hash(con.execute(sql).fetchdf()))
            finally:
                con.close()
            tmp = f"{self.path}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(self._hashes, f)
            os.replace(tmp, self.path)
        n, h = self._hashes[key]
        return n, h
