"""Order-insensitive digests of query results: the engine's result parquet
that the benchmark writes, or the DuckDB oracle's answer over the same
tables. Both are loaded and canonicalised as tools/check_oracle.py does
(columns sorted by name, timestamps without zone, rows sorted by every
column); each value is then hashed in a form that is equal exactly when
check_oracle.values_equal holds: nulls and NaN alike, an integral float
equal to its int, other floats bit-exact, a date equal to its midnight."""
import datetime
import decimal
import hashlib
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pyarrow.dataset as pads

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
from check_oracle import TABLES, canon  # noqa: E402


def _value(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_value(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _value(x) for k, x in v.items()}
    if isinstance(v, np.generic):
        v = v.item()
    if pd.isna(v):  # None, NaN, NaT and NA
        return None
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return int(v) if v.is_integer() else repr(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime.combine(v, datetime.time()).isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def engine_result(path):
    """A stage's result as the benchmark wrote it: one parquet directory."""
    return pads.dataset(path).to_table().to_pandas()


def oracle_result(data_dir, sql):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    return con.execute(sql).df()


def digest(df):
    df = canon(df)
    h = hashlib.sha256(json.dumps(list(df.columns)).encode())
    for row in zip(*(df[c].tolist() for c in df.columns)):
        h.update(json.dumps([_value(v) for v in row]).encode() + b"\n")
    return {"rows": len(df), "columns": list(df.columns), "hash": h.hexdigest()}
