"""Digest of a query result, as the harness computes it from collected
rows: columns sorted by name, each cell rendered by `canon` (a copy of
tools/check_oracle.py's `canon`, which tests/test_canon.py keeps
identical), cells joined by U+001F and rows by newline, SHA-256."""
import datetime
import decimal
import hashlib

import numpy as np
import pandas as pd


def canon(x):
    """Canonical string for one cell — strict enough that two values
    canonicalize equal only if a byte-faithful reader would agree."""
    if x is None:
        return "NULL"
    if isinstance(x, float):
        if x != x:
            return "NaN"
        return repr(x)  # shortest round-trip: equal iff same bits
    if isinstance(x, (np.floating,)):
        return canon(float(x))
    if isinstance(x, (np.integer,)):
        return str(int(x))
    if isinstance(x, decimal.Decimal):
        return "DECIMAL:" + str(x)
    if isinstance(x, pd.Timestamp):
        if pd.isna(x):
            return "NULL"
        return x.isoformat()
    if isinstance(x, (datetime.datetime, datetime.date)):
        return x.isoformat()
    if isinstance(x, (bytes, bytearray)):
        return "0x" + bytes(x).hex()
    if isinstance(x, np.ndarray):
        return "[" + ",".join(canon(v) for v in x.tolist()) + "]"
    if isinstance(x, (list, tuple)):
        return "[" + ",".join(canon(v) for v in x) + "]"
    if isinstance(x, dict):
        return "{" + ",".join(f"{k}:{canon(v)}" for k, v in sorted(x.items())) + "}"
    if x is pd.NaT:
        return "NULL"
    try:
        if pd.isna(x):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(x)


def lines(columns, rows):
    """Rendered rows, columns in name order (as check_oracle compares)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return ["\x1f".join(canon(r[i]) for i in order) for r in rows]


def digest(columns, rows):
    return hashlib.sha256("\n".join(lines(columns, rows)).encode("utf-8")).hexdigest()


def duckdb_result(con, sql):
    """(columns, rows) of an oracle query."""
    res = con.sql(sql)
    return res.columns, res.fetchall()
