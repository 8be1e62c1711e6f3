"""Result fingerprints for the output check.

A query result is reduced to its sorted column names, its row count and
a SHA-256 over its cells, using the strict comparison rules of the
repository's DuckDB-oracle checker: columns sorted by name, rows sorted
with pandas `sort_values`, every cell stringified with no epsilon
(floats rounded to 9 decimals, dates and timestamps as ISO strings,
NULL and NaN as "NULL"). Two results with equal fingerprints pass that
checker's strict compare, which is the stricter of its two compares.
"""
import datetime
import hashlib
import json
import math

import pandas as pd


def strict_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return pd.Timestamp(v).isoformat()
    return str(v)


def fingerprint(df):
    """Fingerprint of a pandas frame; raises if its rows cannot be sorted."""
    cols = sorted(df.columns)
    df = df[cols].sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    h = hashlib.sha256()
    for i in range(len(df)):
        h.update(json.dumps([strict_cell(df.at[i, c]) for c in cols]).encode())
        h.update(b"\n")
    return {"columns": cols, "rows": len(df), "sha256": h.hexdigest()}


def parquet_fingerprint(path):
    return fingerprint(pd.read_parquet(path))
