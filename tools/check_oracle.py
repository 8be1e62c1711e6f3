#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

For each query dir under outDir: load the Spark parquet result and the
DuckDB result of oracle_sql.json[name], sort columns by name, sort rows,
compare cell-by-cell (exact for non-floats, tiny epsilon for floats).

Additionally runs a STRICT hash compare that mirrors the driver: the
Spark result is loaded through pandas/pyarrow (not DuckDB), rows are
sorted via pandas sort_values, and every cell is stringified with NO
epsilon and NO type coercion before hashing. This catches the bug
classes the epsilon compare masks: DuckDB HUGEINT sums rendering as
floats ('123.0' vs '123'), and array-typed cells crashing the pandas
sort. A query only counts as PASS if both compares are green.
"""
import sys, os, json, math, datetime
import duckdb
import pandas as pd


def strict_cell(v):
    """Driver-faithful stringification: no epsilon, floats only denoised
    to 9 decimals (int-vs-float repr differences stay visible)."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return repr(round(v, 9))
    # date vs midnight-timestamp render identically in the driver's
    # canonicalizer (r1: q53 due_date DATE vs DuckDB TIMESTAMP passed)
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return pd.Timestamp(v).isoformat()
    return str(v)


def strict_compare(spark_dir, ref_df):
    """Return (ok, msg). Loads Spark result via pyarrow/pandas like the
    driver does, sorts rows with pandas sort_values (crashes on ndarray
    cells exactly like the driver's canonicalizer), compares
    stringified cells."""
    try:
        sdf = pd.read_parquet(spark_dir)
        cols = sorted(sdf.columns)
        if cols != sorted(ref_df.columns):
            return False, f"strict columns {cols} vs {sorted(ref_df.columns)}"
        sdf = sdf[cols].sort_values(by=cols, kind="mergesort").reset_index(drop=True)
        rdf = ref_df[cols].sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    except Exception as e:
        return False, f"strict canonicalize error: {type(e).__name__}: {e}"
    if len(sdf) != len(rdf):
        return False, f"strict rows {len(sdf)} vs {len(rdf)}"
    for i in range(len(sdf)):
        for c in cols:
            a, b = strict_cell(sdf.at[i, c]), strict_cell(rdf.at[i, c])
            if a != b:
                return False, f"strict row {i} col {c}: spark={a!r} oracle={b!r}"
    return True, ""

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def canon(df):
    cols = sorted(df.columns)
    df = df[cols].copy()
    df["__key"] = df.apply(lambda r: str([None if (v is None or (isinstance(v, float) and math.isnan(v))) else (round(v, 6) if isinstance(v, float) else str(v)) for v in r]), axis=1)
    df = df.sort_values(by="__key", kind="mergesort").reset_index(drop=True)
    return df.drop(columns="__key")

def cells_equal(a, b):
    if a is None and b is None:
        return True
    try:
        if isinstance(a, float) or isinstance(b, float):
            if a is None or b is None:
                return (a is None) and (b is None)
            if math.isnan(a) and math.isnan(b):
                return True
            return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    except TypeError:
        pass
    if isinstance(a, (list, tuple)) or str(type(a)).find("ndarray") >= 0:
        la, lb = list(a), list(b)
        return len(la) == len(lb) and all(cells_equal(x, y) for x, y in zip(la, lb))
    return a == b or str(a) == str(b)

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    n_pass = n_fail = 0
    # a query that THREW in Verify writes no result dir but still has an
    # oracle entry — count it as a failure, not a silent shrink of the
    # total (this hid a broken q125 behind "134 pass, 0 fail")
    for name in sorted(set(oracles) - set(names)):
        print(f"FAIL {name}: no result written (query threw in Verify "
              f"— grep the Verify log for '[verify] {name} failed')")
        n_fail += 1
    for name in names:
        # every registered query carries its oracle, so a result dir
        # without one is a stale or renamed query: it cannot be checked
        if name not in oracles:
            print(f"FAIL {name}: no oracle entry")
            n_fail += 1
            continue
        spark_df = con.sql(
            f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        # an error-marker frame (Verify's failure sentinel) fails with the
        # query's own error message, not as a column mismatch
        if "__graft_error" in spark_df.columns:
            msg = spark_df["__graft_error"].iloc[0] if len(spark_df) else "?"
            print(f"FAIL {name}: query threw in Verify: {msg}")
            n_fail += 1
            continue
        try:
            ref_df = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        a, b = canon(spark_df), canon(ref_df)
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
            n_fail += 1
            continue
        if len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
            n_fail += 1
            continue
        bad = None
        for i in range(len(a)):
            for c in a.columns:
                va, vb = a.at[i, c], b.at[i, c]
                va = None if (va is None or (isinstance(va, float) and math.isnan(va))) else va
                vb = None if (vb is None or (isinstance(vb, float) and math.isnan(vb))) else vb
                if not cells_equal(va, vb):
                    bad = (i, c, va, vb)
                    break
            if bad:
                break
        if bad:
            print(f"FAIL {name}: row {bad[0]} col {bad[1]}: spark={bad[2]!r} oracle={bad[3]!r}")
            n_fail += 1
            continue
        ok, msg = strict_compare(os.path.join(out_dir, name), ref_df)
        if not ok:
            print(f"FAIL {name}: {msg}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(a)} rows)")
            n_pass += 1
    total = len(names) + len(set(oracles) - set(names))
    print(f"\n{n_pass} pass, {n_fail} fail, {total} total")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
