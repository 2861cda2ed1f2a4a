#!/usr/bin/env python3
"""Replica of the round driver's DuckDB differential compare.

Usage: python3 compare.py <sf_dir> <verify_out_dir> [only_csv]

Registers each <sf_dir>/*.parquet as a DuckDB view, runs every statement
in <verify_out_dir>/oracle_sql.json, and compares against the Spark
result parquet under <verify_out_dir>/<name>/ the way the driver does:
columns sorted by name, row-order-sensitive value hash.
"""
import sys, os, json, glob
import duckdb
import pandas as pd
import hashlib

sf_dir, out_dir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None

con = duckdb.connect()
for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

with open(os.path.join(out_dir, "oracle_sql.json")) as f:
    oracles = json.load(f)

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    out = {}
    for c in df.columns:
        s = df[c]
        # stringify uniformly like the driver: NaN/None -> "", floats via repr
        def cell(v):
            if v is None or (isinstance(v, float) and pd.isna(v)):
                return ""
            # container guard BEFORE pd.isna: parquet list columns come
            # back as np.ndarray, on which pd.isna raises (ambiguous
            # truth value) and would kill the whole run instead of
            # failing one query (oracles are scalar-only by contract —
            # SurfaceContractSpec — but the harness must not crash if not)
            if isinstance(v, (list, tuple, dict)) or hasattr(v, "__len__") and not isinstance(v, (str, bytes)):
                return str(v)
            if pd.isna(v):
                return ""
            # Coerce through float() so np.float32 (pandas reading Spark
            # FloatType parquet) stringifies identically to DuckDB's
            # float64 — np.float32 is not `float`, fell through to str()
            # and could hash-differ on equal values (ADVICE r12).
            import numpy as np
            if isinstance(v, (float, np.floating)):
                return repr(float(v))
            if isinstance(v, bytes):
                return v.hex()
            import datetime
            if isinstance(v, (datetime.date, datetime.datetime, pd.Timestamp)):
                return pd.Timestamp(v).isoformat()
            return str(v)
        out[c] = s.map(cell)
    return pd.DataFrame(out)

def h(df: pd.DataFrame) -> str:
    m = hashlib.sha256()
    for row in norm(df).itertuples(index=False):
        m.update(("\x1f".join(row) + "\x1e").encode())
    return m.hexdigest()

ok, bad = 0, []
for name, sql in sorted(oracles.items()):
    if only and name not in only:
        continue
    spark_path = os.path.join(out_dir, name)
    try:
        sdf = pd.concat(
            [pd.read_parquet(p) for p in sorted(glob.glob(os.path.join(spark_path, "*.parquet")))],
            ignore_index=True) if glob.glob(os.path.join(spark_path, "*.parquet")) else pd.read_parquet(spark_path)
    except Exception as e:
        bad.append((name, f"spark read failed: {e}"))
        continue
    try:
        odf = con.execute(sql).fetchdf()
    except Exception as e:
        bad.append((name, f"oracle failed: {e}"))
        continue
    if len(sdf) != len(odf):
        bad.append((name, f"rows {len(sdf)} vs {len(odf)}"))
        continue
    if sorted(sdf.columns) != sorted(odf.columns):
        bad.append((name, f"schema {sorted(sdf.columns)} vs {sorted(odf.columns)}"))
        continue
    # Float32 harmonization (ADVICE r13): repr() on a bare-widened
    # np.float32 emits the exact double expansion, which only matches when
    # the other side carries the same widened double. When EITHER side is
    # float32, quantize BOTH sides through float32 before hashing so equal
    # logical values compare equal; float64-only columns are untouched (a
    # blanket float32 round-trip would weaken every double comparison).
    import numpy as np
    for c in sdf.columns:
        if sdf[c].dtype == np.float32 or odf[c].dtype == np.float32:
            sdf[c] = sdf[c].astype(np.float32).astype(np.float64)
            odf[c] = odf[c].astype(np.float32).astype(np.float64)
    hs, ho = h(sdf), h(odf)
    if hs != ho:
        bad.append((name, "hash mismatch"))
        continue
    ok += 1

total = ok + len(bad)
print(f"{ok}/{total} match")
for name, why in bad:
    print(f"FAIL {name}: {why}")
# A typo'd --only name would otherwise yield "0/0 match" + exit 0 — a
# misspelled query name must not look like a passing run (ADVICE r12).
if only and total < len(only):
    missing = sorted(only - set(oracles.keys()))
    print(f"FAIL only-filter: {len(only) - total} requested name(s) not in oracle_sql.json: {missing}")
    sys.exit(1)
sys.exit(1 if bad else 0)
