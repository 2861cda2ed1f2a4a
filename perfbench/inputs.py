"""Seeded input generator for the benchmark.

Writes the ten tables of the project's test data (a TPC-H-like star
schema plus `events`, `documents` and `embeddings`) at scale factor `sf`.
Table content comes from a fixed base seed, so every run does the same
work; the workload seed permutes each table's row order, which every
registered query is invariant to (the permuted-input sweep checks that).

Checked column by column against the test data at sf 0.001, 0.01 and
0.1: eight tables, `events` included (ts as TIMESTAMP(MICROS), as there),
are value for value the same; `documents` and `embeddings` have the same
schema, row count, vocabulary, length range and label set, but other
draws.
"""
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _day(s):
    return np.datetime64(s, "us")


def _dates(rng, n, lo, hi):
    days = (np.datetime64(hi, "D") - np.datetime64(lo, "D")).astype(int)
    return _day(lo) + rng.integers(0, days + 1, n).astype("timedelta64[D]")


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf):
    """Returns {name: pyarrow.Table} for scale factor `sf`."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_vec = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32 = pa.int32()
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32)})
    k = np.arange(n_cust)
    out["customer"] = pa.table({
        "c_custkey": k,
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["BUILDING", "AUTOMOBILE", "MACHINERY",
                                    "HOUSEHOLD", "FURNITURE"], n_cust)})
    k = np.arange(n_supp)
    out["supplier"] = pa.table({
        "s_suppkey": k,
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    k = np.arange(n_part)
    adj = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
    noun = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
    out["part"] = pa.table({
        "p_partkey": k,
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY",
                              "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": 900.0 + (k % 1000) / 10.0})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": _pick(rng, ["R", "A", "N"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": _dates(rng, n_line, "1995-01-02", "2001-11-04")})
    # seconds into a 30-day month, taken to ns and truncated to us
    ns = (np.sort(rng.uniform(0, 30 * 86400, n_ev)) * 1e9).astype(np.int64)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev),
        "ts": _day("2024-01-01") + (ns // 1000).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev),
        "event_type": _pick(rng, ["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)]})
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), w)])
             for w in rng.integers(10, 100, n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] += " dup"
    k = np.arange(n_doc)
    out["documents"] = pa.table({
        "doc_id": k,
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, LANG_P),
        "source": [f"src{i % 20}" for i in k],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = rng.standard_normal((n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec),
        "embedding": pa.FixedSizeListArray.from_arrays(v.ravel(), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32)})
    return out


def digest(t):
    """Order-independent content digest: the sum of per-row hashes."""
    cols = {c: (t.column(c).to_pandas().map(lambda a: np.asarray(a).tobytes())
                if pa.types.is_list(t.schema.field(c).type)
                else t.column(c).to_pandas()) for c in t.column_names}
    rows = pd.util.hash_pandas_object(pd.DataFrame(cols), index=False)
    return hashlib.sha256(
        int(rows.values.astype(np.uint64).sum(dtype=np.uint64)).to_bytes(8, "little")
    ).hexdigest()[:16]


def write(out_dir, sf, seed):
    """Writes every table with a seeded row-order permutation; returns
    {table: {"rows": n, "digest": content digest}}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    info = {}
    for name, t in tables(sf).items():
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        info[name] = {"rows": t.num_rows, "digest": digest(t)}
    return info
