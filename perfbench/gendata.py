"""Deterministic input tables for the benchmark.

Writes the engine's ten input tables (the TPC-H-ish star schema, the
`events` stream and the `documents`/`embeddings` corpus) as one parquet
file each. The draws, their order and the value lists are those of the
repository's reference test data (seed 42): at sf 0.1 every column of
every table equals, value for value and row for row, the sf0.1 tables
that the engine's Verify/Bench runs read (600,000 lineitem rows,
100,000 events, 5,000 documents of which 250 are near-duplicates, 2,000
vectors). `python3 perfbench/gendata.py --compare <sfDir>` checks that
claim against a copy of those tables.

The tables are a fixed base: they depend only on `sf` and DATA_SEED, so
every run of every workload reads the same corpus, and the workload
seed chooses only what is done with it (query order, delta batches,
forget sets, probes, eval subsets).
"""
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VERSION = "2"

WORDS = ("the a spark query table join group filter window data order "
         "customer part line fast slow big small hash sort merge scan agg "
         "stream batch vector key value row column").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _ts(rng, start, end, n):
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    texts = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS),
                                                     int(rng.integers(10, 100))))
             for _ in range(n)]
    # 5% near-duplicates: a copy of another doc (possibly itself a copy)
    # with one marker word appended
    dups = rng.choice(n, n // 20, replace=False)
    for i, j in zip(dups, rng.integers(0, n, len(dups))):
        texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n, dim=64, labels=10):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    label = rng.integers(0, labels, n)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def tables(sf):
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = int(50_000 * sf), int(20_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["BUILDING", "AUTOMOBILE", "MACHINERY",
                                    "HOUSEHOLD", "FURNITURE"], n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
    noun = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod",
            "ring"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE",
                              "ECONOMY", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": _money(rng, 0, 0.1, n_li),
        "l_tax": _money(rng, 0, 0.08, n_li),
        "l_returnflag": rng.choice(["R", "A", "N"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts(rng, "1995-01-02", "2001-11-04", n_li)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    ns = (rng.uniform(0, 30 * 86400, n_ev) * 1e9).astype("int64")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array((t0 + np.sort(ns) // 1000).astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev), i64),
        "event_type": rng.choice(["click", "view", "purchase", "signup",
                                  "error"], n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vecs)
    return out


def ensure(data_dir, sf):
    """Write the tables under `data_dir`, replacing whatever it holds,
    unless a complete set of this generator version is already there;
    returns `data_dir`."""
    stamp = os.path.join(data_dir, f"_done_v{VERSION}_sf{sf}")
    if os.path.exists(stamp):
        return data_dir
    shutil.rmtree(data_dir, ignore_errors=True)
    os.makedirs(data_dir)
    for name, t in tables(sf).items():
        pq.write_table(t, os.path.join(data_dir, f"{name}.parquet"))
    open(stamp, "w").close()
    return data_dir


def compare(ref_dir, sf):
    """Prints, per table, the columns whose values differ from the same
    table under `ref_dir`; returns the number of differing columns."""
    bad = 0
    for name, t in tables(sf).items():
        ref = pq.read_table(os.path.join(ref_dir, f"{name}.parquet"))
        diff = [c for c in ref.column_names
                if c not in t.column_names
                or not t.column(c).equals(ref.column(c))]
        if t.column_names != ref.column_names or t.num_rows != ref.num_rows:
            diff.append("(schema or row count)")
        print(f"{name:11s} {t.num_rows:8d} rows  "
              + ("equal" if not diff else "differ: " + ", ".join(diff)))
        bad += len(diff)
    return bad


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "--compare":
        sys.exit("usage: gendata.py --compare <dir holding sf0.1 tables>")
    sys.exit(1 if compare(sys.argv[2], 0.1) else 0)
