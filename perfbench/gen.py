"""Seeded input generator for the benchmark.

Writes fixture-shaped parquet tables (one file per table, one row group,
the column names and types of the repo's test fixtures; see FIXTURES.md)
into a directory. Every value comes from numpy's PCG64 seeded with
`seed`, so the same seed gives byte-identical inputs.

Shapes kept from the fixtures:
  - embeddings: contiguous vec_id 0..n-1, unit-norm float32 64-d vectors,
    10 labels; isotropic by default (~1.6% perturbed copies of an earlier
    vector) or a 64-cluster Gaussian mixture (sigma 0.5);
  - documents: 31-word vocabulary, 10-100 words, exact and near
    duplicates of earlier documents;
  - TPC-H-ish star schema and the events stream at a multiple of sf0.1.

Usage: python3 gen.py <out_dir> <seed> <tables|embeddings> <scale>
                      [isotropic|clustered]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DIM = 64
DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000
EPOCH_2024_US = 1_704_067_200 * 1_000_000

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]


def _pick(rng, values, n):
    """n uniform draws from `values` as an arrow string array."""
    return pc.take(pa.array(values), pa.array(rng.integers(0, len(values), n)))


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(out, name, cols):
    table = pa.table(cols)
    tmp = os.path.join(out, f".{name}.parquet.tmp")
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, os.path.join(out, f"{name}.parquet"))


def _unit(v):
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _emb_column(vecs):
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, DIM, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def isotropic(rng, n):
    g = rng.standard_normal((n, DIM))
    dup = np.flatnonzero(rng.integers(0, 60, n) == 0)
    dup = dup[dup > 0]
    src = np.maximum(0, dup - 1 - rng.integers(0, 50, dup.size))
    g[dup] = g[src] + 0.05 * rng.standard_normal((dup.size, DIM))
    return _unit(g), rng.integers(0, 10, n).astype(np.int32)


def clustered(rng, n, clusters=64, sigma=0.5):
    centers = rng.standard_normal((clusters, DIM))
    cl = rng.integers(0, clusters, n)
    v = centers[cl] + sigma * rng.standard_normal((n, DIM))
    return _unit(v), (cl % 10).astype(np.int32)


def write_embeddings(out, rng, n, mode):
    vecs, labels = (clustered if mode == "clustered" else isotropic)(rng, n)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": _emb_column(vecs),
        "label": pa.array(labels)})


def write_documents(out, rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(VOCAB[w] for w in words[bounds[i]:bounds[i + 1]])
             for i in range(n)]
    kind = rng.random(n)
    back = rng.integers(1, 101, n)
    for i in range(1, n):
        if kind[i] < 0.0016:
            texts[i] = texts[max(0, i - back[i])]
        elif kind[i] < 0.0046:
            texts[i] = texts[max(0, i - back[i])] + " spark"
    u = rng.random(n)
    lang = np.select([u < 0.41, u < 0.56, u < 0.71, u < 0.86],
                     ["en", "zh", "es", "fr"], "de")
    ids = np.arange(n, dtype=np.int64)
    _write(out, "documents", {
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(lang.tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64))})


def write_tables(out, rng, scale):
    n_supp, n_cust, n_part = (int(x * scale) for x in (1000, 15000, 20000))
    n_ord, n_events = int(150000 * scale), int(100000 * scale)
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"])})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    def money(lo, span, n):
        return np.round(lo + rng.random(n) * span, 2)

    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(-1000.0, 11000.0, n_supp))})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(-1000.0, 11000.0, n_cust)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    adj = ["large", "hot", "small", "cold", "dark", "light", "round", "flat"]
    noun = ["ring", "bolt", "gear", "pin", "wheel", "plate", "valve", "shaft"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pc.binary_join_element_wise(
            _pick(rng, adj, n_part), _pick(rng, noun, n_part), " "),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(
            900.0 + np.arange(n_part) / 10.0, 2))})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(money(1000.0, 499000.0, n_ord)),
        "o_orderdate": _ts(EPOCH_1995_US
                           + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    # 0-7 lines per order (2% of orders have none), rows shuffled
    n_lines = np.where(rng.integers(0, 50, n_ord) == 0, 0,
                       rng.integers(1, 8, n_ord))
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), n_lines)
    start = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    lnum = (np.arange(okey.size) - start + 1).astype(np.int32)
    perm = rng.permutation(okey.size)
    okey, lnum, n_li = okey[perm], lnum[perm], okey.size
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(money(900.0, 104100.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(EPOCH_1995_US
                          + rng.integers(0, 2500, n_li) * DAY_US)})
    ids = np.arange(n_events, dtype=np.int64)
    _write(out, "events", {
        "event_id": pa.array(ids),
        "ts": _ts(EPOCH_2024_US + (ids * 26 + rng.integers(0, 26, n_events))
                  * 1_000_000 + rng.integers(0, 1_000_000, n_events)),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_events)),
        "event_type": _pick(rng, ["click", "purchase", "error", "signup",
                                  "view"], n_events),
        "value": pa.array(np.round(-50.0 * np.log1p(-rng.random(n_events)),
                                   2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_events)])})
    write_documents(out, rng, int(5000 * scale))


def generate(out, seed, kind, scale, mode="isotropic"):
    """Write one input set: `kind` is "embeddings" (scale = vector count)
    or "tables" (every other fixture table, scale = multiple of sf0.1)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    if kind == "embeddings":
        write_embeddings(out, rng, int(scale), mode)
    else:
        write_tables(out, rng, float(scale))


if __name__ == "__main__":
    a = sys.argv[1:]
    generate(a[0], int(a[1]), a[2], float(a[3]), *(a[4:5] or ["isotropic"]))
