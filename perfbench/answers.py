"""Answer check for one benchmark run, outside every timed region.

Each answer the harness wrote (every query of the last cold and warm
pass) is checked one of two ways:

  - against its `SparkEntry.oracleSql` entry run in DuckDB, compared in
    the canonical form of the repo's `tools/check.py`;
  - where that oracle is too slow at workload size, against an exact
    numpy truth: the exact top-k (cosine, ties by id) is computed once
    per input set and cached next to it. `knn_topk` must be a valid
    exact top-10 and equal `knn_topk_agg` (a pinned equivalence);
    `knn_classify` and `knn_ksweep` are re-derived from it and
    `knn_radius` from all exact pair distances.

The ANN answers also give the recall metrics: the mean overlap of each
ANN query's top-10 with the exact top-10.
"""
import contextlib
import glob
import importlib.util
import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

K = 10
RADIUS_TAU = 0.6
DIST_TOL = 1.5e-6   # answers round distances to 6 decimals
TIE_TOL = 1e-12     # float noise between two exact cosine kernels

ANN_TOPK = ["ann_ivf_topk_indexed", "ann_ivf_topk_upserted",
            "ann_nsw_topk_indexed", "ann_ivfpq_topk"]
# DuckDB oracles per workload: (on every check, added when `full`, as in
# a traced run). The exact-KNN oracles score every pair in DuckDB (4-50 s
# each at workload size), so that workload is checked against the numpy
# truth instead; the ANN top-k oracles take ~2-3 s each, so untraced runs
# check those answers against the numpy truth (exact distances, order,
# recall) and traced runs also against the oracle.
ORACLES = {
    "knn_exact": ([], []),
    "ann_lifecycle": (["ann_index_build", "ann_index_upsert"],
                      ["ann_ivf_topk_indexed", "ann_ivf_topk_upserted",
                       "ann_nsw_topk_indexed", "ann_ivfpq_topk"]),
    "analytics_mix": (["b07_agg_q1", "b03_join_broadcast", "c01_dedup_exact",
                       "c17_shingle_jaccard", "d01_window_tumbling",
                       "g02_pagerank"], []),
}


def _repo_check(root):
    spec = importlib.util.spec_from_file_location(
        "repo_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _read(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no answer parquet in {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def _unit_vectors(data):
    t = pq.read_table(os.path.join(data, "embeddings.parquet")).to_pandas()
    assert (t.vec_id.values == np.arange(len(t))).all(), "vec_id not 0..n-1"
    v = np.stack(t.embedding.values).astype(np.float64)
    return v / np.linalg.norm(v, axis=1, keepdims=True), t.label.values


def exact_topk(data, v):
    """Exact cosine top-(K+1) per query (leave-one-out), cached per
    input set: ids and distances, ordered by (distance, id)."""
    cache = os.path.join(data, "_exact_topk.npz")
    if os.path.exists(cache):
        z = np.load(cache)
        return z["ids"], z["dist"]
    n, kk = len(v), K + 1
    ids = np.empty((n, kk), np.int64)
    dist = np.empty((n, kk))
    for s in range(0, n, 1024):
        d = 1.0 - v[s:s + 1024] @ v.T
        d[np.arange(d.shape[0]), np.arange(s, s + d.shape[0])] = np.inf
        part = np.argpartition(d, kk, axis=1)[:, :kk + 8]
        pd_ = np.take_along_axis(d, part, axis=1)
        order = np.lexsort((part, pd_), axis=1)[:, :kk]
        ids[s:s + 1024] = np.take_along_axis(part, order, axis=1)
        dist[s:s + 1024] = np.take_along_axis(pd_, order, axis=1)
    np.savez(cache, ids=ids, dist=dist)
    return ids, dist


def check_topk(name, df, v, truth_dist, exact):
    """Structure of a top-10 answer (every query, ranks 1..10, distinct
    candidates, reported distances = true cosine distances, ordered).
    With `exact`, also that it is a true top-10 up to float ties."""
    n = len(v)
    df = df.sort_values(["qid", "rnk"])
    if len(df) != n * K or not (df.groupby("qid").size() == K).all():
        return [(name, f"expected {K} rows for each of {n} queries")]
    qid = df.qid.values.reshape(n, K)
    cid = df.cid.values.reshape(n, K)
    errs = []
    if not (qid[:, 0] == np.arange(n)).all():
        errs.append((name, "query ids are not 0..n-1"))
    if not (df.rnk.values.reshape(n, K) == np.arange(1, K + 1)).all():
        errs.append((name, f"ranks are not 1..{K}"))
    s = np.sort(cid, axis=1)
    if (s[:, 1:] == s[:, :-1]).any() or (cid == qid).any():
        errs.append((name, "repeated or self neighbours"))
    d = 1.0 - np.einsum("ij,ij->i", v[qid.ravel()], v[cid.ravel()]).reshape(n, K)
    bad = np.abs(d - df.dist.values.reshape(n, K)) > DIST_TOL
    if bad.any():
        errs.append((name, f"{bad.sum()} distances differ from exact cosine"))
    if (np.diff(d, axis=1) < -TIE_TOL).any():
        errs.append((name, "neighbours not ordered by distance"))
    if exact:
        miss = d[:, K - 1] > truth_dist[:, K - 1] + TIE_TOL
        if miss.any():
            errs.append((name, f"{miss.sum()} queries miss a true top-{K} neighbour"))
    return errs


def recall(df, truth_ids):
    n = len(truth_ids)
    df = df.sort_values(["qid", "rnk"])
    got = df.cid.values.reshape(n, K)
    hits = [len(np.intersect1d(got[i], truth_ids[i, :K])) for i in range(n)]
    return float(np.mean(hits)) / K


def vote(topk, labels, k):
    """Majority label of the first k neighbours; ties to the smallest."""
    t = topk[topk.rnk <= k].assign(clabel=lambda x: labels[x.cid.values])
    n = t.groupby(["qid", "clabel"]).size().rename("n").reset_index()
    n = n.sort_values(["qid", "n", "clabel"], ascending=[True, False, True])
    return n.drop_duplicates("qid")[["qid", "clabel"]].rename(
        columns={"clabel": "pred"}).reset_index(drop=True)


def knn_checks(ans, v, labels, truth_dist, same):
    errs = check_topk("knn_topk", ans["knn_topk"], v, truth_dist, exact=True)
    errs += same("knn_topk_agg", ans["knn_topk_agg"], ans["knn_topk"])
    topk = ans["knn_topk"]
    errs += same("knn_classify", ans["knn_classify"], vote(topk, labels, K))
    sweep = []
    for k in (1, 3, 5, 10):
        p = vote(topk, labels, k)
        acc = round(float((p.pred.values == labels[p.qid.values]).mean()), 6)
        sweep.append({"k": k, "n_queries": len(p), "accuracy": acc})
    errs += same("knn_ksweep", ans["knn_ksweep"], pd.DataFrame(sweep))
    r = ans["knn_radius"]
    want, tie = set(), set()  # pairs inside the radius, and on it
    for s in range(0, len(v), 1024):
        d = 1.0 - v[s:s + 1024] @ v.T
        d[np.arange(d.shape[0]), np.arange(s, s + d.shape[0])] = np.inf
        for pairs, mask in ((want, d < RADIUS_TAU - TIE_TOL),
                            (tie, np.abs(d - RADIUS_TAU) <= TIE_TOL)):
            q, c = np.nonzero(mask)
            pairs.update(zip((q + s).tolist(), c.tolist()))
    got = set(zip(r.qid.tolist(), r.cid.tolist()))
    if len(r) != len(got) or not want <= got <= want | tie:
        errs.append(("knn_radius", f"{len(got ^ want)} pairs differ from exact"))
    else:
        d = 1.0 - np.einsum("ij,ij->i", v[r.qid.values], v[r.cid.values])
        if (np.abs(d - r.dist.values) > DIST_TOL).any():
            errs.append(("knn_radius", "distances differ from exact cosine"))
    return errs


def run(root, workload, data, out, answer_sets, oracles, full):
    """Check every answer; `answer_sets` maps a pass ("cold", "warm") to
    the queries whose answers it wrote. Returns the number of answers
    checked, the failures as (pass, query, message) and the recall
    metrics."""
    repo = _repo_check(root)
    fails, metrics = [], {}

    def same(name, got, want):
        with contextlib.redirect_stdout(sys.stderr):
            ok = repo.compare(name, got, want)
        return [] if ok else [(name, "differs from the expected answer")]

    answers = {}
    for kind, queries in answer_sets.items():
        answers[kind] = {}
        for q in queries:
            try:
                answers[kind][q] = _read(os.path.join(out, "answers", kind, q))
            except FileNotFoundError as e:
                fails.append((kind, q, str(e)))
    n_checks = sum(len(qs) for qs in answer_sets.values())
    if fails:
        return n_checks, fails, metrics

    always, extra = ORACLES[workload]
    use = [q for q in always + (extra if full else []) if q in oracles]
    if use:
        con = duckdb.connect()
        con.execute("SET threads = 4")
        con.execute("SET memory_limit = '2GB'")
        con.execute("SET temp_directory = '%s'" % os.path.join(out, "duck_tmp"))
        for f in glob.glob(os.path.join(data, "*.parquet")):
            t = os.path.basename(f)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
        for q in use:
            want = con.execute(oracles[q]).df()
            for kind, ans in answers.items():
                if q in ans:
                    fails += [(kind, *e) for e in same(q, ans[q], want)]
        con.close()

    if workload in ("knn_exact", "ann_lifecycle"):
        v, labels = _unit_vectors(data)
        truth_ids, truth_dist = exact_topk(data, v)
        for kind, ans in answers.items():
            if workload == "knn_exact":
                errs = knn_checks(ans, v, labels, truth_dist, same)
            else:
                errs = [e for q in ANN_TOPK if q in ans
                        for e in check_topk(q, ans[q], v, truth_dist, False)]
            fails += [(kind, *e) for e in errs]
        if workload == "ann_lifecycle" and not fails:
            last = {q: a for kind in ("cold", "warm")
                    for q, a in answers.get(kind, {}).items()}
            ivf = [recall(last[q], truth_ids) for q in ANN_TOPK
                   if q in last and "nsw" not in q]
            metrics["ann.recall_at_10"] = float(np.mean(ivf))
            if "ann_nsw_topk_indexed" in last:
                metrics["nsw.recall_at_10"] = recall(
                    last["ann_nsw_topk_indexed"], truth_ids)
    return n_checks, fails, metrics
