"""The ANN workload: the LSH forest (``operators.ann``) on a seeded
SIFT-shaped 20k x 128 L2 fixture, built and then searched in 100-query
calls, checked against the fixture's exact top-10.

The fixture comes from ``bench._make_annbench_shaped``: class centres,
prototypes and per-prototype variants, with the exact top-10 of every test
query computed in numpy.  Precision and recall use the distance-based
rule at epsilon 0.05: a returned neighbour is a hit when it is in the
query's exact top-10 and its distance is within (1 + epsilon) of the exact
distance at the same rank.  They are computed here in numpy, over every
query of a call (a query with no result scores 0).
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext

import numpy as np

from harness import median

FIXTURE = dict(n_proto=2_000, per_proto=10, n_test=1_000, dims=128,
               sig_a=35.0, sig_b=13.0)
N_TREES, K_MIN_VECS = 10, 30
MAX_DIST, MAX_CANDIDATES, K = 300.0, 10_000, 10
BATCH = 100                     # queries per search call
EPS = 0.05
# measured over 10 seeds: per-run recall 0.976-0.983; the floor leaves room
# for seed-to-seed spread, not for a broken forest or verify
RECALL_FLOOR = 0.95
IVF_LISTS, IVF_SAMPLE, IVF_NPROBE = 256, 20_000, 8
IVF_RECALL_FLOOR = 0.95


def ann_config():
    from lsh_search_go_spark.config import AnnConfig

    n = FIXTURE["n_proto"] * FIXTURE["per_proto"]
    return AnnConfig(n_trees=N_TREES, k_min_vecs=K_MIN_VECS,
                     dims=FIXTURE["dims"], is_angular=False, sample_size=n)


class Fixture:
    def __init__(self, spark, work: str, seed: int):
        import bench
        import pandas as pd
        from pyspark.sql import functions as F

        d = os.path.join(work, "annfix")
        shutil.rmtree(d, ignore_errors=True)
        bench._make_annbench_shaped(d, seed=seed, **FIXTURE)
        self.train = (spark.read.parquet(f"{d}/train.parquet")
                      .withColumnRenamed("vec_id", "id").cache())
        self.n_train = self.train.count()
        self.queries = (spark.read.parquet(f"{d}/test.parquet")
                        .select(F.col("vec_id").alias("query_id"), "vec")
                        .cache())
        self.n_queries = self.queries.count()
        gt = pd.read_parquet(f"{d}/ground_truth.parquet").sort_values(
            ["query_id", "rank"])
        self.gt_ids = gt["neighbor_id"].to_numpy().reshape(-1, K)
        self.gt_dist = gt["dist"].to_numpy().reshape(-1, K)
        self.batches = [
            self.queries.filter((F.col("query_id") >= lo)
                                & (F.col("query_id") < lo + BATCH))
            for lo in range(0, self.n_queries, BATCH)]

    def release(self) -> None:
        self.train.unpersist()
        self.queries.unpersist()


def score(fx: Fixture, rows, qids) -> tuple[float, float, list[str]]:
    """(precision, recall, failures) of one call's result rows."""
    failures = []
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    prec, rec = [], []
    for q in qids:
        res = sorted(by_q.get(q, []), key=lambda r: r["rank"])
        ranks = [r["rank"] for r in res]
        dists = [r["dist"] for r in res]
        if ranks != list(range(1, len(res) + 1)) or len(res) > K:
            failures.append(f"query {q}: ranks {ranks}")
        if any(b < a - 1e-9 for a, b in zip(dists, dists[1:])) \
                or any(d > MAX_DIST for d in dists):
            failures.append(f"query {q}: distances out of order or range")
        gt_set = set(fx.gt_ids[q].tolist())
        hits = sum(1 for r in res if r["neighbor_id"] in gt_set
                   and r["dist"] <= (1 + EPS) * fx.gt_dist[q, r["rank"] - 1])
        prec.append(hits / len(res) if res else 0.0)
        rec.append(hits / K)
    return float(np.mean(prec)), float(np.mean(rec)), failures[:3]


class Index:
    """One LSH-forest index build: collect, fit, bucket build."""

    def __init__(self, spark, fx: Fixture, tracer=None):
        from lsh_search_go_spark.operators import ann

        span = tracer.span if tracer else (lambda _name: nullcontext())
        with span("ann.collect"):
            self.ids, self.X = ann.collect_id_vec_matrix(fx.train, "id", "vec")
        with span("ann.fit"):
            self.model = ann.fit(self.X, ann_config())
        with span("ann.bucket_build"):
            self.buckets = ann.build_buckets_driver(
                spark, self.ids, self.X, self.model, "id", "bigint").persist()
            self.n_rows = self.buckets.count()

    def fingerprint(self) -> str:
        from lsh_search_go_spark.operators import ann

        return ann.model_fingerprint(self.model)

    def check(self, fx: Fixture) -> list[str]:
        want = fx.n_train * N_TREES
        return [] if self.n_rows == want else [
            f"bucket relation holds {self.n_rows} rows, want {want}"]

    def search(self, fx: Fixture, qb):
        from lsh_search_go_spark.operators import ann

        return ann.search(qb, self.buckets, fx.train, self.model, k=K,
                          max_dist=MAX_DIST, metric="l2",
                          dist_impl="matmul_grouped",
                          max_candidates=MAX_CANDIDATES).collect()


def _batch_ids(fx: Fixture, i: int) -> list[int]:
    lo = (i % len(fx.batches)) * BATCH
    return list(range(lo, min(lo + BATCH, fx.n_queries)))


def warm_up(spark, work: str, fx: Fixture) -> list[str]:
    idx = Index(spark, fx)
    failures = idx.check(fx)
    failures += score(fx, idx.search(fx, fx.batches[-1]), _batch_ids(fx, -1))[2]
    idx.buckets.unpersist()
    return failures


def measure(spark, work: str, fx: Fixture, seconds: float) -> dict:
    """Closed loop, one client.  Index builds back to back for the first 30%
    of ``seconds`` (at least one), then 100-query search calls against the
    last index, each on the next batch of test queries, until ``seconds``
    have passed (at least one)."""
    builds, calls, hits_p, hits_r, failures = [], [], [], [], []
    attempted = failed = 0
    fingerprints = set()
    idx = None
    t_start = time.perf_counter()
    while not builds or time.perf_counter() - t_start < 0.3 * seconds:
        if idx is not None:
            idx.buckets.unpersist()
        attempted += 1
        t0 = time.perf_counter()
        try:
            idx = Index(spark, fx)
            builds.append(time.perf_counter() - t0)
            bad = idx.check(fx)
            fingerprints.add(idx.fingerprint())
        except Exception as e:
            builds.append(time.perf_counter() - t0)
            idx, bad = None, [repr(e)]
        if bad:
            failed += 1
            failures.extend(bad)
    if len(fingerprints) > 1:
        failed += 1
        failures.append("repeated builds produced different forests")
    n_q = 0
    while idx is not None and (not calls
                               or time.perf_counter() - t_start < seconds):
        attempted += 1
        i = len(calls)
        t0 = time.perf_counter()
        try:
            rows = idx.search(fx, fx.batches[i % len(fx.batches)])
            dt = time.perf_counter() - t0
            p, r, bad = score(fx, rows, _batch_ids(fx, i))
        except Exception as e:
            dt, p, r, bad = time.perf_counter() - t0, 0.0, 0.0, [repr(e)]
        calls.append(dt)
        n_q += len(_batch_ids(fx, i))
        hits_p.append(p)
        hits_r.append(r)
        if bad:
            failed += 1
            failures.extend(bad)
    if idx is not None:
        idx.buckets.unpersist()
    recall = float(np.mean(hits_r)) if hits_r else 0.0
    if recall < RECALL_FLOOR:
        failed += 1
        failures.append(f"knn_recall {recall:.4f} < {RECALL_FLOOR}")
    return {
        "attempted": attempted, "failed": failed, "failures": failures,
        "metrics": {
            "build_s": median(builds),
            "op_p50_s": median(calls) if calls else 0.0,
            "items_per_s": n_q / sum(calls) if calls else 0.0,
            "recall": recall,
            "precision": float(np.mean(hits_p)) if hits_p else 0.0,
        },
        "samples": {"build_s": builds, "op_s": calls},
    }


def trace(spark, work: str, fx: Fixture, tracer) -> dict:
    """Traced run: the index build split into collect / fit / bucket build,
    three searches split into candidate generation and verify (each
    materialised before its span closes), one traced and one untraced full
    search call for the overhead ratio, and the IVF index (``operators.ivf``)
    built and searched on the same fixture."""
    from pyspark.sql import functions as F

    from lsh_search_go_spark.operators import ann, ivf

    failures: list[str] = []
    out: dict = {}
    idx = Index(spark, fx, tracer)
    failures += idx.check(fx)
    out["ann.collect_mb"] = (idx.X.nbytes + idx.ids.nbytes) / 1e6
    out["ann.buckets"] = idx.buckets.select("tree_id", "hash").distinct().count()

    cands_n, verified_n = [], []
    for i in range(3):
        q = fx.batches[i].select("query_id", F.col("vec").alias("__qvec"))
        with tracer.span("ann.probe"):
            cands = ann.candidate_pairs(q, idx.buckets, idx.model, id_col="id",
                                        max_candidates=MAX_CANDIDATES).persist()
            cands_n.append(cands.count())
        with tracer.span("ann.verify"):
            res = ann.verify_topk(q, cands, fx.train, K, MAX_DIST, "l2",
                                  id_col="id", vec_col="vec",
                                  dist_impl="matmul_grouped").persist()
            rows = res.collect()
        verified_n.append(len(rows))
        failures += score(fx, rows, _batch_ids(fx, i))[2]
        cands.unpersist()
        res.unpersist()
    n_q = 3 * BATCH
    out["ann.candidates_per_query"] = sum(cands_n) / n_q
    out["ann.dist_eval_ratio"] = sum(cands_n) / (fx.n_train * n_q)
    out["ann.verify_yield"] = sum(verified_n) / max(sum(cands_n), 1)

    with tracer.span("ann.search"):
        t0 = time.perf_counter()
        rows = idx.search(fx, fx.batches[3])
        traced_s = time.perf_counter() - t0
    failures += score(fx, rows, _batch_ids(fx, 3))[2]
    t0 = time.perf_counter()
    rows = idx.search(fx, fx.batches[4])
    untraced_s = time.perf_counter() - t0
    failures += score(fx, rows, _batch_ids(fx, 4))[2]
    out["trace.untraced_s"] = untraced_s
    out["trace.overhead"] = traced_s / untraced_s
    # one search call decomposed, beside one untraced call
    out["trace.step_sum_s"] = (tracer.seconds("ann.probe")
                               + tracer.seconds("ann.verify")) / 3
    idx.buckets.unpersist()

    with tracer.span("ivf.fit"):
        C = ivf.fit_centroids(idx.X[:IVF_SAMPLE], IVF_LISTS, "l2")
    with tracer.span("ivf.assign"):
        inv = ivf.assign(fx.train, C, "l2").persist()
        inv.count()
    sizes = np.zeros(len(C), np.int64)
    for row in inv.groupBy("centroid_id").count().collect():
        sizes[row[0]] = row[1]
    Q = batch_matrix(fx, 5)
    with tracer.span("ivf.probe"):
        probes = ivf.probe_centroids_np(Q, C, IVF_NPROBE, "l2")
    out["ivf.candidates_per_query"] = float(sizes[probes].sum(1).mean())

    def ivf_search(i):
        return ivf.search(fx.batches[i], inv, fx.train, C, k=K,
                          max_dist=MAX_DIST, metric="l2", nprobe=IVF_NPROBE,
                          dist_impl="matmul").collect()

    ivf_search(6)                                   # untimed warm-up
    with tracer.span("ivf.search"):
        rows = ivf_search(5)
    _, r, bad = score(fx, rows, _batch_ids(fx, 5))
    failures += bad
    if r < IVF_RECALL_FLOOR:
        failures.append(f"ivf recall {r:.4f} < {IVF_RECALL_FLOOR}")
    inv.unpersist()
    return {"values": out, "failures": failures}


def batch_matrix(fx: Fixture, i: int) -> np.ndarray:
    """The query vectors of batch ``i`` as a (queries, dims) matrix."""
    rows = fx.batches[i].orderBy("query_id").collect()
    return np.array([np.asarray(r["vec"], dtype=np.float64) for r in rows])


def layer_metrics(values: dict, tracer, stats) -> dict:
    n_probe = max(sum(1 for s in tracer.spans if s.name == "ann.probe"), 1)
    return {
        "ann.collect_s": tracer.seconds("ann.collect"),
        "ann.collect_mb": values["ann.collect_mb"],
        "ann.fit_s": tracer.seconds("ann.fit"),
        "ann.bucket_build_s": tracer.seconds("ann.bucket_build"),
        "ann.buckets": values["ann.buckets"],
        "ann.probe_s": tracer.seconds("ann.probe") / n_probe,
        "ann.candidates_per_query": values["ann.candidates_per_query"],
        "ann.dist_eval_ratio": values["ann.dist_eval_ratio"],
        "ann.verify_s": tracer.seconds("ann.verify") / n_probe,
        "ann.verify_yield": values["ann.verify_yield"],
        "ann.search_jobs": stats["ann.search"].jobs,
        "ivf.fit_s": tracer.seconds("ivf.fit"),
        "ivf.assign_s": tracer.seconds("ivf.assign"),
        "ivf.probe_s": tracer.seconds("ivf.probe"),
        "ivf.candidates_per_query": values["ivf.candidates_per_query"],
        "ivf.search_s": tracer.seconds("ivf.search"),
        "trace.overhead": values["trace.overhead"],
        "trace.step_sum_s": values["trace.step_sum_s"],
        "trace.untraced_s": values["trace.untraced_s"],
    }
