"""The dedup workload: ``DedupPipeline.run`` on a seeded synthetic code
corpus, checked against an exact oracle that shares no code with the
library.

Oracle: documents are normalised and split into token 3-shingles in plain
Python (the semantics of ``functions/shingles.py:tokens_expr`` at the
workload's ``DedupConfig``), and every pair of documents that shares a
shingle gets its exact set Jaccard from a numpy inverted index.  Pairs at or
above the threshold are the pairs the pipeline must find.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import time
from dataclasses import replace

import numpy as np

from harness import dir_mb, median

N_FILES = 1500
BIG_CLUSTER = 120          # one near-duplicate cluster of 120 members:
                           # ~7k verified pairs in one component, so the
                           # bucket join, verify and connected components do
                           # real work beside signatures and substring
RECALL_FLOOR = 0.99

_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_COMMENT = re.compile(r"#[^\n]*")
_WS_CHARS = " \t\n\x0b\f\r"


def dedup_config():
    from lsh_search_go_spark.config import DedupConfig

    return DedupConfig(strip_comments=True)


def tokens(content: str, cfg) -> list[str]:
    s = content
    if cfg.strip_comments:
        s = _COMMENT.sub(" ", s)
    if cfg.lowercase:
        s = s.lower()
    s = s.strip(_WS_CHARS)
    return _WS.split(s) if s else []


def normalized(content: str, cfg) -> str:
    return " ".join(tokens(content, cfg))


def oracle_pairs(contents: list[str], cfg) -> set[tuple[int, int]]:
    """Exact Jaccard >= threshold over token-shingle sets, as (i, j), i < j."""
    k = cfg.shingle_k
    intern: dict[tuple, int] = {}
    doc_idx, sh_idx, sizes = [], [], np.zeros(len(contents), np.int64)
    for i, c in enumerate(contents):
        toks = tokens(c, cfg)
        sh = {intern.setdefault(tuple(toks[p:p + k]), len(intern))
              for p in range(len(toks) - k + 1)}
        sizes[i] = len(sh)
        doc_idx.extend([i] * len(sh))
        sh_idx.extend(sh)
    doc_idx = np.asarray(doc_idx, np.int64)
    sh_idx = np.asarray(sh_idx, np.int64)
    order = np.lexsort((doc_idx, sh_idx))
    doc_idx, sh_idx = doc_idx[order], sh_idx[order]
    bounds = np.flatnonzero(np.diff(sh_idx)) + 1
    starts = np.concatenate([[0], bounds])
    ends = np.concatenate([bounds, [len(sh_idx)]])
    n = len(contents)
    keys = []
    tri: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for s, e in zip(starts[ends - starts > 1], ends[ends - starts > 1]):
        m = e - s
        if m not in tri:
            tri[m] = np.triu_indices(m, 1)
        a, b = tri[m]
        members = doc_idx[s:e]                 # sorted ascending
        keys.append(members[a] * n + members[b])
    if not keys:
        return set()
    pair_keys, inter = np.unique(np.concatenate(keys), return_counts=True)
    i, j = pair_keys // n, pair_keys % n
    uni = sizes[i] + sizes[j] - inter
    keep = (uni > 0) & (inter >= cfg.jaccard_threshold * uni)
    return set(zip(i[keep].tolist(), j[keep].tolist()))


def components(ids, edges) -> dict[str, str]:
    """Union-find: id -> smallest id of its connected component."""
    parent = {x: x for x in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in ids}


class Fixture:
    """The seeded corpus (as parquet), its oracle and its lookup tables."""

    def __init__(self, spark, work: str, seed: int):
        from lsh_search_go_spark import synth

        self.cfg = dedup_config()
        corpus = synth.generate(n_files=N_FILES, seed=seed,
                                big_cluster_size=BIG_CLUSTER)
        self.path = os.path.join(work, "corpus.parquet")
        if os.path.exists(self.path):
            os.remove(self.path)
        synth.to_parquet(corpus, self.path)
        self.source = spark.read.parquet(self.path)
        self.n_files = self.source.count()
        self.ids = [synth.doc_id_of(r["repo"], r["path"], r["commit"])
                    for r in corpus.rows]
        self.content = dict(zip(self.ids, (r["content"] for r in corpus.rows)))
        self.oracle = {
            (min(self.ids[i], self.ids[j]), max(self.ids[i], self.ids[j]))
            for i, j in oracle_pairs([r["content"] for r in corpus.rows],
                                     self.cfg)}


def check_outputs(fx: Fixture, tables: dict[str, str]) -> tuple[dict, list[str]]:
    """Reads a run's pairs, clusters and substring tables back and checks
    them against the oracle.  Returns (figures, failures)."""
    import pyarrow.parquet as pq

    failures = []
    pt = pq.read_table(tables["pairs"], columns=["src_id", "dst_id"])
    pairs = set(zip(pt.column("src_id").to_pylist(),
                    pt.column("dst_id").to_pylist()))
    found = len(pairs & fx.oracle)
    recall = found / len(fx.oracle) if fx.oracle else 1.0
    precision = found / len(pairs) if pairs else 1.0
    if recall < RECALL_FLOOR:
        failures.append(f"dup_pair_recall {recall:.4f} < {RECALL_FLOOR}")
    if pt.num_rows != len(pairs):
        failures.append("pairs table holds duplicate rows")

    ct = pq.read_table(tables["clusters"], columns=["doc_id", "cluster_id"])
    got = dict(zip(ct.column("doc_id").to_pylist(),
                   ct.column("cluster_id").to_pylist()))
    if ct.num_rows != len(got) or set(got) != set(fx.ids):
        failures.append("clusters do not hold each document exactly once")
    else:
        want = components(fx.ids, pairs)
        # same partition: both sides label a component by its smallest id
        rep: dict[str, str] = {}
        for d, c in got.items():
            rep[c] = min(rep.get(c, d), d)
        if any(rep[got[d]] != want[d] for d in fx.ids):
            failures.append("clusters differ from the connected components "
                            "of the run's pairs")

    if "substring" in tables:
        st = pq.read_table(tables["substring"], columns=["inner_id", "outer_id"])
        for a, b in zip(st.column("inner_id").to_pylist(),
                        st.column("outer_id").to_pylist()):
            na, nb = (normalized(fx.content[x], fx.cfg) for x in (a, b))
            if not (len(na) < len(nb) and na in nb):
                failures.append(f"substring pair {a[:8]}/{b[:8]} is not a "
                                "strict containment")
                break
    return {"recall": recall, "precision": precision,
            "pairs": len(pairs)}, failures


class DedupRunner:
    def __init__(self, spark, work: str):
        self.spark = spark
        self.work = work

    def fresh_workdir(self) -> str:
        return tempfile.mkdtemp(prefix="pipeline-", dir=self.work)

    def run(self, fx: Fixture, workdir: str | None = None):
        """One pipeline run into a fresh workdir (or into ``workdir`` —
        a completed one makes this a resume).  Returns (seconds, result)."""
        from lsh_search_go_spark.pipeline import DedupPipeline

        workdir = workdir or self.fresh_workdir()
        t0 = time.perf_counter()
        res = DedupPipeline(self.spark, fx.cfg, workdir, impl="pandas").run(
            fx.source, with_substring=True)
        return time.perf_counter() - t0, res

    def clear(self, workdir: str | None = None) -> None:
        """Nothing a run cached or wrote may serve the next run."""
        self.spark.catalog.clearCache()
        if workdir:
            shutil.rmtree(workdir, ignore_errors=True)


def warm_up(spark, work: str, fx: Fixture) -> list[str]:
    r = DedupRunner(spark, work)
    _, res = r.run(fx)
    _, failures = check_outputs(fx, res.tables)
    r.clear(os.path.dirname(res.workdir))
    return failures


def measure(spark, work: str, fx: Fixture, seconds: float) -> dict:
    """Closed loop, one client: pipeline runs back to back until ``seconds``
    have passed (at least one)."""
    r = DedupRunner(spark, work)
    times, recalls, precisions, failures = [], [], [], []
    attempted = failed = 0
    t_start = time.perf_counter()
    while not times or time.perf_counter() - t_start < seconds:
        attempted += 1
        workdir = r.fresh_workdir()
        t0 = time.perf_counter()
        try:
            dt, res = r.run(fx, workdir)
            fig, bad = check_outputs(fx, res.tables)
        except Exception as e:            # a failed run still counts
            dt, fig, bad = time.perf_counter() - t0, None, [repr(e)]
        r.clear(workdir)
        times.append(dt)
        if bad:
            failed += 1
            failures.extend(bad)
        else:
            recalls.append(fig["recall"])
            precisions.append(fig["precision"])
    run_p50 = median(times)
    return {
        "attempted": attempted, "failed": failed, "failures": failures,
        "metrics": {
            "build_s": run_p50,
            "op_p50_s": run_p50,
            "items_per_s": fx.n_files * len(times) / sum(times),
            "recall": min(recalls) if recalls else 0.0,
            "precision": min(precisions) if precisions else 0.0,
        },
        "samples": {"op_s": times},
    }


def trace(spark, work: str, fx: Fixture, tracer) -> dict:
    """Traced run: one traced full pipeline run, one untraced full run for
    the overhead ratio, a resume on the completed workdir, then the run
    decomposed into its layers.  Each step materialises its output
    (persist + count) before its span closes and the next step reads that
    cache."""
    from pyspark.sql import functions as F

    from lsh_search_go_spark.functions.signatures import with_signatures_fused
    from lsh_search_go_spark.metrics import partition_lineage
    from lsh_search_go_spark.operators.bands import candidate_pairs, explode_bands
    from lsh_search_go_spark.operators.cc import assign_clusters
    from lsh_search_go_spark.operators.substring import substring_pairs
    from lsh_search_go_spark.operators.verify import jaccard_verify
    from lsh_search_go_spark.sources.io import read_table, write_table

    cfg = fx.cfg
    r = DedupRunner(spark, work)
    failures: list[str] = []
    out: dict = {}

    traced_dir = r.fresh_workdir()
    with tracer.span("pipeline.run"):
        traced_s, res = r.run(fx, traced_dir)
    failures += check_outputs(fx, res.tables)[1]
    spark.catalog.clearCache()
    untraced_s, res2 = r.run(fx)
    failures += check_outputs(fx, res2.tables)[1]
    r.clear(os.path.dirname(res2.workdir))
    with tracer.span("io.resume"):
        r.run(fx, traced_dir)
    r.clear(traced_dir)
    out["trace.untraced_s"] = untraced_s
    out["trace.overhead"] = traced_s / untraced_s

    steps = ("signatures", "bands", "verify", "cc", "substring",
             "io.write", "io.read", "lineage")
    # the pipeline hash-partitions its input before the signature pass; the
    # decomposition gives the signature kernel the same layout
    src = fx.source.repartition(spark.sparkContext.defaultParallelism,
                                cfg.id_col).persist()
    src.count()
    with tracer.span("signatures"):
        sig = (with_signatures_fused(src, cfg, rebalance=False)
               .withColumn("doc_key", F.xxhash64(cfg.id_col)).persist())
        n_docs = sig.count()
    with tracer.span("bands"):
        buckets = explode_bands(sig.filter(F.size("shingles") > 0),
                                "doc_key", "bands")
        cands = candidate_pairs(buckets, "doc_key", cfg.max_bucket_size).persist()
        n_cands = cands.count()
    with tracer.span("verify"):
        pairs = jaccard_verify(cands, sig, cfg.jaccard_threshold, "doc_key",
                               "shingles").select("src_id", "dst_id").persist()
        n_pairs = pairs.count()
    with tracer.span("cc"):
        clusters = assign_clusters(sig.select("doc_key"), pairs, "doc_key",
                                   docs_unique=True).persist()
        clusters.count()
    with tracer.span("substring"):
        sub = substring_pairs(sig, replace(cfg, id_col="doc_key")).persist()
        n_sub = sub.count()
    table = os.path.join(work, "io-signatures")
    with tracer.span("io.write"):
        write_table(sig.drop("doc_key"), table)
    with tracer.span("io.read"):
        back = read_table(spark, table).persist()
        back.count()
    with tracer.span("lineage"):
        partition_lineage(back, "signatures").collect()

    # the decomposed layers must agree with the oracle on their own
    key_to_id = {row[0]: row[1] for row in
                 sig.select("doc_key", cfg.id_col).collect()}
    got = {tuple(sorted((key_to_id[a], key_to_id[b])))
           for a, b in pairs.collect()}
    step_recall = len(got & fx.oracle) / len(fx.oracle) if fx.oracle else 1.0
    if step_recall < RECALL_FLOOR:
        failures.append(f"decomposed verify recall {step_recall:.4f}")
    n_clusters = clusters.select("cluster_id").distinct().count()
    out.update({
        "signatures.n": n_docs, "bands.candidates": n_cands,
        "verify.pairs": n_pairs, "verify.yield": n_pairs / max(n_cands, 1),
        "cc.edges": n_pairs, "cc.clusters": n_clusters,
        "substring.pairs": n_sub,
        "io.write_mb": dir_mb(table),
        "trace.step_sum_s": sum(tracer.seconds(s) for s in steps),
    })
    for df in (src, sig, cands, pairs, clusters, sub, back):
        df.unpersist()
    return {"values": out, "failures": failures}


def layer_metrics(values: dict, tracer, stats) -> dict:
    """Per-layer metric values from the span times, the event-log task
    metrics and the counts the traced run recorded."""
    sig_s = tracer.seconds("signatures")
    return {
        "signatures.busy_s": sig_s,
        "signatures.task_skew": stats["signatures"].task_skew,
        "signatures.gc_s": stats["signatures"].gc_s,
        "signatures.docs_per_s": values["signatures.n"] / sig_s,
        "bands.busy_s": tracer.seconds("bands"),
        "bands.candidates": values["bands.candidates"],
        "bands.shuffle_write_mb": stats["bands"].shuffle_write_mb,
        "bands.spill_mb": stats["bands"].spill_mb,
        "bands.task_skew": stats["bands"].task_skew,
        "verify.busy_s": tracer.seconds("verify"),
        "verify.pairs": values["verify.pairs"],
        "verify.yield": values["verify.yield"],
        "cc.busy_s": tracer.seconds("cc"),
        "cc.jobs": stats["cc"].jobs,
        "cc.edges": values["cc.edges"],
        "cc.clusters": values["cc.clusters"],
        "substring.busy_s": tracer.seconds("substring"),
        "substring.pairs": values["substring.pairs"],
        "substring.shuffle_write_mb": stats["substring"].shuffle_write_mb,
        "substring.task_skew": stats["substring"].task_skew,
        "io.write_s": tracer.seconds("io.write"),
        "io.write_mb": values["io.write_mb"],
        "io.read_s": tracer.seconds("io.read"),
        "io.resume_s": tracer.seconds("io.resume"),
        "lineage.busy_s": tracer.seconds("lineage"),
        "pipeline.jobs": stats["pipeline.run"].jobs,
        "pipeline.tasks": stats["pipeline.run"].tasks,
        "pipeline.shuffle_write_mb": stats["pipeline.run"].shuffle_write_mb,
        "trace.overhead": values["trace.overhead"],
        "trace.step_sum_s": values["trace.step_sum_s"],
        "trace.untraced_s": values["trace.untraced_s"],
    }
