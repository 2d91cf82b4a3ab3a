#!/usr/bin/env python3
"""Benchmark of the dedup pipeline and the LSH-forest ANN index.

    python3 perfbench/run.py --workload dedup|ann_lsh --seed N --seconds S --trace 0|1

``--trace 0`` sets up, warms up, then measures the workload for S seconds
and prints every end-to-end metric of ``BENCHMARK.json``.  ``--trace 1`` is
a separate run that records spans around calls into each library layer,
writes a Spark event log, and prints every per-layer metric (layers a
workload does not reach read 0).  Either way the last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.  Workload, metric and layer definitions: perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import harness

SETUP_REPS = 3


def load_spec() -> dict:
    with open(os.path.join(harness.REPO_ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def workload_module(name: str):
    if name == "dedup":
        import dedup_workload as wl
    elif name == "ann_lsh":
        import ann_workload as wl
    else:
        raise ValueError(f"unknown workload {name!r}")
    return wl


def untraced(wl, spark, work: str, seed: int, seconds: float,
             session_s: float) -> dict:
    fixture_s = []
    fx = None
    for _ in range(SETUP_REPS):
        if fx is not None and hasattr(fx, "release"):
            fx.release()
        t0 = time.perf_counter()
        fx = wl.Fixture(spark, work, seed)
        fixture_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    failures = wl.warm_up(spark, work, fx)
    warm_s = time.perf_counter() - t0
    steal0, total0 = harness.cpu_ticks()
    res = wl.measure(spark, work, fx, seconds)
    steal1, total1 = harness.cpu_ticks()
    res["failures"] = failures + res["failures"]
    if failures:
        res["failed"] += 1
    res["metrics"]["setup_s"] = session_s + harness.median(fixture_s) + warm_s
    rss = harness.peak_rss_mb()
    res["metrics"]["peak_rss_mb"] = sum(rss.values())
    res["samples"].update(session_s=session_s, fixture_s=fixture_s,
                          warm_up_s=warm_s, rss_mb=rss,
                          steal_share=(steal1 - steal0) / max(total1 - total0, 1))
    return res


def traced(wl, spark, work: str, seed: int):
    from tracing import Tracer

    fx = wl.Fixture(spark, work, seed)
    failures = wl.warm_up(spark, work, fx)
    tracer = Tracer(spark.sparkContext)
    res = wl.trace(spark, work, fx, tracer)
    res["failures"] = failures + res["failures"]
    return res, tracer


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        harness.import_library()
        spec = load_spec()
    except (ImportError, OSError) as e:
        print(f"perfbench: cannot run here: {e}", file=sys.stderr)
        return 2
    wl = workload_module(args.workload)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    with harness.run_dir(args.workload) as work:
        log_dir = os.path.join(work, "eventlog") if args.trace else None
        t0 = time.perf_counter()
        spark = harness.make_session(work, event_log_dir=log_dir)
        session_s = time.perf_counter() - t0
        try:
            if args.trace:
                res, tracer = traced(wl, spark, work, args.seed)
            else:
                res = untraced(wl, spark, work, args.seed, args.seconds,
                               session_s)
        finally:
            harness.stop_session(spark)

        if args.trace:
            from tracing import read_event_log, span_stats

            stats = span_stats(read_event_log(log_dir), tracer.spans)
            values = wl.layer_metrics(res["values"], tracer, stats)
            res.update(attempted=1, failed=int(bool(res["failures"])),
                       metrics=values)
            dump = os.path.join(
                harness.OUT_ROOT,
                f"trace-{args.workload}-seed{args.seed}-{tracer.run_id}.json")
            tracer.dump(dump, {
                "workload": args.workload, "seed": args.seed,
                "span_stats": {k: vars(v) for k, v in stats.items()},
                "metrics": values, "failures": res["failures"]})

    for msg in res["failures"]:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    # a layer the workload never reaches did no work: its per-layer figures
    # read 0; an end-to-end metric is always measured
    got = res["metrics"]
    metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0) if args.trace
                                          else got[m["name"]]),
                           "unit": m["unit"]} for m in wanted}
    if not args.trace:
        print(json.dumps({"samples": res["samples"]}), file=sys.stderr)
    print(json.dumps({"correct": not res["failures"] and res["failed"] == 0,
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
