#!/usr/bin/env python3
"""Relocation self-test: copies the tree (library, ``bench.py``,
``BENCHMARK.json`` and this directory) to a scratch directory, starts a
Spark session from the copy while the working directory is the original
checkout, and asserts that the driver and a Python worker both import the
library from the copy.

    python3 perfbench/selftest.py        # exit 0 when both import the copy
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import harness

TREE = ("lsh_search_go_spark", "perfbench", "bench.py", "BENCHMARK.json")


def worker_origin(batches):
    """Runs in a Python worker: where it imports the library from."""
    import lsh_search_go_spark
    import pandas as pd

    for _ in batches:
        yield pd.DataFrame({"origin": [lsh_search_go_spark.__file__]})


def probe() -> int:
    """Run inside the copy: report the driver's and the workers' import."""
    lib = harness.import_library()
    with harness.run_dir("selftest") as work:
        spark = harness.make_session(work)
        try:
            rows = (spark.range(0, 8, numPartitions=4)
                    .mapInPandas(worker_origin, "origin string").collect())
        finally:
            harness.stop_session(spark)
    print(json.dumps({"root": harness.REPO_ROOT, "driver": lib.__file__,
                      "workers": sorted({r["origin"] for r in rows})}))
    return 0


def main() -> int:
    scratch = os.path.join(harness.WORK_ROOT, f"selftest-{os.getpid()}")
    copy = os.path.join(scratch, "copy")
    ignore = shutil.ignore_patterns("__pycache__", "*.pyc")
    try:
        for name in TREE:
            src = os.path.join(harness.REPO_ROOT, name)
            dst = os.path.join(copy, name)
            if os.path.isdir(src):
                shutil.copytree(src, dst, ignore=ignore)
            else:
                os.makedirs(copy, exist_ok=True)
                shutil.copy2(src, dst)
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        proc = subprocess.run(
            [sys.executable, os.path.join(copy, "perfbench", "selftest.py"),
             "--probe"],
            cwd=harness.REPO_ROOT, env=env, capture_output=True, text=True,
            timeout=300)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            print("selftest: FAILED (probe exited "
                  f"{proc.returncode})", file=sys.stderr)
            return 1
        report = json.loads(proc.stdout.strip().splitlines()[-1])
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        harness.remove_if_empty(harness.WORK_ROOT)
    want = os.path.join(copy, "lsh_search_go_spark") + os.sep
    bad = [p for p in [report["driver"], *report["workers"]]
           if not p.startswith(want)]
    print(json.dumps(report))
    if report["root"] != copy or not report["workers"] or bad:
        print(f"selftest: FAILED, imported outside the copy: {bad}",
              file=sys.stderr)
        return 1
    print("selftest: ok, driver and workers import the copy")
    return 0


if __name__ == "__main__":
    sys.exit(probe() if "--probe" in sys.argv[1:] else main())
