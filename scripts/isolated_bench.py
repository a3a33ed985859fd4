"""Isolated min-of-5 bench: re-measure single queries on their own.

For each query name given on the command line, spawn a FRESH process
(fresh JVM, fresh SparkSession, nothing else timed), run the query
``--reps`` times through the noop sink, and print the raw timing vector
plus the min. Use it to re-check a query that bench.py's
``regressions`` field flags: the first rep pays one-off
codegen/footer/broadcast costs, and the min is the steady-state
per-query cost.

Usage:
    python scripts/isolated_bench.py q1 q2 ...           # min-of-5 each
    SPARK_GRAFT_SF_DIR=... python scripts/isolated_bench.py --reps 5 q1

Prints one JSON line per query: {"query": ..., "timings": [...],
"min": ..., "sf_dir": ...} and a final summary line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, %(here)r)
from severless_data_pipeline_aws_spark import registry
from severless_data_pipeline_aws_spark.session import get_spark

name = %(name)r
sf_dir = %(sf_dir)r
reps = %(reps)d
spark = get_spark(app_name="isolated-bench")
spec = registry.load_all()[name]
timings = []
for _ in range(reps):
    t0 = time.perf_counter()
    spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    timings.append(round(time.perf_counter() - t0, 4))
    spark.catalog.clearCache()
print("ISOLATED_RESULT " + json.dumps({"query": name, "timings": timings,
                                       "min": min(timings)}))
spark.stop()
"""


def main() -> None:
    args = sys.argv[1:]
    reps = 5
    if args and args[0] == "--reps":
        reps = int(args[1])
        args = args[2:]
    if not args:
        raise SystemExit("usage: isolated_bench.py [--reps N] query ...")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    results = {}
    for name in args:
        code = _CHILD % {"here": HERE, "name": name, "sf_dir": sf_dir,
                         "reps": reps}
        run = subprocess.run([sys.executable, "-c", code],
                             capture_output=True, text=True, timeout=1800)
        line = next((ln for ln in run.stdout.splitlines()
                     if ln.startswith("ISOLATED_RESULT ")), None)
        if line is None:
            print(json.dumps({"query": name, "error": run.stderr[-800:]}))
            continue
        doc = json.loads(line[len("ISOLATED_RESULT "):])
        doc["sf_dir"] = sf_dir
        results[name] = doc
        print(json.dumps(doc))
    print(json.dumps({"summary": {n: d["min"] for n, d in results.items()}}))


if __name__ == "__main__":
    main()
