#!/usr/bin/env python
"""Same-session per-query timing harness for optimization A/Bs.

Times the named registry queries exactly the way bench.py does (collect()
as the action, full cache reset between reps — windows + dedup +
clustering + graph, the r15 discipline), printing per-query medians over
REPS steady reps after discarding WARM warmup reps.  Optional session
confs can be set before timing (runtime-mutable only) via --conf k=v.

Beside the total, each rep reports per query the plan-construction time
(the registry call, before the action), the collect time, and the
generated classes compiled and an estimate of their Janino milliseconds
(Spark's ``CodegenMetrics``), so one A/B shows both the planning and the codegen
lever; the BUILD_MS and COMPILES lines give their medians.

Usage:
  python tools/time_queries.py [--reps 7] [--warm 2] [--conf k=v ...] q1 q2 ...
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from intellect_bi_spark.registry import QUERIES  # noqa: E402
from intellect_bi_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--warm", type=int, default=2)
    ap.add_argument("--conf", action="append", default=[])
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("time_queries")
    for kv in args.conf:
        k, v = kv.split("=", 1)
        spark.conf.set(k, v)

    from intellect_bi_spark.functions import windows
    from intellect_bi_spark.operators import clustering, dedup, graph

    def _reset() -> None:
        dedup.reset_caches()
        windows.reset_caches()
        clustering.reset_caches()
        graph.reset_caches()

    names = args.queries
    for n in names:
        if n not in QUERIES:
            raise SystemExit(f"unknown query: {n}")

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compile_time = metrics.METRIC_COMPILATION_TIME()

    def compiled() -> tuple[int, float]:
        """(classes compiled, Janino ms) since the JVM started. The ms are
        count × the histogram's mean, and that mean is decay-weighted, so
        a difference of two readings is an estimate."""
        n = compile_time.getCount()
        return n, compile_time.getSnapshot().getMean() * n

    all_reps: list[dict[str, dict[str, float]]] = []
    for rep in range(args.reps):
        _reset()
        t: dict[str, dict[str, float]] = {}
        for n in names:
            spark.sparkContext.setJobDescription(f"time_queries:{n}")
            c0, ms0 = compiled()
            t0 = time.perf_counter()
            df = QUERIES[n](spark, sf_dir)
            t1 = time.perf_counter()
            df.collect()
            t2 = time.perf_counter()
            c1, ms1 = compiled()
            t[n] = {
                "s": round(t2 - t0, 4),
                "build_ms": round((t1 - t0) * 1000, 1),
                "collect_s": round(t2 - t1, 4),
                "compiles": c1 - c0,
                "compile_ms": round(ms1 - ms0, 1),
            }
            spark.sparkContext.setJobDescription(None)
        all_reps.append(t)
        spark.streams.resetTerminated()
        print(f"rep {rep}: " + json.dumps(t), flush=True)
    steady = all_reps[min(args.warm, len(all_reps) - 1):]

    def medians(key: str) -> dict[str, float]:
        return {
            n: round(statistics.median(r[n][key] for r in steady), 4)
            for n in names
        }

    print("MEDIANS " + json.dumps(medians("s")))
    print("BUILD_MS " + json.dumps(medians("build_ms")))
    print("COMPILES " + json.dumps(medians("compiles")))


if __name__ == "__main__":
    main()
