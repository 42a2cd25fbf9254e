#!/usr/bin/env python
"""Probe: phase decomposition of one stream-upsert chain (staging / stream
with per-batch addBatch / serve) — run for bm25, ann, sketch, or phrase.

Usage: python tools/probe_chain_phases.py [bm25|ann|sketch|phrase] [reps]
"""
from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from intellect_bi_spark.session import get_spark  # noqa: E402


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "bm25"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("probe_chain_phases")
    from pyspark.sql import functions as F

    from intellect_bi_spark.operators import retrieval, sketches, vectorstore
    from intellect_bi_spark.store import (
        N_FEED_FILES,
        _apply_stream_batch,
        _latest_version,
    )

    N = N_FEED_FILES

    if which == "bm25":
        wiring = retrieval._bm25_stream

        def serve(tmp):
            store = f"{tmp}/store"
            v = _latest_version(spark, store)
            (
                retrieval.serve_bm25_v2_at(spark, store, v)
                .withColumn(
                    "n_docs_indexed",
                    F.lit(retrieval._n_docs(spark, store, v)),
                )
                .localCheckpoint(eager=True)
            )
    elif which == "sketch":
        wiring = sketches._sketch_stream

        def serve(tmp):
            sketches.serve_sketch_rollup_from_store(
                spark, f"{tmp}/store"
            ).collect()
    elif which == "ann":
        wiring = vectorstore._ann_stream

        def serve(tmp):
            store = f"{tmp}/store"
            c, cb, codes = vectorstore.read_index_versioned(spark, store)
            nv = codes.select("vec_id").distinct().agg(
                F.count(F.lit(1)).alias("n")
            )
            (
                vectorstore.topk_from_index(
                    c, cb, codes, vectorstore._emb(spark, sf_dir)
                )
                .crossJoin(F.broadcast(nv))
                .localCheckpoint(eager=True)
            )
    elif which == "phrase":
        wiring = retrieval._pos_stream

        def serve(tmp):
            retrieval._pos_probes_from_store(
                spark, f"{tmp}/store"
            ).collect()
    else:
        raise SystemExit(f"unsupported: {which}")

    phases_all = []
    for rep in range(reps):
        tmp = tempfile.mkdtemp(prefix=f"sgraft_probe_{which}_")
        try:
            ph = {}
            t0 = time.perf_counter()
            df, init, upsert = wiring(spark, sf_dir)
            df.repartition(N).write.parquet(f"{tmp}/feed")
            ph["stage_feed"] = round(time.perf_counter() - t0, 3)
            store = f"{tmp}/store"

            def sink(bdf, bid):
                _apply_stream_batch(store, bdf, bid, init, upsert)

            t0 = time.perf_counter()
            q = (
                spark.readStream.schema(df.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{tmp}/feed")
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
            ph["stream"] = round(time.perf_counter() - t0, 3)
            ph["addBatch"] = [
                json.loads(p.json).get("durationMs", {}).get("addBatch")
                for p in q.recentProgress
            ]
            t0 = time.perf_counter()
            serve(tmp)
            ph["serve"] = round(time.perf_counter() - t0, 3)
            spark.streams.resetTerminated()
            phases_all.append(ph)
            print(f"rep {rep}: {ph}", flush=True)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    for k in ("stage_feed", "stream", "serve"):
        print(k, "median",
              round(statistics.median(p[k] for p in phases_all), 3))


if __name__ == "__main__":
    main()
