#!/usr/bin/env python
"""Probe: sub-step timing of one warm BM25 upsert leg (segment write /
lexicon merge / stats write / metadata tail), plus the same leg through
_run_staged, to find the per-leg floor.

Usage: python tools/probe_upsert_leg.py [reps]
"""
from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from intellect_bi_spark.session import get_spark  # noqa: E402


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("probe_upsert_leg")
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from intellect_bi_spark.operators import retrieval as R

    docs = R._base_docs(spark, sf_dir)
    batch = docs.filter(R._doc_batch_pred())

    rows = {k: [] for k in (
        "pin_fill", "seg_write", "lex_merge", "stats_write",
        "meta_tail", "leg_total_staged", "publish_detail",
    )}
    for rep in range(reps):
        base = tempfile.mkdtemp(prefix="sgraft_probe_leg_")
        try:
            R._init_bm25_store(docs.filter(~R._doc_batch_pred()), base)
            # --- sequential sub-steps, same work as upsert_bm25_index ---
            toks = R._toks_of(batch).persist(StorageLevel.MEMORY_AND_DISK)
            bp = R._postings_of(toks).persist(StorageLevel.MEMORY_AND_DISK)
            t0 = time.perf_counter()
            bp.count()  # fill both pins
            rows["pin_fill"].append(time.perf_counter() - t0)
            root = f"{base}/postings"
            seg = R._new_seg_id()
            v = R._latest_version(spark, base)
            att = R._new_att()
            t0 = time.perf_counter()
            seg_buckets = R._write_segment(bp, root, seg)
            rows["seg_write"].append(time.perf_counter() - t0)
            batch_df = bp.groupBy("term").agg(F.count(F.lit(1)).alias("bdf"))
            t0 = time.perf_counter()
            old_lex = spark.read.parquet(R._table_dir(spark, base, "lexicon", v))
            (
                old_lex.join(batch_df, "term", "full_outer")
                .select(
                    "term",
                    (F.coalesce("df", F.lit(0)) + F.coalesce("bdf", F.lit(0))).alias("df"),
                )
                .write.mode("overwrite")
                .parquet(R._stage_path(base, "lexicon", v + 1, att))
            )
            rows["lex_merge"].append(time.perf_counter() - t0)
            bs = R._stats2_of(toks)
            t0 = time.perf_counter()
            old_stats = spark.read.parquet(R._table_dir(spark, base, "stats", v))
            (
                old_stats.select(F.col("n_docs").alias("n0"), F.col("sum_len").alias("s0"))
                .crossJoin(F.broadcast(bs.select(F.col("n_docs").alias("n1"), F.col("sum_len").alias("s1"))))
                .select((F.col("n0") + F.col("n1")).alias("n_docs"), (F.col("s0") + F.col("s1")).alias("sum_len"))
                .write.mode("overwrite")
                .parquet(R._stage_path(base, "stats", v + 1, att))
            )
            rows["stats_write"].append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            entries = R._manifest_entries(spark, base, v) + [(seg, b) for b in seg_buckets]
            R._write_manifest(spark, base, v + 1, entries, att)
            R._publish_version(spark, base, v + 1, att)
            rows["meta_tail"].append(time.perf_counter() - t0)
            bp.unpersist()
            toks.unpersist()
        finally:
            shutil.rmtree(base, ignore_errors=True)
        # --- the real leg through _run_staged on a fresh store ---
        base = tempfile.mkdtemp(prefix="sgraft_probe_leg2_")
        try:
            R._init_bm25_store(docs.filter(~R._doc_batch_pred()), base)
            t0 = time.perf_counter()
            R.upsert_bm25_index(spark, base, batch)
            rows["leg_total_staged"].append(time.perf_counter() - t0)
        finally:
            shutil.rmtree(base, ignore_errors=True)
        print(f"rep {rep}: " + ", ".join(
            f"{k}={rows[k][-1]:.3f}" for k in rows if rows[k]), flush=True)
    print("MEDIANS: " + ", ".join(
        f"{k}={statistics.median(v):.3f}" for k, v in rows.items() if v))


if __name__ == "__main__":
    main()
