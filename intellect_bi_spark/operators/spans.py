"""Duplicated-substring span detection over ``documents`` — 100 TB extension.

The substring-level complement of dedup.py's whole-document family:
find PAIRS of documents sharing long exact token runs, and measure how
long those runs are.  This is the relational restatement of the
suffix-array substring dedup of Lee et al. 2022 ("Deduplicating
Training Data Makes Language Models Better" — public paper): instead of
a monolithic suffix array, every document emits its positioned token
k-gram windows, window-hash equality generates candidate position
pairs, and a gaps-and-islands pass merges consecutive matched positions
into maximal shared runs — a run of ``m`` consecutive matched windows
certifies an exact shared substring of ``m + K - 1`` tokens.

Scale design:

- The window relation is linear in corpus tokens (one row per token
  position), built map-side.
- Candidate pairs come ONLY from window-hash equi-joins, never an
  all-pairs product, and the document-frequency cap (dedup.py's DF_CAP
  discipline) drops boilerplate windows shared by more than
  ``SPAN_DF_CAP`` documents before the join — the hot-key guard that
  keeps the join linear in true-duplicate mass.  Dropped windows are
  exactly the non-discriminative ones (they certify boilerplate, not
  pairwise duplication); the cap is the documented coverage bound.
- The islands window partitions by (doc_a, doc_b) — per-pair state only,
  bounded by document length, never a global sort.

Parity: the window hash is the portable md5-mod hash
(functions/text.py); every downstream value is integer arithmetic, so
the oracle match is exact with no float discipline needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..functions.text import TOKEN_SPLIT, md5_mod_hash_duck, md5_mod_hash_sql

SPAN_K = 8  # window width (tokens); a 1-window island = 8 shared tokens
SPAN_DF_CAP = 64  # windows in more than this many docs are boilerplate
SPAN_TOP = 15  # top pairs reported


def _window_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, wh): every positioned token K-gram window, hashed.

    The scan is repartitioned to full parallelism first: the fixture
    table is one parquet file (1-2 scan partitions), and the per-window
    md5 is this operator's dominant map cost (pipeline._docs_spread
    rationale)."""
    docs = (
        load_tables(spark, sf_dir)["documents"]
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    toks = docs.select(
        "doc_id",
        F.expr(
            f"filter(split(lower(text), '{TOKEN_SPLIT}'), t -> t <> '')"
        ).alias("toks"),
    )
    wh = md5_mod_hash_sql(
        f"concat_ws(' ', slice(toks, pos, {SPAN_K}))"
    )
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "filter(sequence(1, greatest(size(toks), 1)),"
                f" i -> i <= size(toks) - {SPAN_K} + 1)"
            )
        ).alias("pos"),
        "toks",
    ).select("doc_id", "pos", F.expr(wh).alias("wh"))


def dup_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 document pairs by shared positioned K-gram windows, with the
    island structure of the match: n_windows (shared window count),
    n_spans (maximal consecutive runs on the left doc), and
    max_span_tokens (longest certified shared substring, in tokens).
    Ranked by n_windows DESC with (doc_a, doc_b) tie-break.

    Pin lifecycle (cache on reuse): the
    positioned-window relation feeds the DF-cap aggregate AND both
    sides of the pair join — unpinned, each of the three branches
    re-ran the corpus tokenize + k-gram hash pass (8 parquet scans in
    the before-plan).  The window relation is numeric-narrow
    (doc_id, pos, wh), pinned for the query and released once the
    top-15 rows are checkpointed."""
    from ..functions.windows import register_cache, release_after_action

    win = register_cache(_window_rows(spark, sf_dir))
    # DF cap: windows shared by > SPAN_DF_CAP docs are boilerplate — drop
    # them BEFORE pair generation (the dedup.py DF_CAP discipline).
    df_ok = (
        win.groupBy("wh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= SPAN_DF_CAP)
        .select("wh")
    )
    capped = win.join(df_ok, "wh")
    a = capped.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "wh"
    )
    b = capped.select(F.col("doc_id").alias("doc_b"), "wh")
    matched = (
        a.join(b, "wh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pa")
        .distinct()
    )
    w = Window.partitionBy("doc_a", "doc_b").orderBy("pa")
    islands = matched.withColumn(
        "island", F.col("pa") - F.row_number().over(w)
    )
    per_island = islands.groupBy("doc_a", "doc_b", "island").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return release_after_action(
        per_island.groupBy("doc_a", "doc_b")
        .agg(
            F.sum("run_len").alias("n_windows"),
            F.count(F.lit(1)).alias("n_spans"),
            (F.max("run_len") + F.lit(SPAN_K - 1)).alias(
                "max_span_tokens"
            ),
        )
        .orderBy(F.desc("n_windows"), "doc_a", "doc_b")
        .limit(SPAN_TOP),
        win,
    )


QUERIES = {"dup_span_pairs": dup_span_pairs}

_WH_DUCK = md5_mod_hash_duck(
    f"list_aggregate(toks[u.i:u.i + {SPAN_K} - 1], 'string_agg', ' ')"
)

ORACLES = {
    "dup_span_pairs": (
        "WITH tok AS (SELECT doc_id,"
        f" list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT}'),"
        " t -> t <> '') AS toks FROM documents),"
        " win AS (SELECT doc_id, u.i AS pos,"
        f" {_WH_DUCK} AS wh"
        f" FROM tok, unnest(range(1, len(toks) - {SPAN_K} + 2)) AS u(i)),"
        " df_ok AS (SELECT wh FROM (SELECT wh,"
        " COUNT(DISTINCT doc_id) AS df FROM win GROUP BY wh)"
        f" WHERE df <= {SPAN_DF_CAP}),"
        " capped AS (SELECT win.* FROM win JOIN df_ok USING (wh)),"
        " matched AS (SELECT DISTINCT a.doc_id AS doc_a,"
        " b.doc_id AS doc_b, a.pos AS pa"
        " FROM capped a JOIN capped b ON a.wh = b.wh"
        " AND a.doc_id < b.doc_id),"
        " isl AS (SELECT doc_a, doc_b, pa,"
        " pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b"
        " ORDER BY pa) AS island FROM matched),"
        " runs AS (SELECT doc_a, doc_b, island, COUNT(*) AS run_len"
        " FROM isl GROUP BY doc_a, doc_b, island)"
        " SELECT doc_a, doc_b, CAST(SUM(run_len) AS BIGINT) AS n_windows,"
        " COUNT(*) AS n_spans,"
        f" CAST(MAX(run_len) + {SPAN_K - 1} AS BIGINT) AS max_span_tokens"
        " FROM runs GROUP BY doc_a, doc_b"
        f" ORDER BY n_windows DESC, doc_a, doc_b LIMIT {SPAN_TOP}"
    ),
}
