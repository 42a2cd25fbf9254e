"""Driver-visible certification of the XML and JSONL sources/sinks.

The interchange sources (sources/xmldocs.py, sources/jsonl.py) each get
an oracle-shaped driver row: each writes a fixture table out through the
real sink, PLANTS a known number of malformed records into the landing
directory, reads the directory back through the permissive-quarantine
scan, and returns a one-row checksum binding ids to content hashes. The
DuckDB oracle computes the same checksum from the ORIGINAL parquet table
(it never sees the interchange bytes) plus the planted corrupt count — so
a green row proves, end to end: sink serialization, distributed scan,
try_cast coercion, micro-exact timestamp round-trip, and that EXACTLY the
planted garbage quarantined while zero real rows did.

Scale notes: both paths follow the engine's ingest rules — explicit
schema (no inference pass), permissive mode with a corrupt-record column
(count, don't die on line 3 billion), casts folded into the scan
projection. The checksum aggregate is a single map-side-combined pass;
the read-back frame is one row, localCheckpointed so the temp landing
dir can be deleted before returning (same pattern as
streamops.events_stream_store).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..functions.text import P, md5_mod_hash_duck, md5_mod_hash_sql
from ..sources.jsonl import events_from_jsonl
from ..sources.xmldocs import docs_from_xml, write_xml

# Known-bad records planted into each landing directory: the quarantine
# count the oracle asserts. Three, not one — proves counting, not just
# detection.
N_PLANTED_CORRUPT = 3

_DOC_BIND = "concat(text, '|', lang, '|', source)"
_DOC_BIND_DUCK = "(text || '|' || lang || '|' || source)"
_EV_BIND = "concat(event_type, '|', props)"
_EV_BIND_DUCK = "(event_type || '|' || props)"


def xml_roundtrip_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → native XML sink → planted malformed shard → permissive
    XML scan → one-row id-weighted checksum vs the original table."""
    docs = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", "text", "lang", "source"
    )
    with tempfile.TemporaryDirectory(
        prefix="sgraft_xml_rt_", ignore_cleanup_errors=True
    ) as tmp:
        path = os.path.join(tmp, "docs_xml")
        write_xml(docs, path, row_tag="doc")
        # a malformed shard: each <doc> element carries an undefined
        # entity reference — a real feed-drop failure mode that breaks
        # each record INDEPENDENTLY (one quarantined row per element,
        # never a cascading parse abort). Written AFTER the sink so the
        # scan must quarantine per-record, not skip the file.
        with open(os.path.join(path, "part-zz-corrupt.xml"), "w") as fh:
            fh.write("<docs>\n")
            for i in range(N_PLANTED_CORRUPT):
                fh.write(
                    f"<doc><doc_id>{i}</doc_id>"
                    f"<text>a &nope{i}; b</text></doc>\n"
                )
            fh.write("</docs>\n")
        back = docs_from_xml(spark, path)
        # ONE aggregate pass, clean rows selected per-column with CASE —
        # a corrupt-only aggregate is disallowed by Spark
        # (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and one pass beats a
        # clean/corrupt split + join anyway
        ok = "NOT is_corrupt"
        chk = back.agg(
            F.sum(F.col("is_corrupt").cast("long")).alias("n_corrupt"),
            F.expr(f"SUM(CASE WHEN {ok} THEN 1 ELSE 0 END)").alias("n_docs"),
            F.expr(f"SUM(CASE WHEN {ok} THEN doc_id END)").alias("sum_id"),
            F.expr(
                f"SUM(CASE WHEN {ok} THEN CAST(length(text) AS BIGINT) END)"
            ).alias("sum_chars"),
            F.expr(
                f"SUM(CASE WHEN {ok} THEN"
                f" ((doc_id % {P}) * {md5_mod_hash_sql(_DOC_BIND)}) % {P}"
                " END)"
            ).alias("content_binding"),
        )
        # one row; checkpoint so the landing dir can be deleted eagerly
        return chk.localCheckpoint(eager=True)


def jsonl_roundtrip_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → JSONL sink (timestamps stringified to keep micros — the
    JSON writer's default timestamp format is millisecond-lossy) →
    planted garbage lines → permissive JSONL scan with try_cast coercion
    → one-row checksum binding ids to epoch-micros, value cents and
    type/props hashes."""
    ev = load_tables(spark, sf_dir)["events"]
    out = ev.select(
        F.col("event_id").cast("string").alias("event_id"),
        # CAST(ts AS STRING) preserves full microsecond precision
        F.col("ts").cast("string").alias("ts"),
        F.col("user_id").cast("string").alias("user_id"),
        "event_type",
        F.col("value").cast("string").alias("value"),
        "props",
    )
    with tempfile.TemporaryDirectory(
        prefix="sgraft_jsonl_rt_", ignore_cleanup_errors=True
    ) as tmp:
        path = os.path.join(tmp, "events_jsonl")
        out.write.mode("overwrite").json(path)
        with open(os.path.join(path, "part-zz-corrupt.json"), "w") as fh:
            for i in range(N_PLANTED_CORRUPT):
                fh.write(f'{{"event_id": {i}, "ts": broken!!\n')
        back = events_from_jsonl(spark, path)
        ok = "NOT is_corrupt"
        chk = back.agg(
            F.sum(F.col("is_corrupt").cast("long")).alias("n_corrupt"),
            F.expr(f"SUM(CASE WHEN {ok} THEN 1 ELSE 0 END)").alias(
                "n_events"
            ),
            F.expr(f"SUM(CASE WHEN {ok} THEN event_id END)").alias("sum_id"),
            F.expr(f"SUM(CASE WHEN {ok} THEN user_id END)").alias("sum_user"),
            F.expr(
                f"SUM(CASE WHEN {ok} THEN ((event_id % {P}) *"
                f" (unix_micros(CAST(ts AS TIMESTAMP)) % {P})) % {P} END)"
            ).alias("ts_binding"),
            F.expr(
                f"SUM(CASE WHEN {ok} THEN"
                " CAST(ROUND(value * 100) AS BIGINT) END)"
            ).alias("value_cents"),
            F.expr(
                f"SUM(CASE WHEN {ok} THEN"
                f" ((event_id % {P}) * {md5_mod_hash_sql(_EV_BIND)}) % {P}"
                " END)"
            ).alias("content_binding"),
        )
        return chk.localCheckpoint(eager=True)


def orc_roundtrip_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → ORC sink → ORC scan → one-row id-weighted checksum vs
    the original table. No planted corruption here: ORC is a striped
    binary columnar format, so a malformed record is not a row-level
    concept the reader quarantines (unlike line/element-oriented
    JSONL/XML) — the certification is lossless type-preserving
    serialization of the full column set."""
    from ..sources.sinks import read_orc, write_orc

    docs = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", "text", "lang", "source"
    )
    with tempfile.TemporaryDirectory(
        prefix="sgraft_orc_rt_", ignore_cleanup_errors=True
    ) as tmp:
        path = os.path.join(tmp, "docs_orc")
        write_orc(docs, path)
        back = read_orc(spark, path)
        chk = back.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("sum_id"),
            F.sum(F.length("text").cast("long")).alias("sum_chars"),
            F.sum(
                F.expr(
                    f"((doc_id % {P}) * {md5_mod_hash_sql(_DOC_BIND)}) % {P}"
                )
            ).alias("content_binding"),
        )
        return chk.localCheckpoint(eager=True)


_SE_ABSENT = "<absent>"  # sentinel for the pre-evolution rows' new column


def schema_evolution_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-EVOLUTION certification: two parquet batches land in
    one directory with different schemas — v1 (doc_id, text, lang) for
    even ids, then v2 adds the ``source`` column for odd ids — and the
    scan reads them back with ``mergeSchema``, the production answer to
    a feed that grew a column mid-stream. v1 rows must surface the new
    column as NULL; the one-row checksum binds every id to its
    text/lang/source content with the NULL sentinel, so a dropped
    column, mis-merged schema, or wrong NULL backfill flips the row.
    The oracle restates the slice rule from the ORIGINAL table — it
    never sees the landing files."""
    docs = load_tables(spark, sf_dir)["documents"]
    with tempfile.TemporaryDirectory(
        prefix="sgraft_schevo_", ignore_cleanup_errors=True
    ) as tmp:
        path = os.path.join(tmp, "docs_evolving")
        docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "text", "lang"
        ).write.mode("append").parquet(path)
        docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "text", "lang", "source"
        ).write.mode("append").parquet(path)
        back = spark.read.option("mergeSchema", "true").parquet(path)
        bind = (
            "concat(text, '|', lang, '|',"
            f" COALESCE(source, '{_SE_ABSENT}'))"
        )
        chk = back.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("sum_id"),
            F.sum(F.col("source").isNotNull().cast("long")).alias(
                "n_with_source"
            ),
            F.sum(
                F.expr(
                    f"((doc_id % {P}) * {md5_mod_hash_sql(bind)}) % {P}"
                )
            ).alias("content_binding"),
        )
        return chk.localCheckpoint(eager=True)


QUERIES = {
    "xml_roundtrip_checksum": xml_roundtrip_checksum,
    "schema_evolution_checksum": schema_evolution_checksum,
    "jsonl_roundtrip_checksum": jsonl_roundtrip_checksum,
    "orc_roundtrip_checksum": orc_roundtrip_checksum,
}

# The oracles never see the interchange bytes: they recompute every
# checksum column from the ORIGINAL parquet table, plus the planted
# corrupt-record count as a literal. A hash match therefore proves the
# sink→scan cycle was lossless AND the quarantine caught exactly the
# planted garbage.
ORACLES = {
    "xml_roundtrip_checksum": (
        f"SELECT CAST({N_PLANTED_CORRUPT} AS BIGINT) AS n_corrupt,"
        " CAST(COUNT(*) AS BIGINT) AS n_docs,"
        " CAST(SUM(doc_id) AS BIGINT) AS sum_id,"
        " CAST(SUM(length(text)) AS BIGINT) AS sum_chars,"
        f" CAST(SUM(((doc_id % {P}) * {md5_mod_hash_duck(_DOC_BIND_DUCK)})"
        f" % {P}) AS BIGINT) AS content_binding"
        " FROM documents"
    ),
    # the evolved-schema NULL-backfill rule restated from the original
    # table: v1 (even-id) rows never carried source, so their binding
    # uses the sentinel
    "schema_evolution_checksum": (
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,"
        " CAST(SUM(doc_id) AS BIGINT) AS sum_id,"
        " CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_with_source,"
        f" CAST(SUM(((doc_id % {P}) * "
        + md5_mod_hash_duck(
            "(text || '|' || lang || '|' || CASE WHEN doc_id % 2 = 1"
            f" THEN source ELSE '{_SE_ABSENT}' END)"
        )
        + f") % {P}) AS BIGINT) AS content_binding"
        " FROM documents"
    ),
    "orc_roundtrip_checksum": (
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,"
        " CAST(SUM(doc_id) AS BIGINT) AS sum_id,"
        " CAST(SUM(length(text)) AS BIGINT) AS sum_chars,"
        f" CAST(SUM(((doc_id % {P}) * {md5_mod_hash_duck(_DOC_BIND_DUCK)})"
        f" % {P}) AS BIGINT) AS content_binding"
        " FROM documents"
    ),
    "jsonl_roundtrip_checksum": (
        f"SELECT CAST({N_PLANTED_CORRUPT} AS BIGINT) AS n_corrupt,"
        " CAST(COUNT(*) AS BIGINT) AS n_events,"
        " CAST(SUM(event_id) AS BIGINT) AS sum_id,"
        " CAST(SUM(user_id) AS BIGINT) AS sum_user,"
        f" CAST(SUM(((event_id % {P}) * (epoch_us(ts) % {P})) % {P})"
        " AS BIGINT) AS ts_binding,"
        " CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)"
        " AS value_cents,"
        f" CAST(SUM(((event_id % {P}) * {md5_mod_hash_duck(_EV_BIND_DUCK)})"
        f" % {P}) AS BIGINT) AS content_binding"
        " FROM events"
    ),
}
