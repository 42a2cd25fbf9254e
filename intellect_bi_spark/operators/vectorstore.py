"""Persisted ANN index serving (IVF + PQ on parquet) — 100 TB extension.

The production shape of the vector family: the in-query ANN operators
(similarity.ann_topk_ivf, clustering.ann_topk_pq) build their index
structures per query; a serving deployment builds them ONCE, writes
them to storage, and answers every query from the STORED index.
Reference analogue: the reference's retrieval path queries a persistent
Chroma collection (reference api/main.py:1416-1417 top-k over an
on-disk vector store).  Every store lifecycle query follows
sketches.sketch_rollup_store: write → read back → answer from stored
bytes → temp-dir teardown after an eager localCheckpoint.

One store format, the manifest-pinned versioned store of ``store.py``;
a build is its version 1.  What a store holds:

- ``centroids``  (cell, c_emb)       — the coarse quantizer, N_CELLS rows
- ``codebook``   (m, cid, carr)      — the PQ sub-codebooks, M_SUB·KS rows
- ``codes/seg={s}/`` (vec_id, m, cid, cell) — 16-bit PQ codes in
  immutable segments whose files are sorted by the stored ``cell``
  column, each cell in one file per segment; a version's manifest pins
  its (segment, cell) pairs, so a probe's ``cell IN (...)`` filter is
  pushed into the parquet scan and row-group statistics skip every
  unprobed cell: the IVF inverted list on parquet.

The two model tables are unversioned: no mutation touches them.

Query path, all from the store: probe the N_PROBE cells nearest the
query (tiny centroid table, broadcast) → scan ONLY those cells of the
pinned codes → ADC distance from the stored codebook (fixed-point
BIGINT, order-independent) → keep the CAND_K best candidates → exact
full-precision cosine rerank against the base embeddings table → top-k.
This is the textbook IVFADC serving pipeline (Jégou et al. 2011,
"Product Quantization for Nearest Neighbor Search"), restated as three
broadcast joins and one cell-pruned scan — no all-pairs product, no
driver-side model beyond the broadcast codebook.

Scale notes: at 100 TB the codes table is ~2 bytes/vector payload, the
centroid/codebook tables are KBs (always broadcast), and the rerank
touches only CAND_K full vectors fetched by an equi-join on vec_id.
The expensive stage — one corpus scan to assign cells and codes — runs
once at build time, not per query.

Parity: the DuckDB oracle never sees the store (roundtrip-identity
discipline, sketches.sketch_rollup_store / roundtrip.py); it restates
build + probe + ADC + rerank from the base tables.  Every ranking
stage is deterministic: ADC distances are exact BIGINTs with vec_id
tie-breaks; the rerank cosine is the strict d-order fold both engines
evaluate bit-identically (similarity._dot/_dot_duck).
tests/test_vectorstore.py proves stored ≡ in-memory ranking and that
the probe's scan is pruned to the probed cells.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import store
from .clustering import (
    _PQ_CTES,
    QUANT,
    SUBDIM,
    _pq_codes,
    _pq_ctes,
    _subspace_rows,
)
from .similarity import (
    N_BATCH_QUERIES,
    N_CELLS,
    N_PROBE,
    QUERY_VEC_ID,
    TOP_K,
    _dot,
    _dot_duck,
    _emb,
    _norm,
    _norm_duck,
)

CAND_K = 40  # ADC candidates entering the exact rerank (4× the final k)


def _centroids(emb: DataFrame) -> DataFrame:
    """The IVF coarse quantizer (similarity.py:421 deterministic seed:
    centroids are the embeddings of vec_id 1..N_CELLS).  ``c_emb`` is
    widened to doubles, exactly, so the stored table has one schema
    whatever the fixture's float width (every scoring expression casts
    elements to double anyway)."""
    return emb.filter(F.col("vec_id").between(1, N_CELLS)).select(
        (F.col("vec_id") - 1).cast("int").alias("cell"),
        F.col("embedding").cast("array<double>").alias("c_emb"),
    )


_ANN_MODEL_SCHEMAS = {
    "centroids": "cell int, c_emb array<double>",
    "codebook": "m bigint, cid bigint, carr array<double>",
}


def _read_model(spark: SparkSession, path: str, table: str) -> DataFrame:
    """The frozen ``centroids`` or ``codebook`` table of an ANN store,
    read with its declared schema: no inference job before the
    caller's action."""
    return spark.read.schema(_ANN_MODEL_SCHEMAS[table]).parquet(
        f"{path}/{table}"
    )


def topk_from_index(
    centroids: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    emb: DataFrame,
    query_vec_id: int = QUERY_VEC_ID,
) -> DataFrame:
    """IVFADC serving over (possibly stored) index frames: probe →
    pruned ADC scan → CAND_K candidates → exact-cosine rerank → top-k.

    Takes the index as DataFrames so tests can prove stored ≡ in-memory
    (pass the pre-write frames vs the read-back frames)."""
    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb")
    )
    probe_cells = (
        centroids.crossJoin(F.broadcast(q))
        .select(
            "cell",
            (_dot("c_emb", "q_emb") / (_norm("c_emb") * _norm("q_emb"))).alias(
                "q_cos"
            ),
        )
        .orderBy(F.desc("q_cos"), "cell")
        .limit(N_PROBE)
        .select("cell")
    )
    # the query's per-subspace subvectors (M_SUB tiny rows, broadcast)
    q_sub = _subspace_rows(
        emb.filter(F.col("vec_id") == query_vec_id)
    ).select("m", F.col("sub").alias("qsub"))
    # ADC over the probed cells' codes only (broadcast semi-join)
    adc = (
        codes.join(F.broadcast(probe_cells), "cell", "left_semi")
        .filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(codebook), ["m", "cid"])
        .join(F.broadcast(q_sub), "m")
        .select(
            "vec_id",
            F.expr(
                "CAST(FLOOR(aggregate(zip_with(qsub, carr,"
                " (x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE),"
                f" (acc, v) -> acc + v) * {QUANT}.0 + 0.5) AS BIGINT)"
            ).alias("dq"),
        )
        .groupBy("vec_id")
        .agg(F.sum("dq").alias("dist_q"))
    )
    cand = adc.orderBy("dist_q", "vec_id").limit(CAND_K)
    # exact full-precision rerank: only CAND_K base vectors are fetched
    return (
        emb.join(F.broadcast(cand), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            (
                _dot("embedding", "q_emb")
                / (_norm("embedding") * _norm("q_emb"))
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(TOP_K)
    )


def topk_batch_from_index(
    centroids: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    emb: DataFrame,
) -> DataFrame:
    """The amortization shape the store exists for: ONE stored index
    answers a BATCH of queries (vec_id < N_BATCH_QUERIES, the
    similarity.ann_topk_batch convention; candidates are the rest of
    the corpus).  Per query: probe its N_PROBE nearest cells, ADC-scan
    only those cells' stored codes, keep CAND_K, exact-cosine rerank to
    TOP_K.  All per-query stages are windows partitioned by q_id —
    per-key state, no global sort; the query-side frames (batch
    subvectors, probe pairs) stay broadcast-size by construction."""
    from pyspark.sql import Window

    from .clustering import _subspace_rows

    qs = emb.filter(F.col("vec_id") < N_BATCH_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    probe_w = Window.partitionBy("q_id").orderBy(F.desc("q_cos"), "cell")
    probe = (
        centroids.crossJoin(F.broadcast(qs))
        .select(
            "q_id",
            "cell",
            (
                _dot("c_emb", "q_emb") / (_norm("c_emb") * _norm("q_emb"))
            ).alias("q_cos"),
        )
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") <= N_PROBE)
        .select("q_id", "cell")
    )
    q_sub = _subspace_rows(
        emb.filter(F.col("vec_id") < N_BATCH_QUERIES)
    ).select(
        F.col("vec_id").alias("q_id"), "m", F.col("sub").alias("qsub")
    )
    adc = (
        codes.join(F.broadcast(probe), "cell")
        .filter(F.col("vec_id") >= N_BATCH_QUERIES)
        .join(F.broadcast(codebook), ["m", "cid"])
        .join(F.broadcast(q_sub), ["q_id", "m"])
        .select(
            "q_id",
            "vec_id",
            F.expr(
                "CAST(FLOOR(aggregate(zip_with(qsub, carr,"
                " (x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE),"
                f" (acc, v) -> acc + v) * {QUANT}.0 + 0.5) AS BIGINT)"
            ).alias("dq"),
        )
        .groupBy("q_id", "vec_id")
        .agg(F.sum("dq").alias("dist_q"))
    )
    cand_w = Window.partitionBy("q_id").orderBy("dist_q", "vec_id")
    cand = (
        adc.withColumn("rn", F.row_number().over(cand_w))
        .filter(F.col("rn") <= CAND_K)
        .select("q_id", "vec_id")
    )
    rerank_w = Window.partitionBy("q_id").orderBy(
        F.desc("cosine"), "vec_id"
    )
    return (
        emb.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(qs), "q_id")
        .select(
            "q_id",
            "vec_id",
            "label",
            (
                _dot("embedding", "q_emb")
                / (_norm("embedding") * _norm("q_emb"))
            ).alias("cosine"),
        )
        .withColumn("rk", F.row_number().over(rerank_w))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "vec_id", "label", "cosine")
        .orderBy("q_id", F.desc("cosine"), "vec_id")
    )


def ann_index_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the IVF-PQ index, persist it to parquet, and answer the
    fixed top-k query FROM THE STORED index (exact-cosine reranked) —
    certifying that the index tables survive the write/read cycle and
    that the cell-sorted segments serve a pruned probe.  The final
    frame is eagerly localCheckpointed (TOP_K rows) so the temp store
    can be deleted before returning (sketches.sketch_rollup_store
    lifecycle)."""
    with tempfile.TemporaryDirectory(
        prefix="sgraft_ann_index_", ignore_cleanup_errors=True
    ) as tmp:
        build_index(spark, sf_dir, tmp)
        return topk_from_index(
            *read_index_versioned(spark, tmp), _emb(spark, sf_dir)
        ).localCheckpoint(eager=True)


def ann_index_store_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build + persist ONCE, then answer the 10-query batch from the
    stored tables — the serve-many amortization the persisted index
    exists for (the store cost in :func:`ann_index_store` amortizes
    over every query in this batch)."""
    with tempfile.TemporaryDirectory(
        prefix="sgraft_ann_index_", ignore_cleanup_errors=True
    ) as tmp:
        build_index(spark, sf_dir, tmp)
        return topk_batch_from_index(
            *read_index_versioned(spark, tmp), _emb(spark, sf_dir)
        ).localCheckpoint(eager=True)


# --- incremental index maintenance ------------------------------------------
#
# At 100 TB you never full-rebuild an index for a new ingest batch: the
# model (coarse centroids + PQ codebooks) is a FROZEN build-time
# artifact, and an upsert (a) assigns the new vectors to cells with the
# STORED centroids, (b) encodes them with the STORED codebooks, and
# (c) appends their codes into ONLY the affected cell partitions —
# the copy-on-write shape sources/sinks.upsert_embeddings proved for
# raw embeddings, applied to the index itself.  Reference analogue:
# the reference's ingest is incremental (Chroma upsert,
# api/ingest_docs.py:97-102, etl/index_docs.py:101-108) while its index
# never full-rebuilds per batch — this closes the same gap for the
# serving store.
#
# For upsert ≡ full-rebuild to hold EXACTLY (the oracle's claim), the
# model must be invariant to the batch — which is precisely how
# production PQ training works: codebooks are trained on a bounded
# reservoir sample, not the full corpus (Jégou et al. 2011 train on a
# learning set; FAISS trains on a capped sample).  The upsertable
# store therefore trains its codebook on the fixed reservoir
# vec_id < TRAIN_CAP (⊃ the vec_id < KS seed), and the upsert batch is
# drawn strictly outside it, so a full rebuild — retraining included —
# produces the identical model, and the DuckDB oracle can restate the
# whole upserted store as one rebuild from the base tables.

TRAIN_CAP = 64  # codebook training reservoir: vec_id < 64 (bounded,
# batch-invariant — the production sample-training discipline)
UPSERT_MOD = 10
UPSERT_RES = 7  # batch = vec_id % 10 == 7 AND vec_id >= TRAIN_CAP:
# ~10% of the corpus, disjoint from the centroid rows (1..N_CELLS),
# the PQ seed/reservoir (< TRAIN_CAP) and the query ids


def _upsert_batch_pred():
    return (F.col("vec_id") % UPSERT_MOD == UPSERT_RES) & (
        F.col("vec_id") >= TRAIN_CAP
    )


def _assign_cells(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, cell): nearest stored centroid by cosine (argmax, ties →
    lower cell — the similarity.ivf_assignments discipline, taking the
    centroid RELATION so the upsert path assigns against the STORE)."""
    from pyspark.sql import Window

    scored = vecs.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "cell",
        (
            _dot("embedding", "c_emb") / (_norm("embedding") * _norm("c_emb"))
        ).alias("c_cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("c_cos"), "cell")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell")
    )


def _reservoir_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen PQ model: codebook trained ONLY on the vec_id <
    TRAIN_CAP reservoir (seed = vec_id < KS as always) — batch-invariant
    by construction."""
    from .clustering import _pq_codebook

    res = _emb(spark, sf_dir).filter(F.col("vec_id") < TRAIN_CAP)
    return _pq_codebook(_subspace_rows(res))


def _encode_codes(vecs: DataFrame, cb: DataFrame, centroids: DataFrame) -> DataFrame:
    """(cell | vec_id, m, cid) for ``vecs`` under the FROZEN model:
    stored-centroid cell assignment + stored-codebook PQ encoding."""
    from .clustering import _pq_assign

    codes = _pq_assign(_subspace_rows(vecs), cb).select(
        "vec_id", "m", F.col("a.cid").alias("cid")
    )
    return codes.join(_assign_cells(vecs, centroids), "vec_id")


# Every ANN store is manifest-pinned: code rows live in immutable
# segments ``codes/seg={seg}/`` whose files are sorted by the stored
# ``cell`` column, each published version's manifest pins its exact
# (segment, cell) pairs, and every mutation (upsert, delete, compact,
# stream batch) is copy-on-write through the protocol in ``store.py``,
# so a reader pinned at version v is isolated from concurrent
# mutations.

_ANN_CODES_SCHEMA = "vec_id bigint, m int, cid bigint, cell int"
_ANN_CODES_ROOT = "codes"


def _ann_write_codes_segment(
    codes_df: DataFrame, path: str
) -> tuple[str, list[int]]:
    """Write one immutable code segment and return (seg, the cells it
    holds)."""
    seg = store._new_seg_id()
    cells = store._write_segment(
        codes_df.select(
            "vec_id",
            F.col("m").cast("int").alias("m"),
            F.col("cid").cast("bigint").alias("cid"),
            F.col("cell").cast("int").alias("cell"),
        ),
        f"{path}/{_ANN_CODES_ROOT}",
        seg,
        pcol="cell",
    )
    return seg, cells


def _ann_pinned_codes(
    spark: SparkSession, path: str, v: int | None = None
) -> DataFrame:
    """The code relation of a PINNED store version: exactly the
    manifest's (segment, cell) pairs.  ``cell`` is a stored column of
    value-sorted segment files, so the probe's ``cell IN (...)``
    filter is pushed into the parquet scan and skips the row groups of
    unprobed cells."""
    if v is None:
        v = store._latest_version(spark, path)
    return store._read_segments(
        spark,
        f"{path}/{_ANN_CODES_ROOT}",
        store._manifest_entries(spark, path, v),
        _ANN_CODES_SCHEMA,
        pcol="cell",
    )


def read_index_versioned(
    spark: SparkSession, path: str, v: int | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(centroids, codebook, pinned codes) of version ``v`` of the
    store (default: latest)."""
    return (
        _read_model(spark, path, "centroids"),
        _read_model(spark, path, "codebook"),
        _ann_pinned_codes(spark, path, v),
    )


def _init_ann_versioned(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    vecs: DataFrame,
    cb: DataFrame,
    bid: int | None = None,
) -> None:
    """First write of the store: the frozen model tables (centroids and
    the PQ codebook ``cb``; unversioned, since no mutation touches
    them), one code segment encoding ``vecs``, and the published v=1
    manifest pinning exactly that segment's cells.

    The three writes are independent files gated by the one v=1
    publish (the code segment encodes against the in-memory model
    frames, not the parquet copies), so they run as concurrent jobs.
    A path that already has a published version raises
    :class:`store.VersionConflict` before anything is written: the
    model tables are live files of that store."""
    if store._published_versions(spark, path):
        raise store.VersionConflict(f"{path} already holds a published store")
    cents = _centroids(_emb(spark, sf_dir))
    *_, (seg, cells) = store._run_staged(
        lambda: cents.write.mode("overwrite").parquet(f"{path}/centroids"),
        lambda: cb.write.mode("overwrite").parquet(f"{path}/codebook"),
        lambda: _ann_write_codes_segment(
            _encode_codes(vecs, cb, cents), path
        ),
    )
    store._publish_manifest(
        spark, path, 1, [(seg, c) for c in cells], bid=bid
    )


def build_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Version 1 of the store over the full corpus, encoded with the
    full-corpus PQ codebook that ``clustering._pq_codes`` memoizes and
    the ``ann_index_store`` oracle restates."""
    _init_ann_versioned(
        spark, sf_dir, path, _emb(spark, sf_dir), _pq_codes(spark, sf_dir)[1]
    )


def build_index_frozen(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Version 1 of the upsertable store: BASE corpus only (the upsert
    batch is held out), reservoir-trained codebook."""
    emb = _emb(spark, sf_dir)
    _init_ann_versioned(
        spark,
        sf_dir,
        path,
        emb.filter(~_upsert_batch_pred()),
        _reservoir_codebook(spark, sf_dir),
    )


def upsert_index(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    batch: DataFrame,
    bid: int | None = None,
) -> None:
    """Merge a new embeddings batch into the stored index: assign with
    the STORED centroids, encode with the STORED codebook, land the
    new codes as one immutable segment, and publish a v+1 manifest
    pinning the old entries plus the new segment's cells — no
    pre-existing file is touched (tests prove the file-level claim),
    so every reader of v is undisturbed.  At 100 TB this is the whole
    point: the merge cost is proportional to the BATCH plus fixed
    metadata, never to the corpus.  The batch segment is
    version-independent and written once; a publish conflict re-merges
    only the manifest onto the new latest."""
    centroids = _read_model(spark, path, "centroids")
    cb = _read_model(spark, path, "codebook")
    seg, cells = _ann_write_codes_segment(
        _encode_codes(batch, cb, centroids), path
    )
    store._commit(
        spark,
        path,
        lambda v: (
            store._manifest_entries(spark, path, v)
            + [(seg, c) for c in cells],
            None,
        ),
        bid,
    )


def ann_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance, end to end: build the store on
    the base corpus (batch held out), UPSERT the batch (stored-model
    assignment + encoding, affected-cell append), then answer the fixed
    top-k query from the upserted store.  Output: the TOP_K serve rows
    plus the upsert telemetry (n_upserted, n_cells_touched) so the
    incrementality is bound into the checked result.

    The oracle restates the FULL REBUILD — reservoir-trained model,
    every vector (base + batch) encoded, probe → ADC → rerank — so a
    green row proves upsert-then-serve ≡ full-rebuild-then-serve
    exactly (the model is batch-invariant by the reservoir discipline,
    so the rebuild's retraining yields the identical codebook)."""
    emb = _emb(spark, sf_dir)
    batch = emb.filter(_upsert_batch_pred())
    with tempfile.TemporaryDirectory(
        prefix="sgraft_ann_upsert_", ignore_cleanup_errors=True
    ) as tmp:
        build_index_frozen(spark, sf_dir, tmp)
        upsert_index(spark, sf_dir, tmp, batch)
        centroids, codebook, codes = read_index_versioned(spark, tmp)
        touched = (
            _assign_cells(batch, centroids)
            .agg(
                F.count(F.lit(1)).alias("n_upserted"),
                F.countDistinct("cell").alias("n_cells_touched"),
            )
        )
        return (
            topk_from_index(centroids, codebook, codes, emb)
            .crossJoin(F.broadcast(touched))
            .localCheckpoint(eager=True)
        )


def _rewrite_cells(
    spark: SparkSession,
    path: str,
    entries: list[tuple],
    hit: set,
    drop: DataFrame | None = None,
) -> list[tuple]:
    """``entries`` with every pin of a cell in ``hit`` replaced by one
    new segment holding those pins' rows, less the vec_ids in
    ``drop``."""
    root = f"{path}/{_ANN_CODES_ROOT}"
    rows = store._read_segments(
        spark,
        root,
        [e for e in entries if e[1] in hit],
        _ANN_CODES_SCHEMA,
        pcol="cell",
    )
    if drop is not None:
        rows = rows.join(drop, "vec_id", "left_anti")
    seg = store._new_seg_id()
    return [e for e in entries if e[1] not in hit] + [
        (seg, c) for c in store._write_segment(rows, root, seg, pcol="cell")
    ]


def compact_index_cells(spark: SparkSession, path: str, cells) -> None:
    """Post-upsert maintenance: every upsert pins one more segment into
    each affected cell; compaction coalesces the given cells' pinned
    rows into ONE fresh segment (each cell in one file) and publishes a
    snapshot whose manifest pins the new segment instead of every
    prior pin of those cells.  Readers of v keep their exact
    pre-compaction file set — no in-place rewrite, no lineage hazard
    (the write target is a new directory, never in the read plan) —
    and the small-file debris becomes unreferenced for vacuum's
    segment GC.  At 100 TB this runs
    per-cell-batch on a schedule, exactly the job the generic
    ``compaction_plan`` operator budgets."""
    hit = {int(c) for c in cells}

    def stage(v: int):
        entries = store._manifest_entries(spark, path, v)
        if not any(c in hit for _, c in entries):
            return None  # nothing pinned in those cells: no new snapshot
        return _rewrite_cells(spark, path, entries, hit), None

    store._commit(spark, path, stage)


def ann_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full maintenance cycle: build the frozen-model store, upsert
    the ingest batch (affected cells gain an appended file), COMPACT
    exactly the affected cells back to one file each, and serve the
    fixed top-k from the compacted store.  The oracle is the identical
    full-rebuild restatement the upsert row uses — a green row proves
    compaction is a pure physical rewrite (served results unchanged);
    the file-level claims (each compacted cell in one file, unaffected
    cells byte-untouched) are locked by tests/test_vectorstore.py."""
    emb = _emb(spark, sf_dir)
    batch = emb.filter(_upsert_batch_pred())
    with tempfile.TemporaryDirectory(
        prefix="sgraft_ann_compact_", ignore_cleanup_errors=True
    ) as tmp:
        build_index_frozen(spark, sf_dir, tmp)
        upsert_index(spark, sf_dir, tmp, batch)
        centroids = _read_model(spark, tmp, "centroids")
        touched_rows = _assign_cells(batch, centroids)
        # bounded driver-side scalar list (≤ N_CELLS ints — the
        # sinks.upsert_embeddings model-boundary collect class)
        affected = [
            r["cell"]
            for r in touched_rows.select("cell").distinct().collect()
        ]
        compact_index_cells(spark, tmp, affected)
        ncc = touched_rows.agg(
            F.countDistinct("cell").alias("n_cells_compacted")
        )
        _, codebook, codes = read_index_versioned(spark, tmp)
        return (
            topk_from_index(centroids, codebook, codes, emb)
            .crossJoin(F.broadcast(ncc))
            .localCheckpoint(eager=True)
        )


# --- deletion through the index ---------------------------------------------
#
# A governed 100 TB corpus must be able to ERASE documents from the
# derived stores, not just the base parquet (GDPR erasure reaches the
# index, the quality.erasure_impact_plan shape).  The delete is
# tombstone-free and affected-cells-only: find the cells holding any
# deleted vector (a semi-join against the pinned codes — never a corpus
# scan), write those cells' surviving rows into one new segment, and
# unpin every prior segment of those cells; a cell left empty drops
# out of the manifest.  The frozen model stays — production erasure
# removes DATA immediately; the model retrains on its own schedule
# (here the delete set is disjoint from the training reservoir, so a
# rebuild-without-the-docs retrains to the IDENTICAL model and the
# oracle's delete ≡ rebuild claim is exact).

DELETE_MOD = 10
DELETE_RES = 3  # erase set: vec_id % 10 == 3 AND vec_id >= TRAIN_CAP —
# ~10% of the corpus, disjoint from the query (0), the centroid rows
# (1..N_CELLS) and the codebook training reservoir (< TRAIN_CAP)


def _delete_pred():
    return (F.col("vec_id") % DELETE_MOD == DELETE_RES) & (
        F.col("vec_id") >= TRAIN_CAP
    )


def build_index_frozen_full(
    spark: SparkSession, sf_dir: str, path: str
) -> None:
    """The upsertable-store layout (reservoir-trained frozen model,
    manifest-pinned codes) built over the FULL corpus in one pass —
    the starting state for the deletion query (build + upsert
    composition is certified by ``ann_index_upsert``; the delete row
    should time the delete)."""
    _init_ann_versioned(
        spark,
        sf_dir,
        path,
        _emb(spark, sf_dir),
        _reservoir_codebook(spark, sf_dir),
    )


def delete_from_index(
    spark: SparkSession, path: str, delete_ids: DataFrame
) -> list[int]:
    """Erase ``delete_ids`` (a (vec_id) frame) from the stored codes:
    locate the affected cells by semi-join against the PINNED code
    relation, land those cells' SURVIVING rows in one fresh segment,
    and publish a v+1 manifest that pins the new segment instead of
    every prior pin of the affected cells — old segments are never
    touched, so a concurrent reader of v sees the FULL pre-delete
    store.  A cell left empty has no files in the new segment and its
    old pins are dropped.
    The erased codes become unreachable at publish; vacuum's segment
    GC reclaims the bytes.  Returns the affected cell list (bounded
    ≤ N_CELLS — the model-boundary collect class).  Merge cost is
    proportional to the affected cells' code rows + fixed metadata,
    never to the corpus."""
    affected: list[int] = []

    def stage(v: int):
        affected[:] = sorted(
            r["cell"]
            for r in _ann_pinned_codes(spark, path, v)
            .join(delete_ids, "vec_id", "left_semi")
            .select("cell")
            .distinct()
            .collect()
        )
        if not affected:
            return None
        entries = store._manifest_entries(spark, path, v)
        hit = set(affected)
        return _rewrite_cells(spark, path, entries, hit, delete_ids), None

    store._commit(spark, path, stage)
    return affected


def ann_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion through the index store, end to end: build the frozen-
    model store over the full corpus, ERASE the delete set (affected-
    cell rewrite), and serve the fixed top-k from the post-delete
    store.  Output binds the erasure accounting (n_deleted,
    n_cells_rewritten) into the checked rows.

    The oracle restates a REBUILD WITHOUT THE DELETED DOCS — reservoir
    model (delete set is reservoir-disjoint, so retraining reproduces
    it), every surviving vector encoded, probe → ADC → rerank — so a
    green row proves delete-then-serve ≡ rebuild-without-docs exactly:
    the erasure verifiably REACHED the derived store."""
    emb = _emb(spark, sf_dir)
    dels = emb.filter(_delete_pred()).select("vec_id")
    with tempfile.TemporaryDirectory(
        prefix="sgraft_ann_delete_", ignore_cleanup_errors=True
    ) as tmp:
        build_index_frozen_full(spark, sf_dir, tmp)
        affected = delete_from_index(spark, tmp, dels)
        tele = dels.agg(
            F.count(F.lit(1)).alias("n_deleted"),
            F.lit(len(affected)).cast("bigint").alias("n_cells_rewritten"),
        )
        return (
            topk_from_index(*read_index_versioned(spark, tmp), emb)
            .crossJoin(F.broadcast(tele))
            .localCheckpoint(eager=True)
        )


# --- streaming index ingestion -----------------------------------------------
#
# The frozen-model discipline holds across micro-batches: the first
# batch writes the model (centroids and reservoir codebook) from the
# fixed training reservoir, a build-time artifact independent of batch
# arrival order, and every batch, the first included, only appends codes.


def _ann_stream(spark: SparkSession, sf_dir: str) -> tuple:
    """(feed, init, upsert) of the ANN ingest stream."""
    return (
        _emb(spark, sf_dir),
        lambda b, s, bid: _init_ann_versioned(
            b.sparkSession,
            sf_dir,
            s,
            b,
            _reservoir_codebook(b.sparkSession, sf_dir),
            bid,
        ),
        lambda b, s, bid: upsert_index(b.sparkSession, sf_dir, s, b, bid=bid),
    )


def ann_stream_upsert_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion into the ANN index store: the embeddings feed
    :func:`store.stream_into_store`, composing the index from an
    empty store (the first batch writes the frozen model, every batch
    appends its codes into the affected cells only).  The model never
    depends on batch order, so the top-k served from the composed store
    equals the full rebuild's; the output binds n_vecs_indexed, the
    distinct vectors in the stored codes."""
    with tempfile.TemporaryDirectory(
        prefix="sgraft_ann_stream_", ignore_cleanup_errors=True
    ) as tmp:
        feed, init, upsert = _ann_stream(spark, sf_dir)
        path = store.stream_into_store(spark, feed, tmp, init, upsert)
        centroids, codebook, codes = read_index_versioned(spark, path)
        nv = codes.select("vec_id").distinct().agg(
            F.count(F.lit(1)).alias("n_vecs_indexed")
        )
        return (
            topk_from_index(centroids, codebook, codes, _emb(spark, sf_dir))
            .crossJoin(F.broadcast(nv))
            .localCheckpoint(eager=True)
        )


def vacuum_ann_store(
    spark: SparkSession, path: str, keep_last: int = store.RETAIN_VERSIONS
) -> int:
    """Retention vacuum for the ANN store; the frozen model tables are
    unversioned and kept (see :func:`store._vacuum_versioned_store`)."""
    return store._vacuum_versioned_store(
        spark, path, _ANN_CODES_ROOT, keep_last
    )


QUERIES = {
    "ann_index_store": ann_index_store,
    "ann_index_store_batch": ann_index_store_batch,
    "ann_index_upsert": ann_index_upsert,
    "ann_index_compact": ann_index_compact,
    "ann_index_delete": ann_index_delete,
    "ann_stream_upsert_store": ann_stream_upsert_store,
}


def _cos_duck(a: str, b: str) -> str:
    return f"{_dot_duck(a, b)} / ({_norm_duck(a)} * {_norm_duck(b)})"


# IVF assignment of every vector to its nearest centroid by cosine (the
# similarity.py ann_topk_ivf oracle form)
_IVF_CTES = (
    "cents AS (SELECT CAST(vec_id - 1 AS INT) AS cell,"
    " embedding AS c_emb FROM embeddings"
    f" WHERE vec_id BETWEEN 1 AND {N_CELLS}),"
    " iscored AS (SELECT e.vec_id, c.cell,"
    f" {_cos_duck('e.embedding', 'c.c_emb')} AS c_cos"
    " FROM embeddings e CROSS JOIN cents c),"
    " assign AS (SELECT vec_id, cell FROM"
    " (SELECT vec_id, cell, ROW_NUMBER() OVER"
    " (PARTITION BY vec_id ORDER BY c_cos DESC, cell) AS rn"
    " FROM iscored) WHERE rn = 1)"
)

# a candidate's fixed-point ADC distance to query subvectors ``qs``
# (the clustering.py ann_topk_pq oracle form)
_ADC_DIST_DUCK = (
    "CAST(SUM(CAST(FLOOR(list_reduce(list_prepend("
    " CAST(0.0 AS DOUBLE),"
    f" list_transform(range(1, {SUBDIM} + 1),"
    " i -> (qs.qsub[i] - cb.carr[i]) * (qs.qsub[i] - cb.carr[i]))),"
    f" (acc, v) -> acc + v) * {QUANT}.0 + 0.5) AS BIGINT))"
    " AS BIGINT) AS dist_q"
)


def _ann_oracle(
    pq_ctes: str, tele: str = "", cols: str = "", adc_where: str = ""
) -> str:
    """Build + probe + ADC + rerank of the fixed query restated from
    the base tables (the oracle never sees the store): the PQ chain
    ``pq_ctes``, IVF assignment and probe, ADC over the probed cells'
    codes less ``adc_where``, CAND_K candidates, exact-cosine rerank.
    ``tele`` is the body of the one-row CTE ``up``, whose ``cols``
    follow the cosine."""
    return (
        f"WITH {pq_ctes}, {_IVF_CTES},"
        + (f" up AS ({tele})," if tele else "")
        + " qv AS (SELECT embedding AS q_emb FROM embeddings"
        f" WHERE vec_id = {QUERY_VEC_ID}),"
        " probe AS (SELECT cell FROM cents, qv"
        f" ORDER BY {_cos_duck('c_emb', 'q_emb')} DESC, cell"
        f" LIMIT {N_PROBE}),"
        " qs AS (SELECT m, sub AS qsub FROM sub"
        f" WHERE vec_id = {QUERY_VEC_ID}),"
        f" adc AS (SELECT c.vec_id, {_ADC_DIST_DUCK}"
        " FROM codes c JOIN cb ON cb.m = c.m AND cb.cid = c.cid"
        " JOIN qs ON qs.m = c.m"
        " JOIN assign a ON a.vec_id = c.vec_id"
        " WHERE a.cell IN (SELECT cell FROM probe)"
        f" AND c.vec_id != {QUERY_VEC_ID}{adc_where}"
        " GROUP BY c.vec_id),"
        " cand AS (SELECT vec_id FROM adc"
        f" ORDER BY dist_q, vec_id LIMIT {CAND_K})"
        " SELECT e.vec_id, e.label,"
        f" {_cos_duck('e.embedding', 'q_emb')} AS cosine"
        + (f", {cols}" if cols else "")
        + " FROM embeddings e JOIN cand USING (vec_id), qv"
        + (", up" if tele else "")
        + f" ORDER BY cosine DESC, e.vec_id LIMIT {TOP_K}"
    )


def _batch_oracle() -> str:
    """The batch run restated from the base tables: per-query probe →
    probed-cell ADC → CAND_K → exact rerank, every per-query stage a
    ROW_NUMBER window (the same tie-breaks as the Spark windows)."""
    return (
        f"WITH {_PQ_CTES}, {_IVF_CTES},"
        " qb AS (SELECT vec_id AS q_id, embedding AS q_emb"
        f" FROM embeddings WHERE vec_id < {N_BATCH_QUERIES}),"
        " probe AS (SELECT q_id, cell FROM"
        " (SELECT q.q_id, c.cell, ROW_NUMBER() OVER"
        f" (PARTITION BY q.q_id ORDER BY {_cos_duck('c.c_emb', 'q.q_emb')}"
        " DESC, c.cell) AS rn FROM cents c CROSS JOIN qb q)"
        f" WHERE rn <= {N_PROBE}),"
        " qs AS (SELECT vec_id AS q_id, m, sub AS qsub FROM sub"
        f" WHERE vec_id < {N_BATCH_QUERIES}),"
        f" adc AS (SELECT p.q_id, c.vec_id, {_ADC_DIST_DUCK}"
        " FROM codes c JOIN assign a ON a.vec_id = c.vec_id"
        " JOIN probe p ON p.cell = a.cell"
        " JOIN cb ON cb.m = c.m AND cb.cid = c.cid"
        " JOIN qs ON qs.q_id = p.q_id AND qs.m = c.m"
        f" WHERE c.vec_id >= {N_BATCH_QUERIES}"
        " GROUP BY p.q_id, c.vec_id),"
        " cand AS (SELECT q_id, vec_id FROM"
        " (SELECT q_id, vec_id, ROW_NUMBER() OVER"
        " (PARTITION BY q_id ORDER BY dist_q, vec_id) AS rn FROM adc)"
        f" WHERE rn <= {CAND_K}),"
        " rr AS (SELECT cand.q_id, e.vec_id, e.label,"
        f" {_cos_duck('e.embedding', 'q.q_emb')}"
        " AS cosine FROM cand JOIN embeddings e USING (vec_id)"
        " JOIN qb q ON q.q_id = cand.q_id)"
        " SELECT q_id, vec_id, label, cosine FROM"
        " (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id"
        " ORDER BY cosine DESC, vec_id) AS rk FROM rr)"
        f" WHERE rk <= {TOP_K} ORDER BY q_id, cosine DESC, vec_id"
    )


# The mutated stores are restated as REBUILDS: the codebook trained on
# the reservoir is batch-invariant, so retraining reproduces the frozen
# model, and every vector the store holds is encoded, probed, scored
# and reranked from the base tables.
_RESERVOIR_PQ_CTES = _pq_ctes(f" WHERE s.vec_id < {TRAIN_CAP}")
_UPSERT_TELE = (
    "SELECT COUNT(*) AS n_upserted,"
    " COUNT(DISTINCT cell) AS n_cells_touched FROM assign"
    f" WHERE vec_id % {UPSERT_MOD} = {UPSERT_RES} AND vec_id >= {TRAIN_CAP}"
)

ORACLES = {
    "ann_index_store": _ann_oracle(_PQ_CTES),
    "ann_index_store_batch": _batch_oracle(),
    # upsert-then-serve ≡ rebuild-then-serve
    "ann_index_upsert": _ann_oracle(
        _RESERVOIR_PQ_CTES, _UPSERT_TELE, "up.n_upserted, up.n_cells_touched"
    ),
    # compaction is a pure physical rewrite: the upsert rebuild, served
    # unchanged
    "ann_index_compact": _ann_oracle(
        _RESERVOIR_PQ_CTES,
        _UPSERT_TELE,
        "up.n_cells_touched AS n_cells_compacted",
    ),
    # delete-then-serve ≡ rebuild-without-the-docs: the delete set is
    # reservoir-disjoint, and ADC scores the surviving vectors only
    "ann_index_delete": _ann_oracle(
        _RESERVOIR_PQ_CTES,
        "SELECT COUNT(*) AS n_deleted,"
        " COUNT(DISTINCT cell) AS n_cells_rewritten FROM assign"
        f" WHERE vec_id % {DELETE_MOD} = {DELETE_RES}"
        f" AND vec_id >= {TRAIN_CAP}",
        "up.n_deleted, up.n_cells_rewritten",
        f" AND NOT (c.vec_id % {DELETE_MOD} = {DELETE_RES}"
        f" AND c.vec_id >= {TRAIN_CAP})",
    ),
    # the staged feed is the whole corpus: the rebuild of every vector
    "ann_stream_upsert_store": _ann_oracle(
        _RESERVOIR_PQ_CTES,
        "SELECT COUNT(*) AS n_vecs_indexed FROM embeddings",
        "up.n_vecs_indexed",
    ),
}


# --- interleaved CRUD chain certification -----------------------------------
#
# The ANN twin of retrieval.bm25_crud_chain: one representative
# production interleaving driven end to end — build the frozen-model
# store on the base corpus (ingest batch held out), upsert the batch,
# ERASE the delete set, compact the upsert-affected cells — and the
# final serve must equal the rebuild-without-the-deleted-docs
# restatement.  The net relation is exactly ann_index_delete's
# ((corpus − batch) + batch − dels = corpus − dels, with the frozen
# model invariant across every leg), so the oracle is the SAME
# delete oracle — a green row proves the append/rewrite/coalesce
# algebra COMPOSES, not just that each leg works from a fresh store.


def ann_crud_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    batch = emb.filter(_upsert_batch_pred())
    dels = emb.filter(_delete_pred()).select("vec_id")
    with tempfile.TemporaryDirectory(
        prefix="sgraft_ann_crud_", ignore_cleanup_errors=True
    ) as tmp:
        build_index_frozen(spark, sf_dir, tmp)
        upsert_index(spark, sf_dir, tmp, batch)
        affected_del = delete_from_index(spark, tmp, dels)
        centroids = _read_model(spark, tmp, "centroids")
        batch_cells = [
            r["cell"]
            for r in _assign_cells(batch, centroids)
            .select("cell")
            .distinct()
            .collect()
        ]
        compact_index_cells(spark, tmp, batch_cells)

        # the retention vacuum runs alongside the serve: it keeps the
        # served version's manifest, model tables and pinned segments
        v = store._latest_version(spark, tmp)
        tele = dels.agg(
            F.count(F.lit(1)).alias("n_deleted"),
            F.lit(len(affected_del)).cast("bigint").alias(
                "n_cells_rewritten"
            ),
        )
        _, out = store._run_staged(
            lambda: vacuum_ann_store(spark, tmp, keep_last=1),
            lambda: topk_from_index(
                *read_index_versioned(spark, tmp, v), emb
            )
            .crossJoin(F.broadcast(tele))
            .withColumn("final_version", F.lit(v).cast("bigint"))
            .localCheckpoint(eager=True),
        )
    return out


QUERIES["ann_crud_chain"] = ann_crud_chain
# the chain's content equals delete-from-full (upsert batch and delete
# set are disjoint), so the delete oracle restates it, plus the version
# accounting: init=1, upsert=2, delete=3, compact snapshot=4,
# vacuum(keep_last=1) retains it → final_version 4.
ORACLES["ann_crud_chain"] = (
    "SELECT t.*, CAST(4 AS BIGINT) AS final_version FROM ("
    + ORACLES["ann_index_delete"]
    + ") t"
)
