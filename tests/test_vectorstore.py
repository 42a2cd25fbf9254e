"""Persisted IVF-PQ index serving (operators/vectorstore.py).

Locks the two properties the parity gate alone can't see:
(1) stored ≡ in-memory — the parquet write/read cycle changes nothing
    about the ranking; and
(2) the cell-sorted code segments actually serve a PRUNED probe —
    the probed-cells scan reads exactly the probed cells' codes.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from intellect_bi_spark import store
from intellect_bi_spark.operators import vectorstore as vs
from intellect_bi_spark.operators.clustering import _pq_codes
from intellect_bi_spark.operators.similarity import _emb, ivf_assignments
from tests.test_store_protocol import _value_files


def _in_memory_index(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    codes, cb = _pq_codes(spark, sf_dir)
    codes_cells = codes.join(ivf_assignments(spark, sf_dir), "vec_id")
    return vs._centroids(emb), cb, codes_cells


def test_stored_equals_in_memory_ranking(spark, sf_dir):
    centroids, codebook, codes = _in_memory_index(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    want = [
        (r["vec_id"], r["label"], r["cosine"])
        for r in vs.topk_from_index(
            centroids, codebook, codes, emb
        ).collect()
    ]
    tmp = tempfile.mkdtemp(prefix="sgraft_vstest_")
    try:
        vs.build_index(spark, sf_dir, tmp)
        assert store._published_versions(spark, tmp) == [1]
        got = [
            (r["vec_id"], r["label"], r["cosine"])
            for r in vs.topk_from_index(
                *vs.read_index_versioned(spark, tmp), emb
            ).collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # bit-exact, order included: the store must be a pure roundtrip
    assert got == want and len(got) == vs.TOP_K


def test_store_roundtrip_preserves_index_tables(spark, sf_dir):
    centroids, codebook, codes = _in_memory_index(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sgraft_vstest_")
    try:
        vs.build_index(spark, sf_dir, tmp)
        r_cent, r_cb, r_codes = vs.read_index_versioned(spark, tmp)
        assert sorted(
            (r["vec_id"], r["m"], r["cid"], r["cell"])
            for r in r_codes.collect()
        ) == sorted(
            (r["vec_id"], r["m"], r["cid"], r["cell"])
            for r in codes.collect()
        )
        assert r_cent.count() == centroids.count() == vs.N_CELLS
        assert r_cb.count() == codebook.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_build_over_published_store_refuses_and_keeps_it(spark, sf_dir):
    """A build over a path that already holds a published store raises
    before it writes anything: every file of the live store is left as
    it was, and the store serves the same rows."""
    import os

    tmp = tempfile.mkdtemp(prefix="sgraft_vsrebuild_")
    emb = _emb(spark, sf_dir)

    def files():
        out = {}
        for d, _, fs in os.walk(tmp):
            for f in fs:
                with open(os.path.join(d, f), "rb") as fh:
                    out[os.path.relpath(os.path.join(d, f), tmp)] = fh.read()
        return out

    def serve():
        return vs.topk_from_index(
            *vs.read_index_versioned(spark, tmp), emb
        ).collect()

    try:
        vs.build_index(spark, sf_dir, tmp)
        before, rows = files(), serve()
        with pytest.raises(store.VersionConflict):
            vs.build_index(spark, sf_dir, tmp)
        assert files() == before
        assert store._published_versions(spark, tmp) == [1]
        assert serve() == rows and len(rows) == vs.TOP_K
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_probe_scan_is_cell_pruned(spark, sf_dir):
    """The probed-cells read touches exactly the probed cells: a literal
    cell filter over the cell-sorted segments returns only those cells'
    code rows, and the scan's pushed filters carry the cell predicate
    (row-group pruning, the IVF inverted-list property the layout
    exists for)."""
    tmp = tempfile.mkdtemp(prefix="sgraft_vstest_")
    try:
        vs.build_index(spark, sf_dir, tmp)
        _, _, codes = vs.read_index_versioned(spark, tmp)
        cells = [0, 1]
        pruned = codes.filter(F.col("cell").isin(cells))
        got_cells = {
            r["cell"] for r in pruned.select("cell").distinct().collect()
        }
        assert got_cells <= set(cells) and got_cells
        # the cell predicate is pushed into the parquet scan, where the
        # cell-sorted files' row-group statistics skip unprobed cells
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        assert any("In(cell," in ln for ln in pushed), plan[:2000]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_batch_stored_equals_in_memory_ranking(spark, sf_dir):
    """The batch serve (one store, N queries) must also be a pure
    roundtrip of the in-memory index frames."""
    centroids, codebook, codes = _in_memory_index(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    want = [
        (r["q_id"], r["vec_id"], r["cosine"])
        for r in vs.topk_batch_from_index(
            centroids, codebook, codes, emb
        ).collect()
    ]
    tmp = tempfile.mkdtemp(prefix="sgraft_vstest_")
    try:
        vs.build_index(spark, sf_dir, tmp)
        got = [
            (r["q_id"], r["vec_id"], r["cosine"])
            for r in vs.topk_batch_from_index(
                *vs.read_index_versioned(spark, tmp), emb
            ).collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert got == want
    # every query in the batch answered with a full top-k
    from collections import Counter

    per_q = Counter(q for q, _, _ in got)
    assert len(per_q) == vs.N_BATCH_QUERIES
    assert all(n == vs.TOP_K for n in per_q.values())


def test_bm25_stored_equals_direct_ranking(spark, sf_dir):
    """The lexical twin of the IVF-PQ store contract: serving from
    version 1 of the store (df counted over the pinned posting lists,
    stats from the manifest) must reproduce the direct BM25 ranking bit
    for bit (same quantized scores, same order).  The serve runs
    through serve_bm25_v2 over a build_bm25_index store — the SAME
    composition bench.py's bm25_index_serve_only metric times — so the
    verified path IS the timed path."""
    from intellect_bi_spark.operators import retrieval as rt

    want = [
        (r["doc_id"], r["n_hit_terms"], r["score_q"])
        for r in rt.bm25_topk_docs(spark, sf_dir).collect()
    ]
    tmp = tempfile.mkdtemp(prefix="sgraft_bm25test_")
    try:
        rt.build_bm25_index(spark, sf_dir, tmp)
        assert store._published_versions(spark, tmp) == [1]
        got = [
            (r["doc_id"], r["n_hit_terms"], r["score_q"])
            for r in rt.serve_bm25_v2(spark, tmp).collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert got == want and len(got) == rt.TOP_K


# --- incremental upsert (r12, VERDICT r11 #2) --------------------------------




def test_upsert_equals_full_rebuild(spark, sf_dir):
    """The merge loses/duplicates/corrupts nothing: the upserted code
    table and its serve ranking are IDENTICAL to a from-scratch rebuild
    over base+batch under the (batch-invariant) frozen model."""
    emb = _emb(spark, sf_dir)
    batch = emb.filter(vs._upsert_batch_pred())
    up_tmp = tempfile.mkdtemp(prefix="sgraft_upsert_")
    rb_tmp = tempfile.mkdtemp(prefix="sgraft_rebuild_")
    try:
        vs.build_index_frozen(spark, sf_dir, up_tmp)
        vs.upsert_index(spark, sf_dir, up_tmp, batch)
        # full rebuild: same reservoir model, ALL vectors encoded fresh
        vs._init_ann_versioned(
            spark, sf_dir, rb_tmp, emb, vs._reservoir_codebook(spark, sf_dir)
        )
        up_codes = sorted(
            (r["vec_id"], r["m"], r["cid"], r["cell"])
            for r in vs.read_index_versioned(spark, up_tmp)[2].collect()
        )
        rb_codes = sorted(
            (r["vec_id"], r["m"], r["cid"], r["cell"])
            for r in vs.read_index_versioned(spark, rb_tmp)[2].collect()
        )
        assert up_codes == rb_codes
        n_vecs = emb.count()
        assert len({(v, m) for v, m, _, _ in up_codes}) == n_vecs * 8
        up_serve = [
            (r["vec_id"], r["label"], r["cosine"])
            for r in vs.topk_from_index(
                *vs.read_index_versioned(spark, up_tmp), emb
            ).collect()
        ]
        rb_serve = [
            (r["vec_id"], r["label"], r["cosine"])
            for r in vs.topk_from_index(
                *vs.read_index_versioned(spark, rb_tmp), emb
            ).collect()
        ]
        assert up_serve == rb_serve and len(up_serve) == vs.TOP_K
    finally:
        shutil.rmtree(up_tmp, ignore_errors=True)
        shutil.rmtree(rb_tmp, ignore_errors=True)


def test_upsert_rewrites_only_affected_cells(spark, sf_dir):
    """The file-level copy-on-write claim under the r15 manifest
    pinning (VERDICT r11 #2 + r14 #2): the upsert never touches a
    pre-existing code file — all new files land in exactly ONE new
    segment whose cells are the batch's assigned cells, and the v=2
    manifest extends v=1's pin list by exactly that segment's
    entries."""
    emb = _emb(spark, sf_dir)
    batch = emb.filter(vs._upsert_batch_pred())
    tmp = tempfile.mkdtemp(prefix="sgraft_upsertfiles_")
    try:
        vs.build_index_frozen(spark, sf_dir, tmp)
        before = _tree_files(f"{tmp}/codes")
        m1 = store._manifest_entries(spark, tmp, 1)
        centroids = spark.read.parquet(f"{tmp}/centroids")
        batch_cells = {
            int(r["cell"])
            for r in vs._assign_cells(batch, centroids).collect()
        }
        assert batch_cells  # the fixture batch is non-empty
        vs.upsert_index(spark, sf_dir, tmp, batch)
        after = _tree_files(f"{tmp}/codes")
        for path, sz in before.items():
            assert after.get(path) == sz, f"{path}: old file changed"
        new_files = set(after) - set(before)
        assert new_files, "no new code files written"
        new_segs = {path.split("/", 1)[0] for path in new_files}
        assert len(new_segs) == 1, f"batch spread over {new_segs}"
        assert new_segs.isdisjoint({f"seg={seg}" for seg, _ in m1})
        m2 = store._manifest_entries(spark, tmp, 2)
        assert set(m1) <= set(m2), "v=2 manifest dropped a v=1 pin"
        added = set(m2) - set(m1)
        assert {c for _, c in added} == batch_cells
        assert {f"seg={seg}" for seg, _ in added} == new_segs
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _pinned_df(spark, path, v):
    """(term, df) of version ``v``, df counted over its pinned posting
    lists — what every serve counts."""
    from intellect_bi_spark.operators import retrieval as rt

    return sorted(
        (r["term"], r["df"])
        for r in store._read_segments(
            spark,
            f"{path}/postings",
            store._manifest_entries(spark, path, v),
            rt._BM25_POSTING_SCHEMA,
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    )


def _rebuild_df(docs):
    """(term, df) of a full rebuild over ``docs``."""
    from intellect_bi_spark.operators import retrieval as rt

    return sorted(
        (r["term"], r["df"])
        for r in rt._postings_of(rt._toks_of(docs))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    )


def _rebuild_stats(docs):
    """(n_docs, sum_len) of ``docs``, as a full rebuild computes them."""
    from intellect_bi_spark.operators import retrieval as rt

    r = rt._stats2_of(rt._toks_of(docs)).collect()[0]
    return (r["n_docs"], r["sum_len"])


def test_bm25_upsert_equals_rebuild_and_direct(spark, sf_dir):
    """The lexical upsert ≡ rebuild proof at the state level: after the
    base-build + batch-merge, the df of every term counted over the
    pinned posting lists and the manifest's (n_docs, sum_len) equal a
    full-corpus rebuild's exactly, and the served ranking equals the
    DIRECT full-corpus scoring bit for bit."""
    from intellect_bi_spark.operators import retrieval as rt

    want = [
        (r["doc_id"], r["n_hit_terms"], r["score_q"])
        for r in rt.bm25_topk_docs(spark, sf_dir).collect()
    ]
    tmp = tempfile.mkdtemp(prefix="sgraft_bm25up_")
    try:
        rt.build_bm25_index_v2(spark, sf_dir, tmp)
        batch = rt._base_docs(spark, sf_dir).filter(rt._doc_batch_pred())
        rt.upsert_bm25_index(spark, tmp, batch)
        got = [
            (r["doc_id"], r["n_hit_terms"], r["score_q"])
            for r in rt.serve_bm25_v2(spark, tmp).collect()
        ]
        assert got == want and len(got) == rt.TOP_K
        v = store._latest_version(spark, tmp)
        assert v == 2  # build wrote v=1, the upsert wrote v=2
        docs = rt._base_docs(spark, sf_dir)
        assert _pinned_df(spark, tmp, v) == _rebuild_df(docs)
        assert store._read_manifest(spark, tmp, v)["stats"] == (
            _rebuild_stats(docs)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _tree_files(root):
    """{relpath: size} for every parquet file under ``root`` — the
    byte-identity snapshot the copy-on-write assertions compare.  A
    FILE root (the r15 JSON manifests) snapshots as itself."""
    import os

    if os.path.isfile(root):
        return {os.path.basename(root): os.path.getsize(root)}
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def test_bm25_upsert_appends_only_batch_term_buckets(spark, sf_dir):
    """File-level copy-on-write under the manifest pinning (r14): the
    upsert never touches a pre-existing posting file — all new files
    land in exactly ONE new segment whose buckets are the batch's term
    buckets; the v=2 manifest extends v=1's pin list by exactly that
    segment's entries, with the batch's stats added; the superseded
    v=1 manifest stays untouched (snapshot isolation)."""
    from intellect_bi_spark.operators import retrieval as rt

    tmp = tempfile.mkdtemp(prefix="sgraft_bm25upfiles_")
    try:
        rt.build_bm25_index_v2(spark, sf_dir, tmp)
        before = _tree_files(f"{tmp}/postings")
        v1 = store._read_manifest(spark, tmp, 1)
        m1 = v1["pins"]
        batch = rt._base_docs(spark, sf_dir).filter(rt._doc_batch_pred())
        batch_buckets = {
            int(r["tb"])
            for r in rt._postings_of(rt._toks_of(batch))
            .select("tb")
            .distinct()
            .collect()
        }
        assert batch_buckets
        rt.upsert_bm25_index(spark, tmp, batch)
        after = _tree_files(f"{tmp}/postings")
        for p, sz in before.items():
            assert after.get(p) == sz, f"{p}: pre-existing file changed"
        new_files = set(after) - set(before)
        assert new_files, "no new posting files written"
        new_segs = {p.split("/", 1)[0] for p in new_files}
        assert len(new_segs) == 1, f"batch spread over {new_segs}"
        assert new_segs.isdisjoint({f"seg={s}" for s, _ in m1})
        m2 = store._manifest_entries(spark, tmp, 2)
        assert set(m1) <= set(m2), "v=2 manifest dropped a v=1 pin"
        added = set(m2) - set(m1)
        assert {t for _, t in added} == batch_buckets
        assert {f"seg={s}" for s, _ in added} == new_segs
        # v=1 is unchanged (snapshot isolation); v=2 adds the batch
        assert store._read_manifest(spark, tmp, 1) == v1
        bn, bs = _rebuild_stats(batch)
        n1, s1 = v1["stats"]
        assert store._read_manifest(spark, tmp, 2)["stats"] == (n1 + bn, s1 + bs)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bm25_v2_serve_prunes_term_buckets(spark, sf_dir):
    """The v2 serving scan must push BOTH the tb IN-filter (row-group
    pruning of the bucket-sorted segment files) and the term
    IN-filter into the parquet scan."""
    from intellect_bi_spark.operators import retrieval as rt

    tmp = tempfile.mkdtemp(prefix="sgraft_bm25upplan_")
    try:
        rt.build_bm25_index_v2(spark, sf_dir, tmp)
        plan = (
            rt.serve_bm25_v2(spark, tmp)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        assert any("In(term" in ln for ln in pushed), plan[:2000]
        assert any("In(tb," in ln for ln in pushed), plan[:2000]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bm25_stream_upsert_version_chain(spark, sf_dir):
    """The streaming ingest really runs as N_FEED_FILES micro-batches
    (maxFilesPerTrigger=1 under availableNow), each publishing one more
    manifest that carries its batch id — and the final version serves
    the exact direct full-corpus ranking, with df and stats equal to a
    rebuild's (the upsert chain composes).  A redelivered batch is
    skipped by its published bid."""
    import os

    from intellect_bi_spark.operators import retrieval as rt

    want = [
        (r["doc_id"], r["n_hit_terms"], r["score_q"])
        for r in rt.bm25_topk_docs(spark, sf_dir).collect()
    ]
    feed, init, upsert = rt._bm25_stream(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sgraft_bm25streamtest_")
    try:
        path = store.stream_into_store(spark, feed, tmp, init, upsert)
        assert store._latest_version(spark, path) == store.N_FEED_FILES
        # every intermediate version survives (snapshot isolation chain)
        for v in range(1, store.N_FEED_FILES + 1):
            assert os.path.isfile(
                store._table_dir(spark, path, "manifests", v)
            )
        got = [
            (r["doc_id"], r["n_hit_terms"], r["score_q"])
            for r in rt.serve_bm25_v2(spark, path).collect()
        ]
        assert got == want and len(got) == rt.TOP_K
        # final df and stats == full corpus accounting
        v = store._latest_version(spark, path)
        docs = rt._base_docs(spark, sf_dir)
        stats = store._read_manifest(spark, path, v)["stats"]
        assert stats == _rebuild_stats(docs)
        assert _pinned_df(spark, path, v) == _rebuild_df(docs)
        # exactly-once: every applied batch's id rides a published
        # version, so redelivering one through the sink must NOT
        # double-append — version, stats and served rows unchanged
        assert store._published_bids(spark, path) == set(
            range(store.N_FEED_FILES)
        )
        redelivered = docs.limit(5)
        for bid in (0, store.N_FEED_FILES - 1):
            store._apply_stream_batch(path, redelivered, bid, init, upsert)
            assert store._latest_version(spark, path) == v
            assert store._read_manifest(spark, path, v)["stats"] == stats
        got2 = [
            (r["doc_id"], r["n_hit_terms"], r["score_q"])
            for r in rt.serve_bm25_v2(spark, path).collect()
        ]
        assert got2 == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_compact_rewrites_only_affected_cells_to_one_file(spark, sf_dir):
    """After upsert, affected cells are pinned across 2 segments;
    compaction must (a) publish a snapshot whose manifest pins each
    affected cell in exactly ONE new segment, each cell held by one
    file of it, and identical code content, (b) leave every
    pre-existing file byte-untouched and every unaffected pin
    unchanged (copy-on-write — a reader of v=2 keeps its exact file
    set), and (c) leave the served ranking unchanged."""
    from collections import Counter

    emb = _emb(spark, sf_dir)
    batch = emb.filter(vs._upsert_batch_pred())
    tmp = tempfile.mkdtemp(prefix="sgraft_compact_")
    try:
        vs.build_index_frozen(spark, sf_dir, tmp)
        vs.upsert_index(spark, sf_dir, tmp, batch)
        centroids = spark.read.parquet(f"{tmp}/centroids")
        affected = {
            int(r["cell"])
            for r in vs._assign_cells(batch, centroids)
            .select("cell")
            .distinct()
            .collect()
        }
        before = _tree_files(f"{tmp}/codes")
        m2 = store._manifest_entries(spark, tmp, 2)
        pins_per_cell = Counter(c for _, c in m2)
        assert any(pins_per_cell[c] > 1 for c in affected)  # real fragmentation
        codes_before = sorted(
            (r["vec_id"], r["m"], r["cid"], r["cell"])
            for r in vs.read_index_versioned(spark, tmp)[2].collect()
        )
        serve_before = [
            (r["vec_id"], r["label"], r["cosine"])
            for r in vs.topk_from_index(
                *vs.read_index_versioned(spark, tmp), emb
            ).collect()
        ]
        vs.compact_index_cells(spark, tmp, sorted(affected))
        assert store._latest_version(spark, tmp) == 3  # a snapshot, not a rewrite
        after = _tree_files(f"{tmp}/codes")
        for path, sz in before.items():
            assert after.get(path) == sz, f"{path}: old file changed"
        m3 = store._manifest_entries(spark, tmp, 3)
        assert [e for e in m2 if e[1] not in affected] == [
            e for e in m3 if e[1] not in affected
        ], "unaffected pins changed"
        new_pins = set(m3) - set(m2)
        assert new_pins and {c for _, c in new_pins} == affected
        new_segs = {seg for seg, _ in new_pins}
        assert len(new_segs) == 1  # ONE coalesced segment
        seg = new_segs.pop()
        holders = _value_files(f"{tmp}/codes/seg={seg}", "cell")
        for c in affected:
            assert len(holders[c]) == 1, f"cell {c}: not coalesced to one file"
        codes_after = sorted(
            (r["vec_id"], r["m"], r["cid"], r["cell"])
            for r in vs.read_index_versioned(spark, tmp)[2].collect()
        )
        assert codes_after == codes_before
        serve_after = [
            (r["vec_id"], r["label"], r["cosine"])
            for r in vs.topk_from_index(
                *vs.read_index_versioned(spark, tmp), emb
            ).collect()
        ]
        assert serve_after == serve_before
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_ann_delete_rewrites_only_affected_cells(spark, sf_dir):
    """Deletion through the ANN store (VERDICT r12 #3), file level:
    only the cells holding deleted vectors are rewritten; every other
    cell's files are byte-untouched; the surviving code rows are
    exactly the full build minus the delete set; and the post-delete
    serve equals a from-scratch rebuild WITHOUT the deleted vectors
    (the erasure verifiably reached the derived store)."""
    import os

    emb = _emb(spark, sf_dir)
    dels = emb.filter(vs._delete_pred()).select("vec_id")
    del_ids = {r["vec_id"] for r in dels.collect()}
    assert del_ids  # the fixture erase set is non-empty
    tmp = tempfile.mkdtemp(prefix="sgraft_anndel_")
    try:
        from intellect_bi_spark.operators import retrieval as rt

        vs.build_index_frozen_full(spark, sf_dir, tmp)
        before = _tree_files(f"{tmp}/codes")
        m1 = store._manifest_entries(spark, tmp, 1)
        codes_before = sorted(
            (r["vec_id"], r["m"], r["cid"], r["cell"])
            for r in vs.read_index_versioned(spark, tmp)[2].collect()
        )
        serve_v1 = [
            tuple(r)
            for r in vs.topk_from_index(
                *vs.read_index_versioned(spark, tmp, v=1), emb
            ).collect()
        ]
        affected = vs.delete_from_index(spark, tmp, dels)
        assert affected  # ~10% of the corpus must hit some cell
        hit = set(affected)
        # copy-on-write: NO pre-existing file changes at all
        after = _tree_files(f"{tmp}/codes")
        for path, sz in before.items():
            assert after.get(path) == sz, f"{path}: pre-existing file changed"
        # untouched cells keep their exact v=1 pins; affected cells are
        # re-pinned to one survivor segment
        m2 = store._manifest_entries(spark, tmp, 2)
        assert [e for e in m1 if e[1] not in hit] == [
            e for e in m2 if e[1] not in hit
        ], "untouched cells re-pinned"
        new_pins = set(m2) - set(m1)
        assert new_pins and {c for _, c in new_pins} <= hit
        assert len({seg for seg, _ in new_pins}) == 1
        # the mid-delete reader (VERDICT r14 #2's Done): a reader
        # pinned at v=1 sees the COMPLETE pre-delete store — identical
        # pins, byte-identical files, identical served ranking — even
        # after the delete fully committed v=2
        assert store._manifest_entries(spark, tmp, 1) == m1
        for seg in {s for s, _ in m1}:
            pinned = {path for path in before if path.startswith(f"seg={seg}/")}
            assert pinned
            for path in pinned:
                assert after.get(path) == before[path], f"{path}: v1 file changed"
        got_v1 = [
            tuple(r)
            for r in vs.topk_from_index(
                *vs.read_index_versioned(spark, tmp, v=1), emb
            ).collect()
        ]
        assert got_v1 == serve_v1 and len(got_v1) == vs.TOP_K
        # surviving rows == full build minus the erase set, exactly
        codes_after = sorted(
            (r["vec_id"], r["m"], r["cid"], r["cell"])
            for r in vs.read_index_versioned(spark, tmp)[2].collect()
        )
        assert codes_after == [
            r for r in codes_before if r[0] not in del_ids
        ]
        # delete-then-serve == rebuild-without-docs serve, bit-exact.
        # The model is delete-invariant by construction (centroids are
        # vec_id 1..N_CELLS, the codebook reservoir is vec_id <
        # TRAIN_CAP, and the erase set is vec_id >= TRAIN_CAP), so a
        # from-scratch encode of ONLY the survivors is the true
        # independent rebuild.
        got = [
            tuple(r)
            for r in vs.topk_from_index(
                *vs.read_index_versioned(spark, tmp), emb
            ).collect()
        ]
        emb_kept = emb.join(dels, "vec_id", "left_anti")
        cents_kept = vs._centroids(emb_kept)
        cb = vs._reservoir_codebook(spark, sf_dir)
        codes_kept = vs._encode_codes(emb_kept, cb, cents_kept)
        want = [
            tuple(r)
            for r in vs.topk_from_index(
                cents_kept, cb, codes_kept, emb
            ).collect()
        ]
        assert got == want and len(got) == vs.TOP_K
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_ann_stream_upsert_marker_chain(spark, sf_dir):
    """The ANN ingest stream really runs as N_FEED_FILES micro-batches,
    each publishing one version whose publish marker carries its batch
    id, composes the full corpus into the codes table, and skips a
    redelivered batch id without double-appending."""
    emb = _emb(spark, sf_dir)
    feed, init, upsert = vs._ann_stream(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sgraft_annstreamtest_")
    try:
        path = store.stream_into_store(spark, feed, tmp, init, upsert)
        # one published version per applied batch, each carrying its bid
        assert store._latest_version(spark, path) == store.N_FEED_FILES
        assert store._published_bids(spark, path) == set(
            range(store.N_FEED_FILES)
        )
        codes = vs.read_index_versioned(spark, path)[2]
        n_corpus = emb.count()
        assert codes.select("vec_id").distinct().count() == n_corpus
        n_rows = codes.count()
        serve = [
            tuple(r)
            for r in vs.topk_from_index(
                *vs.read_index_versioned(spark, path), emb
            ).collect()
        ]
        # the composed store serves the single-pass full build's answer
        cents = vs._centroids(emb)
        cb = vs._reservoir_codebook(spark, sf_dir)
        want = [
            tuple(r)
            for r in vs.topk_from_index(
                cents, cb, vs._encode_codes(emb, cb, cents), emb
            ).collect()
        ]
        assert serve == want and len(serve) == vs.TOP_K
        # redelivery of an applied batch id through the sink changes
        # nothing: same version, same codes, same served rows
        for bid in (0, store.N_FEED_FILES - 1):
            store._apply_stream_batch(path, emb.limit(5), bid, init, upsert)
            assert store._latest_version(spark, path) == store.N_FEED_FILES
            codes2 = vs.read_index_versioned(spark, path)[2]
            assert codes2.count() == n_rows
            assert codes2.select("vec_id").distinct().count() == n_corpus
        assert [
            tuple(r)
            for r in vs.topk_from_index(
                *vs.read_index_versioned(spark, path), emb
            ).collect()
        ] == serve
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_vacuum_ann_store_retention_and_segment_gc(spark, sf_dir):
    """Retention vacuum on the manifest-pinned ANN store: after build
    (v=1, seg A) + full-cell compaction (v=2, seg B — seg A fully
    unpinned) + a planted losing-attempt manifest dir, vacuum
    (keep_last=1) removes the superseded v=1 manifest + marker, the
    attempt debris, and garbage-collects segment A; the live version's
    files are byte-untouched and the served ranking is unchanged.
    Idempotent: a second vacuum removes nothing."""
    import os

    emb = _emb(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sgraft_annvac_")
    try:
        vs.build_index_frozen(spark, sf_dir, tmp)
        m1 = store._manifest_entries(spark, tmp, 1)
        seg_a = {seg for seg, _ in m1}
        assert len(seg_a) == 1
        all_cells = sorted({c for _, c in m1})
        vs.compact_index_cells(spark, tmp, all_cells)
        assert store._latest_version(spark, tmp) == 2
        serve_before = [
            tuple(r)
            for r in vs.topk_from_index(
                *vs.read_index_versioned(spark, tmp), emb
            ).collect()
        ]
        # plant a losing attempt's staged manifest file (the race
        # debris vacuum owns; manifests are driver-written JSON files)
        shutil.copy(
            store._table_dir(spark, tmp, "manifests", 2),
            store._stage_path(tmp, "manifests", 2, "deadcafe"),
        )
        live_manifest = open(
            store._table_dir(spark, tmp, "manifests", 2), "rb"
        ).read()
        removed = vs.vacuum_ann_store(spark, tmp, keep_last=1)
        # v=1 manifest + the planted attempt file + segment A
        assert removed == 3
        assert store._published_versions(spark, tmp) == [2]
        assert not os.path.exists(store._stage_path(tmp, "manifests", 2, "deadcafe"))
        for seg in seg_a:
            assert not os.path.isdir(f"{tmp}/codes/seg={seg}")
        assert open(
            store._table_dir(spark, tmp, "manifests", 2), "rb"
        ).read() == live_manifest
        serve_after = [
            tuple(r)
            for r in vs.topk_from_index(
                *vs.read_index_versioned(spark, tmp), emb
            ).collect()
        ]
        assert serve_after == serve_before
        assert vs.vacuum_ann_store(spark, tmp, keep_last=1) == 0  # idempotent
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bm25_vacuum_retains_latest_leaves_live_files(spark, sf_dir):
    """Version retention, file level: after a 3-version chain (build +
    two upserts), vacuum(keep_last=1) removes exactly the two
    superseded manifests (v1, v2); every segment is pinned by the
    surviving manifest so the segment GC removes nothing and the
    postings tree is byte-untouched; the live manifest is
    byte-untouched; and serve-from-latest is unchanged."""
    from intellect_bi_spark.operators import retrieval as rt

    docs = rt._base_docs(spark, sf_dir)
    b1 = docs.filter(F.col("doc_id") % rt.DOC_UPSERT_MOD == rt.DOC_UPSERT_RES)
    b2 = docs.filter(F.col("doc_id") % rt.DOC_UPSERT_MOD == rt.DOC_UPSERT_RES2)
    base = docs.join(b1.unionByName(b2), "doc_id", "left_anti")

    tmp = tempfile.mkdtemp(prefix="sgraft_bm25vac_")
    try:
        rt._init_bm25_store(base, tmp)
        rt.upsert_bm25_index(spark, tmp, b1)
        rt.upsert_bm25_index(spark, tmp, b2)
        assert sorted(
            {v for v, _ in store._version_dirs(spark, f"{tmp}/manifests")}
        ) == [1, 2, 3]
        serve_before = [
            tuple(r) for r in rt.serve_bm25_v2(spark, tmp).collect()
        ]
        live = store._table_dir(spark, tmp, "manifests", 3)
        live_before = open(live, "rb").read()
        postings_before = _tree_files(f"{tmp}/postings")
        assert rt.vacuum_bm25_store(spark, tmp, keep_last=1) == 2
        assert sorted(
            {v for v, _ in store._version_dirs(spark, f"{tmp}/manifests")}
        ) == [3]
        assert open(live, "rb").read() == live_before
        assert _tree_files(f"{tmp}/postings") == postings_before
        serve_after = [
            tuple(r) for r in rt.serve_bm25_v2(spark, tmp).collect()
        ]
        assert serve_after == serve_before and len(serve_after) == rt.TOP_K
        assert rt.vacuum_bm25_store(spark, tmp, keep_last=1) == 0  # idempotent
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bm25_delete_equals_rebuild_without_docs(spark, sf_dir):
    """Deletion through the lexical store: after erasing the delete set
    from a full-corpus store, the df counted over the pinned posting
    lists, the manifest's (n_docs, sum_len), the pinned surviving
    postings, AND the served ranking all equal a from-scratch index of
    ONLY the survivors — every decremented integer lands exactly where
    the rebuild puts it (changed avgdl and idf included).  File level:
    NO pre-existing file changes at all — the delete is pure
    copy-on-write; untouched buckets keep their exact v=1 pins, the
    files holding erased docs are re-pinned to one new segment."""
    from intellect_bi_spark.operators import retrieval as rt

    docs = rt._base_docs(spark, sf_dir)
    dels = docs.filter(
        F.col("doc_id") % rt.DOC_UPSERT_MOD == rt.DOC_DELETE_RES
    )
    kept = docs.join(dels.select("doc_id"), "doc_id", "left_anti")
    tmp = tempfile.mkdtemp(prefix="sgraft_bm25del_")
    tmp2 = tempfile.mkdtemp(prefix="sgraft_bm25del_rebuild_")
    try:
        rt._init_bm25_store(docs, tmp)
        before = _tree_files(f"{tmp}/postings")
        m1 = store._manifest_entries(spark, tmp, 1)
        affected = set(rt.delete_from_bm25_index(spark, tmp, dels))
        assert affected
        after = _tree_files(f"{tmp}/postings")
        for p, sz in before.items():
            assert after.get(p) == sz, f"{p}: pre-existing file changed"
        m2 = store._manifest_entries(spark, tmp, 2)
        assert [e for e in m1 if e[1] not in affected] == [
            e for e in m2 if e[1] not in affected
        ], "untouched buckets re-pinned"
        new_pins = set(m2) - set(m1)
        assert new_pins and {t for _, t in new_pins} <= affected
        assert len({s for s, _ in new_pins}) == 1  # one survivor segment
        # independent rebuild over the survivors only
        rt._init_bm25_store(kept, tmp2)
        v = store._latest_version(spark, tmp)
        assert v == 2  # build wrote v=1, the delete wrote v=2
        assert _pinned_df(spark, tmp, v) == _pinned_df(spark, tmp2, 1)
        assert _pinned_df(spark, tmp, v) == _rebuild_df(kept)
        assert store._read_manifest(spark, tmp, v)["stats"] == (
            store._read_manifest(spark, tmp2, 1)["stats"]
        ) == _rebuild_stats(kept)
        got_postings = sorted(
            (r["term"], r["doc_id"], r["dl"], r["tf"])
            for r in store._read_segments(
                spark, f"{tmp}/postings", m2, rt._BM25_POSTING_SCHEMA
            ).collect()
        )
        want_postings = sorted(
            (r["term"], r["doc_id"], r["dl"], r["tf"])
            for r in store._read_segments(
                spark,
                f"{tmp2}/postings",
                store._manifest_entries(spark, tmp2, 1),
                rt._BM25_POSTING_SCHEMA,
            ).collect()
        )
        assert got_postings == want_postings
        got = [tuple(r) for r in rt.serve_bm25_v2(spark, tmp).collect()]
        want = [tuple(r) for r in rt.serve_bm25_v2(spark, tmp2).collect()]
        assert got == want and len(got) == rt.TOP_K
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(tmp2, ignore_errors=True)


def test_bm25_mid_delete_reader_sees_full_pre_delete_store(spark, sf_dir):
    """The r14 manifest upgrade's headline property (VERDICT r13 #3,
    closing ADVICE r13's delete-visibility gap): a reader pinned at
    version v — which is what any reader resolved mid-delete IS —
    sees the COMPLETE pre-delete store: identical served ranking and
    byte-identical pinned files, even after the delete has fully
    committed v+1.  The pre-manifest layout rewrote shared bucket
    files in place, so a v reader could observe post-delete postings
    under pre-delete stats; that state is now unreachable."""
    from intellect_bi_spark.operators import retrieval as rt

    docs = rt._base_docs(spark, sf_dir)
    dels = docs.filter(
        F.col("doc_id") % rt.DOC_UPSERT_MOD == rt.DOC_DELETE_RES
    )
    tmp = tempfile.mkdtemp(prefix="sgraft_bm25midread_")
    try:
        rt._init_bm25_store(docs, tmp)
        want_v1 = [
            tuple(r) for r in rt.serve_bm25_v2_at(spark, tmp, 1).collect()
        ]
        m1 = store._manifest_entries(spark, tmp, 1)
        before = _tree_files(f"{tmp}/postings")
        assert rt.delete_from_bm25_index(spark, tmp, dels)
        assert store._latest_version(spark, tmp) == 2
        # the v=1 reader's world is untouched: same pins, same bytes,
        # same answer
        assert store._manifest_entries(spark, tmp, 1) == m1
        after = _tree_files(f"{tmp}/postings")
        for s in {s for s, _ in m1}:
            pinned = {p for p in before if p.startswith(f"seg={s}/")}
            assert pinned
            for p in pinned:
                assert after.get(p) == before[p], f"{p}: v1 file changed"
        got_v1 = [
            tuple(r) for r in rt.serve_bm25_v2_at(spark, tmp, 1).collect()
        ]
        assert got_v1 == want_v1 and len(got_v1) == rt.TOP_K
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bm25_concurrent_upsert_conflict_retries(spark, sf_dir):
    """Optimistic writer concurrency: two interleaved upserts race the
    same version number.  Writer B completes an ENTIRE upsert — staging
    AND publishing v=2 — while writer A has already staged its own v=2
    manifest; A's conditional publish raises VersionConflict and its
    retry re-merges onto v=3.  A's stale staging cannot clobber B's
    published v=2, because the two writers stage under attempt-unique
    paths only they can name.  Asserted: (a) both batches survive and
    the final df (counted over the pinned posting lists) and stats
    equal a full rebuild's; (b) the WINNER's v=2 manifest is
    byte-identical after A's conflicting attempt + retry (the
    lost-update is unreachable); (c) the LOSER's staged v=2 manifest
    exists as debris and vacuum sweeps exactly it."""
    import os

    from intellect_bi_spark.operators import retrieval as rt

    docs = rt._base_docs(spark, sf_dir)
    b1 = docs.filter(F.col("doc_id") % rt.DOC_UPSERT_MOD == rt.DOC_UPSERT_RES)
    b2 = docs.filter(F.col("doc_id") % rt.DOC_UPSERT_MOD == rt.DOC_UPSERT_RES2)
    base = docs.join(b1.unionByName(b2), "doc_id", "left_anti")
    want = [
        (r["doc_id"], r["n_hit_terms"], r["score_q"])
        for r in rt.bm25_topk_docs(spark, sf_dir).collect()
    ]
    tmp = tempfile.mkdtemp(prefix="sgraft_bm25race_")
    orig = store._publish_version
    state = {"conflicts": 0, "fired": False, "winner_files": None}
    try:
        rt._init_bm25_store(base, tmp)

        def racy(sess, path, v, att, bid=None):
            if not state["fired"] and v == 2:
                state["fired"] = True
                # writer B completes an ENTIRE upsert (stage + publish
                # v=2) between A's staging and A's publish
                store._publish_version = orig
                try:
                    rt.upsert_bm25_index(sess, path, b2)
                finally:
                    store._publish_version = racy
                # snapshot the winner's published v=2 manifest bytes
                state["winner_files"] = open(
                    store._table_dir(sess, path, "manifests", 2), "rb"
                ).read()
            try:
                return orig(sess, path, v, att, bid)
            except store.VersionConflict:
                state["conflicts"] += 1
                raise

        store._publish_version = racy
        rt.upsert_bm25_index(spark, tmp, b1)  # writer A: loses v=2
    finally:
        store._publish_version = orig
    try:
        assert state["fired"] and state["conflicts"] == 1
        assert store._latest_version(spark, tmp) == 3
        # (b) the winner's v=2 manifest survived A's losing attempt
        # byte-identical — the lost-update is unreachable
        win2_path = store._table_dir(spark, tmp, "manifests", 2)
        assert open(win2_path, "rb").read() == state["winner_files"]
        # (c) the loser's staged v=2 manifest is present as debris ...
        win2 = os.path.basename(win2_path)
        loser_dirs = {
            d for d in os.listdir(f"{tmp}/manifests")
            if d.startswith("v=2-") and d != win2
        }
        assert loser_dirs, "loser staging missing — injection broke?"
        got = [
            (r["doc_id"], r["n_hit_terms"], r["score_q"])
            for r in rt.serve_bm25_v2(spark, tmp).collect()
        ]
        assert got == want and len(got) == rt.TOP_K
        # final df and stats == full-corpus rebuild (both batches merged)
        assert _pinned_df(spark, tmp, 3) == _rebuild_df(docs)
        assert store._read_manifest(spark, tmp, 3)["stats"] == (
            _rebuild_stats(docs)
        )
        # ... and vacuum sweeps exactly the loser's debris while the
        # retained versions' winning manifests survive
        rt.vacuum_bm25_store(spark, tmp, keep_last=3)
        after = set(os.listdir(f"{tmp}/manifests"))
        assert loser_dirs.isdisjoint(after)
        assert win2 in after
        got2 = [
            (r["doc_id"], r["n_hit_terms"], r["score_q"])
            for r in rt.serve_bm25_v2(spark, tmp).collect()
        ]
        assert got2 == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bm25_manifest_commit_gates_visibility(spark, sf_dir):
    """The marker commit: readers resolve only PUBLISHED versions, so a
    crashed writer's dangling v=N+1 manifest is invisible to serve, and
    vacuum sweeps it as the crash-recovery half.  Walks the whole
    lifecycle: build publishes v=1, upsert publishes v=2, a simulated
    mid-crash (a staged v=3 manifest, no marker) leaves the live
    version serving unchanged, and vacuum removes exactly the
    superseded + dangling manifests while the published chain stays
    intact."""
    import os

    from intellect_bi_spark.operators import retrieval as rt

    tmp = tempfile.mkdtemp(prefix="sgraft_bm25manifest_")
    try:
        rt.build_bm25_index_v2(spark, sf_dir, tmp)
        assert store._published_versions(spark, tmp) == [1]
        batch = rt._base_docs(spark, sf_dir).filter(rt._doc_batch_pred())
        rt.upsert_bm25_index(spark, tmp, batch)
        assert store._published_versions(spark, tmp) == [1, 2]
        assert store._latest_version(spark, tmp) == 2
        want = [tuple(r) for r in rt.serve_bm25_v2(spark, tmp).collect()]
        # simulate a writer that crashed AFTER staging its v=3 manifest
        # but BEFORE the marker commit (content is irrelevant — it must
        # be ignored)
        shutil.copy(
            store._table_dir(spark, tmp, "manifests", 2),
            store._stage_path(tmp, "manifests", 3, "deadcafe"),
        )
        assert sorted(
            {v for v, _ in store._version_dirs(spark, f"{tmp}/manifests")}
        ) == [1, 2, 3]
        assert store._latest_version(spark, tmp) == 2  # dangling invisible
        got = [tuple(r) for r in rt.serve_bm25_v2(spark, tmp).collect()]
        assert got == want  # serve unaffected by the crash debris
        # plus a marker whose writer died inside the create-to-close
        # window (empty body): it must gate nothing and vacuum must
        # sweep it as unresolvable
        open(f"{tmp}/_published/v=9", "w").close()
        assert store._latest_version(spark, tmp) == 2
        # vacuum removes the v=1 (superseded) AND v=3 (dangling)
        # manifests (every segment is pinned by the surviving v=2
        # manifest, so the segment GC removes 0)
        assert rt.vacuum_bm25_store(spark, tmp, keep_last=1) == 2
        assert sorted(
            {v for v, _ in store._version_dirs(spark, f"{tmp}/manifests")}
        ) == [2]
        assert store._published_versions(spark, tmp) == [2]
        assert not os.path.exists(f"{tmp}/_published/v=9")
        got2 = [tuple(r) for r in rt.serve_bm25_v2(spark, tmp).collect()]
        assert got2 == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_phrase_stored_equals_direct_ranking(spark, sf_dir):
    """The positional store is a pure roundtrip: serving the fixed
    phrase query from the persisted bucket-partitioned postings must
    reproduce the direct (tokenize-in-query) ranking bit for bit."""
    from intellect_bi_spark.operators import retrieval as rt

    want = [
        tuple(r) for r in rt.phrase_search_topk(spark, sf_dir).collect()
    ]
    assert want  # the fixture phrase must actually occur
    tmp = tempfile.mkdtemp(prefix="sgraft_phrasetest_")
    try:
        rt.build_phrase_index(spark, sf_dir, tmp)
        got = [
            tuple(r)
            for r in rt.serve_phrase_from_store(spark, tmp).collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert got == want


def test_phrase_serve_scan_prunes_and_pushes(spark, sf_dir):
    """The stored phrase serve must push BOTH the term-bucket IN-filter
    (row-group pruning of the bucket-sorted segment files) and the
    term predicates into every scan — the properties that keep a
    phrase query from reading the whole positional index at 100 TB."""
    from intellect_bi_spark.operators import retrieval as rt

    tmp = tempfile.mkdtemp(prefix="sgraft_phraseplan_")
    try:
        rt.build_phrase_index(spark, sf_dir, tmp)
        plan = (
            rt.serve_phrase_from_store(spark, tmp)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        assert pushed and all("In(tb," in ln for ln in pushed), plan[:2000]
        assert any("term" in ln for ln in pushed), plan[:2000]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_phrase_adjacency_semantics(spark):
    """Hand-built corpus locks the match semantics: order matters,
    adjacency matters, occurrences can overlap-count per anchor, and
    phrase_tf counts every anchored occurrence."""
    from intellect_bi_spark.operators import retrieval as rt

    w0, w1, w2 = rt.PHRASE
    docs = spark.createDataFrame(
        [
            # two clean occurrences
            (1, f"{w0} {w1} {w2} x {w0} {w1} {w2}"),
            # wrong order: no match
            (2, f"{w2} {w1} {w0}"),
            # gap breaks adjacency: no match
            (3, f"{w0} x {w1} {w2}"),
            # one occurrence at the very start
            (4, f"{w0} {w1} {w2}"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["phrase_tf"], r["first_pos"])
        for r in rt._phrase_topk(rt._pos_postings_of(docs)).collect()
    }
    assert got == {1: (2, 0), 4: (1, 0)}


def test_bm25_compact_rewrites_only_affected_buckets_to_one_file(
    spark, sf_dir
):
    """After upsert, the batch's term buckets are pinned across 2
    segments; compaction must (a) re-pin each affected bucket to ONE
    new segment in which exactly one file holds it, with identical
    posting rows, (b) keep every untouched bucket's pins unchanged and
    every pre-existing file byte-identical (pure copy-on-write — the
    v=2 reader is undisturbed), and (c) leave the served ranking
    unchanged across the new snapshot."""
    from intellect_bi_spark.operators import retrieval as rt

    tmp = tempfile.mkdtemp(prefix="sgraft_bm25compact_")
    try:
        rt.build_bm25_index_v2(spark, sf_dir, tmp)
        batch = rt._base_docs(spark, sf_dir).filter(rt._doc_batch_pred())
        rt.upsert_bm25_index(spark, tmp, batch)
        affected = {
            int(r["tb"])
            for r in rt._postings_of(rt._toks_of(batch))
            .select("tb")
            .distinct()
            .collect()
        }
        m2 = store._manifest_entries(spark, tmp, 2)
        # fragmentation real: every affected bucket pinned in 2 segments
        for b in affected:
            assert len({s for s, t in m2 if t == b}) == 2
        before = _tree_files(f"{tmp}/postings")
        rows_before = sorted(
            (r["term"], r["doc_id"], r["dl"], r["tf"])
            for r in store._read_segments(
                spark, f"{tmp}/postings", m2, rt._BM25_POSTING_SCHEMA
            ).collect()
        )
        serve_before = [
            tuple(r) for r in rt.serve_bm25_v2(spark, tmp).collect()
        ]
        rt.compact_bm25_buckets(spark, tmp, sorted(affected))
        assert store._latest_version(spark, tmp) == 3  # compaction snapshots
        after = _tree_files(f"{tmp}/postings")
        for p, sz in before.items():
            assert after.get(p) == sz, f"{p}: pre-existing file changed"
        m3 = store._manifest_entries(spark, tmp, 3)
        assert [e for e in m2 if e[1] not in affected] == [
            e for e in m3 if e[1] not in affected
        ], "untouched buckets re-pinned"
        new_segs = {s for s, t in m3 if t in affected}
        assert len(new_segs) == 1 and new_segs.isdisjoint(
            {s for s, _ in m2}
        )
        for b in affected:
            pins = [(s, t) for s, t in m3 if t == b]
            assert len(pins) == 1, f"tb={b}: not re-pinned to one segment"
            holders = _value_files(f"{tmp}/postings/seg={pins[0][0]}", "tb")
            assert len(holders[b]) == 1, f"tb={b}: not coalesced to one file"
        rows_after = sorted(
            (r["term"], r["doc_id"], r["dl"], r["tf"])
            for r in store._read_segments(
                spark, f"{tmp}/postings", m3, rt._BM25_POSTING_SCHEMA
            ).collect()
        )
        assert rows_after == rows_before
        serve_after = [
            tuple(r) for r in rt.serve_bm25_v2(spark, tmp).collect()
        ]
        assert serve_after == serve_before
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_near_search_semantics_and_plan(spark):
    """Hand-built corpus locks NEAR semantics: either order matches,
    the window boundary is inclusive, pairs straddling a position
    bucket edge are found EXACTLY once (the 3-bucket explosion loses
    nothing and double-counts nothing), and out-of-window pairs do not
    match.  The plan must realize proximity as an EQUI-join — no
    nested-loop/cartesian anywhere."""
    from intellect_bi_spark.operators import retrieval as rt

    t0, t1 = rt.NEAR_TERMS
    w = rt.NEAR_W
    docs = spark.createDataFrame(
        [
            # gap exactly W (inclusive boundary), t0 first
            (1, f"{t0} x x {t1}"),
            # reversed order, gap 1
            (2, f"{t1} {t0}"),
            # straddles the bucket edge: t0 at pos 2 (bucket 0), t1 at
            # pos 3 (bucket 1) — must count exactly once
            (3, f"x x {t0} {t1}"),
            # gap W+1: no match
            (4, f"{t0} x x x {t1}"),
            # two qualifying pairs: t1 at 1 and 3 around t0 at 2
            (5, f"x {t1} {t0} {t1}"),
        ],
        "doc_id long, text string",
    )
    df = rt._near_topk(rt._pos_postings_of(docs))
    got = {
        r["doc_id"]: (r["near_tf"], r["min_gap"]) for r in df.collect()
    }
    assert got == {1: (1, w), 2: (1, 1), 3: (1, 1), 5: (2, 1)}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan[:1500]


def test_near_stored_equals_direct_and_prunes(spark, sf_dir):
    """One positional store serves both query shapes: the stored NEAR
    serve equals the direct ranking bit for bit, and its scan pushes
    the bucket IN-filter + term predicates."""
    from intellect_bi_spark.operators import retrieval as rt

    want = [
        tuple(r) for r in rt.near_search_topk(spark, sf_dir).collect()
    ]
    assert want
    tmp = tempfile.mkdtemp(prefix="sgraft_neartest_")
    try:
        rt.build_phrase_index(spark, sf_dir, tmp)
        served = rt.serve_near_from_store(spark, tmp)
        got = [tuple(r) for r in served.collect()]
        plan = served._jdf.queryExecution().executedPlan().toString()
        pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        # both NEAR terms hash into one bucket, which Spark pushes as
        # an equality rather than a one-value IN
        assert pushed and all(
            "In(tb," in ln or "EqualTo(tb," in ln for ln in pushed
        ), plan[:2000]
        assert any("term" in ln for ln in pushed), plan[:2000]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert got == want


def test_phrase_store_upsert_delete_copy_on_write(spark, sf_dir):
    """Positional-store CRUD (VERDICT r13 #5): upsert-then-serve equals
    the direct full-corpus probes, delete-then-serve equals the direct
    survivors-only probes (BOTH probe shapes), and the delete is pure
    copy-on-write — every pre-existing file byte-identical, untouched
    buckets' pins unchanged."""
    from intellect_bi_spark.operators import retrieval as rt

    docs = rt._base_docs(spark, sf_dir)
    batch = docs.filter(rt._doc_batch_pred())
    base = docs.filter(~rt._doc_batch_pred())
    # --- upsert ---------------------------------------------------------
    want_ph = [tuple(r) for r in rt._phrase_topk(rt._pos_postings_of(docs)).collect()]
    want_nr = [tuple(r) for r in rt._near_topk(rt._pos_postings_of(docs)).collect()]
    tmp = tempfile.mkdtemp(prefix="sgraft_posup_")
    try:
        rt._init_pos_store(base, tmp)
        rt.upsert_phrase_index(spark, tmp, batch)
        assert store._latest_version(spark, tmp) == 2
        got_ph = [tuple(r) for r in rt.serve_phrase_from_store(spark, tmp).collect()]
        got_nr = [tuple(r) for r in rt.serve_near_from_store(spark, tmp).collect()]
        assert got_ph == want_ph and got_nr == want_nr
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # --- delete ---------------------------------------------------------
    dels = docs.filter(F.col("doc_id") % rt.DOC_UPSERT_MOD == rt.DOC_DELETE_RES)
    surv = docs.join(dels.select("doc_id"), "doc_id", "left_anti")
    want_ph = [tuple(r) for r in rt._phrase_topk(rt._pos_postings_of(surv)).collect()]
    want_nr = [tuple(r) for r in rt._near_topk(rt._pos_postings_of(surv)).collect()]
    tmp = tempfile.mkdtemp(prefix="sgraft_posdel_")
    try:
        rt._init_pos_store(docs, tmp)
        m1 = store._manifest_entries(spark, tmp, 1)
        before = _tree_files(f"{tmp}/{rt._POS_ROOT}")
        affected = set(rt.delete_from_phrase_index(spark, tmp, dels))
        assert affected
        after = _tree_files(f"{tmp}/{rt._POS_ROOT}")
        for p, sz in before.items():
            assert after.get(p) == sz, f"{p}: pre-existing file changed"
        m2 = store._manifest_entries(spark, tmp, 2)
        assert [e for e in m1 if e[1] not in affected] == [
            e for e in m2 if e[1] not in affected
        ]
        got_ph = [tuple(r) for r in rt.serve_phrase_from_store(spark, tmp).collect()]
        got_nr = [tuple(r) for r in rt.serve_near_from_store(spark, tmp).collect()]
        assert got_ph == want_ph and got_nr == want_nr
        # version-pinned reader of v=1 still sees the pre-delete probes
        pre_ph = [
            tuple(r)
            for r in rt._phrase_topk(
                rt._pos_store_postings(spark, tmp, rt.PHRASE, v=1)
            ).collect()
        ]
        full_ph = [tuple(r) for r in rt._phrase_topk(rt._pos_postings_of(docs)).collect()]
        assert pre_ph == full_ph
        # vacuum drops v=1 and GCs the now-unreferenced init pins of
        # the affected buckets
        removed = rt.vacuum_phrase_store(spark, tmp, keep_last=1)
        assert removed >= 1
        got_ph2 = [tuple(r) for r in rt.serve_phrase_from_store(spark, tmp).collect()]
        assert got_ph2 == want_ph
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_phrase_batch_matches_singles_and_one_scan(spark, sf_dir):
    """The batch phrase serve must (a) reproduce, per query id, the
    single-phrase chain's head (projected to the shared columns), and
    (b) run as ONE pinned postings scan — no per-query loop, no
    re-scan, no cartesian (VERDICT r13 #6)."""
    from intellect_bi_spark.operators import retrieval as rt

    tmp = tempfile.mkdtemp(prefix="sgraft_posbatch_")
    try:
        rt._init_pos_store(rt._base_docs(spark, sf_dir), tmp)
        served = rt.serve_phrase_batch_from_store(spark, tmp)
        rows = served.collect()
        got = {}
        for r in rows:
            got.setdefault(r["qid"], []).append(
                (r["doc_id"], r["phrase_tf"], r["first_pos"])
            )
        pp_all = rt._pos_postings_of(rt._base_docs(spark, sf_dir))
        for qid, words in rt.PHRASE_BATCH:
            occ = pp_all.filter(F.col("term") == words[0]).select(
                "doc_id", "dl", F.col("pos").alias("p0")
            )
            for i, term in enumerate(words[1:], start=1):
                nxt = pp_all.filter(F.col("term") == term).select(
                    "doc_id", (F.col("pos") - i).alias("p0")
                )
                occ = occ.join(nxt, ["doc_id", "p0"])
            want = [
                (r["doc_id"], r["phrase_tf"], r["first_pos"])
                for r in occ.groupBy("doc_id", "dl")
                .agg(
                    F.count(F.lit(1)).alias("phrase_tf"),
                    F.min("p0").alias("first_pos"),
                )
                .orderBy(F.desc("phrase_tf"), "doc_id")
                .limit(rt.PHRASE_BATCH_K)
                .collect()
            ]
            assert got.get(qid, []) == want, f"qid={qid} mismatch"
        plan = served._jdf.queryExecution().executedPlan().toString()
        # post-execution AQE plans print "== Final Plan ==" AND
        # "== Initial Plan ==" — count scans in the final section only
        final = plan.split("== Initial Plan ==")[0]
        scans = [
            ln
            for ln in final.splitlines()
            if "Scan parquet" in ln and rt._POS_ROOT in ln
        ]
        assert len(scans) == 1, f"{len(scans)} postings scans:\n" + final[:2000]
        assert "Cartesian" not in plan and "NestedLoop" not in plan
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_ann_filtered_topk_semantics_and_plan(spark, sf_dir):
    """Metadata-filtered ANN (VERDICT r13 #8): every returned row
    matches the label predicate; the result equals brute-force-with-
    filter restricted to the probed cells' candidates (the exact
    contract of pre-rank filtering); and the label predicate is pushed
    into the embeddings scan — it lands BEFORE the distance fold."""
    from intellect_bi_spark.operators import similarity as sim

    df = sim.ann_filtered_topk(spark, sf_dir)
    rows = df.collect()
    assert rows and all(r["label"] == sim.FILTER_LABEL for r in rows)
    # brute-force-with-filter over the same candidate set
    emb = sim._emb(spark, sf_dir)
    assign = sim.ivf_assignments(spark, sf_dir)
    cents = emb.filter(F.col("vec_id").between(1, sim.N_CELLS)).select(
        (F.col("vec_id") - 1).cast("int").alias("cell"),
        F.col("embedding").alias("c_emb"),
    )
    q = emb.filter(F.col("vec_id") == sim.QUERY_VEC_ID).select(
        F.col("embedding").alias("q_emb")
    )
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select(
            "cell",
            (
                sim._dot("c_emb", "q_emb")
                / (sim._norm("c_emb") * sim._norm("q_emb"))
            ).alias("q_cos"),
        )
        .orderBy(F.desc("q_cos"), "cell")
        .limit(sim.N_PROBE)
        .select("cell")
    )
    cand = (
        assign.join(F.broadcast(probe), "cell", "left_semi")
        .filter(F.col("vec_id") != sim.QUERY_VEC_ID)
        .select("vec_id")
    )
    want = [
        (r["vec_id"], r["label"], r["cosine"])
        for r in emb.join(cand, "vec_id", "left_semi")
        .filter(F.col("label") == sim.FILTER_LABEL)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            (
                sim._dot("embedding", "q_emb")
                / (sim._norm("embedding") * sim._norm("q_emb"))
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(sim.TOP_K)
        .collect()
    ]
    assert [(r["vec_id"], r["label"], r["cosine"]) for r in rows] == want
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any(
        "label" in ln and str(sim.FILTER_LABEL) in ln for ln in pushed
    ), plan[:2000]


def test_near_batch_matches_singles_and_one_scan(spark, sf_dir):
    """The batch NEAR serve (VERDICT r14 #6) must (a) reproduce, per
    query id, the single-pair banded chain's head, and (b) run as ONE
    pinned postings scan — the grouped pair-count formulation folds
    both sides of every query into a single scan (a naive two-sided
    join would cost one scan per side), no per-query loop, no
    cartesian."""
    from intellect_bi_spark.operators import retrieval as rt

    tmp = tempfile.mkdtemp(prefix="sgraft_nearbatch_")
    try:
        rt._init_pos_store(rt._base_docs(spark, sf_dir), tmp)
        served = rt.serve_near_batch_from_store(spark, tmp)
        rows = served.collect()
        got = {}
        for r in rows:
            got.setdefault(r["qid"], []).append(
                (r["doc_id"], r["near_tf"], r["min_gap"])
            )
        pp_all = rt._pos_postings_of(rt._base_docs(spark, sf_dir))
        for qid, (ta, tb) in rt.NEAR_BATCH:
            a = pp_all.filter(F.col("term") == ta).select(
                "doc_id", "dl", F.col("pos").alias("pa")
            )
            b = pp_all.filter(F.col("term") == tb).select(
                "doc_id", F.col("pos").alias("pb")
            )
            want = [
                (r["doc_id"], r["near_tf"], r["min_gap"])
                for r in a.join(b, "doc_id")
                .filter(F.abs(F.col("pa") - F.col("pb")) <= rt.NEAR_W)
                .groupBy("doc_id", "dl")
                .agg(
                    F.count(F.lit(1)).alias("near_tf"),
                    F.min(F.abs(F.col("pa") - F.col("pb"))).alias(
                        "min_gap"
                    ),
                )
                .orderBy(F.desc("near_tf"), "doc_id")
                .limit(rt.NEAR_BATCH_K)
                .collect()
            ]
            assert got.get(qid, []) == want, f"qid={qid} mismatch"
        plan = served._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        scans = [
            ln
            for ln in final.splitlines()
            if "Scan parquet" in ln and rt._POS_ROOT in ln
        ]
        assert len(scans) == 1, f"{len(scans)} postings scans:\n" + final[:2000]
        assert "Cartesian" not in plan and "NestedLoop" not in plan
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bm25_batch_matches_singles_and_one_scan(spark, sf_dir):
    """The batch BM25 serve (VERDICT r14 #6) must (a) score each query
    id exactly as the fixed-query fold scores its term set (the qid
    carrying QUERY_TERMS must reproduce serve_bm25_v2's head within
    the batch k), and (b) run as ONE pinned postings scan with the
    term IN-filter pushed."""
    from intellect_bi_spark.operators import retrieval as rt

    tmp = tempfile.mkdtemp(prefix="sgraft_bm25batch_")
    try:
        rt._init_bm25_store(rt._base_docs(spark, sf_dir), tmp)
        served = rt.serve_bm25_batch_from_store(spark, tmp)
        rows = served.collect()
        got = {}
        for r in rows:
            got.setdefault(r["qid"], []).append(
                (r["doc_id"], r["n_hit_terms"], r["score_q"])
            )
        # qid 1 IS the fixed query — its batch head must equal the
        # certified fixed-query serve's head, bit for bit
        fixed = [
            (r["doc_id"], r["n_hit_terms"], r["score_q"])
            for r in rt.serve_bm25_v2(spark, tmp).collect()
        ]
        qid_fixed = next(
            qid for qid, ts in rt.BM25_BATCH if tuple(ts) == rt.QUERY_TERMS
        )
        assert got[qid_fixed] == fixed[: rt.BM25_BATCH_K]
        for qid, _ in rt.BM25_BATCH:
            assert len(got.get(qid, [])) <= rt.BM25_BATCH_K
        plan = served._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        scans = [
            ln
            for ln in final.splitlines()
            if "Scan parquet" in ln and "/postings/" in ln
        ]
        assert len(scans) == 1, f"{len(scans)} postings scans:\n" + final[:2000]
        pushed = [ln for ln in final.splitlines() if "PushedFilters" in ln]
        assert any("In(term" in ln for ln in pushed), final[:2000]
        assert "CartesianProduct" not in plan
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _topk_from_bm25_tables(postings, lexicon, stats):
    """The fixed query's direct term-ordered fold over explicit
    (term, doc_id, tf, dl) postings, (term, df) lexicon and one-row
    (avgdl, n_docs) stats frames: the reference a filtered serve is
    checked against."""
    from intellect_bi_spark.operators import retrieval as rt

    hit = postings.filter(F.col("term").isin(*rt.QUERY_TERMS))
    lex = lexicon.filter(F.col("term").isin(*rt.QUERY_TERMS))
    scored = (
        hit.join(F.broadcast(lex), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            F.expr(rt._bm25_term_score("tf", "df", "dl", "n_docs")).alias(
                "s"
            ),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hit_terms"),
        F.array_sort(F.collect_list(F.struct("term", "s"))).alias("ts"),
    )
    return (
        per_doc.select(
            "doc_id",
            "n_hit_terms",
            F.expr(rt._SCORE_Q_SQL).alias("score_q"),
        )
        .orderBy(F.desc("score_q"), "doc_id")
        .limit(rt.TOP_K)
    )


def test_bm25_filtered_topk_semantics_and_plan(spark, sf_dir):
    """Metadata-filtered lexical retrieval (VERDICT r14 #7, the
    ann_filtered_topk twin): every returned doc satisfies the lang
    predicate; the result equals direct-scoring-with-filter (global
    stats, candidates restricted); and the lang equality is PUSHED
    into the documents scan — the filter runs before the score fold,
    not over its output."""
    from intellect_bi_spark.catalog import load_tables
    from intellect_bi_spark.operators import retrieval as rt

    tmp = tempfile.mkdtemp(prefix="sgraft_bm25filt_")
    try:
        rt._init_bm25_store(rt._base_docs(spark, sf_dir), tmp)
        docs_meta = load_tables(spark, sf_dir)["documents"].select(
            "doc_id", "lang"
        )
        served = rt.serve_bm25_filtered_from_store(spark, tmp, docs_meta)
        rows = served.collect()
        assert rows
        en_ids = {
            r["doc_id"]
            for r in docs_meta.filter(
                F.col("lang") == rt.FILTER_LANG
            ).collect()
        }
        assert {r["doc_id"] for r in rows} <= en_ids
        # direct-scoring-with-filter: the certified fixed-query fold
        # over ONLY the qualifying docs (not the unfiltered top-k
        # truncated after the fact — the filter must run before the
        # ranking, so docs below the unfiltered top-k can surface),
        # with df counted over ALL pinned posting lists and the
        # manifest's stats
        v = store._latest_version(spark, tmp)
        pinned = store._read_segments(
            spark,
            f"{tmp}/postings",
            store._manifest_entries(spark, tmp, v),
            rt._BM25_POSTING_SCHEMA,
        )
        n_docs, sum_len = store._read_manifest(spark, tmp, v)["stats"]
        full = _topk_from_bm25_tables(
            pinned.join(
                docs_meta.filter(
                    F.col("lang") == rt.FILTER_LANG
                ).select("doc_id"),
                "doc_id",
                "left_semi",
            ),
            pinned.groupBy("term").agg(F.count(F.lit(1)).alias("df")),
            spark.createDataFrame(
                [(float(sum_len) / float(n_docs), n_docs)],
                "avgdl double, n_docs bigint",
            ),
        )
        want = [
            (r["doc_id"], r["n_hit_terms"], r["score_q"])
            for r in full.collect()
        ]
        assert [
            (r["doc_id"], r["n_hit_terms"], r["score_q"]) for r in rows
        ] == want
        plan = served._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        pushed = [ln for ln in final.splitlines() if "PushedFilters" in ln]
        assert any(
            "EqualTo(lang," in ln for ln in pushed
        ), final[:2000]
        assert "CartesianProduct" not in plan
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_pos_stream_upsert_version_chain(spark, sf_dir):
    """The positional ingest stream: N_FEED_FILES micro-batches each
    publish one more manifest version carrying its batch id, the
    stream-composed store serves BOTH probes exactly as a single-pass
    build does, and a redelivered batch is skipped by its published
    bid."""
    import os

    from intellect_bi_spark.operators import retrieval as rt

    feed, init, upsert = rt._pos_stream(spark, sf_dir)
    build_tmp = tempfile.mkdtemp(prefix="sgraft_posstream_build_")
    tmp = tempfile.mkdtemp(prefix="sgraft_posstreamtest_")
    try:
        rt._init_pos_store(rt._base_docs(spark, sf_dir), build_tmp)
        want = rt._pos_probes_from_store(spark, build_tmp).collect()
        path = store.stream_into_store(spark, feed, tmp, init, upsert)
        assert store._latest_version(spark, path) == store.N_FEED_FILES
        # every intermediate manifest survives (snapshot chain)
        for v in range(1, store.N_FEED_FILES + 1):
            assert os.path.isfile(
                store._table_dir(spark, path, "manifests", v)
            )
        got = rt._pos_probes_from_store(spark, path).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
        # exactly-once: redelivery through the sink is skipped by the
        # bid its published version carries
        v = store._latest_version(spark, path)
        assert store._published_bids(spark, path) == set(
            range(store.N_FEED_FILES)
        )
        pins = store._manifest_entries(spark, path, v)
        redelivered = rt._base_docs(spark, sf_dir).limit(5)
        for bid in (0, store.N_FEED_FILES - 1):
            store._apply_stream_batch(path, redelivered, bid, init, upsert)
            assert store._latest_version(spark, path) == v
            assert store._manifest_entries(spark, path, v) == pins
        got2 = rt._pos_probes_from_store(spark, path).collect()
        assert [tuple(r) for r in got2] == [tuple(r) for r in want]
    finally:
        shutil.rmtree(build_tmp, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
