"""The shared segment protocol of the versioned stores (BM25, positional,
IVF-PQ codes, HLL sketch rollup), checked across all four families:

- building a serve frame submits no Spark job before the caller's action
  (declared read schemas, no inference or parallel-listing job);
- the declared read schemas equal what the writers put on disk, after a
  build → upsert → delete → compact lifecycle;
- every segment a lifecycle step writes is one directory of files in
  which each value of the segment's value column lies in exactly one
  file, sorted, and the value list the write returns (what manifests
  pin) is exactly the set of values stored;
- the stream sink ignores an empty micro-batch, at the first bid and
  at a later one;
- every family's manifest is one JSON object ``{"pins": [...]}`` (BM25
  adds ``"stats"``) that round-trips through ``_read_manifest``;
- the BM25 steps stay within their Spark job budgets, and a delete
  rewrites only the files holding an erased doc;
- every ANN and sketch mutation that loses a publish race retries onto
  the winner's version without disturbing it.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, _parse_datatype_string

from intellect_bi_spark import store
from intellect_bi_spark.catalog import load_tables
from intellect_bi_spark.operators import retrieval as rt
from intellect_bi_spark.operators import sketches as sk
from intellect_bi_spark.operators import vectorstore as vs
from tests.test_plans import _group_jobs

FAMILIES = ("bm25", "positional", "ann", "sketch")
STREAMS = {  # family → its ingest stream's (feed, init, upsert)
    "bm25": rt._bm25_stream,
    "positional": rt._pos_stream,
    "ann": vs._ann_stream,
    "sketch": sk._sketch_stream,
}


def _docs(spark, sf_dir):
    return load_tables(spark, sf_dir)["documents"].select("doc_id", "text")


def _events(spark, sf_dir):
    return load_tables(spark, sf_dir)["events"].filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )


def _segments(root: str) -> set[str]:
    if not os.path.isdir(root):
        return set()
    return {d for d in os.listdir(root) if d.startswith("seg=")}


def _value_files(seg_dir: str, pcol: str) -> dict:
    """Value → the data files of one segment directory holding it, read
    with pyarrow; asserts each file stores its values sorted."""
    out: dict = {}
    for f in sorted(os.listdir(seg_dir)):
        if not f.endswith(".parquet") or f.startswith((".", "_")):
            continue
        col = pq.read_table(f"{seg_dir}/{f}", columns=[pcol])[pcol]
        values = col.to_pylist()
        assert values == sorted(values), (seg_dir, f, "not sorted")
        for v in set(values):
            out.setdefault(v, []).append(f)
    return out


# family → (segment root under the store, value column, logical
# schema, unversioned tables with their declared schemas)
_LAYOUT = {
    "bm25": ("postings", "tb", rt._BM25_POSTING_SCHEMA, {}),
    "positional": (rt._POS_ROOT, "tb", rt._POS_POSTING_SCHEMA, {}),
    "ann": (
        vs._ANN_CODES_ROOT,
        "cell",
        vs._ANN_CODES_SCHEMA,
        vs._ANN_MODEL_SCHEMAS,
    ),
    "sketch": (sk._SK_ROOT, "day_part", sk._SK_CELL_SCHEMA, {}),
}


def _lifecycle(spark, sf_dir, family: str, path: str) -> dict[str, set]:
    """Run build → upsert → delete → compact on one store family (the
    positional store has no compaction); return the segments each step
    wrote."""
    root = f"{path}/{_LAYOUT[family][0]}"
    if family == "bm25":
        docs = _docs(spark, sf_dir)
        steps = [
            ("build", lambda: rt.build_bm25_index_v2(spark, sf_dir, path)),
            ("upsert", lambda: rt.upsert_bm25_index(
                spark, path, docs.filter(rt._doc_batch_pred()))),
            ("delete", lambda: rt.delete_from_bm25_index(
                spark, path, docs.filter(F.col("doc_id") % 10 == 3))),
            ("compact", lambda: rt.compact_bm25_buckets(
                spark, path, range(rt.N_TB))),
        ]
    elif family == "positional":
        docs = _docs(spark, sf_dir)
        held = F.col("doc_id") % 10 == 7
        steps = [
            ("build", lambda: rt._init_pos_store(docs.filter(~held), path)),
            ("upsert", lambda: rt.upsert_phrase_index(
                spark, path, docs.filter(held))),
            ("delete", lambda: rt.delete_from_phrase_index(
                spark, path, docs.filter(F.col("doc_id") % 10 == 3))),
        ]
    elif family == "ann":
        emb = load_tables(spark, sf_dir)["embeddings"]
        steps = [
            ("build", lambda: vs.build_index_frozen(spark, sf_dir, path)),
            ("upsert", lambda: vs.upsert_index(
                spark, sf_dir, path, emb.filter(vs._upsert_batch_pred()))),
            ("delete", lambda: vs.delete_from_index(
                spark, path, emb.filter(vs._delete_pred()).select("vec_id"))),
            ("compact", lambda: vs.compact_index_cells(
                spark, path, range(vs.N_CELLS))),
        ]
    else:
        ev = _events(spark, sf_dir)
        erased = sk._del_users_pred()
        steps = [
            ("build", lambda: sk._init_sketch_store(ev, path)),
            ("delete", lambda: sk.delete_users_from_sketch_store(
                spark, path, ev, erased)),
            ("upsert", lambda: sk.upsert_sketch_rollup_store(
                ev.filter(erased), path)),
            ("compact", lambda: sk.compact_sketch_store(spark, path)),
        ]
    written = {}
    for step, run in steps:
        before = _segments(root)
        run()
        written[step] = _segments(root) - before
    return written


@contextlib.contextmanager
def _recorded_writes():
    """Record the value list every segment write returns, by segment
    directory."""
    write, returned = store._write_observed, {}

    def recording(df, root, seg, pcol, *metrics, keep=None):
        got = write(df, root, seg, pcol, *metrics, keep=keep)
        returned[f"{root}/seg={seg}"] = got["values"]
        return got

    store._write_observed = recording
    try:
        yield returned
    finally:
        store._write_observed = write


@pytest.fixture(scope="module")
def lifecycles(spark, sf_dir):
    """family → (store path, segments per step, the value list each
    segment's write returned, by segment directory)."""
    tmp = tempfile.mkdtemp(prefix="sgraft_store_protocol_")
    try:
        with _recorded_writes() as returned:
            runs = {
                family: (
                    f"{tmp}/{family}",
                    _lifecycle(spark, sf_dir, family, f"{tmp}/{family}"),
                    returned,
                )
                for family in FAMILIES
            }
        yield runs
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _fields(schema) -> dict[str, str]:
    """Column name → type; parquet resolves columns by name, so order
    is not part of the contract (a delete's anti-join writes doc_id
    first)."""
    return {f.name: f.dataType.simpleString() for f in schema.fields}


@pytest.mark.parametrize("family", FAMILIES)
def test_declared_schemas_match_stored_files(spark, lifecycles, family):
    """Inference over every stored segment and version table gives
    exactly the schema the reads declare, value column included, so
    declaring it loses nothing."""
    path, written, _ = lifecycles[family]
    seg_root, _, schema, tables = _LAYOUT[family]
    declared = _fields(_parse_datatype_string(schema))
    segs = set().union(*written.values())
    assert segs == _segments(f"{path}/{seg_root}")
    for seg in segs:
        got = _fields(spark.read.parquet(f"{path}/{seg_root}/{seg}").schema)
        assert got == declared, (seg, got)
    for table, ddl in tables.items():
        assert _fields(spark.read.parquet(f"{path}/{table}").schema) == (
            _fields(_parse_datatype_string(ddl))
        ), table


def test_sketch_day_partition_reads_as_manifest_string(spark, lifecycles):
    path, _, _ = lifecycles["sketch"]
    v = store._latest_version(spark, path)
    entries = store._manifest_entries(spark, path, v)
    cells = store._read_segments(
        spark,
        f"{path}/{sk._SK_ROOT}",
        entries,
        sk._SK_CELL_SCHEMA,
        pcol="day_part",
    )
    assert isinstance(cells.schema["day_part"].dataType, StringType)
    rows = cells.select("day", "day_part").distinct().collect()
    assert rows and all(str(r["day"]) == r["day_part"] for r in rows)
    assert {r["day_part"] for r in rows} == {d for _, d in entries}


@pytest.mark.parametrize("family", FAMILIES)
def test_every_segment_write_has_one_file_per_partition(lifecycles, family):
    """A segment is one flat directory; each value of its value column
    lies in exactly one of its files, and every file is sorted by it."""
    path, written, _ = lifecycles[family]
    seg_root, pcol, _, _ = _LAYOUT[family]
    for step, segs in written.items():
        assert segs, f"{step} wrote no segment"
        for seg in segs:
            seg_dir = f"{path}/{seg_root}/{seg}"
            assert not [
                d for d in os.listdir(seg_dir)
                if os.path.isdir(f"{seg_dir}/{d}")
            ], (step, seg, "partition directories")
            files = _value_files(seg_dir, pcol)
            assert files, (step, seg)
            for value, holders in files.items():
                assert len(holders) == 1, (step, seg, value, holders)


@pytest.mark.parametrize("family", FAMILIES)
def test_write_returns_the_stored_values(spark, lifecycles, family):
    """The value list a segment write returns, which the manifest
    pins, is exactly the set of values stored in the segment's files,
    and every pin of the latest version names a stored value."""
    path, written, returned = lifecycles[family]
    seg_root, pcol, _, _ = _LAYOUT[family]
    for step, segs in written.items():
        for seg in segs:
            seg_dir = f"{path}/{seg_root}/{seg}"
            stored = sorted(_value_files(seg_dir, pcol))
            assert returned[seg_dir] == stored, (step, seg)
    v = store._latest_version(spark, path)
    for seg, value in store._manifest_entries(spark, path, v):
        assert value in returned[f"{path}/{seg_root}/seg={seg}"], (seg, value)


def test_erasure_that_empties_a_day_pins_nothing_for_it(spark, sf_dir):
    """Erasing every event of one day writes a survivor segment that
    holds no value: the write returns none, the next manifest pins
    nothing for that day, and the serve equals a fresh build over the
    surviving events and the exact event counts."""
    ev = _events(spark, sf_dir)
    day = F.expr("CAST(ts AS DATE)").cast("string")
    gone = sorted(r[0] for r in ev.select(day).distinct().collect())[0]
    erased = day == gone
    tmp = tempfile.mkdtemp(prefix="sgraft_store_empty_day_")
    try:
        sk._init_sketch_store(ev, f"{tmp}/store")
        with _recorded_writes() as returned:
            affected = sk.delete_users_from_sketch_store(
                spark, f"{tmp}/store", ev, erased
            )
        assert affected == [gone] and list(returned.values()) == [[]]
        v = store._latest_version(spark, f"{tmp}/store")
        assert v == 2
        pinned = {d for _, d in store._manifest_entries(spark, f"{tmp}/store", v)}
        assert gone not in pinned and pinned
        sk._init_sketch_store(ev.filter(~erased), f"{tmp}/rebuild")
        got = sorted(
            tuple(r)
            for r in sk.serve_sketch_rollup_from_store(spark, f"{tmp}/store")
            .collect()
        )
        want = sorted(
            tuple(r)
            for r in sk.serve_sketch_rollup_from_store(spark, f"{tmp}/rebuild")
            .collect()
        )
        assert got == want
        exact = {
            r["event_type"]: r["count"]
            for r in ev.filter(~erased).groupBy("event_type").count().collect()
        }
        assert {r[0]: r[2] for r in got} == exact
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _serve(spark, sf_dir, family: str, path: str):
    if family == "bm25":
        return rt.serve_bm25_v2(spark, path)
    if family == "positional":
        return rt.serve_phrase_from_store(spark, path)
    if family == "ann":
        emb = load_tables(spark, sf_dir)["embeddings"]
        return vs.topk_from_index(*vs.read_index_versioned(spark, path), emb)
    return sk.serve_sketch_rollup_from_store(spark, path)


@pytest.mark.parametrize("family", FAMILIES)
def test_store_serve_submits_no_job_before_action(spark, sf_dir, family):
    """Building a serve frame runs no Spark job: no schema inference and
    no parallel listing. The sketch case serves after an upsert that
    takes the manifest past 32 pins, Spark's threshold for a listing
    job over the pinned directories."""
    tmp = tempfile.mkdtemp(prefix="sgraft_store_nojob_")
    try:
        if family == "bm25":
            rt.build_bm25_index_v2(spark, sf_dir, tmp)
        elif family == "positional":
            rt.build_phrase_index(spark, sf_dir, tmp)
        elif family == "ann":
            vs.build_index_frozen(spark, sf_dir, tmp)
        else:
            ev = _events(spark, sf_dir)
            sk._init_sketch_store(ev, tmp)
            sk.upsert_sketch_rollup_store(
                ev.filter(sk._del_users_pred()), tmp
            )
            v = store._latest_version(spark, tmp)
            assert len(store._manifest_entries(spark, tmp, v)) > 32
        load_tables(spark, sf_dir)  # catalog set-up is not the serve's
        sc = spark.sparkContext
        group = f"test_store_serve_no_job_{family}"
        sc.setJobGroup(group, "serve construction")
        try:
            served = _serve(spark, sf_dir, family, tmp)
            assert _group_jobs(spark, group) == []
            assert served.collect()
            assert _group_jobs(spark, group)  # the probe sees real jobs
        finally:
            for prop in (
                "jobGroup.id", "job.description", "job.interruptOnCancel"
            ):
                sc.setLocalProperty(f"spark.{prop}", None)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.parametrize("family", FAMILIES)
def test_empty_micro_batch_publishes_nothing(spark, sf_dir, family):
    """The stream sink ignores an empty micro-batch: at bid 0 it does
    not initialize the store (nothing is written), and at a later bid
    it publishes no version and records no bid."""
    feed, init, upsert = STREAMS[family](spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sgraft_store_empty_batch_")
    path = f"{tmp}/store"
    try:
        store._apply_stream_batch(path, feed.limit(0), 0, init, upsert)
        assert not os.path.exists(path)
        store._apply_stream_batch(path, feed, 0, init, upsert)
        assert store._published_versions(spark, path) == [1]
        store._apply_stream_batch(path, feed.limit(0), 2, init, upsert)
        assert store._published_versions(spark, path) == [1]
        assert store._published_bids(spark, path) == {0}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.parametrize("family", FAMILIES)
def test_manifest_round_trips(spark, lifecycles, family):
    """Every family writes its manifest as one JSON object: ``pins``,
    plus ``stats`` for BM25 only, and ``_read_manifest`` returns exactly
    what was written, values typed as stored; a manifest written from
    that reading reads back unchanged."""
    path, _, _ = lifecycles[family]
    v = store._latest_version(spark, path)
    with open(store._table_dir(spark, path, "manifests", v)) as f:
        raw = json.load(f)
    assert set(raw) == ({"pins", "stats"} if family == "bm25" else {"pins"})
    got = store._read_manifest(spark, path, v)
    assert got["pins"] == sorted(tuple(p) for p in raw["pins"])
    assert got["pins"] == store._manifest_entries(spark, path, v)
    if family == "bm25":
        assert got["stats"] == (
            raw["stats"]["n_docs"], raw["stats"]["sum_len"]
        )
        assert all(isinstance(x, int) for x in got["stats"])
    else:
        assert got["stats"] is None
    tmp = tempfile.mkdtemp(prefix="sgraft_manifest_rt_")
    try:
        att = store._new_att()
        store._write_manifest(spark, tmp, 1, got["pins"], att, got["stats"])
        store._publish_version(spark, tmp, 1, att)
        assert store._read_manifest(spark, tmp, 1) == got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bm25_write_postings_counts_every_doc_once(spark):
    """The (n_docs, sum_len) a BM25 segment write observes equal
    ``_stats2_of`` over the same docs, docs with no token and with NULL
    text included, and the segment holds exactly ``_postings_of``'s
    rows (no row of the lead marker reaches the files)."""
    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, ""), (3, None), (4, "!!"), (5, "c c d")],
        "doc_id bigint, text string",
    )
    tmp = tempfile.mkdtemp(prefix="sgraft_bm25_postings_")
    try:
        buckets, stats = rt._write_postings(docs, tmp, "s1")
        n, s = rt._stats2_of(rt._toks_of(docs)).collect()[0]
        assert stats == (n, s) == (5, 7)
        stored = store._read_segments(
            spark, tmp, [("s1", b) for b in buckets], rt._BM25_POSTING_SCHEMA
        )
        want = rt._postings_of(rt._toks_of(docs))
        assert sorted(map(tuple, stored.collect())) == sorted(
            map(tuple, want.collect())
        )
        assert spark.read.parquet(f"{tmp}/seg=s1").columns == want.columns
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _step_jobs(spark, step: str, run) -> int:
    """Spark jobs that ``run()`` submits, counted in a job group of its
    own."""
    sc = spark.sparkContext
    group = f"test_bm25_job_budget_{step}"
    sc.setJobGroup(group, step)
    try:
        run()
    finally:
        for prop in ("jobGroup.id", "job.description", "job.interruptOnCancel"):
            sc.setLocalProperty(f"spark.{prop}", None)
    return len(_group_jobs(spark, group))


def test_bm25_steps_stay_within_job_budgets(spark, sf_dir):
    """One store_churn-shaped BM25 cycle: upsert a batch, serve, delete
    the batch, serve, compact.  Upsert is one segment write (≤ 3 jobs:
    two shuffle stages and the write), a serve one statement (≤ 3), a
    delete one aggregate, one probe and at most one rewrite (≤ 8); the
    compaction of a store already in one file per bucket submits no job
    and publishes no version."""
    docs = _docs(spark, sf_dir)
    batch = docs.filter(rt._doc_batch_pred())
    tmp = tempfile.mkdtemp(prefix="sgraft_bm25_budget_")
    try:
        rt.build_bm25_index_v2(spark, sf_dir, tmp)
        batch.count()  # the batch's own scan is not the store's
        budgets = {
            "upsert": (lambda: rt.upsert_bm25_index(spark, tmp, batch), 3),
            "serve_upserted": (
                lambda: rt.serve_bm25_v2(spark, tmp).collect(), 3
            ),
            "delete": (
                lambda: rt.delete_from_bm25_index(spark, tmp, batch), 8
            ),
            "serve_deleted": (
                lambda: rt.serve_bm25_v2(spark, tmp).collect(), 3
            ),
        }
        for step, (run, budget) in budgets.items():
            n = _step_jobs(spark, step, run)
            assert 0 < n <= budget, (step, n, budget)
        v = store._latest_version(spark, tmp)
        assert v == 3
        n = _step_jobs(
            spark,
            "compact",
            lambda: rt.compact_bm25_buckets(spark, tmp, range(rt.N_TB)),
        )
        assert n == 0 and store._latest_version(spark, tmp) == v
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _served(spark, path):
    return [tuple(r) for r in rt.serve_bm25_v2(spark, path).collect()]


def _file_bytes(seg_dir: str) -> dict[str, bytes]:
    out = {}
    for f in os.listdir(seg_dir):
        if f.endswith(".parquet"):
            with open(f"{seg_dir}/{f}", "rb") as fh:
                out[f] = fh.read()
    return out


def test_bm25_delete_of_an_upsert_restores_the_base_pins(spark, sf_dir):
    """Upserting batch B and then deleting B publishes a version that
    pins exactly what the store pinned before the upsert, with those
    base files byte-identical and the stats restored; the delete writes
    no segment (nothing of B's files survives), and compacting the store
    afterwards publishes nothing."""
    docs = _docs(spark, sf_dir)
    batch = docs.filter(rt._doc_batch_pred())
    tmp = tempfile.mkdtemp(prefix="sgraft_bm25_del_upsert_")
    try:
        rt.build_bm25_index_v2(spark, sf_dir, tmp)
        base = store._read_manifest(spark, tmp, 1)
        (base_seg,) = {s for s, _ in base["pins"]}
        base_bytes = _file_bytes(f"{tmp}/postings/seg={base_seg}")
        served = _served(spark, tmp)
        rt.upsert_bm25_index(spark, tmp, batch)
        segs = _segments(f"{tmp}/postings")
        rt.delete_from_bm25_index(spark, tmp, batch)
        assert _segments(f"{tmp}/postings") == segs  # no rewrite
        assert store._latest_version(spark, tmp) == 3
        assert store._read_manifest(spark, tmp, 3) == base
        assert _file_bytes(f"{tmp}/postings/seg={base_seg}") == base_bytes
        assert _served(spark, tmp) == served
        rt.compact_bm25_buckets(spark, tmp, range(rt.N_TB))
        assert store._latest_version(spark, tmp) == 3
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bm25_delete_unpins_only_the_files_holding_erased_docs(
    spark, sf_dir
):
    """Erasing docs spread through the base segment unpins exactly the
    (segment, bucket) files whose bucket one of their terms hashes into
    — every other pin stays — and the serve and the stats equal a
    rebuild without those docs."""
    docs = _docs(spark, sf_dir)
    # the three docs whose terms touch the fewest buckets
    per_doc = (
        rt._postings_of(rt._toks_of(docs))
        .groupBy("doc_id")
        .agg(F.collect_set("tb").alias("tbs"))
        .collect()
    )
    chosen = sorted(per_doc, key=lambda r: (len(r["tbs"]), r["doc_id"]))[:3]
    ids = [r["doc_id"] for r in chosen]
    touched = set().union(*(r["tbs"] for r in chosen))
    assert len(touched) < rt.N_TB
    erased = docs.filter(F.col("doc_id").isin(ids))
    kept = docs.filter(~F.col("doc_id").isin(ids))
    tmp = tempfile.mkdtemp(prefix="sgraft_bm25_del_spread_")
    try:
        rt._init_bm25_store(docs, f"{tmp}/store")
        m1 = store._read_manifest(spark, f"{tmp}/store", 1)
        assert sorted(rt.delete_from_bm25_index(
            spark, f"{tmp}/store", erased
        )) == sorted(touched)
        m2 = store._read_manifest(spark, f"{tmp}/store", 2)
        unpinned = set(m1["pins"]) - set(m2["pins"])
        assert unpinned == {e for e in m1["pins"] if e[1] in touched}
        new = set(m2["pins"]) - set(m1["pins"])
        assert len({s for s, _ in new}) == 1
        assert {t for _, t in new} == touched
        rt._init_bm25_store(kept, f"{tmp}/rebuild")
        assert m2["stats"] == store._read_manifest(
            spark, f"{tmp}/rebuild", 1
        )["stats"]
        assert _served(spark, f"{tmp}/store") == _served(
            spark, f"{tmp}/rebuild"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _mutation(spark, sf_dir, family: str, step: str):
    """(build, mutate, vacuum) of one ANN or sketch mutation; build and
    mutate take the store path.  The deletes erase one vector (one
    cell) and one user (24 of the 30 days at sf0.001), so they keep
    pins of untouched cells and days."""
    if family == "ann":
        emb = load_tables(spark, sf_dir)["embeddings"]
        mutate = {
            "upsert": lambda p: vs.upsert_index(
                spark, sf_dir, p, emb.filter(vs._upsert_batch_pred())),
            "delete": lambda p: vs.delete_from_index(
                spark, p, emb.filter(vs._delete_pred()).agg(
                    F.min("vec_id").alias("vec_id"))),
            "compact": lambda p: vs.compact_index_cells(
                spark, p, range(vs.N_CELLS)),
        }[step]
        return (
            lambda p: vs.build_index_frozen(spark, sf_dir, p),
            mutate,
            vs.vacuum_ann_store,
        )
    ev = _events(spark, sf_dir)
    erased = F.col("user_id") == 5
    mutate = {
        "upsert": lambda p: sk.upsert_sketch_rollup_store(
            ev.filter(erased), p),
        "delete": lambda p: sk.delete_users_from_sketch_store(
            spark, p, ev, erased),
        "compact": lambda p: sk.compact_sketch_store(spark, p),
    }[step]
    return (
        lambda p: sk._init_sketch_store(ev, p),
        mutate,
        sk.vacuum_sketch_store,
    )


@pytest.mark.parametrize("step", ("upsert", "delete", "compact"))
@pytest.mark.parametrize("family", ("ann", "sketch"))
def test_mutation_retries_after_a_competing_publish(
    spark, sf_dir, monkeypatch, family, step
):
    """A competing writer publishes v+1 between the mutation's staging
    and its publish: the same rows as v, copied into a new segment.  The
    mutation's publish raises exactly one ``VersionConflict`` and its
    retry publishes v+2 on top of the winner (pinning none of v's
    segments, which the winner unpinned), whose manifest stays
    byte-identical; the serve and the mutation's result equal the same
    mutation run without the race, and vacuum sweeps the loser's staged
    manifest."""
    build, mutate, vacuum = _mutation(spark, sf_dir, family, step)
    root, pcol, schema, _ = _LAYOUT[family]
    tmp = tempfile.mkdtemp(prefix="sgraft_store_race_")
    calm, raced = f"{tmp}/calm", f"{tmp}/raced"
    try:
        build(calm)
        shutil.copytree(calm, raced)
        want = mutate(calm)
        publish = store._publish_version
        race = {"conflicts": 0, "loser": None, "winner": None}

        def racing(sess, path, v, att, bid=None):
            if race["loser"] is None:
                race["loser"] = att
                seg, segs = store._new_seg_id(), f"{path}/{root}"
                rows = store._read_segments(
                    sess,
                    segs,
                    store._manifest_entries(sess, path, v - 1),
                    schema,
                    pcol=pcol,
                )
                values = store._write_segment(rows, segs, seg, pcol=pcol)
                store._publish_manifest(
                    sess, path, v, [(seg, x) for x in values]
                )
                with open(store._table_dir(sess, path, "manifests", v),
                          "rb") as f:
                    race["winner"] = f.read()
            try:
                return publish(sess, path, v, att, bid)
            except store.VersionConflict:
                race["conflicts"] += 1
                raise

        monkeypatch.setattr(store, "_publish_version", racing)
        got = mutate(raced)
        monkeypatch.undo()
        assert race["conflicts"] == 1
        assert got == want
        assert store._latest_version(spark, raced) == 3
        base = {s for s, _ in store._manifest_entries(spark, raced, 1)}
        assert not base & {
            s for s, _ in store._manifest_entries(spark, raced, 3)
        }
        winner = store._table_dir(spark, raced, "manifests", 2)
        with open(winner, "rb") as f:
            assert f.read() == race["winner"]
        assert sorted(_serve(spark, sf_dir, family, raced).collect()) == (
            sorted(_serve(spark, sf_dir, family, calm).collect())
        )
        loser = f"{raced}/manifests/v=2-{race['loser']}"
        assert os.path.exists(loser)
        vacuum(spark, raced, keep_last=2)
        assert not os.path.exists(loser)
        assert os.path.exists(winner)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
