"""The shared segment protocol of the versioned stores (BM25, positional,
IVF-PQ codes, HLL sketch rollup), checked across all four families:

- building a serve frame submits no Spark job before the caller's action
  (declared read schemas, no inference or parallel-listing job);
- the declared read schemas equal what the writers put on disk, after a
  build → upsert → delete → compact lifecycle;
- every segment a lifecycle step writes is one directory of files in
  which each value of the segment's value column lies in exactly one
  file, sorted, and the value list the write returns (what manifests
  pin) is exactly the set of values stored.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, _parse_datatype_string

from intellect_bi_spark.catalog import load_tables
from intellect_bi_spark.operators import retrieval as rt
from intellect_bi_spark.operators import sketches as sk
from intellect_bi_spark.operators import vectorstore as vs
from tests.test_plans import _group_jobs

FAMILIES = ("bm25", "positional", "ann", "sketch")


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
# schema, version tables with their declared schemas)
_LAYOUT = {
    "bm25": ("postings", "tb", rt._BM25_POSTING_SCHEMA, rt._VERSION_SCHEMAS),
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
    write, returned = rt._write_segment, {}

    def recording(df, root, seg, pcol="tb"):
        returned[f"{root}/seg={seg}"] = values = write(df, root, seg, pcol)
        return values

    rt._write_segment = recording
    try:
        yield returned
    finally:
        rt._write_segment = write


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
        dirs = [f"{path}/{table}"]
        if family == "bm25":
            dirs = [
                f"{path}/{table}/{d}" for d in os.listdir(f"{path}/{table}")
            ]
        for d in dirs:
            assert _fields(spark.read.parquet(d).schema) == _fields(
                _parse_datatype_string(ddl)
            ), d


def test_sketch_day_partition_reads_as_manifest_string(spark, lifecycles):
    path, _, _ = lifecycles["sketch"]
    v = rt._latest_version(spark, path)
    entries = rt._manifest_entries(spark, path, v)
    cells = rt._read_segments(
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
    v = rt._latest_version(spark, path)
    for seg, value in rt._manifest_entries(spark, path, v):
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
        v = rt._latest_version(spark, f"{tmp}/store")
        assert v == 2
        pinned = {d for _, d in rt._manifest_entries(spark, f"{tmp}/store", v)}
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
            v = rt._latest_version(spark, tmp)
            assert len(rt._manifest_entries(spark, tmp, v)) > 32
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
