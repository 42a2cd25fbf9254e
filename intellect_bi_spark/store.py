"""The versioned-store protocol shared by every persisted store family
(BM25 and positional postings, IVF-PQ codes, HLL sketch rollups).

A store at ``path`` holds:

- immutable segments ``{root}/seg={s}/``: parquet files sorted by one
  value column, each value in exactly one file; a segment's files are
  never rewritten once a manifest pins them;
- one JSON manifest per version, staged under an attempt-unique
  ``manifests/v={v}-{att}`` path: the (segment, value) pins that are
  the version's data, plus BM25's corpus stats;
- one publish marker per version, ``_published/v={v}``, created
  create-exclusive after the manifest is staged; its body names the
  winning attempt and the ingest batch id, if any.

A mutation publishes v+1 on top of the latest published v through
:func:`_commit`; a writer that loses the race for v+1 retries against
the new latest, and its staged files are unreferenced debris that
:func:`_vacuum_versioned_store` sweeps.  Readers resolve every version
through its marker, so unpublished files are invisible to them.
"""

from __future__ import annotations

import json
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _fs_of(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path``, resolved through the
    session's Hadoop configuration, so every store metadata op works
    on any supported filesystem (HDFS, S3A, local)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(
        spark._jsc.hadoopConfiguration()  # type: ignore[union-attr]
    )
    return fs, hpath


def _version_dirs(spark: SparkSession, path: str) -> list[tuple[int, str]]:
    """(version, dir-name) pairs under ``path``, one row per directory
    (``v=N`` or ``v=N-<att>``), so vacuum can sweep a losing writer's
    attempt dirs while keeping the published attempt of the same
    version."""
    fs, hpath = _fs_of(spark, path)
    if not fs.exists(hpath):
        return []
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.startswith("v="):
            out.append((int(name.split("=", 1)[1].split("-", 1)[0]), name))
    return sorted(out)


def _run_staged(*thunks) -> list:
    """Run independent thunks as concurrent driver threads and return
    their results in argument order.  One thunk runs as a plain call.

    The first exception (in argument order) propagates after every
    thunk has finished, so a caller that publishes after this returns
    never publishes over a failed staged write: the failure leaves only
    unpublished debris, which vacuum sweeps."""
    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


N_FEED_FILES = 4  # staged feed files → availableNow micro-batches


def _apply_stream_batch(
    store: str, bdf: DataFrame, bid: int, init, upsert
) -> None:
    """Apply micro-batch ``bid`` to the versioned store at ``store``
    exactly once: an empty batch does nothing; a bid that a published
    version already carries is skipped; with no version published the
    batch initializes the store; otherwise it is upserted.

    The bid rides in the publish marker of the version the batch
    creates, so the skip check is atomic with the commit.  A crash
    before the publish leaves only unpublished debris, and the
    redelivery re-applies against the same latest version.  The ledger
    is the retained versions' markers: Spark redelivers only the last
    batch whose commit it did not log, so a vacuum that runs while a
    stream feeds the store must keep the version carrying that bid."""
    if bdf.isEmpty():
        return
    sess = bdf.sparkSession
    if not _published_versions(sess, store):
        init(bdf, store, bid)
    elif bid not in _published_bids(sess, store):
        upsert(bdf, store, bid)


def stream_into_store(
    spark: SparkSession, feed: DataFrame, root: str, init, upsert
) -> str:
    """Stage ``feed`` as N_FEED_FILES parquet files under ``root``, run
    an availableNow file stream over them (one micro-batch per file)
    whose ``foreachBatch`` applies each batch to the store at
    ``root/store`` (see :func:`_apply_stream_batch`), block until the
    stream drains and return the store path.  ``init`` and ``upsert``
    are called as ``(batch, store, bid)``."""
    store = f"{root}/store"
    feed.repartition(N_FEED_FILES).write.parquet(f"{root}/feed")
    q = (
        spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/feed")
        .writeStream.foreachBatch(
            lambda bdf, bid: _apply_stream_batch(store, bdf, bid, init, upsert)
        )
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
        if q.isActive:
            raise TimeoutError(f"stream into {store} did not drain in 300 s")
    finally:
        if q.isActive:
            try:
                q.stop()
            except Exception:
                pass
    return store


class VersionConflict(RuntimeError):
    """Raised when a writer tries to publish a version number another
    writer already published — the optimistic-concurrency signal.
    Callers retry: re-read the new latest, re-merge,
    publish the next number."""


PUBLISH_RETRIES = 3  # optimistic-concurrency retry budget per mutation


def _new_seg_id() -> str:
    """A fresh immutable-segment id.  The 's' prefix keeps it
    non-numeric, so partition inference over a store reads ``seg`` as
    a string."""
    return "s" + uuid.uuid4().hex[:12]


def _write_segment(
    df: DataFrame, root: str, seg: str, pcol: str = "tb"
) -> list:
    """Write one immutable segment ``{root}/seg={seg}/`` and return the
    sorted distinct ``pcol`` values it holds.

    Invariants: the segment is one directory of parquet files in which
    ``pcol`` is an ordinary stored column; each value lies in exactly
    one file (the hash repartition puts each value in one task, AQE
    sizes the task count), and within that file its rows are
    contiguous, so row-group statistics prune a ``pcol IN (...)``
    filter.  The value list is observed during the write job itself,
    typed as stored, so the manifest pins exactly what is on disk at
    no extra job.  A segment's files are never rewritten once a
    manifest pins them; overwrite mode confines a retry of the same
    segment id to its own partial debris."""
    return _write_observed(df, root, seg, pcol)["values"]


def _write_observed(
    df: DataFrame, root: str, seg: str, pcol: str, *metrics, keep=None
) -> dict:
    """:func:`_write_segment` that also observes the aggregate columns
    ``metrics`` over the rows reaching the write, and then writes
    ``keep(rows)``; returns the metrics by name and the sorted ``pcol``
    values as ``"values"``."""
    seen = Observation()
    rows = (
        df.repartition(pcol)
        .sortWithinPartitions(pcol)
        .observe(seen, F.collect_set(pcol).alias("values"), *metrics)
    )
    if keep is not None:
        rows = keep(rows)
    rows.write.mode("overwrite").parquet(f"{root}/seg={seg}")
    return {**seen.get, "values": sorted(seen.get["values"])}


def _read_segments(
    spark: SparkSession,
    root: str,
    entries: list[tuple],
    schema: str,
    pcol: str = "tb",
    with_seg: bool = False,
) -> DataFrame:
    """Exactly the rows of the (seg, value) pairs ``entries`` pins, as
    ``schema`` (plus the ``seg`` string column when ``with_seg``).

    Invariants: ``schema`` declares every stored column, ``pcol``
    included, so the read infers nothing and submits no job until the
    caller's action; ``seg`` is the only directory partition, so the
    filter prunes the scan to the pinned segment directories, and its
    ``pcol IN (...)`` part is pushed into the parquet scan, where the
    value-sorted files' row-group statistics skip unpinned values.  No
    pins yield an empty frame of the same schema."""
    stored = f"{schema}, seg string"
    out = stored if with_seg else schema
    cols = [c.split()[0] for c in out.split(",")]
    if not entries:
        return spark.createDataFrame([], out)
    pinned: dict[str, list] = {}
    for s, t in sorted(entries):
        pinned.setdefault(s, []).append(t)
    keep = None
    for s, ts in pinned.items():
        cond = (F.col("seg") == s) & F.col(pcol).isin(ts)
        keep = cond if keep is None else keep | cond
    return (
        spark.read.schema(stored)
        .option("basePath", root)
        .parquet(*(f"{root}/seg={s}" for s in pinned))
        .filter(keep)
        .select(*cols)
    )


def _write_manifest(
    spark: SparkSession,
    store: str,
    v: int,
    entries: list[tuple],
    att: str,
    stats: tuple[int, int] | None = None,
) -> None:
    """Stage version ``v``'s manifest under attempt ``att``: one JSON
    file ``{"pins": [[seg, value], ...]}``, the exact (segment, value)
    pairs that are the version's data, plus ``"stats": {"n_docs",
    "sum_len"}`` for a BM25 store.  Written driver-side through the
    Hadoop FileSystem, so it costs no Spark job.  No other writer can
    name the attempt-unique path, and overwrite covers a same-attempt
    retry.  Values keep their type through JSON: int for the tb/cell
    axes, str for the sketch store's day axis; the stats are exact
    integers."""
    body: dict = {"pins": [[s, t] for s, t in sorted(entries)]}
    if stats is not None:
        body["stats"] = {"n_docs": stats[0], "sum_len": stats[1]}
    fs, hp = _fs_of(spark, _stage_path(store, "manifests", v, att))
    out = fs.create(hp, True)
    try:
        out.write(bytearray(json.dumps(body).encode()))
    finally:
        out.close()


def _read_json(spark: SparkSession, path: str) -> dict:
    """The JSON body of the file at ``path``, read driver-side through
    the Hadoop FileSystem (no Spark job)."""
    fs, hp = _fs_of(spark, path)
    jvm = spark._jvm
    stream = fs.open(hp)
    try:
        bos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, bos, 4096, False)
        return json.loads(bytes(bos.toByteArray()).decode())
    finally:
        stream.close()


def _read_manifest(spark: SparkSession, store: str, v: int) -> dict:
    """Version ``v``'s manifest, read driver-side (no Spark job) through
    the published attempt: ``{"pins": sorted [(seg, value)], "stats":
    (n_docs, sum_len) or None}``, values typed as the writer stored
    them.  Every store family reads its manifests through here."""
    body = _read_json(spark, _table_dir(spark, store, "manifests", v))
    stats = body.get("stats")
    return {
        "pins": sorted((s, t) for s, t in body["pins"]),
        "stats": None
        if stats is None
        else (stats["n_docs"], stats["sum_len"]),
    }


def _manifest_entries(
    spark: SparkSession, store: str, v: int
) -> list[tuple]:
    """Version ``v``'s pinned (seg, value) list."""
    return _read_manifest(spark, store, v)["pins"]


def _new_att() -> str:
    """A fresh attempt id: every publish attempt stages its version
    data dirs under ``v={v}-{att}`` paths no other writer can name, so
    two writers racing the same version number never clobber each
    other's staged data."""
    return uuid.uuid4().hex[:8]


def _stage_path(store: str, table: str, v: int, att: str) -> str:
    """Where attempt ``att`` stages version ``v`` of ``table`` — the
    directory BECOMES the version's data the instant the marker naming
    ``att`` is published; nothing is ever renamed or rewritten."""
    return f"{store}/{table}/v={v}-{att}"


def _publish_version(
    spark: SparkSession, store: str, v: int, att: str, bid: int | None = None
) -> None:
    """PUBLISH version ``v`` of a store: create the marker FILE
    ``{store}/_published/v=N`` AFTER every data directory and the
    manifest of that version are fully staged under their
    attempt-unique ``v=N-{att}`` paths.  The marker is created with
    ``FileSystem.create(path, overwrite=false)`` — create-exclusive
    where the filesystem supports it — and carries a one-line JSON body
    ``{"att": ..., "bid": ...}`` naming the WINNING attempt (readers
    resolve a version's data dirs through it) and, for stream-driven
    mutations, the ingest batch id (the exactly-once record: a
    redelivered batch whose bid any published marker already carries
    is skipped).  If another writer already published ``v``, the
    create fails (``FileAlreadyExistsException``, translated rather
    than escaping as a raw Py4J error) and
    :class:`VersionConflict` tells the caller to re-merge against the
    new latest with a FRESH attempt id; the loser's staged dirs are
    unreferenced debris vacuum sweeps.  Atomicity of the gate is
    filesystem-dependent (HDFS: atomic create-exclusive; local /
    object stores: best-effort exists-then-create) — the conditional
    publish serializes LOGICAL commits for the single-compactor /
    single-ingester deployments this store targets, and the
    attempt-unique staging means even a gate race that escapes the
    check can corrupt no data, only publish one of two valid merges.
    A reader that catches the marker between create and content-close
    sees an empty file; :func:`_version_meta` retries briefly (the
    window is the writer's in-process microseconds) and a marker left
    PERMANENTLY empty by a writer killed inside that window is swept
    by vacuum as unresolvable."""
    fs, hp = _fs_of(spark, f"{store}/_published/v={v}")
    try:
        out = fs.create(hp, False)
    except Exception as e:  # Py4JJavaError wrapping FileAlreadyExists
        if fs.exists(hp) or "AlreadyExists" in str(e):
            raise VersionConflict(
                f"version {v} already published under {store}"
            ) from None
        raise
    try:
        out.write(bytearray(json.dumps({"att": att, "bid": bid}).encode()))
    finally:
        out.close()


def _version_meta(spark: SparkSession, store: str, v: int) -> dict:
    """The published marker's JSON body for version ``v`` — the
    attempt id that won the publish (+ the ingest batch id, if any).
    Retries briefly on an empty marker (the create-to-close window of
    a concurrent publisher), then raises: a marker that never gains
    content is a writer killed mid-publish, and vacuum's sweep is the
    recovery path."""
    marker = f"{store}/_published/v={v}"
    for attempt in range(20):
        try:
            return _read_json(spark, marker)
        except (Py4JJavaError, ValueError):  # missing, empty or partial
            time.sleep(0.05)
    raise FileNotFoundError(
        f"published marker v={v} under {store} has no readable body "
        "(writer killed mid-publish? vacuum sweeps it)"
    )


def _table_dir(spark: SparkSession, store: str, table: str, v: int) -> str:
    """Version ``v``'s data directory for ``table`` — resolved through
    the published marker's winning attempt id, so losers' staged dirs
    of the same version are invisible to every reader."""
    return _stage_path(store, table, v, _version_meta(spark, store, v)["att"])


def _published_bids(spark: SparkSession, store: str) -> set:
    """Every ingest batch id any PUBLISHED version carries — the
    exactly-once ledger :func:`_apply_stream_batch` consults before
    applying a possibly-redelivered batch.  Metadata-bounded: one small
    marker read per published version."""
    return {
        _version_meta(spark, store, v).get("bid")
        for v in _published_versions(spark, store)
    } - {None}


def _published_versions(spark: SparkSession, store: str) -> list[int]:
    """Versions with a NON-EMPTY marker body.  A zero-length marker is
    a writer killed inside the create-to-close window (or a concurrent
    publisher mid-write): its version is not yet resolvable, so
    readers must not count it — they keep serving the previous latest
    — and vacuum sweeps it if it never gains a body.  The version
    number stays burned either way (the create-exclusive gate saw the
    file), so no number is ever published twice."""
    fs, hpath = _fs_of(spark, f"{store}/_published")
    if not fs.exists(hpath):
        return []
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.startswith("v=") and st.getLen() > 0:
            out.append(int(name.split("=", 1)[1]))
    return sorted(out)


def _latest_version(spark: SparkSession, store: str) -> int:
    """The store's live version: the newest PUBLISHED marker — never a
    directory listing of the data dirs themselves, so partially-written
    versions from a crashed writer are invisible by construction."""
    vs = _published_versions(spark, store)
    if not vs:
        raise FileNotFoundError(f"no published versions under {store}")
    return max(vs)


def _publish_manifest(
    spark: SparkSession,
    store: str,
    v: int,
    pins: list[tuple],
    stats: tuple[int, int] | None = None,
    bid: int | None = None,
) -> None:
    """Stage version ``v``'s manifest under a fresh attempt id, then
    publish it.  Raises :class:`VersionConflict` if another writer
    published ``v`` first; the staged manifest is then debris."""
    att = _new_att()
    _write_manifest(spark, store, v, pins, att, stats)
    _publish_version(spark, store, v, att, bid)


def _commit(
    spark: SparkSession, path: str, stage, bid: int | None = None
) -> None:
    """Publish the next version of a manifest-pinned store.

    ``stage(v)`` writes whatever data version v+1 needs on top of the
    latest published version v and returns its ``(pins, stats)``, or
    None to publish nothing.  On :class:`VersionConflict` (another
    writer published v+1 first) ``stage`` runs again against the new
    latest under a fresh attempt id; the loser's staged files are
    unreferenced debris that vacuum sweeps."""
    for attempt in range(PUBLISH_RETRIES):
        v = _latest_version(spark, path)
        staged = stage(v)
        if staged is None:
            return
        try:
            _publish_manifest(spark, path, v + 1, *staged, bid=bid)
            return
        except VersionConflict:
            if attempt == PUBLISH_RETRIES - 1:
                raise


RETAIN_VERSIONS = 1  # the registry queries' retention: latest-only


def _vacuum_versioned_store(
    spark: SparkSession, path: str, root: str, keep_last: int
) -> int:
    """Keep the newest ``keep_last`` published versions of the store
    at ``path`` and delete everything else: every other manifest
    (older versions, losing attempts, unpublished crash debris), every
    other publish marker, and every segment under ``{path}/{root}``
    that no retained manifest pins.  Returns the manifests and
    segments removed.

    The retained set is taken from the published versions, so a
    sparse chain still keeps exactly ``keep_last``.  The cost is
    metadata only, independent of corpus size.  Vacuum must not run
    concurrently with a writer: it would sweep the writer's staged,
    unpublished files."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the live version)")
    # A marker a writer killed mid-publish left without a body resolves
    # to nothing, yet it holds its version number: readers skip it, so
    # the next publish picks that same number, conflicts on the marker
    # and, after PUBLISH_RETRIES, raises VersionConflict.  Removing the
    # marker frees the number.
    fs_pub, pub_root = _fs_of(spark, f"{path}/_published")
    if fs_pub.exists(pub_root):
        for st in fs_pub.listStatus(pub_root):
            if st.getLen() == 0:
                fs_pub.delete(st.getPath(), False)
    published = _published_versions(spark, path)
    if not published:
        raise FileNotFoundError(f"no published versions under {path}")
    keep = set(sorted(published)[-keep_last:])
    live = {
        _stage_path(path, "manifests", v, _version_meta(spark, path, v)["att"])
        for v in keep
    }
    removed = 0
    for _v, name in _version_dirs(spark, f"{path}/manifests"):
        if f"{path}/manifests/{name}" not in live:
            fs, hp = _fs_of(spark, f"{path}/manifests/{name}")
            fs.delete(hp, True)
            removed += 1
    for v in published:
        if v not in keep:
            fs, hp = _fs_of(spark, f"{path}/_published/v={v}")
            fs.delete(hp, True)
    live_segs = {s for m in live for s, _ in _read_json(spark, m)["pins"]}
    fs, hp = _fs_of(spark, f"{path}/{root}")
    if fs.exists(hp):
        for st in fs.listStatus(hp):
            name = st.getPath().getName()
            if name.startswith("seg=") and name[4:] not in live_segs:
                fs.delete(st.getPath(), True)
                removed += 1
    return removed
