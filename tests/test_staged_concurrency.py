"""Focused units for `_run_staged`, the package's one driver-thread
helper: it must run every thunk, propagate failures, and degrade to a
plain call for a single thunk; it is the only place the package builds
a thread pool, and the engine runs Spark's default FIFO scheduler.
The store-content consequences of using it (byte-identical pinned
files, manifest correctness, serve parity) are locked by the
test_vectorstore / test_pin_lifecycle / test_parity suites."""

import ast
import threading
from pathlib import Path

import pytest

from intellect_bi_spark.store import _run_staged

PACKAGE = Path(__file__).resolve().parents[1] / "intellect_bi_spark"


def test_run_staged_runs_every_thunk():
    done = []
    lock = threading.Lock()

    def mk(i):
        def t():
            with lock:
                done.append(i)

        return t

    _run_staged(*[mk(i) for i in range(4)])
    assert sorted(done) == [0, 1, 2, 3]


def test_run_staged_propagates_the_failure():
    done = []

    def ok():
        done.append("ok")

    def boom():
        raise ValueError("staged write failed")

    with pytest.raises(ValueError, match="staged write failed"):
        _run_staged(ok, boom)
    # the publish-gated contract: the surviving thunk may or may not
    # have completed (both are just unpublished staged debris), but the
    # failure must reach the caller so no publish happens
    assert done in ([], ["ok"])


def test_run_staged_single_thunk_runs_inline():
    tid = []
    _run_staged(lambda: tid.append(threading.get_ident()))
    assert tid == [threading.get_ident()]


def test_run_staged_returns_results_in_argument_order():
    assert _run_staged(lambda: 1, lambda: 2, lambda: 3) == [1, 2, 3]
    assert _run_staged(lambda: "only") == ["only"]


def test_engine_session_is_fifo_and_leaks_no_pools(spark, sf_dir):
    """The engine session runs Spark's default FIFO scheduler, and a
    store build that stages concurrent writes registers no scheduler
    pool, so repeated runs leave the pool count unchanged."""
    from intellect_bi_spark.operators import vectorstore as vs

    sc = spark.sparkContext._jsc.sc()
    assert sc.getSchedulingMode().toString() == "FIFO"
    before = sc.getAllPools().size()
    for _ in range(2):
        vs.ann_index_store(spark, sf_dir).collect()
    assert sc.getAllPools().size() == before


def _calls_by_function(tree: ast.AST) -> list[tuple[str | None, ast.Call]]:
    """(name of the innermost enclosing function, call) for every call."""
    out: list[tuple[str | None, ast.Call]] = []

    def visit(node: ast.AST, fn: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if isinstance(child, ast.Call):
                out.append((fn, child))
            visit(child, fn)

    visit(tree, None)
    return out


def test_one_thread_pool_and_no_scheduler_settings():
    """The package constructs ``ThreadPoolExecutor`` only inside
    ``_run_staged``, and no code names a scheduler mode or pool."""
    pool_sites, settings = [], []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        names = {"ThreadPoolExecutor"} | {
            alias.asname
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            for alias in node.names
            if alias.name == "ThreadPoolExecutor" and alias.asname
        }
        for fn, call in _calls_by_function(tree):
            f = call.func
            callee = f.id if isinstance(f, ast.Name) else getattr(
                f, "attr", None
            )
            if callee in names:
                pool_sites.append((path.name, fn))
        settings += [
            (path.name, node.lineno)
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant)
            and node.value
            in ("spark.scheduler.pool", "spark.scheduler.mode")
        ]
    assert pool_sites == [("store.py", "_run_staged")]
    assert settings == []


def test_stores_never_rename_and_write_no_directory_partitions():
    """The store protocol publishes by creating a marker, never by a
    rename, so no module calls ``.rename(``; and the store families in
    ``vectorstore.py`` and ``retrieval.py`` keep their value column as
    a stored column of flat segments, so neither calls a writer's
    ``partitionBy(`` (a ``Window.partitionBy`` is no write)."""
    renames, partitioned = [], []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for fn, call in _calls_by_function(tree):
            f = call.func
            if not isinstance(f, ast.Attribute):
                continue
            if f.attr == "rename":
                renames.append((path.name, fn))
            window = isinstance(f.value, ast.Name) and f.value.id == "Window"
            if (
                f.attr == "partitionBy"
                and path.name in ("vectorstore.py", "retrieval.py")
                and not window
            ):
                partitioned.append((path.name, fn))
    assert renames == []
    assert partitioned == []


def test_publish_steps_and_retry_budget_only_in_store():
    """Only ``store.py`` mints attempt ids, stages manifests and creates
    publish markers, and only it names the retry budget: every other
    module publishes through ``store._commit`` or
    ``store._publish_manifest``.  The conflict signal is named outside
    it only where the ANN first write refuses a path that already
    holds a published store (``vectorstore._init_ann_versioned``)."""
    steps = {"_new_att", "_write_manifest", "_publish_version"}
    names = {"PUBLISH_RETRIES", "VersionConflict"}
    calls, refs = set(), set()
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for _fn, call in _calls_by_function(tree):
            f = call.func
            callee = f.id if isinstance(f, ast.Name) else getattr(
                f, "attr", None
            )
            if callee in steps:
                calls.add((path.name, callee))
        for node in ast.walk(tree):
            name = node.id if isinstance(node, ast.Name) else getattr(
                node, "attr", None
            )
            if isinstance(node, (ast.Name, ast.Attribute)) and name in names:
                refs.add((path.name, name))
    assert calls == {("store.py", step) for step in steps}
    assert refs == {("store.py", name) for name in names} | {
        ("vectorstore.py", "VersionConflict")
    }


def test_scratch_stores_are_stdlib_temporary_directories():
    """Every scratch store lives in a ``tempfile.TemporaryDirectory``,
    whose exit removes it on every path, so no module hand-rolls the
    ``mkdtemp`` + ``rmtree`` pair."""
    sites = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for fn, call in _calls_by_function(tree):
            f = call.func
            callee = f.id if isinstance(f, ast.Name) else getattr(
                f, "attr", None
            )
            if callee in ("mkdtemp", "rmtree"):
                sites.append((path.name, fn, callee))
    assert sites == []


def test_ann_oracles_are_built_not_edited():
    """The ANN oracles are composed by ``vectorstore._ann_oracle`` from
    parameters, so no oracle text is derived by editing another's:
    ``vectorstore.py`` calls no ``.replace(``."""
    tree = ast.parse((PACKAGE / "operators" / "vectorstore.py").read_text())
    edits = [
        (fn, call.lineno)
        for fn, call in _calls_by_function(tree)
        if isinstance(call.func, ast.Attribute) and call.func.attr == "replace"
    ]
    assert edits == []


def test_multimodal_imports_are_module_level():
    """``multimodal.py`` imports its stdlib modules once, at module
    level: no function body holds an ``import``."""
    tree = ast.parse((PACKAGE / "operators" / "multimodal.py").read_text())
    local = [
        (fn.name, node.lineno)
        for fn in ast.walk(tree)
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        for node in ast.walk(fn)
        if isinstance(node, (ast.Import, ast.ImportFrom))
    ]
    assert local == []
