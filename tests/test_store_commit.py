"""The commit protocol shared by the World and the maintained stores
(``dmds_spark/core/commit.py``): the writer-token fence on every store,
store vacuum, and the layering that keeps the protocol in one place."""

import ast
import glob
import os

import pytest

from dmds_spark.core.errors import WorldFencedError, WorldLockedError
from dmds_spark.world import World, WriterLock

from .conftest import steal_lock_on_write
from .store_cases import KINDS, fold, open_store

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "dmds_spark")


@pytest.mark.parametrize("kind", KINDS)
def test_flip_is_fenced_by_the_writer_token(spark, tmp_path, monkeypatch, kind):
    """A writer whose lock was broken, or passed to another holder
    while it wrote an increment, must not flip the pointer; the other
    holder's lock then refuses the next writer until it is gone."""
    sdir = str(tmp_path / kind)
    lockfile = WriterLock.lock_path(sdir)
    store = open_store(kind, spark, sdir)
    with store._writer():
        World.break_lock(sdir)  # fence the live writer mid-hold
        with pytest.raises(WorldFencedError):
            store._flip(store._state())
    assert not os.path.exists(store._pointer)  # nothing published

    fold(kind, store, spark, 0)
    assert not os.path.exists(lockfile)  # released after each op
    with open(store._pointer) as fh:
        pointer = fh.read()
    steal_lock_on_write(monkeypatch, sdir)
    with pytest.raises(WorldFencedError):
        fold(kind, store, spark, 1)
    monkeypatch.undo()
    with open(store._pointer) as fh:
        assert fh.read() == pointer

    with pytest.raises(WorldLockedError):
        fold(kind, store, spark, 1)
    os.unlink(lockfile)  # the other holder's
    fold(kind, store, spark, 1)
    assert store._state()["last_batch_id"] == 1


def test_vacuum_keeps_the_committed_version_and_drops_pointer_temps(tmp_path):
    """Rollup vacuum deletes the top-level versions the pointer does
    not name, and the temp file of a writer that died inside
    ``atomic_flip`` (no Spark: vacuum is file work)."""
    rdir = tmp_path / "r"
    store = open_store("rollup", None, str(rdir))
    for v in (1, 2, 3):
        (rdir / f"v{v}").mkdir()
        (rdir / f"v{v}" / "part-0.parquet").write_bytes(b"")
    with store._writer():
        store._flip({"version": 2, "seen_files": []})
    temp = f"{os.path.basename(store._pointer)}.tmp.4242.deadbeef"
    (rdir / temp).write_text('{"version": 9')
    assert store.vacuum()["removed"] == ["v1", "v3", temp]
    assert sorted(os.listdir(rdir)) == ["_current.json", "v2"]
    assert store._state()["version"] == 2
    assert store.vacuum()["removed"] == []


def _imports(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            yield node.module
            yield from (f"{node.module}.{a.name}" for a in node.names)


def test_commit_protocol_is_defined_once():
    """The World core never imports the operator layer, and no operator
    module defines its own pointer, flip, writer or vacuum."""
    core = glob.glob(os.path.join(PKG, "core", "*.py")) + [
        os.path.join(PKG, "world.py")]
    for path in core:
        with open(path) as fh:
            names = set(_imports(ast.parse(fh.read())))
        bad = sorted(n for n in names if n.startswith("dmds_spark.operators"))
        assert not bad, f"{path} imports {bad}"

    owned = {"_flip", "_atomic_flip", "atomic_flip", "store_writer",
             "_writer", "_pointer", "vacuum", "_vacuum_unreferenced"}
    for path in glob.glob(os.path.join(PKG, "operators", "*.py")):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        defs = sorted(
            n.name for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            and n.name in owned
        )
        assert not defs, f"{path} defines {defs}"
