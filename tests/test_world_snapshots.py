"""Versioned-World pins (world.py ``versioned=True``): manifest-pinned
time travel, immutable snapshot hashes, O(changed) write volume,
delete-to-empty partitions, compaction under versioning, and vacuum.

Reference analogue: the 4-byte payload version header
(tokio-fs/src/lib.rs:89-90) generalized from item bytes to table
state — a committed snapshot is forever re-readable byte-identically,
which is what corpus-release reproducibility needs at 100 TB."""

import os

import pytest

from dmds_spark.core.dims import DimSpec, WorldSpec
from dmds_spark.world import World

from .conftest import split_partition_files


def spec_1024() -> WorldSpec:
    return WorldSpec(
        (
            DimSpec("dim0", 0, 1023, 8),
            DimSpec("dim1", 0, 1023, 16),
        )
    )


@pytest.fixture()
def world(spark, tmp_path):
    return World(
        spark,
        spec_1024(),
        str(tmp_path / "w"),
        physical_factors=(1, 1),
        versioned=True,
    )


def rows(df):
    return sorted(tuple(r) for r in df.select("dim0", "dim1").collect())


def test_pinned_read_survives_later_flushes(world):
    """write -> flush -> write -> flush; v1 reads the same while v2
    exists — the VERDICT acceptance."""
    world.insert_rows([{"dim0": 10, "dim1": 39}])
    world.flush()
    assert world.current_version() == 1
    v1_then = rows(world.snapshot(version=1))
    world.insert_rows([{"dim0": 114, "dim1": 514}, {"dim0": 10, "dim1": 40}])
    world.flush()
    assert world.current_version() == 2
    assert rows(world.snapshot(version=1)) == v1_then == [(10, 39)]
    assert rows(world.snapshot(version=2)) == [(10, 40), (114, 514)]
    assert rows(world.snapshot()) == [(10, 40), (114, 514)]


def test_reads_and_selects_resolve_manifest(spark, world, tmp_path):
    world.insert_rows([{"dim0": 114, "dim1": 514}, {"dim0": 10, "dim1": 39}])
    world.flush()
    assert rows(world.get(114)) == [(114, 514)]
    assert rows(world.read(world.select(0, slice(None, 20)))) == [(10, 39)]
    # a fresh World on the same path resolves the same manifest
    w2 = World(
        spark, spec_1024(), world.path, physical_factors=(1, 1),
        versioned=True,
    )
    assert rows(w2.read(w2.select_all())) == [(10, 39), (114, 514)]


def test_flush_is_o_changed(world):
    """An untouched partition's file must NOT be rewritten by a flush
    that only dirties a different partition (O(changed) write volume)."""
    world.insert_rows([{"dim0": 10, "dim1": 39}])   # c0=1/c1=2
    world.flush()
    world.insert_rows([{"dim0": 900, "dim1": 900}])  # far-away chunk
    world.flush()
    owner = world._read_owner(2)
    assert owner["1/2"] == 1       # untouched: still served from _v1
    assert owner["112/56"] == 2    # 900//8=112, 900//16=56
    assert os.path.isdir(world._version_dir(1))
    assert os.path.isdir(world._version_dir(2))


def test_delete_empties_partition_out_of_manifest(world):
    world.insert_rows([{"dim0": 10, "dim1": 39}])
    world.flush()
    world.delete_ids([10])
    world.flush()
    assert rows(world.snapshot()) == []
    assert world._read_owner(2) == {}
    assert rows(world.snapshot(version=1)) == [(10, 39)]  # time travel


def test_update_relocation_across_versions(world):
    """An id that moves chunks must vanish from its old partition in
    the NEW snapshot while the OLD snapshot still shows it there."""
    world.insert_rows([{"dim0": 10, "dim1": 39}])
    world.flush()
    world.insert_rows([{"dim0": 10, "dim1": 900}])  # relocate dim1
    world.flush()
    assert rows(world.snapshot(version=1)) == [(10, 39)]
    assert rows(world.snapshot(version=2)) == [(10, 900)]
    assert rows(world.get(10)) == [(10, 900)]


def test_compact_versioned(world):
    """Fragmented partitions compact into a new version; content and
    prior snapshots unchanged."""
    for i in range(3):
        world.insert_rows([{"dim0": 10 + i, "dim1": 30 + i}])
        world.flush()
    # a flush writes one file per partition: fragment them by hand
    assert split_partition_files(world) >= 1
    before = rows(world.snapshot())
    n = world.compact(max_files_per_partition=1)
    assert n >= 1
    assert rows(world.snapshot()) == before
    assert rows(world.snapshot(version=1)) == [(10, 30)]


def test_dead_commit_attempt_publishes_none_of_its_rows(
    spark, tmp_path, monkeypatch
):
    """A writer that dies between writing ``_v{N}`` and the manifest
    flip leaves that directory behind. The next writer's commit reuses
    ``_v{N}`` and must publish its own partitions only, never a row the
    dead attempt wrote but never acknowledged."""
    path = str(tmp_path / "w")

    def open_world():
        return World(spark, spec_1024(), path, physical_factors=(1, 1),
                     versioned=True)

    w = open_world()
    w.insert_rows([{"dim0": 0, "dim1": 0}, {"dim0": 100, "dim1": 100}])
    w.flush()
    w.insert_rows([{"dim0": 0, "dim1": 500}])  # relocates id 0

    def die(*_a, **_kw):
        raise OSError("writer died before the manifest flip")

    monkeypatch.setattr(World, "_commit_snapshot", die)
    with pytest.raises(OSError, match="died"):
        w.flush()
    monkeypatch.undo()
    assert os.path.isdir(w._version_dir(2))  # the dead attempt's data
    w._ops.clear()  # its ops died with it
    w.close()

    w2 = open_world()
    w2.insert_rows([{"dim0": 900, "dim1": 900}])  # another partition
    w2.flush()
    w2.close()
    assert w2.current_version() == 2
    want = [(0, 0), (100, 100), (900, 900)]
    assert rows(w2.snapshot()) == want
    assert rows(open_world().snapshot()) == want


def test_vacuum_drops_unreferenced_versions(world):
    world.insert_rows([{"dim0": 10, "dim1": 39}])
    world.flush()
    world.insert_rows([{"dim0": 10, "dim1": 40}])  # rewrites the chunk
    world.flush()
    assert world.snapshot_versions() == [1, 2]
    deleted = world.vacuum_snapshots(retain_last=1)
    assert deleted == 1 and not os.path.isdir(world._version_dir(1))
    assert rows(world.snapshot()) == [(10, 40)]
    with pytest.raises(ValueError, match="not found"):
        world.snapshot(version=1)


def test_vacuum_retains_referenced_old_dirs(world):
    """A version dir still referenced by a retained manifest must
    survive vacuum even when its own manifest is dropped."""
    world.insert_rows([{"dim0": 10, "dim1": 39}])   # v1 partition A
    world.flush()
    world.insert_rows([{"dim0": 900, "dim1": 900}])  # v2 partition B
    world.flush()
    deleted = world.vacuum_snapshots(retain_last=1)
    assert deleted == 0  # _v1 still owns partition A in manifest v2
    assert rows(world.snapshot()) == [(10, 39), (900, 900)]


def test_unversioned_world_rejects_pinned_read(spark, tmp_path):
    w = World(spark, spec_1024(), str(tmp_path / "u"), physical_factors=(1, 1))
    with pytest.raises(ValueError, match="versioned"):
        w.snapshot(version=1)


def test_version_dirs_hidden_from_naive_root_scan(spark, world):
    """The _v{N} prefix is deliberate: Spark file indexes treat
    underscore paths as hidden (the _delta_log convention), so a naive
    spark.read.parquet(root) of a versioned world must see NOTHING —
    never a double-count of every retained version."""
    world.insert_rows([{"dim0": 10, "dim1": 39}])
    world.flush()
    world.insert_rows([{"dim0": 10, "dim1": 40}])
    world.flush()
    with pytest.raises(Exception, match="[Uu]nable to infer schema|PATH"):
        spark.read.parquet(world.path).count()


def test_export_pinned_snapshot_as_reference_tree(spark, world, tmp_path):
    """A PINNED snapshot exports as a reference-compatible chunk tree
    (release v1 in the reference's own on-disk format) and re-imports
    byte-faithfully — however far the world advanced since."""
    world.insert_rows([{"dim0": 10, "dim1": 39}, {"dim0": 114, "dim1": 514}])
    world.flush()                                   # v1
    world.insert_rows([{"dim0": 10, "dim1": 40}])   # advance
    world.delete_ids([114])
    world.flush()                                   # v2
    tree = str(tmp_path / "tree_v1")
    n_files = world.export_chunk_tree(tree, snapshot_version=1)
    assert n_files >= 1
    w2 = World(
        spark, spec_1024(), str(tmp_path / "re"), physical_factors=(1, 1)
    )
    assert w2.import_chunk_tree(tree) == 2
    assert rows(w2.snapshot()) == [(10, 39), (114, 514)]  # exactly v1
    assert rows(world.snapshot()) == [(10, 40)]           # live moved on


def test_vacuum_ignores_crash_orphan_manifest(spark, world):
    """A manifest left by a crash BETWEEN the v{N}.json write and the
    current.json flip must not anchor vacuum retention: retention
    anchors on the committed pointer, the orphan is reclaimed, and the
    manifest current.json points to survives."""
    import json

    world.insert_rows([{"dim0": 10, "dim1": 39}])
    world.flush()                                   # committed v1
    # simulate the crash: v2.json exists, current.json still says 1
    with open(os.path.join(world._snapdir, "v2.json"), "w") as fh:
        json.dump({"version": 2, "owner": {"1/2": 2}}, fh)
    deleted = world.vacuum_snapshots(retain_last=1)
    assert deleted == 0  # orphan had no data dir; nothing to delete
    assert world.snapshot_versions() == [1]         # orphan reclaimed
    assert world.current_version() == 1
    assert rows(world.snapshot()) == [(10, 39)]     # world NOT bricked


def test_empty_pinned_snapshot_keeps_payload_schema(spark, world):
    """A committed-but-empty snapshot must carry the SAME schema as
    non-empty versions (payload columns included) so version unions —
    the dmds_snapshot_timetravel shape — never schema-mismatch."""
    world.upsert(
        spark.createDataFrame(
            [(10, 39, "p")], "dim0 long, dim1 long, payload string"
        )
    )
    world.flush()            # v1 with a payload column
    world.delete_ids([10])
    world.flush()            # v2: empty
    v2 = world.snapshot(version=2)
    assert set(v2.columns) == {"dim0", "dim1", "payload"}
    assert v2.count() == 0
    both = world.snapshot(version=1).unionByName(v2)
    assert both.count() == 1


def test_pinned_reader_during_concurrent_commit(world):
    """The seam between the versioned store and the writer lock: a
    reader holding a pinned ``snapshot(version=1)`` DataFrame keeps
    resolving to IDENTICAL rows while a concurrent thread's flush
    (writer lock held) commits version 2 with relocations, deletes and
    appends — commits are additive (_v2 dir + manifest flip) and never
    touch v1's files, so the pinned plan needs no coordination."""
    import threading

    world.insert_rows(
        [{"dim0": i, "dim1": (i * 7) % 1024} for i in range(0, 600, 3)]
    )
    world.flush()
    pinned = world.snapshot(version=1)
    before = rows(pinned)
    assert len(before) == 200

    errs = []

    def writer():
        try:
            # relocate some, delete some, append some — every commit kind
            world.insert_rows(
                [{"dim0": i, "dim1": ((i * 7) + 513) % 1024}
                 for i in range(0, 120, 3)]
            )
            world.delete_ids(range(300, 360))
            world.insert_rows(
                [{"dim0": i, "dim1": i % 1024} for i in range(700, 760, 3)]
            )
            world.flush()
        except Exception as e:  # surfaced by the main thread
            errs.append(e)

    t = threading.Thread(target=writer)
    t.start()
    seen = []
    while t.is_alive() and len(seen) < 12:
        seen.append(rows(pinned))
    t.join()
    assert errs == []
    assert world.current_version() == 2
    # every read DURING the commit, and the re-read after it, is the
    # byte-stable v1 state
    assert all(s == before for s in seen) and len(seen) >= 1
    assert rows(world.snapshot(version=1)) == before
    assert rows(pinned) == before
    # and v2 actually differs (the writer's changes landed)
    assert rows(world.snapshot(version=2)) != before


def test_snapshot_as_of_timestamp(spark, tmp_path):
    """AS-OF-TIMESTAMP time travel: each commit records committed_at
    in its manifest; snapshot_as_of(ts) resolves to the last version
    committed at or before ts, snapshot(version=...) then serves it.
    Legacy manifests without the field resolve as epoch-0 commits."""
    import json as _json
    import os as _os
    import time as _time

    import pytest as _pytest

    from dmds_spark.core.dims import DimSpec, WorldSpec

    spec = WorldSpec(dims=(DimSpec("x", 0, 63, 8),))
    path = str(tmp_path / "w")
    w = World(spark, spec, path, validate="off", versioned=True)
    before_any = _time.time() - 1.0
    w.insert_rows([{"x": 1, "v": 10}])
    w.flush()
    t1 = _time.time()
    _time.sleep(0.05)
    w.insert_rows([{"x": 2, "v": 20}])
    w.flush()

    with _pytest.raises(ValueError, match="no retained snapshot"):
        w.snapshot_as_of(before_any)
    assert w.snapshot_as_of(t1) == 1
    assert w.snapshot_as_of(_time.time()) == 2
    got = {r["x"] for r in
           w.snapshot(version=w.snapshot_as_of(t1)).collect()}
    assert got == {1}

    # legacy manifest (no committed_at): resolves as epoch 0
    p = _os.path.join(w._snapdir, "v1.json")
    m = _json.load(open(p))
    m.pop("committed_at")
    with open(p, "w") as fh:
        _json.dump(m, fh)
    assert w.snapshot_as_of(before_any) == 1
    w.close()


def test_snapshot_as_of_monotone_under_clock_skew(spark, tmp_path, monkeypatch):
    """A handoff from a fast-clock writer to a slow-clock writer must
    not reorder as-of resolution: _commit_snapshot enforces
    committed_at = max(prev + 1us, now), so v2 committed by a host
    whose clock reads EARLIER than v1's still records a later
    committed_at — version order and timestamp order always agree."""
    import json as _json
    import os as _os
    import time as _time

    from dmds_spark.core.dims import DimSpec, WorldSpec

    spec = WorldSpec(dims=(DimSpec("x", 0, 63, 8),))
    w = World(spark, spec, str(tmp_path / "w"), validate="off",
              versioned=True)
    real_time = _time.time
    # writer A's clock runs one hour fast for the v1 commit
    monkeypatch.setattr("dmds_spark.world.time.time",
                        lambda: real_time() + 3600.0)
    w.insert_rows([{"x": 1, "v": 10}])
    w.flush()
    monkeypatch.undo()  # writer B commits v2 with the true (earlier) clock
    w.insert_rows([{"x": 2, "v": 20}])
    w.flush()

    at = {}
    for v in (1, 2):
        with open(_os.path.join(w._snapdir, f"v{v}.json")) as fh:
            at[v] = float(_json.load(fh)["committed_at"])
    assert at[2] > at[1], "committed_at must be monotone in version order"
    # as-of at v2's committed_at resolves to v2, never "back" to v1
    assert w.snapshot_as_of(at[2]) == 2
    assert w.snapshot_as_of(at[1]) == 1
    w.close()
