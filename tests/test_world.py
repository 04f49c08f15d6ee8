"""Port of the reference's world end-to-end tests (src/tests.rs) plus
relocation/flush behavior the reference exercises implicitly.

| test here              | reference                  |
|------------------------|----------------------------|
| test_buf_insert        | src/tests.rs:8-33          |
| test_buf_remove        | src/tests.rs:35-69         |
| test_save_load         | src/tests.rs:71-132        |
| test_select            | src/tests.rs:134-175       |
| test_io_modify         | src/tests.rs:177-239       |
| test_buf_modify        | src/tests.rs:241-268       |

Canonical fixtures: 2-dim worlds over 0..=1023 with items-per-chunk
8/16 (src/tests.rs:11-23); records [114, 514], [10, 39] and update
value 810 (src/tests.rs:25,151-152,235).
"""

import os
import re

import pytest
from pyspark.sql import functions as F

from dmds_spark.core.dims import DimSpec, WorldSpec
from dmds_spark.core.errors import ValueOutOfRangeError
from dmds_spark.world import FlushDaemon, World, _is_local

from .conftest import split_partition_files


def spec_1024() -> WorldSpec:
    # reference geometry: dims ..1024, items_per_chunk 8 and 16
    # (src/tests.rs:11-23)
    return WorldSpec(
        dims=(
            DimSpec("dim0", 0, 1023, 8),
            DimSpec("dim1", 0, 1023, 16),
        )
    )


@pytest.fixture()
def world(spark, tmp_path):
    return World(spark, spec_1024(), str(tmp_path / "w"), physical_factors=(1, 1))


def rows(df):
    return sorted(tuple(r) for r in df.select("dim0", "dim1").collect())


def test_buf_insert(world):
    # reference src/tests.rs:8-33: insert -> visible before any flush
    world.insert_rows([{"dim0": 114, "dim1": 514}])
    assert rows(world.get(114)) == [(114, 514)]
    assert world.writes == 1  # dirty, unflushed


def test_buf_remove(world):
    # reference src/tests.rs:35-69: remove -> gone from reads
    world.insert_rows([{"dim0": 114, "dim1": 514}])
    world.delete_ids([114])
    assert rows(world.get(114)) == []
    assert rows(world.snapshot()) == []


def test_save_load(spark, tmp_path, world):
    # reference src/tests.rs:71-132: flush -> fresh world reads the same
    world.insert_rows([{"dim0": 114, "dim1": 514}])
    assert world.flush() == 1
    assert world.writes == 0
    w2 = World(spark, spec_1024(), world.path, physical_factors=(1, 1))
    assert rows(w2.get(114)) == [(114, 514)]
    # partition layout: chunk of 114 along dim0 (ipc 8) = 14,
    # chunk of 514 along dim1 (ipc 16) = 32 -> c0=14/c1=32 under the
    # version dir the manifest maps it to
    owner = world._read_owner(world.current_version())
    assert os.path.isdir(
        os.path.join(world._version_dir(owner["14/32"]), "c0=14", "c1=32")
    )


def test_select(world):
    # reference src/tests.rs:134-175: select_all sees all; our selects
    # are value-exact (the reference returns whole chunks, SURVEY §4.3.4)
    world.insert_rows([{"dim0": 114, "dim1": 514}, {"dim0": 10, "dim1": 39}])
    assert rows(world.read(world.select_all())) == [(10, 39), (114, 514)]
    assert rows(world.read(world.select(0, slice(None, 20)))) == [(10, 39)]
    assert rows(world.read(world.select(1, (500, 600)))) == [(114, 514)]
    # and/plus algebra against the world
    sel = world.select(0, (0, 200)).and_(1, (0, 100)).plus(1, (510, 514))
    assert rows(world.read(sel)) == [(10, 39), (114, 514)]


def test_io_modify(spark, world):
    # reference src/tests.rs:177-239: persist -> reload -> mutate ->
    # value visible; dim mutation relocates the row (Lazy::close,
    # src/world/iter.rs:193-211)
    world.insert_rows([{"dim0": 114, "dim1": 514}])
    world.flush()
    w2 = World(spark, spec_1024(), world.path, physical_factors=(1, 1))
    w2.insert_rows([{"dim0": 114, "dim1": 810}])  # update: new dim1 value
    assert rows(w2.get(114)) == [(114, 810)]
    w2.flush()
    # exactly one copy, in the new chunk (relocation)
    w3 = World(spark, spec_1024(), world.path, physical_factors=(1, 1))
    assert rows(w3.snapshot()) == [(114, 810)]
    assert rows(w3.read(w3.select(1, (800, 820)))) == [(114, 810)]
    assert rows(w3.read(w3.select(1, (500, 600)))) == []
    # old partition dir rewritten without the row: value query via the
    # pruned path returns nothing (dir may remain, rows must not)
    base = w3._base()
    old = base.filter((F.col("c0") == 14) & (F.col("c1") == 32))
    assert old.count() == 0


def test_buf_modify(world):
    # reference src/tests.rs:241-268: update while buffered
    world.insert_rows([{"dim0": 114, "dim1": 514}])
    world.insert_rows([{"dim0": 114, "dim1": 810}])
    assert rows(world.get(114)) == [(114, 810)]
    assert rows(world.snapshot()) == [(114, 810)]


def test_try_insert(world):
    # reference src/world.rs:569-584: insert-if-absent
    world.insert_rows([{"dim0": 114, "dim1": 514}])
    df = world.spark.createDataFrame([{"dim0": 114, "dim1": 1}, {"dim0": 7, "dim1": 2}])
    world.try_insert(df)
    assert rows(world.snapshot()) == [(7, 2), (114, 514)]


def test_out_of_range_insert_flush_mode(world):
    # reference Error::ValueOutOfRange (src/lib.rs:136-142). Default
    # validate="flush": the check rides the flush pass (documented
    # divergence — the reference errors at insert; eager mode matches
    # that at the cost of computing the batch twice).
    world.insert_rows([{"dim0": 114, "dim1": 2000}])
    with pytest.raises(ValueOutOfRangeError) as ei:
        world.flush()
    assert ei.value.dim == 1
    assert ei.value.value == 2000


def test_out_of_range_insert_eager_mode(spark, tmp_path):
    w = World(spark, spec_1024(), str(tmp_path / "we"),
              physical_factors=(1, 1), validate="eager")
    with pytest.raises(ValueOutOfRangeError):
        w.insert_rows([{"dim0": 114, "dim1": 2000}])


def test_out_of_range_flush_mode_existing_base(world):
    # guard must also fire on the merge-with-base path
    world.insert_rows([{"dim0": 1, "dim1": 1}])
    world.flush()
    world.insert_rows([{"dim0": 3000, "dim1": 2}])
    with pytest.raises(ValueOutOfRangeError) as ei:
        world.flush()
    assert ei.value.dim == 0


def test_pending_limit_auto_flush(spark, tmp_path):
    # reference World::set_chunks_limit (src/world.rs:295-299): the
    # buffer cap keeps the op log — and thus read-planning cost —
    # bounded across an arbitrarily long writer session
    w = World(spark, spec_1024(), str(tmp_path / "wl"),
              physical_factors=(1, 1), pending_limit=8)
    for i in range(30):
        w.insert_rows([{"dim0": i, "dim1": 2 * i}])
        assert w.writes < 8  # never grows past the cap
    assert rows(w.snapshot()) == [(i, 2 * i) for i in range(30)]
    w.flush()
    w2 = World(spark, spec_1024(), w.path, physical_factors=(1, 1))
    assert rows(w2.snapshot()) == [(i, 2 * i) for i in range(30)]


def test_set_pending_limit_validation(world):
    with pytest.raises(ValueError):
        world.set_pending_limit(0)


def test_delete_where(world):
    world.insert_rows(
        [{"dim0": i, "dim1": i * 3} for i in range(10)]
    )
    world.delete_where(world.select(1, (0, 14)))  # dim1 in 0..=14 -> ids 0..4
    assert rows(world.snapshot()) == [(i, i * 3) for i in range(5, 10)]


def test_flush_pruning_and_payload(spark, tmp_path):
    # payload columns ride along; pruned read touches few partitions
    spec = WorldSpec(
        dims=(DimSpec("id", 0, 1023, 8), DimSpec("grp", 0, 1023, 16))
    )
    w = World(spark, spec, str(tmp_path / "wp"), physical_factors=(8, 4))
    data = [{"id": i, "grp": (i * 7) % 1024, "payload": f"v{i}"} for i in range(0, 1000, 3)]
    w.upsert(spark.createDataFrame(data))
    w.flush()
    w2 = World(spark, spec, w.path, physical_factors=(8, 4))
    out = w2.read(w2.select(0, (100, 120)))
    got = sorted((r["id"], r["payload"]) for r in out.collect())
    assert got == [(i, f"v{i}") for i in range(102, 121, 3)]
    # physical pruning: partition filter appears in the physical plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_flush_daemon(spark, tmp_path):
    # reference daemon/ShutdownHandle (tokio-fs/src/lib.rs:158-235)
    w = World(spark, spec_1024(), str(tmp_path / "wd"), physical_factors=(1, 1))
    with FlushDaemon([w], interval=3600) as d:  # interval never fires in-test
        w.insert_rows([{"dim0": 5, "dim1": 6}])
        assert w.writes == 1
    # close() flushed (flush-on-drop)
    assert w.writes == 0
    w2 = World(spark, spec_1024(), w.path, physical_factors=(1, 1))
    assert rows(w2.snapshot()) == [(5, 6)]


def test_upsert_delete_upsert_sequencing(world):
    # op-log ordering: delete between two upserts of the same id
    world.insert_rows([{"dim0": 1, "dim1": 10}])
    world.delete_ids([1])
    world.insert_rows([{"dim0": 1, "dim1": 20}])
    assert rows(world.snapshot()) == [(1, 20)]
    world.flush()
    assert rows(world.snapshot()) == [(1, 20)]
    world.delete_ids([1])
    world.flush()
    assert rows(world.snapshot()) == []


def test_chunk_states(spark, world):
    # reference World::chunks iterator: per-chunk dirty view (M11)
    assert world.chunk_states().count() == 0
    world.insert_rows([{"dim0": 114, "dim1": 514}, {"dim0": 10, "dim1": 39}])
    states = {
        (r["c0"], r["c1"]): (r["pending_upserts"], r["pending_deletes"])
        for r in world.chunk_states().collect()
    }
    # chunk of (114,514) = (14,32); chunk of (10,39) = (1,2)
    assert states == {(14, 32): (1, 0), (1, 2): (1, 0)}
    world.flush()
    assert world.chunk_states().count() == 0
    # a delete dirties the on-disk partition holding the id
    world.delete_ids([114])
    states = {
        (r["c0"], r["c1"]): (r["pending_upserts"], r["pending_deletes"])
        for r in world.chunk_states().collect()
    }
    assert states == {(14, 32): (0, 1)}


def test_zvalue_interleave(spark, world):
    # Morton key: dim0 bits land at even positions, dim1 at odd
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5)], ["dim0", "dim1"]
    )
    got = {(r["dim0"], r["dim1"]): r["z"]
           for r in df.select("dim0", "dim1", world.zvalue().alias("z")).collect()}
    # interleave(x=3 (11b), y=5 (101b)): bits y2 x2 y1 x1 y0 x0 = 1 0 0 1 1 1 = 39
    assert got[(0, 0)] == 0
    assert got[(1, 0)] == 1
    assert got[(0, 1)] == 2
    assert got[(3, 5)] == 0b100111


def test_compact_zorder(spark, tmp_path):
    spec = spec_1024()
    w = World(spark, spec, str(tmp_path / "wz"), physical_factors=(128, 64))
    w.upsert(spark.createDataFrame([{"dim0": i, "dim1": (i * 37) % 1024} for i in range(0, 200, 2)]))
    w.flush()
    w.upsert(spark.createDataFrame([{"dim0": i, "dim1": (i * 37) % 1024} for i in range(1, 200, 2)]))
    w.flush()
    assert split_partition_files(w) >= 1  # a flush writes one file per dir
    n = w.compact(order="zorder")
    assert n >= 1
    assert rows(w.snapshot()) == [(i, (i * 37) % 1024) for i in range(200)]
    with pytest.raises(ValueError):
        w.compact(order="bogus")


def test_flush_daemon_concurrent_with_autoflush(spark, tmp_path):
    # daemon flushes on its timer while the writer's pending_limit
    # auto-flush fires — the single lock must serialize them without
    # losing ops or double-applying any batch
    w = World(spark, spec_1024(), str(tmp_path / "wd"),
              physical_factors=(1, 1), pending_limit=4)
    with FlushDaemon([w], interval=0.2):
        for i in range(20):
            w.insert_rows([{"dim0": i, "dim1": (i * 11) % 1024}])
    assert w.writes == 0  # close() flushed the tail
    assert rows(w.snapshot()) == [(i, (i * 11) % 1024) for i in range(20)]


def test_payload_schema_evolution(spark, tmp_path):
    # a later batch may carry NEW payload columns: earlier rows read
    # back with nulls there, earlier columns survive on new rows when
    # absent (unionByName allowMissingColumns on both merge paths)
    spec = WorldSpec(dims=(DimSpec("id", 0, 1023, 8), DimSpec("grp", 0, 1023, 16)))
    w = World(spark, spec, str(tmp_path / "we2"), physical_factors=(8, 4))
    w.upsert(spark.createDataFrame([{"id": 1, "grp": 2, "old_col": "a"}]))
    w.flush()
    w.upsert(spark.createDataFrame([{"id": 2, "grp": 3, "new_col": 7}]))
    w.flush()
    got = {r["id"]: (r["old_col"], r["new_col"])
           for r in w.snapshot().select("id", "old_col", "new_col").collect()}
    assert got == {1: ("a", None), 2: (None, 7)}
    # and the buffered (pre-flush) view agrees
    w.upsert(spark.createDataFrame([{"id": 3, "grp": 4, "new_col": 9}]))
    got2 = {r["id"]: r["new_col"] for r in w.snapshot().select("id", "new_col").collect()}
    assert got2 == {1: None, 2: 7, 3: 9}


def test_delete_only_oplog_paths(spark, tmp_path, world):
    # delete ops with no upserts: empty world and flushed world both
    # resolve the delete-only buffer without schema errors
    w = World(spark, spec_1024(), str(tmp_path / "wdel"), physical_factors=(1, 1))
    w.delete_ids([5])
    assert rows(w.snapshot()) == []
    assert rows(w.read(w.select_all())) == []
    assert w.flush() == 1 and not w.exists()  # publishes nothing
    wv = World(spark, spec_1024(), str(tmp_path / "wvdel"),
               physical_factors=(1, 1), versioned=True)
    wv.delete_ids([5])
    wv.flush()
    assert wv.current_version() == 1  # even a delete-only flush commits
    assert rows(wv.snapshot(version=1)) == []
    world.insert_rows([{"dim0": 1, "dim1": 2}, {"dim0": 3, "dim1": 4}])
    world.flush()
    world.delete_ids([1])
    assert rows(world.snapshot()) == [(3, 4)]
    world.flush()
    assert rows(world.snapshot()) == [(3, 4)]


def test_one_dim_world(spark, tmp_path):
    spec = WorldSpec(dims=(DimSpec("k", 0, 1023, 16),))
    w = World(spark, spec, str(tmp_path / "w1"), physical_factors=(4,))
    w.upsert(spark.createDataFrame([{"k": i, "v": i * i} for i in range(0, 50, 7)]))
    w.flush()
    got = sorted((r["k"], r["v"]) for r in w.read(w.select(0, (10, 40))).collect())
    assert got == [(i, i * i) for i in range(0, 50, 7) if 10 <= i <= 40]
    # 1-dim Morton key degenerates to the offset itself
    z = {r["k"]: r["z"] for r in w.snapshot().select("k", w.zvalue().alias("z")).collect()}
    assert all(z[k] == k for k in z)


def test_three_dim_world_readme_example(spark, tmp_path):
    """The reference readme's own example geometry (readme.md:9-15):
    3 dimensions user_id / username_hash / username_length. CRUD,
    box selection over secondary dims, relocation on a secondary-dim
    mutation, and flush round-trip must all hold at DIMS=3."""
    spec = WorldSpec(
        dims=(
            DimSpec("user_id", 0, 2**20 - 1, 4096),
            DimSpec("username_hash", 0, 2**16 - 1, 1024),
            DimSpec("username_length", 0, 255, 16),
        )
    )
    w = World(spark, spec, str(tmp_path / "w3"))
    rows = [
        {"user_id": i, "username_hash": (i * 131) % 2**16,
         "username_length": 3 + (i % 20)}
        for i in range(0, 500, 7)
    ]
    w.upsert(spark.createDataFrame(rows))
    w.flush()

    # conjunction box over the two secondary dims
    sel = w.select(1, slice(1000, 40000)).and_(2, slice(5, 9))
    got = sorted(r["user_id"] for r in w.read(sel).collect())
    # slice bounds are half-open (Rust a..b; core/dims.py:25-45)
    want = sorted(
        r["user_id"] for r in rows
        if 1000 <= r["username_hash"] < 40000
        and 5 <= r["username_length"] < 9
    )
    assert got == want

    # union with an id hint
    sel2 = w.select(2, slice(5, 9)).plus(2, slice(200, 255)).hints([0, 7])
    got2 = sorted(r["user_id"] for r in w.read(sel2).collect())
    want2 = sorted(
        r["user_id"] for r in rows
        if ((5 <= r["username_length"] < 9 or r["username_length"] >= 200)
            and r["user_id"] in (0, 7))
    )
    assert got2 == want2

    # relocation: renaming user 7 moves it to new hash/length chunks
    w.upsert(spark.createDataFrame(
        [{"user_id": 7, "username_hash": 60000, "username_length": 30}]
    ))
    w.flush()
    w2 = World(spark, spec, w.path)
    r7 = w2.get(7).collect()
    assert len(r7) == 1
    assert r7[0]["username_hash"] == 60000
    assert r7[0]["username_length"] == 30
    assert w2.read(w2.select(2, slice(5, 10)).hints([7])).count() == 0


def test_stats_empty_world(world):
    st = world.stats()
    assert st.count() == 0
    assert "n_files" in st.columns


def test_stats_counts_rows_files_and_id_bounds(spark, tmp_path):
    w = World(spark, spec_1024(), str(tmp_path / "ws"),
              physical_factors=(1, 1))
    w.insert_rows([{"dim0": i, "dim1": i} for i in range(0, 16)])
    w.flush()
    # second flush rewrites the partitions it shares with the first
    w.insert_rows([{"dim0": i, "dim1": 1023 - i} for i in range(16, 24)])
    w.flush()
    st = {tuple(r[:2]): r for r in w.stats().collect()}
    total_rows = sum(r["n_rows"] for r in st.values())
    assert total_rows == 24
    # ids 0..7 live in chunk (0, ...) of dim0 (items_per_chunk=8)
    first = [r for k, r in st.items() if k[0] == 0]
    assert first and all(r["approx_bytes"] > 0 for r in st.values())
    allr = list(st.values())
    assert min(r["min_id"] for r in allr) == 0
    assert max(r["max_id"] for r in allr) == 23
    # compact() leaves every partition at 1 file
    frag_before = [r["n_files"] for r in allr]
    w.compact()
    st2 = list(w.stats().collect())
    assert all(r["n_files"] == 1 for r in st2)
    assert sum(r["n_rows"] for r in st2) == 24
    assert max(frag_before) >= 1


def test_base_relation_cache_and_cross_instance_invalidation(spark, tmp_path):
    """_base() reuses one file listing per on-disk-state version (the
    hint_is_valid-cache analogue, tokio-fs/src/lib.rs:38-73): repeated
    reads return the SAME relation object; a flush through ANY
    same-process World on the path bumps the interned version, so
    every instance re-lists and sees the new state."""
    spec = WorldSpec(dims=(DimSpec("k", 0, 1023, 16),))
    a = World(spark, spec, str(tmp_path / "w"), physical_factors=(4,))
    a.insert_rows([{"k": 1, "v": 10}])
    a.flush()
    b1 = a._base()
    assert a._base() is b1  # cached: no re-list, no new relation

    b = World(spark, spec, a.path, physical_factors=(4,))
    assert b._base() is not None
    b.insert_rows([{"k": 2, "v": 20}])
    b.flush()  # bumps the shared data_version

    b2 = a._base()
    assert b2 is not b1  # a's cache invalidated by b's flush
    got = {(r["k"], r["v"]) for r in a.snapshot().select("k", "v").collect()}
    assert got == {(1, 10), (2, 20)}

    # manual escape hatch for external-process writes
    a.invalidate_base_cache()
    assert a._base() is not b2 or a._base() is a._base()
    a.close()
    b.close()


# -- resolved op-log cache and flush job counts -----------------------------


def _in_group(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, group)."""
    import uuid

    sc = spark.sparkContext
    group = f"t-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, group


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs it
    launched before returning)."""
    out, group = _in_group(spark, fn)
    return out, len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_pending_read_sees_each_new_op(world):
    # the resolved log is cached per op sequence: an op appended after
    # a read must show up in the next read
    world.insert_rows([{"dim0": 1, "dim1": 10}])
    assert rows(world.get(1)) == [(1, 10)]
    world.insert_rows([{"dim0": 1, "dim1": 20}])
    assert rows(world.get(1)) == [(1, 20)]
    world.delete_ids([1])
    assert rows(world.snapshot()) == []


def test_pending_reads_share_one_resolved_log(spark, monkeypatch, world):
    import dmds_spark.world as world_mod

    world.insert_rows([{"dim0": 1, "dim1": 10}])
    world.flush()
    world.insert_rows([{"dim0": 2, "dim1": 20}])
    world.get(1)  # resolves and caches the pending log
    df, jobs = _jobs(spark, lambda: world.get(2))
    assert jobs == 0  # second pending get: no job before it returns
    got, jobs = _jobs(spark, lambda: rows(df))
    assert got == [(2, 20)]
    assert jobs == 0  # the touched id reads the local pending rows only
    df = world.read(world.select(0, (1, 2)))
    got, jobs = _jobs(spark, lambda: rows(df))
    assert got == [(1, 10), (2, 20)]
    assert jobs == 1  # one scan of base and pending rows, no join

    barriers = []
    real = world_mod.materialize
    monkeypatch.setattr(
        world_mod, "materialize", lambda d: barriers.append(1) or real(d)
    )
    assert world.flush() == 1
    assert barriers == []  # the flush reused the read's checkpoint
    assert world._pending_cache is None  # dropped with its ops
    assert rows(world.snapshot()) == [(1, 10), (2, 20)]


def test_pending_dataframes_survive_the_flush(spark, tmp_path):
    # a lazy DataFrame read while ops were pending keeps working after
    # the flush that commits them (e.g. a daemon flush between a get
    # and its collect): the flush must not free the shared checkpoint
    w = World(spark, spec_1024(), str(tmp_path / "w"),
              physical_factors=(1, 1), versioned=True)
    w.insert_rows([{"dim0": 1, "dim1": 10}])
    w.flush()
    w.insert_rows([{"dim0": 1, "dim1": 11}, {"dim0": 2, "dim1": 20}])
    got, snap = w.get(2), w.snapshot()
    assert w.flush() == 1
    assert rows(got) == [(2, 20)]
    assert rows(snap) == [(1, 11), (2, 20)]
    w.close()


def test_failed_flush_keeps_ops_and_retry_succeeds(world):
    world.insert_rows([{"dim0": 1, "dim1": 10}])
    world.flush()
    world.insert_rows([{"dim0": 2, "dim1": 20}, {"dim0": 3, "dim1": 5000}])
    assert rows(world.get(2)) == [(2, 20)]
    cached = world._pending_cache
    with pytest.raises(ValueOutOfRangeError):
        world.flush()
    assert world.writes == 1
    assert world._pending_cache is cached  # kept with the ops
    world.delete_ids([3])  # correct the batch: the later op wins
    assert world.flush() == 2
    w2 = World(world.spark, spec_1024(), world.path, physical_factors=(1, 1))
    assert rows(w2.snapshot()) == [(1, 10), (2, 20)]


# -- flush pruning keeps the rewrite set exact -------------------------------

# ids route to 8 id groups of 128; a and b to 4 and 2 groups. Base rows
# keep a below 768, so the a-group 3 partitions hold only LONELY.
PRUNE_SPEC = WorldSpec(
    dims=(
        DimSpec("id", 0, 1023, 8),
        DimSpec("a", 0, 1023, 16),
        DimSpec("b", 0, 1023, 16),
    )
)
PRUNE_FACTORS = (16, 16, 32)
LONELY = 1021


def _prune_key(i, a, b):
    return f"{i // 128}/{a // 256}/{b // 512}"


def _prune_base():
    model = {i: ((i * 37) % 768, (i * 11) % 1024, f"p{i}") for i in range(0, 1024, 4)}
    model[LONELY] = (1000, 1000, "lonely")
    return model


def _prune_batch(model):
    """Touch 3 id groups: in-place and cross-group relocating updates,
    new ids, deletes, and relocate LONELY out of its partition."""
    ups = {
        4: (model[4][0], model[4][1], "inplace"),  # group 0, same place
        8: (700, 1000, "reloc-a-b"),  # group 0, crosses a and b groups
        644: (10, 10, "reloc"),  # group 5
        642: (300, 600, "new"),  # group 5, new id
        LONELY: (10, 20, "moved"),  # group 7: empties its partition
    }
    return ups, [12, 648]


@pytest.mark.parametrize(
    "versioned,cap",
    [(False, None), (True, None), (False, 2), (True, 2)],
    ids=["False", "True", "False-joins_past_cap", "True-joins_past_cap"],
)
def test_flush_pruning_rewrites_exactly_the_dirty_set(
    spark, tmp_path, monkeypatch, versioned, cap
):
    from pyspark.sql import DataFrameWriter

    import dmds_spark.world as world_mod

    if cap is not None:
        # the batch touches 7 ids: past the cap it routes by joins
        monkeypatch.setattr(world_mod, "ID_LIST_CAP", cap)
    path = str(tmp_path / "w")
    w = World(spark, PRUNE_SPEC, path, physical_factors=PRUNE_FACTORS,
              versioned=versioned)
    model = _prune_base()
    w.upsert(spark.createDataFrame(
        [(i, a, b, p) for i, (a, b, p) in model.items()],
        "id long, a long, b long, p string",
    ))
    w.flush()
    ups, dels = _prune_batch(model)
    w.upsert(spark.createDataFrame(
        [(i, a, b, p) for i, (a, b, p) in ups.items()],
        "id long, a long, b long, p string",
    ))
    w.delete_ids(dels)
    expect_dirty = {_prune_key(i, *model[i][:2]) for i in [*ups, *dels] if i in model}
    expect_dirty |= {_prune_key(i, a, b) for i, (a, b, _) in ups.items()}
    assert _prune_key(LONELY, *model[LONELY][:2]) not in {
        _prune_key(i, a, b) for i, (a, b, _) in model.items() if i != LONELY
    }
    model.update(ups)
    for i in dels:
        del model[i]

    # record every plan the flush runs: collects and the data write
    plans = []
    df_cls = type(w._base())
    collect, parquet = df_cls.collect, DataFrameWriter.parquet

    def spy_collect(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return collect(self)

    def spy_parquet(self, *a, **kw):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return parquet(self, *a, **kw)

    owner_before = w._read_owner(w.current_version())
    monkeypatch.setattr(df_cls, "collect", spy_collect)
    monkeypatch.setattr(DataFrameWriter, "parquet", spy_parquet)
    assert w.flush() == 2
    monkeypatch.undo()

    filters = [
        line.split("PartitionFilters: [", 1)[1].split("], PushedFilters", 1)[0]
        for p in plans for line in p.split("\n") if "PartitionFilters: [" in line
    ]
    # old-location lookup reads only the touched id groups (partition
    # columns are longs: Spark prints their ids with an L) ...
    assert any(re.search(r"\bc0#\d+L? IN \(0,5,7\)", f) for f in filters)
    # ... and the merge reads only the dirty partitions, by key (Spark
    # prints a long IN list as a sorted INSET)
    keys = sorted(expect_dirty)
    dirty_in = (f"IN ({','.join(keys)})", f"INSET {', '.join(keys)}")
    assert any(
        "concat_ws(/, cast(c0#" in f and any(d in f for d in dirty_in)
        for f in filters
    )

    owner = w._read_owner(w.current_version())
    changed = {k for k in owner_before if owner.get(k) != owner_before[k]}
    changed |= set(owner) - set(owner_before)
    assert changed == expect_dirty

    # every partition, the dirty ones that still hold rows among them,
    # is one id-sorted file
    _assert_one_sorted_file_per_partition(w)

    want = sorted((i, a, b, p) for i, (a, b, p) in model.items())
    for reader in (w, World(spark, PRUNE_SPEC, path,
                            physical_factors=PRUNE_FACTORS, versioned=versioned)):
        got = sorted(tuple(r) for r in reader.snapshot().select("id", "a", "b", "p").collect())
        assert got == want
    assert w.compact() == 0  # the flush left nothing to compact
    w.close()


def test_fresh_world_resolves_without_routing(spark, tmp_path):
    # nothing is stored yet, so neither a pending read nor the load
    # needs the routing collect: resolving the same batch runs one job
    # fewer than it does once the world holds rows
    w = World(spark, PRUNE_SPEC, str(tmp_path / "w"),
              physical_factors=PRUNE_FACTORS)
    model = _prune_base()
    w.upsert(_prune_df(spark, model))
    p, fresh_jobs = _jobs(spark, w._resolved_pending)
    assert p.keep is None and p.new_keys is None
    assert len(w.get(LONELY).collect()) == 1
    w.flush()
    w.upsert(_prune_df(spark, model))
    w._base()  # the listing of the new files is not the routing's
    p, stored_jobs = _jobs(spark, w._resolved_pending)
    assert p.keep is not None
    assert stored_jobs == fresh_jobs + 1
    w.flush()
    got = sorted(tuple(r) for r in w.snapshot().select("id", "a", "b", "p").collect())
    assert got == sorted((i, a, b, p) for i, (a, b, p) in model.items())
    w.close()


@pytest.mark.parametrize("versioned", [False, True])
def test_pending_gets_and_flush_job_counts(spark, tmp_path, versioned):
    # the first pending get resolves and routes the batch; a second
    # get then plans without a job and runs one, and the flush needs
    # one old-location scan plus the shuffled write
    w = World(spark, PRUNE_SPEC, str(tmp_path / "w"),
              physical_factors=PRUNE_FACTORS, versioned=versioned)
    model = _prune_base()
    w.upsert(_prune_df(spark, model))
    w.flush()
    ups, dels = _prune_batch(model)
    w.upsert(_prune_df(spark, ups))
    w.delete_ids(dels)
    assert [tuple(r) for r in w.get(644).collect()] == [(644, 10, 10, "reloc")]
    df, jobs = _jobs(spark, lambda: w.get(LONELY))
    assert jobs == 0
    got, jobs = _jobs(spark, df.collect)
    assert [tuple(r) for r in got] == [(LONELY, 10, 20, "moved")]
    assert jobs == 1
    # the touched id is read from the checkpoint alone
    assert "FileScan" not in df._jdf.queryExecution().executedPlan().toString()
    n, jobs = _jobs(spark, w.flush)
    assert n == 2
    assert jobs <= 3, jobs
    model.update(ups)
    for i in dels:
        del model[i]
    got = sorted(tuple(r) for r in w.snapshot().select("id", "a", "b", "p").collect())
    assert got == sorted((i, a, b, p) for i, (a, b, p) in model.items())
    w.close()


def _prune_df(spark, model):
    return spark.createDataFrame(
        [(i, a, b, p) for i, (a, b, p) in model.items()],
        "id long, a long, b long, p string",
    )


# -- the driver collapse of local op logs -----------------------------------


def _local_df(spark, model, extra=None):
    """``_prune_df`` built through Arrow: a local relation. ``extra``
    adds a payload column ``q`` (schema evolution)."""
    import pandas as pd

    cols = {"id": list(model), "a": [v[0] for v in model.values()],
            "b": [v[1] for v in model.values()], "p": [v[2] for v in model.values()]}
    schema = "id long, a long, b long, p string"
    if extra is not None:
        cols["q"] = [extra] * len(model)
        schema += ", q long"
    return spark.createDataFrame(pd.DataFrame(cols), schema)


def test_insert_rows_frame_has_the_inferred_schema(spark, world, tmp_path):
    from decimal import Decimal

    rows_ = [{"dim0": 1, "dim1": 2, "s": "x", "blob": b"\x00", "ok": True},
             {"dim0": 3, "dim1": 4, "s": None, "blob": None, "ok": None}]
    df, ref = world._rows_frame(rows_), spark.createDataFrame(rows_)
    assert df.schema == ref.schema
    assert _is_local(df)
    assert df.collect() == ref.collect()
    # u64 ints become Decimal before inference: DECIMAL(38,18), as before
    u = World(spark, WorldSpec(dims=(DimSpec("id", 0, 2**64 - 1, 2**56, u64=True),)),
              str(tmp_path / "u"))
    big = [{"id": 2**64 - 1, "v": 7}]
    df = u._rows_frame(big)
    assert df.schema == spark.createDataFrame([{"id": Decimal(2**64 - 1), "v": 7}]).schema
    assert _is_local(df) and df.collect()[0]["id"] == 2**64 - 1
    # doubles take Spark's row path (Arrow would turn a NaN into null)
    nan = [{"dim0": 1, "dim1": 2, "x": float("nan")}]
    df = world._rows_frame(nan)
    assert df.schema == spark.createDataFrame(nan).schema and not _is_local(df)


def _collapse_pair(spark, tmp_path, base_dir, name):
    """Two copies of the world at ``base_dir``: the first collapses on
    the driver, the second is forced onto the window."""
    import shutil

    worlds = []
    for side in ("driver", "window"):
        path = str(tmp_path / f"{name}-{side}")
        if base_dir is not None:
            shutil.copytree(base_dir, path)
        worlds.append(World(spark, PRUNE_SPEC, path, physical_factors=PRUNE_FACTORS))
    return worlds


def _assert_same_collapse(spark, monkeypatch, driver, window, routed=True):
    p, jobs = _jobs(spark, driver._resolved_pending)
    assert jobs == 0  # collapsed and routed on the driver
    with monkeypatch.context() as mp:
        mp.setattr(World, "_collapse_on_driver", lambda self, *a: None)
        q, jobs = _jobs(spark, window._resolved_pending)
    assert jobs >= 2  # the window's checkpoint, then the routing collect
    assert p.live.dtypes == q.live.dtypes
    for a, b in ((p.live, q.live), (p.touched, q.touched)):
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    assert (p.groups, p.new_keys) == (q.groups, q.new_keys)
    assert (p.keep is not None) == (q.keep is not None) == routed
    driver.flush()
    window.flush()
    snap = [sorted(map(tuple, w.snapshot().collect())) for w in (driver, window)]
    assert snap[0] == snap[1]
    return snap[0]


@pytest.fixture(scope="module")
def prune_base_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("collapse") / "base")
    w = World(spark, PRUNE_SPEC, path, physical_factors=PRUNE_FACTORS)
    w.upsert(_prune_df(spark, _prune_base()))
    w.flush()
    w.close()
    return path


@pytest.mark.parametrize("seed", range(4))
def test_driver_collapse_matches_the_window(spark, tmp_path, monkeypatch,
                                            prune_base_dir, seed):
    # random logs of re-upserts, relocations, new ids, deletes and
    # delete-then-upsert, one op adding a payload column: both sources
    # give the same live rows, touched ids, routing and flushed rows
    import random

    rng = random.Random(seed)
    base = _prune_base()
    pool = rng.sample(sorted(base), 12) + [1 + 4 * k for k in range(8)]
    model = dict(base)
    driver, window = _collapse_pair(spark, tmp_path, prune_base_dir, f"s{seed}")
    kinds = ["upsert", "delete", "upsert"]
    kinds += rng.choices(["upsert", "delete"], k=rng.randint(0, 2))
    deleted = []
    for n, kind in enumerate(kinds):
        picked = rng.sample(pool, rng.randint(1, 6))
        if n == 2:  # upserts some ids the op before deleted
            picked = sorted(set(picked) | set(deleted[:2]))
        if kind == "delete":
            deleted = picked
            for w in (driver, window):
                w.delete_ids(picked)
            for i in picked:
                model.pop(i, None)
        else:
            ups = {i: (rng.randrange(1024), rng.randrange(1024), f"s{seed}n{n}")
                   for i in picked}
            extra = 7 if n == 2 else None
            for w in (driver, window):
                w.upsert(_local_df(spark, ups, extra))
            model.update(ups)
    got = _assert_same_collapse(spark, monkeypatch, driver, window)
    assert sorted((r[0], *r[1:4]) for r in got) == sorted(
        (i, a, b, p) for i, (a, b, p) in model.items())


def test_driver_collapse_delete_only_and_fresh_logs(spark, tmp_path, monkeypatch,
                                                    prune_base_dir):
    driver, window = _collapse_pair(spark, tmp_path, prune_base_dir, "dels")
    for w in (driver, window):
        w.delete_ids([4, 8, 3])  # 3 is not stored
        w.delete_ids([8, LONELY])
    got = _assert_same_collapse(spark, monkeypatch, driver, window)
    assert {4, 8, LONELY} & {r[0] for r in got} == set()
    # a fresh world is not routed by either source
    driver, window = _collapse_pair(spark, tmp_path, None, "fresh")
    for w in (driver, window):
        w.upsert(_local_df(spark, {1: (1, 1, "a"), 2: (2, 2, "b")}))
        w.delete_ids([1])
    assert _assert_same_collapse(spark, monkeypatch, driver, window,
                                 routed=False) == [(2, 2, 2, "b")]


def test_driver_collapse_u64_ids(spark, tmp_path, monkeypatch):
    spec = WorldSpec(dims=(DimSpec("id", 0, 2**64 - 1, 2**60, u64=True),
                           DimSpec("t", 0, 1023, 64)))
    top = 2**64 - 1
    worlds = [World(spark, spec, str(tmp_path / s)) for s in ("driver", "window")]
    for w in worlds:
        w.insert_rows([{"id": top - k, "t": k, "v": k} for k in range(6)])
        w.flush()
        w.insert_rows([{"id": top, "t": 900, "v": 100}, {"id": 2**63 + 1, "t": 1, "v": 1}])
        w.delete_ids([top - 1, top - 2])
    p, jobs = _jobs(spark, worlds[0]._resolved_pending)
    assert jobs == 0
    with monkeypatch.context() as mp:
        mp.setattr(World, "_collapse_on_driver", lambda self, *a: None)
        q = worlds[1]._resolved_pending()
    assert sorted(map(tuple, p.live.collect())) == sorted(map(tuple, q.live.collect()))
    assert (p.groups, p.new_keys) == (q.groups, q.new_keys)
    for w in worlds:
        w.flush()
    want = [(2**63 + 1, 1, 1), (top - 5, 5, 5), (top - 4, 4, 4), (top - 3, 3, 3),
            (top, 900, 100)]
    for w in worlds:
        assert sorted((int(r[0]), r[1], r[2]) for r in w.snapshot().collect()) == want


def test_null_repeated_or_too_many_ids_fall_back_to_the_window(
    spark, tmp_path, prune_base_dir
):
    import pandas as pd

    import dmds_spark.world as world_mod

    many = {i: (1, 1, "c") for i in range(world_mod.ID_LIST_CAP + 1)}
    for name, ids in (("null", [4, None]), ("repeat", [4, 4]), ("cap", None)):
        w, _ = _collapse_pair(spark, tmp_path, prune_base_dir, name)
        w.upsert(_local_df(spark, many) if ids is None else spark.createDataFrame(
            pd.DataFrame({"id": pd.Series(ids, dtype=object), "a": [1, 2],
                          "b": [1, 2], "p": ["x", "y"]}),
            "id long, a long, b long, p string"))
        ops = list(w._ops)
        parts = w._aligned_ops(ops)
        assert _is_local(parts[0])
        assert w._collapse_on_driver(ops, parts, parts[0]) is None
        _, jobs = _jobs(spark, w._resolved_pending)
        assert jobs >= 2  # the window ran
        assert len(w.get(4).collect()) == 1


@pytest.mark.parametrize("versioned", [False, True])
def test_local_log_pending_get_and_flush_job_counts(spark, tmp_path, versioned):
    # an op log of local frames collapses on the driver: the first
    # pending get of a touched id plans and runs without a job, and the
    # flush runs the old-location scan and the shuffled write
    w = World(spark, PRUNE_SPEC, str(tmp_path / "w"),
              physical_factors=PRUNE_FACTORS, versioned=versioned)
    model = _prune_base()
    w.upsert(_prune_df(spark, model))
    w.flush()
    ups, dels = _prune_batch(model)
    w.upsert(_local_df(spark, ups))
    w.delete_ids(dels)
    w._base()  # the listing of the new files is not the pending get's
    df, jobs = _jobs(spark, lambda: w.get(644))
    assert jobs == 0
    got, jobs = _jobs(spark, df.collect)
    assert [tuple(r) for r in got] == [(644, 10, 10, "reloc")]
    assert jobs == 0
    n, jobs = _jobs(spark, w.flush)
    assert n == 2
    assert jobs <= 3, jobs
    model.update(ups)
    for i in dels:
        del model[i]
    got = sorted(tuple(r) for r in w.snapshot().select("id", "a", "b", "p").collect())
    assert got == sorted((i, a, b, p) for i, (a, b, p) in model.items())
    w.close()


def test_flush_guard_raises_on_a_local_log(spark, world):
    # Catalyst may evaluate the raise_error guard on the driver while it
    # optimizes a local relation: the flush still raises the typed error
    world.insert_rows([{"dim0": 1, "dim1": 1}])
    world.flush()
    world.insert_rows([{"dim0": 2, "dim1": 1500}])
    p, jobs = _jobs(spark, world._resolved_pending)
    assert jobs == 0 and _is_local(p.live)
    with pytest.raises(ValueOutOfRangeError) as ei:
        world.flush()
    assert (ei.value.dim, ei.value.value) == (1, 1500)
    assert world.writes == 1


def test_literal_lists_are_one_gateway_call_each(spark, tmp_path):
    # c0 IN groups, id IN ids and key IN dirty are parsed from one SQL
    # string each: a batch touching 96 groups and about 190 partitions
    # builds its pending get and flush in as many py4j calls as a batch
    # touching two
    from dmds_spark.core.plan_lint import py4j_call_count

    calls = []
    for n in (2, 96):
        w = World(spark, spec_1024(), str(tmp_path / f"w{n}"), physical_factors=(1, 1))
        w.insert_rows([{"dim0": i, "dim1": i} for i in range(0, 1024, 8)])
        w.flush()
        w.insert_rows([{"dim0": 8 * k, "dim1": 1023 - 8 * k} for k in range(n)])
        w._base()
        calls.append(py4j_call_count(lambda: w.get(0).collect())
                     + py4j_call_count(w.flush))
        assert len(w._read_owner(w.current_version())) == 128
        w.close()
    assert calls[1] - calls[0] <= 10, calls


def _fragmented_prune_world(spark, path):
    """A PRUNE_SPEC world whose partitions each hold two files (a flush
    writes one file per partition, so the second is made by hand)."""
    w = World(spark, PRUNE_SPEC, path, physical_factors=PRUNE_FACTORS)
    w.upsert(_prune_df(spark, _prune_base()))
    w.flush()
    assert split_partition_files(w) > 2
    return w


@pytest.mark.parametrize("publish", ["later_flush", "first_flush", "compact"])
def test_failed_flip_keeps_snapshot_and_retry_publishes(
    spark, tmp_path, monkeypatch, publish
):
    """Fault injection at the commit point of every publish: a
    ``current.json`` flip that raises (after the data and the new
    manifest are written) must leave the world serving exactly the
    snapshot before the call, with any flush ops still pending, and a
    retry must publish the whole state."""
    from dmds_spark.core import commit

    path = str(tmp_path / "w")
    model = _prune_base()
    if publish == "first_flush":
        w = World(spark, PRUNE_SPEC, path, physical_factors=PRUNE_FACTORS)
        w.upsert(_prune_df(spark, model))
        pre, ops = [], 1
    else:
        w = _fragmented_prune_world(spark, path)
        pre, ops = sorted((i, a, b, p) for i, (a, b, p) in model.items()), 0
    if publish == "later_flush":
        ups, dels = _prune_batch(model)
        w.upsert(_prune_df(spark, ups))
        w.delete_ids(dels)
        model.update(ups)
        for i in dels:
            del model[i]
        ops = 2
    post = sorted((i, a, b, p) for i, (a, b, p) in model.items())
    call = w.compact if publish == "compact" else w.flush
    version = w.current_version()
    owner = w._read_owner(version)

    flips, real_flip = [], commit.atomic_flip

    def failing_flip(target, payload):
        flips.append(os.path.basename(target))
        if os.path.basename(target) == "current.json":
            raise OSError("injected flip failure")
        return real_flip(target, payload)

    monkeypatch.setattr(commit, "atomic_flip", failing_flip)
    with pytest.raises(OSError, match="injected"):
        call()
    monkeypatch.undo()

    assert flips == [f"v{version + 1}.json", "current.json"]
    assert w.writes == ops
    assert w.current_version() == version
    assert w._read_owner(version) == owner

    def state(world):
        snap = world.snapshot()  # an empty world has the dims alone
        cols = [c for c in ("id", "a", "b", "p") if c in snap.columns]
        return sorted(tuple(r) for r in snap.select(*cols).collect())

    def on_disk():
        return World(spark, PRUNE_SPEC, path, physical_factors=PRUNE_FACTORS)

    assert state(on_disk()) == pre
    assert state(w) == post  # pending view still merges the ops

    done = call()
    assert state(on_disk()) == post
    if publish == "compact":
        assert done > 2
        assert all(
            len([f for f in os.listdir(w._part_dir(k, w._version_dir(v)))
                 if f.endswith(".parquet")]) == 1
            for k, v in w._read_owner(w.current_version()).items()
        )
    else:
        assert done == ops
    w.close()


def test_compact_collects_fragments_in_one_pass(spark, tmp_path, monkeypatch):
    # compact finds the fragmented partitions by counting the mapped
    # dirs' files on the driver: no Spark job runs before the write,
    # and no barrier
    from pyspark.sql import DataFrameWriter

    import dmds_spark.world as world_mod

    w = _fragmented_prune_world(spark, str(tmp_path / "w"))
    w._base()  # list the directory outside the measured call
    barriers, before_write = [], []
    real = world_mod.materialize
    monkeypatch.setattr(
        world_mod, "materialize", lambda d: barriers.append(1) or real(d)
    )
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    parquet = DataFrameWriter.parquet

    def spy_parquet(self, *a, **kw):
        before_write.append(dag.nextJobId() - j0)
        return parquet(self, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy_parquet)
    n, jobs = _jobs(spark, w.compact)
    assert n > 2
    assert barriers == []  # no localCheckpoint job
    assert before_write == [0]  # one write, and nothing ran before it
    # measured with AQE on: two jobs for the sorted write
    assert jobs <= 2, jobs
    w.close()


@pytest.mark.parametrize("versioned", [False, True])
def test_committed_relation_is_one_file_index(spark, tmp_path, versioned):
    # three commits leave partitions owned by three versions; the base
    # relation is still one file index, built without a Spark job, and
    # a point get scans it once with a c0 partition filter, no union
    w = World(spark, PRUNE_SPEC, str(tmp_path / "w"),
              physical_factors=PRUNE_FACTORS, versioned=versioned)
    model = _prune_base()
    w.upsert(_prune_df(spark, model))
    w.flush()
    ups, dels = _prune_batch(model)
    w.upsert(_prune_df(spark, ups))
    w.delete_ids(dels)
    w.flush()
    model.update(ups)
    for i in dels:
        del model[i]
    extra = {900: (900, 900, "v3")}
    w.upsert(_prune_df(spark, extra))
    w.flush()
    model.update(extra)
    assert len(set(w._read_owner(w.current_version()).values())) >= 3

    w.invalidate_base_cache()
    base, jobs = _jobs(spark, w._base)
    if not versioned:
        assert jobs == 0  # every owning root passed whole
    get = w.get(LONELY)
    plan = get._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1 and "Union" not in plan, plan
    assert re.search(r"PartitionFilters: \[[^\]]*\bc0#\d+L? = 7\b", plan), plan
    assert [tuple(r) for r in get.collect()] == [(LONELY, 10, 20, "moved")]
    got = sorted(tuple(r) for r in base.select("id", "a", "b", "p").collect())
    assert got == sorted((i, a, b, p) for i, (a, b, p) in model.items())
    w.close()


def test_legacy_plain_layout_opens_as_version_zero(spark, tmp_path):
    # a directory of c0=/c1=/c2= partitions at the world root, as
    # worlds wrote before every commit went through a manifest
    path = str(tmp_path / "w")
    w = World(spark, PRUNE_SPEC, path, physical_factors=PRUNE_FACTORS)
    model = _prune_base()
    w._with_partition_cols(_prune_df(spark, model)).write.partitionBy(
        *w.partition_cols()
    ).parquet(path)
    assert w.current_version() == 0 and w.exists()

    def state(world):
        snap = world.snapshot().select("id", "a", "b", "p")
        return sorted(tuple(r) for r in snap.collect())

    assert state(w) == sorted((i, a, b, p) for i, (a, b, p) in model.items())
    assert [tuple(r) for r in w.get(LONELY).collect()] == [
        (LONELY, *model[LONELY])
    ]
    ups, dels = _prune_batch(model)
    w.upsert(_prune_df(spark, ups))
    w.delete_ids(dels)
    w.flush()
    model.update(ups)
    for i in dels:
        del model[i]
    owner = w._read_owner(w.current_version())
    assert set(owner.values()) == {0, 1}
    # vacuum deleted the root's superseded partition dirs, not the root
    assert sorted(k for k, v in owner.items() if v == 0) == w._leaf_keys(path)
    want = sorted((i, a, b, p) for i, (a, b, p) in model.items())
    assert state(w) == want
    assert state(World(spark, PRUNE_SPEC, path,
                       physical_factors=PRUNE_FACTORS)) == want
    # a manifest written before schemas were stored: inferred instead
    import json

    mpath = os.path.join(w._snapdir, f"v{w.current_version()}.json")
    with open(mpath) as fh:
        manifest = json.load(fh)
    del manifest["schema"]
    with open(mpath, "w") as fh:
        json.dump(manifest, fh)
    w.invalidate_base_cache()
    assert state(w) == want
    # rewriting every partition moves the rest out of the root
    assert w.compact(max_files_per_partition=0) == len(owner)
    assert w._leaf_keys(path) == [] and os.path.isdir(path)
    assert state(w) == want
    w.close()


# -- every write spreads over the shuffle partitions ------------------------


def _write_tasks(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, tasks of the
    last job's final stage). Nothing runs a job after a World write's
    parquet write, so that stage is the write."""
    out, group = _in_group(spark, fn)
    st = spark.sparkContext.statusTracker()
    job = st.getJobInfo(max(st.getJobIdsForGroup(group)))
    return out, st.getStageInfo(max(job.stageIds)).numTasks


def _morton(spec, row):
    """``World.zvalue`` in Python: the low ``63 // ndims`` bits of each
    dim offset, interleaved dim by dim."""
    bits = 63 // spec.ndims
    z = 0
    for i, d in enumerate(spec.dims):
        off = (row[d.name] - d.start) % (1 << bits)
        for b in range(bits):
            z |= ((off >> b) & 1) << (b * spec.ndims + i)
    return z


def _assert_one_sorted_file_per_partition(w, key=lambda r: r["id"]):
    """Every partition dir the current manifest maps holds one parquet
    file whose rows are sorted by ``key``."""
    import pyarrow.parquet as pq

    owner = w._read_owner(w.current_version())
    assert owner
    for k, v in owner.items():
        d = w._part_dir(k, w._version_dir(v))
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, (k, files)
        got = [key(r) for r in pq.read_table(os.path.join(d, files[0])).to_pylist()]
        assert got == sorted(got), k


def test_publish_writes_on_one_task_per_dirty_partition(spark, tmp_path):
    # a small write is byte-sized onto one task by AQE unless its
    # exchange has a fixed count: min(shuffle partitions, dirty), all
    # of them on a fresh world
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert shuffle > 1
    w = World(spark, PRUNE_SPEC, str(tmp_path / "w"),
              physical_factors=PRUNE_FACTORS)
    model = _prune_base()
    w.upsert(_prune_df(spark, model))
    _, tasks = _write_tasks(spark, w.flush)
    assert tasks == shuffle  # the load: a fresh world has no dirty list
    _assert_one_sorted_file_per_partition(w)

    # in-place updates in 12 partitions: the flush dirties exactly those
    ups = {i: (a, b, "up") for i, (a, b, _) in list(model.items())[::20][:12]}
    dirty = {_prune_key(i, a, b) for i, (a, b, _) in ups.items()}
    assert len(dirty) >= 8
    w.upsert(_prune_df(spark, ups))
    _, tasks = _write_tasks(spark, w.flush)
    assert tasks == min(shuffle, len(dirty)) > 1
    _assert_one_sorted_file_per_partition(w)
    model.update(ups)

    ups = {LONELY: (1000, 1000, "alone")}
    w.upsert(_prune_df(spark, ups))
    _, tasks = _write_tasks(spark, w.flush)
    assert tasks == 1  # one dirty partition
    model.update(ups)

    n, tasks = _write_tasks(
        spark, lambda: w.compact(max_files_per_partition=0, order="zorder")
    )
    assert n == len(w._read_owner(w.current_version()))
    assert tasks == min(shuffle, n) > 1
    _assert_one_sorted_file_per_partition(w, lambda r: _morton(PRUNE_SPEC, r))
    got = sorted(tuple(r) for r in w.snapshot().select("id", "a", "b", "p").collect())
    assert got == sorted((i, a, b, p) for i, (a, b, p) in model.items())
    w.close()


def test_committed_version_dirs_hold_only_partition_dirs(spark, tmp_path):
    # the manifest flip is the only commit marker: a _v{N} holds its
    # c0= dirs and nothing else (no _SUCCESS or its .crc), and the
    # listing, the vacuum and a reopen see the same partitions
    path = str(tmp_path / "w")
    w = World(spark, PRUNE_SPEC, path, physical_factors=PRUNE_FACTORS,
              versioned=True)
    model = _prune_base()
    w.upsert(_prune_df(spark, model))
    w.flush()
    ups, dels = _prune_batch(model)
    w.upsert(_prune_df(spark, ups))
    w.delete_ids(dels)
    w.flush()
    assert w.compact(max_files_per_partition=0) > 0
    model.update(ups)
    for i in dels:
        del model[i]

    def vdirs():
        return sorted(n for n in os.listdir(path) if n.startswith("_v"))

    assert len(vdirs()) == 3
    for n in vdirs():
        names = os.listdir(os.path.join(path, n))
        assert names and all(x.startswith("c0=") for x in names), (n, names)
    cur = w.current_version()
    assert w._leaf_keys(w._version_dir(cur)) == sorted(w._read_owner(cur))
    want = sorted((i, a, b, p) for i, (a, b, p) in model.items())
    assert w.vacuum_snapshots(retain_last=1) == 2
    assert vdirs() == [f"_v{cur}"]
    for reader in (w, World(spark, PRUNE_SPEC, path,
                            physical_factors=PRUNE_FACTORS)):
        got = sorted(tuple(r) for r in reader.snapshot().select("id", "a", "b", "p").collect())
        assert got == want
    w.close()


def test_world_rejects_uri_paths(spark):
    for path in ("hdfs://nn/worlds/w", "s3a://bucket/w", "file:///tmp/w"):
        with pytest.raises(ValueError, match="local"):
            World(spark, spec_1024(), path)
