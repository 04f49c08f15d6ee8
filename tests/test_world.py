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
from dmds_spark.world import FlushDaemon, World

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
    # chunk of 514 along dim1 (ipc 16) = 32 -> c0=14/c1=32
    assert os.path.isdir(os.path.join(world.path, "c0=14", "c1=32"))


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
    base = spark.read.parquet(world.path)
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


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs it
    launched before returning)."""
    import uuid

    sc = spark.sparkContext
    group = f"t-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


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


def _parquet_files(path):
    out = set()
    for root, _dirs, files in os.walk(path):
        out.update(
            os.path.relpath(os.path.join(root, f), path)
            for f in files if f.endswith(".parquet")
        )
    return out


@pytest.mark.parametrize(
    "versioned,cap",
    [(False, None), (True, None), (False, 2), (True, 2)],
    ids=["False", "True", "False-joins_past_cap", "True-joins_past_cap"],
)
def test_flush_pruning_rewrites_exactly_the_dirty_set(
    spark, tmp_path, monkeypatch, versioned, cap
):
    import pyarrow.parquet as pq
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

    before = _parquet_files(path)
    owner_before = w._read_owner(w.current_version()) if versioned else None
    monkeypatch.setattr(df_cls, "collect", spy_collect)
    monkeypatch.setattr(DataFrameWriter, "parquet", spy_parquet)
    assert w.flush() == 2
    monkeypatch.undo()

    filters = [
        line.split("PartitionFilters: [", 1)[1].split("], PushedFilters", 1)[0]
        for p in plans for line in p.split("\n") if "PartitionFilters: [" in line
    ]
    # old-location lookup reads only the touched id groups ...
    assert any(re.search(r"\bc0#\d+ IN \(0,5,7\)", f) for f in filters)
    # ... and the merge reads only the dirty partitions, by key (Spark
    # prints a long IN list as a sorted INSET)
    keys = sorted(expect_dirty)
    dirty_in = (f"IN ({','.join(keys)})", f"INSET {', '.join(keys)}")
    assert any(
        "concat_ws(/, cast(c0#" in f and any(d in f for d in dirty_in)
        for f in filters
    )

    if versioned:
        owner = w._read_owner(w.current_version())
        changed = {k for k in owner_before if owner.get(k) != owner_before[k]}
        changed |= set(owner) - set(owner_before)
    else:
        changed = {
            "/".join(seg.split("=")[1] for seg in os.path.dirname(f).split("/"))
            for f in before ^ _parquet_files(path)
        }
    assert changed == expect_dirty

    # every dirty partition that still holds rows is one id-sorted file
    root = w._version_dir(w.current_version()) if versioned else path
    live_dirty = expect_dirty & {_prune_key(i, a, b) for i, (a, b, _) in model.items()}
    for key in live_dirty:
        files = [f for f in os.listdir(w._part_dir(key, root)) if f.endswith(".parquet")]
        assert len(files) == 1, (key, files)
        ids = pq.read_table(os.path.join(w._part_dir(key, root), files[0])).column("id")
        assert ids.to_pylist() == sorted(ids.to_pylist())

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


def _fragmented_prune_world(spark, path):
    """A PRUNE_SPEC world whose partitions each hold two files (a flush
    writes one file per partition, so the second is made by hand)."""
    w = World(spark, PRUNE_SPEC, path, physical_factors=PRUNE_FACTORS)
    w.upsert(_prune_df(spark, _prune_base()))
    w.flush()
    assert split_partition_files(w) > 2
    return w


@pytest.mark.parametrize("publish", ["later_flush", "first_flush", "compact"])
def test_failed_swap_restores_partitions_and_retry_publishes(
    spark, tmp_path, monkeypatch, publish
):
    """Fault injection in every non-versioned publish: a move that
    raises part-way through the swapped partitions must leave the world
    exactly as it was before the call, with any flush ops still pending,
    and a retry must publish the whole state."""
    import shutil

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
    pre_files = _parquet_files(path)

    moves, real_move = [], shutil.move

    def failing_move(src, dst, *a, **kw):
        moves.append(dst)
        if len(moves) == 3:
            raise OSError("injected move failure")
        return real_move(src, dst, *a, **kw)

    monkeypatch.setattr(shutil, "move", failing_move)
    with pytest.raises(OSError, match="injected"):
        call()
    monkeypatch.undo()

    assert len(moves) == 3  # failed on the 3rd of more partitions
    assert w.writes == ops
    assert _parquet_files(path) == pre_files
    assert not [n for n in os.listdir(tmp_path) if ".aside-" in n or ".staging-" in n]

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
            len([f for f in fs if f.endswith(".parquet")]) <= 1
            for _root, _dirs, fs in os.walk(path)
        )
    else:
        assert done == ops
    w.close()


def test_compact_collects_fragments_in_one_pass(spark, tmp_path, monkeypatch):
    # compact finds the fragmented keys with one collect and publishes
    # through the staging dir: no barrier, no second pass over the keys
    import dmds_spark.world as world_mod

    w = _fragmented_prune_world(spark, str(tmp_path / "w"))
    w._base()  # list the directory outside the measured call
    barriers = []
    real = world_mod.materialize
    monkeypatch.setattr(
        world_mod, "materialize", lambda d: barriers.append(1) or real(d)
    )
    n, jobs = _jobs(spark, w.compact)
    assert n > 2
    assert barriers == []  # no localCheckpoint job
    # measured with AQE on: three jobs for the fragmented keys (the
    # distinct file count shuffles twice), two for the sorted write
    assert jobs <= 5, jobs
    w.close()


def test_world_rejects_uri_paths(spark):
    for path in ("hdfs://nn/worlds/w", "s3a://bucket/w", "file:///tmp/w"):
        with pytest.raises(ValueError, match="local"):
            World(spark, spec_1024(), path)
