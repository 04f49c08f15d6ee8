"""Full-u64 dimension domain (``DimSpec(u64=True)``): the reference's
dims span to u64::MAX (src/range.rs:129 normalizes unbounded ends to
u64::MAX); the engine's default LongType columns stop at 2^63. The u64
path surfaces the dim as a DECIMAL(20,0) column with every planner
literal and chunk-routing expression in exact integer arithmetic —
and the planner math (core/dims.py) was already Python-int exact.

Covers: spec validation, CRUD round-trip with values past 2^63,
chunk-routing/pruning equivalence against the pure-Python planner,
point gets, domain guards, deletes, relocation, and codec round-trip
(the wire format was always u64)."""

from __future__ import annotations

import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dmds_spark.core.dims import U64_MAX, DimSpec, WorldSpec
from dmds_spark.core.errors import ValueOutOfRangeError, WorldSpecError
from dmds_spark.world import World

from .conftest import split_partition_files

# full u64 id space in 2^32 chunks of 2^32 values; a second small dim
# groups physical partitions the usual way
SPEC = WorldSpec(
    dims=(
        DimSpec("id", 0, U64_MAX, 2**32, u64=True),
        DimSpec("t", 0, 1023, 16),
    )
)

NEAR_MAX = U64_MAX - 5          # > 2^63: breaks LongType
MID = 2**63 + 12345             # just past the long boundary
SMALL = 42


def _rows(world):
    return {
        (int(r["id"]), int(r["t"]), r["v"])
        for r in world.snapshot().select("id", "t", "v").collect()
    }


@pytest.fixture()
def uworld(spark, tmp_path):
    w = World(spark, SPEC, str(tmp_path / "u64w"), validate="flush")
    yield w
    w.close()


def test_spec_validation():
    # long dims still reject past-2^63 ends, pointing at the flag
    with pytest.raises(WorldSpecError, match="u64=True"):
        WorldSpec(dims=(DimSpec("id", 0, U64_MAX, 2**32),))
    # u64 dims reject past-u64 ends and negative starts
    with pytest.raises(WorldSpecError, match="u64::MAX"):
        DimSpec("id", 0, 2**64 + 2**32 - 1, 2**32, u64=True)
    with pytest.raises(WorldSpecError, match="unsigned"):
        DimSpec("id", -8, 7, 8, u64=True)
    # chunk-index space must fit a long
    with pytest.raises(WorldSpecError, match="chunk-index"):
        DimSpec("id", 0, U64_MAX, 1, u64=True)
    assert SPEC.id_dim.spark_type == "decimal(20,0)"
    assert SPEC.dims[1].spark_type == "bigint"


def test_u64_crud_roundtrip(spark, uworld):
    uworld.insert_rows(
        [
            {"id": SMALL, "t": 10, "v": 1},
            {"id": MID, "t": 20, "v": 2},
            {"id": NEAR_MAX, "t": 1000, "v": 3},
        ]
    )
    uworld.flush()
    assert _rows(uworld) == {
        (SMALL, 10, 1), (MID, 20, 2), (NEAR_MAX, 1000, 3),
    }
    # persisted column type is DECIMAL(20,0); values are exact
    base = spark.read.parquet(uworld.path)
    assert dict(base.dtypes)["id"] == "decimal(20,0)"

    # upsert replaces by id at full magnitude
    uworld.insert_rows([{"id": NEAR_MAX, "t": 1000, "v": 30}])
    uworld.flush()
    assert (NEAR_MAX, 1000, 30) in _rows(uworld)

    # delete by u64 id
    uworld.delete_ids([MID])
    uworld.flush()
    assert {r[0] for r in _rows(uworld)} == {SMALL, NEAR_MAX}


@pytest.mark.parametrize("versioned", [False, True])
def test_u64_pending_get_then_relocating_flush(spark, tmp_path, versioned):
    """A batch is routed by literal lists of its touched ids, which on a
    u64 world are DECIMAL values past 2^63: a pending get and the
    relocating flush after it must match them exactly."""
    path = str(tmp_path / "w")
    w = World(spark, SPEC, path, versioned=versioned)
    model = {SMALL: (10, 1), MID: (20, 2), MID + 2**32: (30, 3), NEAR_MAX: (1000, 4)}
    w.insert_rows([{"id": i, "t": t, "v": v} for i, (t, v) in model.items()])
    w.flush()
    # relocate MID, update NEAR_MAX in place, add u64::MAX, delete one
    ups = {MID: (900, 20), NEAR_MAX: (1000, 40), U64_MAX: (5, 50)}
    w.insert_rows([{"id": i, "t": t, "v": v} for i, (t, v) in ups.items()])
    w.delete_ids([MID + 2**32])
    model.update(ups)
    del model[MID + 2**32]

    got = [(int(r["id"]), r["t"], r["v"]) for r in w.get(MID).collect()]
    assert got == [(MID, 900, 20)]
    assert w.get(MID + 2**32).collect() == []
    assert w._pending_cache.keep is not None  # routed by literal ids
    w.flush()
    want = {(i, t, v) for i, (t, v) in model.items()}
    assert _rows(w) == want
    assert _rows(World(spark, SPEC, path, versioned=versioned)) == want
    w.close()


def test_u64_point_get_and_range_select(spark, uworld):
    uworld.insert_rows(
        [
            {"id": SMALL, "t": 10, "v": 1},
            {"id": MID, "t": 20, "v": 2},
            {"id": NEAR_MAX, "t": 1000, "v": 3},
        ]
    )
    uworld.flush()
    got = uworld.get(NEAR_MAX).collect()
    assert len(got) == 1 and got[0]["v"] == 3

    # range select past 2^63: only MID and NEAR_MAX qualify
    sel = uworld.select(0, (2**63, None))
    ids = {int(r["id"]) for r in uworld.read(sel).collect()}
    assert ids == {MID, NEAR_MAX}

    # hinted select on a u64 id (no long-literal isin under the hood)
    hinted = uworld.select_all().hint(NEAR_MAX)
    assert {int(r["id"]) for r in uworld.read(hinted).collect()} == {NEAR_MAX}


def test_u64_chunk_routing_matches_planner(spark, uworld):
    """Pruning equivalence: the physical partition column written for
    each row must equal the pure-Python planner's chunk_of // factor —
    the decimal `div` expression and the arbitrary-precision int math
    agree across the whole magnitude range."""
    vals = [SMALL, 2**32, 2**53 + 3, MID, 2**63 + 2**40, NEAR_MAX]
    uworld.insert_rows(
        [{"id": v, "t": (i * 16) % 1024, "v": i} for i, v in enumerate(vals)]
    )
    uworld.flush()
    base = spark.read.parquet(uworld.path)
    got = {
        int(r["id"]): (int(r["c0"]), int(r["c1"]))
        for r in base.select("id", "c0", "c1").collect()
    }
    f0, f1 = uworld.factors
    for i, v in enumerate(vals):
        want_c0 = SPEC.dims[0].chunk_of(v) // f0
        want_c1 = SPEC.dims[1].chunk_of((i * 16) % 1024) // f1
        assert got[v] == (want_c0, want_c1), v

    # and the partition predicate actually prunes: a top-of-range
    # select carries a c0 partition filter into the scan
    import re

    sel = uworld.select(0, (NEAR_MAX - 2, None))
    plan = uworld.read(sel)._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*c0", plan), plan


def test_u64_domain_guard(spark, tmp_path):
    """A value below the declared start raises the typed range error
    at flush (there is no value above u64::MAX to reject — 2^64-1 IS
    the domain top, matching the reference's unbounded-end
    normalization, src/range.rs:129)."""
    spec = WorldSpec(
        dims=(
            DimSpec("id", 2**32, U64_MAX, 2**32, u64=True),
            DimSpec("t", 0, 1023, 16),
        )
    )
    w = World(spark, spec, str(tmp_path / "gw"), validate="flush")
    w.insert_rows([{"id": 7, "t": 0, "v": 1}])  # below start
    with pytest.raises(ValueOutOfRangeError):
        w.flush()
    w._ops.clear()  # rejected batch stays pending; drop it to close
    w.close()


def test_u64_codec_roundtrip(spark, tmp_path):
    """export_chunk_tree/import_chunk_tree carry full-u64 dims: the
    wire format was always u64 LE (src/world.rs:96-122); the column
    boundary now is too."""
    w = World(spark, SPEC, str(tmp_path / "w1"), validate="off")
    w.insert_rows(
        [
            {"id": SMALL, "t": 10, "v": 1},
            {"id": NEAR_MAX, "t": 1000, "v": 3},
        ]
    )
    w.flush()
    tree = str(tmp_path / "tree")
    # payload-free export: dims only
    n = w.export_chunk_tree(tree, payload_col=None)
    assert n == 2
    w.close()

    w2 = World(spark, SPEC, str(tmp_path / "w2"), validate="off")
    loaded = w2.import_chunk_tree(tree)
    assert loaded == 2
    w2.flush()
    ids = {int(r["id"]) for r in w2.snapshot().select("id").collect()}
    assert ids == {SMALL, NEAR_MAX}
    w2.close()


def test_long_dim_chunk_routing_exact_past_2_53(spark, tmp_path):
    """The div-based routing fix also covers LONG dims past the
    53-bit double mantissa: floor((v-s)/spacing) over doubles rounds
    v-s=k*spacing-1 up across the chunk boundary for v past 2^53."""
    spec = WorldSpec(
        dims=(
            DimSpec("id", 0, 2**62 - 1, 2**31),
            DimSpec("t", 0, 1023, 16),
        )
    )
    w = World(
        spark, spec, str(tmp_path / "lw"),
        physical_factors=(1, 1), validate="off",
    )
    # v - s = k*spacing - 1 just past 2^53: v is odd and > 2^53, so the
    # nearest double is v+1 = k*spacing — floor-double routes to chunk
    # k, exact div to k-1
    k = (2**53) // (2**31) + 3
    tricky = k * 2**31 - 1
    w.insert_rows([{"id": tricky, "t": 0, "v": 1}])
    w.flush()
    base = spark.read.parquet(w.path)
    got_c0 = int(base.select("c0").collect()[0]["c0"])
    assert got_c0 == spec.dims[0].chunk_of(tricky) == k - 1
    w.close()


def test_u64_zorder_compact_roundtrip(spark, tmp_path):
    """compact(order="zorder") on a u64 world: the Morton key's
    decimal branch (offset reduced mod 2^bits in decimal before the
    long cast) must produce a valid sort key — all rows survive the
    rewrite and reads still prune."""
    w = World(spark, SPEC, str(tmp_path / "zw"), validate="off")
    # four t-chunks, hit by BOTH flushes -> >1 file per partition
    rows = [
        {"id": 2**63 + i * 2**31, "t": (i % 4) * 16, "v": i}
        for i in range(24)
    ]
    w.insert_rows(rows[:12])
    w.flush()
    w.insert_rows(rows[12:])
    w.flush()
    # a flush writes one file per partition: fragment them by hand
    assert split_partition_files(w) >= 1
    before = _rows(w)
    n = w.compact(max_files_per_partition=1, order="zorder")
    assert n >= 1
    assert _rows(w) == before
    got = w.read(w.select(0, (2**63 + 5 * 2**31, None))).select("id")
    assert {int(r["id"]) for r in got.collect()} == {
        2**63 + i * 2**31 for i in range(5, 24)
    }
    w.close()
