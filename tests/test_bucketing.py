"""Bucketed co-located join: the Exchange disappears from the plan and
results match the plain join. Also World.compact: fragmented
partitions collapse to one file each with identical data."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from dmds_spark.operators.bucketing import bucketed_join, write_bucketed

from .conftest import split_partition_files


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_drops_exchange(spark, tmp_path):
    a = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("va")
    )
    b = spark.range(0, 10_000, 2).select(
        F.col("id").alias("k"), (F.col("id") % 31).alias("vb")
    )
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(a, "t_bucket_a", ["k"], 8, path=str(tmp_path / "a"))
        write_bucketed(b, "t_bucket_b", ["k"], 8, path=str(tmp_path / "b"))
        joined = bucketed_join(spark, "t_bucket_a", "t_bucket_b", ["k"])
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        # results identical to the unbucketed join
        want = a.join(b, ["k"]).count()
        assert joined.count() == want == 5_000
        # sorted buckets: no extra Sort beyond the scan's own order
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")


def test_world_compact(spark, tmp_path):
    from dmds_spark.core.dims import DimSpec, WorldSpec
    from dmds_spark.world import World

    spec = WorldSpec(
        [DimSpec("d0", 0, 1023, 64), DimSpec("d1", 0, 1023, 64)]
    )
    w = World(spark, spec, str(tmp_path / "world"))
    w.upsert(
        spark.createDataFrame(
            [(i, (i * 7) % 1024) for i in range(300)], ["d0", "d1"]
        )
    )
    w.flush()
    # a flush writes one file per dir: split them to have fragments
    assert split_partition_files(w) > 0
    before = w.snapshot().orderBy("d0").collect()
    files_before = len(glob.glob(str(tmp_path / "world/**/*.parquet"), recursive=True))

    n = w.compact()
    assert n > 0
    files_after = len(glob.glob(str(tmp_path / "world/**/*.parquet"), recursive=True))
    assert files_after < files_before
    # one file per partition dir now
    owner = w._read_owner(w.current_version())
    assert owner
    for k, v in owner.items():
        assert len(glob.glob(w._part_dir(k, w._version_dir(v)) + "/*.parquet")) == 1
    assert w.snapshot().orderBy("d0").collect() == before
    # idempotent: nothing left to compact
    assert w.compact() == 0


def test_compact_requires_clean_buffer(spark, tmp_path):
    import pytest

    from dmds_spark.core.dims import DimSpec, WorldSpec
    from dmds_spark.world import World

    spec = WorldSpec([DimSpec("d0", 0, 255, 16), DimSpec("d1", 0, 255, 16)])
    w = World(spark, spec, str(tmp_path / "world"))
    w.upsert(spark.createDataFrame([(1, 2)], ["d0", "d1"]))
    with pytest.raises(RuntimeError, match="flush pending"):
        w.compact()
