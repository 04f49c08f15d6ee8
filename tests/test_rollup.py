"""Incremental rollup maintenance: each refresh must scan ONLY unseen
files, the maintained partials must equal a full recompute after any
number of appends, and a reader must never observe a half-written
version (pointer flips last)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from dmds_spark.operators.rollup import IncrementalRollup

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def source(spark, tmp_path):
    """An append-only source dir seeded with a first batch of orders."""
    d = str(tmp_path / "source")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    first = orders.filter(F.col("o_orderkey") % 3 == 0)
    first.repartition(2).write.parquet(d)
    return d, orders


def _append(df, d, name):
    import glob
    import shutil

    tmp = f"{d}__{name}"
    df.coalesce(1).write.parquet(tmp)
    for i, f in enumerate(glob.glob(f"{tmp}/part-*.parquet")):
        shutil.move(f, f"{d}/append-{name}-{i}.parquet")
    shutil.rmtree(tmp)


def _full(spark, d):
    return (
        spark.read.parquet(d)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("o_totalprice").alias("sum_o_totalprice"),
            F.min("o_totalprice").alias("min_o_totalprice"),
            F.max("o_totalprice").alias("max_o_totalprice"),
        )
    )


def _rows(df):
    return {
        tuple(
            round(v, 6) if isinstance(v, float) else v for v in r
        )
        for r in df.collect()
    }


def test_refresh_matches_full_recompute_across_appends(spark, tmp_path, source):
    d, orders = source
    ru = IncrementalRollup(
        spark, d, str(tmp_path / "rollup"), ["o_orderstatus"], ["o_totalprice"]
    )
    assert ru.read() is None
    r1 = ru.refresh()
    assert r1["version"] == 1 and r1["new_files"] == 2
    assert _rows(ru.read()) == _rows(_full(spark, d))

    _append(orders.filter(F.col("o_orderkey") % 3 == 1), d, "b2")
    r2 = ru.refresh()
    assert r2["version"] == 2 and r2["new_files"] == 1
    assert _rows(ru.read()) == _rows(_full(spark, d))

    _append(orders.filter(F.col("o_orderkey") % 3 == 2), d, "b3")
    ru.refresh()
    assert _rows(ru.read()) == _rows(_full(spark, d))
    # and now the rollup equals the aggregate of the ENTIRE orders table
    assert _rows(ru.read()) == _rows(
        _full(spark, f"{SF}/orders.parquet")
    )


def test_noop_refresh_scans_nothing(spark, tmp_path, source):
    d, _ = source
    ru = IncrementalRollup(
        spark, d, str(tmp_path / "rollup"), ["o_orderstatus"], ["o_totalprice"]
    )
    ru.refresh()
    r = ru.refresh()
    assert r == {"new_files": 0, "version": 1}


def test_pointer_flips_last_and_old_version_survives(spark, tmp_path, source):
    d, orders = source
    rdir = str(tmp_path / "rollup")
    ru = IncrementalRollup(
        spark, d, rdir, ["o_orderstatus"], ["o_totalprice"]
    )
    ru.refresh()
    v1 = _rows(ru.read())
    _append(orders.filter(F.col("o_orderkey") % 3 == 1), d, "b2")
    ru.refresh()
    # both version directories exist; pointer names v2; v1 data intact
    assert os.path.isdir(f"{rdir}/v1") and os.path.isdir(f"{rdir}/v2")
    st = json.load(open(f"{rdir}/_current.json"))
    assert st["version"] == 2
    assert _rows(spark.read.parquet(f"{rdir}/v1")) == v1


def test_stream_foreach_batch_maintains_rollup(spark, tmp_path, source):
    """Drive the rollup from a real micro-batched stream: the final
    rollup must equal the batch aggregate of everything streamed, and
    a replayed batch id must be a no-op (at-least-once safety)."""
    d, _ = source
    schema = spark.read.parquet(d).schema
    ru = IncrementalRollup(
        spark, d, str(tmp_path / "rollup_s"),
        ["o_orderstatus"], ["o_totalprice"],
    )
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/part-*.parquet")
    )
    q = (
        sdf.writeStream.foreachBatch(ru.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert _rows(ru.read()) == _rows(_full(spark, d))
    # replaying an already-folded batch id must not double-count
    st_before = json.load(
        open(f"{tmp_path}/rollup_s/_current.json")
    )
    out = ru.fold_batch(spark.read.parquet(d), batch_id=0)
    assert out["skipped"] is True
    assert out["version"] == st_before["version"]
    assert _rows(ru.read()) == _rows(_full(spark, d))


def test_distinct_sketch_rollup_matches_exact_at_small_cardinality(
    spark, tmp_path, source
):
    """distinct_cols keeps a mergeable HLL partial per group: after two
    incremental refreshes the estimated distinct customers per status
    must equal a full recompute's SKETCH estimate exactly (same sketch
    over the same rows — merge order cannot change a DataSketches HLL
    union), and sit within 5% of the exact distinct count."""
    d, orders = source
    ru = IncrementalRollup(
        spark, d, str(tmp_path / "rollup_d"),
        ["o_orderstatus"], ["o_totalprice"],
        distinct_cols=["o_custkey"],
    )
    ru.refresh()
    _append(orders.filter(F.col("o_orderkey") % 3 == 1), d, "b1")
    _append(orders.filter(F.col("o_orderkey") % 3 == 2), d, "b2")
    st = ru.refresh()
    assert st["new_files"] >= 2

    est = {
        r["o_orderstatus"]: r["nd_o_custkey"]
        for r in ru.read_estimates().collect()
    }
    full_sketch = {
        r["o_orderstatus"]: r["nd"]
        for r in spark.read.parquet(d)
        .groupBy("o_orderstatus")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("o_custkey")
            ).alias("nd")
        )
        .collect()
    }
    exact = {
        r["o_orderstatus"]: r["nd"]
        for r in spark.read.parquet(d)
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("nd"))
        .collect()
    }
    assert est == full_sketch  # merge-of-increments == one-shot sketch
    for k, nd in exact.items():
        assert abs(est[k] - nd) <= max(2, 0.05 * nd), (k, est[k], nd)
    # the numeric partials are untouched by the sketch column
    assert {"cnt", "sum_o_totalprice"} <= set(ru.read().columns)


def test_config_change_on_stored_versions_raises_clear_error(
    spark, tmp_path, source
):
    """Enabling distinct_cols (or renaming a column) AFTER versions were
    written without the matching partials must fail eagerly with a
    RollupSchemaError naming the column diff — not deep inside
    unionByName with an opaque missing-column error."""
    from dmds_spark.operators.rollup import RollupSchemaError

    d, orders = source
    rdir = str(tmp_path / "rollup_s")
    ru = IncrementalRollup(
        spark, d, rdir, ["o_orderstatus"], ["o_totalprice"]
    )
    ru.refresh()

    # same stored dir, new config that old versions lack partials for
    ru2 = IncrementalRollup(
        spark, d, rdir, ["o_orderstatus"], ["o_totalprice"],
        distinct_cols=["o_custkey"],
    )
    _append(orders.filter(F.col("o_orderkey") % 3 == 1), d, "s1")
    with pytest.raises(RollupSchemaError, match="hll_o_custkey"):
        ru2.refresh()
    with pytest.raises(RollupSchemaError, match="missing"):
        ru2.read()

    # renamed value column: stored sum_o_totalprice becomes "extra"
    ru3 = IncrementalRollup(
        spark, d, rdir, ["o_orderstatus"], ["o_shippriority"]
    )
    with pytest.raises(RollupSchemaError, match="sum_o_shippriority"):
        ru3.read()

    # the original config still reads and refreshes fine
    assert ru.refresh()["new_files"] >= 1


def test_in_place_rewrite_raises_source_mutated(spark, tmp_path, source):
    """An already-folded source file rewritten in place (same path,
    different size) must fail the next refresh with SourceMutatedError
    — partials cannot be patched for history rewrites. Files that
    merely VANISH (retention) stay fine."""
    import glob

    from dmds_spark.operators.rollup import SourceMutatedError

    d, orders = source
    ru = IncrementalRollup(
        spark, d, str(tmp_path / "rollup_m"), ["o_orderstatus"],
        ["o_totalprice"],
    )
    ru.refresh()
    _append(orders.filter(F.col("o_orderkey") % 3 == 1), d, "m1")
    ru.refresh()

    # rewrite one already-folded file in place with different content
    victim = sorted(glob.glob(f"{d}/*.parquet"))[0]
    orders.filter(F.col("o_orderkey") % 7 == 0).coalesce(1).write.parquet(
        f"{d}__rw"
    )
    import shutil

    src_file = glob.glob(f"{d}__rw/part-*.parquet")[0]
    shutil.copyfile(src_file, victim)
    shutil.rmtree(f"{d}__rw")

    with pytest.raises(SourceMutatedError, match="rewritten in place"):
        ru.refresh()

    # retention delete of a folded file is NOT an error; the rollup
    # keeps serving and further appends still fold
    os.remove(victim)
    _append(orders.filter(F.col("o_orderkey") % 3 == 2), d, "m2")
    out = ru.refresh()
    assert out["new_files"] >= 1
    assert ru.read().count() > 0


def test_legacy_path_list_manifest_still_refreshes(spark, tmp_path, source):
    """Round-5 manifests stored seen_files as a plain path list; a new
    refresh must accept them (no mutation check possible for legacy
    entries) and upgrade the manifest to {path: size}."""
    d, orders = source
    rdir = str(tmp_path / "rollup_l")
    ru = IncrementalRollup(
        spark, d, rdir, ["o_orderstatus"], ["o_totalprice"]
    )
    ru.refresh()
    # rewrite the manifest into the legacy list form
    st = json.load(open(f"{rdir}/_current.json"))
    st["seen_files"] = sorted(st["seen_files"])
    json.dump(st, open(f"{rdir}/_current.json", "w"))

    _append(orders.filter(F.col("o_orderkey") % 3 == 1), d, "l1")
    assert ru.refresh()["new_files"] >= 1
    st2 = json.load(open(f"{rdir}/_current.json"))
    assert isinstance(st2["seen_files"], dict)
    assert all(isinstance(v, int) for v in st2["seen_files"].values())
    assert _rows(ru.read()) == _rows(_full(spark, d))

def test_source_sizes_are_filesystem_truth(spark, tmp_path, source):
    """_list_source_files must return FileStatus sizes on normalized
    plain paths — not scan-split-derived sizes, which understate
    multi-split files whose tail split holds only the parquet footer
    and vary with dynamic maxSplitBytes (round-6 advice: an unchanged
    file must never trip SourceMutatedError)."""
    import glob

    from dmds_spark.operators.rollup import _list_source_files

    d, _ = source
    listed = _list_source_files(spark, d)
    expect = {
        f: os.path.getsize(f)
        for f in glob.glob(f"{d}/*.parquet")
        if not os.path.basename(f).startswith(("_", "."))
    }
    assert listed == expect


def test_legacy_split_derived_sizes_not_trusted(spark, tmp_path, source):
    """A round-6 manifest ({path: size} WITHOUT size_src: 'fs') may
    carry split-derived sizes that undershoot the file length; refresh
    must not raise SourceMutatedError for them, and must upgrade the
    manifest to fs sizes + the size_src marker."""
    d, orders = source
    rdir = str(tmp_path / "rollup_legacy6")
    ru = IncrementalRollup(spark, d, rdir, ["o_orderstatus"], ["o_totalprice"])
    ru.refresh()
    # doctor the pointer into round-6 shape: shrink every size (as a
    # footer-only tail split would) and drop the provenance marker
    with open(ru._pointer) as fh:
        st = json.load(fh)
    st["seen_files"] = {f: sz - 123 for f, sz in st["seen_files"].items()}
    st.pop("size_src", None)
    with open(ru._pointer, "w") as fh:
        json.dump(st, fh)

    _append(orders.filter(F.col("o_orderkey") % 3 == 1), d, "l6")
    out = ru.refresh()  # no SourceMutatedError for untrusted sizes
    assert out["new_files"] == 1
    st2 = ru._state()
    assert st2["size_src"] == "fs"
    assert all(sz == os.path.getsize(f) for f, sz in st2["seen_files"].items())
    # and with fs provenance recorded, a REAL in-place rewrite is caught
    import glob
    import shutil

    from dmds_spark.operators.rollup import SourceMutatedError

    victim = sorted(glob.glob(f"{d}/*.parquet"))[0]
    orders.filter(F.col("o_orderkey") % 11 == 0).coalesce(1).write.parquet(
        f"{d}__rw2"
    )
    shutil.copyfile(glob.glob(f"{d}__rw2/part-*.parquet")[0], victim)
    shutil.rmtree(f"{d}__rw2")
    with pytest.raises(SourceMutatedError):
        ru.refresh()


def test_flip_survives_midwrite_crash(spark, tmp_path, source, monkeypatch):
    """A crash (or ENOSPC) mid-pointer-write must leave the OLD pointer
    fully readable — the flip is temp-write + os.replace, never an
    in-place truncate that would orphan every committed version."""
    import dmds_spark.operators.rollup as R

    d, _ = source
    ru = IncrementalRollup(
        spark, d, str(tmp_path / "rollup_crash"), ["o_orderstatus"],
        ["o_totalprice"],
    )
    ru.refresh()
    before = ru._state()
    assert before["version"] == 1

    def torn_dump(obj, fh, **kw):
        fh.write('{"version": 99, "seen')  # torn bytes, then the crash
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(R.json, "dump", torn_dump)
    # the flip is fenced: it runs inside the writer, as refresh runs it
    with R.store_writer(ru.rollup_dir), pytest.raises(OSError):
        ru._flip({"version": 99, "seen_files": {}})
    monkeypatch.undo()

    assert ru._state() == before          # old pointer intact
    assert ru.read().count() > 0          # versions still reachable


def test_transform_hook_incremental_equals_full(spark, tmp_path, source):
    """transform= maps raw new rows to the aggregated grain (here:
    value bucketing) before the partial agg; two increments through
    the transform must equal the full one-shot recompute."""
    d, orders = source
    to_buckets = lambda df: df.select(  # noqa: E731
        "o_orderstatus",
        (F.col("o_totalprice").cast("bigint") / 1000).cast("bigint")
        .alias("kbucket"),
    ).withColumn("one", F.lit(1).cast("bigint"))
    ru = IncrementalRollup(
        spark, d, str(tmp_path / "rollup_t"),
        ["o_orderstatus", "kbucket"], ["one"], transform=to_buckets,
    )
    ru.refresh()
    _append(orders.filter(F.col("o_orderkey") % 3 == 1), d, "t1")
    _append(orders.filter(F.col("o_orderkey") % 3 == 2), d, "t2")
    ru.refresh()
    got = {
        (r["o_orderstatus"], r["kbucket"]): r["cnt"]
        for r in ru.read().collect()
    }
    want = {
        (r["o_orderstatus"], r["kbucket"]): r["c"]
        for r in to_buckets(spark.read.parquet(d))
        .groupBy("o_orderstatus", "kbucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert got == want


def test_in_flight_commit_dirs_are_ignored(spark, tmp_path, source):
    """Part files under hidden DIRECTORIES (``_temporary/``,
    ``.spark-staging-*/``) have clean leaf names, but they are an
    in-flight commit, not data: a refresh racing an append must not
    fold them (double-count once the commit finishes, or a read of an
    incomplete parquet). The hidden filter applies to every path
    segment, not just the basename."""
    import shutil

    d, orders = source
    ru = IncrementalRollup(
        spark, d, str(tmp_path / "rollup"), ["o_orderstatus"], ["o_totalprice"]
    )
    ru.refresh()
    before = _rows(ru.read())

    # plant a clean-named part file inside staging dirs, as a running
    # writer's committer would
    extra = orders.filter(F.col("o_orderkey") % 3 == 1)
    tmp = str(tmp_path / "stage_src")
    extra.coalesce(1).write.parquet(tmp)
    import glob

    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    for sub in ("_temporary/0/task_0", ".spark-staging-123"):
        os.makedirs(f"{d}/{sub}", exist_ok=True)
        shutil.copy(part, f"{d}/{sub}/part-00000.parquet")

    r = ru.refresh()
    assert r["new_files"] == 0, "staged files must not be folded"
    assert _rows(ru.read()) == before

    # once the commit lands the file at the top level, it IS new data
    shutil.move(f"{d}/_temporary/0/task_0/part-00000.parquet",
                f"{d}/append-committed-0.parquet")
    shutil.rmtree(f"{d}/_temporary")
    r2 = ru.refresh()
    assert r2["new_files"] == 1
    assert _rows(ru.read()) == _rows(_full(spark, d))



def test_flip_is_fenced_by_the_writer_token(spark, tmp_path, source, monkeypatch):
    """A writer whose lock passed to another holder while it wrote the
    next version must not flip the pointer to it."""
    from dmds_spark.core.errors import WorldFencedError
    from dmds_spark.world import WriterLock

    from .conftest import steal_lock_on_write

    d, orders = source
    rdir = str(tmp_path / "rollup")
    ru = IncrementalRollup(spark, d, rdir, ["o_orderstatus"], ["o_totalprice"])
    ru.refresh()
    with open(f"{rdir}/_current.json") as fh:
        pointer = fh.read()
    steal_lock_on_write(monkeypatch, rdir)
    with pytest.raises(WorldFencedError):
        ru.fold_batch(orders.filter(F.col("o_orderkey") % 3 == 1), batch_id=0)
    monkeypatch.undo()
    with open(f"{rdir}/_current.json") as fh:
        assert fh.read() == pointer
    os.unlink(WriterLock.lock_path(rdir))  # the other holder's
