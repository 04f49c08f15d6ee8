"""Session-config independence: correctness must not depend on
``dmds_spark.session.get_spark``'s conf set.

The correctness driver hands our queries a session the repo does not
control. Round 14 proved the failure mode is real: the non-versioned
World's first flush relied on the session-level
``partitionOverwriteMode=dynamic``; under Spark's STATIC default the
overwrite deleted the whole world directory — including the writer
lock file that used to live inside it — and the writer fenced itself
mid-write (`dmds_world_maintenance` ERR in CORRECTNESS_r14.json).
Fixed two ways (either suffices, both are in): the lock file moved to
a sibling ``<path>.lockd/`` dir no engine rewrite can touch, and no
World write overwrites in place any more: every flush and compact
writes a fresh staging or version directory and publishes by rename
or manifest flip, so the overwrite mode never matters.

These tests pin the CLASS of bug: run the write-path query families
under Spark-DEFAULT values of every correctness-relevant session conf
(the repo session is session-scoped in conftest, so we flip runtime
SQL confs around the body and restore — same engine behavior the
driver's vanilla ``SparkSession.builder.getOrCreate()`` exhibits; the
four affected queries were additionally certified green via
``scripts/check_oracle.py --vanilla`` at both sf0.01 and sf0.1, a true
zero-conf session in a fresh JVM).

Conf audit (session.py:38-53), correctness-relevant vs perf-only:
- partitionOverwriteMode=dynamic  -> no World write depends on it;
  flipped to STATIC here to pin that
- session.timeZone=UTC            -> matches the Spark default on a
  UTC host (driver and testdata are UTC; docstrings state UTC)
- arrow.pyspark.enabled           -> perf-only (mapInPandas does not
  depend on it; flipped here anyway)
- AQE + coalesce + skewJoin       -> perf-only (Spark-4 default on)
- autoBroadcastJoinThreshold      -> perf-only (flipped to 10MB here)
- shuffle.partitions / driver mem -> perf-only
"""

from __future__ import annotations

import contextlib
import os

import pytest

from dmds_spark.core.dims import DimSpec, WorldSpec
from dmds_spark.world import World, WriterLock

from .conftest import SF_DIR_SMALL

# Spark defaults for every runtime SQL conf session.py overrides that
# could plausibly change behavior (not just speed).
_SPARK_DEFAULTS = {
    "spark.sql.sources.partitionOverwriteMode": "STATIC",
    "spark.sql.execution.arrow.pyspark.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
}


@contextlib.contextmanager
def spark_default_confs(spark):
    saved = {}
    for k, v in _SPARK_DEFAULTS.items():
        saved[k] = spark.conf.get(k)
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


SPEC = WorldSpec(dims=(DimSpec("x", 0, 63, 8), DimSpec("y", 0, 63, 8)))


def test_world_lifecycle_survives_static_overwrite_mode(spark, tmp_path):
    """The exact round-14 crash shape: non-versioned world, first
    flush, second flush, under partitionOverwriteMode=STATIC. The
    first flush must not delete lock state; the second commit point
    must not self-fence; the data must be complete."""
    path = str(tmp_path / "w")
    with spark_default_confs(spark):
        with World(spark, SPEC, path, validate="off") as w:
            w.insert_rows([{"x": 1, "y": 2, "v": 10}])
            w.flush()  # first flush: base is None (the r14 crash site)
            assert os.path.exists(WriterLock.lock_path(path))
            w.insert_rows([{"x": 2, "y": 3, "v": 20}])
            w.flush()  # second commit point: fenced itself in r14
        got = {
            (r["x"], r["y"], r["v"])
            for r in spark.read.parquet(path).select("x", "y", "v").collect()
        }
    assert got == {(1, 2, 10), (2, 3, 20)}
    # lock released on close, lock dir is OUTSIDE the data dir
    assert not os.path.exists(WriterLock.lock_path(path))
    assert not os.path.exists(os.path.join(path, WriterLock.FILENAME))


def test_lock_file_not_inside_spark_owned_dir(tmp_path):
    """Structural pin: no engine rewrite of the data dir can delete
    mutual-exclusion state, because the lock file lives in a sibling
    directory."""
    path = str(tmp_path / "w")
    p = WriterLock.lock_path(path)
    assert not p.startswith(path + os.sep)
    lk = WriterLock(path)
    lk.acquire()
    try:
        import shutil

        shutil.rmtree(path)  # simulate a STATIC overwrite's delete phase
        lk.verify_token()  # still holds: commit point does NOT fence
    finally:
        lk.release()


def test_close_releases_lock_even_when_flush_raises(spark, tmp_path):
    """close() must not leak the cross-process lock when the final
    flush raises (the r14 traceback leaked it until a dead-pid
    break)."""
    from dmds_spark.core.errors import WorldFencedError

    path = str(tmp_path / "w")
    w = World(spark, SPEC, path, validate="off")
    w.insert_rows([{"x": 1, "y": 2, "v": 10}])
    # fence the writer: replace the lock with a foreign token
    lockfile = WriterLock.lock_path(path)
    import json

    with open(lockfile, "w") as fh:
        json.dump({"pid": os.getpid(), "host": "h", "token": "foreign"}, fh)
    with pytest.raises(WorldFencedError):
        w.close()
    assert w._writer_lock._refs == 0  # released despite the raise
    # the foreign holder's file is untouched (release only removes OUR
    # token)
    assert json.load(open(lockfile))["token"] == "foreign"
    os.unlink(lockfile)


# one query per side-effect family (world CRUD, world maintenance,
# CDC->world, CDC->rollup store, rollup store, postings store, IVF
# store): each runs its full build-write-read lifecycle under
# Spark-default confs at sf0.001.
_WRITE_PATH_QUERIES = (
    "dmds_crud_snapshot",
    "dmds_world_maintenance",
    "cdc_world_merge",
    "rollup_incremental_cdc",
    "rollup_incremental_orders",
    "rollup_incremental_postings",
    "similarity_ivf_search_batch",
)


@pytest.mark.parametrize("name", _WRITE_PATH_QUERIES)
def test_write_path_queries_green_under_default_confs(spark, name):
    from dmds_spark.queries import all_queries

    fn = all_queries()[name]
    with spark_default_confs(spark):
        rows = fn(spark, SF_DIR_SMALL).collect()
    assert len(rows) > 0


def test_session_defaults_fit_the_host(monkeypatch):
    from dmds_spark.session import default_cpus, default_driver_memory

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert default_cpus() == str(os.cpu_count())
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap = int(default_driver_memory().rstrip("g"))
    assert 1 <= heap <= max(1, ram_gib / 2)
    # explicit settings still win
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert (default_cpus(), default_driver_memory()) == ("3", "2g")
