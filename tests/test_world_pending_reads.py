"""Pending reads build only the sides of the merge that can hold the
selection's ids (``World.read``): the pruned read returns the rows,
column order and types of the whole merge, and the plans it leaves
out are pinned."""

import random
import re
import shutil
from collections import Counter

import pytest

from dmds_spark.core.dims import DimSpec, WorldSpec
from dmds_spark.core.select import Select
from dmds_spark.world import ID_LIST_CAP, World

from .test_world import (
    LONELY, PRUNE_FACTORS, PRUNE_SPEC, _jobs, _local_df, _prune_base,
    _prune_batch, _prune_df,
)


@pytest.fixture(scope="module")
def stored(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pending") / "base")
    w = World(spark, PRUNE_SPEC, path, physical_factors=PRUNE_FACTORS)
    w.upsert(_prune_df(spark, _prune_base()))
    w.flush()
    w.close()
    return path


def _world(spark, stored, tmp_path, name):
    path = str(tmp_path / name)
    shutil.copytree(stored, path)
    return World(spark, PRUNE_SPEC, path, physical_factors=PRUNE_FACTORS)


def _whole(w, sel):
    """``w.read(sel)`` with both sides of the merge built."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(Select, "pinned_ids", lambda self: None)
        return w.read(sel)


def _plan(df, kind="executedPlan"):
    return getattr(df._jdf.queryExecution(), kind)().toString()


def _assert_same(w, sel):
    got, want = w.read(sel), _whole(w, sel)
    assert got.schema == want.schema, (got.schema, want.schema)
    assert Counter(map(tuple, got.collect())) == Counter(map(tuple, want.collect()))


def _selections(w, touched, untouched):
    """Point gets, hint lists, point unions and a point narrowed on
    another dim, over touched and untouched ids, plus a range."""
    t, u = sorted(touched), sorted(untouched)
    sels = [w.select(0, i) for i in t + u]
    sels += [
        w.select_all().hints(t[:3]),
        w.select_all().hints(u[:3]),
        w.select_all().hints(t[:2] + u[:2]),
        w.select(0, t[0]).plus(0, u[0]),
        w.select(0, t[-1]).plus(0, t[0]),
        w.select(0, t[0]).and_(1, (0, 500)),
        w.select(0, (t[0], t[0] + 200)),
    ]
    return sels


@pytest.mark.parametrize("collapse", ["driver", "window"])
@pytest.mark.parametrize("seed", range(3))
def test_pruned_read_matches_the_whole_merge(spark, tmp_path, monkeypatch,
                                              stored, seed, collapse):
    # random logs of in-place and relocating updates, new ids, deletes
    # and delete-then-upsert, one op adding a payload column
    rng = random.Random(seed)
    if collapse == "window":
        monkeypatch.setattr(World, "_collapse_on_driver", lambda self, *a: None)
    w = _world(spark, stored, tmp_path, "w")
    base = _prune_base()
    pool = rng.sample(sorted(base), 10) + [1 + 4 * k for k in range(6)]
    touched = set()
    for n in range(rng.randint(3, 5)):
        picked = rng.sample(pool, rng.randint(1, 5))
        touched.update(picked)
        if n and rng.random() < 0.3:
            w.delete_ids(picked)
            continue
        ups = {}
        for i in picked:
            if i in base and rng.random() < 0.5:
                ups[i] = (base[i][0], base[i][1], f"in-place{n}")
            else:
                ups[i] = (rng.randrange(1024), rng.randrange(1024), f"moved{n}")
        w.upsert(_local_df(spark, ups, 7 if n == 1 else None))
    p = w._resolved_pending()
    assert p.keep is not None and p.touched_ids == frozenset(touched)
    untouched = [i for i in sorted(base) if i not in touched][:: 37] + [3]
    for sel in _selections(w, touched, untouched):
        _assert_same(w, sel)
    w.close()


def test_pruned_read_matches_on_u64_ids(spark, tmp_path):
    spec = WorldSpec(dims=(DimSpec("id", 0, 2**64 - 1, 2**60, u64=True),
                           DimSpec("t", 0, 1023, 64)))
    top = 2**64 - 1
    w = World(spark, spec, str(tmp_path / "u"))
    w.insert_rows([{"id": top - k, "t": k, "v": k} for k in range(6)])
    w.flush()
    w.insert_rows([{"id": top, "t": 900, "v": 100}, {"id": 2**63 + 1, "t": 1, "v": 1}])
    w.delete_ids([top - 1])
    assert w._resolved_pending().touched_ids == {top, top - 1, 2**63 + 1}
    for sel in _selections(w, [top, top - 1, 2**63 + 1], [top - 3, top - 5, 7]):
        _assert_same(w, sel)
    assert [int(r["id"]) for r in w.get(top).collect()] == [top]
    w.close()


def test_past_the_id_list_cap_a_get_keeps_the_whole_merge(spark, tmp_path, stored):
    w = _world(spark, stored, tmp_path, "cap")
    w.upsert(_local_df(spark, {i: (1, 1, "c") for i in range(ID_LIST_CAP + 1)}))
    assert w._resolved_pending().keep is None  # routed by joins
    for i in (4, 5, LONELY):
        sel = w.select(0, i)
        plans = [re.sub(r"#\d+", "", _plan(df, "optimizedPlan"))
                 for df in (w.read(sel), _whole(w, sel))]
        assert plans[0] == plans[1] and "Union" in plans[0]
        _assert_same(w, sel)
    w.close()


def test_pending_get_plans(spark, tmp_path, monkeypatch, stored):
    untouched = 100  # stored in id group 0, which the batch also touches
    ups, dels = _prune_batch(_prune_base())
    w = _world(spark, stored, tmp_path, "driver")
    idle = _plan(w.get(untouched))
    w.upsert(_local_df(spark, ups))
    w.delete_ids(dels)
    w._base()  # the listing of the new files is not the get's
    # a get of an untouched id plans the scan of a world with nothing
    # pending: one FileScan with its c0 filter, no union, no keep filter
    plan = _plan(w.get(untouched))
    assert plan.count("FileScan") == 1 and "Union" not in plan, plan
    assert "coalesce" not in plan and not re.search(r"id#\d+L? IN", plan), plan
    assert re.sub(r"#\d+", "", plan) == re.sub(r"#\d+", "", idle)
    # on a log collapsed on the driver, a get of a touched id (upserted
    # or deleted) runs no job at all
    for i, want in ((644, [(644, 10, 10, "reloc")]), (12, [])):
        got, jobs = _jobs(spark, lambda: w.get(i).collect())
        assert [tuple(r) for r in got] == want
        assert jobs == 0
    w.close()

    monkeypatch.setattr(World, "_collapse_on_driver", lambda self, *a: None)
    w = _world(spark, stored, tmp_path, "window")
    w.upsert(_local_df(spark, ups))
    w.delete_ids(dels)
    w._resolved_pending()  # the window's checkpoint and routing collect
    # on a log collapsed by the window, one job over the checkpoint
    df = w.get(644)
    got, jobs = _jobs(spark, df.collect)
    assert [tuple(r) for r in got] == [(644, 10, 10, "reloc")]
    assert jobs == 1
    assert "FileScan" not in _plan(df)
    w.close()
