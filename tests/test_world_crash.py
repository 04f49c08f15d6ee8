"""A World writer killed at any step of a commit loses nothing.

Each case runs one write op (first flush, relocating later flush,
compact, vacuum) in a child process that dies at one step (see
``crash_harness``):

- ``data_write``: the ``_v{N}`` files are written, the manifest is not
  (``World._commit_snapshot`` never runs);
- ``manifest``: ``v{N}.json`` is written, ``current.json`` is not (the
  second ``commit.atomic_flip``);
- ``flip``: the commit is published, its bookkeeping and vacuum never
  run (``World._committed``);
- ``vacuum_partway``: one directory of the vacuum is deleted, the next
  is not (the second ``shutil.rmtree``).

Reopening must serve exactly the rows before the op for the first two
and exactly the rows after it for the last two, with no duplicate id,
and a further flush must publish. On a ``versioned=False`` world that
flush's vacuum must also leave no partition dir the manifest does not
map.
"""

import os
import shutil

import pytest

from dmds_spark.core.dims import DimSpec, WorldSpec
from dmds_spark.world import World

from .conftest import split_partition_files
from .crash_harness import KILLED, Case, check_recovered, run_killed

SPEC = WorldSpec(dims=(DimSpec("id", 0, 1023, 8), DimSpec("a", 0, 1023, 16)))
FACTORS = (32, 16)  # 4 x 4 = 16 partition dirs
SCHEMA = "id long, a long, p string"

KILLS = {
    "data_write": ("dmds_spark.world:World._commit_snapshot", "pre"),
    "manifest": ("dmds_spark.core.commit:atomic_flip#2", "pre"),
    "flip": ("dmds_spark.world:World._committed", "post"),
    "vacuum_partway": ("shutil:rmtree#2", "post"),
}


def base_model():
    return {i: (i, (i * 37) % 1024, f"p{i}") for i in range(0, 1024, 8)}


def second_batch():
    """Relocates three ids: the second commit owns their partitions."""
    return {i: (i, (i * 37 + 300) % 1024, f"q{i}") for i in (0, 8, 16)}


def later_batch():
    """In place, relocating (out of partitions both earlier commits
    own), new ids, deletes."""
    ups = {
        24: (24, 24 * 37 % 1024, "inplace"),
        0: (0, 900, "reloc"),
        512: (512, 10, "reloc"),
        776: (776, 500, "reloc"),
        1: (1, 1, "new"),
        3: (3, 700, "new"),
    }
    return ups, [600, 608]


def apply(model, ups, dels=()):
    out = {**model, **ups}
    for i in dels:
        out.pop(i, None)
    return out


def open_world(spark, path, versioned):
    return World(spark, SPEC, path, physical_factors=FACTORS, versioned=versioned)


def frame(spark, model):
    # built through Arrow: a local relation, so the flushes collapse
    # their op log on the driver (the window path is covered by
    # test_world.py; every kill point is in the shared publish/commit)
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(list(model.values()), columns=["id", "a", "p"]), SCHEMA
    )


# -- ops, run in the child ------------------------------------------------------


def _child_world(path, versioned, spark=True):
    session = None
    if spark:
        from dmds_spark.session import get_spark

        session = get_spark(app_name="crash_child", master="local[1]",
                            shuffle_partitions=2,
                            extra_conf={"spark.driver.memory": "512m"})
    return open_world(session, path, versioned)


def op_flush(path, versioned, ups, dels):
    w = _child_world(path, versioned)
    if ups:
        w.upsert(frame(w.spark, {int(k): tuple(v) for k, v in ups.items()}))
    if dels:
        w.delete_ids(dels)
    return w.flush


def op_compact(path, versioned):
    return _child_world(path, versioned).compact


def op_vacuum(path, versioned):
    # vacuum is driver-side file work only: no Spark session needed
    w = _child_world(path, versioned, spark=False)
    return lambda: w.vacuum_snapshots(retain_last=1)


# -- the matrix -----------------------------------------------------------------


def _build(spark, path, versioned, commits, vacuum=True):
    """A world holding ``commits`` flushed batches: the base model,
    then ``second_batch``, then ``later_batch``."""
    w = open_world(spark, path, versioned)
    batches = [(base_model(), []), (second_batch(), []), later_batch()]
    with pytest.MonkeyPatch.context() as mp:
        if not vacuum:
            mp.setattr(World, "_vacuum_locked", lambda self, retain_last=1: 0)
        for ups, dels in batches[:commits]:
            w.upsert(frame(spark, ups))
            if dels:
                w.delete_ids(dels)
            w.flush()
    w.close()


def _unmapped_dirs(w):
    """Partition dirs under the world that the current manifest does
    not map."""
    owner = w._read_owner(w.current_version())
    versions = [0] + [int(n[2:]) for n in os.listdir(w.path) if n.startswith("_v")]
    return sorted(
        (k, v) for v in versions for k in w._leaf_keys(w._version_dir(v))
        if owner.get(k) != v
    )


def _rows(spark, path, versioned):
    snap = open_world(spark, path, versioned).snapshot()
    if "p" not in snap.columns:
        return []
    return [tuple(r) for r in snap.select("id", "a", "p").collect()]


@pytest.mark.parametrize("versioned", [False, True])
def test_killed_commit_recovers_at_every_step(spark, tmp_path, versioned):
    base = base_model()
    two = apply(base, second_batch())
    ups, dels = later_batch()
    three = apply(two, ups, dels)
    json_ups = {str(k): list(v) for k, v in ups.items()}
    ops = {
        # op -> (op spec, pre, post, kills, commits before, vacuum on)
        "first_flush": (
            ("op_flush", {"ups": {str(k): list(v) for k, v in base.items()},
                          "dels": []}),
            {}, base, ["data_write", "manifest", "flip"], 0, True),
        "later_flush": (
            ("op_flush", {"ups": json_ups, "dels": dels}),
            two, three, list(KILLS), 2, True),
        "compact": (("op_compact", {}), two, two, list(KILLS), 2, True),
        "vacuum": (("op_vacuum", {}), three, three, ["vacuum_partway"], 3, False),
    }
    cases, expect, templates = [], {}, {}
    for op, ((fn, args), pre, post, kills, commits, vac) in ops.items():
        if commits:  # every case of an op starts from a copy of one world
            template = templates[op] = str(tmp_path / f"template-{op}")
            _build(spark, template, versioned, commits, vacuum=vac)
            if op == "compact":
                assert split_partition_files(
                    open_world(spark, template, versioned)) > 2
        for kill in kills:
            if versioned and kill == "vacuum_partway" and op != "vacuum":
                continue  # a versioned world keeps its history
            name = f"{op}-{kill}"
            path = str(tmp_path / name)
            if commits:
                shutil.copytree(templates[op], path)
            step, state = KILLS[kill]
            cases.append(Case(name, f"tests.test_world_crash:{fn}", step,
                              {"path": path, "versioned": versioned, **args}))
            expect[name] = (path, pre, post, state)

    results = run_killed(cases)
    failures = []
    for name, (path, pre, post, state) in expect.items():
        code, tail = results[name]
        if code != KILLED:
            failures.append(f"{name}: exit {code} (0: the op never reached the step)\n{tail}")
            continue
        try:
            got = check_recovered(_rows(spark, path, versioned), pre, post)
            assert got == state or pre == post, (
                f"recovered the {got} state, expected {state}")
            # a further flush publishes on top of the recovered state
            w = open_world(spark, path, versioned)
            w.upsert(frame(spark, {5: (5, 5, "after")}))
            w.flush()
            w.close()
            model = {**(pre if state == "pre" else post), 5: (5, 5, "after")}
            assert check_recovered(_rows(spark, path, versioned), model, model)
            if not versioned:
                assert _unmapped_dirs(open_world(spark, path, versioned)) == []
        except AssertionError as e:
            failures.append(f"{name}: {e}")
    assert not failures, "\n".join(failures)
