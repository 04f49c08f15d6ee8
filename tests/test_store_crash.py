"""A maintained-store writer killed mid-increment or mid-vacuum loses
nothing.

For each of the five stores (see ``store_cases``), two killed runs in a
child process (see ``crash_harness``), each on a copy of one template
store that holds three increments (compacted where the store compacts,
so superseded dirs are on disk):

- ``fold``: the next increment's data dirs are written, its pointer is
  not (the first ``commit.atomic_flip``). Reopening must serve exactly
  the rows before it, and the same increment then commits once.
- ``vacuum``: one unreferenced dir is deleted, the next is not (the
  second ``shutil.rmtree``). Reopening must serve the rows after a
  vacuum, and a second vacuum must leave the dirs a completed one does.

The post models come from the same op run to completion on a copy in
this process.
"""

import os
import shutil

from .crash_harness import KILLED, Case, check_recovered, run_killed
from .store_cases import KINDS, fold, open_store, rows

KILLS = {
    "fold": "dmds_spark.core.commit:atomic_flip",
    "vacuum": "shutil:rmtree#2",
}


def op_fold(kind, path):
    from dmds_spark.session import get_spark

    spark = get_spark(app_name="crash_child", master="local[1]",
                      shuffle_partitions=2,
                      extra_conf={"spark.driver.memory": "512m"})
    store = open_store(kind, spark, path)
    return lambda: fold(kind, store, spark, 3)


def op_vacuum(kind, path):
    # vacuum is driver-side file work only: no Spark session needed
    return open_store(kind, None, path).vacuum


def _dirs(path):
    return sorted(os.path.relpath(os.path.join(r, d), path)
                  for r, ds, _fs in os.walk(path) for d in ds)


def _model(kind, spark, path):
    return {r[0]: r for r in rows(kind, open_store(kind, spark, path))}


def test_killed_store_ops_recover(spark, tmp_path):
    cases, expect = [], {}
    for kind in KINDS:
        template = str(tmp_path / f"template-{kind}")
        store = open_store(kind, spark, template)
        for n in range(3):
            fold(kind, store, spark, n)
        if hasattr(store, "compact"):
            assert store.compact()["compacted"]
        pre = _model(kind, spark, template)
        done = {}
        for op in KILLS:
            path = str(tmp_path / f"done-{kind}-{op}")
            shutil.copytree(template, path)
            store = open_store(kind, spark, path)
            if op == "fold":
                fold(kind, store, spark, 3)
            else:
                assert len(store.vacuum()["removed"]) >= 2
            done[op] = (_model(kind, spark, path), _dirs(path))
        for op, step in KILLS.items():
            name = f"{kind}-{op}"
            path = str(tmp_path / name)
            shutil.copytree(template, path)
            cases.append(Case(name, f"tests.test_store_crash:op_{op}", step,
                              {"kind": kind, "path": path}))
            expect[name] = (kind, op, path, pre, *done[op])

    results = run_killed(cases)
    failures = []
    for name, (kind, op, path, pre, post, post_dirs) in expect.items():
        code, tail = results[name]
        if code != KILLED:
            failures.append(
                f"{name}: exit {code} (0: the op never reached the step)\n{tail}")
            continue
        try:
            store = open_store(kind, spark, path)
            got = check_recovered(rows(kind, store), pre, post)
            if op == "fold":
                assert got == "pre", f"recovered the {got} state"
                fold(kind, store, spark, 3)  # commits once, on top
                assert check_recovered(rows(kind, store), post, post)
            else:
                assert _dirs(path) != post_dirs  # the kill was partway
                store.vacuum()
                assert _dirs(path) == post_dirs
                assert check_recovered(rows(kind, store), post, post)
        except AssertionError as e:
            failures.append(f"{name}: {e}")
    assert not failures, "\n".join(failures)
