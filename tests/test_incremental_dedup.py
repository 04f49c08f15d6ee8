"""Incremental corpus-vs-history MinHash dedup: the union of
per-increment pair sets must EQUAL a full-corpus recompute (signatures
per-doc deterministic; every pair emitted by the increment that saw
its second member), each increment must signature ONLY the new batch,
and the streaming foreachBatch twin must land on the same pair set,
replay-safe by batch id."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from dmds_spark.operators.dedup import dedup_minhash
from dmds_spark.operators.incremental_dedup import IncrementalMinHashDedup

SF = "/root/testdata/sf0.001"
NH, B, K, T = 16, 4, 3, 0.5


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )


def _pairs(df):
    return {
        (r["id_a"], r["id_b"], round(r["jaccard_est"], 9))
        for r in df.collect()
    }


@pytest.fixture()
def full(spark):
    return _pairs(dedup_minhash(_docs(spark), "text", "doc_id", NH, B, T))


def test_three_increments_equal_full_recompute(spark, tmp_path, full):
    docs = _docs(spark)
    src = str(tmp_path / "src")
    store = IncrementalMinHashDedup(
        spark, src, str(tmp_path / "store"), "text", "doc_id", NH, B, K, T
    )
    docs.filter(F.col("doc_id") % 3 == 0).write.parquet(src)
    assert store.refresh()["new_files"] >= 1
    docs.filter(F.col("doc_id") % 3 == 1).write.mode("append").parquet(src)
    store.refresh()
    # no-op refresh: nothing new to signature
    assert store.refresh()["new_files"] == 0
    docs.filter(F.col("doc_id") % 3 == 2).write.mode("append").parquet(src)
    store.refresh()
    assert _pairs(store.pairs()) == full
    # signature store holds each ingested doc exactly once
    n_docs_sig = store.signatures().count()
    assert (
        store.signatures().select("doc_id").distinct().count() == n_docs_sig
    )


def test_increment_signatures_only_new_batch(spark, tmp_path):
    """The O(new) claim: after the second refresh, the second version's
    signature file contains ONLY the second batch's docs (the first
    batch was not re-signatured)."""
    docs = _docs(spark)
    src = str(tmp_path / "src")
    sdir = str(tmp_path / "store")
    store = IncrementalMinHashDedup(
        spark, src, sdir, "text", "doc_id", NH, B, K, T
    )
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(src)
    store.refresh()
    docs.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(src)
    store.refresh()
    v2_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{sdir}/sigs/batch-v2").collect()
    }
    assert v2_ids and all(i % 2 == 1 for i in v2_ids)
    st = json.load(open(f"{sdir}/_current.json"))
    assert st["versions"] == [1, 2]


def test_stream_foreach_batch_twin_matches_batch(spark, tmp_path, full):
    """Drive the index from a real micro-batched stream (one file per
    trigger): the accumulated pairs must equal the full-corpus batch
    recompute, and a replayed batch id must be a no-op."""
    docs = _docs(spark)
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    store = IncrementalMinHashDedup(
        spark, None, str(tmp_path / "store"), "text", "doc_id", NH, B, K, T
    )
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/part-*.parquet")
    )
    q = (
        sdf.writeStream.foreachBatch(store.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert _pairs(store.pairs()) == full
    st = json.load(open(f"{tmp_path}/store/_current.json"))
    out = store.fold_batch(spark.read.parquet(src), batch_id=0)
    assert out["skipped"] is True
    assert st["versions"] == json.load(
        open(f"{tmp_path}/store/_current.json")
    )["versions"]
    assert _pairs(store.pairs()) == full


def test_random_batch_splits_equal_full_recompute(spark, tmp_path):
    """Property sweep (not one hand-picked split): for RANDOM
    partitions of a small corpus into 1-4 ingest batches — including
    empty batches and singleton batches — the accumulated pair set
    must equal the full-corpus recompute. Catches order-dependence,
    empty-increment handling, and batch-boundary pair loss."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    docs = _docs(spark).filter(F.col("doc_id") < 60)
    full = _pairs(dedup_minhash(docs, "text", "doc_id", NH, B, T))
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    case_no = [0]

    @settings(max_examples=5, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(assign=st.lists(
        st.integers(min_value=0, max_value=3),
        min_size=len(rows), max_size=len(rows)))
    def check(assign):
        case_no[0] += 1
        sdir = str(tmp_path / f"store_{case_no[0]}")
        store = IncrementalMinHashDedup(
            spark, None, sdir, "text", "doc_id", NH, B, K, T
        )
        for batch in range(4):
            chunk = [r for r, a in zip(rows, assign) if a == batch]
            if not chunk:
                continue
            store.fold_batch(
                spark.createDataFrame(chunk, ["doc_id", "text"]),
                batch_id=batch,
            )
        got = _pairs(store.pairs()) if store.pairs() is not None else set()
        assert got == full

    check()


def test_writer_lock_race_exactly_one_winner(tmp_path):
    """N processes race to acquire the same writer lock concurrently:
    exactly one must win (O_CREAT|O_EXCL atomicity), and after the
    winner releases, a fresh acquire succeeds."""
    import os
    import subprocess
    import sys

    path = str(tmp_path / "w")
    os.makedirs(path)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # start barrier: racers spin on a "go" file the parent creates only
    # after every process is up, then all attempt acquire within the
    # same few ms. A fixed sleep instead makes the test load-sensitive:
    # on a busy box interpreter startup staggers past the hold window
    # and late racers win legitimately-but-sequentially.
    go = str(tmp_path / "go")
    ready_dir = str(tmp_path / "ready")
    os.makedirs(ready_dir)
    code = (
        "import json, os, sys, time\n"
        "sys.path.insert(0, %r)\n"
        "from dmds_spark.world import WriterLock\n"
        "from dmds_spark.core.errors import WorldLockedError\n"
        "open(os.path.join(%r, str(os.getpid())), 'w').close()\n"
        "while not os.path.exists(%r):\n"
        "    time.sleep(0.005)\n"
        "lk = WriterLock(%r)\n"
        "try:\n"
        "    lk.acquire()\n"
        "    time.sleep(1.0)  # hold while the others fail\n"
        "    lk.release()\n"
        "    print('WIN')\n"
        "except WorldLockedError:\n"
        "    print('LOSE')\n"
    ) % (repo, ready_dir, go, path)
    procs = [
        subprocess.Popen([sys.executable, "-c", code],
                         stdout=subprocess.PIPE, text=True)
        for _ in range(6)
    ]
    import time as _time

    deadline = _time.time() + 55
    while len(os.listdir(ready_dir)) < len(procs):
        assert _time.time() < deadline, "racers failed to start"
        _time.sleep(0.01)
    with open(go, "w") as fh:
        fh.write("go")
    outs = [p.communicate(timeout=60)[0].strip() for p in procs]
    assert sorted(outs).count("WIN") == 1, outs
    assert all(o in ("WIN", "LOSE") for o in outs)
    from dmds_spark.world import WriterLock

    lk = WriterLock(path)
    lk.acquire()
    lk.release()


def test_compact_preserves_content_and_single_version(spark, tmp_path):
    """compact() merges all increment files into one version with
    IDENTICAL pairs and signatures, and further increments keep
    working against the compacted store."""
    docs = _docs(spark)
    src = str(tmp_path / "src")
    store = IncrementalMinHashDedup(
        spark, src, str(tmp_path / "store"), "text", "doc_id", NH, B, K, T
    )
    docs.filter(F.col("doc_id") % 3 == 0).write.parquet(src)
    store.refresh()
    docs.filter(F.col("doc_id") % 3 == 1).write.mode("append").parquet(src)
    store.refresh()
    before_pairs = _pairs(store.pairs())
    before_sigs = store.signatures().count()

    out = store.compact()
    assert out["compacted"] and out["merged"] == 2
    st = json.load(open(f"{tmp_path}/store/_current.json"))
    assert len(st["versions"]) == 1
    assert _pairs(store.pairs()) == before_pairs
    assert store.signatures().count() == before_sigs

    # increments continue from the compacted store and still land on
    # the full recompute
    docs.filter(F.col("doc_id") % 3 == 2).write.mode("append").parquet(src)
    store.refresh()
    full = _pairs(dedup_minhash(_docs(spark), "text", "doc_id", NH, B, T))
    assert _pairs(store.pairs()) == full

    # compact again, then the single-version store refuses a no-op
    store.compact()
    assert store.compact()["compacted"] is False


# ---------------------------------------------------------------------------
# incremental cluster maintenance (maintain_clusters=True)
# ---------------------------------------------------------------------------


def _cluster_map(df):
    return {(r["id"], r["cluster_id"]) for r in df.collect()}


def _full_clusters(spark):
    """Ground truth: connected components over the full-corpus pair
    set, ids restricted to those that appear in >= 1 pair (the store's
    contract)."""
    from dmds_spark.operators.dedup import connected_components

    pairs = dedup_minhash(_docs(spark), "text", "doc_id", NH, B, T)
    return {
        (r["id"], r["cluster_id"])
        for r in connected_components(pairs, "id_a", "id_b").collect()
    }


def test_incremental_clusters_equal_full_recompute(spark, tmp_path):
    """Three O(new) cluster folds land on EXACTLY the connected
    components a full recompute over the complete pair store produces —
    the keep-first canonicalization correctness claim."""
    docs = _docs(spark)
    src = str(tmp_path / "src")
    store = IncrementalMinHashDedup(
        spark, src, str(tmp_path / "store"), "text", "doc_id",
        NH, B, K, T, maintain_clusters=True,
    )
    docs.filter(F.col("doc_id") % 3 == 0).write.parquet(src)
    store.refresh()
    docs.filter(F.col("doc_id") % 3 == 1).write.mode("append").parquet(src)
    store.refresh()
    docs.filter(F.col("doc_id") % 3 == 2).write.mode("append").parquet(src)
    store.refresh()
    assert _cluster_map(store.clusters()) == _full_clusters(spark)


def test_cluster_delta_is_o_new(spark, tmp_path):
    """The O(new) claim for the map itself: an increment whose pairs
    touch no existing cluster writes ONLY its own component rows —
    unaffected clusters are never rewritten (their cmap files carry no
    row for the new version)."""
    docs = _docs(spark)
    src = str(tmp_path / "src")
    sdir = str(tmp_path / "store")
    store = IncrementalMinHashDedup(
        spark, src, sdir, "text", "doc_id", NH, B, K, T,
        maintain_clusters=True,
    )
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(src)
    store.refresh()
    v1 = _cluster_map(spark.read.parquet(f"{sdir}/cmap/batch-v1"))
    docs.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(src)
    store.refresh()
    v2 = _cluster_map(spark.read.parquet(f"{sdir}/cmap/batch-v2"))
    # every id in v1 that still carries the same label was NOT rewritten
    unchanged = {i for i, c in v1 if (i, c) in _full_clusters(spark)}
    rewritten = {i for i, _c in v2}
    assert unchanged, "fixture should have stable clusters"
    # v2 rows are only new ids or ids whose label actually changed
    stale_rewrites = [
        (i, c) for i, c in v2 if (i, c) in v1
    ]
    assert stale_rewrites == []
    # and labels only ever decrease (min-label monotonicity)
    lab1 = dict(v1)
    for i, c in v2:
        if i in lab1:
            assert c < lab1[i], (i, c, lab1[i])
    assert rewritten  # the odd half did contribute something


def test_clusters_compact_resolves_epochs(spark, tmp_path):
    docs = _docs(spark)
    src = str(tmp_path / "src")
    store = IncrementalMinHashDedup(
        spark, src, str(tmp_path / "store"), "text", "doc_id",
        NH, B, K, T, maintain_clusters=True,
    )
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(src)
    store.refresh()
    docs.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(src)
    store.refresh()
    before = _cluster_map(store.clusters())
    store.compact()
    after = store.clusters()
    assert _cluster_map(after) == before
    # resolved: exactly one row per id even at the raw file level
    raw = spark.read.parquet(f"{tmp_path}/store/cmap/batch-v3")
    assert raw.count() == raw.select("id").distinct().count()


def test_clusters_off_by_default(spark, tmp_path):
    store = IncrementalMinHashDedup(
        spark, None, str(tmp_path / "store"), "text", "doc_id"
    )
    with pytest.raises(ValueError, match="maintain_clusters"):
        store.clusters()


def test_cluster_delta_plan_broadcasts_map_probes(spark, tmp_path):
    """Scale pin for the O(new) fold: every probe of the cluster map
    (endpoint labels, merged-label rewrite) is a BROADCAST join of the
    small increment side — the map itself is scanned, never shuffled
    (no sort-merge join anywhere in the delta plan)."""
    docs = _docs(spark)
    src = str(tmp_path / "src")
    store = IncrementalMinHashDedup(
        spark, src, str(tmp_path / "store"), "text", "doc_id",
        NH, B, K, T, maintain_clusters=True,
    )
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(src)
    store.refresh()
    inc = spark.read.parquet(f"{tmp_path}/store/pairs/batch-v1")
    delta = store._cluster_delta(inc, store._state())
    plan = delta._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stream_maintains_clusters(spark, tmp_path):
    """The streaming arm with maintain_clusters=True: a real
    micro-batched stream (one file per trigger) folds the cluster map
    increment by increment, landing on exactly the full-recompute
    connected components."""
    docs = _docs(spark)
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    store = IncrementalMinHashDedup(
        spark, None, str(tmp_path / "store"), "text", "doc_id",
        NH, B, K, T, maintain_clusters=True,
    )
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/part-*.parquet")
    )
    q = (
        sdf.writeStream.foreachBatch(store.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert _cluster_map(store.clusters()) == _full_clusters(spark)


def test_vacuum_reclaims_superseded_versions(spark, tmp_path):
    """Superseded increment dirs SURVIVE compact() (a lazy reader that
    resolved the old pointer must keep reading them) and are reclaimed
    by the explicit vacuum(), which also sweeps crash orphans. A
    pairs-only handle compacting a cluster-maintained store carries
    the cmap forward instead of stranding it (disk-derived, not
    flag-derived)."""
    import os

    docs = _docs(spark)
    src = str(tmp_path / "src")
    sdir = str(tmp_path / "store")
    store = IncrementalMinHashDedup(
        spark, src, sdir, "text", "doc_id", NH, B, K, T,
        maintain_clusters=True,
    )
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(src)
    store.refresh()
    docs.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(src)
    store.refresh()
    clusters_before = _cluster_map(store.clusters())
    pre_compact_pairs = store.pairs()  # lazily pins the old paths

    # compact through a PAIRS-ONLY handle on the same store dir: the
    # cluster map must still be merged forward
    pairs_handle = IncrementalMinHashDedup(
        spark, src, sdir, "text", "doc_id", NH, B, K, T
    )
    out = pairs_handle.compact()
    assert out["compacted"] and out["merged"] == 2
    for kind in ("sigs", "pairs", "cmap"):
        assert sorted(os.listdir(f"{sdir}/{kind}")) == [
            "batch-v1", "batch-v2", "batch-v3",
        ]
    assert _pairs(pre_compact_pairs) == _pairs(store.pairs())
    assert _cluster_map(store.clusters()) == clusters_before

    # explicit vacuum reclaims the superseded dirs + a crash orphan
    os.makedirs(f"{sdir}/pairs/batch-v9")
    removed = store.vacuum()["removed"]
    assert f"pairs/batch-v9" in removed and len(removed) == 7
    for kind in ("sigs", "pairs", "cmap"):
        assert sorted(os.listdir(f"{sdir}/{kind}")) == ["batch-v3"]
    assert _cluster_map(store.clusters()) == clusters_before


def test_maintain_clusters_cannot_be_retrofitted(spark, tmp_path):
    """A maintain_clusters=True handle over a store whose existing
    increments carry no cluster map must refuse the next ingest (the
    fold cannot be retrofitted O(new)) instead of writing a map that
    silently misses history."""
    docs = _docs(spark)
    src = str(tmp_path / "src")
    sdir = str(tmp_path / "store")
    plain = IncrementalMinHashDedup(
        spark, src, sdir, "text", "doc_id", NH, B, K, T
    )
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(src)
    plain.refresh()
    flipped = IncrementalMinHashDedup(
        spark, src, sdir, "text", "doc_id", NH, B, K, T,
        maintain_clusters=True,
    )
    docs.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(src)
    with pytest.raises(ValueError, match="retrofitted"):
        flipped.refresh()
