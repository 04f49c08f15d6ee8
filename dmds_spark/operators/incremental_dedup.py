"""Incremental corpus-vs-history near-duplicate detection: dedup an
incoming batch against an accumulated MinHash signature store WITHOUT
recomputing signatures for the corpus already ingested.

The production shape for a growing 100 TB corpus: signatures are
computed once per document on arrival (the expensive shingle->md5->min
pass touches only the new batch), appended to a signature store, and
candidate pairs for the increment come from ONE band-key equi-join of
the new batch's banded signatures against the banded store (new ids on
the left, store-so-far-plus-batch on the right) — so each increment
costs O(new x matching-buckets), never O(corpus^2) and never a corpus
re-scan. The union of per-increment pair sets is EXACTLY the pair set
a full recompute produces: signatures are per-document deterministic,
and every pair has at least one member in some increment's batch (the
increment that saw its second member emits it). Pinned against the
full-corpus pipeline in tests/test_incremental_dedup.py and oracle-
checked end to end by the registered ``dedup_incremental_minhash``.

Storage follows the commit protocol of ``core/commit.py`` (and the
reference's dirty-chunk incremental flush,
tokio-fs/src/lib.rs:207-235): each increment writes NEW
immutable parquet files (``sigs/batch-v*``, ``pairs/batch-v*``) and
then flips a pointer file listing the committed versions — an
increment is O(new) write volume (the store is appended, never
rewritten), readers resolve the pointer so a crashed increment leaves
orphan files that are never read (and are overwritten on retry), and
file-based batch ingest tracks seen source files while streaming
ingest (``fold_batch``/``foreach_batch``) is replay-safe by batch-id
high-water mark, exactly like the rollup sink.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dmds_spark.core.commit import PointerStore
from dmds_spark.functions.text import lsh_band_keys, minhash_jaccard_estimate
from dmds_spark.operators.dedup import minhash_signatures
from dmds_spark.core.engine import materialize


class IncrementalMinHashDedup(PointerStore):
    """A maintained MinHash near-dup index over an append-only corpus.

    ``refresh()`` ingests unseen source files; ``fold_batch()`` ingests
    a DataFrame micro-batch (replay-safe); ``pairs()`` returns every
    near-dup pair (id_a < id_b, jaccard_est >= threshold) discovered so
    far — equal to a full-corpus ``dedup_minhash`` over everything
    ingested; ``signatures()`` returns the signature store. With
    ``maintain_clusters=True``, ``clusters()`` additionally serves the
    connected-component cluster map, maintained O(new) per increment
    (contracted-graph min-label union, see ``_cluster_delta``) instead
    of recomputed over the whole pair store per refresh.

    Contract: ``id_col`` values must be UNIQUE across all ingested
    batches (append-only corpus — the same guarantee ``refresh()``'s
    seen-file tracking and ``fold_batch()``'s batch-id mark provide
    for whole batches). Re-ingesting an id through a NEW batch would
    store its signature twice, and the post-candidate signature
    re-attach joins would then fan each affected pair out per
    duplicate row. If upstream can re-emit rows individually,
    anti-join the batch against ``signatures()`` on the id first."""

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str | None,
        store_dir: str,
        text_col: str,
        id_col: str,
        num_hashes: int = 16,
        bands: int = 4,
        k: int = 3,
        threshold: float = 0.5,
        maintain_clusters: bool = False,
    ):
        super().__init__(store_dir)
        self.spark = spark
        self.source_dir = source_dir
        self.text_col = text_col
        self.id_col = id_col
        self.num_hashes = num_hashes
        self.bands = bands
        self.k = k
        self.threshold = threshold
        # maintain_clusters=True additionally folds each increment's
        # pairs into a persisted cluster map (``cmap/batch-v*``) — the
        # O(new) cluster maintenance keep-first canonicalization wants
        # (see _cluster_delta). Opt-in: pair-only consumers skip the
        # per-increment contracted-CC cost.
        self.maintain_clusters = maintain_clusters

    # -- pointer ---------------------------------------------------------
    def _empty_state(self) -> dict:
        return {"versions": [], "seen_files": [], "last_batch_id": -1}

    def _referenced(self, st: dict) -> dict[str, set[str]]:
        keep = {f"batch-v{v}" for v in st["versions"]}
        return {kind: keep for kind in ("sigs", "pairs", "cmap")}

    def _paths(self, kind: str, versions: list[int]) -> list[str]:
        return [
            os.path.join(self.store_dir, kind, f"batch-v{v}")
            for v in versions
        ]

    # -- readers ---------------------------------------------------------
    def signatures(self) -> DataFrame | None:
        vs = self._state()["versions"]
        if not vs:
            return None
        return self.spark.read.parquet(*self._paths("sigs", vs))

    def pairs(self) -> DataFrame | None:
        vs = self._state()["versions"]
        if not vs:
            return None
        return self.spark.read.parquet(*self._paths("pairs", vs))

    def clusters(self) -> DataFrame | None:
        """The maintained cluster map: (id, cluster_id) for every id
        that appears in at least one near-dup pair, cluster_id = min id
        reachable — EXACTLY what ``connected_components`` over
        ``pairs()`` returns, but maintained O(new) per increment
        instead of recomputed (pinned in tests/test_incremental_dedup
        and oracle-checked by ``rollup_incremental_clusters``). Ids
        with no pair have no row; canonical-selection consumers
        coalesce to the id itself, same as the full-recompute query.

        A relabeled id carries one row per label epoch across the
        increment files; labels only ever DECREASE (min-label
        monotonicity), so the current map is ``min(cluster_id)`` per
        id — one aggregation, no version bookkeeping."""
        if not self.maintain_clusters:
            raise ValueError(
                "cluster maintenance is off: construct with "
                "maintain_clusters=True (pairs-only store)"
            )
        vs = self._state()["versions"]
        if not vs:
            return None
        return (
            self.spark.read.parquet(*self._paths("cmap", vs))
            .groupBy("id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )

    # -- the increment ---------------------------------------------------
    def _increment_pairs(
        self, new_sigs: DataFrame, stored_sigs: DataFrame | None
    ) -> DataFrame:
        """Near-dup pairs touching the new batch: band-join the new
        signatures against store-so-far + batch. Carries only
        (id, band_key) through the join and distinct; the 32-char-wide
        signatures re-attach by equi-join afterwards (same id-only
        shuffle discipline as minhash_lsh_candidates)."""
        id_c = self.id_col
        rows = self.num_hashes // self.bands
        all_sigs = (
            stored_sigs.unionByName(new_sigs)
            if stored_sigs is not None
            else new_sigs
        )
        bkeys = lambda df, out: df.select(  # noqa: E731
            F.col(id_c).alias(out),
            F.explode(
                lsh_band_keys(F.col("signature"), self.bands, rows)
            ).alias("band_key"),
        )
        ids = (
            bkeys(new_sigs, "nid")
            .join(bkeys(all_sigs, "oid"), "band_key")
            .filter(F.col("nid") != F.col("oid"))
            .select(
                F.least("nid", "oid").alias("id_a"),
                F.greatest("nid", "oid").alias("id_b"),
            )
            .distinct()
        )
        sa = all_sigs.select(
            F.col(id_c).alias("id_a"), F.col("signature").alias("sig_a")
        )
        sb = all_sigs.select(
            F.col(id_c).alias("id_b"), F.col("signature").alias("sig_b")
        )
        est = minhash_jaccard_estimate(
            F.col("sig_a"), F.col("sig_b"), self.num_hashes
        )
        return (
            ids.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn("jaccard_est", est)
            .filter(F.col("jaccard_est") >= self.threshold)
            .select("id_a", "id_b", "jaccard_est")
        )

    def _ingest(self, docs: DataFrame, st: dict) -> int:
        """Compute the batch's signatures, its increment pairs vs the
        store, write both as NEW files (plus the cluster-map delta when
        maintained), return the next version number (caller flips the
        pointer)."""
        if (
            self.maintain_clusters
            and st["versions"]
            and not os.path.isdir(os.path.join(self.store_dir, "cmap"))
        ):
            # checked BEFORE any write: the refused ingest must not
            # leave sig/pair orphans behind
            raise ValueError(
                "maintain_clusters=True over a store whose existing "
                "increments carry no cluster map: the fold cannot be "
                "retrofitted O(new) (rebuild into a fresh store_dir, "
                "or keep the pairs-only handle)"
            )
        v = (max(st["versions"]) + 1) if st["versions"] else 1
        sigs_path = os.path.join(self.store_dir, "sigs", f"batch-v{v}")
        pairs_path = os.path.join(self.store_dir, "pairs", f"batch-v{v}")
        # the sig parquet write IS the materialization (it has to
        # happen anyway — nothing published until the caller's pointer
        # flip): ONE job computes signatures and commits them, and the
        # band join + any later consumer re-read the written file.
        # Previously a localCheckpoint job computed the sigs and a
        # second job re-serialized them into parquet (guide §2.4 —
        # don't do the same work twice)
        minhash_signatures(
            docs, self.text_col, self.id_col, self.num_hashes, self.k
        ).write.mode("overwrite").parquet(sigs_path)
        new_sigs = self.spark.read.parquet(sigs_path)
        stored = self.signatures()
        inc_pairs = self._increment_pairs(new_sigs, stored)
        inc_pairs.write.mode("overwrite").parquet(pairs_path)
        if self.maintain_clusters:
            # fold the increment's pairs (read back from the file just
            # written — already materialized, no band-join recompute)
            # into the cluster map
            delta = self._cluster_delta(
                self.spark.read.parquet(pairs_path), st
            )
            delta.write.mode("overwrite").parquet(
                os.path.join(self.store_dir, "cmap", f"batch-v{v}")
            )
        return v

    def _cluster_delta(self, inc_pairs: DataFrame, st: dict) -> DataFrame:
        """O(new) cluster fold: the (id, cluster_id) rows that are NEW
        or CHANGED once this increment's pairs join the map.

        The full map is NEVER recomputed. The increment's edges are
        projected onto current labels (one broadcast-probe scan of the
        map — the O(new) endpoint set is the broadcast side, the map is
        scanned, never shuffled), connected components run over the
        CONTRACTED graph only (nodes = affected labels + new ids,
        O(new) edges — min-label union against the stored map), and the
        rewrite touches only rows whose label merged away (one more
        broadcast-probe scan, write volume O(changed)). Correctness
        rests on min-label monotonicity: a superseded label can never
        become current again (every row carrying it was rewritten when
        it merged), so probing RAW increment rows against the remap
        only ever matches live rows — no per-id version resolution in
        the hot path. Reference analogue: the dirty-chunk flush never
        rewrites clean state (tokio-fs/src/lib.rs:207-235)."""
        from dmds_spark.operators.dedup import connected_components

        edges = inc_pairs.select("id_a", "id_b")
        if not st["versions"]:
            # first increment: the contracted graph IS the graph
            return connected_components(edges, "id_a", "id_b")
        cur_raw = self.spark.read.parquet(*self._paths("cmap", st["versions"]))
        # EAGER materialize for the bounded shared intermediates: hits
        # feeds TWO broadcast exchanges (la/lb) that Spark prepares
        # concurrently — against a lazy persist both race on the
        # uncached entry and each recomputes the full map scan (A/B:
        # lazy persists cost +3 s on rollup_incremental_clusters);
        # a localCheckpointed RDD makes each broadcast a cheap re-read
        ends = (
            edges.select(F.col("id_a").alias("nid"))
            .unionByName(edges.select(F.col("id_b").alias("nid")))
            .distinct()
            .transform(materialize)  # consumed by probe + anti-join
        )
        # current label per touched endpoint: broadcast the O(new)
        # endpoint set, scan the map once, resolve min() only over hits
        hits = (
            cur_raw.join(F.broadcast(ends), F.col("id") == F.col("nid"))
            .groupBy("nid")
            .agg(F.min("cluster_id").alias("lab"))
            .transform(materialize)  # consumed 3x (two sides + anti)
        )
        la = hits.select(F.col("nid").alias("id_a"), F.col("lab").alias("la"))
        lb = hits.select(F.col("nid").alias("id_b"), F.col("lab").alias("lb"))
        contracted = (
            edges.join(F.broadcast(la), "id_a", "left")
            .join(F.broadcast(lb), "id_b", "left")
            .select(
                F.coalesce("la", F.col("id_a")).alias("u"),
                F.coalesce("lb", F.col("id_b")).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))  # intra-cluster edges drop
        )
        cc = materialize(connected_components(contracted, "u", "v"))
        # brand-new ids get their first row
        new_rows = cc.join(
            F.broadcast(
                ends.join(hits, "nid", "left_anti").select(
                    F.col("nid").alias("id")
                )
            ),
            "id",
        )
        # merged-away labels rewrite every live row that carries them
        remap = cc.filter(F.col("id") != F.col("cluster_id")).select(
            F.col("id").alias("old_lab"), F.col("cluster_id").alias("new_lab")
        )
        changed = cur_raw.join(
            F.broadcast(remap), F.col("cluster_id") == F.col("old_lab")
        ).select("id", F.col("new_lab").alias("cluster_id"))
        return new_rows.unionByName(changed)

    # -- public ingest ---------------------------------------------------
    def refresh(self) -> dict:
        """Ingest unseen files from ``source_dir``; returns
        {"new_files": n, "version": v}. Raises SourceMutatedError if
        an already-ingested file was rewritten in place (its docs'
        signatures are already in the store and cannot be patched)."""
        from dmds_spark.operators.rollup import (
            _list_source_files,
            _seen_as_dict,
            _split_new_and_check,
        )

        if self.source_dir is None:
            raise ValueError("refresh() needs source_dir (use fold_batch)")
        with self._writer():
            st = self._state()
            seen = _seen_as_dict(st["seen_files"], st.get("size_src"))
            current = _list_source_files(self.spark, self.source_dir)
            new_files = _split_new_and_check(current, seen, "minhash store")
            if not new_files:
                return {"new_files": 0,
                        "version": max(st["versions"], default=0)}
            v = self._ingest(self.spark.read.parquet(*new_files), st)
            self._flip(
                {
                    "versions": st["versions"] + [v],
                    "seen_files": {
                        **{f: current.get(f, sz) for f, sz in seen.items()},
                        **{f: current[f] for f in new_files},
                    },
                    "size_src": "fs",
                    "last_batch_id": st["last_batch_id"],
                }
            )
            return {"new_files": len(new_files), "version": v}

    def fold_batch(self, df: DataFrame, batch_id: int | None = None) -> dict:
        """Streaming maintenance path: ingest one micro-batch of new
        documents. Idempotent under foreachBatch REPLAY when
        ``batch_id`` is given (at-least-once delivery): a batch id at
        or below the high-water mark is skipped, and a crash between
        file write and pointer flip replays into fresh never-read
        files, never into served data."""
        with self._writer():
            st = self._state()
            if batch_id is not None and batch_id <= st["last_batch_id"]:
                return {"skipped": True,
                        "version": max(st["versions"], default=0)}
            v = self._ingest(df, st)
            self._flip(
                {
                    "versions": st["versions"] + [v],
                    "seen_files": st["seen_files"],
                    "size_src": st.get("size_src"),
                    "last_batch_id": (
                        batch_id if batch_id is not None
                        else st["last_batch_id"]
                    ),
                }
            )
            return {"skipped": False, "version": v}

    def foreach_batch(self):
        """Sink for ``writeStream.foreachBatch``: keeps the near-dup
        index continuously maintained, one increment per micro-batch,
        replay-safe by batch id."""

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            self.fold_batch(batch_df, batch_id)

        return _sink

    def compact(self) -> dict:
        """Merge the accumulated per-increment files into ONE batch
        (small-file hygiene: after thousands of micro-batch increments
        the store is thousands of tiny parquet files, and every
        band-join against it pays a task + footer read per file — the
        same 100 TB scan-throughput killer ``World.compact`` exists
        for). Writes the merged signatures and pairs as a single new
        version, then flips the pointer to ONLY that version; the old
        batch files become unreferenced (readers resolving the old
        pointer mid-compact still see a complete store — same
        crash-safe discipline as refresh; the superseded directories
        stay on disk so a reader LAZILY holding pre-compact paths keeps
        resolving — reclaim them later with :meth:`vacuum`, once no
        pinned reader needs them). Content is unchanged:
        signatures/pairs are unioned as-is, never recomputed — except
        the cluster map, which compacts to its RESOLVED form (one
        min-label row per id; superseded label-epoch rows drop), the
        one moment the per-epoch history is folded. The cluster map is
        detected from DISK, not this handle's flag — a pairs-only
        handle compacting a cluster-maintained store must carry the
        map forward, never strand it."""
        with self._writer():
            st = self._state()
            if len(st["versions"]) <= 1:
                return {"compacted": False, "versions": len(st["versions"])}
            v = max(st["versions"]) + 1
            kinds = ("sigs", "pairs") + (
                ("cmap",)
                if os.path.isdir(os.path.join(self.store_dir, "cmap"))
                else ()
            )
            # materialize BEFORE overwriting nothing (new dirs) — plain
            # reads of the old versions stream into the new single
            # version
            for kind in kinds:
                src = self.spark.read.parquet(
                    *self._paths(kind, st["versions"])
                )
                if kind == "cmap":
                    src = src.groupBy("id").agg(
                        F.min("cluster_id").alias("cluster_id")
                    )
                src.coalesce(
                    max(1, len(st["versions"]) // 8)
                ).write.mode("overwrite").parquet(
                    os.path.join(self.store_dir, kind, f"batch-v{v}")
                )
            self._flip(
                {
                    "versions": [v],
                    "seen_files": st["seen_files"],
                    "size_src": st.get("size_src"),
                    "last_batch_id": st["last_batch_id"],
                }
            )
            return {"compacted": True, "versions": 1,
                    "merged": len(st["versions"])}
