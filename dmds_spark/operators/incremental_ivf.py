"""Persisted, incrementally-maintained IVF (inverted-file) ANN index.

The per-query IVF in ``similarity_ivf_topk`` rebuilds cell assignments
from scratch every search; a 100 TB corpus maintains the index instead:
centroids are TRAINED ONCE (k-means on a sample, or explicit anchor
vectors), and every appended batch of vectors pays exactly one scan to
assign each new vector to its nearest centroid — O(new), never a
corpus re-scan. Searches then probe only the ``nprobe`` nearest cells.

This is the FAISS `train once / add incrementally` contract expressed
over parquet: because assignment is a pure function of (vector,
frozen centroids), the union of per-increment assignments is EXACTLY
the assignment table a full single-batch rebuild produces — the same
increment-union == full-recompute claim
``operators/incremental_dedup.py`` makes for MinHash, pinned the same
way (tests/test_incremental_ivf.py) and oracle-checked end to end by
the registered ``rollup_incremental_ivf`` (DuckDB states the full
assignment declaratively; the driver hash-compares it against the
two-increment store).

Storage follows the commit protocol of ``core/commit.py`` (reference
analogue: the dirty-chunk incremental flush,
tokio-fs/src/lib.rs:207-235): centroids and per-batch assignments are
immutable parquet (``centroids/v*``, ``assign/batch-v*``); a pointer
file lists the committed versions and flips atomically, so a crashed
increment leaves orphan files that are never read. ``compact()``
merges increment files for scan hygiene without recomputing anything;
``vacuum()`` deletes what it superseded and every other unreferenced
directory. ``retrain()`` is the staged quantizer
migration: a new centroid generation is written and every increment
re-materialized under it while the old generation keeps serving, then
ONE atomic pointer flip retargets readers — search under the new
generation hash-equals a fresh-store rebuild (pinned). All mutating
sequences run under the same cross-process ``WriterLock`` that fences
``World`` (single-writer; readers are never blocked).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dmds_spark.core.commit import PointerStore
from dmds_spark.operators.similarity import EMB_DIM, cosine as _cos


class IncrementalIVFIndex(PointerStore):
    """A maintained IVF index over an append-only vector corpus.

    ``set_centroids``/``train`` freeze the coarse quantizer;
    ``refresh()`` ingests unseen source files, ``fold_batch()`` a
    DataFrame micro-batch (replay-safe by batch id);
    ``assignments()`` returns the accumulated (id, vector, cluster)
    store; ``search()`` probes the ``nprobe`` nearest cells with an
    exact-cosine rerank. ``id_col`` values must be UNIQUE across all
    ingested batches (append-only corpus), same contract as
    IncrementalMinHashDedup."""

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str | None,
        store_dir: str,
        id_col: str,
        vec_col: str,
        dim: int = EMB_DIM,
    ):
        super().__init__(store_dir)
        self.spark = spark
        self.source_dir = source_dir
        self.id_col = id_col
        self.vec_col = vec_col
        self.dim = dim
        # per-instance memos of FROZEN quantizer state, keyed by the
        # pointer's version fields: centroids/v{N} and pq/v{N} are
        # immutable once written (set_centroids/retrain/set_pq_codebooks
        # always mint a NEW version), so re-reading them per ingest /
        # search within one handle is pure overhead — a build query
        # pays 2 small parquet reads per refresh otherwise. NOT result
        # caching: this is the store's own bounded metadata (k
        # centroids, M*K codewords), scoped to this handle's lifetime.
        self._cent_memo: tuple[tuple, list[list[float]]] | None = None
        self._books_memo: tuple[tuple, dict] | None = None

    # -- pointer ---------------------------------------------------------
    def _empty_state(self) -> dict:
        return {
            "centroid_version": 0,
            "versions": [],
            "seen_files": [],
            "last_batch_id": -1,
            "pq_version": 0,
        }

    def _state(self) -> dict:
        st = super()._state()
        st.setdefault("pq_version", 0)  # pre-round-14 pointer: no PQ
        return st

    def _referenced(self, st: dict) -> dict[str, set[str]]:
        """Committed assignment dirs, plus the centroid and PQ
        generations; ``centroids/`` and ``pq/`` are left alone while
        their version is 0. Pre-retrain generations are unreferenced
        once the pointer flips."""
        ref = {"assign": {
            os.path.basename(p)
            for p in self._current_assign_paths(st["versions"], st)
        }}
        if st["centroid_version"]:
            ref["centroids"] = {f"v{st['centroid_version']}"}
        if st["pq_version"]:
            ref["pq"] = {f"v{st['pq_version']}"}
        return ref

    @staticmethod
    def _base_cv(st: dict) -> int:
        """The centroid generation whose assignment dirs use the bare
        ``batch-v{N}`` layout. Recorded explicitly in the pointer when
        centroids freeze; a pre-round-12 pointer lacks the field, and
        for those the CURRENT generation is the bare one (no retrain
        existed before the field did, so whatever is on disk is bare —
        deriving it as a constant 1 would misread, and vacuum would
        DELETE, an old store whose centroid_version advanced past 1
        via repeated pre-ingest set_centroids calls)."""
        bc = st.get("base_cv")
        return bc if bc is not None else max(1, st["centroid_version"])

    def _assign_paths(
        self, versions: list[int], cv: int, base_cv: int
    ) -> list[str]:
        """Increment directories for one centroid generation. The BASE
        generation (the one centroids froze under — ``base_cv`` in the
        pointer) keeps the bare ``batch-v{N}`` layout, store-format
        compatible with pre-retrain stores; every retrained generation
        re-materializes increments under ``batch-v{N}@cv{M}`` so the
        old generation keeps serving until the pointer flip."""
        suffix = "" if cv == base_cv else f"@cv{cv}"
        return [
            os.path.join(self.store_dir, "assign", f"batch-v{v}{suffix}")
            for v in versions
        ]

    def _current_assign_paths(self, versions: list[int], st: dict) -> list[str]:
        return self._assign_paths(
            versions, max(1, st["centroid_version"]), self._base_cv(st)
        )

    def _centroid_path(self, version: int) -> str:
        return os.path.join(self.store_dir, "centroids", f"v{version}")

    # -- the coarse quantizer ---------------------------------------------
    def set_centroids(self, vectors: list[list[float]]) -> int:
        """Freeze explicit centroid vectors (anchor-IVF — the
        oracle-checkable path). Clusters are numbered by list
        position. Assignment is a pure function of the frozen
        centroids, so changing them over existing assignments goes
        through the staged :meth:`retrain` migration — enforced."""
        with self._writer():
            st = self._state()
            if st["versions"]:
                raise ValueError(
                    "cannot set_centroids over existing assignments: "
                    "assignment is a pure function of the frozen "
                    "centroids (use retrain() for a staged migration)"
                )
            cv = st["centroid_version"] + 1
            self._write_centroids(vectors, cv)
            # base_cv: this generation's assignments use the bare
            # directory layout (repeated pre-ingest re-freezes move it)
            self._flip({**st, "centroid_version": cv, "base_cv": cv})
            return cv

    def _write_centroids(self, vectors: list[list[float]], cv: int) -> None:
        rows = [
            (c, [float(x) for x in vec]) for c, vec in enumerate(vectors)
        ]
        # ONE-slice parallelize, not createDataFrame(list).coalesce(1):
        # the default k-slice local relation costs one Python-worker
        # round trip PER parent slice, and coalesce(1) evaluates all of
        # them serially inside a single task — measured 4+ s for this
        # 8-row write at local[32]; the 1-slice form is ~0.2 s and
        # writes the same single file (guide §1.2: per-task overhead)
        self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(rows, 1),
            "cluster int, centroid array<double>",
        ).write.mode("overwrite").parquet(self._centroid_path(cv))

    def train(self, df: DataFrame, k: int = 8, iters: int = 3) -> int:
        """Train centroids with deterministic k-means over ``df`` (a
        sample at scale — training cost is bounded by the sample, and
        assignment quality degrades gracefully with sample skew)."""
        from dmds_spark.operators.similarity import centroids, kmeans_assign

        assigned = kmeans_assign(
            df, self.id_col, self.vec_col, k=k, iters=iters, dim=self.dim
        )
        cent = centroids(
            df.join(assigned.select(self.id_col, "cluster"), self.id_col),
            "cluster",
            self.vec_col,
            self.dim,
        ).collect()
        by_cluster = {int(r["cluster"]): list(r["centroid"]) for r in cent}
        return self.set_centroids(
            [by_cluster[c] for c in sorted(by_cluster)]
        )

    def centroids(self) -> DataFrame:
        st = self._state()
        if not st["centroid_version"]:
            raise ValueError("index has no centroids: call train/set_centroids")
        return self.spark.read.parquet(
            self._centroid_path(st["centroid_version"])
        )

    @staticmethod
    def _dir_identity(path: str) -> tuple:
        """Filesystem identity of an immutable store directory: version
        numbers restart at 1 when a store is deleted and rebuilt, so a
        memo keyed on the version alone would serve the PREVIOUS
        store's state through a still-alive handle. The (inode,
        mtime_ns) of the written dir disambiguates — immutable dirs
        never change after their write commits."""
        try:
            stx = os.stat(path)
            return (stx.st_ino, stx.st_mtime_ns)
        except OSError:
            return (None, None)

    def _centroid_rows(self) -> list[list[float]]:
        cv = self._state()["centroid_version"]
        key = (cv,) + self._dir_identity(self._centroid_path(cv))
        if self._cent_memo is not None and self._cent_memo[0] == key:
            return self._cent_memo[1]
        rows = self.centroids().orderBy("cluster").collect()
        vals = [list(r["centroid"]) for r in rows]  # k rows — bounded
        self._cent_memo = (key, vals)
        return vals

    def _cell_rank(
        self, centroid_rows: list[list[float]], vec_col: str
    ) -> Column:
        """Array of (d = -cosine, c = cell) structs for one vector
        column against the frozen centroids — the k x dim matrix enters
        the plan as ONE constant-folded from_json literal (same pattern
        as kmeans_assign). SHARED by ingest-side assignment (argmin =
        array_min) and serve-side cell ranking (array_sort + slice):
        one ranking expression means the search==store-cell invariant
        the partition filter relies on cannot silently diverge."""
        mat = F.from_json(
            F.lit(json.dumps(centroid_rows)), "array<array<double>>"
        )
        return F.transform(
            mat,
            lambda cvec, ci: F.struct(
                (-_cos(F.col(vec_col), cvec)).alias("d"),
                ci.cast("int").alias("c"),
            ),
        )

    def _nearest(self, centroid_rows: list[list[float]]) -> Column:
        """argmax-cosine cluster id, ties to the LOWEST cluster."""
        return F.array_min(self._cell_rank(centroid_rows, self.vec_col))["c"]

    # -- product quantization (memory-compressed codes) ---------------------
    # The PQ half of the IVFADC serving stack (operators/pq.py trains
    # and proves the arithmetic; this section PERSISTS it): codebooks
    # freeze at create time like the coarse quantizer, every increment
    # stores each vector's M subspace codes next to its cell id, and
    # search_batch_adc ranks candidates from the codes column alone —
    # at 100 TB the ADC scan reads (id, cluster, codes): a few bytes
    # per vector instead of the D-dim float array (parquet column
    # pruning is the on-disk twin of FAISS's in-RAM compression). Codes
    # are a pure function of (vector, frozen codebooks), so the
    # increment-union == full-recompute contract extends to them
    # verbatim. Changing the PQ codebooks requires a store rebuild —
    # the same contract as FAISS (IndexIVFPQ trains once); the staged
    # retrain() migrates CELLS and carries codes through unchanged.

    def _pq_path(self, version: int) -> str:
        return os.path.join(self.store_dir, "pq", f"v{version}")

    def set_pq_codebooks(
        self, rows: list[tuple[int, int, list[int]]]
    ) -> int:
        """Freeze PQ codebooks: ``rows`` are (sub, cid, qc) codewords
        on the exact integer grid (operators/pq.py PQ_SCALE/PQ_OFF).
        Like set_centroids, refused over existing assignments — codes
        are a pure function of the frozen codebooks. Codeword width is
        validated against this store's ``dim``: _codes_expr/_adc_tbl
        slice subvectors at dim//PQ_M, and a codebook of a different
        width would make zip_with pad nulls — NULL distances, garbage
        codes, no error — downstream."""
        from dmds_spark.operators.pq import PQ_M

        if self.dim % PQ_M != 0:
            raise ValueError(
                f"store dim={self.dim} not divisible by PQ_M={PQ_M}"
            )
        sub_w = self.dim // PQ_M
        bad = {len(qc) for _s, _c, qc in rows if len(qc) != sub_w}
        if bad:
            raise ValueError(
                f"codeword width(s) {sorted(bad)} != dim//PQ_M={sub_w} "
                f"for store dim={self.dim}: train with train_pq (which "
                "threads this store's dim) or rebuild with matching dim"
            )
        with self._writer():
            st = self._state()
            if st["versions"]:
                raise ValueError(
                    "cannot set_pq_codebooks over existing assignments: "
                    "codes are a pure function of the frozen codebooks "
                    "(rebuild the store to change PQ — FAISS contract)"
                )
            pv = st["pq_version"] + 1
            # 1-slice parallelize for the bounded M*K codebook write —
            # same pathology as _write_centroids (k-slice local
            # relation + coalesce(1) serializes one Python-worker
            # round trip per slice; measured 4+ s per store build)
            self.spark.createDataFrame(
                self.spark.sparkContext.parallelize(
                    [(int(s), int(c), [int(x) for x in qc])
                     for s, c, qc in rows], 1),
                "sub int, cid int, qc array<bigint>",
            ).write.mode("overwrite").parquet(self._pq_path(pv))
            self._flip({**st, "pq_version": pv})
            return pv

    def train_pq(self, df: DataFrame) -> int:
        """Train PQ codebooks on ``df`` (a sample at scale — same
        bounded-training contract as :meth:`train`) with the exact
        integer pipeline from operators/pq.py, then freeze them."""
        from dmds_spark.operators.pq import pq_codebooks, quantized

        cb = (
            pq_codebooks(
                quantized(df, self.id_col, self.vec_col), dim=self.dim
            )
            .orderBy("sub", "cid")
            .collect()
        )  # M*K rows — bounded
        return self.set_pq_codebooks(
            [(r["sub"], r["cid"], list(r["qc"])) for r in cb]
        )

    def pq_codebooks_df(self) -> DataFrame:
        st = self._state()
        if not st["pq_version"]:
            raise ValueError(
                "store has no PQ codebooks: call train_pq/set_pq_codebooks"
            )
        return self.spark.read.parquet(self._pq_path(st["pq_version"]))

    def _pq_books(self) -> dict[int, dict[int, list[int]]]:
        """{sub: {cid: codeword}} — M*K rows, driver-side bounded."""
        pv = self._state()["pq_version"]
        key = (pv,) + self._dir_identity(self._pq_path(pv))
        if self._books_memo is not None and self._books_memo[0] == key:
            return self._books_memo[1]
        books: dict[int, dict[int, list[int]]] = {}
        for r in self.pq_codebooks_df().collect():
            books.setdefault(int(r["sub"]), {})[int(r["cid"])] = list(r["qc"])
        self._books_memo = (key, books)
        return books

    @staticmethod
    def _sq(a: Column, b: Column) -> Column:
        """Exact i64 squared distance between two grid arrays — the
        same fold as operators/pq.py _sqdist (one exactness contract)."""
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    @staticmethod
    def _grid_sql(vec_col: str) -> str:
        """SQL text of the floor(x*1e6)+2^22 integer grid of
        operators/pq.py quantized() — byte-identical so stored codes
        hash-match a declarative pq_encode restatement."""
        from dmds_spark.operators.pq import PQ_OFF, PQ_SCALE

        return (
            f"transform({vec_col}, x -> CAST(floor("
            f"CAST(x AS DOUBLE) * {PQ_SCALE}.0) AS BIGINT) + {PQ_OFF})"
        )

    def _grid(self, vec_col: str) -> Column:
        return F.expr(self._grid_sql(vec_col))

    def _codes_expr(
        self, books: dict[int, dict[int, list[int]]], vec_col: str
    ) -> Column:
        """array<int> of M per-subspace nearest-codeword ids for one
        vector column — a PURE PROJECTION against constant-folded
        codeword matrices (no join, no shuffle at ingest). Shares
        operators/pq.py ``nearest_code_sql`` (one from_json matrix +
        one transform per subspace, emitted as SQL text — the
        `_hyperplane_matrix` pattern; per-codeword Literal nodes made
        plan construction itself cost seconds), whose argmin
        tie-break is least-by-(dist, cid) —
        equal to pq_encode's zero-padded min_by key (distances are
        non-negative i64)."""
        from dmds_spark.operators.pq import PQ_DIM, PQ_M, nearest_code_sql

        sub = (self.dim if self.dim else PQ_DIM) // PQ_M
        gsql = self._grid_sql(vec_col)
        return F.expr(
            "array(" + ", ".join(
                nearest_code_sql(
                    books, s, f"slice({gsql}, {s * sub + 1}, {sub})"
                )
                for s in range(PQ_M)
            ) + ")"
        )

    def _adc_tbl(
        self, books: dict[int, dict[int, list[int]]], vec_col: str
    ) -> Column:
        """M x K asymmetric-distance lookup table for one QUERY vector
        column: tbl[s][c] = i64 squared distance between the query's
        s-th subvector and codeword c — codes index it positionally,
        so cids absent from a subspace's codebook (a Lloyd round can
        empty a seed) fill with 0L, which no stored code references.

        Built from ONE from_json K-slot codeword matrix + one distance
        transform per subspace (absent slots carry a zero placeholder
        row and a constant mask pins their distance to 0L without
        evaluating the fold) — the `_hyperplane_matrix` pattern,
        emitted as SQL TEXT parsed in one shot: the old K x M per-slot
        Literal folds made plan construction itself cost seconds per
        query batch (see operators/pq.py nearest_code_sql)."""
        from dmds_spark.operators.pq import PQ_DIM, PQ_K, PQ_M, _sq_sql

        sub = (self.dim if self.dim else PQ_DIM) // PQ_M
        gsql = self._grid_sql(vec_col)
        arrs = []
        for s in range(PQ_M):
            sv_sql = f"slice({gsql}, {s * sub + 1}, {sub})"
            present = books.get(s, {})
            full = json.dumps(
                [present.get(c, [0] * sub) for c in range(PQ_K)]
            )
            mask = json.dumps(
                [1 if c in present else 0 for c in range(PQ_K)]
            )
            arrs.append(
                f"transform(from_json('{full}', 'array<array<bigint>>'), "
                f"(cw, i) -> IF(element_at(from_json('{mask}', "
                f"'array<int>'), i + 1) = 1, "
                f"{_sq_sql(sv_sql, 'cw')}, 0L))"
            )
        return F.expr("array(" + ", ".join(arrs) + ")")

    # -- ingest ------------------------------------------------------------
    def _ingest(self, vecs: DataFrame, st: dict) -> int | None:
        """Write one assignment increment; returns its version number,
        or None for an EMPTY batch (recovery/idle foreachBatch triggers
        deliver these routinely) — an empty partitioned write leaves a
        parquet-less directory that would poison every later
        ``assignments()`` schema inference, so it is rolled back and
        never committed (the caller still advances its replay marks)."""
        cols = [
            F.col(self.id_col),
            F.col(self.vec_col).cast("array<double>").alias(self.vec_col),
        ]
        if st["pq_version"]:
            # PQ codes ride along with the cell id: a pure projection
            # against the constant-folded frozen codebooks — O(new),
            # no join, no shuffle, same as the cell assignment itself
            cols.append(
                self._codes_expr(self._pq_books(), self.vec_col)
                .alias("codes")
            )
        assigned = vecs.select(
            *cols, self._nearest(self._centroid_rows()).alias("cluster")
        )
        v = (max(st["versions"]) + 1) if st["versions"] else 1
        # partitioned by cluster: a search probing nprobe cells prunes
        # to nprobe directories per batch file set — the IVF point
        path = self._current_assign_paths([v], st)[0]
        assigned.write.mode("overwrite").partitionBy("cluster").parquet(path)
        if not any(
            f.endswith(".parquet")
            for _r, _d, fs in os.walk(path)
            for f in fs
        ):
            shutil.rmtree(path, ignore_errors=True)
            return None
        return v

    def refresh(self) -> dict:
        """Ingest unseen files from ``source_dir`` — O(new): one scan
        of the new files, one constant-matrix argmax, one partitioned
        append. Raises SourceMutatedError on in-place rewrites."""
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
            new_files = _split_new_and_check(current, seen, "ivf store")
            if not new_files:
                return {"new_files": 0,
                        "version": max(st["versions"], default=0)}
            v = self._ingest(self.spark.read.parquet(*new_files), st)
            self._flip(
                {
                    **st,
                    # empty new files commit no version but ARE marked
                    # seen
                    "versions": st["versions"]
                    + ([v] if v is not None else []),
                    "seen_files": {
                        **{f: current.get(f, sz) for f, sz in seen.items()},
                        **{f: current[f] for f in new_files},
                    },
                    "size_src": "fs",
                }
            )
            return {"new_files": len(new_files),
                    "version": v if v is not None
                    else max(st["versions"], default=0)}

    def fold_batch(self, df: DataFrame, batch_id: int | None = None) -> dict:
        """Micro-batch maintenance, replay-safe by batch-id high-water
        mark (at-least-once foreachBatch delivery folds exactly once)."""
        with self._writer():
            st = self._state()
            if batch_id is not None and batch_id <= st["last_batch_id"]:
                return {"skipped": True,
                        "version": max(st["versions"], default=0)}
            v = self._ingest(df, st)
            self._flip(
                {
                    **st,
                    # an empty micro-batch commits no version but DOES
                    # advance the replay high-water mark
                    "versions": st["versions"]
                    + ([v] if v is not None else []),
                    "last_batch_id": (
                        batch_id if batch_id is not None
                        else st["last_batch_id"]
                    ),
                }
            )
            return {"skipped": False,
                    "version": v if v is not None
                    else max(st["versions"], default=0)}

    def foreach_batch(self):
        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            self.fold_batch(batch_df, batch_id)

        return _sink

    # -- readers -----------------------------------------------------------
    def assignments(self) -> DataFrame | None:
        st = self._state()
        vs = st["versions"]
        if not vs:
            return None
        # each batch root is its own partitioned (by cluster) table, so
        # load per version and union — Spark refuses multiple partition
        # roots in one read (no shared basePath)
        paths = self._current_assign_paths(vs, st)
        parts = [self.spark.read.parquet(p) for p in paths]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def search(
        self, query_vec: list[float], topk: int = 10, nprobe: int = 2
    ) -> DataFrame:
        """ANN search: rank cells by centroid cosine on the driver
        (k floats — bounded), then ONE pruned scan of the nprobe
        probed cells with an exact-cosine rerank. Returns
        (id, cluster, sim) topk, total-ordered by (sim desc, id)."""
        import math

        q = [float(x) for x in query_vec]
        qn = math.sqrt(sum(x * x for x in q))

        def cos(c: list[float]) -> float:
            cn = math.sqrt(sum(x * x for x in c))
            return sum(a * b for a, b in zip(q, c)) / (qn * cn)

        ranked = sorted(
            enumerate(self._centroid_rows()), key=lambda t: (-cos(t[1]), t[0])
        )
        probe = [c for c, _ in ranked[:nprobe]]
        store = self.assignments()
        if store is None:
            raise ValueError("index is empty: ingest before searching")
        qcol = F.from_json(F.lit(json.dumps(q)), "array<double>")
        return (
            store.filter(F.col("cluster").isin(probe))  # partition-pruned
            .select(
                self.id_col,
                "cluster",
                _cos(F.col(self.vec_col), qcol).alias("sim"),
            )
            .orderBy(F.col("sim").desc(), F.col(self.id_col))
            .limit(topk)
        )

    def search_batch(
        self,
        queries: DataFrame,
        qid_col: str = "qid",
        qvec_col: str = "qvec",
        topk: int = 10,
        nprobe: int = 2,
    ) -> DataFrame:
        """Probe MANY query vectors at once (the serving path for a
        query stream's micro-batch): per query, rank cells against the
        constant-folded centroid matrix and keep the ``nprobe``
        nearest, prune the store scan to the UNION of probed cells
        (bounded by k — collected driver-side so it reaches the scan as
        a partition filter), then one broadcast join of the exploded
        (query, cell) pairs onto the pruned store with an exact-cosine
        rerank. Returns (qid, id, cluster, sim) top-k per query,
        total-ordered by (sim desc, id) — element-for-element equal to
        a :meth:`search` loop (pinned). Queries are the broadcast side
        always; the store is never shuffled."""
        from pyspark.sql import Window as W

        cand = self._cell_rank(self._centroid_rows(), "qvec")
        probed = queries.select(
            F.col(qid_col).alias("qid"),
            F.col(qvec_col).cast("array<double>").alias("qvec"),
        ).select(
            "qid",
            "qvec",
            F.explode(
                F.transform(
                    F.slice(F.array_sort(cand), 1, nprobe),
                    lambda s: s["c"],
                )
            ).alias("cluster"),
        )
        # union of probed cells: bounded by k rows — a driver-side
        # collect so the cell set reaches the scan as a partition
        # filter (isin), not a runtime join
        cells = [
            r["cluster"]
            for r in probed.select("cluster").distinct().collect()
        ]
        store = self.assignments()
        if store is None:
            raise ValueError("index is empty: ingest before searching")
        w = W.partitionBy("qid").orderBy(
            F.col("sim").desc(), F.col(self.id_col)
        )
        return (
            store.filter(F.col("cluster").isin(cells))  # partition-pruned
            .join(F.broadcast(probed), "cluster")
            .select(
                "qid",
                self.id_col,
                "cluster",
                _cos(F.col(self.vec_col), F.col("qvec")).alias("sim"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= topk)
            .drop("rn")
        )

    def search_batch_adc(
        self,
        queries: DataFrame,
        qid_col: str = "qid",
        qvec_col: str = "qvec",
        topk: int = 10,
        nprobe: int = 2,
        rerank: int = 0,
    ) -> DataFrame:
        """IVFADC serving over the STORED codes (Jegou et al.): per
        query, probe the ``nprobe`` nearest cells, rank every candidate
        by PQ asymmetric distance computed from the codes column alone,
        and (optionally) exact-rerank the per-query ADC shortlist of
        ``rerank`` rows down to ``topk`` by true cosine.

        Shape at 100 TB — the reason PQ lives in the store at all:

        * the ADC phase scans ONLY (id, cluster, codes) of the probed
          cell partitions — parquet column pruning never touches the
          D-dim vector column, so the candidate pass reads a few bytes
          per vector (the on-disk twin of FAISS's in-RAM compressed
          codes);
        * each query's M x K lookup table is a pure projection against
          the constant-folded codebooks, attached to candidates through
          the broadcast (qid, cluster, tbl) probe set — per candidate
          the distance is M array lookups + adds, no shuffle;
        * per-query shortlists come from a qid-partitioned rank window
          (WindowGroupLimit top-k heaps, never a global sort);
        * only the exact-rerank phase touches the vector column, and
          only for the probed-cell scan joined to the broadcast
          shortlist (Q * rerank rows).

        With ``rerank=0`` returns (qid, id, cluster, adc_dist) —
        integer-exact, the oracle-checked path. With ``rerank=r >=
        topk`` returns (qid, id, cluster, adc_dist, sim) re-ranked by
        exact cosine."""
        from pyspark.sql import Window as W

        st = self._state()
        if not st["pq_version"]:
            raise ValueError(
                "ADC search needs frozen PQ codebooks: call "
                "train_pq/set_pq_codebooks before ingesting"
            )
        store = self.assignments()
        if store is None:
            raise ValueError("index is empty: ingest before searching")
        if "codes" not in store.columns:
            raise ValueError(
                "store has no codes column (built before PQ froze): "
                "rebuild the store with PQ enabled"
            )
        books = self._pq_books()
        cand = self._cell_rank(self._centroid_rows(), "qvec")
        probed = queries.select(
            F.col(qid_col).alias("qid"),
            F.col(qvec_col).cast("array<double>").alias("qvec"),
        ).select(
            "qid",
            "qvec",
            self._adc_tbl(books, "qvec").alias("tbl"),
            F.explode(
                F.transform(
                    F.slice(F.array_sort(cand), 1, nprobe),
                    lambda s: s["c"],
                )
            ).alias("cluster"),
        )
        cells = [
            r["cluster"]
            for r in probed.select("cluster").distinct().collect()
        ]  # bounded by k — reaches the scan as a partition filter
        shortlist_n = max(topk, rerank)
        w_adc = W.partitionBy("qid").orderBy("adc_dist", F.col(self.id_col))
        shortlist = (
            store.select(self.id_col, "cluster", "codes")
            .filter(F.col("cluster").isin(cells))  # partition-pruned
            .join(F.broadcast(probed.select("qid", "cluster", "tbl")),
                  "cluster")
            .select(
                "qid",
                self.id_col,
                "cluster",
                F.expr(
                    "aggregate(transform(codes, (c, s) -> tbl[s][c]),"
                    " 0L, (acc, v) -> acc + v)"
                ).alias("adc_dist"),
            )
            .withColumn("rn", F.row_number().over(w_adc))
            .filter(F.col("rn") <= shortlist_n)
            .drop("rn")
        )
        if not rerank:
            return shortlist
        qside = queries.select(
            F.col(qid_col).alias("qid"),
            F.col(qvec_col).cast("array<double>").alias("qvec"),
        )
        w_sim = W.partitionBy("qid").orderBy(
            F.col("sim").desc(), F.col(self.id_col)
        )
        return (
            store.select(self.id_col, "cluster", self.vec_col)
            .filter(F.col("cluster").isin(cells))
            .join(F.broadcast(shortlist.drop("cluster")), self.id_col)
            .join(F.broadcast(qside), "qid")
            .select(
                "qid",
                self.id_col,
                "cluster",
                "adc_dist",
                _cos(F.col(self.vec_col), F.col("qvec")).alias("sim"),
            )
            .withColumn("rn", F.row_number().over(w_sim))
            .filter(F.col("rn") <= topk)
            .drop("rn")
        )

    def compact(self) -> dict:
        """Merge increment files into one version (small-file hygiene
        after many micro-batches); content unchanged, never recomputed.
        Superseded directories stay on disk so a reader lazily holding
        pre-compact paths keeps resolving — :meth:`vacuum` reclaims
        them once no pinned reader needs the old generation."""
        with self._writer():
            st = self._state()
            if len(st["versions"]) <= 1:
                return {"compacted": False, "versions": len(st["versions"])}
            v = max(st["versions"]) + 1
            self.assignments().coalesce(
                max(1, len(st["versions"]) // 8)
            ).write.mode("overwrite").partitionBy("cluster").parquet(
                self._current_assign_paths([v], st)[0]
            )
            self._flip({**st, "versions": [v]})
            return {"compacted": True, "versions": 1}

    # -- lifecycle: retrain, drift, vacuum ---------------------------------
    def retrain(self, vectors: list[list[float]]) -> dict:
        """Staged centroid retrain/migration: freeze a NEW coarse
        quantizer and re-materialize every committed increment under it
        while the old generation keeps serving, then flip.

        1. write ``centroids/v{cv+1}`` (unreferenced — readers still on
           cv);
        2. reassign each committed ``batch-v{N}`` into
           ``batch-v{N}@cv{cv+1}`` — same version numbers, new cells;
           increment identity (and therefore refresh()/fold_batch()
           replay marks) is preserved, only the partitioning moves;
        3. ONE atomic pointer flip of ``centroid_version`` retargets
           ``assignments()``/``search()`` to the new generation.

        A reader holding a pre-flip DataFrame keeps reading the old
        directories (left on disk until :meth:`vacuum`). A crash
        mid-retrain leaves unreferenced ``@cv{N}`` orphans that are
        never read and are reclaimed by vacuum. Reassignment is the
        same O(store) cost as a fresh-store rebuild — the point of the
        staged path is zero downtime and replay-mark continuity, not
        less compute. Reference analogue: the version header
        (tokio-fs/src/lib.rs:89-90) lets old-format chunks serve until
        each is rewritten."""
        with self._writer():
            st = self._state()
            if not st["centroid_version"]:
                raise ValueError(
                    "no centroids to retrain: call set_centroids/train"
                )
            cv2 = st["centroid_version"] + 1
            self._write_centroids(vectors, cv2)
            rows = [[float(x) for x in vec] for vec in vectors]
            nearest = self._nearest(rows)
            base = self._base_cv(st)

            def _migrate(v: int) -> None:
                old = self.spark.read.parquet(
                    self._current_assign_paths([v], st)[0]
                )
                carry = [F.col(self.id_col), F.col(self.vec_col)]
                if "codes" in old.columns:
                    # PQ codes depend only on the frozen codebooks, not
                    # the coarse quantizer: a centroid retrain moves
                    # each row's CELL and carries its codes unchanged
                    carry.append(F.col("codes"))
                old.select(
                    *carry, nearest.alias("cluster")
                ).write.mode("overwrite").partitionBy("cluster").parquet(
                    self._assign_paths([v], cv2, base)[0]
                )

            # per-version re-materializations are independent (each
            # reads batch-v{N}, writes batch-v{N}@cv{M}): overlap a few
            # so one version's write-commit tail backfills with the
            # next version's scan (guide §2.6) — nothing is published
            # until the single pointer flip below, so concurrency never
            # changes what readers can observe
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(3, max(1, len(st["versions"])))
            ) as pool:
                list(pool.map(_migrate, st["versions"]))
            # pin base_cv explicitly: after a retrain the CURRENT
            # generation is no longer the bare-layout one, so the
            # pre-round-12 fallback (base == current) would misread
            self._flip(
                {**st, "centroid_version": cv2, "base_cv": base}
            )
            return {
                "centroid_version": cv2,
                "migrated_versions": len(st["versions"]),
            }

    def drift_report(self) -> DataFrame:
        """Per-cell quantizer drift — decides WHEN to retrain: for each
        cell, the cosine between the frozen centroid and the current
        mean of the vectors assigned to it (1.0 = no drift), plus the
        cell's population. One scan of the store, k-row output."""
        from dmds_spark.operators.similarity import centroids as _means

        store = self.assignments()
        if store is None:
            raise ValueError("index is empty: ingest before drift_report")
        means = _means(store, "cluster", self.vec_col, self.dim).select(
            "cluster", F.col("centroid").alias("mean_vec")
        )
        counts = store.groupBy("cluster").agg(F.count("*").alias("n"))
        frozen = self.centroids()
        return (
            frozen.join(means, "cluster", "left")
            .join(counts, "cluster", "left")
            .select(
                "cluster",
                F.coalesce("n", F.lit(0)).alias("n"),
                F.when(
                    F.col("mean_vec").isNull(), F.lit(None)
                ).otherwise(
                    _cos(F.col("centroid"), F.col("mean_vec"))
                ).alias("centroid_cosine"),
            )
            .orderBy("cluster")
        )

    def pq_drift_report(self) -> DataFrame:
        """Per-(subspace, code) quantization-error census — decides
        WHEN to rebuild the PQ codebooks (the PQ half of the retrain
        policy, mirroring :meth:`drift_report` for the coarse cells):
        for each codeword, its assigned population and the EXACT i64
        sum of squared grid distances between the stored vectors'
        subvectors and the codeword. A code whose mean error grows (or
        whose population collapses) is a codebook that no longer fits
        the corpus; since PQ codebooks are frozen (FAISS contract),
        the remedy is a store rebuild — this report is the evidence.

        One scan of the store (vector + codes columns), a pure
        projection against the constant-folded codebooks, one
        bounded-key (M*K) hash aggregate."""
        st = self._state()
        if not st["pq_version"]:
            raise ValueError(
                "store has no PQ codebooks: call train_pq/set_pq_codebooks"
            )
        store = self.assignments()
        if store is None:
            raise ValueError("index is empty: ingest before pq_drift_report")
        if "codes" not in store.columns:
            raise ValueError(
                "store has no codes column (built before PQ froze)"
            )
        from dmds_spark.operators.pq import PQ_DIM, PQ_K, PQ_M, _sq_sql

        books = self._pq_books()
        sub = (self.dim if self.dim else PQ_DIM) // PQ_M
        gsql = self._grid_sql(self.vec_col)

        def _sub_struct_sql(s: int) -> str:
            # distance to the ASSIGNED codeword: look the codeword up
            # by the stored code through ONE from_json codeword matrix
            # + a constant cid->index array (0 = absent -> NULL, the
            # old chained-CASE default) — the `_hyperplane_matrix`
            # pattern as SQL TEXT; the chained CASE over K codeword
            # literals made plan construction itself cost seconds
            sv_sql = f"slice({gsql}, {s * sub + 1}, {sub})"
            items = sorted(books.get(s, {}).items())
            mat = json.dumps([cw for _c, cw in items])
            pos = {c: i + 1 for i, (c, _cw) in enumerate(items)}
            idx = json.dumps([pos.get(c, 0) for c in range(PQ_K)])
            ix = (
                f"element_at(from_json('{idx}', 'array<int>'), "
                f"codes[{s}] + 1)"
            )
            cw = f"element_at(from_json('{mat}', 'array<array<bigint>>'), {ix})"
            dist = (
                f"CASE WHEN {ix} > 0 THEN {_sq_sql(sv_sql, cw)} "
                f"ELSE CAST(NULL AS BIGINT) END"
            )
            return (
                f"struct({s} AS sub, codes[{s}] AS code, {dist} AS qerr)"
            )

        # long format via ONE explode — a union of M per-subspace
        # selects would re-scan the store M times (store-design rule)
        rows = store.select(
            F.expr(
                "explode(array("
                + ", ".join(_sub_struct_sql(s) for s in range(PQ_M))
                + "))"
            ).alias("x")
        ).select("x.sub", "x.code", "x.qerr")
        return (
            rows.groupBy("sub", "code")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
                F.sum("qerr").cast("bigint").alias("sum_sq_err"),
            )
            .orderBy("sub", "code")
        )
