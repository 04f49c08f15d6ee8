"""Persisted, incrementally-maintained inverted index (postings store).

``text_inverted_postings`` / ``text_bm25_topk`` build the index from
scratch every query; a 100 TB corpus maintains it instead: every
appended batch of documents pays exactly ONE tokenize scan, producing
its (term, doc_id, tf) posting rows and (doc_id, dl) length rows —
O(new), never a corpus re-scan. Because both grains are pure functions
of each document alone (no cross-document state), the union of
per-increment rows is EXACTLY the posting table a full single-batch
rebuild produces — the same increment-union == full-recompute claim
the IVF store makes for cell assignments, proven the same way
(``rollup_incremental_postings`` hash-checks the per-term directory
against the declarative full build; ``retrieval_bm25_incremental``
hash-checks ranked retrieval SERVED from the store against the
declarative BM25).

Layout and lifecycle mirror ``operators/incremental_ivf.py`` (the
commit protocol of ``core/commit.py``: pointer flip, cross-process
WriterLock and fencing token, vacuum; the same compact() hygiene;
reference analogue: the dirty-chunk incremental flush,
tokio-fs/src/lib.rs:207-235):

* ``postings/batch-v{N}`` — (term, doc_id, tf) partitioned by the
  term's hash bucket ``tb = pmod(xxhash64(term), 64)``: a query for k
  terms prunes to <= k of 64 directories per increment (the partition
  filter IS the index lookup);
* ``doclen/batch-v{N}`` — (doc_id, dl): the corpus statistics grain
  (N, total tokens, per-doc length) reads this doc-sized table, never
  the token-sized postings;
* ``_current.json`` — committed versions + replay marks, flipped
  atomically; a crashed increment leaves orphan dirs that are never
  read and vacuum() reclaims.

Analyzer migration (round 15, mirroring the IVF store's staged
quantizer retrain): the tokenizer is STORE state, frozen at first
ingest and recorded in the pointer. ``retokenize(analyzer)``
re-materializes every committed increment from its recorded source
files under ``batch-v{N}@av{A}`` directories — same version numbers
(replay marks preserved), new token stream — while the old analyzer
generation keeps serving, then retargets readers with ONE atomic
pointer flip. A crash mid-migration leaves unreferenced ``@av{A}``
orphans; vacuum() reclaims them and, post-flip, the superseded old
generation.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dmds_spark.core.commit import PointerStore

TERM_BUCKETS = 64

# Analyzers must be expressible in BOTH engines (the acceptance oracle
# states the retokenized end state declaratively in DuckDB):
#   ws    — whitespace split (== string_split, trailing empty included)
#   stem3 — whitespace split, each token truncated to its first 3
#           chars (== substr(term, 1, 3)): a crude stemmer that merges
#           vocabulary, the canonical "analyzer changed, the whole
#           index must re-materialize" scenario. Array length (and so
#           the positional grain's positions) is unchanged.
ANALYZERS = ("ws", "stem3")


class IncrementalPostingsIndex(PointerStore):
    """A maintained inverted index over an append-only document corpus.

    ``refresh()`` ingests unseen source files, ``fold_batch()`` a
    DataFrame micro-batch (replay-safe by batch id); ``postings()`` /
    ``doclens()`` return the accumulated grains; ``term_directory()``
    the per-term (df, cf, postings checksum) rows;
    ``search_bm25()`` ranked retrieval served from the store.
    ``id_col`` values must be UNIQUE across all ingested batches
    (append-only corpus), same contract as IncrementalIVFIndex."""

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str | None,
        store_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        positions: bool = False,
        analyzer: str = "ws",
    ):
        self.spark = spark
        self.source_dir = source_dir
        self.id_col = id_col
        self.text_col = text_col
        # positions=True additionally maintains the POSITIONAL grain
        # (term, doc_id, pos) — token-sized, the price of phrase and
        # proximity queries; leave off for df/tf-only workloads. Like
        # the PQ codebooks, the choice freezes at the first ingest
        # (grains must cover the same increments).
        self.positions = positions
        # the analyzer is store state too — but unlike the grain
        # choice it CAN change post-ingest, through the staged
        # retokenize() migration (never by re-opening with a different
        # flag, which is refused the same way)
        if analyzer not in ANALYZERS:
            raise ValueError(f"unknown analyzer {analyzer!r}: {ANALYZERS}")
        self.analyzer = analyzer
        super().__init__(store_dir)

    # -- pointer -----------------------------------------------------------
    def _empty_state(self) -> dict:
        return {"versions": [], "seen_files": [], "last_batch_id": -1,
                "positions": self.positions,
                "analyzer": self.analyzer, "analyzer_version": 1,
                "files_by_version": {}}

    def _referenced(self, st: dict) -> dict[str, set[str]]:
        return {
            grain: {os.path.basename(p)
                    for p in self._grain_paths(grain, st["versions"], st)}
            for grain in ("postings", "doclen", "positional")
        }

    def _state(self) -> dict:
        st = super()._state()
        st.setdefault("analyzer", "ws")        # legacy pointers: ws
        st.setdefault("analyzer_version", 1)
        st.setdefault("files_by_version", {})
        if st["analyzer"] != self.analyzer:
            raise ValueError(
                f"store at {self.store_dir} is tokenized with analyzer="
                f"{st['analyzer']!r}; opened with {self.analyzer!r} — "
                "changing the analyzer is a staged migration: open with "
                "the store's analyzer and call retokenize()"
            )
        # the grain choice is STORE state, not instance state: every
        # committed pointer records it, and an instance opened with the
        # other flag is refused BEFORE it can write an increment that
        # lacks the grain or vacuum a grain it does not know about
        # (the latter would silently delete all positional data).
        stored = st.get("positions")
        if stored is None and st.get("versions"):
            # legacy pointer (pre-flag): infer from the disk layout
            stored = os.path.isdir(os.path.join(self.store_dir,
                                                "positional"))
            st["positions"] = stored
        if stored is not None and stored != self.positions:
            raise ValueError(
                f"store at {self.store_dir} was built with positions="
                f"{stored}; opened with positions={self.positions} — "
                "the grain choice freezes at the first ingest (rebuild "
                "to change it)"
            )
        return st

    def _gen_paths(
        self, grain: str, versions: list[int], av: int
    ) -> list[str]:
        """Directory per (version, analyzer generation): the first
        generation keeps the bare ``batch-v{N}`` layout (pre-migration
        stores stay readable); retokenized generations live in
        ``batch-v{N}@av{A}`` — same version identity, new token
        stream (the IVF store's ``@cv{N}`` convention)."""
        suffix = "" if av <= 1 else f"@av{av}"
        return [
            os.path.join(self.store_dir, grain, f"batch-v{v}{suffix}")
            for v in versions
        ]

    def _grain_paths(self, grain: str, versions: list[int],
                     st: dict | None = None) -> list[str]:
        av = (st or {}).get("analyzer_version", 1)
        return self._gen_paths(grain, versions, av)

    # -- ingest ------------------------------------------------------------
    def _tokens(self, analyzer: str):
        """Token-array expression for ``analyzer`` — every analyzer is
        restatable in DuckDB (the acceptance oracles depend on it).
        ws: split(text, ' ') == string_split (trailing empty token
        included). stem3: each token truncated to substr(1, 3)."""
        toks = F.split(F.col(self.text_col), " ")
        if analyzer == "ws":
            return toks
        if analyzer == "stem3":
            return F.transform(toks, lambda t: F.substring(t, 1, 3))
        raise ValueError(f"unknown analyzer {analyzer!r}: {ANALYZERS}")

    def _derive(
        self, docs: DataFrame, analyzer: str
    ) -> tuple[DataFrame, DataFrame]:
        """One tokenize scan -> (postings, doclens) for a batch."""
        tok = docs.select(
            F.col(self.id_col).alias("doc_id"),
            F.explode(self._tokens(analyzer)).alias("term"),
        )
        postings = (
            tok.groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn(
                "tb",
                F.pmod(F.xxhash64("term"), F.lit(TERM_BUCKETS)).cast("int"),
            )
        )
        doclens = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
        return postings, doclens

    def _positional_rows(self, docs: DataFrame, analyzer: str) -> DataFrame:
        """(term, doc_id, pos, tb): 1-based positions (the DuckDB
        generate_subscripts convention, queries/round12c.py). Every
        analyzer preserves array length, so positions stay aligned
        across a retokenize."""
        return docs.select(
            F.col(self.id_col).alias("doc_id"),
            F.posexplode(self._tokens(analyzer)).alias("pos0", "term"),
        ).select(
            "term",
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.pmod(F.xxhash64("term"), F.lit(TERM_BUCKETS)).cast("int")
            .alias("tb"),
        )

    def _ingest(self, docs: DataFrame, st: dict) -> int | None:
        """Write one increment of each maintained grain; None for an
        empty batch (rolled back, never committed — the IVF
        empty-batch rule)."""
        postings, doclens = self._derive(docs, st["analyzer"])
        v = (max(st["versions"]) + 1) if st["versions"] else 1
        ppath = self._grain_paths("postings", [v], st)[0]
        dpath = self._grain_paths("doclen", [v], st)[0]
        # the per-grain increment writes are INDEPENDENT jobs over the
        # same doc batch (different directories; nothing published
        # until the pointer flip, and the emptiness check below runs
        # after all of them) — overlap on the driver pool so the
        # grain jobs back-fill each other's commit tails (guide §2.6)
        from dmds_spark.operators.parallel import overlap_jobs

        jobs = [
            lambda: postings.write.mode("overwrite")
            .partitionBy("tb").parquet(ppath),
            lambda: doclens.write.mode("overwrite").parquet(dpath),
        ]
        if self.positions:
            jobs.append(
                lambda: self._positional_rows(docs, st["analyzer"])
                .write.mode("overwrite").partitionBy("tb")
                .parquet(self._grain_paths("positional", [v], st)[0])
            )
        overlap_jobs(*jobs)
        # emptiness is checked on the PARTITIONED grain: an empty
        # partitioned write leaves no parquet files (the IVF rule),
        # whereas an empty unpartitioned write still emits a 0-row
        # part file — and any non-empty doc batch has >= 1 posting
        wrote = any(
            f.endswith(".parquet")
            for _r, _d, fs in os.walk(ppath)
            for f in fs
        )
        if not wrote:
            shutil.rmtree(ppath, ignore_errors=True)
            shutil.rmtree(dpath, ignore_errors=True)
            if self.positions:
                shutil.rmtree(self._grain_paths("positional", [v], st)[0],
                              ignore_errors=True)
            return None
        return v

    def refresh(self) -> dict:
        """Ingest unseen files from ``source_dir`` — O(new). Raises
        SourceMutatedError on in-place rewrites."""
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
            new_files = _split_new_and_check(current, seen,
                                             "postings store")
            if not new_files:
                return {"new_files": 0,
                        "version": max(st["versions"], default=0)}
            v = self._ingest(self.spark.read.parquet(*new_files), st)
            self._flip(
                {
                    **st,
                    "versions": st["versions"]
                    + ([v] if v is not None else []),
                    "seen_files": {
                        **{f: current.get(f, sz) for f, sz in seen.items()},
                        **{f: current[f] for f in new_files},
                    },
                    "size_src": "fs",
                    # per-increment provenance: which source files fed
                    # version v — what retokenize() re-reads to
                    # re-materialize the increment under a new analyzer
                    "files_by_version": {
                        **st["files_by_version"],
                        **({str(v): sorted(new_files)}
                           if v is not None else {}),
                    },
                }
            )
            return {"new_files": len(new_files),
                    "version": v if v is not None
                    else max(st["versions"], default=0)}

    def fold_batch(self, docs: DataFrame, batch_id: int | None = None) -> dict:
        """Micro-batch maintenance, replay-safe by batch-id high-water
        mark (at-least-once foreachBatch delivery folds exactly once)."""
        with self._writer():
            st = self._state()
            if batch_id is not None and batch_id <= st["last_batch_id"]:
                return {"skipped": True,
                        "version": max(st["versions"], default=0)}
            v = self._ingest(docs, st)
            self._flip(
                {
                    **st,
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
    def _union(self, grain: str) -> DataFrame | None:
        st = self._state()
        if not st["versions"]:
            return None
        parts = [
            self.spark.read.parquet(p)
            for p in self._grain_paths(grain, st["versions"], st)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def postings(self) -> DataFrame | None:
        return self._union("postings")

    def doclens(self) -> DataFrame | None:
        return self._union("doclen")

    def positional(self) -> DataFrame | None:
        if not self.positions:
            raise ValueError(
                "store was built without the positional grain "
                "(positions=True at construction + rebuild)"
            )
        return self._union("positional")

    def search_phrase(self, phrase: tuple[str, ...]) -> DataFrame:
        """Exact phrase retrieval from the stored POSITIONAL grain:
        the phrase terms' posting lists (term-bucket partition filter
        + term pushdown per increment) chain-join on (doc, adjacent
        position) — cost is O(matched posting lists), never the
        corpus. Returns per-doc (doc_id, n_hits, first_pos, last_pos),
        the text_phrase_retrieval report served from the store."""
        if len(phrase) < 2:
            raise ValueError("phrase needs >= 2 terms")
        pos = self.positional()
        if pos is None:
            raise ValueError("index is empty: ingest before searching")
        buckets = self._term_buckets(phrase)
        tok = pos.filter(
            F.col("tb").isin(buckets) & F.col("term").isin(*phrase)
        )
        out = tok.filter(F.col("term") == phrase[0]).select("doc_id", "pos")
        for i, t in enumerate(phrase[1:], start=1):
            nxt = tok.filter(F.col("term") == t).select(
                "doc_id", (F.col("pos") - i).alias("pos")
            )
            out = out.join(nxt, ["doc_id", "pos"])
        return out.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.min("pos").cast("long").alias("first_pos"),
            F.max("pos").cast("long").alias("last_pos"),
        )

    def term_directory(self) -> DataFrame:
        """Per-term directory: df, cf, md5 of the doc-ordered posting
        list — the text_inverted_postings report read from the store."""
        p = self.postings()
        if p is None:
            raise ValueError("index is empty: ingest before reading")
        return p.groupBy("term").agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").cast("long").alias("cf"),
            F.md5(
                F.concat_ws(
                    ",", F.sort_array(F.collect_list("doc_id"))
                ).cast("binary")
            ).alias("postings_md5"),
        )

    def search_bm25(self, terms: tuple[str, ...], topk: int = 20) -> DataFrame:
        """Rational BM25 top-k SERVED from the maintained store — the
        SAME scoring pipeline as queries/round9b.py text_bm25_topk
        (both call operators/bm25.py rational_bm25_topk, so the
        store-served twin cannot silently diverge), with the index
        doing its job: the posting scan carries BOTH the term-bucket
        partition filter (<= |terms| of 64 directories per increment)
        and the term pushdown, so retrieval reads O(matched posting
        lists) — never the corpus. Corpus statistics (N, total tokens)
        aggregate the doc-grain doclen store. Returns
        (doc_id, score_str, rnk)."""
        from dmds_spark.operators.bm25 import rational_bm25_topk

        p, dl = self.postings(), self.doclens()
        if p is None or dl is None:
            raise ValueError("index is empty: ingest before searching")
        buckets = self._term_buckets(terms)
        tf = p.filter(
            F.col("tb").isin(buckets) & F.col("term").isin(*terms)
        ).select("term", "doc_id", "tf")
        return rational_bm25_topk(tf, dl, topk)

    _bucket_cache: dict[str, int] = {}  # term -> tb, shared process-wide

    def _term_buckets(self, terms: tuple[str, ...]) -> list[int]:
        """Driver-side twin of the stored ``tb`` column: ONE Spark job
        evaluates every uncached term (a single-row projection with one
        column per term — exact by construction, no reimplemented
        xxhash), memoized process-wide (the hash is a pure function of
        the term, independent of any store)."""
        missing = [t for t in dict.fromkeys(terms)
                   if t not in self._bucket_cache]
        if missing:
            row = self.spark.range(1).select(*[
                F.pmod(F.xxhash64(F.lit(t)), F.lit(TERM_BUCKETS))
                .cast("int").alias(f"b{i}")
                for i, t in enumerate(missing)
            ]).collect()[0]
            for i, t in enumerate(missing):
                self._bucket_cache[t] = int(row[f"b{i}"])
        return sorted({self._bucket_cache[t] for t in terms})

    # -- lifecycle ---------------------------------------------------------
    def compact(self) -> dict:
        """Merge increment files into one version per grain; content
        unchanged, never recomputed. Superseded dirs stay on disk for
        lazy readers until vacuum()."""
        with self._writer():
            st = self._state()
            if len(st["versions"]) <= 1:
                return {"compacted": False, "versions": len(st["versions"])}
            v = max(st["versions"]) + 1
            self.postings().coalesce(
                max(1, len(st["versions"]) // 8)
            ).write.mode("overwrite").partitionBy("tb").parquet(
                self._grain_paths("postings", [v], st)[0]
            )
            self.doclens().coalesce(1).write.mode("overwrite").parquet(
                self._grain_paths("doclen", [v], st)[0]
            )
            if self.positions:
                self.positional().coalesce(
                    max(1, len(st["versions"]) // 8)
                ).write.mode("overwrite").partitionBy("tb").parquet(
                    self._grain_paths("positional", [v], st)[0]
                )
            # the compacted version's provenance is the union of the
            # consumed versions' source files — kept only when ALL of
            # them had provenance (else the store is stream-fed and
            # retokenize() will refuse, as documented there)
            fbv = {}
            if all(str(vv) in st["files_by_version"]
                   for vv in st["versions"]):
                fbv = {str(v): sorted({
                    f for vv in st["versions"]
                    for f in st["files_by_version"][str(vv)]
                })}
            self._flip({**st, "versions": [v], "files_by_version": fbv})
            return {"compacted": True, "versions": 1}

    def retokenize(self, analyzer: str) -> dict:
        """Staged analyzer migration — the text-side twin of the IVF
        store's ``retrain()``: freeze a NEW tokenizer and
        re-materialize every committed increment under it from its
        recorded source files while the old generation keeps serving,
        then flip.

        1. re-derive each committed ``batch-v{N}`` from the source
           files ``refresh()`` recorded for it, writing every grain to
           ``batch-v{N}@av{A+1}`` — same version numbers, so replay
           marks and increment identity are preserved; only the token
           stream changes;
        2. ONE atomic pointer flip of ``analyzer``/``analyzer_version``
           retargets ``postings()``/``search_*()`` to the new
           generation.

        A reader holding a pre-flip DataFrame keeps reading the old
        directories (left on disk until :meth:`vacuum`). A crash
        mid-migration leaves unreferenced ``@av{A}`` orphans that are
        never read and vacuum() reclaims. Re-tokenization is the same
        O(store) cost as a fresh-store rebuild — the point is zero
        downtime and replay-mark continuity, not less compute.

        Requires per-increment source provenance (``refresh()``-fed
        stores record it; ``fold_batch()`` micro-batches have no
        re-readable source, so stream-fed stores rebuild instead —
        stated loudly here rather than silently re-tokenizing only
        part of the corpus)."""
        if analyzer not in ANALYZERS:
            raise ValueError(f"unknown analyzer {analyzer!r}: {ANALYZERS}")
        with self._writer():
            st = self._state()
            if analyzer == st["analyzer"]:
                raise ValueError(
                    f"store already tokenized with {analyzer!r}"
                )
            missing = [v for v in st["versions"]
                       if str(v) not in st["files_by_version"]]
            if missing:
                raise ValueError(
                    f"versions {missing} have no source provenance "
                    "(stream-fed fold_batch increments): retokenize "
                    "needs refresh()-recorded source files — rebuild "
                    "the store for stream-fed corpora"
                )
            av2 = st["analyzer_version"] + 1
            # per-(version, grain) re-materializations are independent
            # writes to distinct unreferenced @av{N} dirs — overlap a
            # few so one write's commit tail backfills with the next
            # one's tokenize scan (guide §2.6); nothing is readable
            # until the single pointer flip below
            writes = []
            for v in st["versions"]:
                docs = self.spark.read.parquet(
                    *st["files_by_version"][str(v)]
                )
                postings, doclens = self._derive(docs, analyzer)
                writes.append(
                    lambda p=postings, v=v: p.write.mode("overwrite")
                    .partitionBy("tb")
                    .parquet(self._gen_paths("postings", [v], av2)[0])
                )
                writes.append(
                    lambda d=doclens, v=v: d.write.mode("overwrite")
                    .parquet(self._gen_paths("doclen", [v], av2)[0])
                )
                if self.positions:
                    pos = self._positional_rows(docs, analyzer)
                    writes.append(
                        lambda p=pos, v=v: p.write.mode("overwrite")
                        .partitionBy("tb")
                        .parquet(self._gen_paths("positional", [v], av2)[0])
                    )
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=3) as pool:
                list(pool.map(lambda w: w(), writes))
            self._flip(
                {**st, "analyzer": analyzer, "analyzer_version": av2}
            )
            self.analyzer = analyzer  # this instance follows the flip
            return {
                "analyzer": analyzer,
                "analyzer_version": av2,
                "migrated_versions": len(st["versions"]),
            }
