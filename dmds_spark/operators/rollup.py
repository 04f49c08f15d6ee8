"""Incremental rollup maintenance (continuous aggregates): keep a
grouped aggregate table in sync with an append-only parquet source by
scanning ONLY files the rollup has not seen yet.

The hypertable-rollup idea: sum/count/min/max are decomposable, so the
stored rollup is a table of partials — (group cols, cnt, per-column
sum/min/max) — and an increment is (a) partial-aggregate the NEW files,
(b) union with the stored partials, (c) re-aggregate, (d) swap. Seen
files are recorded in a manifest next to the rollup, so maintenance
cost is O(new data + |rollup|), never O(source) — the difference
between re-scanning 100 TB nightly and scanning the day's append.

Consistency: the swap writes the next rollup VERSION to a fresh
subdirectory and flips a pointer file last (readers resolve the
pointer, so a crashed maintenance run leaves the previous version
intact — same flush-versioning discipline as the World codec,
reference src/world.rs:33-47's version header).

Derived values (avg = sum/cnt) are computed by readers from the
partials; the rollup never stores non-decomposable results. For
count-distinct-grade questions pass ``distinct_cols``: the rollup then
stores a DataSketches HLL sketch per group (binary partial,
``hll_sketch_agg``) and merges increments with ``hll_union_agg`` — the
canonical mergeable-sketch answer, ~1.6% standard error at the default
lgConfigK. Exact distincts are not incrementally maintainable without
the full key set; the sketch is the scale answer (estimates via
``read_estimates()``).
"""

from __future__ import annotations

import json
import os
import re
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _norm_path(p: str) -> str:
    """Scheme-normalized local path: ``file:///x``, ``file:/x`` and
    ``/x`` all compare equal (Hadoop FileStatus prints ``file:/x``
    while ``input_file_name()`` printed ``file:///x`` — manifests from
    either era must keep matching). Non-``file`` schemes are left
    untouched: their authority part is significant."""
    return re.sub(r"^file:/+", "/", p)


def _atomic_flip(pointer: str, state: dict) -> None:
    """Crash-safe pointer write: serialize to a temp file in the same
    directory, fsync, then ``os.replace`` onto the pointer. A crash or
    ENOSPC mid-write leaves either the old pointer or the new one,
    never a torn/empty file that would make every committed version
    unreachable (the in-place truncate+write it replaces had exactly
    that failure mode)."""
    tmp = f"{pointer}.tmp.{os.getpid()}.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(state, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, pointer)


@contextmanager
def store_writer(store_dir: str):
    """Single-writer fence for a pointer-flipped store directory — the
    same cross-process ``WriterLock`` that fences ``World``. Every
    read-state → write-increment → flip sequence of the incremental
    stores (MinHash dedup, IVF) runs inside this: without it two
    concurrent writers both read the pointer, mint the same next
    version number, and overwrite each other's increment. Readers are
    never blocked (they resolve the committed pointer)."""
    from dmds_spark.world import WriterLock

    lk = WriterLock.for_dir(store_dir)
    lk.acquire()
    try:
        with lk.mutex:
            yield
    finally:
        lk.release()


def _list_source_files(spark: SparkSession, source_dir: str) -> dict[str, int]:
    """{normalized path: byte size} for every data file under
    ``source_dir``, from a FILESYSTEM listing (Hadoop
    ``FileSystem.listFiles``), not from scan-split metadata: a
    multi-split file whose tail split carries only the parquet footer
    yields no rows, so max(block_start+length) over row-bearing splits
    understates the length — and varies with Spark's dynamic
    maxSplitBytes as the directory grows, so an UNCHANGED large file
    could report different sizes across refreshes and raise a spurious
    SourceMutatedError. FileStatus.getLen is the stable truth, and the
    listing is pure namenode/driver metadata (no data scan). Hidden
    and metadata files (``_SUCCESS``, ``.crc``, ``_metadata``) are
    excluded, matching Spark's own InMemoryFileIndex filter — and the
    filter applies to EVERY path segment below ``source_dir``, not just
    the leaf: ``listFiles(recursive=True)`` descends into in-flight
    commit dirs (``_temporary/``, ``.spark-staging-*/``) whose part
    files have clean leaf names, and folding those would double-count
    rows (or read incomplete parquet) when a refresh races an append."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(source_dir)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    root = fs.makeQualified(jpath).toUri().getPath().rstrip("/")
    out: dict[str, int] = {}
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        status = it.next()
        p = status.getPath()
        upath = p.toUri().getPath()
        if upath.startswith(root + "/"):
            segments = upath[len(root) + 1:].split("/")
        else:  # foreign qualification (not expected): leaf-only check
            segments = [p.getName()]
        if any(s.startswith(("_", ".")) for s in segments):
            continue
        out[_norm_path(p.toString())] = int(status.getLen())
    return out


class SourceMutatedError(RuntimeError):
    """A source file the incremental state already folded was
    REWRITTEN in place (same path, different size). Incremental
    maintenance is append-only: a mutated history cannot be patched
    from partials — rebuild into a fresh state dir (or restore the
    original file). Raised eagerly instead of silently serving a
    rollup that no longer matches its source. (Files that VANISH are
    fine: retention deletes old files whose contribution legitimately
    stays folded.)"""

    def __init__(self, kind: str, mutated: list[str]):
        self.mutated = mutated
        super().__init__(
            f"{kind}: {len(mutated)} already-folded source file(s) were "
            f"rewritten in place (first: {mutated[0]}). Incremental "
            "state cannot be patched for in-place rewrites — rebuild "
            "from scratch in a fresh directory, or restore the file."
        )


def _split_new_and_check(
    current: dict[str, int], seen: dict[str, int | None], kind: str
) -> list[str]:
    """New (unseen) files from ``current``, raising SourceMutatedError
    if any already-seen file changed size. ``seen`` sizes may be None
    (legacy manifests recorded paths only — those skip the check and
    pick up sizes on the next pointer flip)."""
    mutated = sorted(
        f
        for f, sz in current.items()
        if f in seen and seen[f] is not None and seen[f] != sz
    )
    if mutated:
        raise SourceMutatedError(kind, mutated)
    return sorted(f for f in current if f not in seen)


def _seen_as_dict(seen_files, size_src=None) -> dict[str, int | None]:
    """Manifest compatibility: round-5 manifests stored a sorted list
    of paths; round-6 stored {path: size} with sizes derived from scan
    splits (unstable for multi-split files — see _list_source_files);
    round-7+ store {path: size} with filesystem sizes and mark the
    state ``size_src: "fs"``. Only fs-sourced sizes are trusted for
    the mutation check; anything older degrades to None (path-only,
    sizes backfill from the FS on the next pointer flip)."""
    if isinstance(seen_files, dict):
        if size_src == "fs":
            return {_norm_path(f): sz for f, sz in seen_files.items()}
        return {_norm_path(f): None for f in seen_files}
    return {_norm_path(f): None for f in seen_files}


def _partial_agg(
    df: DataFrame,
    group_cols: list[str],
    value_cols: list[str],
    distinct_cols: list[str] | None = None,
) -> DataFrame:
    aggs = [F.count(F.lit(1)).cast("long").alias("cnt")]
    for c in value_cols:
        aggs += [
            F.sum(c).alias(f"sum_{c}"),
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
        ]
    for c in distinct_cols or []:
        # binary DataSketches HLL partial: mergeable across increments
        aggs.append(F.hll_sketch_agg(c).alias(f"hll_{c}"))
    return df.groupBy(*group_cols).agg(*aggs)


def _merge_partials(
    parts: DataFrame,
    group_cols: list[str],
    value_cols: list[str],
    distinct_cols: list[str] | None = None,
) -> DataFrame:
    aggs = [F.sum("cnt").cast("long").alias("cnt")]
    for c in value_cols:
        aggs += [
            F.sum(f"sum_{c}").alias(f"sum_{c}"),
            F.min(f"min_{c}").alias(f"min_{c}"),
            F.max(f"max_{c}").alias(f"max_{c}"),
        ]
    for c in distinct_cols or []:
        aggs.append(F.hll_union_agg(f"hll_{c}").alias(f"hll_{c}"))
    return parts.groupBy(*group_cols).agg(*aggs)


class RollupSchemaError(ValueError):
    """Stored rollup partials do not match the configured columns —
    e.g. ``distinct_cols`` was enabled after versions were written
    without the ``hll_<col>`` partials, or a group/value column was
    renamed. Raised eagerly with the exact column diff instead of
    letting ``unionByName`` fail mid-merge with an opaque
    missing-column error."""


class IncrementalRollup:
    """A maintained rollup of ``source_dir`` grouped by ``group_cols``
    with decomposable partials over ``value_cols``.

    ``refresh()`` scans only unseen files and returns how many it
    processed; ``read()`` returns the current rollup DataFrame."""

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        rollup_dir: str,
        group_cols: list[str],
        value_cols: list[str],
        distinct_cols: list[str] | None = None,
        transform=None,
    ):
        """``transform`` (optional ``DataFrame -> DataFrame``) maps the
        raw new rows into the grain the rollup aggregates — e.g.
        exploding documents into word n-grams, or casting money to
        cents. It runs on NEW data only (refresh scans only unseen
        files; fold_batch sees one micro-batch), so any row-local
        derivation keeps the O(new) maintenance cost; it must be
        row-local/deterministic (no cross-batch aggregation — that is
        what the partials are for)."""
        self.spark = spark
        self.source_dir = source_dir
        self.rollup_dir = rollup_dir
        self.group_cols = list(group_cols)
        self.value_cols = list(value_cols)
        self.distinct_cols = list(distinct_cols or [])
        self.transform = transform
        os.makedirs(rollup_dir, exist_ok=True)

    # -- manifest / version pointer ------------------------------------
    @property
    def _pointer(self) -> str:
        return os.path.join(self.rollup_dir, "_current.json")

    def _state(self) -> dict:
        if not os.path.exists(self._pointer):
            return {"version": 0, "seen_files": []}
        with open(self._pointer) as fh:
            return json.load(fh)

    def _version_path(self, version: int) -> str:
        return os.path.join(self.rollup_dir, f"v{version}")

    def _expected_columns(self) -> list[str]:
        cols = list(self.group_cols) + ["cnt"]
        for c in self.value_cols:
            cols += [f"sum_{c}", f"min_{c}", f"max_{c}"]
        cols += [f"hll_{c}" for c in self.distinct_cols]
        return cols

    def _validate_stored(self, cur: DataFrame) -> None:
        expected = self._expected_columns()
        stored = list(cur.columns)
        missing = [c for c in expected if c not in stored]
        extra = [c for c in stored if c not in expected]
        if missing or extra:
            raise RollupSchemaError(
                f"stored rollup at {self.rollup_dir} does not match the "
                f"configured columns (missing={missing}, extra={extra}). "
                "Likely cause: group/value/distinct_cols changed after "
                "versions were written (enabling distinct_cols adds "
                "hll_<col> partials that old versions lack). Partials "
                "cannot be back-filled from the rollup alone — rebuild "
                "into a fresh rollup_dir with the new config, or restore "
                "the original column config."
            )

    # -- public API -----------------------------------------------------
    def read(self, validate: bool = True) -> DataFrame | None:
        st = self._state()
        if st["version"] == 0:
            return None
        cur = self.spark.read.parquet(self._version_path(st["version"]))
        if validate:
            self._validate_stored(cur)
        return cur

    def read_estimates(self) -> DataFrame | None:
        """The rollup with each HLL partial replaced by its distinct
        estimate (``nd_<col>``) — what dashboards read; the binary
        partials stay in the stored table so future merges lose
        nothing."""
        cur = self.read()
        if cur is None:
            return None
        out = cur
        for c in self.distinct_cols:
            out = out.withColumn(
                f"nd_{c}", F.hll_sketch_estimate(f"hll_{c}")
            ).drop(f"hll_{c}")
        return out

    def refresh(self) -> dict:
        """Fold unseen source files into the rollup; returns
        {"new_files": n, "version": v}. Raises SourceMutatedError if
        an already-folded file was rewritten in place (partials cannot
        be patched for history rewrites)."""
        with store_writer(self.rollup_dir):
            st = self._state()
            seen = _seen_as_dict(st["seen_files"], st.get("size_src"))
            current = _list_source_files(self.spark, self.source_dir)
            new_files = _split_new_and_check(current, seen, "rollup")
            if not new_files:
                return {"new_files": 0, "version": st["version"]}
            new_df = self.spark.read.parquet(*new_files)
            if self.transform is not None:
                new_df = self.transform(new_df)
            fresh = _partial_agg(
                new_df,
                self.group_cols,
                self.value_cols,
                self.distinct_cols,
            )
            cur = self.read()
            merged = (
                _merge_partials(
                    cur.unionByName(fresh),
                    self.group_cols,
                    self.value_cols,
                    self.distinct_cols,
                )
                if cur is not None
                else fresh
            )
            next_version = st["version"] + 1
            merged.write.mode("overwrite").parquet(
                self._version_path(next_version)
            )
            # flip the pointer LAST: readers never see a half-written version
            self._flip(
                {
                    "version": next_version,
                    # {path: size} — FS sizes let the next refresh detect
                    # in-place rewrites; legacy/split-derived sizes
                    # backfill from the listing here
                    "seen_files": {
                        **{f: current.get(f, sz) for f, sz in seen.items()},
                        **{f: current[f] for f in new_files},
                    },
                    "size_src": "fs",
                    "last_batch_id": st.get("last_batch_id", -1),
                }
            )
            return {"new_files": len(new_files), "version": next_version}

    def _flip(self, state: dict) -> None:
        from dmds_spark.world import WriterLock

        # fencing token at the commit point (refresh and fold_batch run
        # inside store_writer): a writer whose lock was broken or
        # reclaimed while it wrote the version aborts before publishing
        WriterLock.for_dir(self.rollup_dir).verify_token()
        _atomic_flip(self._pointer, state)

    def fold_batch(self, df: DataFrame, batch_id: int | None = None) -> dict:
        """Fold a DataFrame of new rows directly into the rollup — the
        streaming maintenance path (use via ``foreach_batch()``).
        Idempotent under micro-batch REPLAY when ``batch_id`` is
        given: foreachBatch delivers at-least-once, so a batch id at
        or below the recorded high-water mark is skipped instead of
        double-counted (the pointer flip commits data + batch id
        atomically-enough: a crash between write and flip replays into
        a fresh version directory, never into served data)."""
        with store_writer(self.rollup_dir):
            st = self._state()
            last = st.get("last_batch_id", -1)
            if batch_id is not None and batch_id <= last:
                return {"skipped": True, "version": st["version"]}
            if self.transform is not None:
                df = self.transform(df)
            fresh = _partial_agg(
                df, self.group_cols, self.value_cols, self.distinct_cols
            )
            cur = self.read()
            merged = (
                _merge_partials(
                    cur.unionByName(fresh),
                    self.group_cols,
                    self.value_cols,
                    self.distinct_cols,
                )
                if cur is not None
                else fresh
            )
            next_version = st["version"] + 1
            merged.write.mode("overwrite").parquet(
                self._version_path(next_version)
            )
            self._flip(
                {
                    "version": next_version,
                    "seen_files": st["seen_files"],
                    # carry the size provenance: fold_batch never re-lists
                    "size_src": st.get("size_src"),
                    "last_batch_id": (
                        batch_id if batch_id is not None else last
                    ),
                }
            )
            return {"skipped": False, "version": next_version}

    def foreach_batch(self):
        """Sink function for ``writeStream.foreachBatch``: keeps this
        rollup continuously maintained by the stream, one version per
        micro-batch, replay-safe by batch id."""

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            self.fold_batch(batch_df, batch_id)

        return _sink
