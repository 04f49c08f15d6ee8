"""``World`` — the engine's counterpart of the reference's
``World<T, DIMS, Io>`` (reference: src/world.rs:251-267), re-expressed
as a chunk-partitioned Parquet table plus a pending-writes buffer.

Mapping (SURVEY.md §1.5):

- the chunk grid (reference: src/range.rs, src/world.rs:198-250) becomes
  Hive-style partition columns ``c0=…/c1=…`` computed as
  ``floor((dim_i - start_i) / spacing_i)``, so Catalyst partition pruning
  plays the role of the reference's Shape-driven chunk enumeration;
- the in-memory dirty buffer pool (``chunks_buf``, src/world.rs:254) is
  a driver-tracked op log of upsert/delete batches, merged into every
  read (the reference's iterator likewise merges buffered chunks with
  on-disk chunks, src/world/iter.rs:726-750). A small log of local
  batches collapses on the driver, as the reference's pool does in
  process; any other log collapses in one Spark window;
- ``insert``/``try_insert``/``remove`` (src/world.rs:553-584,77-87) are
  batch operations keyed on dim 0;
- relocation (``Lazy::close``, src/world/iter.rs:193-211) is automatic:
  partition columns are recomputed from the new dim values at flush;
- flush (``Chunk::write_buf`` + ``FsHandle::write_chunk``,
  src/world.rs:96-122, tokio-fs/src/lib.rs:85-107) rewrites exactly
  the dirty chunks into a new version directory and publishes them by
  one manifest flip — the same whole-chunk-rewrite granularity as the
  reference.

Scale design (100 TB): a huge logical grid must not produce millions of
tiny files, so each dimension takes a ``physical_factor`` that groups
``factor`` adjacent chunks into one physical partition directory. The
planner's pruning stays exact: value predicates are always applied, and
the partition predicate is widened by the factor (still a contiguous
range — no precision loss at the directory level beyond the grouping).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from typing import Iterable, NamedTuple, Sequence
from urllib.parse import urlsplit

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dmds_spark.core import commit
from dmds_spark.core.commit import WriterLock
from dmds_spark.core.dims import WorldSpec
from dmds_spark.core.select import Select, Shape
from dmds_spark.core.errors import ValueOutOfRangeError
from dmds_spark.core.engine import materialize

# Most touched ids a batch routes through literal IN lists; a larger
# batch is routed by joins instead. Timing a pending get, a second get
# and the flush on a 16,000-row world of 128 partitions (local[2],
# 4-core host), literals took x0.92 of the joins' time at 128 ids, x0.96
# at 512 and 768, x1.08 at 1,024 and x1.89 at 16,384: every plan carries
# the list. The cap sits below the crossover. It also bounds the op-log
# rows the driver collapses: past it, the window collapses the log.
ID_LIST_CAP = 512


def _in_sql(sql: str, values) -> str:
    """``sql IN (values)`` as SQL text, for integers or partition keys
    (digits and ``/``, quoted as strings); ``false`` when empty."""
    if not values:
        return "false"
    lits = (repr(v) if isinstance(v, str) else str(int(v)) for v in values)
    return f"{sql} IN ({','.join(lits)})"


def _in_list(sql: str, values) -> Column:
    """``_in_sql`` as a Column, parsed from one SQL string: one gateway
    call, where ``Column.isin`` makes one per value (a pending get
    routing 4,096 ids took 5.0 s that way against 1.5 s)."""
    return F.expr(_in_sql(sql, values))


def _is_local(df: DataFrame) -> bool:
    """True when ``df`` optimizes to one local relation, whose rows
    the driver holds: collecting it runs no job."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


class _Pending(NamedTuple):
    """The op log collapsed to its latest op per id, as of op ``seq``.

    ``live`` holds the latest upsert rows, ``touched`` every id an op
    names. Collapsed on the driver, both are the op log filtered to
    each id's latest op: a local relation that reads without a job.
    Collapsed by the window, they read a checkpoint. When at most
    ``ID_LIST_CAP`` ids were touched, the batch is also routed in
    literals (``keep`` is set): ``keep`` is NOT id IN (touched ids),
    ``hit`` is c0 IN ``groups`` AND id IN (touched ids), and
    ``new_keys`` are the partitions the live rows land in. Above the
    cap those three are None and ``touched`` is joined instead."""

    seq: int
    live: DataFrame
    touched: DataFrame
    groups: list | None
    new_keys: set | None
    keep: Column | None
    hit: Column | None


class World:
    """A dimensional store over partitioned Parquet.

    ``dim_cols`` come from the spec; any extra columns in upserted
    DataFrames are the payload (the reference's opaque versioned payload,
    src/lib.rs:26-49 — here decoded columns, the idiomatic-Spark choice
    documented in SURVEY.md §1.5).
    """

    def __init__(
        self,
        spark: SparkSession,
        spec: WorldSpec,
        path: str,
        physical_factors: Sequence[int] | None = None,
        pending_limit: int | None = 64,
        validate: str = "flush",
        versioned: bool = False,
    ):
        self.spark = spark
        self.spec = spec
        # Every flush/compact COMMITS a new immutable snapshot version:
        # data files go to an append-only ``_v{N}/`` directory and a
        # manifest maps each live partition to the version that owns
        # its current rows (Iceberg-lite); flipping ``current.json``
        # publishes the whole commit at once. The reference's 4-byte
        # version header (tokio-fs/src/lib.rs:89-90) generalized from
        # payload bytes to table state. versioned=True keeps the
        # history: ``snapshot(version=K)`` and ``snapshot_as_of`` read
        # any retained commit, ``vacuum_snapshots`` reclaims.
        # versioned=False vacuums to the newest commit after each one
        # and rejects pinned reads. Manifests are local-FS JSON (same
        # constraint as the WriterLock files). The ``_`` prefix is
        # deliberate: Spark file indexes treat it as hidden (same
        # convention as ``_delta_log``), so a naive
        # ``spark.read.parquet(root)`` sees no committed file instead
        # of double-counting every version — readers come through the
        # manifest. Reading ``_v{N}`` roots logs a cosmetic
        # "DataSource: All paths were ignored" WARN; the files are read.
        self.versioned = bool(versioned)
        self._dim_index = {d.name: i for i, d in enumerate(spec.dims)}
        if urlsplit(path).scheme:
            # Spark would write through Hadoop FS while the driver's
            # manifests, listings and lock files landed on local disk
            raise ValueError(
                f"World path {path!r} has a URI scheme; the writer lock, "
                "manifests and vacuum use local file operations, "
                "so a World needs a plain local path"
            )
        self.path = path
        if physical_factors is None:
            # default: bound physical partition count to ~4096 dirs total
            physical_factors = self._default_factors(spec)
        if len(physical_factors) != spec.ndims:
            raise ValueError("physical_factors rank mismatch")
        self.factors = tuple(int(f) for f in physical_factors)
        # pending op log: list of (seq, kind, DataFrame) — kind in
        # {"upsert", "delete"}; the reference's dirty-chunk buffer pool
        # (src/world.rs:254) with explicit op ordering instead of locks
        self._ops: list[tuple[int, str, DataFrame]] = []
        self._seq = 0
        self._pending_cache = None  # see _resolved_pending
        # cross-process single-writer token + per-path flush mutex,
        # interned so every World on this path shares BOTH (see
        # WriterLock for the protocol and its failure modes); the token
        # is taken lazily at the first mutating op, held until close()
        self._writer_lock = WriterLock.for_dir(path)
        self._lock = self._writer_lock.mutex  # reference lock_w, src/world.rs:58
        self._writer_ref = False
        # (version, DataFrame|None) — see _base(); keyed on the
        # interned lock's data_version so any same-process flush
        # invalidates it
        self._base_cache: tuple[int, DataFrame | None] | None = None
        # buffer cap (reference ``World::set_chunks_limit`` eviction,
        # src/world.rs:295-299,462-512): past the limit the op log
        # auto-flushes, so read planning cost and driver references stay
        # bounded however long the writer session lives. None = unbounded.
        self.set_pending_limit(pending_limit)
        if validate not in ("eager", "flush", "off"):
            raise ValueError("validate must be eager|flush|off")
        # "eager": range-check each batch at upsert (one collect per
        # batch — the batch is computed twice). "flush": fold the check
        # into the flush pass as raise_error guards on the dim columns
        # (one scan produces both the check and the write). "off": trust
        # the writer.
        self.validate = validate

    # -- geometry -----------------------------------------------------------

    @staticmethod
    def _default_factors(spec: WorldSpec, target_dirs: int = 4096) -> tuple[int, ...]:
        """Pick per-dim grouping factors so the physical directory count
        stays bounded however large the logical grid is."""
        factors = [1] * spec.ndims
        def total(fs):
            t = 1
            for d, f in zip(spec.dims, fs):
                t *= max(1, -(-d.chunks_len // f))
            return t
        while total(factors) > target_dirs:
            # double the factor of the dim with the most physical chunks
            i = max(
                range(spec.ndims),
                key=lambda j: -(-spec.dims[j].chunks_len // factors[j]),
            )
            factors[i] *= 2
        return tuple(factors)

    def partition_cols(self) -> list[str]:
        return [f"c{i}" for i in range(self.spec.ndims)]

    @staticmethod
    def _dim_lit(d, v: int):
        """Typed literal in the dim's column domain: DECIMAL(20,0) for
        u64 dims (values past 2^63 don't fit a long literal), plain
        long otherwise."""
        if d.u64:
            return F.expr(f"CAST('{int(v)}' AS DECIMAL(20,0))")
        return F.lit(int(v))

    def _with_partition_cols(self, df: DataFrame) -> DataFrame:
        """Append physical partition columns computed from dim values —
        the reference's ``chunk_pos_of_data`` routing
        (src/world.rs:544-551) divided by the grouping factor.

        Integer ``div`` end to end, never double division: floor((v-s)/
        spacing) over doubles mis-buckets once v-s exceeds the 53-bit
        mantissa (a value just below a chunk boundary rounds up across
        it), and u64 dims don't fit a double at all. ``div`` is exact
        on both long and decimal operands and returns a long."""
        for i in range(self.spec.ndims):
            df = df.withColumn(f"c{i}", self._partition_col(i))
        return df

    def _partition_sql(self, i: int) -> str:
        d, f = self.spec.dims[i], self.factors[i]
        start = f"CAST('{d.start}' AS DECIMAL(20,0))" if d.u64 else f"{d.start}L"
        return f"CAST(((`{d.name}` - {start}) div {d.spacing}) div {int(f)} AS BIGINT)"

    def _partition_col(self, i: int):
        return F.expr(self._partition_sql(i))

    def _part_key_sql(self, cols: list[str] | None = None) -> str:
        """The manifest key "c0/c1/…" as SQL over ``cols``, by default
        the partition columns alone, so filters on it prune at file
        listing."""
        return "concat_ws('/', {})".format(
            ", ".join(f"CAST({c} AS STRING)" for c in cols or self.partition_cols())
        )

    def _part_key_col(self):
        return F.expr(self._part_key_sql())

    def _physical_partition_predicate(self, shape: Shape):
        """Chunk-index Shape -> predicate over physical partition cols.
        Chunk ranges are widened to the physical grouping (floor-div by
        factor) — pruning stays correct, value predicates stay exact."""
        if shape.is_none():
            return F.lit(False)
        pred = None
        for box in shape.boxes:
            box_pred = None
            for i, (s, e) in enumerate(zip(box.start, box.end)):
                d, f = self.spec.dims[i], self.factors[i]
                ps, pe = s // f, e // f
                full = (d.chunks_len - 1) // f
                if ps == 0 and pe == full:
                    continue
                c = F.col(f"c{i}")
                p = (c == ps) if ps == pe else ((c >= ps) & (c <= pe))
                box_pred = p if box_pred is None else (box_pred & p)
            if box_pred is None:
                box_pred = F.lit(True)
            pred = box_pred if pred is None else (pred | box_pred)
        return pred

    # -- schema / validation -------------------------------------------------

    def _validate_dims(self, df: DataFrame) -> None:
        for d in self.spec.dims:
            if d.name not in df.columns:
                raise ValueError(f"missing dim column {d.name}")

    def _check_domain(self, df: DataFrame) -> DataFrame:
        """Eager range check (``validate="eager"``), mirroring
        ``Error::ValueOutOfRange`` (src/lib.rs:136-142). Runs as one
        aggregate over the batch (no driver-side row loop) — but it DOES
        force the batch to be computed once here and again at flush;
        the default ``validate="flush"`` mode avoids that."""
        conds = [
            (
                F.min(F.col(d.name) >= self._dim_lit(d, d.start))
                & F.min(F.col(d.name) <= self._dim_lit(d, d.end))
            ).alias(d.name)
            for d in self.spec.dims
        ]
        row = df.agg(*conds).collect()[0]
        for i, d in enumerate(self.spec.dims):
            ok = row[d.name]
            if ok is False:
                raise ValueOutOfRangeError(i, -1, d.start, d.end)
        return df

    _GUARD_MARK = "DMDS_RANGE"

    def _domain_guard(self, df: DataFrame) -> DataFrame:
        """Wrap each dim column in a raise_error guard: the check runs
        inside the same executor pass that materializes the flush
        output — zero extra scans, fully distributed. The error message
        carries dim index + bounds so the driver re-raises a typed
        ValueOutOfRangeError (``_reraise_domain``)."""
        cols = []
        for i, d in enumerate(self.spec.dims):
            c = F.col(d.name)
            bad = c.isNotNull() & (
                (c < self._dim_lit(d, d.start)) | (c > self._dim_lit(d, d.end))
            )
            msg = F.concat(
                F.lit(f"{self._GUARD_MARK}:{i}:{d.start}:{d.end}:"),
                c.cast("string"),
            )
            cols.append(F.when(bad, F.raise_error(msg)).otherwise(c).alias(d.name))
        guarded = {d.name for d in self.spec.dims}
        return df.select(
            *cols, *[F.col(c) for c in df.columns if c not in guarded]
        )

    def _reraise_domain(self, exc: Exception):
        """Translate an executor-side guard failure back into the typed
        error; re-raise the original otherwise."""
        import re

        m = re.search(rf"{self._GUARD_MARK}:(\d+):(-?\d+):(-?\d+):(-?\d+)", str(exc))
        if m:
            dim, start, end, val = (int(g) for g in m.groups())
            raise ValueOutOfRangeError(dim, val, start, end) from exc
        raise exc

    # -- lifecycle -----------------------------------------------------------

    def exists(self) -> bool:
        """True iff the committed state maps any partition (before the
        first commit: iff a legacy plain layout holds parquet files)."""
        return bool(self._read_owner(self.current_version()))

    def _base(self) -> DataFrame | None:
        """The committed base relation, cached per on-disk-state
        version. Building it reads the manifest and lists the owning
        version dirs; read-heavy loops — point-gets, select iterations,
        pending-merge reads — were paying that listing each time. The
        cache key is the interned WriterLock's ``data_version``, bumped
        by every flush/compact through ANY same-process World on this
        path, so writers invalidate all readers' caches. This is the
        engine's analogue of the reference's ``hint_is_valid`` negative
        cache (tokio-fs/src/lib.rs:38-73): O(1) re-answers for repeated
        existence/listing questions, with the same staleness contract
        — a DIFFERENT PROCESS writing the path is not seen until this
        process's next version bump (single-writer discipline makes
        that the reader-side trade-off the reference also accepts;
        call ``invalidate_base_cache()`` to force a re-list)."""
        version = self._writer_lock.data_version
        cached = self._base_cache
        if cached is not None and cached[0] == version:
            return cached[1]
        df = self._resolve_manifest(self.current_version())
        self._base_cache = (version, df)
        return df

    def invalidate_base_cache(self) -> None:
        """Force the next read to re-list the directory (needed only
        when an EXTERNAL process wrote the path)."""
        self._base_cache = None

    # -- snapshot manifests ----------------------------------------------------

    @property
    def _snapdir(self) -> str:
        return os.path.join(self.path, "_snapshots")

    def _version_dir(self, v: int) -> str:
        """Data root of version ``v``. Version 0, the state before the
        first commit, is the world root: a layout written before every
        World committed manifests opens as version 0."""
        return os.path.join(self.path, f"_v{v}") if v else self.path

    def current_version(self) -> int:
        """Latest committed snapshot version (0 = nothing committed)."""
        cur = os.path.join(self._snapdir, "current.json")
        if not os.path.exists(cur):
            return 0
        with open(cur) as fh:
            return int(json.load(fh)["current"])

    def snapshot_versions(self) -> list[int]:
        """Every retained committed version, oldest first."""
        if not os.path.isdir(self._snapdir):
            return []
        return sorted(
            int(n[1:-5])
            for n in os.listdir(self._snapdir)
            if n.startswith("v") and n.endswith(".json")
        )

    def _read_manifest(self, version: int) -> dict:
        """Committed manifest ``version``: ``owner`` maps each partition
        key ("3/7") to the version owning its rows, and ``schema`` is
        the relation's schema at commit (manifests written before it
        was stored have none). Version 0 owns the root's own partition
        dirs, stores no schema and has no manifest file."""
        if version == 0:
            return {"owner": dict.fromkeys(self._leaf_keys(self.path), 0)}
        p = os.path.join(self._snapdir, f"v{version}.json")
        if not os.path.exists(p):
            raise ValueError(
                f"snapshot v{version} not found (retained: "
                f"{self.snapshot_versions()})"
            )
        with open(p) as fh:
            return json.load(fh)

    def _read_owner(self, version: int) -> dict[str, int]:
        """partition-key ("3/7") -> owning data-version map for one
        committed snapshot."""
        owner = self._read_manifest(version)["owner"]
        return {k: int(v) for k, v in owner.items()}

    def _commit_snapshot(
        self, v: int, owner: dict[str, int], schema: T.StructType
    ) -> None:
        """Write manifest v, then atomically flip current.json — a
        crash between data write and flip leaves the previous snapshot
        served and the new files orphaned-but-unread (the commit
        protocol of ``core/commit.py``)."""
        # fencing token: abort BEFORE publishing if our lock was broken
        # or lease-reclaimed while the version dir was being written
        # (the data files are orphaned-but-unread, reclaimed by
        # vacuum_snapshots — never served)
        self._writer_lock.verify_token()
        os.makedirs(self._snapdir, exist_ok=True)
        # committed_at: the key snapshot_as_of() resolves timestamps
        # against (Iceberg's snapshot timestamp). Enforced MONOTONE in
        # version order at commit time: a new manifest's committed_at
        # is max(prev + 1us, now), so a cross-writer handoff across
        # hosts with skewed clocks can never publish v+1 "before" v
        # and reorder as-of resolution. Engine metadata only; never
        # part of any query result.
        committed = time.time()
        prev = os.path.join(self._snapdir, f"v{v - 1}.json")
        try:
            with open(prev) as fh:
                prev_at = float(json.load(fh).get("committed_at", 0.0))
            committed = max(committed, prev_at + 1e-6)
        except (OSError, ValueError):
            pass  # first snapshot, or legacy manifest without the field
        commit.atomic_flip(
            os.path.join(self._snapdir, f"v{v}.json"),
            {"version": v, "owner": owner, "committed_at": committed,
             "schema": schema.jsonValue()},
        )
        commit.atomic_flip(
            os.path.join(self._snapdir, "current.json"), {"current": v}
        )

    def snapshot_as_of(self, ts: float) -> int:
        """Resolve a WALL-CLOCK timestamp (epoch seconds) to the last
        snapshot version committed at or before it — Iceberg's
        AS-OF-TIMESTAMP time travel on the manifest's ``committed_at``
        field. Returns the version number (feed it to
        ``snapshot(version=...)``). Raises if no retained snapshot is
        old enough (vacuumed history, or ts before the first commit);
        manifests written before the field existed (pre-round-13)
        resolve as if committed at epoch 0 — a conservative "always
        old enough" for legacy histories.

        Monotone by construction since round 14: _commit_snapshot
        writes ``committed_at = max(prev + 1us, now)``, so version
        order and committed_at order always agree — a cross-writer
        handoff from a fast-clock host to a slow-clock host cannot
        make a LATER version resolve as older (pinned by the
        skewed-clock test in tests/test_world_snapshots.py). A
        backdated ``ts`` still pins by version when exactness
        matters."""
        if not self.versioned:
            raise ValueError(
                "as-of-timestamp reads need World(versioned=True)"
            )
        best = None
        for v in self.snapshot_versions():
            p = os.path.join(self._snapdir, f"v{v}.json")
            try:
                with open(p) as fh:
                    committed = float(json.load(fh).get("committed_at", 0.0))
            except (OSError, ValueError):
                continue  # torn/unreadable manifest: not resolvable
            if committed <= ts and (best is None or v > best):
                best = v
        if best is None:
            raise ValueError(
                f"no retained snapshot committed at or before {ts} "
                f"(retained: {self.snapshot_versions()})"
            )
        return best

    def _leaf_keys(self, root: str) -> list[str]:
        """Partition keys ("3/7") of the partition dirs under ``root``
        that hold parquet files, from the c0=../c1=.. layout (local FS,
        like the manifests). Only ``c{i}=`` dirs are descended, so the
        world root lists its own partitions, never the ``_v{N}`` ones."""
        level = [("", root)]
        for c in self.partition_cols():
            nxt = []
            for key, d in level:
                try:
                    names = os.listdir(d)
                except (FileNotFoundError, NotADirectoryError):
                    continue
                for n in names:
                    if n.startswith(c + "="):
                        v = str(int(n.split("=", 1)[1]))
                        nxt.append((f"{key}/{v}" if key else v, os.path.join(d, n)))
            level = nxt
        return sorted(
            key for key, d in level
            if any(n.endswith(".parquet") for n in os.listdir(d))
        )

    def vacuum_snapshots(self, retain_last: int = 1) -> int:
        """Drop manifests older than the newest ``retain_last`` and
        delete every partition dir no retained manifest maps; a version
        dir left owning nothing goes whole. Returns version directories
        deleted. The world root (version 0) only ever loses partition
        dirs. Readers pinned to a vacuumed snapshot fail loudly on
        their next manifest resolve. A ``versioned=False`` world runs
        this with ``retain_last=1`` after every commit."""
        if retain_last < 1:
            raise ValueError("retain_last must be >= 1")
        cur = self.current_version()
        # anchor retention on the COMMITTED pointer, never the manifest
        # listing: a crash between the v{N}.json write and the
        # current.json flip leaves an ORPHAN manifest > cur which was
        # never served — treating it as the newest snapshot would
        # vacuum away the manifest current.json points to and brick the
        # world. Orphans are dropped here too (their data dirs were
        # never read).
        vs = [v for v in self.snapshot_versions() if v <= cur]
        orphans = [v for v in self.snapshot_versions() if v > cur]
        keep, drop = vs[-retain_last:], vs[:-retain_last]
        mapped = {
            (k, ov) for v in {cur, *keep} for k, ov in self._read_owner(v).items()
        }
        owners = {ov for _k, ov in mapped}
        # manifests first: no manifest left maps a dir deleted below
        for v in drop + orphans:
            os.remove(os.path.join(self._snapdir, f"v{v}.json"))
        on_disk = [
            int(n[2:]) for n in os.listdir(self.path)
            if n.startswith("_v") and n[2:].isdigit()
        ]
        deleted = 0
        for v in sorted({0, *on_disk}):
            if v > cur and v not in orphans:
                continue  # an uncommitted write: the next commit clears it
            vdir = self._version_dir(v)
            if v and v not in keep and v not in owners:
                shutil.rmtree(vdir)
                deleted += 1
                continue
            for k in self._leaf_keys(vdir):
                if (k, v) in mapped:
                    continue
                d = self._part_dir(k, vdir)
                shutil.rmtree(d)
                for _ in self.partition_cols()[1:]:  # emptied parents
                    d = os.path.dirname(d)
                    try:
                        os.rmdir(d)
                    except OSError:
                        break
        return deleted

    def _resolve_manifest(self, version: int) -> DataFrame | None:
        """Committed snapshot ``version`` as ONE file index over the
        roots of the versions owning its partitions; None when it maps
        none. A root that also holds partitions the snapshot maps
        elsewhere (kept for older snapshots, or not vacuumed yet) gives
        its owned partition dirs instead. Spark's partition pruning on
        ``c0…`` does the chunk pruning, as for any partitioned table.
        The schema comes from the manifest, so building the relation
        runs no Spark job (up to 32 paths are listed on the driver).
        ``ignoreInvalidPartitionPaths`` lets several ``_v{N}`` roots
        share the index: without it Spark rejects them as conflicting
        directory structures."""
        manifest = self._read_manifest(version)
        by_ver: dict[int, list[str]] = {}
        for key, ver in manifest["owner"].items():
            by_ver.setdefault(int(ver), []).append(key)
        if not by_ver:
            return None
        paths = []
        for ver, keys in sorted(by_ver.items()):
            root = self._version_dir(ver)
            if set(self._leaf_keys(root)) <= set(keys):
                paths.append(root)
            else:
                paths += [self._part_dir(k, root) for k in sorted(keys)]
        reader = (
            self.spark.read.option("basePath", self.path)
            .option("ignoreInvalidPartitionPaths", "true")
        )
        stored = manifest.get("schema")
        if stored is not None:
            schema = T.StructType.fromJson(stored)
        else:
            # a manifest that predates stored schemas (or version 0):
            # infer from the files, partition columns typed as written
            pcols = self.partition_cols()
            schema = T.StructType([
                T.StructField(f.name, T.LongType()) if f.name in pcols else f
                for f in reader.parquet(*paths).schema
            ])
        return reader.schema(schema).parquet(*paths)

    # -- write path (reference: src/world.rs:553-584) -------------------------

    def set_pending_limit(self, limit: int | None) -> None:
        """Cap the pending op log (reference ``set_chunks_limit``,
        src/world.rs:295-299): when the number of buffered ops reaches
        the limit, the next write triggers an automatic flush — the
        honest Spark analogue of the reference's buffer-pool eviction
        (there is no partial eviction here because the op log is a
        logical diff, not a page cache)."""
        if limit is not None and limit < 1:
            raise ValueError("pending_limit must be >= 1 or None")
        self._pending_limit = limit

    def _append_op(self, kind: str, df: DataFrame) -> None:
        with self._lock:
            # check-and-acquire under the shared path mutex: two
            # threads racing the FIRST mutating op on one World must
            # not both refcount into the writer token (that left
            # refs=2 with one release at close(), orphaning the lock
            # file for the process lifetime). One ref per World; O(1)
            # after the first op.
            if not self._writer_ref:
                self._writer_lock.acquire()  # WorldLockedError if
                self._writer_ref = True      # another process writes
            self._seq += 1
            self._ops.append((self._seq, kind, df))
            over = (
                self._pending_limit is not None
                and len(self._ops) >= self._pending_limit
            )
        if over:
            self.flush()

    def _cast_dims(self, df: DataFrame) -> DataFrame:
        """Normalize dim columns to their declared Spark types (long,
        or DECIMAL(20,0) for u64 dims) so every pending op carries one
        schema regardless of how the caller built the batch (inferred
        longs, wider decimals, Arrow ints)."""
        return df.select(
            *[
                F.col(c).cast(self.spec.dims[self._dim_index[c]].spark_type).alias(c)
                if c in self._dim_index
                else F.col(c)
                for c in df.columns
            ]
        )

    def upsert(self, df: DataFrame) -> None:
        """Batch upsert keyed on dim 0 (reference ``World::insert``,
        src/world.rs:553-567: replace-by-id). Later batches win over
        earlier ones; within a batch, ids must be unique."""
        self._validate_dims(df)
        df = self._cast_dims(df)
        if self.validate == "eager":
            self._check_domain(df)
        self._append_op("upsert", df)

    def insert_rows(self, rows: Iterable[dict]) -> None:
        """Convenience: upsert a small batch of row dicts (tests, REPL).
        Ints destined for u64 dim columns are converted to Decimal
        before schema inference (a Python int past 2^63 won't fit the
        inferred LongType). The frame has the schema
        ``createDataFrame(rows)`` infers; when every column is a long,
        decimal, string, binary or boolean it is built through
        ``_local_frame``, so the op log collapses on the driver."""
        self.upsert(self._rows_frame(list(rows)))

    # column types whose values a pandas object column carries to Arrow
    # unchanged (a double NaN would turn null, timestamps shift zones)
    _ARROW_EXACT = (T.LongType, T.DecimalType, T.StringType, T.BinaryType,
                    T.BooleanType)

    def _rows_frame(self, rows: list[dict]) -> DataFrame:
        u64_dims = {d.name for d in self.spec.dims if d.u64}
        if u64_dims:
            from decimal import Decimal

            rows = [
                {
                    k: Decimal(v) if k in u64_dims and isinstance(v, int) else v
                    for k, v in r.items()
                }
                for r in rows
            ]
        # the schema createDataFrame(rows) infers, without building its frame
        schema = self.spark._inferSchemaFromList(rows)
        if not all(isinstance(f.dataType, self._ARROW_EXACT) for f in schema.fields):
            return self.spark.createDataFrame(rows)
        return self._local_frame(
            {n: [r.get(n) for r in rows] for n in schema.names}, schema
        )

    def _local_frame(self, columns: dict[str, list], schema: T.StructType) -> DataFrame:
        """A frame of driver-side values, built through Arrow when the
        session enables it: one local relation, which reads without a
        job and lets ``_resolved_pending`` collapse on the driver.
        Without Arrow, or for no rows, Spark's row path builds it."""
        import pandas as pd

        return self.spark.createDataFrame(
            pd.DataFrame({n: pd.Series(columns[n], dtype=object) for n in schema.names}),
            schema,
        )

    def try_insert(self, df: DataFrame) -> None:
        """Insert-if-absent (reference ``World::try_insert``,
        src/world.rs:569-584): rows whose id already exists — on disk or
        pending — are dropped, not replaced."""
        self._validate_dims(df)
        df = self._cast_dims(df)
        if self.validate == "eager":
            self._check_domain(df)
        id_col = self.spec.id_dim.name
        existing = self.snapshot().select(id_col)
        new_rows = df.join(existing, on=id_col, how="left_anti")
        self._append_op("upsert", new_rows)

    def delete_ids(self, ids: Iterable[int]) -> None:
        """Delete by id (reference ``Chunk::remove`` / ``Lazy::destroy``,
        src/world.rs:77-87, src/world/iter.rs:254-265)."""
        id_dim = self.spec.id_dim
        if id_dim.u64:
            from decimal import Decimal

            field = T.StructField(id_dim.name, T.DecimalType(20, 0))
            values = [Decimal(int(i)) for i in ids]
        else:
            field = T.StructField(id_dim.name, T.LongType())
            values = [int(i) for i in ids]
        df = self._local_frame({id_dim.name: values}, T.StructType([field]))
        self._append_op("delete", df)

    def delete_where(self, sel: Select) -> None:
        """Predicate delete: everything the selection matches."""
        ids = self.read(sel).select(self.spec.id_dim.name)
        self._append_op("delete", ids)

    # -- pending-buffer resolution --------------------------------------------

    def _resolved_pending(self) -> _Pending | None:
        """Collapse the op log (None when it is empty). Latest op per
        id wins, the deterministic replacement for the reference's
        chunk/item write locks. Two sources give the same result:

        - on the driver (``_collapse_on_driver``), when every op's
          frame is a local relation and the log holds at most
          ``ID_LIST_CAP`` rows, as the reference merges its in-memory
          buffer pool in process: no job runs;
        - otherwise a window over ``__seq``, materialized once.

        Once the world has stored rows, the batch is routed: each
        touched id with its ``c0`` group and its live row's partition
        key, computed by the same expressions the write uses
        (``validate="off"`` admits out-of-range values, and Spark's
        ``div`` truncates where Python's ``//`` floors). The driver
        collapse has these rows already; the window's log takes one
        small collect. Cached under the last op's sequence number:
        pending reads and the flush that commits them share it. A
        successful flush drops the cache; the checkpoint lives on while
        any DataFrame built from it does."""
        ops = list(self._ops)  # appends may race an unlocked read
        if not ops:
            return None
        cached = self._pending_cache
        if cached is not None and cached.seq == ops[-1][0]:
            return cached
        id_col = self.spec.id_dim.name
        parts = self._aligned_ops(ops)
        log = parts[0]
        for p in parts[1:]:
            log = log.unionByName(p)
        collapsed = self._collapse_on_driver(ops, parts, log)
        if collapsed is not None:
            live, touched, routed = collapsed
        else:
            from pyspark.sql import Window as W

            w = W.partitionBy(id_col).orderBy(F.col("__seq").desc())
            # materialize the collapsed log: its consumers (live for
            # the merge and new-location sides, touched for the
            # old-location and anti joins, across every read of this
            # op-log state) would otherwise each re-run every pending
            # op's source plan — a CDC merge buffers the whole
            # net-changes pipeline here (guide §2.4). The barrier is
            # micro-batch-sized (the pending buffer), never table-sized.
            latest = (
                log.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            ).transform(materialize)
            # every touched id has exactly one rn=1 row, so the touched
            # set reads off the collapsed log — no second pass
            touched = latest.select(id_col)
            live = latest.filter(~F.col("__del")).drop("__seq", "__del")
            routed = None
        pending = _Pending(ops[-1][0], live, touched, None, None, None, None)
        if self._base() is None:
            # nothing stored to filter or relocate: a read returns the
            # live rows and a flush publishes them, unrouted
            self._pending_cache = pending
            return pending
        if routed is None:
            routed = self._routing(latest).limit(ID_LIST_CAP + 1).collect()
        if len(routed) <= ID_LIST_CAP:
            # a null id matches no stored row (as in the joins)
            ids = [r[0] for r in routed if r[0] is not None]
            groups = sorted({r[1] for r in routed if r[1] is not None})
            id_in = _in_list(f"`{id_col}`", ids)
            pending = pending._replace(
                groups=groups,
                new_keys={r[2] for r in routed if r[2] is not None},
                keep=~F.coalesce(id_in, F.lit(False)),
                hit=_in_list("c0", groups) & id_in,
            )
        self._pending_cache = pending
        return pending

    def _aligned_ops(self, ops) -> list[DataFrame]:
        """Each op's frame with ``__seq`` and ``__del`` and one shared
        column list: deletes carry only the id, and a delete-only log
        gets typed null dims so downstream plans resolve. One
        ``selectExpr`` per op: each Column built from Python costs
        gateway calls, and this runs on every pending read."""
        id_col = self.spec.id_dim.name
        cols = [df.columns if kind == "upsert" else [id_col] for _, kind, df in ops]
        all_cols = []
        for have in cols:
            all_cols += [c for c in have if c not in all_cols]
        nulls = [
            f"CAST(NULL AS {d.spark_type}) AS `{d.name}`"
            for d in self.spec.dims if d.name not in all_cols
        ]
        return [
            df.selectExpr(
                *[f"`{c}`" if c in have else f"NULL AS `{c}`" for c in all_cols],
                f"{seq} AS __seq", f"{str(kind != 'upsert').lower()} AS __del",
                *nulls,
            )
            for (seq, kind, df), have in zip(ops, cols)
        ]

    def _routing(self, log: DataFrame) -> DataFrame:
        """``(id, c0, key)`` of each op-log row, by the expressions the
        write partitions with; ``key``, the partition the row lands in,
        is null for a delete."""
        pcols = [self._partition_sql(i) for i in range(self.spec.ndims)]
        return log.selectExpr(
            f"`{self.spec.id_dim.name}`", f"{pcols[0]} AS c0",
            f"CASE WHEN NOT __del THEN {self._part_key_sql(pcols)} END AS key",
        )

    def _collapse_on_driver(self, ops, parts: list[DataFrame], log: DataFrame):
        """``(live, touched, routed)`` collapsed without a Spark job, or
        None to collapse by the window instead: when an op's frame does
        not optimize to a local relation, the log holds more than
        ``ID_LIST_CAP`` rows, or an id is null or repeats within one op
        (the window's tie-break decides those).

        Each op's routing rows fold into its local relation, so their
        collect runs no job; the latest op per id is picked here, and
        ``live``/``touched`` are the aligned log filtered to the
        winners, which Catalyst folds back into local relations."""
        latest = {}  # id -> (seq, kind, c0, key)
        room = ID_LIST_CAP
        for (seq, kind, _), part in zip(ops, parts):
            route = self._routing(part).limit(room + 1)
            if not _is_local(route):
                return None
            rows = route.collect()
            room -= len(rows)
            ids = [r[0] for r in rows]
            if room < 0 or None in ids or len(set(ids)) < len(ids):
                return None
            for i, c0, key in rows:
                latest[i] = (seq, kind, c0, key)

        def winners(kinds) -> Column:
            by_seq: dict[int, list] = {}
            for i, (seq, kind, _, _) in latest.items():
                if kind in kinds:
                    by_seq.setdefault(seq, []).append(i)
            id_sql = f"`{self.spec.id_dim.name}`"
            return F.expr(" OR ".join(
                f"(__seq = {s} AND {_in_sql(id_sql, ids)})" for s, ids in by_seq.items()
            ) or "false")

        live = log.filter(winners(("upsert",))).drop("__seq", "__del")
        touched = log.filter(winners(("upsert", "delete"))).select(self.spec.id_dim.name)
        routed = [(i, c0, key) for i, (_, _, c0, key) in latest.items()]
        return live, touched, routed

    def _drop_touched(self, df: DataFrame, p: _Pending) -> DataFrame:
        """``df`` (stored rows) without the ids the op log touched."""
        if p.keep is not None:
            return df.filter(p.keep)
        return df.join(p.touched, on=self.spec.id_dim.name, how="left_anti")

    @staticmethod
    def _align_to(df: DataFrame, ref: DataFrame) -> DataFrame:
        """Project ``df`` to ``ref``'s columns/types for a union:
        shared columns cast to ref's type, ref-only columns become
        typed nulls, df-only columns (payload schema evolution — a
        later batch introduced a new column) ride along at the end."""
        rtypes = dict(ref.dtypes)
        return df.select(
            *[
                (
                    F.col(c).cast(rtypes[c])
                    if c in df.columns
                    else F.lit(None).cast(rtypes[c])
                ).alias(c)
                for c in ref.columns
            ],
            *[F.col(c) for c in df.columns if c not in rtypes],
        )

    # -- read path (reference: §3A) -------------------------------------------

    def select(self, dim: int, bounds) -> Select:
        """Seed a selection (reference ``World::select``,
        src/world.rs:302-329)."""
        return Select.dim(self.spec, dim, bounds)

    def select_all(self) -> Select:
        """Full-scan seed (reference src/world.rs:332-335)."""
        return Select.all(self.spec)

    def snapshot(self, version: int | None = None) -> DataFrame:
        """Current logical state: on-disk chunks merged with the pending
        buffer (the reference's iterator merges buffered chunks with IO
        chunks, src/world/iter.rs:726-750).

        ``version=N`` (versioned worlds only) pins the read to committed
        snapshot N — exactly the rows that flush served, EXCLUDING any
        pending buffer: the manifest is immutable, so the same version
        hashes identically forever however much the world advances
        (corpus-release reproducibility at 100 TB)."""
        # an empty world has just the dim columns
        dims_only = T.StructType(
            [T.StructField(d.name, T.LongType()) for d in self.spec.dims]
        )
        if version is not None:
            if not self.versioned:
                raise ValueError(
                    "version-pinned reads need World(versioned=True)"
                )
            pinned = self._resolve_manifest(version)
            if pinned is None:
                # committed-but-empty snapshot: the schema stored at
                # commit keeps the payload columns (a dims-only
                # fabrication would break unionByName with non-empty
                # versions)
                stored = self._read_manifest(version).get("schema")
                pinned = self.spark.createDataFrame(
                    [], T.StructType.fromJson(stored) if stored else dims_only
                )
            return pinned.drop(*self.partition_cols())
        base = self._base()
        p = self._resolved_pending()
        live = p.live if p is not None else None
        if base is not None:
            base = base.drop(*self.partition_cols())
        if base is None and live is None:
            return self.spark.createDataFrame([], dims_only)
        if live is None:
            return base
        if base is None:
            return live
        live = self._align_to(live, base)
        return self._drop_touched(base, p).unionByName(live, allowMissingColumns=True)

    def read(self, sel: Select) -> DataFrame:
        """Execute a selection: partition pruning on the on-disk side
        (physical chunk predicate) + exact value predicate everywhere +
        pending-buffer merge. This is the reference's
        ``Select::iter`` (src/world.rs:638-643) as one DataFrame."""
        value_pred = sel.to_predicate()
        base = self._base()
        p = self._resolved_pending()
        live = p.live if p is not None else None
        out = None
        if base is not None:
            pruned = base.filter(self._physical_partition_predicate(sel.shape()))
            pruned = pruned.filter(value_pred).drop(*self.partition_cols())
            if p is not None:
                pruned = self._drop_touched(pruned, p)
            out = pruned
        if live is not None:
            live_sel = live.filter(value_pred)
            if out is None:
                out = live_sel
            else:
                live_sel = self._align_to(live_sel, out)
                out = out.unionByName(live_sel, allowMissingColumns=True)
        if out is None:
            return self.snapshot().filter(value_pred)
        return out

    def get(self, id_value: int) -> DataFrame:
        """Point lookup by id — one pruned chunk on the IO side
        (reference ``chunk_pos_of_data`` routing, src/world.rs:544-551)."""
        return self.read(self.select(0, int(id_value)))

    # -- zone maps: data skipping on non-dimension columns --------------------

    def zonemap_refresh(self, cols: list[str]) -> dict:
        """Recompute per-partition min/max zones for ``cols``,
        dirty-only (unchanged partitions keep their stored zones). See
        core/zonemap.py for the safety model — refresh is a performance
        maintenance call, never a correctness dependency."""
        from dmds_spark.core.zonemap import refresh

        return refresh(self, cols)

    def zonemap_prune_report(self, bounds: dict[str, tuple]) -> dict:
        """How many partitions a ``read_where(bounds)`` would skip."""
        from dmds_spark.core.zonemap import prune_report

        return prune_report(self, bounds)

    def read_where(self, bounds: dict[str, tuple], sel=None) -> DataFrame:
        """Range read with zone-map skipping on non-dimension columns
        (the reference's hint negative-cache generalized to value
        bounds). Bounds are inclusive, in canonical space (unix micros
        for timestamps); stale/unmapped partitions are conservatively
        scanned."""
        from dmds_spark.core.zonemap import read_where

        return read_where(self, bounds, sel)

    # -- interop with the reference's on-disk format ---------------------------

    def import_chunk_tree(self, root: str, decoder=None, payload_schema=None) -> int:
        """Bulk-load a chunk tree written by the reference engine (or by
        ``export_chunk_tree``) into this world: binaryFile scan ->
        distributed frame decode (sources/codec.py, byte-compatible with
        src/world.rs:33-47) -> one upsert batch. Returns rows loaded."""
        from dmds_spark.sources.codec import raw_payload_decoder, read_chunk_tree

        df = read_chunk_tree(
            self.spark, root, self.spec,
            decoder or raw_payload_decoder, payload_schema,
        )
        self.upsert(df)
        return df.count()

    def export_chunk_tree(self, root: str, version: int = 0,
                          payload_col: str | None = None, nested: bool = True,
                          snapshot_version: int | None = None) -> int:
        """Write the world's current snapshot as a reference-compatible
        chunk tree (one file per chunk, items sorted by id — the
        BTreeMap order, src/world.rs:25). Returns chunk files written.

        ``snapshot_version`` (versioned worlds) exports a PINNED
        committed snapshot instead of the live state — publishing
        release v{K} in the reference engine's own on-disk format,
        reproducibly, however far the world has advanced since."""
        from dmds_spark.sources.codec import write_chunk_tree

        src = (
            self.snapshot(version=snapshot_version)
            if snapshot_version is not None
            else self.snapshot()
        )
        return write_chunk_tree(
            src, root, self.spec, version,
            payload_col=payload_col, nested=nested,
        )

    # -- flush (reference: §3B) ------------------------------------------------

    @property
    def writes(self) -> int:
        """Pending op count — flush eligibility, mirroring the chunk
        ``writes`` counter (src/world.rs:52-54)."""
        return len(self._ops)

    def chunk_states(self) -> DataFrame:
        """Per-chunk dirty view for daemons (reference ``World::chunks``
        iterator, src/world.rs: the maintenance loop inspects each
        buffered chunk's write count): one row per physical partition
        the pending buffer would touch, with pending upsert/delete row
        counts. Distributed — partition keys only ever reach the
        caller, never rows."""
        p = self._resolved_pending()
        pcols = self.partition_cols()
        if p is None:
            schema = T.StructType(
                [T.StructField(c, T.LongType()) for c in pcols]
                + [T.StructField("pending_upserts", T.LongType()),
                   T.StructField("pending_deletes", T.LongType())]
            )
            return self.spark.createDataFrame([], schema)
        up = (
            self._with_partition_cols(p.live)
            .groupBy(*pcols)
            .agg(F.count(F.lit(1)).alias("pending_upserts"))
        )
        base = self._base()
        if base is not None:
            # deletes/relocations dirty the partition currently holding
            # the touched id on disk
            held = (
                base.filter(p.hit) if p.keep is not None
                else base.join(p.touched, on=self.spec.id_dim.name, how="left_semi")
            )
            dels = (
                held.groupBy(*pcols)
                .agg(F.count(F.lit(1)).alias("pending_deletes"))
            )
            out = up.join(dels, on=pcols, how="full_outer")
        else:
            out = up.withColumn("pending_deletes", F.lit(None).cast("long"))
        return out.select(
            *[F.col(c).cast("long").alias(c) for c in pcols],
            F.coalesce("pending_upserts", F.lit(0)).alias("pending_upserts"),
            F.coalesce("pending_deletes", F.lit(0)).alias("pending_deletes"),
        )

    def flush(self) -> int:
        """Persist the pending buffer: rewrite exactly the dirty chunks
        (the reference's whole-chunk rewrite, src/world.rs:96-122 +
        tokio-fs/src/lib.rs:85-107). With ``validate="flush"`` the
        domain check rides along as raise_error guards in the same
        pass. Returns ops flushed. A flush that raises publishes
        nothing and keeps its ops for a retry."""
        with self._lock:
            if not self._ops:
                return 0
            try:
                self._flush_locked()
            except ValueOutOfRangeError:
                raise
            except Exception as e:  # noqa: BLE001 — guard translation
                self._reraise_domain(e)
            n, self._ops = len(self._ops), []
            self._pending_cache = None
            self._committed()
            return n

    def _committed(self) -> None:
        """After a commit: invalidate every same-process World's cached
        base relation (the interned version is the key), then, on a
        world that keeps no history, vacuum down to the new commit. A
        kill before or during the vacuum leaves the commit published;
        the next commit's vacuum removes what this one left."""
        self._writer_lock.data_version += 1
        if not self.versioned:
            self.vacuum_snapshots(retain_last=1)

    def _flush_locked(self) -> None:
        p = self._resolved_pending()
        live = self._domain_guard(p.live) if self.validate == "flush" else p.live
        base = self._base()
        if base is None:
            # a fresh world has no old locations: publish every live
            # row; the partitions it lands in are listed from the write
            self._publish(self._with_partition_cols(live), [])
            return

        # dirty = new location of every live row + old location of
        # every touched id (a relocation dirties both). Dim 0 is the
        # immutable id, so an id's stored row sits in the c0 group its
        # value routes to: the old-location lookup reads only those.
        key = self._part_key_col()
        if p.keep is not None:
            dirty = set(p.new_keys)
            if p.groups:
                # one scan job; duplicates fold here, not in a shuffle
                dirty.update(r[0] for r in base.filter(p.hit).select(key).collect())
        else:
            dirty = self._dirty_by_joins(base, live, p.touched)
        if not dirty:
            return
        dirty = sorted(dirty)
        # a literal IN on the key: the merge reads the dirty dirs only
        base_part = base.filter(_in_list(self._part_key_sql(), dirty)).drop(
            *self.partition_cols()
        )
        live_cast = self._align_to(live, base_part)
        merged = self._drop_touched(base_part, p).unionByName(
            live_cast, allowMissingColumns=True
        )
        self._publish(self._with_partition_cols(merged), dirty)

    def _dirty_by_joins(
        self, base: DataFrame, live: DataFrame, touched: DataFrame
    ) -> set[str]:
        """The dirty keys of a batch past ``ID_LIST_CAP`` touched ids:
        the live rows' keys and the touched ids' groups in one distinct
        collect, then the old locations by a semi-join within those
        groups."""
        key = self._part_key_col()
        routed = (
            self._with_partition_cols(live)
            .select("c0", key.alias("key"))
            .unionByName(
                touched.select(
                    self._partition_col(0).alias("c0"),
                    F.lit(None).cast("string").alias("key"),
                )
            )
            .distinct()
            .collect()
        )
        groups = sorted({r["c0"] for r in routed})
        dirty = {r["key"] for r in routed if r["key"] is not None}
        if groups:
            dirty.update(
                r[0]
                for r in base.filter(_in_list("c0", groups))
                .join(touched, on=self.spec.id_dim.name, how="left_semi")
                .select(key)
                .distinct()
                .collect()
            )
        return dirty

    def _publish(self, out: DataFrame, dirty: list[str], order=None) -> None:
        """The one publish path of every World write (flush and
        compact): ``out`` holds the new rows of the ``dirty``
        partitions plus any partitions it creates. It is written as the
        next immutable version directory, then a manifest carrying
        forward every other partition of the previous snapshot is
        committed (``_commit_snapshot``). O(changed) write volume —
        untouched partitions are never rewritten or copied — and the
        write never reads what it replaces, so it needs no barrier.

        Each partition is written as one file, its rows sorted by
        ``order`` (default: the id, the reference's BTreeMap order,
        src/world.rs:25), so a flush leaves nothing for ``compact``.
        A small write costs per file more than per byte: each file gets
        a ``.crc`` sidecar, a directory, permission calls and a commit
        rename (the session's local file system makes the permission
        calls in process; the stock one forks a ``chmod`` for each, see
        ``session``). So the exchange has a fixed count,
        one task per dirty partition up to the shuffle-partition count
        (all of them on a fresh world), which AQE does not coalesce
        onto one task as it does a byte-sized one. Static overwrite clears ``_v{N}`` first: no
        partition a dead earlier attempt left there can be committed
        with this write, and the rename pass of dynamic mode is
        skipped. No ``_SUCCESS`` marker is written: the manifest flip
        is the commit."""
        pcols = self.partition_cols()
        cur = self.current_version()
        vdir = self._version_dir(cur + 1)
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        # the write clears _v{N}: fence it, or a writer whose lock was
        # broken after it read ``cur`` would wipe the new holder's v{N}
        self._writer_lock.verify_token()
        (
            out.repartition(min(n, len(dirty) or n), *pcols)
            .sortWithinPartitions(
                *pcols, self.spec.id_dim.name if order is None else order
            )
            .write.partitionBy(*pcols)
            .mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
            .parquet(vdir)
        )
        dirty = set(dirty)
        owner = {
            k: ov for k, ov in self._read_owner(cur).items() if k not in dirty
        }
        # the written keys come from the directory tree (no Spark job);
        # an EMPTY write (all dirty rows deleted) adds none, so the
        # dirty partitions simply drop out of the manifest
        owner.update(dict.fromkeys(self._leaf_keys(vdir), cur + 1))
        self._commit_snapshot(cur + 1, owner, out.schema)

    def _part_dir(self, key: str, root: str | None = None) -> str:
        return "/".join(
            [root or self.path]
            + [f"{c}={v}" for c, v in zip(self.partition_cols(), key.split("/"))]
        )

    def zvalue(self) -> F.Column:
        """Morton (Z-order) key over the world's dims: bit-interleave
        the dim offsets so rows close in EVERY dimension are close in
        the sort order. Sorting files by this key gives parquet
        row-group min/max stats pruning power on all dims at once —
        an id-only sort (the BTreeMap order) prunes id point-gets but
        leaves secondary-dim range scans reading every row group.
        Pure integer expression (shifts/ors), codegen-friendly."""
        ndims = self.spec.ndims
        bits = 63 // ndims
        z = F.lit(0).cast("long")
        for i, d in enumerate(self.spec.dims):
            # only the low ``bits`` bits of each offset feed the key:
            # reduce mod 2^bits in the column's exact domain first (a
            # u64 offset doesn't fit a long; the reduction is exact in
            # decimal and changes nothing for long dims). At ndims=1
            # the modulus 2^63 is itself past the long-literal domain:
            # a long offset is already < 2^63 (no reduction needed),
            # a u64 offset reduces against a decimal literal.
            delta = F.col(d.name) - self._dim_lit(d, d.start)
            if d.u64:
                off = F.pmod(
                    delta, F.expr(f"CAST('{2**bits}' AS DECIMAL(20,0))")
                ).cast("long")
            elif bits >= 63:
                off = delta.cast("long")
            else:
                off = F.pmod(delta, F.lit(2**bits)).cast("long")
            for b in range(bits):
                bit = F.shiftright(off, b).bitwiseAND(F.lit(1))
                z = z.bitwiseOR(F.shiftleft(bit, b * ndims + i))
        return z

    def compact(self, max_files_per_partition: int = 1,
                order: str = "id") -> int:
        """Rewrite fragmented physical partitions down to one file each,
        rows sorted by id within the file.

        Every flush already writes each partition it touches as one
        id-sorted file (``_publish``), so compaction matters for
        ``order="zorder"`` and for layouts written some other way
        (earlier versions of this engine, external writers). At 100 TB
        the small-file problem is the #1 scan-throughput killer: each
        file costs a task + a footer read. Compaction = the reference's
        whole-chunk rewrite (src/world.rs:96-122) applied for layout
        instead of durability; sorting by id restores the BTreeMap
        order (src/world.rs:25) so parquet row-group min/max stats
        prune id point-gets again.

        ``order`` picks the within-file sort: ``"id"`` restores the
        BTreeMap id order (best for point-gets), ``"zorder"`` sorts by
        the Morton key (``zvalue``) so row-group stats prune range
        scans on EVERY dim — the right choice when the workload filters
        on secondary dims as often as on id.

        Only partitions holding more than ``max_files_per_partition``
        files are rewritten. Requires a clean buffer (flush first) so
        the rewrite cannot race pending ops. Returns the number of
        partitions compacted."""
        if order not in ("id", "zorder"):
            raise ValueError("order must be 'id' or 'zorder'")
        with self._lock:
            if self._ops:
                raise RuntimeError("flush pending ops before compact()")
            # compact REWRITES data files: it needs the cross-process
            # writer token exactly like an upsert (same check-and-
            # acquire as _append_op; held until close())
            if not self._writer_ref:
                self._writer_lock.acquire()
                self._writer_ref = True
            # count each mapped partition dir's files on the driver:
            # no Spark job finds the fragments
            owner = self._read_owner(self.current_version())
            frag = sorted(
                k for k, v in owner.items()
                if sum(
                    n.endswith(".parquet")
                    for n in os.listdir(self._part_dir(k, self._version_dir(v)))
                ) > max_files_per_partition
            )
            if not frag:
                return 0
            # the same literal key IN as flush: reads those dirs only
            self._publish(
                self._base().filter(_in_list(self._part_key_sql(), frag)), frag,
                self.zvalue() if order == "zorder" else None,
            )
            self._committed()
            return len(frag)

    def stats(self) -> DataFrame:
        """ANALYZE-style storage profile: one row per physical
        partition with row count, file count, approximate bytes, and
        the id min/max — the report behind ``compact()``/zorder
        decisions (which partitions are fragmented, how skewed chunk
        sizes are) and the parity for the reference's maintenance
        loop inspecting its chunk map (src/world.rs ``chunks``).

        Fully distributed: file identity and block lengths come from
        the scan itself (``input_file_name`` /
        ``input_file_block_*``), never a driver-side directory walk,
        and only O(partitions) rows ever reach the caller. Bytes are
        the sum of distinct block lengths actually carrying rows —
        exact for row-bearing blocks, which is what scan cost tracks.
        Reports the ON-DISK state only; pending buffered ops are
        ``chunk_states()``'s job."""
        pcols = self.partition_cols()
        id_col = self.spec.id_dim.name
        id_type = (
            T.DecimalType(20, 0) if self.spec.id_dim.u64 else T.LongType()
        )
        base = self._base()
        if base is None:
            schema = T.StructType(
                [T.StructField(c, T.LongType()) for c in pcols]
                + [
                    T.StructField("n_rows", T.LongType()),
                    T.StructField("n_files", T.LongType()),
                    T.StructField("approx_bytes", T.LongType()),
                    T.StructField("min_id", id_type),
                    T.StructField("max_id", id_type),
                ]
            )
            return self.spark.createDataFrame([], schema)
        blk = base.select(
            *pcols,
            F.col(id_col),
            F.input_file_name().alias("__f"),
            F.input_file_block_start().alias("__bs"),
            F.input_file_block_length().alias("__bl"),
        )
        per_block = blk.groupBy(*pcols, "__f", "__bs").agg(
            F.first("__bl").alias("__bl"),
            F.count(F.lit(1)).alias("__rows"),
            F.min(id_col).alias("__min_id"),
            F.max(id_col).alias("__max_id"),
        )
        return per_block.groupBy(*pcols).agg(
            F.sum("__rows").cast("long").alias("n_rows"),
            F.countDistinct("__f").cast("long").alias("n_files"),
            F.sum("__bl").cast("long").alias("approx_bytes"),
            F.min("__min_id").cast(self.spec.id_dim.spark_type).alias("min_id"),
            F.max("__max_id").cast(self.spec.id_dim.spark_type).alias("max_id"),
        )


    # -- writer-session lifecycle -------------------------------------------

    def heartbeat(self, lease_sec: float) -> bool:
        """Refresh this writer's cross-host lease (see
        ``WriterLock.heartbeat``). No-op (False) for a World that holds
        no writer token — read-only Worlds never lease. ``FlushDaemon``
        calls this every interval; calling it from ad-hoc code without
        a live loop behind it invites lease reclaim of a live writer."""
        if not self._writer_ref:
            return False
        return self._writer_lock.heartbeat(lease_sec)

    def close(self) -> None:
        """Flush anything pending and release the cross-process writer
        lock — the reference's flush-on-drop (ShutdownHandle,
        tokio-fs/src/lib.rs:158-200) plus lock release. Idempotent; a
        World used only for reads never took the lock and this is a
        pure no-op."""
        try:
            if self._ops:
                self.flush()
        finally:
            # release even when the final flush raises — a failed
            # flush must not leak the cross-process lock until a
            # dead-pid break (the ops stay buffered; a caller that
            # catches and retries re-acquires on the next write)
            with self._lock:
                # mirror of the _append_op acquire: ref handoff under
                # the same mutex so a close racing a first write cannot
                # drop a ref the writer thread is still establishing
                if self._writer_ref:
                    self._writer_ref = False
                    self._writer_lock.release()

    def __enter__(self) -> "World":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    @staticmethod
    def break_lock(path: str) -> bool:
        """Forcibly remove a world's writer lock file. ONLY for locks
        whose holder is confirmed dead on a host we cannot probe from
        here (same-host dead holders are broken automatically on the
        next acquire) — breaking a live writer's lock forfeits the
        single-writer guarantee for its in-flight flush (see
        WriterLock failure modes). Returns True if a lock was
        removed."""
        p = WriterLock.lock_path(path)
        try:
            with open(p) as fh:
                holder = json.load(fh)
        except FileNotFoundError:
            return False
        except (OSError, ValueError):
            holder = None  # torn content: still breakable
        moved = f"{p}.broken.{uuid.uuid4().hex}"
        try:
            os.rename(p, moved)
        except FileNotFoundError:
            return False
        # re-verify the renamed content is the lock we read — a lock
        # re-taken between read and rename is restored, not discarded
        try:
            with open(moved) as fh:
                content = json.load(fh)
        except (OSError, ValueError):
            content = None
        if (
            holder is not None
            and content is not None
            and content.get("token") != holder.get("token")
        ):
            os.rename(moved, p)
            return False
        os.unlink(moved)
        return True


class FlushDaemon:
    """Periodic flush loop (reference ``daemon`` + ``ShutdownHandle``,
    tokio-fs/src/lib.rs:207-235,158-200): every ``interval`` seconds,
    flush each world with ``writes >= 1``; ``close()`` flushes a final
    time (the reference's flush-on-drop).

    A SEPARATE heartbeat thread renews each world's writer lease
    (``lease_sec`` defaults to 10 flush intervals, floor 60 s; the
    heartbeat cadence is lease_sec/4) — which is the cross-host
    crash-recovery story: a remote writer that dies with the daemon
    running stops heartbeating, its lease lapses, and the next waiter
    reclaims the lock automatically instead of wedging until a human
    calls ``World.break_lock``. Heartbeats deliberately do NOT share
    the flush loop's thread: a single long flush would otherwise
    starve every world's lease and let waiters reclaim locks from
    live, healthy writers mid-flush. Leases can still lapse if a
    flush outlasts the whole lease while the GIL-holding JVM call
    starves the heartbeat thread — size lease_sec at or above your
    worst-case flush wall time. Pass ``lease_sec=None`` to opt out
    (locks then never expire cross-host)."""

    LEAST_WRITES = 1  # tokio-fs/src/lib.rs:213

    def __init__(
        self,
        worlds: Sequence[World],
        interval: float,
        lease_sec: float | None = -1.0,
    ):
        self.worlds = list(worlds)
        self.interval = interval
        if lease_sec is not None and lease_sec < 0:
            lease_sec = max(60.0, 10.0 * interval)
        self.lease_sec = lease_sec
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        self._hb_thread = None
        if lease_sec is not None:
            self._hb_thread = threading.Thread(
                target=self._hb_loop, daemon=True
            )
            self._hb_thread.start()

    def _loop(self):
        while not self._stop.wait(self.interval):
            for w in self.worlds:
                if w.writes >= self.LEAST_WRITES:
                    w.flush()

    def _hb_loop(self):
        # renew well inside the lease (4 beats per lease window) and
        # never slower than the flush interval
        beat = min(self.lease_sec / 4.0, self.interval)
        while not self._stop.wait(beat):
            for w in self.worlds:
                w.heartbeat(self.lease_sec)

    def close(self):
        """Stop the loop and flush everything dirty — the reference's
        ShutdownHandle::drop (tokio-fs/src/lib.rs:174-200)."""
        self._stop.set()
        self._thread.join(timeout=30)
        if self._hb_thread is not None:
            self._hb_thread.join(timeout=30)
        for w in self.worlds:
            if w.writes >= 1:
                w.flush()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
