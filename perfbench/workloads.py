"""Seeded World workloads and the independent model they are checked
against.

The engine receives only generated DataFrames, ids and selections. The
expected answer for every read comes from ``Model``, a numpy table of
id -> (a, b, payload) updated only when a write is acknowledged, never
from the engine. Rows are compared exactly for point gets; selections
and full scans are compared by (row count, sum of ids, sum of per-row
CRC-32 fingerprints), an order-independent digest that reads every
column.
"""

from __future__ import annotations

import gc
import os
import resource
import time
import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from dmds_spark.core.dims import DimSpec, WorldSpec
from dmds_spark.world import World

ID_DOMAIN = 1 << 15
SPEC = WorldSpec(dims=(
    DimSpec("id", 0, ID_DOMAIN - 1, 64),
    DimSpec("a", 0, (1 << 16) - 1, 256),
    DimSpec("b", 0, (1 << 16) - 1, 256),
))
# group adjacent chunks into 4 x 8 x 4 = 128 physical partition dirs
FACTORS = (128, 32, 64)
N_ROWS = 16_000  # loaded with the even ids, spread over all 128 dirs
PAYLOAD_BYTES = 64
ROW_BYTES = 3 * 8 + PAYLOAD_BYTES  # raw size of one submitted row
ID_BYTES = 8
SCHEMA = "id long, a long, b long, payload binary"
# set-up builds per workload: world_read's write-path figures are the
# medians over its warm builds (all but the first)
SETUP_BUILDS = {"world_read": 4, "world_churn": 2}
# churn: the top quarter of the id range (one of the four id groups, 32
# of the 128 dirs) is the hot set; new rows take its odd ids in order
HOT_LO = ID_DOMAIN * 3 // 4
NEW_PER_BATCH, INPLACE_PER_BATCH, RELOC_PER_BATCH, DELETES_PER_BATCH = 8, 12, 12, 4
CHURN_BATCH_ROWS = (NEW_PER_BATCH + INPLACE_PER_BATCH + RELOC_PER_BATCH
                    + DELETES_PER_BATCH)
COMPACT_EVERY = 2  # flushes between compactions
MIN_CHURN_STEPS = 4  # measured steps of world_churn, however slow the host
REFS_PER_BUILD = 10  # reference calls timed around each set-up build
REFS_PER_CHURN_OP = 3  # reference calls timed after each churn op
SELECTS_PER_CHURN_STEP = 2
QUERY_KINDS = ("select", "and", "plus", "hints")


def fingerprint(i: int, a: int, b: int, payload: bytes) -> int:
    return zlib.crc32(b"%d:%d:%d:%s" % (i, a, b, payload.hex().upper().encode()))


def digest(df):
    """Consume ``df`` into (rows, sum(id), sum(fingerprint)), computed by
    Spark; the fingerprint is the same CRC-32 ``fingerprint`` computes.
    Returns the digest and the frame that was executed."""
    fp = F.crc32(F.concat_ws(
        ":", *[F.col(c).cast("string") for c in ("id", "a", "b")],
        F.hex("payload"),
    ))
    agg = df.agg(F.count(F.lit(1)), F.sum("id"), F.sum(fp))
    r = agg.collect()[0]
    return (int(r[0]), int(r[1] or 0), int(r[2] or 0)), agg


def files_read(executed) -> int:
    """Parquet files the executed plan of ``executed`` actually opened,
    from its file scans' ``numFiles`` metric (``DataFrame.inputFiles()``
    lists the whole relation, before partition pruning)."""

    def walk(plan) -> int:
        name = plan.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(plan.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(plan.plan())
        n = 0
        metric = plan.metrics().get("numFiles")
        if name == "FileSourceScanExec" and metric.isDefined():
            n += int(metric.get().value())
        children = plan.children()
        for i in range(children.size()):
            n += walk(children.apply(i))
        return n

    return walk(executed._jdf.queryExecution().executedPlan())


@dataclass
class Batch:
    """Rows to upsert plus ids to delete, as one write batch."""

    ids: np.ndarray
    a: np.ndarray
    b: np.ndarray
    payload: np.ndarray  # (rows, PAYLOAD_BYTES) uint8
    deletes: np.ndarray

    def write_parquet(self, path: str, files: int = 4) -> None:
        """Write the rows as ``files`` parquet files under ``path``."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table({
            "id": self.ids, "a": self.a, "b": self.b,
            "payload": pa.array([bytes(p) for p in self.payload], pa.binary()),
        })
        os.makedirs(path, exist_ok=True)
        step = -(-len(self.ids) // files)
        for k in range(files):
            pq.write_table(table.slice(k * step, step),
                           os.path.join(path, f"part-{k}.parquet"))

    def frame(self, spark):
        pdf = pd.DataFrame({
            "id": self.ids, "a": self.a, "b": self.b,
            "payload": [bytes(p) for p in self.payload],
        })
        return spark.createDataFrame(pdf, SCHEMA)

    @property
    def rows(self) -> int:
        return len(self.ids) + len(self.deletes)

    @property
    def user_bytes(self) -> int:
        return len(self.ids) * ROW_BYTES + len(self.deletes) * ID_BYTES

    def expected_row(self, model: "Model", i: int):
        """What a read-your-writes get of ``i`` must return while this
        batch is pending."""
        if i in set(self.deletes.tolist()):
            return None
        hit = np.flatnonzero(self.ids == i)
        if len(hit):
            k = hit[0]
            return (i, int(self.a[k]), int(self.b[k]), bytes(self.payload[k]))
        return model.row(i)


class Model:
    """id -> (a, b, payload) for every acknowledged row, with each row's
    fingerprint cached so a selection's digest is one numpy mask."""

    def __init__(self):
        self.alive = np.zeros(ID_DOMAIN, bool)
        self.a = np.zeros(ID_DOMAIN, np.int64)
        self.b = np.zeros(ID_DOMAIN, np.int64)
        self.payload = np.zeros((ID_DOMAIN, PAYLOAD_BYTES), np.uint8)
        self.crc = np.zeros(ID_DOMAIN, np.int64)
        self.ids = np.arange(ID_DOMAIN, dtype=np.int64)

    def apply(self, batch: Batch) -> None:
        ids = batch.ids
        self.alive[ids] = True
        self.a[ids], self.b[ids], self.payload[ids] = batch.a, batch.b, batch.payload
        self.crc[ids] = [
            fingerprint(int(i), int(a), int(b), bytes(p))
            for i, a, b, p in zip(ids, batch.a, batch.b, batch.payload)
        ]
        self.alive[batch.deletes] = False

    def row(self, i: int):
        if not self.alive[i]:
            return None
        return (i, int(self.a[i]), int(self.b[i]), bytes(self.payload[i]))

    def digest(self, mask=None) -> tuple[int, int, int]:
        m = self.alive if mask is None else self.alive & mask
        return int(m.sum()), int(self.ids[m].sum()), int(self.crc[m].sum())

    @property
    def live_rows(self) -> int:
        return int(self.alive.sum())


def load_batch(rng) -> Batch:
    return Batch(
        ids=np.arange(0, 2 * N_ROWS, 2, dtype=np.int64),
        a=rng.integers(0, 1 << 16, N_ROWS),
        b=rng.integers(0, 1 << 16, N_ROWS),
        payload=rng.integers(0, 256, (N_ROWS, PAYLOAD_BYTES), dtype=np.uint8),
        deletes=np.zeros(0, np.int64),
    )


@dataclass
class Query:
    """One selection, built through the engine's ``Select`` algebra and,
    independently, as a numpy mask over the model."""

    kind: str
    a: tuple[int, int] = (0, 0)
    b: tuple[int, int] = (0, 0)
    id_range: tuple[int, int] = (0, 0)
    hints: tuple[int, ...] = ()

    def select(self, w: World):
        if self.kind == "select":
            return w.select(1, self.a)
        if self.kind == "and":
            return w.select(1, self.a).and_(2, self.b)
        if self.kind == "plus":
            return w.select(1, self.a).plus(2, self.b)
        return w.select(0, self.id_range).hints(self.hints)

    def mask(self, m: Model) -> np.ndarray:
        def within(col, lo_hi):
            return (col >= lo_hi[0]) & (col <= lo_hi[1])

        if self.kind == "select":
            return within(m.a, self.a)
        if self.kind == "and":
            return within(m.a, self.a) & within(m.b, self.b)
        if self.kind == "plus":
            return within(m.a, self.a) | within(m.b, self.b)
        return within(m.ids, self.id_range) & np.isin(m.ids, self.hints)


def random_query(rng, kind: str, id_lo: int, id_hi: int) -> Query:
    def span(width, top=1 << 16):
        lo = int(rng.integers(0, top - width))
        return (lo, lo + width - 1)

    if kind == "select":
        return Query(kind, a=span(1500))
    if kind == "and":
        return Query(kind, a=span(6000), b=span(6000))
    if kind == "plus":
        return Query(kind, a=span(750), b=span(750))
    lo = int(rng.integers(id_lo, id_hi - 2000))
    hints = rng.choice(np.arange(lo, lo + 2000), 16, replace=False)
    return Query(kind, id_range=(lo, lo + 1999),
                 hints=tuple(int(h) for h in hints))


def files(path: str) -> dict[str, int]:
    """relative path -> size of every file under a world directory."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def parquet(listing: dict[str, int]) -> dict[str, int]:
    return {k: v for k, v in listing.items() if k.endswith(".parquet")}


def live_heap_mb(spark) -> float:
    """JVM heap still in use after a full collection: what the engine
    and Spark keep alive once the workload's calls have returned."""
    gc.collect()  # drop dead Python proxies, so py4j frees their objects
    jvm = spark._jvm
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return heap.getHeapMemoryUsage().getUsed() / 2**20


def peak_mem_mb(spark) -> float:
    """Peak RSS of this Python process plus the Spark driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark._jvm.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


class Run:
    """One workload run: the world, the model, the op counters and the
    timings the end-to-end metrics are made of."""

    def __init__(self, spark, tracer, work_dir: str, seed: int):
        self.spark, self.tracer = spark, tracer
        self.work_dir = work_dir
        self.seed = seed
        self.rng = np.random.default_rng([seed, 1])
        self.model = Model()
        self.world: World | None = None
        self.path = ""
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.measuring = False
        keys = ("get", "select", "write", "compact", "setup", "load",
                "setup_compact", "ref", "ref_setup")
        # wall seconds of every timed call in the measured phase
        self.samples: dict[str, list[float]] = {k: [] for k in keys}
        # (key, seconds) of every sample and scan, in the order timed
        self.sequence: list[tuple[str, float]] = []
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self.select_kinds: list[str] = []  # group of each "select" sample
        self.scans = 0
        self.scan_rows = 0
        self.scan_s = 0.0
        # the workload's write phase: user bytes acknowledged and bytes
        # that landed under the world dir
        self.write_user_bytes = 0
        self.bytes_written = 0
        self.world_bytes: list[int] = []

    # -- bookkeeping ----------------------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 10:
                self.errors.append(what)

    def fail(self, what: str, exc: Exception) -> None:
        self.check(False, f"{what}: {type(exc).__name__}: {str(exc)[:300]}")

    def next_job(self) -> int:
        return int(self._dag.nextJobId())

    def begin(self) -> None:
        """Start the measured phase: only its samples and spans count."""
        self.jobs0 = self.next_job()
        self.measuring = True
        self.span0 = len(self.tracer.spans)
        self.window0 = self.tracer.window()
        self.t_measure = time.perf_counter()

    def end(self) -> None:
        self.measured_s = time.perf_counter() - self.t_measure
        self.window1 = self.tracer.window()
        self.span1 = len(self.tracer.spans)
        self.measuring = False
        self.jobs = self.next_job() - self.jobs0

    @property
    def jobs_per_op(self) -> float:
        """Spark jobs per measured engine call (get, selection, scan,
        write batch, compaction), the reference calls' jobs taken out."""
        s = self.samples
        ops = (len(s["get"]) + len(s["select"]) + self.scans
               + len(s["write"]) + len(s["compact"]))
        return (self.jobs - self.ref_jobs * len(s["ref"])) / ops

    def reference(self, key: str = "ref", times: int = 1) -> None:
        """Time the reference call ``times`` times: 20 py4j expression
        builds and one small Spark job on an already planned frame. It
        runs no engine code, so its time tracks only how fast this host
        is running Python, py4j and Spark at that moment."""
        for _ in range(times):
            t0 = time.perf_counter()
            expr = F.lit(0)
            for k in range(20):
                expr = expr + F.lit(k)
            self._ref_df.collect()
            self.sample(key, time.perf_counter() - t0)

    def sample(self, key: str, seconds: float) -> None:
        if self.measuring:
            self.samples[key].append(seconds)
            self.sequence.append((key, seconds))

    # -- setup ----------------------------------------------------------------

    def setup(self, builds: int) -> None:
        """Load the generated rows from parquet into a fresh world and
        compact it, ``builds`` times; the last world is the one
        the workload runs on."""
        batch = load_batch(np.random.default_rng([self.seed, 0]))
        source = os.path.join(self.work_dir, "input")
        batch.write_parquet(source)
        self.model.apply(batch)
        self.setup_rows, self.setup_user_bytes = batch.rows, batch.user_bytes
        self._ref_df = self.spark.range(0, 50_000, 1, 2).selectExpr("sum(id % 7)")
        self._ref_df.collect()
        j0 = self.next_job()
        self._ref_df.collect()
        self.ref_jobs = self.next_job() - j0
        self.measuring = True
        for k in range(builds):
            path = os.path.join(self.work_dir, f"world{k}")
            self.reference("ref_setup", REFS_PER_BUILD // 2)
            t0 = time.perf_counter()
            w = World(self.spark, SPEC, path, physical_factors=FACTORS)
            w.upsert(self.spark.read.schema(SCHEMA).parquet(source))
            w.flush()
            t1 = time.perf_counter()
            loaded = files(path)
            t2 = time.perf_counter()
            w.compact()
            t3 = time.perf_counter()
            self.sample("setup", t1 - t0 + t3 - t2)
            self.sample("load", t1 - t0)
            self.sample("setup_compact", t3 - t2)
            written = sum(loaded.values()) + sum(
                v for f, v in files(path).items() if f not in loaded
            )
            self.setup_bytes_written = written
            self.world_bytes.append(sum(files(path).values()))
            self.reference("ref_setup", REFS_PER_BUILD - REFS_PER_BUILD // 2)
            try:
                got, _ = digest(w.snapshot())
            except Exception as e:  # noqa: BLE001 — a failed op is counted
                self.fail("setup scan", e)
            else:
                self.check(got == self.model.digest(), f"setup digest {got}")
            if self.world is not None:
                self.world.close()
            self.world, self.path = w, path
        self.measuring = False

    # -- reads ----------------------------------------------------------------

    def _read(self, build, consume, expect, key: str, chunks=None):
        w = self.world
        with self.tracer.span("read", pending_ops=w.writes, chunks=chunks) as sp:
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            sp["build_jobs"] = self.tracer.jobs_since(sp)
            got, executed = consume(df)
            t2 = time.perf_counter()
        sp["build_ms"], sp["consume_ms"] = (t1 - t0) * 1e3, (t2 - t1) * 1e3
        if self.tracer.enabled:
            scanned = files_read(executed)
            sp["files_scanned"] = scanned
            sp["prune_ratio"] = scanned / max(1, len(parquet(files(self.path))))
        self.check(got == expect, f"{key}: got {got!r:.200} expected {expect!r:.200}")
        return t2 - t0

    def get(self, i: int, expect) -> None:
        def consume(df):
            rows = df.collect()
            if len(rows) > 1:
                return ("duplicate rows", len(rows)), df
            if not rows:
                return None, df
            r = rows[0]
            return (int(r["id"]), int(r["a"]), int(r["b"]),
                    bytes(r["payload"])), df

        try:
            dt = self._read(lambda: self.world.get(i), consume, expect, f"get {i}")
        except Exception as e:  # noqa: BLE001
            self.fail(f"get {i}", e)
            return
        self.sample("get", dt)

    def query(self, q: Query, group: str = "") -> None:
        """Run and check one selection. Its time is a sample of
        ``group`` (default: the selection's kind) in ``select_p50``."""
        w = self.world
        tr = self.tracer

        def build():
            t0 = time.perf_counter()
            sel = q.select(w)
            if tr.enabled:
                tr.select_plan_s += time.perf_counter() - t0
            return w.read(sel)

        chunks = None
        if tr.enabled:
            shape = q.select(w).shape()
            chunks = sum(
                int(np.prod([e - s + 1 for s, e in zip(b.start, b.end)]))
                for b in shape.boxes
            )
        try:
            dt = self._read(build, digest, self.model.digest(q.mask(self.model)),
                            f"select {q}", chunks=chunks)
        except Exception as e:  # noqa: BLE001
            self.fail(f"select {q}", e)
            return
        self.sample("select", dt)
        if self.measuring:
            self.select_kinds.append(group or q.kind)

    def select_p50(self) -> float:
        """Wall seconds of a selection: the mean over the selection groups
        (see ``query``) of each group's median. The groups differ in cost
        by up to 1.6x, so the median over all of them would jump between
        groups from run to run."""
        by_kind: dict[str, list[float]] = {}
        for kind, x in zip(self.select_kinds, self.samples["select"]):
            by_kind.setdefault(kind, []).append(x)
        return float(np.mean([np.median(v) for v in by_kind.values()]))

    def scan(self) -> None:
        try:
            t0 = time.perf_counter()
            got, _ = digest(self.world.snapshot())
            dt = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001
            self.fail("scan", e)
            return
        expect = self.model.digest()
        self.check(got == expect, f"scan: got {got} expected {expect}")
        if self.measuring:
            self.sequence.append(("scan", dt))
            self.scans += 1
            self.scan_rows += got[0]
            self.scan_s += dt

    # -- writes ---------------------------------------------------------------

    def write(self, batch: Batch, gets) -> None:
        """Append ``batch``, read ``gets`` back while it is pending, then
        flush. The write latency runs from the first append call to
        ``flush()`` returning, minus the interleaved reads."""
        w = self.world
        df = batch.frame(self.spark)
        try:
            with self.tracer.span("append"):
                t0 = time.perf_counter()
                w.upsert(df)
                w.delete_ids(batch.deletes.tolist())
                append_s = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001
            self.fail("append", e)
            return
        self.check(True, "append")
        for i in gets:
            self.get(i, batch.expected_row(self.model, i))
        before = files(self.path)
        try:
            with self.tracer.span("flush", pending_ops=w.writes) as sp:
                t0 = time.perf_counter()
                w.flush()
                flush_s = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001
            self.fail("flush", e)
            return
        self.check(True, "flush")
        self.model.apply(batch)
        after = files(self.path)
        new = {f: v for f, v in after.items() if f not in before}
        self.sample("write", append_s + flush_s)
        if self.measuring:
            self.write_user_bytes += batch.user_bytes
            self.bytes_written += sum(new.values())
        if self.tracer.enabled:
            import pyarrow.parquet as pq

            old_pq, new_pq = set(parquet(before)), set(parquet(after))
            changed = old_pq ^ new_pq
            rewritten = sum(
                pq.read_metadata(os.path.join(self.path, f)).num_rows
                for f in new_pq - old_pq
            )
            sp.update(
                dirty_partitions=len({os.path.dirname(f) for f in changed}),
                files_written=len(new_pq - old_pq),
                bytes_written=sum(new.values()),
                rows_rewritten=rewritten,
                useful_ratio=batch.rows / max(1, rewritten),
            )

    def compact(self) -> None:
        before = files(self.path)
        try:
            with self.tracer.span("compact",
                                  files_before=len(parquet(before))) as sp:
                t0 = time.perf_counter()
                n = self.world.compact()
                dt = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001
            self.fail("compact", e)
            return
        self.check(True, "compact")
        after = files(self.path)
        new = sum(v for f, v in after.items() if f not in before)
        sp.update(partitions=n, files_after=len(parquet(after)), bytes_written=new)
        self.sample("compact", dt)
        if self.measuring:
            self.bytes_written += new

    # -- end of run -----------------------------------------------------------

    def durability(self) -> None:
        """Close the world, open a fresh one on its path, and check it
        holds exactly the rows of the last acknowledged flush."""
        try:
            self.world.close()
            fresh = World(self.spark, SPEC, self.path, physical_factors=FACTORS)
            got, _ = digest(fresh.snapshot())
        except Exception as e:  # noqa: BLE001
            self.fail("reopen", e)
            return
        expect = self.model.digest()
        self.check(got == expect, f"reopen: got {got} expected {expect}")
        self.world_bytes.append(sum(files(self.path).values()))


# -- workloads -----------------------------------------------------------------


def read_ops(rng):
    """Endless world_read op stream: per cycle 5 point gets on
    Zipf-skewed ids, one pruned selection of each of ``QUERY_KINDS``
    (between the gets) and 1 full snapshot scan."""
    hot = 2 * rng.permutation(N_ROWS)
    while True:
        for kind in QUERY_KINDS:
            yield ("get", int(hot[min(int(rng.zipf(1.3)) - 1, N_ROWS - 1)]))
            yield ("query", random_query(rng, kind, 0, 2 * N_ROWS))
        yield ("get", int(hot[min(int(rng.zipf(1.3)) - 1, N_ROWS - 1)]))
        yield ("scan",)


def world_read(run: Run, seconds: float) -> None:
    ops = read_ops(run.rng)

    def do(op):
        if op[0] == "get":
            run.get(op[1], run.model.row(op[1]))
        elif op[0] == "query":
            run.query(op[1])
        else:
            run.scan()

    do(("get", 0))  # warm-up: one of every op kind
    for kind in QUERY_KINDS:
        do(("query", random_query(run.rng, kind, 0, 2 * N_ROWS)))
    do(("scan",))
    run.begin()
    # whole cycles only, so every run measures the same mix of op kinds
    op = ("start",)
    while time.perf_counter() - run.t_measure < seconds or op[0] != "scan":
        op = next(ops)
        do(op)
        run.reference()
    run.end()


def churn_batch(rng, model: Model, next_id: int) -> Batch:
    """New ids, in-place updates and relocating updates (new a/b, so the
    row moves partition) on the hot id range, plus deletes there."""
    cand = np.flatnonzero(model.alive[HOT_LO:]) + HOT_LO
    pick = rng.choice(cand, INPLACE_PER_BATCH + RELOC_PER_BATCH
                      + DELETES_PER_BATCH, replace=False)
    inplace = pick[:INPLACE_PER_BATCH]
    reloc = pick[INPLACE_PER_BATCH:INPLACE_PER_BATCH + RELOC_PER_BATCH]
    dels = pick[INPLACE_PER_BATCH + RELOC_PER_BATCH:]
    new = np.arange(next_id, next_id + 2 * NEW_PER_BATCH, 2, dtype=np.int64)
    n_rand = NEW_PER_BATCH + RELOC_PER_BATCH

    def dim(col):
        fresh = rng.integers(0, 1 << 16, n_rand)
        return np.concatenate([fresh[:NEW_PER_BATCH], col[inplace],
                               fresh[NEW_PER_BATCH:]])

    ids = np.concatenate([new, inplace, reloc])
    return Batch(
        ids=ids, a=dim(model.a), b=dim(model.b),
        payload=rng.integers(0, 256, (len(ids), PAYLOAD_BYTES), dtype=np.uint8),
        deletes=dels.astype(np.int64),
    )


def world_churn(run: Run, seconds: float) -> None:
    rng = run.rng
    next_id = HOT_LO + 1

    def step(n: int) -> None:
        nonlocal next_id
        batch = churn_batch(rng, run.model, next_id)
        next_id += 2 * NEW_PER_BATCH
        # two gets while the batch is pending: a just-written id
        # (upserted or deleted) and any hot id
        written = int(rng.choice(np.concatenate([batch.ids, batch.deletes])))
        run.write(batch, [written, int(rng.integers(HOT_LO, ID_DOMAIN))])
        run.reference(times=REFS_PER_CHURN_OP)
        # the first selection after a flush costs about 1.6x the next
        # one, so each position is its own group in select_p50
        for k in range(SELECTS_PER_CHURN_STEP):
            run.query(random_query(rng, "and", HOT_LO, ID_DOMAIN), f"and#{k}")
            run.reference(times=REFS_PER_CHURN_OP)
        run.scan()
        run.reference(times=REFS_PER_CHURN_OP)
        if n % COMPACT_EVERY == 0:
            run.compact()
            run.reference(times=REFS_PER_CHURN_OP)

    # warm-up: one whole step with its compaction; the first pending
    # gets and flush of a process run several times slower than later
    # ones while the JIT compiles their code paths
    step(0)
    run.begin()
    # whole compaction cycles only: the reads of a step see one or two
    # flushes' files on top of the compacted ones, and every run has
    # to measure both kinds of step equally often. A step takes 3-7 s
    # with the host's speed, so a slow run also gets a floor of steps.
    n = 0
    while (time.perf_counter() - run.t_measure < seconds
           or n < MIN_CHURN_STEPS or n % COMPACT_EVERY):
        n += 1
        step(n)
    run.end()


WORKLOADS = {"world_read": world_read, "world_churn": world_churn}
