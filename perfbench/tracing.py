"""Per-layer tracing for the traced (``--trace 1``) run.

Everything here sits outside the engine: spans are opened by the
benchmark around its own calls into each layer's public functions, and
Spark work is attributed to a span by JOB-ID WINDOW — the DAG
scheduler's next job/stage ids read before and after the call. Jobs
launched from driver thread pools that do not inherit a job group are
therefore still counted. Stage metrics are read from Spark's status
store (``lastStageAttempt``) once, after the listener bus is drained,
at the end of the run. py4j round trips are counted on the calling
thread only, so a concurrent pool's traffic does not inflate a span.

``NullTracer`` is the untraced run's stand-in: same interface, no work.
"""

from __future__ import annotations

import statistics
import threading
import time
from contextlib import contextmanager

from py4j.java_gateway import GatewayClient
from py4j.protocol import Py4JJavaError


class NullTracer:
    enabled = False
    spans: list = []

    @contextmanager
    def span(self, name: str, **counts):
        yield {}

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass

    def jobs_since(self, sp) -> int:
        return 0

    def window(self) -> tuple[int, int]:
        return 0, 0


class Span(dict):
    """One call into a layer: ``name``, wall ``ms``, job/stage id
    windows, py4j calls and whatever counts the caller attaches."""


class Tracer:
    enabled = True

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._ssc = self._sc._jsc.sc()
        self._dag = self._ssc.dagScheduler()
        self._thread = threading.get_ident()
        self._py4j = 0
        self._quiet = False
        self._orig_send = None
        self._patched = []
        self.spans: list[Span] = []
        self.select_plan_s = 0.0

    # -- py4j round trips on the calling thread ------------------------------

    def install(self) -> None:
        """Count py4j calls made by the benchmark thread, and time the
        selection planner's ``shape``/``to_predicate`` however the
        World reaches them."""
        from dmds_spark.core.select import Select

        orig = GatewayClient.send_command
        tracer = self

        def counted(client, *args, **kwargs):
            if threading.get_ident() == tracer._thread and not tracer._quiet:
                tracer._py4j += 1
            return orig(client, *args, **kwargs)

        self._orig_send = orig
        GatewayClient.send_command = counted
        for attr in ("shape", "to_predicate"):
            fn = getattr(Select, attr)

            def timed(sel, *a, _fn=fn, **kw):
                t0 = time.perf_counter()
                try:
                    return _fn(sel, *a, **kw)
                finally:
                    tracer.select_plan_s += time.perf_counter() - t0

            setattr(Select, attr, timed)
            self._patched.append((Select, attr, fn))

    def uninstall(self) -> None:
        if self._orig_send is not None:
            GatewayClient.send_command = self._orig_send
            self._orig_send = None
        for cls, attr, fn in self._patched:
            setattr(cls, attr, fn)
        self._patched = []

    # -- spans --------------------------------------------------------------

    def _ids(self) -> tuple[int, int]:
        """Next (job, stage) ids; the tracer's own py4j calls are not
        counted against the span that asks."""
        self._quiet = True
        try:
            return int(self._dag.nextJobId()), int(self._dag.nextStageId())
        finally:
            self._quiet = False

    @contextmanager
    def span(self, name: str, **counts):
        """Time one call; the yielded dict takes extra counts."""
        j0, s0 = self._ids()
        c0, p0 = self._py4j, self.select_plan_s
        t0 = time.perf_counter()
        sp = Span(name=name, job0=j0, **counts)
        try:
            yield sp
        finally:
            sp["ms"] = (time.perf_counter() - t0) * 1e3
            sp["py4j_calls"] = self._py4j - c0
            sp["select_plan_us"] = (self.select_plan_s - p0) * 1e6
            j1, s1 = self._ids()
            sp["jobs"] = j1 - j0
            sp["stage_window"] = (s0, s1)
            self.spans.append(sp)

    def window(self) -> tuple[int, int]:
        """Current (job, stage) ids, to bracket a whole phase."""
        return self._ids()

    def jobs_since(self, sp: Span) -> int:
        """Jobs launched since ``sp`` opened (e.g. by a read's builder,
        before its result is consumed)."""
        return self._ids()[0] - sp["job0"]

    # -- status store -------------------------------------------------------

    def stage_metrics(self, s0: int, s1: int) -> dict:
        """Sum the status store's metrics over stage ids [s0, s1).
        Skipped stages (reused shuffle output) are not counted."""
        store = self._ssc.statusStore()
        tot = dict(stages=0, tasks=0, executor_run_ms=0, gc_ms=0,
                   spill_bytes=0, shuffle_bytes=0, output_records=0)
        for sid in range(s0, s1):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # never submitted, or evicted from the store
            if sd.status().toString() == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += sd.numTasks()
            tot["executor_run_ms"] += sd.executorRunTime()
            tot["gc_ms"] += sd.jvmGcTime()
            tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            tot["shuffle_bytes"] += sd.shuffleWriteBytes()
            tot["output_records"] += sd.outputRecords()
        return tot

    def drain(self, spans: list[Span]) -> None:
        """Wait until the status listener has seen every event, then
        attach stage metrics to ``spans``."""
        self._ssc.listenerBus().waitUntilEmpty()
        for sp in spans:
            sp.update(self.stage_metrics(*sp["stage_window"]))


def median(values, default=0.0) -> float:
    values = [v for v in values if v is not None]
    return float(statistics.median(values)) if values else float(default)


def per_layer(tracer: Tracer, sp: list[Span],
              phase_window: tuple[int, int, int, int],
              wall_s: float, failed_frac: float) -> dict[str, float]:
    """Fold the measured phase's spans into the per-layer metrics.

    Per-call metrics are medians over the calls of that kind; a layer
    the workload never calls reports 0. ``spark.*`` are totals over the
    whole measured phase per second of its wall time."""
    tracer.drain(sp)

    def of(*names):
        return [s for s in sp if s["name"] in names]

    def med(spans, key):
        return median([s.get(key) for s in spans])

    reads = of("read")
    pending = [s for s in reads if s.get("pending_ops", 0) > 0]
    flushes = of("flush")
    compacts = of("compact")
    appends = of("append")
    selects = [s for s in reads if s.get("chunks") is not None]
    out = {
        "core.select.plan_us": med(selects, "select_plan_us"),
        "core.select.chunks": med(selects, "chunks"),
        "world.read.build_ms": med(reads, "build_ms"),
        "world.read.consume_ms": med(reads, "consume_ms"),
        "world.read.jobs": med(reads, "jobs"),
        "world.read.tasks": med(reads, "tasks"),
        "world.read.py4j_calls": med(reads, "py4j_calls"),
        "world.read.files_scanned": med(reads, "files_scanned"),
        "world.read.prune_ratio": med(reads, "prune_ratio"),
        "world.read.pending_jobs": med(pending, "build_jobs"),
        "world.oplog.append_ms": med(appends, "ms"),
        "world.oplog.pending_ops": med(flushes, "pending_ops"),
        "world.flush.ms": med(flushes, "ms"),
        "world.flush.jobs": med(flushes, "jobs"),
        "world.flush.stages": med(flushes, "stages"),
        "world.flush.tasks": med(flushes, "tasks"),
        "world.flush.py4j_calls": med(flushes, "py4j_calls"),
        "world.flush.shuffle_bytes": med(flushes, "shuffle_bytes"),
        "world.flush.dirty_partitions": med(flushes, "dirty_partitions"),
        "world.flush.files_written": med(flushes, "files_written"),
        "world.flush.bytes_written": med(flushes, "bytes_written"),
        "world.flush.rows_rewritten": med(flushes, "rows_rewritten"),
        "world.flush.useful_ratio": med(flushes, "useful_ratio"),
        "world.compact.ms": med(compacts, "ms"),
        "world.compact.jobs": med(compacts, "jobs"),
        "world.compact.partitions": med(compacts, "partitions"),
        "world.compact.bytes_rewritten": med(compacts, "bytes_written"),
        "world.compact.files_before": med(compacts, "files_before"),
        "world.compact.files_after": med(compacts, "files_after"),
    }
    _, s0, _, s1 = phase_window
    tot = tracer.stage_metrics(s0, s1)
    wall = max(wall_s, 1e-9)
    out["spark.gc_ms"] = tot["gc_ms"] / wall
    out["spark.executor_run_ms"] = tot["executor_run_ms"] / wall
    out["spark.spill_bytes"] = tot["spill_bytes"] / wall
    out["bench.failed_frac"] = failed_frac
    return out


# the op kinds of ``per_op``: span name, and for reads which kind of read
OP_KINDS = {
    "get": lambda s: (s["name"] == "read" and s.get("chunks") is None
                      and not s.get("pending_ops")),
    "get_pending": lambda s: (s["name"] == "read" and s.get("chunks") is None
                              and s.get("pending_ops", 0) > 0),
    "select": lambda s: s["name"] == "read" and s.get("chunks") is not None,
    "append": lambda s: s["name"] == "append",
    "flush": lambda s: s["name"] == "flush",
    "compact": lambda s: s["name"] == "compact",
}


def per_op(sp: list[Span]) -> dict[str, dict[str, float]]:
    """Median wall time, jobs, stages, tasks and py4j calls per call of
    each op kind, with the number of calls, for the run record (call
    after ``per_layer``, which attaches the stage metrics)."""
    out = {}
    for kind, match in OP_KINDS.items():
        calls = [s for s in sp if match(s)]
        if calls:
            out[kind] = {key: median([s.get(key) for s in calls])
                         for key in ("ms", "jobs", "stages", "tasks",
                                     "py4j_calls")}
            out[kind]["calls"] = len(calls)
    return out
