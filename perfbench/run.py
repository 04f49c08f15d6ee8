"""World benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload world_read --seed 1 --seconds 15 --trace 0

Run from the repository root. Starts a ``local[N]`` Spark session
(N <= nproc, 2 GiB driver heap), builds the workload's world from the
seed, drives it from one closed-loop client for ``--seconds`` and checks
every answer against an independent model (``workloads.py``). The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics (``tracing.py``) with ``--trace 1``. The line before it
is the run record: seed, source digest, host shape and load, samples,
p95s, world sizes and, on a traced run whose untraced twin (same
workload, seed, sources and session shape) was kept, the tracing
overhead. Records are kept under ``perfbench/.work/records/``. See
``perfbench/DESIGN.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_HEAP = "2g"
MAX_CORES = 2


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat's aggregate cpu line."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def churn_rows_per_s(run) -> float:
    """Rows the churn phase makes durable per wall second: a batch's
    rows over the median write plus its share of the median compaction.
    Medians, not sums, so one slow call in a run of a few batches does
    not set the rate."""
    from workloads import CHURN_BATCH_ROWS, COMPACT_EVERY

    med = statistics.median
    s = run.samples
    return CHURN_BATCH_ROWS / (med(s["write"]) + med(s["compact"]) / COMPACT_EVERY)


def raw_times(run, workload: str) -> dict[str, float]:
    """Wall-clock latencies and rates as measured, in the units a user
    sees, for the run record. On world_read the write-path figures are
    those of the bulk load done in the warm set-up builds, its only
    writes."""
    s = run.samples
    med = statistics.median
    if workload == "world_read":
        write_ms = med(s["load"][1:]) * 1e3
        write_rows_per_s = run.setup_rows / med(s["setup"][1:])
        compact_s = med(s["setup_compact"][1:])
    else:
        write_ms = med(s["write"]) * 1e3
        write_rows_per_s = churn_rows_per_s(run)
        compact_s = med(s["compact"])
    return {
        "get_ms_p50": med(s["get"]) * 1e3,
        "select_ms_p50": run.select_p50() * 1e3,
        "scan_rows_per_s": run.scan_rows / run.scan_s,
        "write_ms_p50": write_ms,
        "write_rows_per_s": write_rows_per_s,
        "compact_s": compact_s,
        "ref_ms_p50": med(s["ref"]) * 1e3,
        "setup_ref_ms_p50": med(s["ref_setup"]) * 1e3,
    }


def warm_builds(run, key: str) -> list[float]:
    """Each warm set-up build's ``key`` time over the median of the
    reference calls timed around that build. The first, cold build
    is left out: the JIT makes it take 1.5-2.5x a warm one, by a
    different factor in every run."""
    from workloads import REFS_PER_BUILD as k

    refs = run.samples["ref_setup"]
    return [x / statistics.median(refs[i * k:(i + 1) * k])
            for i, x in enumerate(run.samples[key]) if i > 0]


def end_to_end(run, workload: str) -> dict[str, float]:
    """The end-to-end metrics. Latencies and rates are expressed in
    units of the reference call (``Run.reference``) timed in the same
    phase of the same run, which cancels much of the host's
    minute-to-minute speed swings; ``raw_times`` keeps the wall-clock
    figures for the run record. ``setup_s`` stays in seconds."""
    from workloads import ROW_BYTES

    raw = raw_times(run, workload)
    ref = raw["ref_ms_p50"] / 1e3
    med = statistics.median
    if workload == "world_read":
        write = med(warm_builds(run, "load"))
        write_rows = run.setup_rows / med(warm_builds(run, "setup"))
        write_amp = run.setup_bytes_written / run.setup_user_bytes
    else:
        write = med(run.samples["write"]) / ref
        write_rows = churn_rows_per_s(run) * ref
        write_amp = run.bytes_written / run.write_user_bytes
    return {
        "setup_s": med(run.samples["setup"]),
        "get_p50_ref": med(run.samples["get"]) / ref,
        "select_p50_ref": run.select_p50() / ref,
        "scan_rows_per_ref": run.scan_rows / (run.scan_s / ref),
        "write_p50_ref": write,
        "write_rows_per_ref": write_rows,
        "write_amp": write_amp,
        "space_amp": run.world_bytes[-1] / (run.model.live_rows * ROW_BYTES),
        "live_heap_mb": run.live_heap_mb,
        "spark_jobs_per_op": run.jobs_per_op,
    }


def units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def p95(xs):
    if len(xs) < 2:
        return None
    return statistics.quantiles(xs, n=20)[-1]


def source_digest() -> str:
    """SHA-256 over the engine's and the benchmark's Python sources, so
    two run records can be told apart when the code under them differs
    (the benchmark also runs from checkouts that are not git trees)."""
    h = hashlib.sha256()
    for top in ("dmds_spark", "perfbench"):
        for d, dirs, names in sorted(os.walk(os.path.join(ROOT, top))):
            dirs[:] = sorted(x for x in dirs if not x.startswith("."))
            for n in sorted(names):
                if n.endswith(".py"):
                    p = os.path.join(d, n)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


# run-record fields two runs must share for their figures to be compared
SAME_RUN_SHAPE = ("source", "nproc", "master", "default_parallelism",
                  "driver_heap", "seconds")


def tracing_overhead(record: dict) -> dict[str, float] | None:
    """traced / untraced - 1 per end-to-end metric and per raw wall-clock
    figure, from the kept untraced record of this workload and seed, if
    that run had the same sources and session shape (``SAME_RUN_SHAPE``).
    The ``*_ref`` figures understate the cost: the py4j counter also
    slows the traced run's reference calls. The raw ones do not, but
    they move with the host's load between the two runs."""
    p = os.path.join(WORK, "records",
                     f"{record['workload']}-seed{record['seed']}-trace0.json")
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        off = json.load(fh)
    if any(off.get(k) != record[k] for k in SAME_RUN_SHAPE):
        return None
    out = {}
    for part in ("end_to_end", "raw"):
        out.update({k: record[part][k] / v - 1.0
                    for k, v in off[part].items() if v})
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import workloads
    from tracing import NullTracer, Tracer, per_layer, per_op
    from dmds_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    run_dir = os.path.join(
        WORK, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    cores = min(MAX_CORES, os.cpu_count() or 1)

    steal0, total0 = cpu_jiffies()
    load0 = os.getloadavg()[0]
    t_start = time.perf_counter()
    spark = get_spark(
        app_name="dmds_perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.driver.extraJavaOptions":
                "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # keep every stage of a run in the status store
            "spark.ui.retainedStages": "20000",
            "spark.ui.retainedJobs": "20000",
        },
    )
    startup_s = time.perf_counter() - t_start
    jvm = spark.sparkContext._gateway.proc
    try:
        tracer = Tracer(spark) if args.trace else NullTracer()
        tracer.install()
        run = workloads.Run(spark, tracer, run_dir, args.seed)
        run.setup(workloads.SETUP_BUILDS[args.workload])
        t_setup = time.perf_counter()
        workloads.WORKLOADS[args.workload](run, args.seconds)
        t_work = time.perf_counter()
        run.durability()
        run.live_heap_mb = workloads.live_heap_mb(spark)
        tracer.uninstall()
        run.peak_mem_mb = workloads.peak_mem_mb(spark)
        e2e = end_to_end(run, args.workload)
        failed_frac = run.failed / run.attempted
        layers = ops = None
        if args.trace:
            spans = tracer.spans[run.span0:run.span1]
            layers = per_layer(tracer, spans, (*run.window0, *run.window1),
                               run.measured_s, failed_frac)
            ops = per_op(spans)
        sc = spark.sparkContext
        session = {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "driver_heap": sc.getConf().get("spark.driver.memory"),
            "spark_version": spark.version,
        }
        t_checked = time.perf_counter()
    finally:
        spark.stop()
        jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    t_stop = time.perf_counter()
    steal1, total1 = cpu_jiffies()
    s = run.samples
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "source": source_digest(), "nproc": os.cpu_count(), **session,
        "load1_start": load0, "load1_end": os.getloadavg()[0],
        "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        "startup_s": startup_s, "measured_s": run.measured_s,
        "wall_s": time.perf_counter() - t_start,
        # where a run's wall time goes, in seconds
        "phase_s": {
            "startup": startup_s,
            "setup": t_setup - t_start - startup_s,
            "warm_up": run.t_measure - t_setup,
            "measured": run.measured_s,
            "checks": t_checked - t_work,
            "shutdown": t_stop - t_checked,
        },
        "world_bytes": run.world_bytes, "peak_mem_mb": run.peak_mem_mb,
        "samples": {k: [round(x, 4) for x in v] for k, v in s.items()},
        "sequence": [(k, round(x, 4)) for k, x in run.sequence],
        "get_ms_p95": p95([x * 1e3 for x in s["get"]]),
        "select_ms_p95": p95([x * 1e3 for x in s["select"]]),
        "write_ms_p95": p95([x * 1e3 for x in s["write"]]),
        "attempted": run.attempted, "failed": run.failed,
        "failed_frac": failed_frac, "errors": run.errors,
        "end_to_end": e2e, "raw": raw_times(run, args.workload),
        "per_layer": layers, "per_op": ops,
    }
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    rec_path = os.path.join(
        WORK, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    if args.trace:
        record["tracing_overhead"] = tracing_overhead(record)
    print(json.dumps({"run_record": record}, sort_keys=True))

    u = units()
    values = layers if args.trace else e2e
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
