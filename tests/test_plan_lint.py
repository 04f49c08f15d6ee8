"""Plan-construction cost lint (guide §1.2): py4j round trips during
query BUILD are pure driver latency paid before any row is read.
Round 15's 40 s constant-folding misstep was exactly this — a Column
tree assembled node-by-node in a Python loop — and nothing in the
test suite could have caught it. These tests (a) prove the counter
sees a seeded regression and (b) pin a build budget on the query
families that construct the largest expression trees."""

import threading

from pyspark.sql import functions as F

from dmds_spark.core.plan_lint import py4j_call_count
from dmds_spark.queries import all_queries

SF = "/root/testdata/sf0.001"


def test_counter_catches_seeded_loop_built_tree(spark):
    """A 300-node Column tree built in a Python loop must cost
    hundreds of round trips; the same fold as ONE sql-text expression
    must cost a handful. This is the seeded regression the lint
    exists to flag (and the fix it prescribes)."""
    df = spark.range(1)

    def loop_built():
        col = F.lit(0)
        for i in range(300):
            col = col + F.lit(i)
        df.select(col.alias("s"))

    def sql_text():
        df.select(F.expr("+".join(str(i) for i in range(300))).alias("s"))

    n_loop = py4j_call_count(loop_built)
    n_sql = py4j_call_count(sql_text)
    assert n_loop > 300, f"counter missed the loop tree ({n_loop})"
    assert n_sql < n_loop / 5, (n_sql, n_loop)


def test_counter_ignores_other_threads(spark):
    """Round trips a concurrent thread makes while ``fn`` runs are not
    ``fn``'s cost: a thread building a 300-node tree during ``fn``
    leaves the caller's count near zero."""
    inner = []

    def loop_built():
        col = F.lit(0)
        for i in range(300):
            col = col + F.lit(i)

    def fn():
        t = threading.Thread(target=lambda: inner.append(py4j_call_count(loop_built)))
        t.start()
        t.join(timeout=60)
        assert not t.is_alive()

    n = py4j_call_count(fn)
    assert inner[0] > 300, f"the thread's own count missed its tree ({inner})"
    assert n < 30, f"counted {n} calls made by another thread"


def test_heavy_builders_stay_under_budget(spark):
    """Build-time py4j budget for the builders with the biggest
    constant-folded expression trees (PQ codebooks as SQL text, the
    64-slot minhash signature, the unrolled pagerank chain). The
    budget (30k calls ~ low hundreds of ms of socket latency) is 10x
    headroom over their measured cost but far below the 40 s
    pathology (~1M calls) the lint guards against."""
    qs = all_queries()
    for name in (
        "similarity_pq_adc_topk",
        "dedup_minhash_pairs",
        "graph_pagerank",
        "q1_pricing_summary",
    ):
        n = py4j_call_count(lambda: qs[name](spark, SF))
        assert n < 30_000, f"{name} builds with {n} py4j calls"


def test_driver_threads_fit_deep_column_trees(spark):
    """The seeded 300-node tree converts on a py4j thread whose stack
    must hold the converter's recursion before the JIT compiles it: at
    the JVM's default 1 MiB stack, the 2nd to 21st such build in a fresh
    session raised StackOverflowError in ColumnNodeToExpressionConverter.
    Read from the running JVM, so a caller's own JVM options cannot drop
    the flag unnoticed."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = list(mx.getRuntimeMXBean().getInputArguments())
    assert "-Xss4m" in args, args
