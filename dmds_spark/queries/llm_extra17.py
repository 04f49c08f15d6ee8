"""Round-7 batch six: the forward as-of join (next-event lookup —
completing the as-of family), variance-optimal Neyman sample
allocation (exactness via integer weights: floor(N_h * sigma_h) of an
engine-identical double), a functional-dependency audit (the schema
contract checker), and HLL calibration (sketch estimate vs exact —
rows-only, the observability row for the rollup's distinct partials).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.sources.registry import load_events, load_table


# ---------------------------------------------------------------------------
# forward as-of join: next purchase after each click
# ---------------------------------------------------------------------------


@register(
    "join_asof_forward",
    """
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), purch AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id, ts ORDER BY event_id) AS rn
        FROM events WHERE event_type = 'purchase'
      ) WHERE rn = 1
    )
    SELECT c.event_id, c.user_id, CAST(p.value AS DOUBLE) AS next_purchase
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
)
def join_asof_forward(spark, sf_dir):
    """FORWARD as-of join: for each click, the EARLIEST purchase
    at-or-after it per user — the next-event lookup (time-to-convert,
    next-deploy-after-alert) completing the as-of family alongside the
    backward join_asof. Same single sort-shuffle shape: union tagged
    sides, one (user, ts) window, first_value over the future frame —
    never the theta-join + per-row min double shuffle. Right side
    deduped per (user, ts) with the ascending event_id pick so both
    engines choose the same row at timestamp ties; the oracle is
    DuckDB's native forward ASOF (c.ts <= p.ts)."""
    from dmds_spark.operators.relational import asof_join
    from dmds_spark.queries.relational import T

    ev = T(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    w = W.partitionBy("user_id", "ts").orderBy(F.col("event_id").asc())
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", F.col("value").alias("next_purchase"))
    )
    out = asof_join(
        clicks,
        purch,
        on="ts",
        by=["user_id"],
        right_value_cols=["next_purchase"],
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("next_purchase").cast("double").alias("next_purchase"),
    )


# ---------------------------------------------------------------------------
# Neyman (variance-optimal) sample allocation
# ---------------------------------------------------------------------------

_NEYMAN_TOTAL = 1000  # sample size to allocate across sources


@register(
    "sample_neyman_allocation",
    f"""
    WITH s AS (
      SELECT source, COUNT(*) AS n,
             SUM(len(text)) AS s1,
             SUM(CAST(len(text) AS BIGINT) * len(text)) AS s2
      FROM documents GROUP BY source
    ), wt AS (
      SELECT source, n,
             CAST(FLOOR(n * SQRT(CAST(n * s2 - s1 * s1 AS DOUBLE)
                                 / (CAST(n AS DOUBLE) * n))) AS BIGINT)
               AS w
      FROM s
    ), t AS (SELECT SUM(w) AS tot FROM wt),
    q AS (
      SELECT source, n, w, {_NEYMAN_TOTAL} * w // tot AS base,
             ({_NEYMAN_TOTAL} * w) % tot AS rem
      FROM wt, t
    ), r AS (
      SELECT source, n, w, base, rem,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk,
             {_NEYMAN_TOTAL} - SUM(base) OVER () AS leftover
      FROM q
    )
    SELECT source, CAST(n AS BIGINT) AS n_docs, CAST(w AS BIGINT) AS weight,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM r
    """,
)
def sample_neyman_allocation(spark, sf_dir):
    """Variance-OPTIMAL stratified allocation (Neyman): stratum h gets
    sample share proportional to N_h * sigma_h — high-variance strata
    earn more budget than proportional allocation gives them, which
    minimizes the estimator variance at fixed sample size (the upgrade
    over sample_hamilton_allocation's proportional quotas; doc length
    is the measured variable). Exactness: the variance numerator
    n*s2 - s1^2 is an exact int64, the population sigma is one
    division + one correctly-rounded IEEE sqrt of identical doubles,
    and the weight FLOORS to an integer — from there the Hamilton
    largest-remainder machinery is division-free integer math, so the
    allocations sum EXACTLY to the target on both engines. (Summing
    raw double weights would be order-dependent and could flip a floor
    at the bit boundary — the integer floor is the determinism trick.)

    Shape: one data-sized aggregate folds to #sources rows; every
    window after that is over the stratum table."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("text")).alias("s1"),
        F.sum(F.length("text").cast("bigint") * F.length("text")).alias("s2"),
    )
    wt = s.select(
        "source",
        "n",
        F.floor(
            F.col("n")
            * F.sqrt(
                (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
                .cast("double")
                / (F.col("n").cast("double") * F.col("n"))
            )
        )
        .cast("bigint")
        .alias("w"),
    )
    t = wt.agg(F.sum("w").alias("tot"))
    q = wt.crossJoin(F.broadcast(t)).select(
        "source",
        "n",
        "w",
        F.expr(f"{_NEYMAN_TOTAL} * w div tot").alias("base"),
        F.expr(f"({_NEYMAN_TOTAL} * w) % tot").alias("rem"),
    )
    tb = q.agg(F.sum("base").alias("sum_base"))
    wr = W.orderBy(F.col("rem").desc(), "source")
    r = (
        q.crossJoin(F.broadcast(tb))
        .withColumn("rk", F.row_number().over(wr))
        .withColumn("leftover", F.lit(_NEYMAN_TOTAL) - F.col("sum_base"))
    )
    return r.select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("w").cast("bigint").alias("weight"),
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc"),
    )


# ---------------------------------------------------------------------------
# functional-dependency audit
# ---------------------------------------------------------------------------

_FD_CANDIDATES = [
    ("orders", "o_orderkey", "o_custkey"),        # PK -> attr: must hold
    ("lineitem", "l_orderkey", "l_suppkey"),       # expected to fail
    ("lineitem", "l_partkey", "l_suppkey"),        # expected to fail
]


def _fd_sql() -> str:
    parts = []
    for table, det, dep in _FD_CANDIDATES:
        parts.append(
            f"""
    SELECT '{table}.{det} -> {dep}' AS fd,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS violating_keys,
           CAST(MAX(nd) AS BIGINT) AS max_distinct,
           CAST(CASE WHEN MAX(nd) = 1 THEN 1 ELSE 0 END AS BIGINT)
             AS holds
    FROM (
      SELECT {det}, COUNT(DISTINCT {dep}) AS nd FROM {table} GROUP BY {det}
    )
            """
        )
    return " UNION ALL ".join(parts) + " ORDER BY fd"


@register("profile_functional_dependency", _fd_sql())
def profile_functional_dependency(spark, sf_dir):
    """Functional-dependency audit: does column A determine column B?
    Per candidate FD, the number of determinant values mapping to more
    than one dependent value (violations), the worst fan-out, and the
    holds verdict — the schema-contract check that catches silent
    denormalization drift (an FD the warehouse model assumes breaking
    after a bad merge). The primary-key candidate must hold with zero
    violations; the two lineitem candidates document REAL fan-out.

    One (determinant)-keyed aggregate per candidate — the same shape
    as profile_duplicate_rows, keyed on high-cardinality columns."""
    out = None
    for table, det, dep in _FD_CANDIDATES:
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        g = df.groupBy(det).agg(F.countDistinct(dep).alias("nd"))
        row = g.agg(
            F.lit(f"{table}.{det} -> {dep}").alias("fd"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("violating_keys"),
            F.max("nd").cast("bigint").alias("max_distinct"),
            F.when(F.max("nd") == 1, 1).otherwise(0)
            .cast("bigint")
            .alias("holds"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fd")


# ---------------------------------------------------------------------------
# HLL calibration (rows-only: sketch internals are engine-specific)
# ---------------------------------------------------------------------------


@register("agg_hll_calibration", None)
def agg_hll_calibration(spark, sf_dir):
    """Sketch-vs-exact calibration for the distinct-count machinery the
    incremental rollup ships (hll_sketch_agg partials): per event
    type, the exact distinct-user count, the HLL estimate, and the
    signed error in parts-per-million — the acceptance row that prices
    the rollup's ~1.6% standard error on THIS data before anyone
    trusts its dashboards. Rows-only: the estimate depends on the
    DataSketches implementation, which DuckDB does not share; the
    exact side is the deterministic anchor.

    Shape: the exact count is the expensive side (full distinct
    shuffle) — which is exactly why the rollup stores the sketch; this
    query is the calibration you run once per corpus, not nightly."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("exact_nd"),
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))
            .cast("bigint")
            .alias("hll_estimate"),
        )
        .select(
            "event_type",
            "exact_nd",
            "hll_estimate",
            (
                (F.col("hll_estimate") - F.col("exact_nd")) * 1000000
                / F.col("exact_nd")
            )
            .cast("bigint")
            .alias("error_ppm"),
        )
        .orderBy("event_type")
    )
