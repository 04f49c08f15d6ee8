"""Round-14 queries, batch six: pinball (quantile) loss for the snaive
backtest — the metric that grades quantile forecasts the way MASE
grades point forecasts — and the Mann–Whitney U two-sample test with
rank-biserial effect size, completing the nonparametric-testing shelf
(KS for continuous drift, chi-square for categorical, U for
two-sample location). Exact integers throughout: doubled ranks clear
the tie-average halves, shifts keep every floor division
non-negative."""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.queries.round13 import CUTOFF
from dmds_spark.queries.round13d import _GRID_CTE, _SNAIVE_LAG
from dmds_spark.sources.registry import load_events

_PINBALL_TAUS = (1, 5, 9)  # tau = q/10: the 10/50/90 quantile grid


@register(
    "forecast_eval_pinball",
    _GRID_CTE + f"""
    , t AS (SELECT UNNEST([{", ".join(str(q) for q in _PINBALL_TAUS)}]) AS q)
    , pts AS (
      SELECT s.event_type, t.q, (s.n - s.fc) AS e
      FROM scored s CROSS JOIN t WHERE s.fc IS NOT NULL
    ), g AS (
      SELECT event_type, q,
             COUNT(*) AS n_scored,
             SUM(CASE WHEN q * e > (q - 10) * e
                 THEN q * e ELSE (q - 10) * e END) AS loss10_sum
      FROM pts GROUP BY event_type, q
    )
    SELECT event_type, CAST(q * 10 AS BIGINT) AS tau_pct,
           CAST(n_scored AS BIGINT) AS n_scored,
           CAST(loss10_sum * 100000 // n_scored AS BIGINT)
             AS pinball_ppm
    FROM g ORDER BY event_type, tau_pct
    """,
)
def forecast_eval_pinball(spark, sf_dir):
    """Pinball (quantile) loss of the snaive backtest at tau = 0.1 /
    0.5 / 0.9 — the proper scoring rule for quantile forecasts
    (Koenker & Bassett 1978; the M5-uncertainty metric): per point,
    loss_tau = max(tau*e, (tau-1)*e) with e = actual - forecast.
    Exact: tau enters as the integer q/10, so 10x the loss is
    max(q*e, (q-10)*e) — always non-negative (one branch is, for any
    sign of e), making the final mean one safe floor division
    (ppm = sum * 1e5 / n). tau=0.5 is half the MAE — the cross-check
    against forecast_eval_mase_smape's err_sum.

    Shape at scale: the same types x days grid and ONE type-keyed lag
    window as the MASE query; the 3-value tau grid cross-joins as a
    constant; the rollup is |types| x 3 rows."""
    e = load_events(spark, sf_dir)
    bounds = e.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    types = e.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("n"))
    filled = grid.join(daily, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("n", F.lit(0)).alias("n")
    )
    w = W.partitionBy("event_type").orderBy("day")
    scored = filled.select(
        "event_type",
        "n",
        F.lag("n", _SNAIVE_LAG).over(w).alias("fc"),
    ).filter(F.col("fc").isNotNull())
    tgrid = F.explode(
        F.array(*[F.lit(q) for q in _PINBALL_TAUS])
    ).alias("q")
    pts = scored.select(
        "event_type", tgrid, (F.col("n") - F.col("fc")).alias("e")
    )
    loss10 = F.greatest(
        F.col("q") * F.col("e"), (F.col("q") - 10) * F.col("e")
    )
    g = pts.groupBy("event_type", "q").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum(loss10).alias("loss10_sum"),
    )
    return g.select(
        "event_type",
        (F.col("q") * 10).cast("bigint").alias("tau_pct"),
        F.col("n_scored").cast("bigint").alias("n_scored"),
        F.expr("loss10_sum * 100000 div n_scored").cast("bigint")
        .alias("pinball_ppm"),
    )


@register(
    "events_mannwhitney_u",
    f"""
    WITH s AS (
      SELECT CAST(floor(value * 100) AS BIGINT) AS v,
             CASE WHEN ts < TIMESTAMP '{CUTOFF}' THEN 1 ELSE 0 END AS grp1
      FROM events
    ), hist AS (
      SELECT v, SUM(grp1) AS c1, SUM(1 - grp1) AS c2, COUNT(*) AS c
      FROM s GROUP BY v
    ), cum AS (
      SELECT v, c1, c,
             COALESCE(SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS below
      FROM hist
    ), tot AS (
      SELECT SUM(grp1) AS n1, SUM(1 - grp1) AS n2 FROM s
    ), r AS (
      -- HUGEINT before the product: c1*(2*below+c+1) is ~2*N^2 per
      -- bin and the BIGINT sum would raise (DuckDB) / wrap (a long
      -- Spark sum) past ~2e9 events
      SELECT SUM(CAST(c1 AS HUGEINT) * (2 * below + c + 1)) AS r1_x2
      FROM cum
    )
    SELECT CAST(t.n1 AS BIGINT) AS n1, CAST(t.n2 AS BIGINT) AS n2,
           CAST(r.r1_x2 - CAST(t.n1 AS HUGEINT) * (t.n1 + 1) AS BIGINT)
             AS u1_x2,
           CAST((r.r1_x2 - CAST(t.n1 AS HUGEINT) * (t.n1 + 1)) * 1000000
                // (2 * CAST(t.n1 AS HUGEINT) * t.n2) * 2 - 1000000
                AS BIGINT)
             AS rank_biserial_ppm
    FROM r, tot t
    """,
)
def events_mannwhitney_u(spark, sf_dir):
    """Mann–Whitney U comparing event values BEFORE vs AT/AFTER the
    cutoff — the nonparametric two-sample location test (Mann &
    Whitney 1947), with the rank-biserial correlation as the effect
    size (Wendt 1972: r = 2U/(n1*n2) - 1). Exact despite ties:
    DOUBLED midranks are integers (2*rank_avg = 2*below + count + 1),
    so U is carried as u1_x2 = 2*U1 and the effect size divides the
    non-negative u1_x2 before the -1e6 shift — no halves, no signed
    floor division anywhere. The same grouped-rank-sum construction
    as eval_auc_rank_sum (AUC IS U/(n1*n2) — this query generalizes
    it from classifier scores to any two samples).

    Shape at scale: one corpus aggregate to the distinct-cents
    histogram (bounded by the value range), one cumulative window over
    that bounded grid, a 1-row rollup."""
    ev = load_events(spark, sf_dir)
    s = ev.select(
        F.floor(F.col("value") * 100).cast("bigint").alias("v"),
        F.when(F.col("ts") < F.lit(CUTOFF).cast("timestamp"), 1)
        .otherwise(0).alias("grp1"),
    )
    from dmds_spark.core.engine import materialize

    # the bounded histogram is the ONLY pass over the event stream:
    # n1/n2 fold off it, the cum window reads it back
    hist = s.groupBy("v").agg(
        F.sum("grp1").alias("c1"),
        F.sum(F.lit(1) - F.col("grp1")).alias("c2"),
        F.count(F.lit(1)).alias("c"),
    ).transform(materialize)
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    cum = hist.select(
        "c1", "c", F.coalesce(F.sum("c").over(w), F.lit(0)).alias("below")
    )
    tot = hist.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
    )
    # decimal(38,0) before the product and the sum: c1*(2*below+c+1)
    # is ~2*N^2 per bin and a LongType sum silently wraps past ~2e9
    # events (DuckDB's BIGINT SUM promotes to HUGEINT — a quiet engine
    # divergence otherwise); same for n1*(n1+1) below
    r = cum.agg(
        F.sum(
            F.col("c1").cast("decimal(38,0)")
            * (2 * F.col("below") + F.col("c") + 1)
        ).alias("r1_x2")
    )
    from dmds_spark.operators.relational import exact_floordiv

    u1_x2 = F.col("r1_x2") - F.col("n1").cast("decimal(38,0)") * (
        F.col("n1") + 1
    )
    return r.crossJoin(F.broadcast(tot)).select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        u1_x2.cast("bigint").alias("u1_x2"),
        (
            exact_floordiv(
                u1_x2 * F.lit(1_000_000),
                F.lit(2) * F.col("n1").cast("decimal(38,0)") * F.col("n2"),
            ) * 2 - F.lit(1_000_000)
        ).cast("bigint").alias("rank_biserial_ppm"),
    )
