"""Round-9 batch four: per-group OLS trend components (exact
cross-multiplied sums — the regression family the engine lacked) and
linear time-series interpolation between observations (the
missing-value policy beyond gap-fill's LOCF).

Both are integer/decimal-exact end to end: regression components ship
as digit strings (they pass 2^63 immediately at scale), the scaled
slope and every interpolated value are truncating integer divisions —
verified to agree between Spark's DIV and DuckDB's // including
negative numerators (both truncate toward zero).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.sources.registry import load_events

_DEC = "decimal(38,0)"


# ---------------------------------------------------------------------------
# Per-group OLS trend: slope components of daily volume per event type
# ---------------------------------------------------------------------------


@register(
    "events_regression_trend",
    """
    WITH daily AS (
      SELECT event_type,
             epoch_us(date_trunc('day', ts)) // 86400000000 AS d,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(COUNT(*) * SUM(CAST(d AS HUGEINT) * y)
                - SUM(CAST(d AS HUGEINT)) * SUM(y) AS VARCHAR) AS ss_xy,
           CAST(COUNT(*) * SUM(CAST(d AS HUGEINT) * d)
                - SUM(CAST(d AS HUGEINT)) * SUM(d) AS VARCHAR) AS ss_xx,
           CAST(COUNT(*) * SUM(CAST(y AS HUGEINT) * y)
                - SUM(CAST(y AS HUGEINT)) * SUM(y) AS VARCHAR) AS ss_yy,
           CAST((COUNT(*) * SUM(CAST(d AS HUGEINT) * y)
                 - SUM(CAST(d AS HUGEINT)) * SUM(y)) * 1000000
                // (COUNT(*) * SUM(CAST(d AS HUGEINT) * d)
                    - SUM(CAST(d AS HUGEINT)) * SUM(d)) AS BIGINT)
             AS slope_ppm_per_day
    FROM daily GROUP BY event_type
    HAVING COUNT(*) >= 2
    """,
)
def events_regression_trend(spark, sf_dir):
    """Per-event-type OLS volume trend: regress daily event count on
    the epoch-day index and report the exact regression components —
    SS_xy = n*sum(xy) - sum(x)sum(y) (and xx, yy) as digit strings
    (the lineitem_corr_components discipline: at 1e13 rows these pass
    2^63 on the first multiply) plus the slope scaled to integer ppm
    events/day. slope = SS_xy/SS_xx and r^2 = SS_xy^2/(SS_xx*SS_yy)
    are one consumer-side evaluation; the trend test (is this event
    type growing?) is the monitoring primitive behind alerting on
    corpus drift. Negative slopes are exact: Spark's DIV and DuckDB's
    // both truncate toward zero (verified), so no floor-vs-trunc
    drift. Types observed on a single day are excluded (SS_xx = 0 —
    no trend is defined).

    Shape at scale: the daily rollup is one map-side-combined groupBy;
    the moment sums are a second tiny aggregate over (type, day) rows
    (bounded by types x calendar, never events). No window, no
    join."""
    ev = load_events(spark, sf_dir)
    day_us = 86_400_000_000
    daily = ev.groupBy(
        "event_type",
        F.expr(f"unix_micros(date_trunc('DAY', ts)) DIV {day_us}").alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    dec = lambda c: F.col(c).cast(_DEC)  # noqa: E731
    g = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum(dec("d")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("d") * F.col("y")).alias("sxy"),
        F.sum(dec("d") * F.col("d")).alias("sxx"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
    )
    ss_xy = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ss_xx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ss_yy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        g.filter(F.col("n") >= 2)
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_days"),
            ss_xy.cast(_DEC).cast("string").alias("ss_xy"),
            ss_xx.cast(_DEC).cast("string").alias("ss_xx"),
            ss_yy.cast(_DEC).cast("string").alias("ss_yy"),
            F.expr(
                "CAST((CAST(n AS DECIMAL(38,0)) * sxy - sx * sy) * 1000000"
                " DIV (CAST(n AS DECIMAL(38,0)) * sxx - sx * sx) AS BIGINT)"
            ).alias("slope_ppm_per_day"),
        )
    )


# ---------------------------------------------------------------------------
# Linear interpolation over the hourly grid (the non-LOCF fill policy)
# ---------------------------------------------------------------------------


@register(
    "timeseries_interp_linear",
    """
    WITH hourly AS (
      SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) // 3600000000
               AS hw, event_type,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT)
               AS value_c
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT MIN(hw) AS mn, MAX(hw) AS mx FROM hourly
    ), grid AS (
      SELECT t.event_type, g.hw
      FROM (SELECT DISTINCT event_type FROM events) t,
           (SELECT UNNEST(range(mn, mx + 1)) AS hw FROM bounds) g
    ), joined AS (
      SELECT g.event_type, g.hw, h.value_c,
             LAST_VALUE(h.value_c IGNORE NULLS) OVER w_back AS prev_c,
             LAST_VALUE(CASE WHEN h.value_c IS NOT NULL THEN g.hw END
                        IGNORE NULLS) OVER w_back AS prev_h,
             FIRST_VALUE(h.value_c IGNORE NULLS) OVER w_fwd AS next_c,
             FIRST_VALUE(CASE WHEN h.value_c IS NOT NULL THEN g.hw END
                         IGNORE NULLS) OVER w_fwd AS next_h
      FROM grid g LEFT JOIN hourly h
        ON g.event_type = h.event_type AND g.hw = h.hw
      WINDOW w_back AS (PARTITION BY g.event_type ORDER BY g.hw
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             w_fwd AS (PARTITION BY g.event_type ORDER BY g.hw
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, CAST(hw AS BIGINT) AS hw,
           CAST(value_c IS NOT NULL AS BIGINT) AS observed,
           CAST(CASE
             WHEN value_c IS NOT NULL THEN value_c
             WHEN prev_h IS NULL THEN next_c
             WHEN next_h IS NULL THEN prev_c
             ELSE prev_c + (CAST(next_c AS HUGEINT) - prev_c)
                           * (hw - prev_h) // (next_h - prev_h)
           END AS BIGINT) AS value_interp_c
    FROM joined
    """,
)
def timeseries_interp_linear(spark, sf_dir):
    """Linear interpolation over the dense hourly grid — the fill
    policy gap-fill's LOCF can't express: a missing hour between two
    observations takes the line between them (exact integer cents,
    truncated toward zero identically by both engines); hours before
    the first / after the last observation clamp to the nearest one.
    Observed hours pass through untouched, and the `observed` flag
    makes the imputation auditable downstream — a curation pipeline
    that can't distinguish measured from imputed values poisons every
    consumer.

    Shape at scale: the grid is types x hour-range (generated, tiny);
    one join back to the hourly aggregate; both fill windows share the
    (event_type, hw) ordering so they plan onto ONE exchange with
    bounded per-type state (calendar-sized, streaming-friendly). The
    interpolation itself is a projection."""
    ev = load_events(spark, sf_dir)
    hour_us = 3_600_000_000
    hourly = ev.groupBy(
        # decimal, not float /: a double quotient rounds past 2^53
        # micros and drifts from the oracle's //. The window start is
        # hour-aligned, so it is an exact multiple of hour_us and the
        # decimal division is lossless at any magnitude.
        (
            F.unix_micros(F.window("ts", "1 hour").start)
            .cast("decimal(38,0)")
            / hour_us
        )
        .cast("long")
        .alias("hw"),
        "event_type",
    ).agg(
        (F.sum(F.col("value").cast("decimal(12,2)")) * 100)
        .cast("bigint")
        .alias("value_c")
    )
    bounds = hourly.agg(F.min("hw").alias("mn"), F.max("hw").alias("mx"))
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence("mn", "mx")).alias("hw"),
    )
    j = grid.join(hourly, ["event_type", "hw"], "left")
    w_back = (
        W.partitionBy("event_type")
        .orderBy("hw")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_fwd = (
        W.partitionBy("event_type")
        .orderBy("hw")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    obs_hw = F.when(F.col("value_c").isNotNull(), F.col("hw"))
    j = j.select(
        "event_type",
        "hw",
        "value_c",
        F.last("value_c", ignorenulls=True).over(w_back).alias("prev_c"),
        F.last(obs_hw, ignorenulls=True).over(w_back).alias("prev_h"),
        F.first("value_c", ignorenulls=True).over(w_fwd).alias("next_c"),
        F.first(obs_hw, ignorenulls=True).over(w_fwd).alias("next_h"),
    )
    interp = (
        F.when(F.col("value_c").isNotNull(), F.col("value_c"))
        .when(F.col("prev_h").isNull(), F.col("next_c"))
        .when(F.col("next_h").isNull(), F.col("prev_c"))
        .otherwise(
            F.col("prev_c")
            + F.expr(
                "(CAST(next_c AS DECIMAL(38,0)) - prev_c) * (hw - prev_h)"
                " DIV (next_h - prev_h)"
            )
        )
    )
    return j.select(
        "event_type",
        F.col("hw").cast("bigint").alias("hw"),
        F.col("value_c").isNotNull().cast("bigint").alias("observed"),
        interp.cast("bigint").alias("value_interp_c"),
    )


# ---------------------------------------------------------------------------
# Nearest as-of join: closest right row in EITHER direction
# ---------------------------------------------------------------------------


@register(
    "join_asof_nearest",
    """
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), purch AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id, ts ORDER BY event_id DESC
               ) AS rn
        FROM events WHERE event_type = 'purchase'
      ) WHERE rn = 1
    ), b AS (
      SELECT c.event_id, c.user_id, c.ts, p.ts AS pts, p.value AS pval
      FROM clicks c ASOF LEFT JOIN purch p
        ON c.user_id = p.user_id AND c.ts >= p.ts
    ), f AS (
      SELECT c.event_id, p.ts AS nts, p.value AS nval
      FROM clicks c ASOF LEFT JOIN purch p
        ON c.user_id = p.user_id AND c.ts <= p.ts
    )
    SELECT b.event_id, b.user_id,
           CASE WHEN pts IS NULL AND nts IS NULL THEN NULL
                WHEN nts IS NULL THEN 'prev'
                WHEN pts IS NULL THEN 'next'
                WHEN epoch_us(b.ts) - epoch_us(pts)
                     <= epoch_us(nts) - epoch_us(b.ts) THEN 'prev'
                ELSE 'next' END AS side,
           CAST(CASE WHEN pts IS NULL AND nts IS NULL THEN NULL
                WHEN nts IS NULL THEN epoch_us(b.ts) - epoch_us(pts)
                WHEN pts IS NULL THEN epoch_us(nts) - epoch_us(b.ts)
                WHEN epoch_us(b.ts) - epoch_us(pts)
                     <= epoch_us(nts) - epoch_us(b.ts)
                  THEN epoch_us(b.ts) - epoch_us(pts)
                ELSE epoch_us(nts) - epoch_us(b.ts) END AS BIGINT) AS dt_us,
           CAST(CASE WHEN pts IS NULL AND nts IS NULL THEN NULL
                WHEN nts IS NULL THEN pval
                WHEN pts IS NULL THEN nval
                WHEN epoch_us(b.ts) - epoch_us(pts)
                     <= epoch_us(nts) - epoch_us(b.ts) THEN pval
                ELSE nval END AS DOUBLE) AS nearest_purchase
    FROM b JOIN f USING (event_id)
    """,
)
def join_asof_nearest(spark, sf_dir):
    """Nearest as-of join: for each click, the CLOSEST purchase in
    time per user in EITHER direction (ties and exact-timestamp
    matches resolve to the backward side), with the signed-side tag
    and the distance in micros — the sensor-alignment / fuzzy-
    timestamp-correlation variant neither single-direction as-of
    expresses, and one DuckDB's native ASOF lacks (the oracle states
    it as backward ASOF + forward ASOF + a distance CASE, which is
    also exactly the operator composition here).

    Shape at scale: two asof_join passes (each ONE union +
    (user, ts)-keyed sort window — never a theta join) picking the
    matched timestamp alongside the value as one struct, then a single
    hash join on event_id to compare distances. Left rows with no
    purchase on either side survive with NULLs (left semantics)."""
    from dmds_spark.operators.relational import asof_join
    from dmds_spark.queries.relational import T
    from pyspark.sql import Window as W

    ev = T(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    w = W.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", F.col("ts").alias("m_ts"), "value")
    )
    b = asof_join(
        clicks, purch, on="ts", by=["user_id"],
        right_value_cols=["m_ts", "value"], direction="backward",
    ).withColumnsRenamed({"m_ts": "pts", "value": "pval"})
    f = asof_join(
        clicks, purch, on="ts", by=["user_id"],
        right_value_cols=["m_ts", "value"], direction="forward",
    ).select(
        "event_id",
        F.col("m_ts").alias("nts"),
        F.col("value").alias("nval"),
    )
    j = b.join(f, "event_id")
    dtb = F.unix_micros("ts") - F.unix_micros("pts")
    dtf = F.unix_micros("nts") - F.unix_micros("ts")
    none = F.col("pts").isNull() & F.col("nts").isNull()
    prev = F.col("nts").isNull() | (
        F.col("pts").isNotNull() & (dtb <= dtf)
    )
    return j.select(
        "event_id",
        "user_id",
        F.when(none, F.lit(None).cast("string"))
        .when(prev, F.lit("prev"))
        .otherwise(F.lit("next"))
        .alias("side"),
        F.when(none, F.lit(None))
        .when(prev, dtb)
        .otherwise(dtf)
        .cast("bigint")
        .alias("dt_us"),
        F.when(none, F.lit(None))
        .when(prev, F.col("pval"))
        .otherwise(F.col("nval"))
        .cast("double")
        .alias("nearest_purchase"),
    )
