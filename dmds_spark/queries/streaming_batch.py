"""Event-time windowing over the `events` table, batch mode.

These are the batch-equivalence targets for the Structured Streaming
operators in dmds_spark.streaming (same logical windows; the streaming
tests assert stream output == these batch results). The reference's
only "streaming" is the periodic flush daemon (tokio-fs/src/lib.rs:
207-235); event-time windows are part of the declared analytics
surface (SURVEY.md §2b "streaming" row).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.sources.registry import load_events


@register(
    "window_tumbling_1h",
    """
    SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS ws_us, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM events GROUP BY 1, 2
    """,
)
def window_tumbling_1h(spark, sf_dir):
    """Tumbling 1-hour event-time window (streaming analogue:
    groupBy(window(ts, '1 hour')) with a watermark)."""
    ev = load_events(spark, sf_dir)
    return ev.groupBy(
        F.unix_micros(F.window("ts", "1 hour").start).alias("ws_us"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total"),
    )


@register(
    "window_sliding_1h_30m",
    """
    SELECT epoch_us(ws) AS ws_us, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM (
      SELECT UNNEST([time_bucket(INTERVAL '30 minutes', ts),
                     time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws,
             value
      FROM events
    ) WHERE ws IS NOT NULL
    GROUP BY ws
    """,
)
def window_sliding_1h_30m(spark, sf_dir):
    """Sliding window: 1 hour wide, 30-minute slide — each event lands
    in exactly two windows (Spark's window() expands them; the oracle
    expands explicitly with UNNEST)."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(F.unix_micros(F.window("ts", "1 hour", "30 minutes").start).alias("ws_us"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total"),
        )
    )


@register(
    "sessionize_10m",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 600000000
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, event_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(epoch_us(ts)) AS session_start_us,
           MAX(epoch_us(ts)) AS session_end_us
    FROM sessions GROUP BY user_id, session_id
    """,
)
def sessionize_10m(spark, sf_dir):
    """Sessionization with a 10-minute inactivity gap: lag + gap flag +
    running sum — the batch mirror of streaming session_window(ts,
    '10 minutes'). One sort-shuffle per user partition; scales as a
    single window pass."""
    from pyspark.sql import Window as W

    ev = load_events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # exact microsecond gap arithmetic on both engines (unix_micros /
    # epoch_us) — second-truncation or double rounding would disagree
    # on boundary gaps
    prev = F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_session = F.when(
        prev.isNull() | ((F.unix_micros(F.col("ts")) - prev) > 600_000_000),
        1,
    ).otherwise(0)
    wsum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sess = ev.withColumn("new_session", new_session).withColumn(
        "session_id", F.sum("new_session").over(wsum)
    )
    return sess.groupBy(
        "user_id", F.col("session_id").cast("bigint").alias("session_id")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.unix_micros(F.col("ts"))).alias("session_start_us"),
        F.max(F.unix_micros(F.col("ts"))).alias("session_end_us"),
    )
