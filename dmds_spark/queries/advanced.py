"""Coverage completions round 2: distribution window functions
(cume_dist/percent_rank), aggregate-to-sorted-array, unpivot/melt, and
corpus n-gram top-k — §2b window/agg/semi-structured rows plus the
token-statistics side of the training-data pipeline.

Determinism: cume_dist/percent_rank are ratios of exact integer counts
(bit-identical doubles in both engines given a total order);
collect_list is sorted before compare; unpivot values come from exact
DECIMAL sums; the n-gram top-k is totally ordered by (count, bigram).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.queries.relational import T, _dec
from dmds_spark.sources.registry import load_events


@register(
    "window_cume_percent",
    """
    SELECT event_id, user_id,
           CUME_DIST() OVER w AS cd,
           PERCENT_RANK() OVER w AS pr
    FROM events
    WHERE user_id < 50
    WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
    """,
)
def window_cume_percent(spark, sf_dir):
    """Distribution window functions over each user's events. The
    (value, event_id) order is total, so there are no peer groups and
    both engines produce identical count ratios. One shuffle on
    user_id; the user_id filter pushes into the scan."""
    ev = T(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = W.partitionBy("user_id").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.cume_dist().over(w).alias("cd"),
        F.percent_rank().over(w).alias("pr"),
    )


@register(
    "agg_collect_sorted",
    """
    SELECT user_id,
           array_to_string(list_sort(list(event_type)), ',') AS types,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events WHERE user_id < 100
    GROUP BY user_id
    """,
)
def agg_collect_sorted(spark, sf_dir):
    """Aggregate-to-array (collect_list) with a deterministic sort —
    the \"gather a user's history into one row\" shape feature
    pipelines use before sequence modeling. Map-side partial collect,
    one shuffle on user_id; array_sort makes the nondeterministic
    collection order comparable. Output is the comma-joined string,
    not the array itself: the driver canonicalizer cannot hash
    array-typed cells (see queries/__init__.py docstring)."""
    ev = T(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_list("event_type")), ",")
        .alias("types"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


@register(
    "unpivot_measures",
    """
    WITH m AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM m
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM m
    """,
)
def unpivot_measures(spark, sf_dir):
    """Wide-to-long unpivot (melt) of per-flag aggregates. The unpivot
    itself is a narrow generate — no extra shuffle beyond the
    aggregation's. Exact DECIMAL sums so both engines emit identical
    doubles."""
    li = T(spark, sf_dir, "lineitem")
    m = li.groupBy("l_returnflag").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
    )
    return m.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price"],
        variableColumnName="measure",
        valueColumnName="value",
    )


@register(
    "text_ngram_topk",
    """
    WITH tok AS (
      SELECT string_split(text, ' ') AS toks FROM documents
    ), big AS (
      SELECT UNNEST([toks[i] || ' ' || toks[i + 1]
                     for i in range(1, len(toks))]) AS bigram
      FROM tok
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM big GROUP BY bigram
    ORDER BY cnt DESC, bigram
    LIMIT 20
    """,
)
def text_ngram_topk(spark, sf_dir):
    """Corpus-level top-k bigrams — the n-gram frequency pass of a
    training-data quality pipeline. Same window-lead shingle shape as
    the minhash operator (codegen-friendly, one shuffle for the window
    + one for the count); top-k is a totally-ordered limit the
    TakeOrderedAndProject exec handles without a global sort."""
    from dmds_spark.functions.text import words

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = docs.select(F.posexplode(words("text")).alias("__pos", "__w"), "doc_id")
    win = W.partitionBy("doc_id").orderBy("__pos")
    nxt = F.lead("__w", 1).over(win)
    big = tok.select(
        F.concat_ws(" ", F.col("__w"), nxt).alias("bigram"), nxt.alias("__n")
    ).filter(F.col("__n").isNotNull())
    return (
        big.groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "bigram")
        .limit(20)
    )


@register(
    "agg_salted_sum",
    """
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(user_id) AS BIGINT) AS min_user,
           CAST(MAX(user_id) AS BIGINT) AS max_user
    FROM events GROUP BY event_type
    """,
)
def agg_salted_sum(spark, sf_dir):
    """Skew-safe aggregation: events has a handful of event_type values
    (extreme key skew — a naive groupBy puts ~1/5 of 100 TB on one
    task). salted_agg shuffles on (event_type, salt16) first, then
    merges 16 partials per key — identical result, 16x the parallelism
    on the hot keys. DECIMAL sum so the salted re-sum is exact."""
    from dmds_spark.operators.skew import salted_agg

    ev = T(spark, sf_dir, "events")
    return salted_agg(
        ev,
        keys=["event_type"],
        aggs={
            "total_value": (F.sum(F.col("value").cast("decimal(18,6)")), "sum"),
            "n": (F.count(F.lit(1)), "sum"),
            "min_user": (F.min("user_id"), "min"),
            "max_user": (F.max("user_id"), "max"),
        },
        distributor_cols=["event_id"],
    ).select(
        "event_type",
        F.col("total_value").cast("double").alias("total_value"),
        F.col("n").cast("long").alias("n"),
        F.col("min_user").cast("long").alias("min_user"),
        F.col("max_user").cast("long").alias("max_user"),
    )


@register(
    "join_salted_skew",
    """
    WITH dim AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS type_total
      FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type, type_total
    FROM events e JOIN dim ON e.event_type = dim.event_type
    WHERE user_id < 200
    """,
)
def join_salted_skew(spark, sf_dir):
    """Skew-safe equi-join on a hot key: every events row joins a
    per-type dim on event_type (~5 distinct values). salted_join salts
    the fact side by event_id and replicates the dim 8x, so each hot
    key spreads over 8 tasks instead of hot-spotting one. Same rows as
    the naive join (the oracle is the naive SQL)."""
    from dmds_spark.operators.skew import salted_join

    ev = T(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("type_total")
    )
    fact = ev.filter(F.col("user_id") < 200).select("event_id", "event_type")
    return salted_join(
        fact, dim, on="event_type", distributor_cols=["event_id"], salt_n=8
    ).select("event_id", "event_type", "type_total")


@register(
    "timeseries_gapfill",
    """
    WITH hourly AS (
      SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS ws_us, event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(value AS DECIMAL(12,2))) AS total_dec
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT MIN(ws_us) AS mn, MAX(ws_us) AS mx FROM hourly
    ), grid AS (
      SELECT t.event_type, g.ws_us
      FROM (SELECT DISTINCT event_type FROM events) t,
           (SELECT UNNEST(range(mn, mx + 3600000000, 3600000000)) AS ws_us
            FROM bounds) g
    )
    SELECT g.event_type, g.ws_us,
           COALESCE(h.n, CAST(0 AS BIGINT)) AS n,
           CAST(COALESCE(
             LAST_VALUE(h.total_dec IGNORE NULLS) OVER (
               PARTITION BY g.event_type ORDER BY g.ws_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             CAST(0 AS DECIMAL(12,2))) AS DOUBLE) AS total_filled
    FROM grid g LEFT JOIN hourly h
      ON g.event_type = h.event_type AND g.ws_us = h.ws_us
    """,
)
def timeseries_gapfill(spark, sf_dir):
    """Time-series gap-fill + forward-fill (LOCF): densify hourly
    per-type aggregates over the full observed range (missing hours get
    n=0) and carry the last non-null hourly total forward. The grid is
    types x sequence(min_hour, max_hour) — generated, never shuffled
    until the one join back to the hourly aggregate; the LOCF window
    partitions by type (bounded state, streaming-friendly). Exact
    DECIMAL fill values so both engines agree bit-for-bit."""
    ev = load_events(spark, sf_dir)
    step = 3_600_000_000  # one hour in microseconds
    hourly = ev.groupBy(
        F.unix_micros(F.window("ts", "1 hour").start).alias("ws_us"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("total_dec"),
    )
    bounds = hourly.agg(
        F.min("ws_us").alias("mn"), F.max("ws_us").alias("mx")
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("mn"), F.col("mx"), F.lit(step))
            ).alias("ws_us"),
        )
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("ws_us")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = grid.join(hourly, ["event_type", "ws_us"], "left")
    return filled.select(
        "event_type",
        "ws_us",
        F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n"),
        F.coalesce(
            F.last("total_dec", ignorenulls=True).over(w),
            F.lit(0).cast("decimal(12,2)"),
        )
        .cast("double")
        .alias("total_filled"),
    )


@register(
    "join_bucketed_colocated",
    f"""
    WITH so AS (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
             % 10000) < 2000
    ), sl AS (
      SELECT l_orderkey, l_quantity FROM lineitem
      WHERE (('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT
             % 10000) < 2000
    )
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS totalprice,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
    FROM so JOIN sl ON l_orderkey = o_orderkey
    GROUP BY o_orderkey, CAST(o_totalprice AS DOUBLE)
    """,
)
def join_bucketed_colocated(spark, sf_dir):
    """Bucketed co-located join under the correctness gate: a 20%
    referential hash-slice of orders and lineitem is written ONCE as
    same-bucketed tables (8 buckets on the order key, sorted), then
    joined and aggregated on that key — the join and the groupBy both
    reuse the bucket distribution, so the only exchange in the read
    plan is none at all (pinned in tests/test_bucketing.py). This is
    the pay-the-shuffle-at-write-time pattern every repeated fact-fact
    join at 100 TB should use."""
    import os

    from dmds_spark.operators.bucketing import bucketed_join, write_bucketed
    from dmds_spark.operators.sampling import hash_sample

    # per-invocation scratch dir + table names: concurrent evaluations
    # (bench loop overlapping the correctness driver) must not race on
    # a shared path or catalog entry. The uuid only names artifacts —
    # results stay deterministic. Dirs are tiny (two projected columns
    # of a 20% slice) and die with the session temp dir.
    from dmds_spark.core.scratch import scratch_dir

    root = scratch_dir("bucketed", sf_dir)
    tag = os.path.basename(root).replace(".", "_")
    so = hash_sample(
        T(spark, sf_dir, "orders"), F.col("o_orderkey"), 0.20
    ).select("o_orderkey", "o_totalprice")
    sl = hash_sample(
        T(spark, sf_dir, "lineitem"), F.col("l_orderkey"), 0.20
    ).select("l_orderkey", "l_quantity")
    write_bucketed(so, f"bkt_orders_{tag}", ["o_orderkey"], 8,
                   path=os.path.join(root, "orders"))
    write_bucketed(sl, f"bkt_lineitem_{tag}", ["l_orderkey"], 8,
                   sort_cols=["l_orderkey"], path=os.path.join(root, "lineitem"))
    j = bucketed_join(
        spark, f"bkt_lineitem_{tag}", f"bkt_orders_{tag}",
        on=[spark.table(f"bkt_lineitem_{tag}").l_orderkey
            == spark.table(f"bkt_orders_{tag}").o_orderkey],
    )
    return j.groupBy(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("totalprice")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("qty"),
    )
