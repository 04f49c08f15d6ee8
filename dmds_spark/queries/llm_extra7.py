"""Round-5 additions, batches four through six: robust statistics,
product analytics, and corpus-comparison reports — the exact weighted
median (sharded cumulative weights, no single-task window), per-group
winsorized means whose ranks come from the SAME sharded-cumsum
machinery (a running count IS a running sum of ones), MAD-based robust
daily anomaly flags (two exact lower-median passes, division-free
integer test), first-occurrence trigram novelty per source (the
memorization/freshness metric of a corpus drop), DAU/WAU/MAU rolling
actives (one offset-carrying explode, one multi-distinct aggregate),
first-order-month cohort LTV curves, temperature-scaled source-mixture
weights via exact integer square roots, an exact Kolmogorov-Smirnov
drift statistic per source, pairwise source-vocabulary Jaccard,
trailing 7-day revenue over the calendar grid, and a per-dimension
embedding health profile.

House rules (queries/__init__.py): every output column scalar, every
computed column aliased identically on both sides, every threshold
comparison in exact integer/decimal math so the driver's
order-insensitive value hash cannot drift between Spark and DuckDB.
Money lives in integer cents; the only doubles emitted are ratios of
two sub-2^53 integers, where IEEE division is correctly rounded on
both engines (documented per query).

Registered after ``llm_extra6``: unchecked names join the front of the
driver's 50-query correctness window (queries/__init__.py ordering).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.operators.relational import (
    CENTS_SQL,
    cents,
    sharded_exclusive_cumsum,
)
from dmds_spark.queries import register
from dmds_spark.core.engine import materialize
from dmds_spark.sources.registry import load_events, load_table


# ---------------------------------------------------------------------------
# exact weighted median via sharded cumulative weight
# ---------------------------------------------------------------------------


@register(
    "agg_weighted_median",
    f"""
    WITH v AS (
      SELECT l_returnflag AS flag,
             {CENTS_SQL.format(c='l_extendedprice')} AS pc,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
    ), g AS (SELECT flag, pc, SUM(w) AS w FROM v GROUP BY 1, 2),
    c AS (
      SELECT flag, pc, w,
             SUM(w) OVER (PARTITION BY flag ORDER BY pc) AS cw,
             SUM(w) OVER (PARTITION BY flag) AS tw
      FROM g
    )
    SELECT flag AS l_returnflag, CAST(MIN(tw) AS BIGINT) AS total_weight,
           CAST(MIN(pc) AS BIGINT) AS wmedian_price_cents
    FROM c WHERE 2 * cw >= tw GROUP BY flag
    """,
)
def agg_weighted_median(spark, sf_dir):
    """Exact weighted (lower) median price per return flag, weighted by
    quantity: the smallest price whose INCLUSIVE cumulative weight
    reaches half the group's total. Pure integers end to end (cents x
    unit quantities), so the reported median is an actual observed
    price — no interpolation, no float drift.

    Distributed shape: values are pre-aggregated by (flag, price) —
    collapsing ties ALSO makes the cumulative frame unambiguous (the
    oracle's RANGE frame and a ROWS frame agree once keys are unique)
    — then the running weight comes from ``sharded_exclusive_cumsum``
    (operators/relational.py): range-shard on (flag, price), per-shard
    window, broadcast shard offsets. A flag has ~3 values, so a naive
    ``PARTITION BY flag ORDER BY price`` window would drag a third of
    a 100 TB scan through ONE task; the sharded shape keeps both
    shuffles even. Group totals ride a broadcast join (3 rows).
    total_weight tops out ~5e14 at a 10^13-row corpus — bigint-safe."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_returnflag").alias("flag"),
        cents("l_extendedprice").alias("pc"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    g = v.groupBy("flag", "pc").agg(F.sum("w").alias("w"))
    c = sharded_exclusive_cumsum(
        g, by="flag", order_cols=["pc"], value_col="w", out="cb"
    )
    tw = g.groupBy("flag").agg(F.sum("w").alias("tw"))
    j = c.join(F.broadcast(tw), "flag").filter(
        2 * (F.col("cb") + F.col("w")) >= F.col("tw")
    )
    return j.groupBy("flag").agg(
        F.min("tw").cast("bigint").alias("total_weight"),
        F.min("pc").cast("bigint").alias("wmedian_price_cents"),
    ).select(
        F.col("flag").alias("l_returnflag"),
        "total_weight",
        "wmedian_price_cents",
    )


# ---------------------------------------------------------------------------
# winsorized mean account balance per nation (P5/P95 clamp)
# ---------------------------------------------------------------------------


@register(
    "suppliers_winsorized_balance",
    f"""
    WITH v AS (
      SELECT s_nationkey AS nk,
             {CENTS_SQL.format(c='s_acctbal')} AS bc,
             s_suppkey AS sk
      FROM supplier
    ), r AS (
      SELECT nk, bc,
             ROW_NUMBER() OVER (PARTITION BY nk ORDER BY bc, sk) AS rn,
             COUNT(*) OVER (PARTITION BY nk) AS n
      FROM v
    ), b AS (
      SELECT nk,
             MIN(CASE WHEN rn = (n * 5 + 99) // 100 THEN bc END) AS lo,
             MIN(CASE WHEN rn = (n * 95 + 99) // 100 THEN bc END) AS hi,
             MIN(n) AS n
      FROM r GROUP BY nk
    ), w AS (
      SELECT v.nk, LEAST(GREATEST(v.bc, b.lo), b.hi) AS wb, b.lo, b.hi, b.n
      FROM v JOIN b ON v.nk = b.nk
    )
    SELECT nk AS nationkey, CAST(MIN(n) AS BIGINT) AS n_suppliers,
           CAST(MIN(lo) AS BIGINT) AS lo_cents,
           CAST(MIN(hi) AS BIGINT) AS hi_cents,
           CAST(SUM(wb) AS BIGINT) AS wins_sum_cents,
           CAST(CAST(SUM(wb) AS DOUBLE) / MIN(n) AS DOUBLE)
             AS wins_mean_cents
    FROM w GROUP BY nk
    """,
)
def suppliers_winsorized_balance(spark, sf_dir):
    """Winsorized (5%/95%) mean account balance per nation — the
    robust-mean report that survives ledger outliers. The clamp bounds
    are the EXACT order statistics at ranks ceil(n*0.05) and
    ceil(n*0.95) (integer ceiling division, no interpolation), applied
    with LEAST/GREATEST, summed in integer cents.

    Distributed shape: the per-nation rank is a sharded running COUNT —
    literally ``sharded_exclusive_cumsum`` of ones over (nation,
    balance, suppkey), +1 — because a running count IS a running sum;
    25 nations over 100 TB through per-nation windows would serialize
    each nation through one task, while the range-shard keeps every
    shard even. Group sizes and clamp bounds are tiny per-group rows
    (#nations) and ride broadcast joins back onto the data.

    Exactness: wins_sum_cents stays under 2^53 up to ~9e7 suppliers
    per nation at max |balance| (document scale: beyond that, emit the
    digit string as in parts_price_dispersion); wins_mean_cents is one
    IEEE division of two sub-2^53 integers — correctly rounded and
    bit-identical on both engines."""
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    v = s.select(
        F.col("s_nationkey").alias("nk"),
        cents("s_acctbal").alias("bc"),
        F.col("s_suppkey").alias("sk"),
        # three consumers (rank stream, group sizes, clamp pass):
        # materialize the 3-column projection once, scan once
    ).transform(materialize)
    r = sharded_exclusive_cumsum(
        v.withColumn("one", F.lit(1)),
        by="nk",
        order_cols=["bc", "sk"],
        value_col="one",
        out="cb",
    ).withColumn("rn", F.col("cb") + 1)
    n = v.groupBy("nk").agg(F.count(F.lit(1)).alias("n"))
    r = r.join(F.broadcast(n), "nk")
    lo_rank = F.expr("(n * 5 + 99) div 100")
    hi_rank = F.expr("(n * 95 + 99) div 100")
    b = r.groupBy("nk").agg(
        F.min(F.when(F.col("rn") == lo_rank, F.col("bc"))).alias("lo"),
        F.min(F.when(F.col("rn") == hi_rank, F.col("bc"))).alias("hi"),
        F.min("n").alias("n"),
    )
    w = v.join(F.broadcast(b), "nk").select(
        "nk",
        F.least(F.greatest(F.col("bc"), F.col("lo")), F.col("hi")).alias("wb"),
        "lo",
        "hi",
        "n",
    )
    return w.groupBy("nk").agg(
        F.min("n").cast("bigint").alias("n_suppliers"),
        F.min("lo").cast("bigint").alias("lo_cents"),
        F.min("hi").cast("bigint").alias("hi_cents"),
        F.sum("wb").cast("bigint").alias("wins_sum_cents"),
        (F.sum("wb").cast("double") / F.min("n").cast("double")).alias(
            "wins_mean_cents"
        ),
    ).select(
        F.col("nk").alias("nationkey"),
        "n_suppliers",
        "lo_cents",
        "hi_cents",
        "wins_sum_cents",
        "wins_mean_cents",
    )


# ---------------------------------------------------------------------------
# first-occurrence trigram novelty per source
# ---------------------------------------------------------------------------


@register(
    "text_trigram_novelty",
    """
    WITH t AS (
      SELECT doc_id, source, string_split(text, ' ') AS toks
      FROM documents
    ), tg AS (
      SELECT DISTINCT doc_id, source,
             UNNEST([toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
                     for i in range(1, len(toks) - 1)]) AS tri
      FROM t WHERE len(toks) >= 3
    ), f AS (
      SELECT doc_id, source, tri,
             MIN(doc_id) OVER (PARTITION BY tri) AS first_doc
      FROM tg
    )
    SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS novel_trigrams,
           CAST(COUNT(*) AS BIGINT) AS total_trigrams,
           CAST(CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
                     AS DOUBLE) / COUNT(*) AS DOUBLE) AS novelty_ratio
    FROM f GROUP BY source
    """,
)
def text_trigram_novelty(spark, sf_dir):
    """Per-source trigram novelty: of each source's distinct (doc,
    trigram) pairs, the fraction whose trigram FIRST appears in that
    doc (first occurrence = lowest doc_id corpus-wide — ingestion
    order). The freshness/memorization metric of a new corpus drop: a
    source full of already-seen n-grams contributes little signal and
    much duplication to a pretraining mix.

    Shape at scale: trigrams are built per row with
    transform(sequence(...)) — no window, no UDF, stays in codegen —
    then one distinct shuffle on (doc, trigram), one window over the
    HIGH-cardinality trigram key (min doc_id; even partitions by
    construction), one agg on source. The novelty_ratio is one IEEE
    division of two sub-2^53 integers — correctly rounded on both
    engines; the integer numerator/denominator are also emitted so the
    hash pins the exact values."""
    from dmds_spark.functions.text import words

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", words("text").alias("toks"))
        .filter(F.size("toks") >= 3)
    )
    tg = d.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 3),"
                " i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))"
            )
        ).alias("tri"),
    ).distinct()
    f = tg.withColumn("first_doc", F.min("doc_id").over(W.partitionBy("tri")))
    novel = F.sum(
        F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)
    )
    return f.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        novel.cast("bigint").alias("novel_trigrams"),
        F.count(F.lit(1)).cast("bigint").alias("total_trigrams"),
        (
            novel.cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("novelty_ratio"),
    )


# ---------------------------------------------------------------------------
# MAD-based robust daily anomaly summary
# ---------------------------------------------------------------------------


@register(
    "events_daily_anomalies_mad",
    """
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS cnt
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ), r1 AS (
      SELECT event_type, day, cnt,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY cnt, day) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM d
    ), med AS (
      SELECT event_type, MIN(cnt) AS med
      FROM r1 WHERE rn = (n + 1) // 2 GROUP BY event_type
    ), dev AS (
      SELECT d.event_type, d.cnt, ABS(d.cnt - m.med) AS adev, m.med
      FROM d JOIN med m ON d.event_type = m.event_type
    ), r2 AS (
      SELECT event_type, adev,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY adev) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM dev
    ), mad AS (
      SELECT event_type, MIN(adev) AS mad
      FROM r2 WHERE rn = (n + 1) // 2 GROUP BY event_type
    )
    SELECT dev.event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MIN(dev.med) AS BIGINT) AS median_cnt,
           CAST(MIN(mad.mad) AS BIGINT) AS mad_cnt,
           CAST(SUM(CASE WHEN dev.adev > 3 * mad.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged
    FROM dev JOIN mad ON dev.event_type = mad.event_type
    GROUP BY dev.event_type
    """,
)
def events_daily_anomalies_mad(spark, sf_dir):
    """Robust (median/MAD) companion to the 3-sigma z-test in
    ``events_daily_anomalies``: per event type, the lower median of
    daily counts, the lower median of absolute deviations from it, and
    how many days deviate by more than 3 MAD. Median-based detection
    doesn't let the outliers inflate their own threshold — the reason
    ops dashboards prefer it over sigma on bursty streams. No
    consistency constant (1.4826) is applied: the test is the pure
    integer ``adev > 3 * mad``, division-free, so the flags are
    bit-identical across engines (a MAD of 0 flags every non-median
    day — the degenerate case is deterministic too).

    Scale: the daily table is (types x days) — bounded by the calendar,
    thousands of rows off a 100 TB scan — so per-type windows over it
    are trivially small; the heavy lifting is the ONE partial-agg
    groupBy producing it. Both medians are the sorted element at rank
    (n+1)//2 (an observed value, no interpolation), per the engine-wide
    exact-median idiom (events_inter_arrival_median)."""
    e = load_events(spark, sf_dir)
    d = e.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wr1 = W.partitionBy("event_type").orderBy("cnt", "day")
    wn = W.partitionBy("event_type")
    r1 = d.select(
        "event_type",
        "cnt",
        F.row_number().over(wr1).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = (
        r1.filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .groupBy("event_type")
        .agg(F.min("cnt").alias("med"))
    )
    dev = d.join(F.broadcast(med), "event_type").select(
        "event_type",
        "cnt",
        F.abs(F.col("cnt") - F.col("med")).alias("adev"),
        "med",
    )
    wr2 = W.partitionBy("event_type").orderBy("adev")
    r2 = dev.select(
        "event_type",
        "adev",
        F.row_number().over(wr2).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mad = (
        r2.filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .groupBy("event_type")
        .agg(F.min("adev").alias("mad"))
    )
    return dev.join(F.broadcast(mad), "event_type").groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.min("med").cast("bigint").alias("median_cnt"),
        F.min("mad").cast("bigint").alias("mad_cnt"),
        F.sum(
            F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
        ).cast("bigint").alias("n_flagged"),
    )


# ---------------------------------------------------------------------------
# rolling active users (DAU / WAU / MAU)
# ---------------------------------------------------------------------------


@register(
    "events_active_users_rolling",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ), days AS (SELECT DISTINCT day FROM ud),
    c7 AS (
      SELECT d.day, COUNT(DISTINCT u.user_id) AS wau
      FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
      GROUP BY d.day
    ), c30 AS (
      SELECT d.day, COUNT(DISTINCT u.user_id) AS mau
      FROM days d JOIN ud u ON u.day BETWEEN d.day - 29 AND d.day
      GROUP BY d.day
    ), c1 AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day)
    SELECT strftime(c1.day, '%Y-%m-%d') AS day, CAST(dau AS BIGINT) AS dau,
           CAST(wau AS BIGINT) AS wau, CAST(mau AS BIGINT) AS mau
    FROM c1 JOIN c7 ON c1.day = c7.day JOIN c30 ON c1.day = c30.day
    """,
)
def events_active_users_rolling(spark, sf_dir):
    """DAU / WAU / MAU per observed day: distinct users active that
    day, in the trailing 7 days, and the trailing 30 days — the
    product-health triple every event pipeline reports.

    Distributed shape: activity first collapses to DISTINCT (user,
    day) — bounding everything downstream by users x days, not raw
    events — then ONE posexplode fans each activity day into the 30
    trailing days it covers, carrying the offset, and a SINGLE
    aggregate computes all three metrics with offset-conditional
    count-distincts (offset 0 = DAU, <=6 = WAU, any = MAU). One scan,
    one explode, one multi-distinct aggregate — versus the naive three
    separate explode+agg branches re-reading the activity table three
    times (plan-audited: 9 shuffles / 3 scans down to ~4 / 1). No
    per-day range join against the raw stream, no single-partition
    window. The observed-days semi-join (broadcast, calendar-sized)
    drops covered days beyond the data's horizon so both engines
    evaluate the same day set."""
    e = load_events(spark, sf_dir)
    ud = (
        e.select(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .distinct()
        # reused by the cover explode AND the observed-days list: one
        # materialization of the (small) collapsed activity, one scan
        .transform(materialize)
    )
    days = ud.select("day").distinct()
    cov = ud.select(
        "user_id",
        F.posexplode(
            F.expr("sequence(day, date_add(day, 29))")
        ).alias("off", "day"),
    ).join(F.broadcast(days), "day", "left_semi")
    return cov.groupBy("day").agg(
        F.countDistinct(
            F.when(F.col("off") == 0, F.col("user_id"))
        ).cast("bigint").alias("dau"),
        F.countDistinct(
            F.when(F.col("off") <= 6, F.col("user_id"))
        ).cast("bigint").alias("wau"),
        F.countDistinct("user_id").cast("bigint").alias("mau"),
    ).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "dau",
        "wau",
        "mau",
    )


# ---------------------------------------------------------------------------
# customer cohort LTV curves
# ---------------------------------------------------------------------------


@register(
    "orders_cohort_ltv",
    f"""
    WITH fo AS (
      SELECT o_custkey, MIN(date_trunc('month', o_orderdate)) AS cm
      FROM orders GROUP BY 1
    ), r AS (
      SELECT f.cm,
             (EXTRACT(year FROM o.o_orderdate) * 12
              + EXTRACT(month FROM o.o_orderdate))
             - (EXTRACT(year FROM f.cm) * 12
                + EXTRACT(month FROM f.cm)) AS age,
             {CENTS_SQL.format(c='o.o_totalprice')} AS cents
      FROM orders o JOIN fo f ON o.o_custkey = f.o_custkey
    ), g AS (
      SELECT cm, age, SUM(cents) AS rev, COUNT(*) AS n_orders
      FROM r GROUP BY 1, 2
    )
    SELECT strftime(cm, '%Y-%m') AS cohort_month,
           CAST(age AS BIGINT) AS age_months,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(rev AS BIGINT) AS rev_cents,
           CAST(SUM(rev) OVER (PARTITION BY cm ORDER BY age)
                AS BIGINT) AS cum_rev_cents
    FROM g
    """,
)
def orders_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value curves: customers grouped by first-order
    month, revenue accumulated by order age in months — the retention
    economics table behind every LTV model. Exact integer cents
    (bigint stays exact in BOTH engines' hashes — the 2^53 emission
    contract applies to doubles, not int64).

    Shape at scale: the first-order month is one partial-combined agg
    on custkey; attaching it is a co-partitioned equi-join on the same
    key (both sides shuffle-partition on custkey — no broadcast of a
    per-customer table); the cumulative sum runs over the (cohort x
    age) grid, calendar-bounded (hundreds of rows per cohort), where a
    plain per-cohort window is legitimately small forever."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # first-order month via a window over the HIGH-cardinality custkey
    # (even partitions): one scan + one shuffle, vs the agg + self-join
    # shape's two scans and two shuffles of the same table
    wc = W.partitionBy("o_custkey")
    withcm = o.withColumn(
        "cm", F.min(F.trunc("o_orderdate", "month")).over(wc)
    )
    mo = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    mc = F.year("cm") * 12 + F.month("cm")
    r = withcm.select(
        "cm",
        (mo - mc).alias("age"),
        cents("o_totalprice").alias("cents"),
    )
    g = r.groupBy("cm", "age").agg(
        F.sum("cents").alias("rev"), F.count(F.lit(1)).alias("n_orders")
    )
    w = (
        W.partitionBy("cm")
        .orderBy("age")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return g.select(
        F.date_format("cm", "yyyy-MM").alias("cohort_month"),
        F.col("age").cast("bigint").alias("age_months"),
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("rev").cast("bigint").alias("rev_cents"),
        F.sum("rev").over(w).cast("bigint").alias("cum_rev_cents"),
    )


# ---------------------------------------------------------------------------
# temperature-scaled source mixture weights (alpha = 0.5, integer-exact)
# ---------------------------------------------------------------------------


@register(
    "sample_temperature_mixture",
    """
    WITH s AS (
      SELECT source, SUM(len(string_split(text, ' '))) AS toks
      FROM documents GROUP BY 1
    ), i AS (
      SELECT source, toks,
             CAST(FLOOR(SQRT(CAST(toks AS DOUBLE))) AS BIGINT) AS s0
      FROM s
    ), adj AS (
      SELECT source, toks,
             s0 - CASE WHEN s0 * s0 > toks THEN 1 ELSE 0 END
                + CASE WHEN (s0 + 1) * (s0 + 1) <= toks THEN 1 ELSE 0 END
               AS isq
      FROM i
    ), t AS (SELECT SUM(isq) AS tot FROM adj)
    SELECT source, CAST(toks AS BIGINT) AS n_tokens,
           CAST(isq AS BIGINT) AS sqrt_tokens,
           CAST(1000000 * isq // tot AS BIGINT) AS weight_ppm
    FROM adj, t
    """,
)
def sample_temperature_mixture(spark, sf_dir):
    """Temperature-scaled source sampling weights at alpha = 0.5 (the
    multilingual/multi-source rebalancing rule: w_s proportional to
    p_s^alpha, upweighting tail sources): with alpha = 1/2 the weights
    are sqrt(tokens_s) / sum(sqrt(tokens_k)) — and the engine computes
    the INTEGER square root so every emitted number is exact. IEEE
    sqrt is correctly rounded, but floor(sqrt(x)) can still land off
    by one exactly at perfect-square boundaries, so the +-1 integer
    correction re-anchors it: s*s <= x < (s+1)*(s+1) holds by
    construction on both engines. Weights are floor ppm of exact
    integers. (A general alpha needs pow(), which is NOT correctly
    rounded and WOULD hash-drift across engines — why this query pins
    the sqrt case; arbitrary alpha belongs engine-side.)

    Shape: one token-count agg per source (partial-combined), then a
    ~#sources-row table; the total rides a 1-row cross join."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("toks")
    )
    s0 = F.floor(F.sqrt(F.col("toks").cast("double"))).cast("long")
    adj = s.withColumn("s0", s0).withColumn(
        "isq",
        F.col("s0")
        - F.when(F.col("s0") * F.col("s0") > F.col("toks"), 1).otherwise(0)
        + F.when(
            (F.col("s0") + 1) * (F.col("s0") + 1) <= F.col("toks"), 1
        ).otherwise(0),
    )
    tot = adj.agg(F.sum("isq").alias("tot"))
    return adj.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("toks").cast("bigint").alias("n_tokens"),
        F.col("isq").cast("bigint").alias("sqrt_tokens"),
        F.expr("1000000 * isq div tot").cast("bigint").alias("weight_ppm"),
    )


# ---------------------------------------------------------------------------
# Kolmogorov-Smirnov drift per source vs the corpus
# ---------------------------------------------------------------------------


@register(
    "profile_ks_drift",
    """
    WITH sc AS (
      SELECT source, n_chars AS v, COUNT(*) AS c
      FROM documents GROUP BY 1, 2
    ), vals AS (SELECT DISTINCT v FROM sc),
    srcs AS (SELECT DISTINCT source FROM sc),
    grid AS (SELECT srcs.source, vals.v FROM srcs, vals),
    scum AS (
      SELECT g.source, g.v,
             SUM(COALESCE(sc.c, 0)) OVER (
               PARTITION BY g.source ORDER BY g.v) AS cs
      FROM grid g LEFT JOIN sc ON sc.source = g.source AND sc.v = g.v
    ), gcum AS (
      SELECT v, SUM(cs) AS gc FROM scum GROUP BY v
    ), ns AS (SELECT source, SUM(c) AS ns FROM sc GROUP BY source),
    n AS (SELECT SUM(c) AS N FROM sc)
    SELECT scum.source, CAST(MIN(ns.ns) AS BIGINT) AS n_source,
           CAST(MIN(n.N) AS BIGINT) AS n_corpus,
           CAST(MAX(ABS(CAST(scum.cs AS HUGEINT) * n.N
                        - CAST(gcum.gc AS HUGEINT) * ns.ns)) AS VARCHAR)
             AS ks_num,
           CAST(CAST(MAX(ABS(CAST(scum.cs AS HUGEINT) * n.N
                             - CAST(gcum.gc AS HUGEINT) * ns.ns)) AS DOUBLE)
                / CAST(CAST(MIN(ns.ns) AS HUGEINT) * MIN(n.N) AS DOUBLE)
                AS DOUBLE) AS ks_stat
    FROM scum JOIN gcum ON scum.v = gcum.v
              JOIN ns ON ns.source = scum.source, n
    GROUP BY scum.source
    """,
)
def profile_ks_drift(spark, sf_dir):
    """Exact Kolmogorov-Smirnov distance between each source's doc-
    length distribution and the whole corpus — the drift gate run on
    every new corpus drop before it joins the training mix. The step
    ECDFs are compared at EVERY distinct observed length (where the sup
    of a step-function difference lives), with the difference kept in
    cross-multiplied integers: |cs*N - gc*ns| — division-free, so the
    max is exact; ks_stat is one IEEE division at the end.

    Shape at scale: raw docs collapse to (source, length) counts
    first (the only data-sized agg); everything after runs on the
    sources x lengths grid, bounded by the length domain (~1e5) times
    #sources, not by rows. Per-source cumulative counts window over
    source (even, grid-sized partitions); the corpus cumulative is
    recovered as the SUM of per-source cumulatives at each length —
    partitioned by the high-cardinality length key, so no
    single-partition global window anywhere."""
    d = load_table(spark, sf_dir, "documents")
    sc = (
        d.groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        # fanned out to SIX consumers (vals/srcs/grid/scum/ns/n): one
        # materialization of the tiny counts table, one scan of docs
        # (plan-audited: 6 scans down to 1)
        .transform(materialize)
    )
    vals = sc.select("v").distinct()
    srcs = sc.select("source").distinct()
    grid = srcs.crossJoin(F.broadcast(vals))
    wcum = (
        W.partitionBy("source")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    scum = (
        grid.join(sc, ["source", "v"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
        .withColumn("cs", F.sum("c").over(wcum))
    )
    gcum = scum.groupBy("v").agg(F.sum("cs").alias("gc"))
    ns = sc.groupBy("source").agg(F.sum("c").alias("ns"))
    n = sc.agg(F.sum("c").alias("N"))
    j = (
        scum.join(gcum, "v")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(n))
    )
    # cross-multiplied ECDF difference widened to decimal(38,0) BEFORE
    # the products: cs*N and ns*N pass 2^63 beyond ~3e9 docs (ANSI
    # overflow on both engines otherwise); ks_num emitted as a digit
    # string per the exactness contract since it can exceed bigint too
    dec = "decimal(38,0)"
    diff = F.abs(
        F.col("cs").cast(dec) * F.col("N")
        - F.col("gc").cast(dec) * F.col("ns")
    )
    return j.groupBy("source").agg(
        F.min("ns").cast("bigint").alias("n_source"),
        F.min("N").cast("bigint").alias("n_corpus"),
        F.max(diff).cast("string").alias("ks_num"),
        (
            F.max(diff).cast("double")
            / (F.min("ns").cast(dec) * F.min("N")).cast("double")
        ).alias("ks_stat"),
    )


# ---------------------------------------------------------------------------
# pairwise source vocabulary overlap (Jaccard)
# ---------------------------------------------------------------------------


@register(
    "text_source_vocab_jaccard",
    """
    WITH st AS (
      SELECT DISTINCT source, UNNEST(string_split(text, ' ')) AS tok
      FROM documents
    ), n AS (SELECT source, COUNT(*) AS nv FROM st GROUP BY 1),
    i AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
      FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, CAST(na.nv AS BIGINT) AS vocab_a,
           CAST(nb.nv AS BIGINT) AS vocab_b,
           CAST(inter AS BIGINT) AS inter,
           CAST(CAST(inter AS DOUBLE) / (na.nv + nb.nv - inter) AS DOUBLE)
             AS jaccard
    FROM i JOIN n na ON na.source = src_a JOIN n nb ON nb.source = src_b
    """,
)
def text_source_vocab_jaccard(spark, sf_dir):
    """Pairwise vocabulary Jaccard similarity between sources — the
    corpus-comparison matrix (which crawls/sources cover the same
    lexical ground, which bring genuinely new vocabulary to the mix).

    Shape at scale: documents collapse to DISTINCT (source, token)
    first — bounded by vocabulary x #sources, not rows — then the
    token self-join has per-key fan-out bounded by #SOURCES (each
    token appears once per source after the distinct), so the pair
    count is at most vocab x sources^2 / 2: never an all-pairs blowup.
    Union sizes come from inclusion-exclusion (|A|+|B|-inter, exact
    integers); jaccard is the one IEEE division at the end."""
    from dmds_spark.functions.text import words

    d = load_table(spark, sf_dir, "documents")
    st = d.select(
        "source", F.explode(words("text")).alias("tok")
    ).distinct()
    n = st.groupBy("source").agg(F.count(F.lit(1)).alias("nv"))
    a = st.select(F.col("source").alias("src_a"), "tok")
    b = st.select(F.col("source").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = n.select(F.col("source").alias("src_a"), F.col("nv").alias("vocab_a"))
    nb = n.select(F.col("source").alias("src_b"), F.col("nv").alias("vocab_b"))
    return (
        inter.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("vocab_a").cast("bigint").alias("vocab_a"),
            F.col("vocab_b").cast("bigint").alias("vocab_b"),
            F.col("inter").cast("bigint").alias("inter"),
            (
                F.col("inter").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("inter"))
                .cast("double")
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# trailing 7-day revenue over the day grid
# ---------------------------------------------------------------------------


@register(
    "orders_rolling_7d_revenue",
    f"""
    WITH d AS (
      SELECT o_orderdate AS day,
             SUM({CENTS_SQL.format(c='o_totalprice')}) AS rev,
             COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(rev AS BIGINT) AS rev_cents,
           CAST(SUM(rev) OVER (
             ORDER BY day
             RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS rev_7d_cents
    FROM d
    """,
)
def orders_rolling_7d_revenue(spark, sf_dir):
    """Daily revenue with a trailing 7-day rolling total — the
    smoothed topline metric. The rolling frame is a RANGE frame over
    epoch days (gaps in the calendar shrink the window, exactly as the
    oracle's INTERVAL frame does — a ROWS frame would silently bridge
    gaps and diverge).

    Shape: ONE partial-combined aggregate collapses the scan to the
    day grid (calendar-bounded: a few thousand rows off any corpus
    size), and only that grid passes through the unpartitioned range
    window — the standard and correct trade for a global rolling
    metric (the window input is bounded by the CALENDAR, not the
    data). Exact integer cents throughout."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    d = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(cents("o_totalprice")).alias("rev"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = (
        W.orderBy(F.unix_date("day"))
        .rangeBetween(-6, W.currentRow)
    )
    return d.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("rev").cast("bigint").alias("rev_cents"),
        F.sum("rev").over(w).cast("bigint").alias("rev_7d_cents"),
    )


# ---------------------------------------------------------------------------
# per-dimension embedding health stats
# ---------------------------------------------------------------------------


@register(
    "embedding_dim_stats",
    """
    WITH r AS (
      SELECT UNNEST([{'pos': i - 1, 'x': embedding[i]}
                     for i in range(1, len(embedding) + 1)]) AS u
      FROM embeddings
    )
    SELECT CAST(u.pos AS INT) AS pos, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(CAST(u.x AS DOUBLE) AS DECIMAL(28,12)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_v,
           CAST(MIN(CAST(u.x AS DOUBLE)) AS DOUBLE) AS min_v,
           CAST(MAX(CAST(u.x AS DOUBLE)) AS DOUBLE) AS max_v,
           CAST(SUM(CASE WHEN u.x = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero
    FROM r GROUP BY u.pos
    """,
)
def embedding_dim_stats(spark, sf_dir):
    """Per-dimension embedding health profile: mean (decimal-exact sum,
    one IEEE division — the centroids idiom), min/max (float compares
    are exact, and float->double widening is lossless on both
    engines), and the dead-dimension zero count. The check run before
    trusting a new embedding model drop: collapsed or saturated
    dimensions show up as degenerate rows here.

    One posexplode + one shuffle on the (dim) key — #dims partitions
    of n rows each; at billions of vectors the partial aggregation
    combines map-side so the shuffle carries #dims rows per task, not
    elements."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = e.select(F.posexplode("embedding").alias("pos", "x"))
    xd = F.col("x").cast("double")
    return rows.groupBy("pos").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum(xd.cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_v"),
        F.min(xd).alias("min_v"),
        F.max(xd).alias("max_v"),
        F.sum(F.when(F.col("x") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero"),
    )
