"""Round-5 additions, batch three: dataset-profiling and curation
reports that close out the daily-ops surface — exact covariance
components, equi-depth price bins, cross-source near-dup contamination,
event-transition counts, dwell-time-weighted values, Pareto/ABC
supplier classes, year-over-year brand revenue, output-shard write
planning, interval-concurrency peaks, common-neighbor link prediction
over the purchase graph, watermark late-arrival accounting (sharded
running max), hapax-legomena lexical diversity, per-brand price
dispersion, and the oracle-checked incremental-rollup maintenance
proof.

House rules (queries/__init__.py): every output column scalar, every
computed column aliased identically on both sides, every ranking and
threshold comparison in exact integer/decimal math so the driver's
order-insensitive value hash cannot drift between Spark and DuckDB.
Money lives in integer cents (`CAST(DECIMAL(12,2)*100 AS BIGINT)`);
wide sums are decimal(38,0) on the Spark side and HUGEINT on the
DuckDB side — both exact to ~1e38, which every magnitude bound below
stays under by design (documented per query).

Registered after ``llm_extra5``: unchecked names join the front of the
driver's 50-query correctness window (queries/__init__.py ordering).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.core.engine import maybe_broadcast
from dmds_spark.operators.relational import (
    CENTS_SQL,
    cents,
    global_row_number,
    ntile_from_rn,
    sharded_exclusive_cumsum,
)
from dmds_spark.queries import register
from dmds_spark.queries.llm_dedup import (
    BANDS,
    CAND_CTE,
    EST_SQL,
    NUM_HASHES,
)
from dmds_spark.sources.registry import load_events, load_table


# ---------------------------------------------------------------------------
# exact covariance components over lineitem numeric pairs, one scan
# ---------------------------------------------------------------------------

_COV_AGG_SQL = """
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CAST(q AS HUGEINT)) AS sq, SUM(CAST(p AS HUGEINT)) AS sp,
         SUM(CAST(d AS HUGEINT)) AS sd,
         SUM(CAST(q * p AS HUGEINT)) AS sqp,
         SUM(CAST(q * d AS HUGEINT)) AS sqd,
         SUM(CAST(p * d AS HUGEINT)) AS spd
  FROM c
"""


@register(
    "profile_covariance",
    f"""
    WITH c AS (
      SELECT {CENTS_SQL.format(c='l_quantity')} AS q,
             {CENTS_SQL.format(c='l_extendedprice')} AS p,
             CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS d
      FROM lineitem
    ), a AS ({_COV_AGG_SQL})
    SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
           CAST(n AS BIGINT) AS n_rows,
           CAST(sq AS DOUBLE) AS sum_x, CAST(sp AS DOUBLE) AS sum_y,
           CAST(sqp AS DOUBLE) AS sum_xy,
           CAST(n * sqp - sq * sp AS VARCHAR) AS cov_num
    FROM a
    UNION ALL
    SELECT 'l_quantity', 'l_discount', CAST(n AS BIGINT),
           CAST(sq AS DOUBLE), CAST(sd AS DOUBLE), CAST(sqd AS DOUBLE),
           CAST(n * sqd - sq * sd AS VARCHAR)
    FROM a
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount', CAST(n AS BIGINT),
           CAST(sp AS DOUBLE), CAST(sd AS DOUBLE), CAST(spd AS DOUBLE),
           CAST(n * spd - sp * sd AS VARCHAR)
    FROM a
    """,
)
def profile_covariance(spark, sf_dir):
    """Exact pairwise covariance components for the lineitem numeric
    triple (quantity, extendedprice, discount) — the feature-drift
    check a pipeline runs before trusting a new data drop. All three
    pairs come from ONE scan and ONE partial-aggregating reduce (7
    sums), then a driver-free ``stack`` fans the single agg row into
    long format — never three scans, never an array column.

    Exactness/overflow: values are integer cents / integer percent, the
    sums decimal(38,0) (HUGEINT on the oracle side). The largest
    intermediate, n*sum_xy, is ~5e34 at a 10^12-row (100 TB) corpus —
    inside both engines' 38-digit exact range; cov_num = n*Sxy - Sx*Sy
    is division-free so no rounding ever happens. cov_num is emitted
    as the exact DIGIT STRING because its values exceed 2^53 and
    DuckDB's HUGEINT->DOUBLE cast is not correctly rounded there
    (see parts_price_dispersion); the per-column sums stay DOUBLE —
    they are below 2^53 at the oracle's sf0.01 so the cast is exact."""
    li = load_table(spark, sf_dir, "lineitem")
    c = li.select(
        cents("l_quantity").alias("q"),
        cents("l_extendedprice").alias("p"),
        (F.col("l_discount").cast("decimal(4,2)") * 100)
        .cast("long")
        .alias("d"),
    )
    dec = "decimal(38,0)"
    a = c.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("q").cast(dec)).alias("sq"),
        F.sum(F.col("p").cast(dec)).alias("sp"),
        F.sum(F.col("d").cast(dec)).alias("sd"),
        F.sum((F.col("q") * F.col("p")).cast(dec)).alias("sqp"),
        F.sum((F.col("q") * F.col("d")).cast(dec)).alias("sqd"),
        F.sum((F.col("p") * F.col("d")).cast(dec)).alias("spd"),
    )
    return a.selectExpr(
        """stack(3,
             'l_quantity', 'l_extendedprice', CAST(n AS BIGINT),
             CAST(sq AS DOUBLE), CAST(sp AS DOUBLE), CAST(sqp AS DOUBLE),
             CAST(n * sqp - sq * sp AS STRING),
             'l_quantity', 'l_discount', CAST(n AS BIGINT),
             CAST(sq AS DOUBLE), CAST(sd AS DOUBLE), CAST(sqd AS DOUBLE),
             CAST(n * sqd - sq * sd AS STRING),
             'l_extendedprice', 'l_discount', CAST(n AS BIGINT),
             CAST(sp AS DOUBLE), CAST(sd AS DOUBLE), CAST(spd AS DOUBLE),
             CAST(n * spd - sp * sd AS STRING)
           ) AS (col_x, col_y, n_rows, sum_x, sum_y, sum_xy, cov_num)"""
    )


# ---------------------------------------------------------------------------
# equi-depth price bins via the distributed global NTILE
# ---------------------------------------------------------------------------


@register(
    "profile_equidepth_bins",
    f"""
    WITH r AS (
      SELECT {CENTS_SQL.format(c='l_extendedprice')} AS pc,
             l_orderkey, l_linenumber
      FROM lineitem
    ), b AS (
      SELECT pc,
             NTILE(10) OVER (ORDER BY pc, l_orderkey, l_linenumber) AS bin
      FROM r
    )
    SELECT CAST(bin AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(MIN(pc) AS BIGINT) AS lo_cents,
           CAST(MAX(pc) AS BIGINT) AS hi_cents
    FROM b GROUP BY bin
    """,
)
def profile_equidepth_bins(spark, sf_dir):
    """Equi-depth (decile) histogram boundaries of l_extendedprice —
    the bin layout an optimizer or drift monitor wants, where every bin
    holds the same row count. The global NTILE is the distributed one:
    range-repartition on (price, tie-break), per-shard row_number, and
    per-shard offsets from a #partitions-sized collect
    (``global_row_number``) — never the single-partition ORDER BY
    window that serializes the corpus through one task — then
    ``ntile_from_rn`` turns rank + total count into the SQL-standard
    bucket in pure integer math (exact past 2^53 rows). The total count
    is parquet row-group metadata (a metadata-only job, no data scan)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        cents("l_extendedprice").alias("pc"), "l_orderkey", "l_linenumber"
    )
    n = li.count()
    ranked = global_row_number(
        li, [F.col("pc").asc(), F.col("l_orderkey").asc(),
             F.col("l_linenumber").asc()],
    )
    binned = ranked.withColumn(
        "bin", ntile_from_rn(F.col("rn"), n, 10).cast("long")
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.min("pc").cast("long").alias("lo_cents"),
        F.max("pc").cast("long").alias("hi_cents"),
    )


# ---------------------------------------------------------------------------
# cross-source near-dup contamination matrix
# ---------------------------------------------------------------------------


@register(
    "dedup_cross_source_overlap",
    CAND_CTE
    + f"""
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS shared_pairs
    FROM cand
    JOIN documents da ON da.doc_id = cand.id_a
    JOIN documents db ON db.doc_id = cand.id_b
    WHERE {EST_SQL} >= 0.5
    GROUP BY 1, 2
    """,
)
def dedup_cross_source_overlap(spark, sf_dir):
    """Cross-source contamination matrix: for every unordered source
    pair, how many near-duplicate document pairs (MinHash estimate >=
    0.5) span them. The report that decides which crawl snapshots
    double-count each other before a pretrain mix is weighted. Reuses
    the bucketed LSH pair pipeline (id-only shuffles); the two source
    lookups join against an EXPLICITLY broadcast (doc_id, source)
    projection. The broadcast direction matters: left to itself, AQE
    broadcasts the smaller LSH-pair side — and building each broadcast
    RE-EXECUTES the pair pipeline it wraps, tripling the expensive LSH
    stage (measured 17.6 s -> 3.1 s at sf0.1 from this one hint). At
    100 TB the id->source map outgrows a broadcast; then the right
    shape is the checkpoint-the-pairs barrier (triangle-count pattern)
    plus two shuffle equi-joins."""
    from dmds_spark.operators.dedup import dedup_minhash

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash(docs, "text", "doc_id", NUM_HASHES, BANDS, 0.5)
    src = docs.select("doc_id", "source")
    j = (
        pairs.select("id_a", "id_b")
        .join(
            F.broadcast(
                src.withColumnsRenamed({"doc_id": "id_a", "source": "sa"})
            ),
            "id_a",
        )
        .join(
            F.broadcast(
                src.withColumnsRenamed({"doc_id": "id_b", "source": "sb"})
            ),
            "id_b",
        )
    )
    return (
        j.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_pairs"))
    )


# ---------------------------------------------------------------------------
# event-type transition counts (first-order Markov table)
# ---------------------------------------------------------------------------


@register(
    "events_transition_counts",
    """
    WITH s AS (
      SELECT event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM s WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_transition_counts(spark, sf_dir):
    """First-order Markov transition table over per-user event streams
    — the input behind any journey/flow diagram. One window ``lead``
    per user (user_id keys are high-cardinality and even, so the sort
    shuffle balances) and one count shuffle over at most |types|^2
    groups. State per window frame is one row; never a per-user
    collect."""
    ev = load_events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        s.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# dwell-time-weighted event values
# ---------------------------------------------------------------------------


@register(
    "events_time_weighted_value",
    """
    WITH s AS (
      SELECT event_type,
             CAST(FLOOR(value * 1000) AS BIGINT) AS vm,
             LEAD(epoch_us(ts)) OVER (
               PARTITION BY event_type, user_id ORDER BY ts, event_id
             ) - epoch_us(ts) AS w_us
      FROM events
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(CAST(vm * w_us AS HUGEINT)) AS VARCHAR) AS num,
           CAST(SUM(CAST(w_us AS HUGEINT)) AS DOUBLE) AS den_us
    FROM s WHERE w_us IS NOT NULL
    GROUP BY event_type
    """,
)
def events_time_weighted_value(spark, sf_dir):
    """Time-weighted value per event type: each event's value counts
    for the microseconds until the user's next event of the same type
    (TWAP semantics — a 2-hour-stale price weighs 2 hours, not 1 tick).
    The window partitions by (event_type, user_id) — high-cardinality
    even keys — NOT by event_type alone, which would drag each type's
    whole global stream through one task at scale. Exactness: value is
    fixed-pointed via FLOOR(value*1000) (floor of the same IEEE double
    is bit-identical in both engines — no ROUND half-case hazard),
    weights are integer micros, and the weighted sums are
    decimal(38,0)/HUGEINT: bounded by ~5e5 (milli-value) * 1e13 us/week
    * 1e12 rows ~ 5e30 at the 100 TB framing — inside the exact range.
    num is emitted as the exact digit string (its magnitude passes
    2^53, where DuckDB's HUGEINT->DOUBLE cast stops being correctly
    rounded — see parts_price_dispersion); den_us stays double (below
    2^53 at the oracle scale). num/den are emitted separately (division would reintroduce
    engine-specific rounding)."""
    ev = load_events(spark, sf_dir)
    w = W.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    dec = "decimal(38,0)"
    s = ev.select(
        "event_type",
        F.floor(F.col("value") * 1000).alias("vm"),
        (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")).alias(
            "w_us"
        ),
    )
    return (
        s.filter(F.col("w_us").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
            F.sum((F.col("vm") * F.col("w_us")).cast(dec))
            .cast("string")
            .alias("num"),
            F.sum(F.col("w_us").cast(dec)).cast("double").alias("den_us"),
        )
    )


# ---------------------------------------------------------------------------
# Pareto / ABC supplier classification by revenue share
# ---------------------------------------------------------------------------


@register(
    "suppliers_pareto_class",
    f"""
    WITH r AS (
      SELECT l_suppkey AS s_suppkey,
             SUM(CAST({CENTS_SQL.format(c='l_extendedprice')} *
                      (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                                  AS BIGINT)) AS HUGEINT)) AS rev
      FROM lineitem GROUP BY 1
    ), c AS (
      SELECT s_suppkey, rev,
             ROW_NUMBER() OVER (ORDER BY rev DESC, s_suppkey) AS rnk,
             SUM(rev) OVER (ORDER BY rev DESC, s_suppkey
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(rev) OVER () AS total
      FROM r
    )
    SELECT s_suppkey, CAST(rev AS DOUBLE) AS revenue_c,
           CAST(rnk AS BIGINT) AS rnk,
           CASE WHEN 5 * cum <= 4 * total THEN 'A'
                WHEN 20 * cum <= 19 * total THEN 'B'
                ELSE 'C' END AS abc
    FROM c
    """,
)
def suppliers_pareto_class(spark, sf_dir):
    """ABC/Pareto classification: suppliers covering the first 80% of
    discounted revenue are class A, the next 15% B, the tail C — the
    classic inventory-policy split. Revenue is exact integer
    (cents*percent units, decimal(38,0)/HUGEINT sums: ~1e9 per row,
    ~1e21 per supplier group at 100 TB — in range). The global
    rank/cumsum over suppliers is the distributed shape: range-shard on
    (rev DESC, suppkey), per-shard window, offsets from a
    #partitions-sized collect (``global_row_number``) and a shard-total
    broadcast (``sharded_exclusive_cumsum``) — the supplier aggregate
    is |suppliers| rows (fact-table-reduced), but at TPC-H ratios
    that's 10M rows at 100 TB: still far too big for the naive
    single-partition ORDER BY window this avoids. Class thresholds are
    integer cross-multiplications (5*cum <= 4*total), never a ratio."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    disc_pct = (F.col("l_discount").cast("decimal(4,2)") * 100).cast("long")
    rev = (
        li.select(
            F.col("l_suppkey").alias("s_suppkey"),
            (cents("l_extendedprice") * (100 - disc_pct))
            .cast(dec)
            .alias("rev_row"),
        )
        .groupBy("s_suppkey")
        .agg(F.sum("rev_row").alias("rev"))
    )
    order = [F.col("rev").desc(), F.col("s_suppkey").asc()]
    ranked = global_row_number(rev, order, out="rnk")
    ranked = ranked.withColumn("__g", F.lit(1))
    cum = sharded_exclusive_cumsum(
        ranked, "__g", order, "rev", out="cum_before"
    )
    total = int(rev.agg(F.sum("rev")).collect()[0][0])  # one scalar
    cum_incl = (F.col("cum_before") + F.col("rev")).cast(dec)
    abc = (
        F.when(cum_incl * 5 <= F.lit(total).cast(dec) * 4, "A")
        .when(cum_incl * 20 <= F.lit(total).cast(dec) * 19, "B")
        .otherwise("C")
    )
    return cum.select(
        "s_suppkey",
        F.col("rev").cast("double").alias("revenue_c"),
        F.col("rnk").cast("long").alias("rnk"),
        abc.alias("abc"),
    )


# ---------------------------------------------------------------------------
# year-over-year brand revenue
# ---------------------------------------------------------------------------


@register(
    "parts_yoy_revenue",
    f"""
    WITH r AS (
      SELECT p.p_brand,
             CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS yr,
             SUM(CAST({CENTS_SQL.format(c='l.l_extendedprice')}
                      AS HUGEINT)) AS rev
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    )
    SELECT p_brand, yr, CAST(rev AS DOUBLE) AS revenue_c,
           CAST(LAG(rev) OVER (PARTITION BY p_brand ORDER BY yr)
                AS DOUBLE) AS prev_revenue_c,
           CAST(rev - LAG(rev) OVER (PARTITION BY p_brand ORDER BY yr)
                AS DOUBLE) AS delta_c
    FROM r
    """,
)
def parts_yoy_revenue(spark, sf_dir):
    """Year-over-year revenue per part brand with the previous year's
    figure and delta alongside — the growth table behind every trend
    report. The part join broadcasts (dimension at TPC-H ratios); the
    lag window runs over the ALREADY-AGGREGATED (brand, year) grain —
    |brands| * |years| rows, thousands at any corpus size — so the
    low-cardinality partition key is harmless here (the skew trap only
    bites when a window drags fact rows; this one drags group rows).
    Revenue is integer cents, decimal(38,0)/HUGEINT-summed; the delta
    is integer subtraction before the final DOUBLE cast."""
    li = load_table(spark, sf_dir, "lineitem")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    dec = "decimal(38,0)"
    r = (
        # part is SF-proportional — size-gated broadcast, not forced.
        li.join(maybe_broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            "p_brand",
            F.year("l_shipdate").cast("long").alias("yr"),
            cents("l_extendedprice").cast(dec).alias("rev_row"),
        )
        .groupBy("p_brand", "yr")
        .agg(F.sum("rev_row").alias("rev"))
    )
    w = W.partitionBy("p_brand").orderBy("yr")
    prev = F.lag("rev").over(w)
    return r.select(
        "p_brand",
        "yr",
        F.col("rev").cast("double").alias("revenue_c"),
        prev.cast("double").alias("prev_revenue_c"),
        (F.col("rev") - prev).cast("double").alias("delta_c"),
    )


# ---------------------------------------------------------------------------
# output-shard write planning
# ---------------------------------------------------------------------------


@register(
    "tokens_shard_plan",
    """
    SELECT CAST(doc_id % 16 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(LENGTH(string_split(text, ' '))) AS BIGINT)
             AS sum_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM documents GROUP BY 1
    """,
)
def tokens_shard_plan(spark, sf_dir):
    """Write-planning report for a 16-shard tokenized export: per
    output shard (doc_id mod 16 — deterministic, engine-independent,
    unlike engine hash functions), the doc count, char and token
    volume, and the id range. The check that output files land evenly
    BEFORE burning a 100 TB write — skewed shards here mean stragglers
    and lopsided training-data files there. One scan, one 16-group
    aggregate with map-side partial combine; token counts ride the same
    scan (``size(split(...))``, JVM-side)."""
    from dmds_spark.functions.text import words

    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy((F.col("doc_id") % 16).cast("long").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum(F.size(words("text"))).cast("long").alias("sum_tokens"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.max("doc_id").cast("long").alias("max_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# interval-concurrency peak (sweep-line over +-1 deltas)
# ---------------------------------------------------------------------------

_HOLD_US = 600_000_000  # each event holds a slot for 10 minutes


@register(
    "events_concurrency_peak",
    f"""
    WITH pts AS (
      SELECT event_type, epoch_us(ts) AS t, 1 AS d FROM events
      UNION ALL
      SELECT event_type, epoch_us(ts) + {_HOLD_US}, -1 FROM events
    ), c AS (
      SELECT event_type,
             SUM(d) OVER (PARTITION BY event_type ORDER BY t, d
                          ROWS UNBOUNDED PRECEDING) AS r
      FROM pts
    )
    SELECT event_type, CAST(MAX(r) AS BIGINT) AS peak,
           CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals
    FROM c GROUP BY event_type
    """,
)
def events_concurrency_peak(spark, sf_dir):
    """Peak concurrency per event type: each event occupies a slot for
    10 minutes; the classic sweep-line (+1 at start, -1 at end,
    running-sum max) finds the high-water mark — capacity planning over
    interval data. The running sum uses ``sharded_exclusive_cumsum``,
    NOT a per-type window: event_type is a handful of values, and the
    naive PARTITION BY event_type ORDER BY t window would serialize
    each type's full 100 TB timeline through one task; the two-level
    shape range-shards the timeline evenly and stitches shard offsets.
    Determinism under ties: ends sort before starts (d=-1 < 1) at equal
    t, and within a run of equal (t, d) the running sum is monotone, so
    MAX over the partition is identical for every tie order the two
    engines (or shard boundaries) pick."""
    ev = load_events(spark, sf_dir).select(
        "event_type", F.unix_micros("ts").alias("t")
    )
    pts = ev.select("event_type", "t", F.lit(1).alias("d")).unionAll(
        ev.select(
            "event_type",
            (F.col("t") + _HOLD_US).alias("t"),
            F.lit(-1).alias("d"),
        )
    )
    c = sharded_exclusive_cumsum(
        pts, "event_type", [F.col("t").asc(), F.col("d").asc()], "d",
        out="r_before",
    )
    r = (F.col("r_before") + F.col("d")).alias("r")
    return (
        c.select("event_type", r)
        .groupBy("event_type")
        .agg(
            F.max("r").cast("long").alias("peak"),
            (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
        )
    )


# ---------------------------------------------------------------------------
# common-neighbor link prediction over the near-dup graph
# ---------------------------------------------------------------------------


@register(
    "graph_common_neighbors",
    """
    WITH e AS (
      SELECT DISTINCT l_suppkey AS s, o_custkey AS c
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT t1.s AS supp_a, t2.s AS supp_b,
           CAST(COUNT(*) AS BIGINT) AS common_customers
    FROM e t1 JOIN e t2 ON t1.c = t2.c AND t1.s < t2.s
    GROUP BY 1, 2
    ORDER BY common_customers DESC, supp_a, supp_b
    LIMIT 20
    """,
)
def graph_common_neighbors(spark, sf_dir):
    """Common-neighbor link prediction over the supplier<->customer
    purchase bipartite graph (the PageRank graph): the top-20 supplier
    pairs sharing the most distinct customers — the co-engagement
    signal behind "suppliers like yours" recommendations. Wedge
    enumeration via ONE self-join of the deduplicated edge list on the
    shared customer endpoint: per-customer fan-out is degree^2 of that
    customer only, never an all-pairs supplier scan. At 100 TB the
    mitigation for hub customers is a degree cap (or sampling) before
    the wedge join — the same hub note as PageRank; the DISTINCT
    collapses lineitem multiplicity first, so the wedge input is the
    edge set, orders of magnitude smaller than the fact table. Top-20
    is TakeOrdered over a total order (count desc, supplier pair)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
        # NO barrier, deliberately: the self-join re-derives the edge
        # list for its second input, but the re-derivation is a cheap
        # shuffle-reuse while an eager localCheckpoint costs a full
        # materialization round-trip (measured 3.9 s vs 7.3 s at
        # sf0.1). At 100 TB, where the fact join dwarfs the exchange,
        # the balance flips — write the edge list once,
        # hash-partitioned on c (triangle-count pattern).
    )
    # wedge enumeration via the shared operator (operators/graph.py —
    # same join shape; its optional degree_cap is the 100 TB hub
    # mitigation, deliberately OFF here so the registered query stays
    # exact and oracle-checkable; the cap-engaged twin is registered
    # as graph_common_neighbors_capped, rows-only, in llm_extra9)
    from dmds_spark.operators.graph import common_neighbor_counts

    return (
        common_neighbor_counts(e, "c", "s")
        .select(
            F.col("a").alias("supp_a"),
            F.col("b").alias("supp_b"),
            F.col("common").alias("common_customers"),
        )
        .orderBy(F.col("common_customers").desc(), "supp_a", "supp_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# watermark accounting: late arrivals vs the running event-time max
# ---------------------------------------------------------------------------

_LATE_US = 600_000_000  # 10-minute allowed lateness


@register(
    "events_late_arrivals",
    f"""
    WITH m AS (
      SELECT event_type, epoch_us(ts) AS t,
             MAX(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS wm
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) FILTER (WHERE wm - t > {_LATE_US}) AS BIGINT)
             AS n_late,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM m GROUP BY event_type
    """,
)
def events_late_arrivals(spark, sf_dir):
    """Watermark accounting: per event type, how many events arrive
    (arrival order = event_id) more than 10 minutes behind the maximum
    event time already seen — exactly the rows a streaming watermark of
    that lateness would drop, measured in batch BEFORE committing to
    the policy. The running event-time max uses
    ``sharded_exclusive_running_max``: event_type alone is a handful of
    keys, so the naive per-type ORDER BY window would serialize each
    type's full arrival log through one task; the two-level shape
    range-shards the log evenly and combines per-shard maxes with
    ``greatest`` (associativity makes the cumsum construction carry
    over). All time arithmetic in integer microseconds."""
    from dmds_spark.operators.relational import sharded_exclusive_running_max

    ev = load_events(spark, sf_dir).select(
        "event_type", "event_id", F.unix_micros("ts").alias("t")
    )
    m = sharded_exclusive_running_max(
        ev, "event_type", [F.col("event_id").asc()], "t", out="wm"
    )
    late = (F.col("wm") - F.col("t") > _LATE_US).cast("long")
    return m.groupBy("event_type").agg(
        F.sum(F.coalesce(late, F.lit(0))).cast("long").alias("n_late"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# lexical diversity: hapax legomena ratio per source
# ---------------------------------------------------------------------------


@register(
    "text_hapax_ratio",
    """
    WITH tok AS (
      SELECT source, UNNEST(string_split(text, ' ')) AS token
      FROM documents
    ), c AS (
      SELECT source, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) FILTER (WHERE cnt = 1) AS BIGINT) AS n_hapax,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens
    FROM c GROUP BY source
    """,
)
def text_hapax_ratio(spark, sf_dir):
    """Lexical diversity per source: distinct tokens, hapax legomena
    (tokens occurring exactly once), and total tokens — the
    vocabulary-richness signal that separates template spam (few
    hapaxes) from natural text, reported as integer counts so the
    consumer picks its own ratio. Two count shuffles — (source, token)
    then source — both map-side partial-combined; the explode never
    leaves the first stage."""
    from dmds_spark.functions.text import words

    d = load_table(spark, sf_dir, "documents")
    c = (
        d.select("source", F.explode(words("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return c.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum((F.col("cnt") == 1).cast("long")).cast("long").alias("n_hapax"),
        F.sum("cnt").cast("long").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# per-brand price variance components (integer-exact)
# ---------------------------------------------------------------------------


@register(
    "parts_price_dispersion",
    f"""
    WITH c AS (
      SELECT p.p_brand, {CENTS_SQL.format(c='l.l_extendedprice')} AS pc
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    )
    SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(pc AS HUGEINT)) AS DOUBLE) AS sum_c,
           CAST(COUNT(*) * SUM(CAST(pc * pc AS HUGEINT))
                - SUM(CAST(pc AS HUGEINT)) * SUM(CAST(pc AS HUGEINT))
                AS VARCHAR) AS var_num
    FROM c GROUP BY p_brand
    """,
)
def parts_price_dispersion(spark, sf_dir):
    """Price dispersion per brand: n, sum, and the variance numerator
    n*Sum(x^2) - Sum(x)^2 (= n^2 * variance) in exact integer cents —
    the per-group twin of profile_covariance's global components, and
    the dispersion input behind pricing-consistency monitoring.
    Division-free: the consumer divides by n^2 (or n*(n-1)) itself, so
    no engine-specific rounding exists to drift the hash. Magnitudes:
    pc^2 ~ 1e14/row, group sums ~1e26 at the 100 TB framing, n*q ~1e38
    at the extreme — at the documented decimal(38,0)/HUGEINT edge, so
    the per-GROUP (not global) grain is the bound that keeps it exact.
    One broadcast dim join + one partial-combined aggregate.

    var_num is emitted as the exact DIGIT STRING, not a double: its
    values exceed 2^53, and DuckDB's HUGEINT->DOUBLE cast is not
    correctly rounded there (measured: ...783927 casts to ...478e19 vs
    IEEE-nearest ...479e19 from Spark's BigDecimal path), so a double
    column would hash-differ in the last bit. Digit strings are exact
    at any magnitude on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    dec = "decimal(38,0)"
    # part is SF-proportional — size-gated broadcast, not forced.
    c = li.join(maybe_broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_brand", cents("l_extendedprice").alias("pc")
    )
    a = c.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("pc").cast(dec)).alias("s"),
        F.sum((F.col("pc") * F.col("pc")).cast(dec)).alias("q"),
    )
    return a.select(
        "p_brand",
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("double").alias("sum_c"),
        (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("var_num"),
    )


# ---------------------------------------------------------------------------
# incremental rollup maintenance, oracle-checked end to end
# ---------------------------------------------------------------------------


@register(
    "rollup_incremental_orders",
    f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM({CENTS_SQL.format(c='o_totalprice')}) AS BIGINT)
             AS sum_c,
           CAST(MIN({CENTS_SQL.format(c='o_totalprice')}) AS BIGINT)
             AS min_c,
           CAST(MAX({CENTS_SQL.format(c='o_totalprice')}) AS BIGINT)
             AS max_c
    FROM orders GROUP BY o_orderstatus
    """,
)
def rollup_incremental_orders(spark, sf_dir):
    """Incremental rollup maintenance proven against the oracle: seed
    an append-only source with half of orders, refresh, append the
    other half as new files, refresh again — and return the maintained
    rollup. The oracle states the FULL aggregate declaratively, so the
    driver's hash-compare certifies that two incremental refreshes
    (unseen-files-only scans + partial merges, operators/rollup.py)
    equal one full recompute — the continuous-aggregate correctness
    claim, checked end to end. Value column is integer cents, so the
    maintained sums are order-independent exact integers.

    Same scratch-dir discipline as dmds_crud_snapshot: per-invocation
    directory under .scratch/ (gitignored), never shared between
    concurrent evaluations."""
    from dmds_spark.core.scratch import scratch_dir
    from dmds_spark.operators.rollup import IncrementalRollup

    root = scratch_dir("rollup", sf_dir)
    src = f"{root}/src"
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", cents("o_totalprice").alias("vc")
    )
    orders.filter(F.col("o_orderkey") % 2 == 0).write.parquet(src)
    ru = IncrementalRollup(
        spark, src, f"{root}/rollup", ["o_orderstatus"], ["vc"]
    )
    ru.refresh()
    orders.filter(F.col("o_orderkey") % 2 == 1).write.mode("append").parquet(
        src
    )
    ru.refresh()
    return ru.read().select(
        "o_orderstatus",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("sum_vc").cast("long").alias("sum_c"),
        F.col("min_vc").cast("long").alias("min_c"),
        F.col("max_vc").cast("long").alias("max_c"),
    )
