"""Relational analytics surface (SURVEY.md §2b).

Thin, composable builders over the DataFrame API — everything here is
built-in Catalyst-optimized Spark (joins pick broadcast/sort-merge via
AQE; filters and projections push into the parquet scan). Each public
function returns a DataFrame; column aliases are chosen to match the
DuckDB oracle SQL in __spark_entry__.py exactly (the driver hash-compares
values by sorted column name).

Scale notes (100 TB):
- dimension tables (region/nation/supplier/part at TPC-H ratios) stay
  broadcast-able; fact-fact joins (lineitem⋈orders) shuffle on the join
  key — AQE handles skew splitting.
- aggregations are partial (map-side combine) automatically via
  hash-aggregate; no collect()s anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from dmds_spark.core.engine import materialize


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Deterministic top-k per group: window row_number over a total
    order (callers must pass a tie-breaking key)."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_key,
    right_lo,
    right_hi,
    how: str = "inner",
) -> DataFrame:
    """Non-equi (theta) range join: left.key BETWEEN right.lo AND right.hi.

    At scale a raw theta join is a broadcast-nested-loop; when the right
    side is small (band tables, bucket maps) Spark broadcasts it — which
    is the right plan. For fact-fact range joins prefer bucketize_join.
    """
    cond = (left_key >= right_lo) & (left_key <= right_hi)
    return left.join(right, cond, how)


def bucketized_range_join(
    left: DataFrame,
    right: DataFrame,
    left_val: str,
    right_lo: str,
    right_hi: str,
    bucket_width: int,
    by: list[str] | None = None,
) -> DataFrame:
    """Scale path for range joins: explode the right intervals into the
    fixed-width buckets they overlap, equi-join on bucket, re-filter the
    exact predicate. Turns O(n*m) nested-loop into a hash join.

    ``by`` adds equi-key columns to the join (per-user interval joins,
    attribution windows): the shuffle key becomes (*by, bucket), so a
    hot bucket still spreads over the by-key space."""
    r = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(right_lo) / bucket_width),
                F.floor(F.col(right_hi) / bucket_width),
            )
        ),
    )
    l = left.withColumn("__bucket", F.floor(F.col(left_val) / bucket_width))
    keys = [*(by or []), "__bucket"]
    out = l.join(r, keys).filter(
        (F.col(left_val) >= F.col(right_lo)) & (F.col(left_val) <= F.col(right_hi))
    )
    return out.drop("__bucket")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_lo: str,
    l_hi: str,
    r_lo: str,
    r_hi: str,
    bucket_width: int,
    by: list[str] | None = None,
) -> DataFrame:
    """Interval x interval overlap join — pairs where
    ``[l_lo, l_hi]`` and ``[r_lo, r_hi]`` intersect (``l_lo <= r_hi AND
    r_lo <= l_hi``) — via fixed-width integer bins: both sides explode
    to every bin their interval touches, equi-join on the bin, then
    re-check the exact overlap predicate. Turns the O(n*m)
    nested-loop theta join into a hash join whose cost is
    O(overlapping bins), the companion of ``bucketized_range_join``
    for the interval-interval case (that one is point-interval).

    Each overlapping pair shares a RANGE of bins; it is emitted exactly
    once by crediting it to the FIRST shared bin
    (``greatest(floor(l_lo/w), floor(r_lo/w))``) — an algebraic dedup,
    no ``distinct`` shuffle over the candidate set.

    ``by`` adds equi-key columns (per-user/per-key interval overlap),
    sharding any hot bin across the by-key space. ``bucket_width``
    tunes fan-out: ~the typical interval length is right — much
    smaller multiplies the explode, much larger degrades toward one
    giant bucket (all-pairs within it). Bounds are inclusive on both
    sides, matching BETWEEN semantics."""
    lsb = F.floor(F.col(l_lo) / bucket_width)
    rsb = F.floor(F.col(r_lo) / bucket_width)
    l = left.withColumn("__lsb", lsb).withColumn(
        "__bin",
        F.explode(F.sequence(lsb, F.floor(F.col(l_hi) / bucket_width))),
    )
    r = right.withColumn("__rsb", rsb).withColumn(
        "__bin",
        F.explode(F.sequence(rsb, F.floor(F.col(r_hi) / bucket_width))),
    )
    keys = [*(by or []), "__bin"]
    out = l.join(r, keys).filter(
        (F.col(l_lo) <= F.col(r_hi))
        & (F.col(r_lo) <= F.col(l_hi))
        & (F.col("__bin") == F.greatest(F.col("__lsb"), F.col("__rsb")))
    )
    return out.drop("__bin", "__lsb", "__rsb")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str],
    right_value_cols: list[str],
    direction: str = "backward",
    tolerance: int | None = None,
) -> DataFrame:
    """As-of join per ``by`` key, expressed with built-in ops: union
    tagged events, one window over time, keep left rows.

    ``direction="backward"`` (default): latest right row with
    ``right.on <= left.on`` — the price-at-time-of-trade lookup.
    ``direction="forward"``: earliest right row with
    ``right.on >= left.on`` — the next-event lookup (next deploy after
    an alert, next purchase after a touch). Both bounds inclusive.

    Avoids the naive theta-join + groupBy-extreme double shuffle: one
    union, one window over (by, on) — a single sort-based shuffle,
    scalable. At equal ``on`` the right row qualifies in both
    directions; the side tag's sort position puts it inside the frame.

    ``tolerance`` (pandas merge_asof semantics): the nearest right row
    only matches when its ``on`` gap is within the tolerance — beyond
    it, every value column comes back NULL. Units: microseconds for
    timestamp ``on`` columns, whole days for date columns, raw
    difference for numeric ones (anything else raises). Equivalent to
    post-filtering the nearest pick (any other candidate is farther),
    so it adds ZERO plan cost — one struct field and one CASE.

    The pick is a single STRUCT of all right value columns, non-null
    exactly on right-side rows: ``last/first(ignorenulls=True)`` then
    skips interleaved LEFT rows (whose struct is NULL) but never a
    genuinely NULL right VALUE — the nearest right row wins and its
    NULLs survive, matching SQL ASOF semantics. Picking each value
    column independently would fall through to a farther row whenever
    the nearest one holds a NULL (and costs one window per column
    instead of one total).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")
    if not right_value_cols:
        raise ValueError("right_value_cols must be non-empty")
    lt = left.withColumn("__side", F.lit(1))
    rt = right.withColumn("__side", F.lit(0))
    all_cols = set(lt.columns) | set(rt.columns)
    for c in all_cols:
        if c not in lt.columns:
            lt = lt.withColumn(c, F.lit(None))
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None))
    u = lt.select(sorted(all_cols)).unionByName(rt.select(sorted(all_cols)))
    if direction == "backward":
        # right (side 0) sorts BEFORE left at equal on; frame is the
        # past -> last_value picks the latest qualifying right row
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col(on).asc(), F.col("__side").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        pick = lambda v: F.last(v, ignorenulls=True).over(w)  # noqa: E731
    else:
        # right sorts AFTER left at equal on; frame is the future ->
        # first_value picks the earliest qualifying right row
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col(on).asc(), F.col("__side").desc())
            .rowsBetween(0, Window.unboundedFollowing)
        )
        pick = lambda v: F.first(v, ignorenulls=True).over(w)  # noqa: E731
    u = u.withColumn(
        "__rv",
        F.when(
            F.col("__side") == 0,
            F.struct(
                *[F.col(v).alias(v) for v in right_value_cols],
                F.col(on).alias("__ron"),
            ),
        ),
    ).withColumn("__rvp", pick("__rv"))
    in_tol = F.lit(True)
    if tolerance is not None:
        lo, ro = F.col(on), F.col("__rvp.__ron")
        on_type = dict(u.dtypes)[on]
        if on_type.startswith("timestamp"):
            lo, ro = F.unix_micros(lo), F.unix_micros(ro)
            gap = (lo - ro) if direction == "backward" else (ro - lo)
        elif on_type == "date":
            # date subtraction yields an INTERVAL, which fails analysis
            # against an integer tolerance — compare in whole days
            gap = (
                F.datediff(lo, ro)
                if direction == "backward"
                else F.datediff(ro, lo)
            )
        elif on_type in (
            "tinyint", "smallint", "int", "bigint", "float", "double",
        ) or on_type.startswith("decimal"):
            gap = (lo - ro) if direction == "backward" else (ro - lo)
        else:
            raise ValueError(
                f"tolerance is not supported for on column {on!r} of "
                f"type {on_type} (timestamp: microseconds; date: days; "
                "numeric: raw difference)"
            )
        in_tol = gap <= F.lit(tolerance)
    for v in right_value_cols:
        u = u.withColumn(v, F.when(in_tol, F.col("__rvp")[v]))
    return u.filter(F.col("__side") == 1).drop("__side", "__rv", "__rvp")


def global_row_number(
    df: DataFrame, order_cols: list, out: str = "rn", num_ranges: int | None = None
) -> DataFrame:
    """Global row_number over a total order WITHOUT a single-partition
    window (the ``W.orderBy`` trap: every row through one task).

    The distributed shape: range-repartition on the order (each task
    owns a contiguous key range), rank within each partition, then add
    per-partition offsets (a tiny driver-side cumulative sum over one
    count per partition — #partitions values, never rows). Identical
    output to ``row_number() OVER (ORDER BY ...)`` when the order is
    total (callers must include a tie-break key, as everywhere else in
    this engine)."""
    spark = df.sparkSession
    if num_ranges is None:
        num_ranges = spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(num_ranges, *order_cols)
    part = ranged.withColumn("__pid", F.spark_partition_id())
    part = part.transform(materialize)  # pin partitioning for both consumers
    counts = sorted(
        (r["__pid"], r["n"])
        for r in part.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = {}, 0
    for pid, n in counts:
        offsets[pid] = acc
        acc += n
    off = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv]
        ),
        F.col("__pid"),
    )
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    return part.withColumn(
        out, (F.row_number().over(w) + off).cast("bigint")
    ).drop("__pid")


def sharded_exclusive_cumsum(
    df: DataFrame,
    by: str,
    order_cols: list,
    value_col: str,
    out: str = "cum_before",
    num_ranges: int | None = None,
    small_input_bytes: int = 128 << 20,
) -> DataFrame:
    """Exclusive running sum of ``value_col`` over
    ``PARTITION BY by ORDER BY order_cols`` WITHOUT putting each ``by``
    group through a single task (the low-cardinality-key window trap:
    a 100 TB corpus with a handful of sources serializes its biggest
    source through one executor thread).

    The distributed shape (two even shuffles instead of one skewed):
    range-repartition on (by, *order_cols) so every shard holds a
    contiguous slice of each group's order; per-shard exclusive running
    sums (window on (by, shard) — even keys); then add per-(by, shard)
    offsets computed from shard totals — a tiny aggregate (#shards +
    #groups rows, never data rows) broadcast back. Same output as the
    single-key window for any total order (callers pass a tie-break
    key, as everywhere in this engine).

    Small-input fast path: when ``num_ranges`` is not forced and
    Catalyst's plan-level size estimate (free — no job) says the whole
    input fits ONE scan shard (``small_input_bytes``, default 128 MiB =
    spark.sql.files.maxPartitionBytes' default), the two-level shape
    buys nothing — a single task would hold every row of every group
    anyway — so emit the plain per-group window and skip the checkpoint
    + offsets join (identical output by construction; the estimate is
    of the PRUNED projection, so a narrow (key, order, value) slice of
    a wide table decides on the columns the window actually touches).
    At scale the estimate exceeds the shard immediately and the
    two-level shape engages. Pass ``num_ranges`` explicitly to force
    the sharded shape regardless of size (as the plan pins do)."""
    spark = df.sparkSession
    if num_ranges is None:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        if est <= small_input_bytes:
            w1 = (
                Window.partitionBy(by)
                .orderBy(*order_cols)
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            return df.withColumn(
                out, F.coalesce(F.sum(value_col).over(w1), F.lit(0))
            )
        num_ranges = spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(num_ranges, F.col(by), *order_cols)
    part = ranged.withColumn("__pid", F.spark_partition_id())
    part = part.transform(materialize)  # pin shard ids for both consumers
    totals = part.groupBy(by, "__pid").agg(F.sum(value_col).alias("__t"))
    w_off = (
        Window.partitionBy(by)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = totals.select(
        by,
        "__pid",
        F.coalesce(F.sum("__t").over(w_off), F.lit(0)).alias("__off"),
    )
    w_in = (
        Window.partitionBy(by, "__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = F.coalesce(F.sum(value_col).over(w_in), F.lit(0))
    return (
        part.withColumn("__local", local)
        .join(F.broadcast(offs), [by, "__pid"])
        .withColumn(out, F.col("__local") + F.col("__off"))
        .drop("__pid", "__local", "__off")
    )


def sharded_exclusive_running_max(
    df: DataFrame,
    by: str,
    order_cols: list,
    value_col: str,
    out: str = "max_before",
    num_ranges: int | None = None,
    small_input_bytes: int = 128 << 20,
) -> DataFrame:
    """Exclusive running MAX of ``value_col`` over
    ``PARTITION BY by ORDER BY order_cols`` with the same two-level
    sharded shape as ``sharded_exclusive_cumsum`` — max is associative,
    so the construction carries over verbatim: per-shard window maxes
    plus per-(by, shard) offset maxes combined with ``greatest``. NULL
    where the prefix is empty (no zero element for max).

    The motivating consumer is watermark accounting
    (``events_late_arrivals``): "the max event-time seen so far" over a
    whole stream partitioned only by a handful of types is exactly the
    low-cardinality window trap the cumsum shape exists to avoid.
    Same small-input dispatch: below one scan shard the plain window is
    the same plan a single task would execute anyway."""
    spark = df.sparkSession
    if num_ranges is None:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        if est <= small_input_bytes:
            w1 = (
                Window.partitionBy(by)
                .orderBy(*order_cols)
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            return df.withColumn(out, F.max(value_col).over(w1))
        num_ranges = spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(num_ranges, F.col(by), *order_cols)
    part = ranged.withColumn("__pid", F.spark_partition_id())
    part = part.transform(materialize)  # pin shard ids for both consumers
    totals = part.groupBy(by, "__pid").agg(F.max(value_col).alias("__t"))
    w_off = (
        Window.partitionBy(by)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = totals.select(
        by, "__pid", F.max("__t").over(w_off).alias("__off")
    )
    w_in = (
        Window.partitionBy(by, "__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        part.withColumn("__local", F.max(value_col).over(w_in))
        .join(F.broadcast(offs), [by, "__pid"])
        .withColumn(out, F.greatest(F.col("__local"), F.col("__off")))
        .drop("__pid", "__local", "__off")
    )


def exact_floordiv(num, den, out_type: str = "decimal(38,0)"):
    """Exact floor division of NON-NEGATIVE column expressions:
    subtract the remainder so the numerator is an exact multiple, then
    decimal division is lossless (a double quotient shifts results once
    operands pass 2^53; a narrow decimal cast overflows to NULL and
    silently drops rows). QUOTIENT CEILING: Spark's decimal division
    result keeps scale 6 with 38 total digits, so quotients >= 1e32
    overflow the intermediate to NULL (non-ANSI) — exactness holds for
    quotients below ~1e32, not the full decimal(38,0) range. Every
    current caller divides row/token counts (quotients < 1e19 even at
    u64 extremes), far under the ceiling; revisit with a two-step
    scale-0 divide if a caller ever approaches it.
    The single home of the pmod trick — callers must not re-derive it
    with a narrower output cast. For SIGNED numerators use DIV, which
    truncates toward zero identically in Spark and DuckDB (pmod is
    always non-negative, so this helper floors only non-negatives
    correctly)."""
    num = num.cast("decimal(38,0)")
    return ((num - F.pmod(num, den)) / den).cast(out_type)


# DuckDB twin of ``cents``: format with ``c=<column>``
CENTS_SQL = "CAST(CAST({c} AS DECIMAL(12,2)) * 100 AS BIGINT)"


def cents(col: str):
    """Integer cents of a money column, ``CENTS_SQL`` in the oracle:
    exact, since the source doubles carry at most 2 decimals."""
    return (F.col(col).cast("decimal(12,2)") * 100).cast("bigint")


def ntile_from_group_rank(r0, n, k: int):
    """Exact NTILE(k) bucket (1-based) from a 0-based rank column and a
    per-GROUP row-count COLUMN — the column-``n`` twin of
    ``ntile_from_rn`` (whose total count is a driver-side scalar).
    Pair with ``sharded_exclusive_cumsum`` of ones for the rank and a
    broadcast per-group count: NTILE over corpus-sized groups without
    serializing each group through one window task.

    SQL-standard allocation: with q = n div k and m = n mod k, the
    first m buckets take q+1 rows. All integer arithmetic on bigint
    columns (q+1 >= 1 always; the q == 0 branch never divides by q), so
    buckets are exact at any group size."""
    def floordiv(a, b):
        return exact_floordiv(a, b, out_type="long")

    kk = F.lit(k).cast("long")
    q = floordiv(n.cast("long"), kk)  # n div k
    m = F.pmod(n.cast("long"), kk)
    big = m * (q + 1)  # rows living in the first m (larger) buckets

    r0 = r0.cast("long")
    return (
        F.when(q == 0, r0)  # fewer rows than buckets: bucket-1 == rank
        .when(r0 < big, floordiv(r0, q + 1))
        .otherwise(m + floordiv(r0 - big, q))
        + 1
    ).cast("bigint")


def ntile_from_rn(rn, n_rows: int, k: int):
    """Exact NTILE(k) bucket from a global row number and the total row
    count: the first ``n_rows % k`` buckets get ``n_rows//k + 1`` rows,
    the rest ``n_rows//k`` (the SQL-standard allocation).

    Pure integer arithmetic: ceil(a/b) = floor((a-1)/b) + 1 via bigint
    division — double division would lose integer precision once rn
    exceeds 2^53 (~9e15 rows, in scope at the 100 TB framing) and shift
    bucket boundaries by one."""
    q, r = divmod(n_rows, k)
    big = r * (q + 1)  # rows living in the larger buckets

    def int_ceil_div(a, b: int):
        # ceil(a/b) = floor((a-1)/b) + 1; subtracting pmod makes the
        # numerator exactly divisible, and decimal(38,0) division of an
        # exact multiple is lossless at any magnitude a bigint can hold
        exact = (a - 1) - F.pmod(a - 1, F.lit(b))
        return (exact.cast("decimal(38,0)") / F.lit(b)).cast("bigint") + 1

    return F.when(
        F.lit(q) == 0, rn  # fewer rows than buckets: bucket == rn
    ).when(
        rn <= big, int_ceil_div(rn, q + 1).cast("bigint")
    ).otherwise(
        (F.lit(r) + int_ceil_div(rn - F.lit(big), q)).cast("bigint")
    )
