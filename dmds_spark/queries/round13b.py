"""Round-13 queries, batch two: leakage-safe feature engineering — the
three feature-store primitives a training pipeline needs to be both
correct (no target leakage, no future peeking) and reproducible
(deterministic, RNG-free):

- point-in-time features: per-entity history aggregates AS OF each
  example's own timestamp (strictly prior rows only);
- the hashing trick: fixed-width categorical features via a stable
  hash bucket, with the collision census that sizes the width;
- out-of-fold target encoding: per-category target means computed from
  the OTHER folds, the standard leak-proof encoding.

All exact integer arithmetic (cents, counts, floor divisions) so every
query hash-matches its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.operators.relational import CENTS_SQL, cents
from dmds_spark.queries import register
from dmds_spark.sources.registry import load_table


@register(
    "feature_point_in_time",
    f"""
    WITH feat AS (
      SELECT o_orderkey, o_custkey, o_orderdate,
             COUNT(*) OVER w - 1 AS prior_orders,
             COALESCE(SUM({CENTS_SQL.format(c='o_totalprice')}) OVER w
                      - {CENTS_SQL.format(c='o_totalprice')}, 0)
               AS prior_revenue_c
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT o_orderkey, o_custkey,
           CAST(prior_orders AS BIGINT) AS prior_orders,
           CAST(prior_revenue_c AS BIGINT) AS prior_revenue_c
    FROM feat WHERE o_orderdate >= TIMESTAMP '2001-01-01'
    """,
)
def feature_point_in_time(spark, sf_dir):
    """Point-in-time-correct features: for every order, the customer's
    STRICTLY PRIOR order count and lifetime revenue (cents) as of that
    order — the feature-store discipline that makes offline training
    match online serving (a plain groupBy feature leaks the example's
    own row and every later one). Emitted for the 2001+ slice (the
    scoring window); the window runs over full history.

    Exactness note: the frame is inclusive-minus-self (COUNT(*)-1 /
    SUM - own value) rather than ROWS UNBOUNDED PRECEDING TO 1
    PRECEDING because same-(date,key) rows cannot exist (orderkey is
    unique) — identical result, and the inclusive frame is the one
    both engines compute without an extra sort.

    Shape at scale: ONE window partitioned by o_custkey (bounded by a
    customer's order history), predicate on the output only — the
    scoring-slice filter cannot push below the window (it needs full
    history), which is the honest cost of point-in-time features;
    partition-prune the ENTITIES instead when scoring a cohort."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = cents("o_totalprice")
    feat = o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        (F.count(F.lit(1)).over(w) - 1).cast("bigint")
        .alias("prior_orders"),
        F.coalesce(F.sum(c).over(w) - c, F.lit(0))
        .cast("bigint").alias("prior_revenue_c"),
    )
    return feat.filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "prior_orders", "prior_revenue_c")


_N_BUCKETS = 64
_BUCKET_SQL = (
    "(('0x' || substr(md5({k}), 1, 15))::BIGINT % " + str(_N_BUCKETS) + ")"
)


@register(
    "feature_hash_bucket_stats",
    f"""
    WITH cat AS (
      SELECT c_mktsegment || '#' || CAST(c_nationkey AS VARCHAR) AS category
      FROM customer
    ), b AS (
      SELECT category, {_BUCKET_SQL.format(k='category')} AS bucket
      FROM cat
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT category) AS BIGINT) AS n_categories
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def feature_hash_bucket_stats(spark, sf_dir):
    """The hashing trick's collision census: hash the composite
    categorical (mktsegment, nation) into a fixed 64-bucket feature
    space (stable md5 bucket — the same parity-hash as every sampler
    here) and report per-bucket row and DISTINCT-CATEGORY counts. The
    n_categories > 1 buckets are the collisions; this census is how a
    pipeline sizes the hash width before training. One scan + one hash
    aggregate; the bucket expression is codegen (no shuffle before the
    64-group rollup)."""
    from dmds_spark.operators.sampling import hash_bucket

    c = load_table(spark, sf_dir, "customer")
    cat = c.select(
        F.concat_ws(
            "#", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")
        ).alias("category")
    )
    b = cat.select(
        "category", hash_bucket(F.col("category"), _N_BUCKETS).alias("bucket")
    )
    return (
        b.groupBy(F.col("bucket").cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count_distinct("category").cast("bigint")
            .alias("n_categories"),
        )
        .orderBy("bucket")
    )


_N_FOLDS = 5


@register(
    "feature_target_encoding_oof",
    f"""
    WITH base AS (
      SELECT o_orderpriority AS category,
             o_custkey % {_N_FOLDS} AS fold,
             {CENTS_SQL.format(c='o_totalprice')} AS target_c
      FROM orders
    ), per_fold AS (
      SELECT category, fold, COUNT(*) AS n_f,
             SUM(CAST(target_c AS HUGEINT)) AS s_f
      FROM base GROUP BY category, fold
    ), tot AS (
      SELECT category, SUM(n_f) AS n_tot, SUM(s_f) AS s_tot
      FROM per_fold GROUP BY category
    )
    SELECT p.category, CAST(p.fold AS BIGINT) AS fold,
           CAST(p.n_f AS BIGINT) AS n_in_fold,
           CAST(CASE WHEN t.n_tot > p.n_f
                THEN (t.s_tot - p.s_f) // (t.n_tot - p.n_f)
                END AS BIGINT) AS enc_cents
    FROM per_fold p JOIN tot t ON t.category = p.category
    ORDER BY p.category, fold
    """,
)
def feature_target_encoding_oof(spark, sf_dir):
    """Leakage-safe target encoding: the value a row in fold f gets for
    its category is the mean target (order value, cents) over the
    OTHER folds — (total - fold) / (n_total - n_fold), one exact floor
    division on decimal sums. Folds are deterministic (custkey mod 5,
    no RNG), so the encoding reproduces bit-for-bit across runs and
    engines. Output: the (category x fold) encoding table itself — at
    serving time it broadcast-joins onto examples.

    Shape at scale: TWO hash aggregates (category x fold, then
    category), both tiny outputs; the corpus is scanned once. Sums in
    DECIMAL(38,0)/HUGEINT — cents totals pass 2^63 around petabyte
    scale."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("category"),
        (F.col("o_custkey") % _N_FOLDS).alias("fold"),
        cents("o_totalprice").alias("target_c"),
    )
    per_fold = base.groupBy("category", "fold").agg(
        F.count(F.lit(1)).alias("n_f"),
        F.sum(F.col("target_c").cast("decimal(38,0)")).alias("s_f"),
    )
    tot = per_fold.groupBy("category").agg(
        F.sum("n_f").alias("n_tot"), F.sum("s_f").alias("s_tot")
    )
    return (
        per_fold.join(tot, "category")
        .select(
            "category",
            F.col("fold").cast("bigint").alias("fold"),
            F.col("n_f").cast("bigint").alias("n_in_fold"),
            # CASE-guarded: a category confined to ONE fold has no
            # other-fold data (denominator 0) -> NULL encoding, the
            # honest answer (ANSI mode would otherwise raise)
            F.expr(
                "CASE WHEN n_tot > n_f THEN "
                "CAST((s_tot - s_f) AS DECIMAL(38,0))"
                " div CAST((n_tot - n_f) AS DECIMAL(38,0)) END"
            ).cast("bigint").alias("enc_cents"),
        )
        .orderBy("category", "fold")
    )
