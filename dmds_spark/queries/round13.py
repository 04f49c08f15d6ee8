"""Round-13 queries, batch one: ranking/retrieval evaluation (NDCG,
MRR, hit-rate, recall curves) over a leakage-safe temporal split of the
events stream — the offline metrics behind every recommender/search
launch decision, computed exactly.

The split is the standard offline-eval protocol: behavior BEFORE the
cutoff ranks each user's items (the "model" — a popularity ranking per
user), behavior AT/AFTER the cutoff is the held-out truth. Every
metric is exact-ppm INTEGER arithmetic: the only irrational ingredient
(NDCG's 1/log2(rank+1) discount) is a 5-entry constant weight table
computed once in Python and embedded as identical integer literals in
the Spark expression and the oracle SQL — the metric DEFINITION owns
the constants, so no libm call runs in either engine (the
oracle-parity rule every sketch calibration here follows).

Scale shape (100 TB of events): train/test are two filtered aggregates
on (user, item) — map-side combined, one hash shuffle each; every
window partitions by user_id (bounded by a user's item inventory);
metric rollups are one-row or |k|-row aggregates. Nothing sorts the
corpus globally.
"""

from __future__ import annotations

import math

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.sources.registry import load_events

CUTOFF = "2024-01-16 00:00:00"
K = 5
# floor(1e6 / log2(pos+1)) for pos 1..K — the NDCG discount table as
# integer literals (log2 evaluated ONCE here, never inside an engine)
NDCG_W = {p: int(1_000_000 // math.log2(p + 1)) for p in range(1, K + 1)}


def _w_case_sql(col: str) -> str:
    return (
        "CASE " + " ".join(
            f"WHEN {col} = {p} THEN {w}" for p, w in NDCG_W.items()
        ) + " ELSE 0 END"
    )


def _w_case_col(col: str):
    expr = F.lit(0)
    for p, w in NDCG_W.items():
        expr = F.when(F.col(col) == p, F.lit(w)).otherwise(expr)
    return expr


# shared CTE: per-user train ranking (top-K items by pre-cutoff count)
# and held-out relevance (post-cutoff count per item)
_SPLIT_CTE = f"""
    WITH train AS (
      SELECT user_id, event_type, COUNT(*) AS cnt
      FROM events WHERE ts < TIMESTAMP '{CUTOFF}'
      GROUP BY user_id, event_type
    ), ranked AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY cnt DESC, event_type) AS rnk
      FROM train
    ), topk AS (
      SELECT user_id, event_type, rnk FROM ranked WHERE rnk <= {K}
    ), test AS (
      SELECT user_id, event_type, COUNT(*) AS rel
      FROM events WHERE ts >= TIMESTAMP '{CUTOFF}'
      GROUP BY user_id, event_type
    )
"""


def _split(spark, sf_dir):
    """(topk, test): the per-user train ranking and held-out relevance
    DataFrames every metric below consumes. Both are single map-side-
    combined aggregates; the rank window partitions by user."""
    ev = load_events(spark, sf_dir)
    train = (
        ev.filter(F.col("ts") < F.lit(CUTOFF).cast("timestamp"))
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rnk = F.row_number().over(
        W.partitionBy("user_id").orderBy(F.col("cnt").desc(), "event_type")
    )
    topk = train.withColumn("rnk", rnk).filter(F.col("rnk") <= K)
    test = (
        ev.filter(F.col("ts") >= F.lit(CUTOFF).cast("timestamp"))
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("rel"))
    )
    return topk, test


@register(
    "rank_eval_ndcg",
    _SPLIT_CTE + f"""
    , dcg AS (
      SELECT t.user_id,
             SUM(COALESCE(x.rel, 0) * ({_w_case_sql('t.rnk')})) AS dcg
      FROM topk t LEFT JOIN test x
        ON x.user_id = t.user_id AND x.event_type = t.event_type
      GROUP BY t.user_id
    ), ideal AS (
      SELECT user_id, event_type, rel,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY rel DESC, event_type) AS irnk
      FROM test
    ), idcg AS (
      SELECT user_id, SUM(rel * ({_w_case_sql('irnk')})) AS idcg
      FROM ideal WHERE irnk <= {K} GROUP BY user_id
    ), per_user AS (
      SELECT i.user_id,
             (COALESCE(d.dcg, 0) * 1000000) // i.idcg AS ndcg_ppm
      FROM idcg i LEFT JOIN dcg d ON d.user_id = i.user_id
      WHERE i.idcg > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(ndcg_ppm) // COUNT(*) AS BIGINT) AS mean_ndcg_ppm
    FROM per_user
    """,
)
def rank_eval_ndcg(spark, sf_dir):
    """NDCG@5 of the per-user popularity ranking against held-out
    post-cutoff behavior, exact: relevance is the raw post-cutoff
    count, the discount is the embedded integer weight table (see
    module docstring), DCG/IDCG are integer sums, and NDCG is one
    floor division per user. Users with no held-out activity (IDCG=0)
    are excluded from the mean — scoring a user with no truth is
    undefined, not zero.

    Shape: two (user,item) aggregates, two user-partitioned windows
    over item-inventory-bounded groups, a one-row rollup."""
    topk, test = _split(spark, sf_dir)
    dcg = (
        topk.join(test, ["user_id", "event_type"], "left")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.coalesce(F.col("rel"), F.lit(0)) * _w_case_col("rnk")
            ).alias("dcg")
        )
    )
    irnk = F.row_number().over(
        W.partitionBy("user_id").orderBy(F.col("rel").desc(), "event_type")
    )
    idcg = (
        test.withColumn("irnk", irnk)
        .filter(F.col("irnk") <= K)
        .groupBy("user_id")
        .agg(F.sum(F.col("rel") * _w_case_col("irnk")).alias("idcg"))
        .filter(F.col("idcg") > 0)
    )
    per_user = idcg.join(dcg, "user_id", "left").select(
        F.expr("(COALESCE(dcg, 0) * 1000000) div idcg").alias("ndcg_ppm")
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.expr("SUM(ndcg_ppm) div COUNT(*)").cast("bigint")
        .alias("mean_ndcg_ppm"),
    )


@register(
    "rank_eval_mrr_hit",
    _SPLIT_CTE + f"""
    , truth_users AS (
      SELECT user_id, COUNT(*) AS n_rel FROM test GROUP BY user_id
    ), first_hit AS (
      SELECT t.user_id, MIN(t.rnk) AS first_rnk
      FROM topk t JOIN test x
        ON x.user_id = t.user_id AND x.event_type = t.event_type
      GROUP BY t.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(COALESCE(1000000 // f.first_rnk, 0)) // COUNT(*)
                AS BIGINT) AS mrr_ppm,
           CAST(SUM(CASE WHEN f.first_rnk = 1 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS hit1_ppm,
           CAST(SUM(CASE WHEN f.first_rnk <= 3 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS hit3_ppm
    FROM truth_users u LEFT JOIN first_hit f ON f.user_id = u.user_id
    """,
)
def rank_eval_mrr_hit(spark, sf_dir):
    """MRR@5 and hit@1/hit@3 over the same split: first relevant rank
    per user (min rank whose item has held-out activity), reciprocal
    as an exact floor division (1e6 div rank), rates over users WITH
    held-out truth (users the ranking missed entirely contribute 0 to
    MRR and the hit rates, not a dropped row)."""
    topk, test = _split(spark, sf_dir)
    truth_users = test.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_rel")
    )
    first_hit = (
        topk.join(test, ["user_id", "event_type"])
        .groupBy("user_id")
        .agg(F.min("rnk").alias("first_rnk"))
    )
    j = truth_users.join(first_hit, "user_id", "left")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.expr("SUM(COALESCE(1000000 div first_rnk, 0)) div COUNT(*)")
        .cast("bigint").alias("mrr_ppm"),
        F.expr(
            "SUM(CASE WHEN first_rnk = 1 THEN 1 ELSE 0 END)"
            " * 1000000 div COUNT(*)"
        ).cast("bigint").alias("hit1_ppm"),
        F.expr(
            "SUM(CASE WHEN first_rnk <= 3 THEN 1 ELSE 0 END)"
            " * 1000000 div COUNT(*)"
        ).cast("bigint").alias("hit3_ppm"),
    )


@register(
    "rank_eval_recall_curve",
    _SPLIT_CTE + f"""
    , truth AS (
      SELECT user_id, COUNT(*) AS n_rel FROM test GROUP BY user_id
    ), hits AS (
      SELECT t.user_id, t.rnk
      FROM topk t JOIN test x
        ON x.user_id = t.user_id AND x.event_type = t.event_type
    ), per_user_k AS (
      SELECT u.user_id, k.k,
             COALESCE(h.n_hits, 0) * 1000000 // u.n_rel AS recall_ppm
      FROM truth u
      CROSS JOIN (SELECT UNNEST(range(1, {K} + 1)) AS k) k
      LEFT JOIN (
        SELECT hh.user_id, kk.k, COUNT(*) AS n_hits
        FROM hits hh
        JOIN (SELECT UNNEST(range(1, {K} + 1)) AS k) kk ON hh.rnk <= kk.k
        GROUP BY hh.user_id, kk.k
      ) h ON h.user_id = u.user_id AND h.k = k.k
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(SUM(recall_ppm) // COUNT(*) AS BIGINT)
             AS mean_recall_ppm,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM per_user_k GROUP BY k ORDER BY k
    """,
)
def rank_eval_recall_curve(spark, sf_dir):
    """recall@k for k = 1..5 — the curve that sizes a candidate-
    generation stage (how deep must the ranking go to cover the
    held-out items?). Per user: hits in the top-k over total held-out
    items, exact ppm; the k dimension is a 5-row constant grid
    broadcast onto the bounded per-user hit list, never a corpus
    explosion."""
    topk, test = _split(spark, sf_dir)
    spark_ks = spark.range(1, K + 1).select(F.col("id").alias("k"))
    truth = test.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rel"))
    hits = topk.join(test, ["user_id", "event_type"]).select(
        "user_id", "rnk"
    )
    hk = (
        hits.join(F.broadcast(spark_ks), F.col("rnk") <= F.col("k"))
        .groupBy("user_id", "k")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    per_user_k = (
        truth.crossJoin(F.broadcast(spark_ks))
        .join(hk, ["user_id", "k"], "left")
        .select(
            "k",
            F.expr("COALESCE(n_hits, 0) * 1000000 div n_rel")
            .alias("recall_ppm"),
        )
    )
    return (
        per_user_k.groupBy(F.col("k").cast("bigint").alias("k"))
        .agg(
            F.expr("SUM(recall_ppm) div COUNT(*)").cast("bigint")
            .alias("mean_recall_ppm"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
        )
        .orderBy("k")
    )
