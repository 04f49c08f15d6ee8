"""Round-12 queries, batch five: declarative data-quality validation
(operators/quality.py, Deequ-lite) — the publish gate a pipeline runs
before committing a table version. A check suite compiles into ONE
aggregation pass (N constraints = one scan, not N); FK integrity is a
key-only anti join. Every metric is an exact-ppm integer so the
pass/fail verdicts hash-match the oracle bit-for-bit.

The suite deliberately mixes PASSING and FAILING constraints (the
uniqueness of o_custkey and a too-tight price range fail with honest
ppm metrics) — a validation report that can only say "pass" proves
nothing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dmds_spark.operators.quality import (
    accepted_values,
    completeness,
    constraint_report,
    in_range,
    matches,
    referential_report,
    uniqueness,
)
from dmds_spark.queries import register
from dmds_spark.sources.registry import load_table


_PRICE_HI = 400_000  # deliberately too tight: the range check FAILS


@register(
    "quality_constraint_report",
    f"""
    WITH m AS (
      SELECT count(*) AS n,
        sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS ok0,
        count(DISTINCT o_orderkey) AS ok1,
        count(DISTINCT o_custkey) AS ok2,
        sum(CASE WHEN o_totalprice IS NOT NULL AND o_totalprice >= 0
                  AND o_totalprice <= {_PRICE_HI} THEN 1 ELSE 0 END) AS ok3,
        sum(CASE WHEN o_orderstatus IN ('F', 'O', 'P')
                 THEN 1 ELSE 0 END) AS ok4,
        sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
                 THEN 1 ELSE 0 END) AS ok5
      FROM orders
    )
    SELECT 'completeness(o_custkey)' AS constraint,
           'o_custkey' AS col_name,
           CAST(ok0 * 1000000 // n AS BIGINT) AS ok_ppm,
           CAST(CASE WHEN ok0 * 1000000 // n >= 1000000
                THEN 1 ELSE 0 END AS BIGINT) AS passed FROM m
    UNION ALL
    SELECT 'uniqueness(o_orderkey)', 'o_orderkey',
           CAST(ok1 * 1000000 // n AS BIGINT),
           CAST(CASE WHEN ok1 * 1000000 // n >= 1000000
                THEN 1 ELSE 0 END AS BIGINT) FROM m
    UNION ALL
    SELECT 'uniqueness(o_custkey)', 'o_custkey',
           CAST(ok2 * 1000000 // n AS BIGINT),
           CAST(CASE WHEN ok2 * 1000000 // n >= 1000000
                THEN 1 ELSE 0 END AS BIGINT) FROM m
    UNION ALL
    SELECT 'in_range(o_totalprice,[0,{_PRICE_HI}])', 'o_totalprice',
           CAST(ok3 * 1000000 // n AS BIGINT),
           CAST(CASE WHEN ok3 * 1000000 // n >= 1000000
                THEN 1 ELSE 0 END AS BIGINT) FROM m
    UNION ALL
    SELECT 'accepted_values(o_orderstatus,[F,O,P])', 'o_orderstatus',
           CAST(ok4 * 1000000 // n AS BIGINT),
           CAST(CASE WHEN ok4 * 1000000 // n >= 1000000
                THEN 1 ELSE 0 END AS BIGINT) FROM m
    UNION ALL
    SELECT 'matches(o_orderpriority,^[1-5]-)', 'o_orderpriority',
           CAST(ok5 * 1000000 // n AS BIGINT),
           CAST(CASE WHEN ok5 * 1000000 // n >= 1000000
                THEN 1 ELSE 0 END AS BIGINT) FROM m
    """,
)
def quality_constraint_report(spark, sf_dir):
    """Six declarative constraints over orders in ONE aggregation pass
    (pinned: a single scan of orders feeds every metric). Two fail by
    design — uniqueness(o_custkey) (repeat buyers) and the too-tight
    price range — with exact ppm metrics, not just verdicts."""
    orders = load_table(spark, sf_dir, "orders")
    checks = [
        completeness("o_custkey"),
        uniqueness("o_orderkey"),
        uniqueness("o_custkey"),
        in_range("o_totalprice", 0, _PRICE_HI),
        accepted_values("o_orderstatus", ["F", "O", "P"]),
        matches("o_orderpriority", "^[1-5]-"),
    ]
    rep = constraint_report(orders, checks)
    return rep.withColumnRenamed("column", "col_name")


@register(
    "quality_referential_report",
    """
    WITH li AS (SELECT count(*) AS n,
                       sum(CASE WHEN NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey)
                           THEN 1 ELSE 0 END) AS bad
                FROM lineitem l),
    oc AS (SELECT count(*) AS n,
                  sum(CASE WHEN NOT EXISTS (SELECT 1 FROM customer c
                           WHERE c.c_custkey = o.o_custkey)
                      THEN 1 ELSE 0 END) AS bad
           FROM orders o),
    lp AS (SELECT count(*) AS n,
                  sum(CASE WHEN NOT EXISTS (SELECT 1 FROM part p
                           WHERE p.p_partkey = l.l_partkey)
                      THEN 1 ELSE 0 END) AS bad
           FROM lineitem l)
    SELECT 'fk(lineitem.l_orderkey -> orders)' AS constraint,
           CAST(bad AS BIGINT) AS n_orphans, CAST(n AS BIGINT) AS n_rows,
           CAST((n - bad) * 1000000 // n AS BIGINT) AS ok_ppm,
           CAST(CASE WHEN bad = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
    FROM li
    UNION ALL
    SELECT 'fk(orders.o_custkey -> customer)', CAST(bad AS BIGINT),
           CAST(n AS BIGINT), CAST((n - bad) * 1000000 // n AS BIGINT),
           CAST(CASE WHEN bad = 0 THEN 1 ELSE 0 END AS BIGINT) FROM oc
    UNION ALL
    SELECT 'fk(lineitem.l_partkey -> part)', CAST(bad AS BIGINT),
           CAST(n AS BIGINT), CAST((n - bad) * 1000000 // n AS BIGINT),
           CAST(CASE WHEN bad = 0 THEN 1 ELSE 0 END AS BIGINT) FROM lp
    """,
)
def quality_referential_report(spark, sf_dir):
    """Three FK-integrity checks as key-only anti joins (fk side ships
    one column; pk side a distinct key list — at 100 TB this is the
    cheapest possible orphan census, and AQE broadcast-gates the key
    list when it fits)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    reps = [
        referential_report(
            li, orders, "l_orderkey", "o_orderkey",
            "fk(lineitem.l_orderkey -> orders)",
        ),
        referential_report(
            orders, cust, "o_custkey", "c_custkey",
            "fk(orders.o_custkey -> customer)",
        ),
        referential_report(
            li, part, "l_partkey", "p_partkey",
            "fk(lineitem.l_partkey -> part)",
        ),
    ]
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    return out
