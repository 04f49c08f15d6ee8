"""Round-15 queries, batch three: the paired-sample and change-point
completions of the nonparametric family (Wilcoxon signed-rank on
period-over-period daily revenue, Pettitt's rank-based change point
beside the mean-based CUSUM), 2-round label propagation (community
detection over the shared-part supplier graph), and the k-anonymity
generalization ladder (how much coarsening buys how much anonymity).
Exact-ppm integer arithmetic throughout.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.sources.registry import load_events

_WSR_PERIOD = 28  # days: the period-over-period pairing offset


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank (period-over-period daily revenue)
# ---------------------------------------------------------------------------


@register(
    "events_wilcoxon_signed_rank",
    f"""
    WITH g AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY CAST(ts AS DATE)
    ), p AS (
      SELECT b.v - a.v AS diff
      FROM g a JOIN g b ON b.d = a.d + {_WSR_PERIOD}
    ), nz AS (
      SELECT diff, abs(diff) AS ad FROM p WHERE diff <> 0
    ), hist AS (
      SELECT ad, COUNT(*) AS c,
             SUM(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS cpos,
             COALESCE(SUM(COUNT(*)) OVER (ORDER BY ad
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS below
      FROM nz GROUP BY ad
    ), s AS (
      SELECT CAST(SUM(CAST(cpos AS HUGEINT) * (2 * below + c + 1))
                  AS HUGEINT) AS wp_x2,
             CAST(SUM(CAST(c - cpos AS HUGEINT) * (2 * below + c + 1))
                  AS HUGEINT) AS wm_x2,
             CAST(SUM(c) AS BIGINT) AS n_nonzero
      FROM hist
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_pairs,
           CAST(n_nonzero AS BIGINT) AS n_nonzero,
           CAST(wp_x2 AS BIGINT) AS w_plus_x2,
           CAST(wm_x2 AS BIGINT) AS w_minus_x2,
           CAST((wp_x2 - wm_x2) * 1000000 // (wp_x2 + wm_x2) AS BIGINT)
             AS effect_ppm
    FROM s
    """,
)
def events_wilcoxon_signed_rank(spark, sf_dir):
    """Wilcoxon signed-rank test on PAIRED samples — daily revenue vs
    the same calendar day {_WSR_PERIOD} days later (Wilcoxon 1945):
    rank |differences| with midranks, sum ranks of positive vs
    negative diffs; zero diffs drop (the standard treatment). Exact
    via the doubled-midrank histogram over |diff| (integers on the
    cents grid): W+ and W- ship as 2x rank sums, and the matched-pairs
    rank-biserial effect (W+ - W-)/(W+ + W-) ships in ppm — the
    signed numerator divides identically in both engines (both
    truncate toward zero, pinned in tests/test_oracle.py). Completes
    the test family: MWU compares independent groups, this compares
    paired periods.

    Shape at scale: one corpus aggregate to the bounded day grid, a
    calendar self-join on it, one |diff| histogram window, a 1-row
    fold."""
    from dmds_spark.core.engine import materialize

    g = (
        load_events(spark, sf_dir)
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint").alias("v")
        )
        .transform(materialize)  # both sides of the pairing join
    )
    a = g.select(F.col("d").alias("da"), F.col("v").alias("va"))
    b = g.select(F.col("d").alias("db"), F.col("v").alias("vb"))
    p = a.join(
        b, F.expr(f"db = date_add(da, {_WSR_PERIOD})")
    ).select((F.col("vb") - F.col("va")).alias("diff")) \
        .transform(materialize)  # feeds n_pairs AND the histogram
    nz = p.filter(F.col("diff") != 0).select(
        "diff", F.abs(F.col("diff")).alias("ad")
    )
    w = W.orderBy("ad").rowsBetween(W.unboundedPreceding, -1)
    hist = (
        nz.groupBy("ad")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(F.when(F.col("diff") > 0, 1).otherwise(0))
            .alias("cpos"),
        )
        .select(
            "ad", "c", "cpos",
            F.coalesce(F.sum("c").over(w), F.lit(0)).alias("below"),
        )
    )
    r2 = 2 * F.col("below") + F.col("c") + 1
    s = hist.agg(
        F.sum(F.col("cpos").cast("decimal(38,0)") * r2)
        .cast("decimal(38,0)").alias("wp_x2"),
        F.sum((F.col("c") - F.col("cpos")).cast("decimal(38,0)") * r2)
        .cast("decimal(38,0)").alias("wm_x2"),
        F.sum("c").cast("bigint").alias("n_nonzero"),
    )
    n_pairs = p.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    return s.crossJoin(F.broadcast(n_pairs)).select(
        "n_pairs",
        "n_nonzero",
        F.col("wp_x2").cast("bigint").alias("w_plus_x2"),
        F.col("wm_x2").cast("bigint").alias("w_minus_x2"),
        F.expr(
            "CAST((wp_x2 - wm_x2) * 1000000 div (wp_x2 + wm_x2)"
            " AS BIGINT)"
        ).alias("effect_ppm"),
    )


# ---------------------------------------------------------------------------
# Pettitt change-point (rank-based twin of events_cusum_changepoint)
# ---------------------------------------------------------------------------


@register(
    "events_pettitt_changepoint",
    """
    WITH g AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY CAST(ts AS DATE)
    ), u AS (
      SELECT t.d AS t,
             CAST(SUM(CASE WHEN b.v > a.v THEN 1
                           WHEN b.v < a.v THEN -1 ELSE 0 END)
                  AS BIGINT) AS ut
      FROM g t
      JOIN g a ON a.d <= t.d
      JOIN g b ON b.d > t.d
      GROUP BY t.d
    ), mx AS (SELECT MAX(abs(ut)) AS k FROM u)
    SELECT CAST((SELECT COUNT(*) FROM g) AS BIGINT) AS n_days,
           CAST(mx.k AS BIGINT) AS k_stat,
           (SELECT CAST(date_diff('day', DATE '1970-01-01', MIN(t))
                        AS BIGINT)
            FROM u WHERE abs(ut) = mx.k) AS change_day
    FROM mx
    """,
)
def events_pettitt_changepoint(spark, sf_dir):
    """Pettitt's nonparametric change-point test over daily revenue
    (Pettitt 1979): U_t = sum of sign(x_j - x_i) over all pairs
    straddling day t; the change point is the day maximizing |U_t|
    (ties to the earliest day, the CUSUM convention). The rank-based
    twin of events_cusum_changepoint — robust where CUSUM's
    mean-shift statistic is dragged by outliers. Pure integer signs,
    no division anywhere.

    Shape at scale: the straddling-pair triple join lives ENTIRELY on
    the bounded ~90-row day grid (about 90^3/2 sign evaluations at
    any corpus size — the same day-grid bound as Theil-Sen's slope
    pairs); the corpus itself is touched by one aggregate."""
    from dmds_spark.core.engine import materialize

    g = (
        load_events(spark, sf_dir)
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint").alias("v")
        )
        .transform(materialize)  # three consumers of the day grid
    )
    t = g.select(F.col("d").alias("t"))
    a = g.select(F.col("d").alias("da"), F.col("v").alias("va"))
    b = g.select(F.col("d").alias("db"), F.col("v").alias("vb"))
    u = (
        t.join(a, F.col("da") <= F.col("t"))
        .join(b, F.col("db") > F.col("t"))
        .groupBy("t")
        .agg(
            F.sum(
                F.when(F.col("vb") > F.col("va"), 1)
                .when(F.col("vb") < F.col("va"), -1)
                .otherwise(0)
            ).cast("bigint").alias("ut")
        )
        .transform(materialize)  # feeds the max AND the argmax
    )
    mx = u.agg(F.max(F.abs(F.col("ut"))).alias("k"))
    n = g.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    arg = (
        u.crossJoin(F.broadcast(mx))
        .filter(F.abs(F.col("ut")) == F.col("k"))
        # epoch-day integer, the events_cusum_changepoint convention
        .agg(
            F.datediff(F.min("t"), F.lit("1970-01-01"))
            .cast("bigint").alias("change_day")
        )
    )
    return (
        n.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(arg))
        .select(
            "n_days",
            F.col("k").cast("bigint").alias("k_stat"),
            "change_day",
        )
    )


# ---------------------------------------------------------------------------
# 2-round label propagation over the shared-part supplier graph
# ---------------------------------------------------------------------------


@register(
    "graph_label_propagation",
    """
    WITH ps AS (
      SELECT DISTINCT l.l_partkey AS pk, l.l_suppkey AS sk,
             s.s_nationkey AS nk
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
    ), e AS (
      SELECT DISTINCT a.sk AS u, b.sk AS v
      FROM ps a JOIN ps b ON b.pk = a.pk AND b.nk = a.nk
                         AND b.sk <> a.sk
    ), n AS (SELECT s_suppkey AS u FROM supplier),
    l1 AS (
      SELECT n.u, LEAST(n.u, COALESCE(MIN(e.v), n.u)) AS lab
      FROM n LEFT JOIN e ON e.u = n.u GROUP BY n.u
    ), l2 AS (
      SELECT n.u, LEAST(o.lab, COALESCE(MIN(x.lab), o.lab)) AS lab
      FROM n
      JOIN l1 o ON o.u = n.u
      LEFT JOIN e ON e.u = n.u
      LEFT JOIN l1 x ON x.u = e.v
      GROUP BY n.u, o.lab
    )
    SELECT CAST(lab AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(u) AS BIGINT) AS min_member,
           CAST(MAX(u) AS BIGINT) AS max_member
    FROM l2 GROUP BY lab
    """,
)
def graph_label_propagation(spark, sf_dir):
    """Min-label propagation (2 unrolled rounds) over the shared-part
    supplier graph — the deterministic core of label-propagation
    community detection (Raghavan et al. 2007, with min-label in
    place of the randomized majority vote, the same determinism trade
    the k-hop and connected-components queries make): suppliers are
    linked when they supply a common part AND share a nation (the
    unrestricted co-supply graph is near-complete — every label
    floods to 1 in two rounds and the census degenerates; the
    same-nation restriction is the natural "regional supply
    community" graph and keeps real structure); each round every node
    adopts the smallest label in its closed neighborhood. After 2
    rounds labels have flooded 2 hops; the output is the label census
    (size + member range per community) — communities still merging
    at round 2 surface as multiple labels, exactly like the
    incremental-clusters contract.

    Shape at scale: the edge build deduplicates lineitem to its
    distinct (part, supplier) pairs and self-joins on the part key
    with BOUNDED fanout (suppliers-per-part is a small constant by
    construction, so pairs-per-part is too); each round is one hash
    aggregate keyed by node. Unrolled rounds = no driver loop; the
    full-convergence variant is the iterative engine path
    (dedup_incremental_minhash's contracted-graph min-label)."""
    from dmds_spark.core.engine import materialize, maybe_broadcast

    snat = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("sk"), F.col("s_nationkey").alias("nk")
    )
    ps = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(F.col("l_partkey").alias("pk"),
                F.col("l_suppkey").alias("sk"))
        .join(maybe_broadcast(snat), "sk")
        .select("pk", "sk", "nk")
        .distinct()
    )
    sup = snat.select(F.col("sk").alias("u"))
    a = ps.select("pk", "nk", F.col("sk").alias("u"))
    b = ps.select("pk", "nk", F.col("sk").alias("v"))
    e = (
        a.join(b, ["pk", "nk"])
        .filter(F.col("u") != F.col("v"))
        .select("u", "v")
        .distinct()
        .transform(materialize)  # both rounds read the edge set
    )
    l1 = (
        sup.join(e, "u", "left")
        .groupBy("u")
        .agg(
            F.least(
                F.col("u"), F.coalesce(F.min("v"), F.col("u"))
            ).alias("lab")
        )
        .transform(materialize)  # self-label AND neighbor lookup
    )
    neigh = e.join(
        l1.select(F.col("u").alias("v"), F.col("lab").alias("nlab")), "v"
    )
    l2 = (
        l1.join(neigh.select("u", "nlab"), "u", "left")
        .groupBy("u", "lab")
        .agg(
            F.least(
                F.col("lab"), F.coalesce(F.min("nlab"), F.col("lab"))
            ).alias("lab2")
        )
    )
    return l2.groupBy("lab2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min("u").cast("bigint").alias("min_member"),
        F.max("u").cast("bigint").alias("max_member"),
    ).select(
        F.col("lab2").cast("bigint").alias("label"),
        "n_members", "min_member", "max_member",
    )


# ---------------------------------------------------------------------------
# k-anonymity generalization ladder
# ---------------------------------------------------------------------------

_KANON_K = 5


def _ladder_sql() -> str:
    cases = []
    for lvl, qi in (
        (0, "c_nationkey, c_mktsegment, "
            "CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)"
            " // 10000"),
        (1, "c_nationkey, c_mktsegment, "
            "CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)"
            " // 100000"),
        (2, "c_nationkey, c_mktsegment"),
    ):
        cases.append(f"""
    SELECT {lvl} AS level, CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(k) AS BIGINT) AS k_min,
           CAST(SUM(CASE WHEN k < {_KANON_K} THEN k ELSE 0 END)
                AS BIGINT) AS n_exposed_rows,
           CAST(CAST(SUM(CASE WHEN k >= {_KANON_K} THEN k ELSE 0 END)
                     AS HUGEINT)
                * 1000000 // SUM(k) AS BIGINT) AS anon_ppm
    FROM (SELECT COUNT(*) AS k FROM customer GROUP BY {qi})""")
    return " UNION ALL ".join(cases)


@register("privacy_k_anonymity_ladder", _ladder_sql())
def privacy_k_anonymity_ladder(spark, sf_dir):
    """The k-anonymity generalization ladder (Sweeney 2002 /
    Samarati's generalization hierarchies): the same quasi-identifier
    set (nation, segment, account-balance bucket) at three coarsening
    levels — $100 buckets, $1000 buckets, balance dropped — reporting
    per level how many equivalence classes exist, the smallest class,
    how many ROWS sit in classes below k={_KANON_K} (re-identifiable
    under the attack model), and the anonymous-population fraction in
    ppm. The release decision IS this table: walk down until
    n_exposed_rows hits the policy bar, publish that level.
    Complements privacy_l_diversity/t_closeness (which grade the
    sensitive attribute inside classes; this grades the class
    structure itself).

    Shape at scale: one hash aggregate per level over the customers
    (three scans of one SF-proportional table — or one scan with
    grouping sets if the ladder grows); per-level outputs are
    4-number folds of the bounded class histograms."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    levels = [
        (0, [F.col("c_nationkey"), F.col("c_mktsegment"),
             F.expr(
                 "CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)"
                 " div 10000"
             )]),
        (1, [F.col("c_nationkey"), F.col("c_mktsegment"),
             F.expr(
                 "CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)"
                 " div 100000"
             )]),
        (2, [F.col("c_nationkey"), F.col("c_mktsegment")]),
    ]
    outs = []
    for lvl, qi in levels:
        grp = c.groupBy(*qi).agg(F.count(F.lit(1)).alias("k"))
        outs.append(
            grp.agg(
                F.lit(lvl).cast("int").alias("level"),
                F.count(F.lit(1)).cast("bigint").alias("n_groups"),
                F.min("k").cast("bigint").alias("k_min"),
                F.sum(
                    F.when(F.col("k") < _KANON_K, F.col("k")).otherwise(0)
                ).cast("bigint").alias("n_exposed_rows"),
                F.expr(
                    f"CAST(CAST(sum(CASE WHEN k >= {_KANON_K} THEN k"
                    " ELSE 0 END) AS DECIMAL(38,0))"
                    " * 1000000 div sum(k) AS BIGINT)"
                ).alias("anon_ppm"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
