"""Round-15 queries, batch two: nonparametric/rank statistics
completing the round-14 family (Spearman rank correlation,
Kruskal-Wallis H, Cohen's d effect size, the Wald-Wolfowitz runs
test, lag-k autocorrelation) and reciprocal-rank fusion for hybrid
retrieval. All exact-ppm integer arithmetic per the oracle-parity
rules: doubled midranks (2*below + c + 1 is always an integer),
squared statistics where a square root would need libm (the
profile_cramers_v2 precedent, sign shipped separately), and
decimal(38,0)/HUGEINT before every product that can pass 2^63.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.queries.round13 import CUTOFF
from dmds_spark.sources.registry import load_events, load_table


# ---------------------------------------------------------------------------
# Spearman rank correlation (daily order count vs daily revenue)
# ---------------------------------------------------------------------------


@register(
    "orders_spearman_daily",
    """
    WITH g AS (
      SELECT o_orderdate AS d, COUNT(*) AS x,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY o_orderdate
    ), hx AS (
      SELECT x AS v, COUNT(*) AS c,
             COALESCE(SUM(COUNT(*)) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS below
      FROM g GROUP BY x
    ), hy AS (
      SELECT y AS v, COUNT(*) AS c,
             COALESCE(SUM(COUNT(*)) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS below
      FROM g GROUP BY y
    ), r AS (
      SELECT g.d, 2 * hx.below + hx.c + 1 AS rx,
                  2 * hy.below + hy.c + 1 AS ry
      FROM g JOIN hx ON hx.v = g.x JOIN hy ON hy.v = g.y
    ), s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(rx) AS HUGEINT) AS sx,
             CAST(SUM(ry) AS HUGEINT) AS sy,
             CAST(SUM(CAST(rx AS HUGEINT) * ry) AS HUGEINT) AS sxy,
             CAST(SUM(CAST(rx AS HUGEINT) * rx) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(ry AS HUGEINT) * ry) AS HUGEINT) AS syy
      FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST((n * sxy - sx * sy) * (n * sxy - sx * sy) * 1000000
                // ((n * sxx - sx * sx) * (n * syy - sy * sy))
                AS BIGINT) AS rho2_ppm,
           CAST(CASE WHEN n * sxy - sx * sy > 0 THEN 1
                     WHEN n * sxy - sx * sy < 0 THEN -1
                     ELSE 0 END AS BIGINT) AS rho_sign
    FROM s
    """,
)
def orders_spearman_daily(spark, sf_dir):
    """Spearman rank correlation between daily order COUNT and daily
    revenue — the nonparametric monotone-association test (Spearman
    1904): Pearson correlation of the two rank vectors, ties by
    midrank. Exact despite ties and without a square root: DOUBLED
    midranks (2*below + c + 1) are integers off each variable's
    bounded value histogram, and the statistic ships as rho^2 in ppm
    (num^2 * 1e6 // (den_x * den_y), the squared-effect-size
    precedent of profile_cramers_v2) with the sign as its own column.

    Shape at scale: one hash aggregate to the ~2.4k-row day grid, two
    bounded value-histogram windows over it, one 1-row component
    fold. All products ride decimal(38,0)/HUGEINT (num^2 * 1e6 is
    ~1e34 at this grid — inside the 38-digit budget stated here)."""
    from dmds_spark.core.engine import materialize
    from dmds_spark.operators.relational import exact_floordiv

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    g = (
        o.groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.sum(
                (F.col("o_totalprice").cast("decimal(12,2)") * 100)
                .cast("bigint")
            ).cast("bigint").alias("y"),
        )
        .transform(materialize)  # feeds both histograms + the join
    )

    def ranks(col):
        w = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
        return (
            g.groupBy(F.col(col).alias("v"))
            .agg(F.count(F.lit(1)).alias("c"))
            .select(
                "v", "c",
                F.coalesce(F.sum("c").over(w), F.lit(0)).alias("below"),
            )
            .select("v", (2 * F.col("below") + F.col("c") + 1).alias("r2"))
        )

    r = (
        g.join(ranks("x").withColumnRenamed("v", "x")
               .withColumnRenamed("r2", "rx"), "x")
        .join(ranks("y").withColumnRenamed("v", "y")
              .withColumnRenamed("r2", "ry"), "y")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").cast("decimal(38,0)").alias("sx"),
        F.sum("ry").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("rx").cast("decimal(38,0)") * F.col("ry"))
        .cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("rx").cast("decimal(38,0)") * F.col("rx"))
        .cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("ry").cast("decimal(38,0)") * F.col("ry"))
        .cast("decimal(38,0)").alias("syy"),
    )
    num = dec("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = dec("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = dec("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        F.col("n").cast("bigint").alias("n_days"),
        exact_floordiv(num * num * F.lit(1_000_000), denx * deny)
        .cast("bigint").alias("rho2_ppm"),
        F.when(num > 0, 1).when(num < 0, -1).otherwise(0)
        .cast("bigint").alias("rho_sign"),
    )


# ---------------------------------------------------------------------------
# Kruskal-Wallis H (k-group rank test by event type)
# ---------------------------------------------------------------------------


@register(
    "events_kruskal_wallis",
    """
    WITH s AS (
      SELECT event_type AS g, CAST(floor(value * 100) AS BIGINT) AS v
      FROM events
    ), hist AS (
      SELECT v, g, COUNT(*) AS c FROM s GROUP BY v, g
    ), tot AS (
      SELECT v, SUM(c) AS ct,
             COALESCE(SUM(SUM(c)) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS below
      FROM hist GROUP BY v
    ), grp AS (
      SELECT h.g,
             CAST(SUM(h.c) AS HUGEINT) AS ng,
             CAST(SUM(CAST(h.c AS HUGEINT)
                      * (2 * t.below + t.ct + 1)) AS HUGEINT) AS s2
      FROM hist h JOIN tot t ON t.v = h.v
      GROUP BY h.g
    ), terms AS (
      SELECT SUM(3000000 * s2 * s2 // ng) AS tsum,
             CAST(SUM(ng) AS HUGEINT) AS n,
             COUNT(*) AS k
      FROM grp
    )
    SELECT CAST(k AS BIGINT) AS n_groups,
           CAST(n AS BIGINT) AS n_total,
           CAST(tsum // (n * (n + 1)) - 3000000 * (n + 1) AS BIGINT)
             AS kw_h_ppm
    FROM terms
    """,
)
def events_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H comparing event values across ALL event types
    at once — the k-group generalization of events_mannwhitney_u
    (Kruskal & Wallis 1952): H = 12/(N(N+1)) * sum_g R_g^2/n_g
    - 3(N+1), ranks with ties by midrank. Exact via the same doubled-
    midrank histogram machinery: per-group rank sums carry 2*R_g (an
    integer), so R_g^2/n_g = S2_g^2/(4 n_g) and the 12/4 = 3 folds
    into the ppm scale; the per-group floor (3e6 * S2_g^2 // n_g) is
    stated identically in both engines (the chi2 per-cell-floor
    precedent), then one floor by N(N+1). Tie-corrected H divides by
    (1 - sum(t^3-t)/(N^3-N)); this statistic is the UNcorrected form,
    stated as such.

    Shape at scale: one corpus aggregate to the (value, group)
    histogram (bounded by the cents grid x |types|), one cumulative
    window over the value grid, a k-row fold."""
    from dmds_spark.core.engine import materialize
    from dmds_spark.operators.relational import exact_floordiv

    s = load_events(spark, sf_dir).select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 100).cast("bigint").alias("v"),
    )
    hist = s.groupBy("v", "g").agg(F.count(F.lit(1)).alias("c")) \
        .transform(materialize)
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    tot = (
        hist.groupBy("v").agg(F.sum("c").alias("ct"))
        .select(
            "v", "ct",
            F.coalesce(F.sum("ct").over(w), F.lit(0)).alias("below"),
        )
    )
    grp = (
        hist.join(tot, "v")
        .groupBy("g")
        .agg(
            F.sum("c").cast("decimal(38,0)").alias("ng"),
            F.sum(
                F.col("c").cast("decimal(38,0)")
                * (2 * F.col("below") + F.col("ct") + 1)
            ).cast("decimal(38,0)").alias("s2"),
        )
    )
    terms = grp.agg(
        F.sum(
            exact_floordiv(
                F.lit(3_000_000) * F.col("s2") * F.col("s2"), F.col("ng")
            )
        ).cast("decimal(38,0)").alias("tsum"),
        F.sum("ng").cast("decimal(38,0)").alias("n"),
        F.count(F.lit(1)).alias("k"),
    )
    return terms.select(
        F.col("k").cast("bigint").alias("n_groups"),
        F.col("n").cast("bigint").alias("n_total"),
        (
            exact_floordiv(
                F.col("tsum"), F.col("n") * (F.col("n") + 1)
            ) - F.lit(3_000_000) * (F.col("n") + 1)
        ).cast("bigint").alias("kw_h_ppm"),
    )


# ---------------------------------------------------------------------------
# Cohen's d effect size (pre vs post cutoff), squared-ppm + sign
# ---------------------------------------------------------------------------


@register(
    "eval_cohens_d2",
    f"""
    WITH s AS (
      SELECT CASE WHEN ts < TIMESTAMP '{CUTOFF}' THEN 1 ELSE 0 END AS grp,
             CAST(floor(value * 100) AS BIGINT) AS v
      FROM events
    ), a AS (
      SELECT CAST(SUM(grp) AS HUGEINT) AS n1,
             CAST(SUM(1 - grp) AS HUGEINT) AS n2,
             CAST(SUM(CASE WHEN grp = 1 THEN v ELSE 0 END) AS HUGEINT)
               AS s1,
             CAST(SUM(CASE WHEN grp = 0 THEN v ELSE 0 END) AS HUGEINT)
               AS s2,
             CAST(SUM(CASE WHEN grp = 1 THEN CAST(v AS HUGEINT) * v
                           ELSE 0 END) AS HUGEINT) AS q1,
             CAST(SUM(CASE WHEN grp = 0 THEN CAST(v AS HUGEINT) * v
                           ELSE 0 END) AS HUGEINT) AS q2
      FROM s
    )
    SELECT CAST(n1 AS BIGINT) AS n_pre, CAST(n2 AS BIGINT) AS n_post,
           CAST((s1 * n2 - s2 * n1) * (s1 * n2 - s2 * n1)
                * (n1 + n2 - 2) * 1000000
                // (n1 * n2 * (n2 * (n1 * q1 - s1 * s1)
                               + n1 * (n2 * q2 - s2 * s2)))
                AS BIGINT) AS d2_ppm,
           CAST(CASE WHEN s1 * n2 - s2 * n1 > 0 THEN 1
                     WHEN s1 * n2 - s2 * n1 < 0 THEN -1
                     ELSE 0 END AS BIGINT) AS d_sign
    FROM a
    """,
)
def eval_cohens_d2(spark, sf_dir):
    """Cohen's d standardized effect size between pre- and post-cutoff
    event values (Cohen 1988): d = (mu1 - mu2)/s_pooled. Exact without
    a square root by shipping d^2 in ppm plus the mean-difference sign
    — clearing denominators turns it into pure integer algebra:
    d^2 = (S1 n2 - S2 n1)^2 (n1+n2-2) / (n1 n2 [n2(n1 Q1 - S1^2) +
    n1(n2 Q2 - S2^2)]) over the per-group count/sum/sum-of-squares
    partials. Complements the rank-based tests (MWU says WHETHER the
    groups differ; d says HOW MUCH in pooled-sd units).

    Shape at scale: ONE hash aggregate over the corpus to six
    partials, then scalar arithmetic — decimal(38,0)/HUGEINT keeps
    the fourth-order products exact (~1e34 at 1e5 events on the cents
    grid; the bound is stated, not assumed)."""
    from dmds_spark.operators.relational import exact_floordiv

    s = load_events(spark, sf_dir).select(
        F.when(F.col("ts") < F.lit(CUTOFF).cast("timestamp"), 1)
        .otherwise(0).alias("grp"),
        F.floor(F.col("value") * 100).cast("bigint").alias("v"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    a = s.agg(
        F.sum("grp").cast("decimal(38,0)").alias("n1"),
        F.sum(F.lit(1) - F.col("grp")).cast("decimal(38,0)").alias("n2"),
        F.sum(F.when(F.col("grp") == 1, F.col("v")).otherwise(0))
        .cast("decimal(38,0)").alias("s1"),
        F.sum(F.when(F.col("grp") == 0, F.col("v")).otherwise(0))
        .cast("decimal(38,0)").alias("s2"),
        F.sum(
            F.when(F.col("grp") == 1,
                   F.col("v").cast("decimal(38,0)") * F.col("v"))
            .otherwise(F.lit(0).cast("decimal(38,0)"))
        ).cast("decimal(38,0)").alias("q1"),
        F.sum(
            F.when(F.col("grp") == 0,
                   F.col("v").cast("decimal(38,0)") * F.col("v"))
            .otherwise(F.lit(0).cast("decimal(38,0)"))
        ).cast("decimal(38,0)").alias("q2"),
    )
    diff = dec("s1") * F.col("n2") - dec("s2") * F.col("n1")
    den = dec("n1") * F.col("n2") * (
        dec("n2") * (dec("n1") * F.col("q1") - dec("s1") * F.col("s1"))
        + dec("n1") * (dec("n2") * F.col("q2") - dec("s2") * F.col("s2"))
    )
    return a.select(
        F.col("n1").cast("bigint").alias("n_pre"),
        F.col("n2").cast("bigint").alias("n_post"),
        exact_floordiv(
            diff * diff * (dec("n1") + F.col("n2") - 2) * F.lit(1_000_000),
            den,
        ).cast("bigint").alias("d2_ppm"),
        F.when(diff > 0, 1).when(diff < 0, -1).otherwise(0)
        .cast("bigint").alias("d_sign"),
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test on the daily-revenue sign sequence
# ---------------------------------------------------------------------------


@register(
    "events_runs_test",
    """
    WITH g AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY CAST(ts AS DATE)
    ), t AS (
      SELECT COUNT(*) AS n, CAST(SUM(v) AS HUGEINT) AS s FROM g
    ), sgn AS (
      -- above the MEAN daily revenue: n*v > S is the exact integer
      -- restatement of v > S/n
      SELECT g.d,
             CASE WHEN CAST(g.v AS HUGEINT) * t.n > t.s THEN 1 ELSE 0 END
               AS above
      FROM g CROSS JOIN t
    ), runs AS (
      SELECT above,
             LAG(above) OVER (ORDER BY d) AS prev
      FROM sgn
    )
    SELECT CAST(SUM(CASE WHEN prev IS NULL OR above <> prev
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
           CAST(SUM(above) AS BIGINT) AS n_above,
           CAST(SUM(1 - above) AS BIGINT) AS n_below,
           CAST(1000000 + CAST(2000000 AS HUGEINT) * SUM(above)
                * SUM(1 - above) // COUNT(*) AS BIGINT)
             AS expected_runs_ppm
    FROM runs
    """,
)
def events_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test for randomness of the daily-revenue
    sign sequence (Wald & Wolfowitz 1940): count maximal runs of
    above/below-mean days; too few runs means trending, too many
    means oscillation. The threshold is the MEAN daily revenue stated
    as the exact integer comparison n*v > S (no division), and the
    expected run count under H0, 1 + 2*n1*n2/n, ships in ppm.

    Shape at scale: one corpus aggregate to the bounded day grid, one
    1-row total attach, one lag window over the ~90-day sequence, a
    1-row fold."""
    from dmds_spark.core.engine import materialize

    g = (
        load_events(spark, sf_dir)
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint").alias("v")
        )
        .transform(materialize)  # feeds the total AND the sign join
    )
    t = g.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").cast("decimal(38,0)").alias("s"),
    )
    sgn = g.crossJoin(F.broadcast(t)).select(
        "d",
        F.when(
            F.col("v").cast("decimal(38,0)") * F.col("n") > F.col("s"), 1
        ).otherwise(0).alias("above"),
    )
    runs = sgn.select(
        "above", F.lag("above").over(W.orderBy("d")).alias("prev")
    )
    return runs.agg(
        F.sum(
            F.when(
                F.col("prev").isNull()
                | (F.col("above") != F.col("prev")), 1
            ).otherwise(0)
        ).cast("bigint").alias("n_runs"),
        F.sum("above").cast("bigint").alias("n_above"),
        F.sum(F.lit(1) - F.col("above")).cast("bigint").alias("n_below"),
        (
            F.lit(1_000_000)
            + F.expr(
                "CAST(2000000 AS DECIMAL(38,0)) * sum(above)"
                " * sum(1 - above) div count(1)"
            )
        ).cast("bigint").alias("expected_runs_ppm"),
    )


# ---------------------------------------------------------------------------
# lag-k autocorrelation of daily revenue (squared-ppm + sign per lag)
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 14


@register(
    "events_acf_daily",
    f"""
    WITH g AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               // 100 AS v
      FROM events GROUP BY CAST(ts AS DATE)
    ), p AS (
      SELECT k.k AS lag, a.v AS x, b.v AS y
      FROM UNNEST(range(1, {_ACF_MAX_LAG} + 1)) AS k(k)
      JOIN g a ON TRUE
      JOIN g b ON b.d = a.d + CAST(k.k AS INTEGER)
    ), s AS (
      SELECT lag, COUNT(*) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM p GROUP BY lag
    ), nd AS (
      SELECT lag, n, n * sxy - sx * sy AS num,
             n * sxx - sx * sx AS denx, n * syy - sy * sy AS deny
      FROM s
    )
    SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
           CAST(num * num * 1000000 // (denx * deny) AS BIGINT)
             AS acf2_ppm,
           CAST(CASE WHEN num > 0 THEN 1
                     WHEN num < 0 THEN -1
                     ELSE 0 END AS BIGINT) AS acf_sign
    FROM nd
    -- degenerate lags (a constant side, or a single pair) have no
    -- defined correlation: dropped, identically in both engines
    WHERE denx > 0 AND deny > 0
    ORDER BY lag
    """,
)
def events_acf_daily(spark, sf_dir):
    """Lag-k autocorrelation of daily revenue for k = 1..{_ACF_MAX_LAG}
    — the seasonality detector behind every forecast model choice
    (weekly cycles surface as a lag-7 peak). Per lag, Pearson
    correlation over the calendar-aligned day pairs (d, d+k), exact
    as squared-ppm + sign (the Spearman/Cramer squared-statistic
    precedent); the daily series is floor-divided to the dollar grid
    so fourth-order products stay inside decimal(38,0) — the bound is
    designed, not hoped for.

    Shape at scale: one corpus aggregate to the bounded day grid;
    the lag join and component fold live entirely on that ~90-row
    grid times {_ACF_MAX_LAG} lags. Calendar-aligned (date + k days),
    so missing days drop pairs instead of misaligning the series."""
    from dmds_spark.core.engine import materialize
    from dmds_spark.operators.relational import exact_floordiv

    g = (
        load_events(spark, sf_dir)
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.expr(
                "sum(CAST(floor(value * 100) AS BIGINT)) div 100"
            ).alias("v")
        )
        .transform(materialize)  # both sides of the lag join
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = g.select(F.col("d").alias("da"), F.col("v").alias("x"))
    b = g.select(F.col("d").alias("db"), F.col("v").alias("y"))
    p = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.expr("db = date_add(da, lag)"))
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = p.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)").alias("syy"),
    )
    nd = s.select(
        "lag", "n",
        (dec("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .alias("num"),
        (dec("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .alias("denx"),
        (dec("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .alias("deny"),
    ).filter((F.col("denx") > 0) & (F.col("deny") > 0))
    return nd.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        exact_floordiv(
            F.col("num") * F.col("num") * F.lit(1_000_000),
            F.col("denx") * F.col("deny"),
        ).cast("bigint").alias("acf2_ppm"),
        F.when(F.col("num") > 0, 1).when(F.col("num") < 0, -1)
        .otherwise(0).cast("bigint").alias("acf_sign"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# reciprocal-rank fusion (hybrid lexical + vector retrieval)
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_DEPTH = 100
_RRF_TOPK = 20


def _rrf_sql() -> str:
    from dmds_spark.queries.round9b import BM25_TERMS

    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id
    ), corpus AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS d_tot FROM dl
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok
      WHERE term IN ({terms}) GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id,
             (CAST((2 * (c.n_docs - df.df) + 1) AS HUGEINT) * 1000000)
               // (2 * df.df + 1) AS idf_s,
             (CAST(22 AS HUGEINT) * tf.tf * c.d_tot * 1000000)
               // (10 * tf.tf * c.d_tot + 3 * c.d_tot + 9 * dl.dl * c.n_docs)
               AS tfp_s
      FROM tf
      JOIN df USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN corpus c
    ), lex AS (
      SELECT doc_id, rnk FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY SUM(idf_s * tfp_s) DESC,
                                  doc_id) AS rnk
        FROM scored GROUP BY doc_id
      ) WHERE rnk <= {_RRF_DEPTH}
    ), q AS (
      SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
    ), vec AS (
      SELECT vec_id AS doc_id, rnk FROM (
        SELECT e.vec_id,
               ROW_NUMBER() OVER (
                 ORDER BY list_cosine_similarity(e.embedding, q.qv) DESC,
                          e.vec_id) AS rnk
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
      ) WHERE rnk <= {_RRF_DEPTH}
    ), fused AS (
      SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
             COALESCE(1000000 // ({_RRF_K} + l.rnk), 0)
               + COALESCE(1000000 // ({_RRF_K} + v.rnk), 0) AS rrf_ppm,
             COALESCE(l.rnk, 0) AS rank_lex,
             COALESCE(v.rnk, 0) AS rank_vec
      FROM lex l FULL OUTER JOIN vec v ON v.doc_id = l.doc_id
    )
    SELECT doc_id, CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
           CAST(rank_lex AS BIGINT) AS rank_lex,
           CAST(rank_vec AS BIGINT) AS rank_vec
    FROM fused
    ORDER BY rrf_ppm DESC, doc_id
    LIMIT {_RRF_TOPK}
    """


@register("retrieval_rrf_fusion", _rrf_sql())
def retrieval_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion of a lexical and a vector ranking
    (Cormack et al. 2009) — the standard hybrid-retrieval combiner:
    RRF(d) = sum over lists of 1/(k + rank_d), k = 60, over the
    rational-BM25 top-100 (the shared operators/bm25.py scorer, fixed
    query terms) and the exact-cosine top-100 for the vec_id-0 query
    vector (doc_id == vec_id on this corpus). Exact in ppm: each
    reciprocal ships as floor(1e6/(k + rank)) stated identically in
    both engines, and ranks come from integer-exact (BM25) or
    threshold-free deterministic float ordering (cosine — the
    similarity_cosine_topk precedent).

    Shape at scale: each list is its own TakeOrdered top-100 (posting
    pushdown on the lexical side, ANN cell probe on the vector side at
    scale); fusion joins two 100-row lists — driver-free, broadcast-
    sized by construction."""
    from dmds_spark.operators.bm25 import rational_bm25_topk
    from dmds_spark.operators.similarity import cosine
    from dmds_spark.queries.round9b import BM25_TERMS

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (
        tok.filter(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    lex = rational_bm25_topk(tf, dl, _RRF_DEPTH).select(
        "doc_id", F.col("rnk").alias("rank_lex")
    )
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    sim = cosine(F.col("embedding"), F.col("qv"))
    vec = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .orderBy(sim.desc(), "vec_id")
        .limit(_RRF_DEPTH)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.row_number()
            .over(W.orderBy(sim.desc(), "vec_id"))
            .alias("rank_vec"),
        )
    )
    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(
                F.expr(f"1000000 div ({_RRF_K} + rank_lex)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"1000000 div ({_RRF_K} + rank_vec)"), F.lit(0)
            )
        ).cast("bigint").alias("rrf_ppm"),
        F.coalesce("rank_lex", F.lit(0)).cast("bigint").alias("rank_lex"),
        F.coalesce("rank_vec", F.lit(0)).cast("bigint").alias("rank_vec"),
    )
    return fused.orderBy(F.col("rrf_ppm").desc(), "doc_id").limit(
        _RRF_TOPK
    )
