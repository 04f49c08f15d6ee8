"""Round-7 queries, batch four: the span-dedup savings estimate
(token positions covered by cross-document duplicated spans — the
exact chars the rewrite would strip), distribution-shift measures that
stay EXACT by avoiding logarithms (total-variation distance via the
1 - sum(min) identity; Gini impurity instead of entropy), a centered
moving-average seasonality decomposition, and IQR outlier detection.

All oracle-checked. The no-logarithm trick matters: ln/log2 are libm
calls with no cross-engine bit contract, while TV distance and Gini
impurity are rational functions of counts — exact integer numerators,
one final IEEE division.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.queries.llm_extra12 import _SPAN_N
from dmds_spark.core.engine import materialize
from dmds_spark.sources.registry import load_table


# ---------------------------------------------------------------------------
# span-dedup savings: token positions covered by duplicated spans
# ---------------------------------------------------------------------------


@register(
    "dedup_span_coverage",
    f"""
    WITH tok AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id, source, i AS pos,
             array_to_string(list_slice(t, i, i + {_SPAN_N - 1}), ' ') AS g
      FROM tok, UNNEST(range(1, len(t) - {_SPAN_N - 2})) AS u(i)
      WHERE len(t) >= {_SPAN_N}
    ), xdoc AS (
      SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
    ), starts AS (
      SELECT DISTINCT doc_id, source, pos FROM grams JOIN xdoc USING (g)
    ), cov AS (
      SELECT DISTINCT doc_id, source, pos + d AS p
      FROM starts, UNNEST(range(0, {_SPAN_N})) AS o(d)
    ), covered AS (
      SELECT source, COUNT(*) AS covered_tokens FROM cov GROUP BY source
    ), totals AS (
      SELECT source, SUM(len(string_split(text, ' '))) AS total_tokens
      FROM documents GROUP BY source
    )
    SELECT t.source, CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST(COALESCE(covered_tokens, 0) AS BIGINT) AS covered_tokens,
           CAST(CAST(COALESCE(covered_tokens, 0) AS DOUBLE)
                / total_tokens AS DOUBLE) AS coverage_ratio
    FROM totals t LEFT JOIN covered c ON c.source = t.source
    ORDER BY t.source
    """,
)
def dedup_span_coverage(spark, sf_dir):
    """The span-dedup SAVINGS estimate: per source, how many token
    positions sit under at least one cross-document duplicated 8-gram
    — i.e. the exact token mass an exact-substring rewrite could strip
    (upper bound: keep-one-copy would retain one occurrence per span).
    dedup_duplicated_span_fraction counts duplicated WINDOWS; this
    resolves them to covered POSITIONS, which is what the storage and
    training-token budget actually pay for.

    Shape at scale: duplicated gram STARTS (already a small fraction)
    explode x8 into covered positions, then a (doc, pos) distinct —
    both keyed on doc_id, no skew pole; the gram-stats join reuses the
    same g-keyed shuffle as the other span queries."""
    # llm_extra12._grams drops positions; this variant carries them
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "source", F.split("text", " ").alias("t"))
    grams = (
        tok.filter(F.size("t") >= _SPAN_N)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {_SPAN_N - 1}),"
                    f" i -> struct(i as pos,"
                    f" concat_ws(' ', slice(t, i, {_SPAN_N})) as g))"
                )
            ).alias("s"),
        )
        .select("doc_id", "source", "s.pos", "s.g")
        # one exchange of the gram stream shared by both g-keyed
        # consumers (dup-stats aggregate + starts join) — same
        # measured win as llm_extra12._grams_by_g
        .repartition("g")
    )
    dup = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("g")
    )
    starts = grams.join(dup, "g").select("doc_id", "source", "pos").distinct()
    cov = (
        starts.select(
            "doc_id",
            "source",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (_SPAN_N - 1))
            ).alias("p"),
        )
        .distinct()
    )
    covered = cov.groupBy("source").agg(
        F.count(F.lit(1)).alias("covered_tokens")
    )
    totals = tok.groupBy("source").agg(
        F.sum(F.size("t")).alias("total_tokens")
    )
    return (
        totals.join(covered, "source", "left")
        .select(
            "source",
            F.col("total_tokens").cast("bigint").alias("total_tokens"),
            F.coalesce("covered_tokens", F.lit(0)).cast("bigint")
            .alias("covered_tokens"),
            (
                F.coalesce("covered_tokens", F.lit(0)).cast("double")
                / F.col("total_tokens")
            )
            .cast("double")
            .alias("coverage_ratio"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# total-variation distance between source token distributions
# ---------------------------------------------------------------------------

_TV_SOURCES = ["src0", "src1", "src2", "src3"]


def _tv_sql() -> str:
    srcs = ", ".join(f"'{s}'" for s in _TV_SOURCES)
    return f"""
    WITH tok AS (
      SELECT source, UNNEST(string_split(text, ' ')) AS w
      FROM documents WHERE source IN ({srcs})
    ), cnt AS (
      SELECT source, w, COUNT(*) AS c FROM tok GROUP BY 1, 2
    ), tot AS (
      SELECT source, SUM(c) AS n FROM cnt GROUP BY 1
    ), pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS shared_types,
             SUM(LEAST(a.c * tb.n, b.c * ta.n)) AS overlap_num
      FROM cnt a
      JOIN cnt b ON a.w = b.w AND a.source < b.source
      JOIN tot ta ON ta.source = a.source
      JOIN tot tb ON tb.source = b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           CAST(shared_types AS BIGINT) AS shared_types,
           CAST(overlap_num AS BIGINT) AS overlap_num,
           CAST(1.0 - CAST(overlap_num AS DOUBLE) / (ta.n * tb.n) AS DOUBLE)
             AS tv_distance
    FROM pairs
    JOIN tot ta ON ta.source = source_a
    JOIN tot tb ON tb.source = source_b
    ORDER BY source_a, source_b
    """


@register("text_source_tv_distance", _tv_sql())
def text_source_tv_distance(spark, sf_dir):
    """Pairwise total-variation distance between source token
    distributions — the EXACT distribution-shift measure for mixture
    tuning (0 = identical unigram mix, 1 = disjoint vocab). Uses the
    identity TV = 1 - sum_w min(p_w, q_w): only SHARED tokens carry a
    min term, so the inner join suffices (disjoint tokens contribute
    0 to the sum and their mass appears in the 1-), and
    min(c_a/N_a, c_b/N_b) cross-multiplies to the exact integer
    min(c_a*N_b, c_b*N_a) — no logarithms, no float accumulation; one
    division at the end. KL/JS need libm logs with no cross-engine
    bit contract; TV is the shift measure that stays exact.

    Shape at scale: per-source counts shuffle on (source, token); the
    pair join keys on the token across a HANDFUL of sources (the
    broadcastable totals close it). For all-pairs over many sources,
    run per-token partial mins keyed on token — same join, the source
    pair count is the fan-out, never the corpus."""
    srcs = _TV_SOURCES
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin(*srcs)
    )
    cnt = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(materialize)  # consumers: self-join sides + totals
    )
    tot = cnt.groupBy("source").agg(F.sum("c").alias("n"))
    a = cnt.select(
        F.col("source").alias("source_a"), "w", F.col("c").alias("ca")
    )
    b = cnt.select(
        F.col("source").alias("source_b"), "w", F.col("c").alias("cb")
    )
    ta = tot.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    tb = tot.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    pairs = (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("shared_types"),
            F.sum(
                F.least(F.col("ca") * F.col("nb"), F.col("cb") * F.col("na"))
            ).alias("overlap_num"),
        )
    )
    return (
        pairs.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("shared_types").cast("bigint").alias("shared_types"),
            F.col("overlap_num").cast("bigint").alias("overlap_num"),
            (
                1.0
                - F.col("overlap_num").cast("double")
                / (F.col("na") * F.col("nb"))
            )
            .cast("double")
            .alias("tv_distance"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# vocabulary Gini impurity per source (the log-free diversity measure)
# ---------------------------------------------------------------------------


@register(
    "text_vocab_gini_impurity",
    """
    WITH cnt AS (
      SELECT source, w, COUNT(*) AS c FROM (
        SELECT source, UNNEST(string_split(text, ' ')) AS w FROM documents
      ) GROUP BY 1, 2
    )
    SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(c * c) AS BIGINT) AS sum_sq,
           CAST(1.0 - CAST(SUM(c * c) AS DOUBLE)
                / (SUM(c) * SUM(c)) AS DOUBLE) AS gini_impurity
    FROM cnt GROUP BY source ORDER BY source
    """,
)
def text_vocab_gini_impurity(spark, sf_dir):
    """Token-distribution diversity per source as GINI IMPURITY
    (1 - sum p^2) — the log-free stand-in for unigram entropy: same
    ordering of sources by diversity, but a rational function of
    counts (sum of c^2 over N^2, exact int64 numerators) instead of a
    sum of libm logs, so both engines agree to the bit. Low impurity =
    a template-dominated source; high = diverse text. Also the
    collision probability of two random tokens — the quantity behind
    birthday-bound estimates for hash blocking.

    One (source, token) aggregate, one per-source fold. sum(c^2) <=
    N^2 (~1e12 at sf0.1, int64-safe; at 100 TB switch the numerator to
    DECIMAL(38,0) — the expression is otherwise unchanged)."""
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        cnt.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_sq"),
            (
                1.0
                - F.sum(F.col("c") * F.col("c")).cast("double")
                / (F.sum("c") * F.sum("c"))
            )
            .cast("double")
            .alias("gini_impurity"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# seasonality decomposition (centered moving-average trend)
# ---------------------------------------------------------------------------


@register(
    "orders_seasonality_decomposition",
    """
    WITH m AS (
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
               AS revenue_cents
      FROM orders GROUP BY 1
    ), t AS (
      SELECT month, revenue_cents,
             SUM(revenue_cents) OVER w AS win_sum,
             COUNT(*) OVER w AS win_n
      FROM m WINDOW w AS (
        ORDER BY month ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING)
    )
    SELECT month, CAST(revenue_cents AS BIGINT) AS revenue_cents,
           CAST(CASE WHEN win_n = 12 THEN win_sum END AS BIGINT)
             AS trend_sum12,
           CAST(CASE WHEN win_n = 12
                     THEN CAST(win_sum AS DOUBLE) / 12 END AS DOUBLE)
             AS trend_cents,
           CAST(CASE WHEN win_n = 12
                     THEN revenue_cents - CAST(win_sum AS DOUBLE) / 12
                END AS DOUBLE) AS residual_cents
    FROM t ORDER BY month
    """,
)
def orders_seasonality_decomposition(spark, sf_dir):
    """Classical seasonality decomposition of monthly revenue: the
    trend is a centered 12-month moving average (full windows only —
    edges emit NULL rather than a biased partial mean), the residual
    is revenue minus trend; plotting residuals by month-of-year IS the
    seasonal profile. Exact: monthly revenue in integer cents, the
    12-month window SUM is an integer (emitted as trend_sum12 so the
    exact value survives), trend/residual are one division off it.

    The monthly series is ~tens of rows AFTER aggregation, so the
    unpartitioned ORDER BY month window is over a bounded,
    pre-aggregated frame — the documented exception to the
    no-unpartitioned-window rule (same as the other calendar-bounded
    windows)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    m = o.groupBy(
        F.date_format(F.to_date("o_orderdate"), "yyyy-MM").alias("month")
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("bigint")
        ).alias("revenue_cents")
    )
    w = W.orderBy("month").rowsBetween(-6, 5)
    t = m.select(
        "month",
        "revenue_cents",
        F.sum("revenue_cents").over(w).alias("win_sum"),
        F.count(F.lit(1)).over(w).alias("win_n"),
    )
    full = F.col("win_n") == 12
    return t.select(
        "month",
        F.col("revenue_cents").cast("bigint").alias("revenue_cents"),
        F.when(full, F.col("win_sum")).cast("bigint").alias("trend_sum12"),
        F.when(full, F.col("win_sum").cast("double") / 12)
        .cast("double")
        .alias("trend_cents"),
        F.when(
            full,
            F.col("revenue_cents") - F.col("win_sum").cast("double") / 12,
        )
        .cast("double")
        .alias("residual_cents"),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# IQR outlier detection per group
# ---------------------------------------------------------------------------


@register(
    "profile_outlier_iqr",
    """
    WITH v AS (
      SELECT o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ), q AS (
      SELECT o_orderstatus,
             PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY cents) AS q1,
             PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY cents) AS q3
      FROM v GROUP BY o_orderstatus
    )
    SELECT v.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(q1 AS DOUBLE) AS q1_cents, CAST(q3 AS DOUBLE) AS q3_cents,
           CAST(SUM(CASE WHEN cents < q1 - 1.5 * (q3 - q1)
                           OR cents > q3 + 1.5 * (q3 - q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM v JOIN q USING (o_orderstatus)
    GROUP BY v.o_orderstatus, q1, q3
    ORDER BY v.o_orderstatus
    """,
)
def profile_outlier_iqr(spark, sf_dir):
    """Tukey-fence outlier counts per order status: rows beyond
    [Q1 - 1.5 IQR, Q3 + 1.5 IQR] of the cents value — the robust
    outlier gate data validation runs per partition before accepting a
    load. Quartiles are exact interpolated percentiles over INTEGER
    cents (both engines interpolate identically over integers — the
    agg_percentiles pairing), fences are one multiply off them, the
    verdict per row is a comparison — no approximation anywhere.

    Two passes by construction (quantiles cannot fold in one): the
    per-group quartile table is group-count-sized and broadcasts back
    onto the scan; at 100 TB swap the exact percentile for
    approx_percentile with a documented error budget, keeping the
    fence logic untouched."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    v = o.select(
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    q = v.groupBy("o_orderstatus").agg(
        F.expr("percentile(cents, 0.25)").alias("q1"),
        F.expr("percentile(cents, 0.75)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    out = (
        (F.col("cents") < F.col("q1") - 1.5 * iqr)
        | (F.col("cents") > F.col("q3") + 1.5 * iqr)
    )
    return (
        v.join(F.broadcast(q), "o_orderstatus")
        .groupBy("o_orderstatus", "q1", "q3")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(out, 1).otherwise(0)).cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "o_orderstatus",
            "n_rows",
            F.col("q1").cast("double").alias("q1_cents"),
            F.col("q3").cast("double").alias("q3_cents"),
            "n_outliers",
        )
        .orderBy("o_orderstatus")
    )
