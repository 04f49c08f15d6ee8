"""Round-13 queries, batch six: cross-table reconciliation (the
classic warehouse audit — does the fact table's money add back up to
its header?) and RAKE keyphrase extraction (the stopword-delimited
phrase scoring behind quick corpus topic summaries). Exact integer
arithmetic throughout."""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.operators.relational import CENTS_SQL, cents
from dmds_spark.queries import register


@register(
    "quality_reconciliation_report",
    f"""
    WITH li AS (
      SELECT l_orderkey,
             SUM(CAST({CENTS_SQL.format(c='l_extendedprice')}
                 AS HUGEINT)) AS line_c
      FROM lineitem GROUP BY l_orderkey
    ), j AS (
      SELECT o.o_orderstatus AS status,
             {CENTS_SQL.format(c='o_totalprice')} AS hdr_c,
             li.line_c
      FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN line_c IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_headerless,
           CAST(SUM(CASE WHEN line_c = hdr_c THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN line_c IS NOT NULL
                    THEN abs(line_c - hdr_c) ELSE 0 END)
                AS BIGINT) AS sum_abs_diff_c
    FROM j GROUP BY status ORDER BY status
    """,
)
def quality_reconciliation_report(spark, sf_dir):
    """Header-vs-detail money reconciliation per order status: does
    each order's o_totalprice equal the sum of its line items'
    extended prices (cents)? Reports the order count, orders with no
    lines at all, exact matches, and the total absolute drift — the
    audit every warehouse runs after an ingest/CDC pipeline touches
    either table (the synthetic fixture drifts by design: tax/discount
    are not folded into the header, so the report shows real nonzero
    drift rather than a vacuous all-green).

    Shape at scale: one map-side-combined per-order aggregate of the
    fact table, one key join to headers, one |status|-row rollup.
    Line sums in HUGEINT/DECIMAL(38) — per-order cents stay small but
    the drift SUM crosses 2^63 near petabyte scale."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(cents("l_extendedprice").cast("decimal(38,0)"))
        .alias("line_c")
    )
    j = o.join(
        per_order, o["o_orderkey"] == per_order["l_orderkey"], "left"
    ).select(
        F.col("o_orderstatus").alias("status"),
        cents("o_totalprice").cast("decimal(38,0)").alias("hdr_c"),
        "line_c",
    )
    return (
        j.groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("line_c").isNull().cast("long")).cast("bigint")
            .alias("n_headerless"),
            # CASE-shaped like the oracle: NULL line_c (headerless
            # order) counts 0, not NULL — boolean-cast SUM would go
            # NULL when a whole group is headerless
            F.sum(
                F.when(F.col("line_c") == F.col("hdr_c"), 1).otherwise(0)
            ).cast("bigint").alias("n_exact"),
            F.sum(
                F.when(
                    F.col("line_c").isNotNull(),
                    F.abs(F.col("line_c") - F.col("hdr_c")),
                ).otherwise(F.lit(0))
            ).cast("bigint").alias("sum_abs_diff_c"),
        )
        .orderBy("status")
    )


# RAKE stopword list: FIXED literal shared verbatim by both engines —
# tokenization parity demands the exact same membership test, never an
# engine-side "default stopwords" resource
_RAKE_STOP = (
    "a an and are as at be by for from has he in is it its of on or "
    "that the to was were will with this which".split()
)
_STOP_SQL = ", ".join(f"'{w}'" for w in _RAKE_STOP)
_RAKE_TOPK = 20


@register(
    "text_keyphrase_rake",
    f"""
    WITH dts AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), tok AS (
      SELECT doc_id, lower(ts[u.i]) AS w, u.i AS pos
      FROM dts, UNNEST(range(1, len(ts) + 1)) AS u(i)
    ), nonstop AS (
      SELECT doc_id, w, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY pos) AS grp
      FROM tok WHERE w NOT IN ({_STOP_SQL})
    ), phr AS (
      SELECT doc_id, grp,
             string_agg(w, ' ' ORDER BY pos) AS phrase,
             COUNT(*) AS plen
      FROM nonstop GROUP BY doc_id, grp
    ), member AS (
      SELECT p.doc_id, p.grp, p.phrase, p.plen, n.w
      FROM phr p JOIN nonstop n
        ON n.doc_id = p.doc_id AND n.grp = p.grp
    ), wstat AS (
      SELECT w, COUNT(*) AS freq,
             SUM(plen) AS deg
      FROM member GROUP BY w
    ), wscore AS (
      SELECT w, (deg * 1000000) // freq AS wppm FROM wstat
    ), pscore AS (
      SELECT m.phrase, MAX(m.plen) AS n_words,
             SUM(s.wppm) // (COUNT(*) // MAX(m.plen)) AS score_ppm
      FROM member m JOIN wscore s ON s.w = m.w
      GROUP BY m.phrase
    )
    SELECT phrase, CAST(n_words AS BIGINT) AS n_words,
           CAST(score_ppm AS BIGINT) AS score_ppm
    FROM pscore
    ORDER BY score_ppm DESC, phrase LIMIT {_RAKE_TOPK}
    """,
)
def text_keyphrase_rake(spark, sf_dir):
    """RAKE keyphrase extraction (Rose et al.): candidate phrases are
    maximal runs of non-stopword tokens (the island trick over token
    positions — no regex, so both engines tokenize identically);
    word score = degree/frequency where degree sums the lengths of
    every phrase the word appears in; a phrase scores the sum of its
    member words' scores. All ratios are exact ppm floor divisions;
    duplicate phrase OCCURRENCES across the corpus each contribute to
    word stats, and the per-phrase score aggregates over occurrences
    (score_ppm divides the member-row word-score sum by occurrence
    count, recovering the single-occurrence sum exactly). Top-20 by
    (score desc, phrase) — TakeOrdered.

    Shape at scale: tokenize is a per-row explode; the island window
    partitions by doc (bounded by doc length); word stats and phrase
    scores are hash aggregates on word/phrase keys (vocabulary-
    bounded); the stopword set is a literal IN list."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias(
            "pos0", "w"
        ),
    ).select("doc_id", "w", (F.col("pos0") + 1).alias("pos"))
    nonstop = tok.filter(~F.col("w").isin(_RAKE_STOP)).withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(W.partitionBy("doc_id").orderBy("pos")),
    )
    phr = nonstop.groupBy("doc_id", "grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    member = phr.join(nonstop, ["doc_id", "grp"]).select(
        "phrase", "plen", "w"
    )
    wstat = member.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg")
    )
    wscore = wstat.select(
        "w", F.expr("(deg * 1000000) div freq").alias("wppm")
    )
    pscore = (
        member.join(wscore, "w")
        .groupBy("phrase")
        .agg(
            F.max("plen").cast("bigint").alias("n_words"),
            F.expr(
                "SUM(wppm) div (COUNT(*) div MAX(plen))"
            ).cast("bigint").alias("score_ppm"),
        )
    )
    return pscore.select("phrase", "n_words", "score_ppm").orderBy(
        F.col("score_ppm").desc(), "phrase"
    ).limit(_RAKE_TOPK)
