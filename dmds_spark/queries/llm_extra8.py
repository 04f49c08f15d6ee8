"""Round-5 additions, batch seven (registered BEHIND the round-5
driver window — these lead round 6's evidence): local clustering
coefficients over the near-dup graph, per-term burstiness (the
content-vs-boilerplate dispersion signal), cosine radius counts (range
search, the ANN pipeline's density probe), longest activity streaks
(islands technique), and Benford first-digit profiling of order
totals (the fraud/synthetic-data screen); batch eight adds the
integer-only readability profile, the pack-vs-pad planning sweep, and
basket-size distribution stats.

House rules as everywhere (queries/__init__.py): scalar output
columns, identical aliases both sides, integer/decimal exactness;
digit strings for exact integers that can exceed 2^53 (the
parts_price_dispersion precedent); doubles only as one IEEE division
of sub-2^53 integers or via the engine-pinned cosine fold.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.queries.llm_dedup import BANDS, CAND_CTE, EST_SQL, NUM_HASHES
from dmds_spark.core.engine import materialize
from dmds_spark.sources.registry import load_events, load_table


# ---------------------------------------------------------------------------
# local clustering coefficient over the near-dup graph
# ---------------------------------------------------------------------------


@register(
    "graph_clustering_coefficient",
    CAND_CTE
    + f""", edges AS (
      SELECT id_a AS u, id_b AS v FROM cand WHERE {EST_SQL} >= 0.5
    ), und AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
    deg AS (SELECT u AS node, COUNT(*) AS deg FROM und GROUP BY u),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM edges e1 JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ), pt AS (
      SELECT node, COUNT(*) AS tri FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY node
    )
    SELECT d.node AS doc_id, CAST(d.deg AS BIGINT) AS degree,
           CAST(COALESCE(pt.tri, 0) AS BIGINT) AS n_triangles,
           CAST(CAST(2 * COALESCE(pt.tri, 0) AS DOUBLE)
                / (d.deg * (d.deg - 1)) AS DOUBLE) AS clustering_coeff
    FROM deg d LEFT JOIN pt ON pt.node = d.node
    WHERE d.deg >= 2
    ORDER BY n_triangles DESC, doc_id LIMIT 20
    """,
)
def graph_clustering_coefficient(spark, sf_dir):
    """Local clustering coefficient (2*triangles / deg*(deg-1)) per
    node of the near-dup pair graph, top-20 by triangle count: the
    clique-vs-chain discriminator — a near-dup CLUSTER that is a true
    duplicate group has coefficient ~1, a chained false-positive path
    ~0 — run before keep-first commits a canonical per cluster.

    Builds on graph_triangle_count's oriented two-join enumeration
    (each triangle a<b<c found exactly once); degrees come from the
    symmetrized edge list (one union + one agg). The edge list
    materializes once for its four consumers. The coefficient is ONE
    IEEE division of exact sub-2^53 integers; top-k orders by the
    integer triangle count (never by the double), tie-broken on
    doc_id — a total order identical on both engines."""
    from dmds_spark.operators.dedup import dedup_minhash

    docs = load_table(spark, sf_dir, "documents")
    edges = (
        dedup_minhash(docs, "text", "doc_id", NUM_HASHES, BANDS, 0.5)
        .select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .transform(materialize)
    )
    und = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tri = e1.join(e2, F.col("b") == F.col("b2")).join(
        e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3"))
    )
    pt = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    j = (
        deg.join(pt, "node", "left")
        .withColumn("tri", F.coalesce(F.col("tri"), F.lit(0)))
        .filter(F.col("deg") >= 2)
    )
    return (
        j.select(
            F.col("node").alias("doc_id"),
            F.col("deg").cast("bigint").alias("degree"),
            F.col("tri").cast("bigint").alias("n_triangles"),
            (
                (2 * F.col("tri")).cast("double")
                / (F.col("deg") * (F.col("deg") - 1)).cast("double")
            ).alias("clustering_coeff"),
        )
        .orderBy(F.col("n_triangles").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# per-term burstiness (dispersion of within-doc counts)
# ---------------------------------------------------------------------------


@register(
    "text_term_burstiness_topk",
    """
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
    ), dc AS (SELECT w, doc_id, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    agg AS (
      SELECT w, COUNT(*) AS n_docs, SUM(c) AS total,
             SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS sq
      FROM dc GROUP BY w
    )
    SELECT w AS term, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total AS BIGINT) AS total_count,
           CAST(n_docs * sq - CAST(total AS HUGEINT) * CAST(total AS HUGEINT)
                AS VARCHAR) AS var_num,
           CAST(CAST(total AS DOUBLE) / n_docs AS DOUBLE) AS mean_count
    FROM agg ORDER BY total_count DESC, term LIMIT 20
    """,
)
def text_term_burstiness_topk(spark, sf_dir):
    """Burstiness of the top-20 corpus terms: the exact variance
    NUMERATOR n*Sum(c^2) - Sum(c)^2 of per-doc counts (over docs
    CONTAINING the term), emitted as a digit string (it exceeds 2^53
    long before the sums do — parts_price_dispersion precedent), plus
    the mean as one exact division. Bursty terms (variance >> mean)
    are content words; evenly-dispersed high-frequency terms are
    boilerplate/function words — the dispersion test a quality
    pipeline uses beyond raw frequency.

    Shape: one explode, one (term, doc) count, one partial-combined
    term aggregate in decimal(38,0) — division-free until the final
    per-term mean."""
    from dmds_spark.functions.text import words

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(words("text")).alias("w"))
    dc = tok.groupBy("w", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    dec = "decimal(38,0)"
    agg = dc.groupBy("w").agg(
        F.count(F.lit(1)).cast(dec).alias("n_docs"),
        F.sum("c").cast(dec).alias("total"),
        F.sum((F.col("c") * F.col("c")).cast(dec)).alias("sq"),
    )
    return agg.selectExpr(
        "w AS term",
        "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(total AS BIGINT) AS total_count",
        "CAST(n_docs * sq - total * total AS STRING) AS var_num",
        "CAST(CAST(total AS DOUBLE) / CAST(n_docs AS DOUBLE) AS DOUBLE)"
        " AS mean_count",
    ).orderBy(F.col("total_count").desc(), "term").limit(20)


# ---------------------------------------------------------------------------
# cosine radius counts (range search)
# ---------------------------------------------------------------------------


@register(
    "similarity_radius_count",
    """
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5
    ), p AS (
      SELECT qid, c.vec_id AS cid,
             list_cosine_similarity(qe, c.embedding) AS sim
      FROM q, embeddings c WHERE qid <> c.vec_id
    )
    SELECT qid AS vec_id,
           CAST(COUNT(CASE WHEN sim >= 0.2 THEN 1 END) AS BIGINT)
             AS n_within
    FROM p GROUP BY qid
    """,
)
def similarity_radius_count(spark, sf_dir):
    """Range search: for each probe vector, how many corpus vectors lie
    within cosine >= 0.2 — the density/radius statistic an ANN pipeline
    uses to size its buckets and pick k. Brute force over the broadcast
    probe side (5 rows), the same engine-pinned cosine arithmetic as
    similarity_cosine_topk (zip_with dot + aggregate fold — matches
    DuckDB's list_cosine_similarity fold order, green since round 2).

    At 100 TB the corpus side would pre-filter through the LSH buckets
    (similarity_pairs_threshold's blocking) before the exact fold; the
    brute-force form is the exactness baseline the blocked variant is
    measured against."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
    j = c.crossJoin(F.broadcast(q)).filter(F.col("qid") != F.col("cid"))

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    sim = dot(F.col("qe"), F.col("ce")) / (
        F.sqrt(dot(F.col("qe"), F.col("qe")))
        * F.sqrt(dot(F.col("ce"), F.col("ce")))
    )
    return (
        j.withColumn("sim", sim)
        .groupBy(F.col("qid").alias("vec_id"))
        .agg(
            F.sum(F.when(F.col("sim") >= 0.2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_within")
        )
    )


# ---------------------------------------------------------------------------
# longest activity streaks (islands technique)
# ---------------------------------------------------------------------------


@register(
    "events_activity_streaks_topk",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ), g AS (
      SELECT user_id, day,
             CAST(day - CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY day) AS INT) AS DATE) AS grp
      FROM ud
    ), runs AS (
      SELECT user_id, COUNT(*) AS len, MIN(day) AS streak_start
      FROM g GROUP BY user_id, grp
    ), best AS (
      SELECT user_id, MAX(len) AS best_len FROM runs GROUP BY user_id
    ), top AS (
      SELECT b.user_id, b.best_len, MIN(r.streak_start) AS streak_start
      FROM best b
      JOIN runs r ON r.user_id = b.user_id AND r.len = b.best_len
      GROUP BY b.user_id, b.best_len
    )
    SELECT user_id, CAST(best_len AS BIGINT) AS streak_days,
           strftime(streak_start, '%Y-%m-%d') AS streak_start
    FROM top ORDER BY streak_days DESC, user_id LIMIT 20
    """,
)
def events_activity_streaks_topk(spark, sf_dir):
    """Longest consecutive-day activity streak per user (top-20) — the
    engagement metric behind retention features. Classic
    islands-and-gaps: day minus the per-user day-rank is constant
    exactly within a consecutive run, so one window + two aggregates
    find every streak; earliest start breaks best-length ties
    deterministically.

    The window partitions on user_id (high cardinality, even) over the
    DISTINCT (user, day) table — bounded by users x days, the same
    collapse the rolling-actives query leans on."""
    e = load_events(spark, sf_dir)
    ud = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    g = ud.withColumn(
        "grp", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    runs = g.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"),
        F.min("day").alias("streak_start"),
    )
    best = runs.groupBy("user_id").agg(
        F.max("len").alias("best_len")
    ).withColumnRenamed("user_id", "buid")
    top = (
        best.join(
            runs,
            (F.col("buid") == F.col("user_id"))
            & (F.col("len") == F.col("best_len")),
        )
        .groupBy("buid", "best_len")
        .agg(F.min("streak_start").alias("streak_start"))
    )
    return (
        top.select(
            F.col("buid").alias("user_id"),
            F.col("best_len").cast("bigint").alias("streak_days"),
            F.date_format("streak_start", "yyyy-MM-dd").alias(
                "streak_start"
            ),
        )
        .orderBy(F.col("streak_days").desc(), "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Benford first-digit profile
# ---------------------------------------------------------------------------


@register(
    "profile_benford_digits",
    """
    WITH d AS (
      SELECT CAST(SUBSTR(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                               AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT)
               AS digit
      FROM orders
    ), n AS (SELECT COUNT(*) AS total FROM d)
    SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(COUNT(*) AS DOUBLE) / MIN(n.total) AS DOUBLE) AS share
    FROM d, n GROUP BY digit
    """,
)
def profile_benford_digits(spark, sf_dir):
    """First-significant-digit distribution of order totals — the
    Benford screen that flags synthetic or tampered numeric columns
    (natural multiplicative data leans on digit 1 at ~30%; uniform
    synthetic data, like this driver corpus, is flat — exactly what the
    profile shows, which is itself the finding). Digit extraction via
    the integer-cents digit string (leading digit of a positive bigint
    — no float log10, which would be engine-unsafe); share is one IEEE
    division. One scan, one aggregate, a 1-row total broadcast."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cents = (
        (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
    )
    d = o.select(
        F.substring(cents.cast("string"), 1, 1).cast("bigint").alias("digit")
    )
    n = d.agg(F.count(F.lit(1)).alias("total"))
    return (
        d.crossJoin(F.broadcast(n))
        .groupBy("digit")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            (F.count(F.lit(1)).cast("double") / F.min("total")).alias(
                "share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# readability proxy per source (integer-only Flesch-style components)
# ---------------------------------------------------------------------------


@register(
    "text_readability_profile",
    """
    WITH m AS (
      SELECT source, len(string_split(text, ' ')) AS n_words,
             len(regexp_extract_all(text, '[aeiou]+')) AS n_syll
      FROM documents
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(n_syll) AS BIGINT) AS total_syllables,
           CAST(1000 * SUM(n_syll) // SUM(n_words) AS BIGINT)
             AS syll_per_kword
    FROM m GROUP BY source
    """,
)
def text_readability_profile(spark, sf_dir):
    """Readability components per source, integer-only: word counts
    and a vowel-group syllable proxy (the countable core of
    Flesch-style scores — the full score needs only these ratios, and
    emitting them as exact integers keeps the gate engine-safe where a
    float formula would not be). Sources whose syllables-per-1000-words
    drift high read as jargon/boilerplate — a quality-mix signal next
    to the Gopher rules.

    Pure per-row projection (regexp_count + split stay in codegen) and
    one partial-combined aggregate; floor division both sides."""
    d = load_table(spark, sf_dir, "documents")
    m = d.select(
        "source",
        F.size(F.split("text", " ")).alias("n_words"),
        F.regexp_count(F.col("text"), F.lit("[aeiou]+")).alias("n_syll"),
    )
    return m.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.sum("n_syll").cast("bigint").alias("total_syllables"),
        F.expr("1000 * sum(n_syll) div sum(n_words)")
        .cast("bigint")
        .alias("syll_per_kword"),
    )


# ---------------------------------------------------------------------------
# packing-efficiency sweep (padding waste per sequence length)
# ---------------------------------------------------------------------------


@register(
    "tokens_packing_efficiency_sweep",
    """
    WITH d AS (SELECT len(string_split(text, ' ')) AS n FROM documents),
    s AS (SELECT seq_len FROM (VALUES (128), (512), (1024)) AS v(seq_len))
    SELECT seq_len, CAST(SUM(n) AS BIGINT) AS total_tokens,
           CAST(SUM((n + seq_len - 1) // seq_len) AS BIGINT)
             AS n_sequences_padded,
           CAST(SUM((n + seq_len - 1) // seq_len) * seq_len - SUM(n)
                AS BIGINT) AS padding_waste,
           CAST((SUM(n) + seq_len - 1) // seq_len AS BIGINT)
             AS n_sequences_packed
    FROM d, s GROUP BY seq_len
    """,
)
def tokens_packing_efficiency_sweep(spark, sf_dir):
    """The pack-vs-pad planning table: for each candidate sequence
    length, total tokens, sequences needed when each doc pads to its
    own boundary, the tokens burned as padding, and sequences under
    concat-and-chunk packing (what tokens_pack_sequences implements) —
    i.e. exactly the waste packing recovers. All integer ceiling
    division, exact on both engines.

    One scan; the 3-row length grid broadcasts onto the per-doc
    lengths and one partial-combined aggregate folds the sweep — the
    cost of trying 10 more lengths is sums, not scans."""
    d = load_table(spark, sf_dir, "documents").select(
        F.size(F.split("text", " ")).alias("n")
    )
    s = spark.range(1).selectExpr(
        "explode(array(128, 512, 1024)) AS seq_len"
    )
    j = d.crossJoin(F.broadcast(s))
    return j.groupBy("seq_len").agg(
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.expr("sum((n + seq_len - 1) div seq_len)")
        .cast("bigint")
        .alias("n_sequences_padded"),
        F.expr(
            "sum((n + seq_len - 1) div seq_len) * first(seq_len) - sum(n)"
        )
        .cast("bigint")
        .alias("padding_waste"),
        F.expr("(sum(n) + first(seq_len) - 1) div first(seq_len)")
        .cast("bigint")
        .alias("n_sequences_packed"),
    )


# ---------------------------------------------------------------------------
# basket-size distribution per order priority
# ---------------------------------------------------------------------------


@register(
    "orders_basket_size_stats",
    """
    WITH b AS (
      SELECT l_orderkey, COUNT(*) AS basket FROM lineitem GROUP BY 1
    ), j AS (
      SELECT o.o_orderpriority AS pri, b.basket
      FROM orders o JOIN b ON b.l_orderkey = o.o_orderkey
    ), r AS (
      SELECT pri, basket,
             ROW_NUMBER() OVER (PARTITION BY pri ORDER BY basket) AS rn,
             COUNT(*) OVER (PARTITION BY pri) AS n
      FROM j
    )
    SELECT pri AS o_orderpriority, CAST(MIN(n) AS BIGINT) AS n_orders,
           CAST(MIN(CASE WHEN rn = (n + 1) // 2 THEN basket END)
                AS BIGINT) AS median_basket,
           CAST(SUM(basket) AS BIGINT) AS total_items
    FROM r GROUP BY pri
    """,
)
def orders_basket_size_stats(spark, sf_dir):
    """Basket-size distribution per order priority: order count, exact
    lower-median items-per-order, and total items — the order-shape
    profile behind the market-basket and packing operators. Baskets
    come from one lineitem aggregate; the priority join shuffles on
    orderkey (co-partitioned); the median rank windows over priority
    (5 values) on the ORDER-count-sized table — rows per priority are
    orders, not lineitems, and ties share a basket value so tied rank
    assignment cannot change the reported median."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    b = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("basket"))
    j = o.select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderkey").alias("l_orderkey"),
    ).join(b, "l_orderkey")
    wr = W.partitionBy("pri").orderBy("basket")
    wn = W.partitionBy("pri")
    r = j.select(
        "pri",
        "basket",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return r.groupBy("pri").agg(
        F.min("n").cast("bigint").alias("n_orders"),
        F.min(
            F.when(
                F.col("rn") == F.floor((F.col("n") + 1) / 2),
                F.col("basket"),
            )
        ).cast("bigint").alias("median_basket"),
        F.sum("basket").cast("bigint").alias("total_items"),
    ).select(
        F.col("pri").alias("o_orderpriority"),
        "n_orders",
        "median_basket",
        "total_items",
    )


# ---------------------------------------------------------------------------
# repeat-purchase rate per year
# ---------------------------------------------------------------------------


@register(
    "orders_repeat_purchase_rate",
    """
    WITH oy AS (
      SELECT EXTRACT(year FROM o_orderdate) AS yr, o_custkey,
             COUNT(*) AS n
      FROM orders GROUP BY 1, 2
    )
    SELECT CAST(yr AS BIGINT) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS repeat_customers,
           CAST(CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                / COUNT(*) AS DOUBLE) AS repeat_rate
    FROM oy GROUP BY yr
    """,
)
def orders_repeat_purchase_rate(spark, sf_dir):
    """Share of active customers per year who ordered at least twice —
    the repeat-rate retention headline. Two partial-combined
    aggregates ((year, customer) then year); the rate is one IEEE
    division of sub-2^53 integers."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    oy = o.groupBy(
        F.year("o_orderdate").alias("yr"), "o_custkey"
    ).agg(F.count(F.lit(1)).alias("n"))
    rep = F.sum(F.when(F.col("n") >= 2, 1).otherwise(0))
    return oy.groupBy("yr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        rep.cast("bigint").alias("repeat_customers"),
        (rep.cast("double") / F.count(F.lit(1))).alias("repeat_rate"),
    ).select(
        F.col("yr").cast("bigint").alias("yr"),
        "n_customers",
        "repeat_customers",
        "repeat_rate",
    )


# ---------------------------------------------------------------------------
# revenue waterfall per ship year (gross -> discount -> tax), exact
# ---------------------------------------------------------------------------


@register(
    "lineitem_revenue_waterfall",
    """
    WITH l AS (
      SELECT EXTRACT(year FROM l_shipdate) AS yr,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS gross_c,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(l_discount AS DECIMAL(4,2)) * 10000 AS HUGEINT)
               AS disc_e4,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (1 - CAST(l_discount AS DECIMAL(4,2)))
                  * CAST(l_tax AS DECIMAL(4,2)) * 1000000 AS HUGEINT)
               AS tax_e6
      FROM lineitem
    )
    SELECT CAST(yr AS BIGINT) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(gross_c) AS BIGINT) AS gross_cents,
           CAST(SUM(disc_e4) AS VARCHAR) AS discount_e4,
           CAST(SUM(tax_e6) AS VARCHAR) AS tax_e6
    FROM l GROUP BY yr
    """,
)
def lineitem_revenue_waterfall(spark, sf_dir):
    """Finance waterfall per ship year: gross revenue, discount given,
    and tax charged — every component an EXACT integer at its natural
    scale (cents, 1e-4 dollars for price*discount, 1e-6 dollars for
    price*(1-disc)*tax — products of 2-dp decimals are exact at 4/6
    dp, and scaling by the matching power of ten makes them integers).
    The two product sums are emitted as digit strings: they pass 2^53
    at fleet scale while staying exact in decimal(38,0)/HUGEINT
    (engine-wide contract, parts_price_dispersion). One scan, one
    partial-combined aggregate."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ext = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    dec = "decimal(38,0)"
    l2 = li.select(
        F.year("l_shipdate").alias("yr"),
        (ext * 100).cast("long").alias("gross_c"),
        (ext * disc * 10000).cast(dec).alias("disc_e4"),
        (ext * (F.lit(1) - disc) * tax * 1000000).cast(dec).alias("tax_e6"),
    )
    return l2.groupBy("yr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("gross_c").cast("bigint").alias("gross_cents"),
        F.sum("disc_e4").cast("string").alias("discount_e4"),
        F.sum("tax_e6").cast("string").alias("tax_e6"),
    ).select(
        F.col("yr").cast("bigint").alias("yr"),
        "n_items",
        "gross_cents",
        "discount_e4",
        "tax_e6",
    )


# ---------------------------------------------------------------------------
# LSH bucket-size distribution (ANN geometry observability)
# ---------------------------------------------------------------------------


def _lsh_bucket_cte():
    from dmds_spark.operators.similarity import lsh_bucket_sql
    from dmds_spark.queries.llm_ops import LSH_PLANES, LSH_TABLES

    exprs = ", ".join(lsh_bucket_sql("embedding", LSH_TABLES, LSH_PLANES))
    return f"""
    WITH b AS (
      SELECT vec_id, UNNEST([{exprs}]) AS bucket FROM embeddings
    ), s AS (
      SELECT split_part(bucket, ':', 1) AS table_id, bucket,
             COUNT(*) AS sz
      FROM b GROUP BY 1, 2
    )
    SELECT CAST(table_id AS BIGINT) AS table_id,
           CAST(sz AS BIGINT) AS bucket_size,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS candidate_pairs
    FROM s GROUP BY 1, 2
    """


@register("similarity_lsh_bucket_stats", _lsh_bucket_cte())
def similarity_lsh_bucket_stats(spark, sf_dir):
    """LSH bucket-size distribution per table — the observability
    behind the tables x planes geometry knob: candidate-join cost is
    sum over buckets of sz*(sz-1)/2, and THIS table is where a skewed
    or undersized geometry shows up before it burns a cluster bill
    (SCALE.md: planes grow like log2(n) to bound bucket sizes). Same
    bucket strings as the blocking operators (lsh_buckets /
    lsh_bucket_sql — identical fold order, so both engines see the
    same sign bits). One explode + two partial-combined aggregates."""
    from dmds_spark.operators.similarity import lsh_buckets
    from dmds_spark.queries.llm_ops import LSH_PLANES, LSH_TABLES

    e = load_table(spark, sf_dir, "embeddings")
    b = e.select(
        F.explode(
            lsh_buckets(F.col("embedding"), LSH_TABLES, LSH_PLANES)
        ).alias("bucket")
    )
    s = b.groupBy(
        F.split_part(F.col("bucket"), F.lit(":"), F.lit(1)).alias(
            "table_id"
        ),
        "bucket",
    ).agg(F.count(F.lit(1)).alias("sz"))
    return s.groupBy("table_id", "sz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.expr("sum(sz * (sz - 1) div 2)")
        .cast("bigint")
        .alias("candidate_pairs"),
    ).select(
        F.col("table_id").cast("bigint").alias("table_id"),
        F.col("sz").cast("bigint").alias("bucket_size"),
        "n_buckets",
        "candidate_pairs",
    )


# ---------------------------------------------------------------------------
# MinHash blocking precision (candidate quality observability)
# ---------------------------------------------------------------------------


@register(
    "dedup_minhash_precision",
    CAND_CTE
    + """
    , v AS (
      SELECT cand.id_a FROM cand
      JOIN (SELECT doc_id, list_distinct(shingles) AS shd FROM sh) sa
        ON sa.doc_id = id_a
      JOIN (SELECT doc_id, list_distinct(shingles) AS shd FROM sh) sb
        ON sb.doc_id = id_b
      WHERE CAST(len(list_intersect(sa.shd, sb.shd)) AS DOUBLE)
              / greatest(len(list_distinct(list_concat(sa.shd, sb.shd))), 1)
            >= 0.5
    )
    SELECT CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_verified,
           CAST(CAST((SELECT COUNT(*) FROM v) AS DOUBLE)
                / greatest((SELECT COUNT(*) FROM cand), 1) AS DOUBLE)
             AS blocking_precision
    """,
)
def dedup_minhash_precision(spark, sf_dir):
    """Blocking precision of the MinHash LSH stage: what fraction of
    candidate pairs survive the exact-Jaccard verify — the companion
    to similarity_lsh_bucket_stats' cost view (bucket stats say what
    the blocking COSTS, this says what it BUYS; recall is pinned
    separately in tests/test_simhash.py / test_similarity_ops.py).
    Low precision means the band geometry wastes verify compute; the
    knob is bands-vs-rows, same calibration discipline as the LSH
    recall pins. One-row report; the ratio is one IEEE division of
    counts; the verify threshold expression is byte-identical to
    dedup_jaccard_verify's (hash-green since round 2) on both sides."""
    from dmds_spark.operators.dedup import (
        jaccard_verify_pairs,
        minhash_lsh_candidates,
        shared_shingles,
    )
    from dmds_spark.queries.llm_dedup import K_SHINGLE

    docs = load_table(spark, sf_dir, "documents")
    srows, sigs = shared_shingles(
        docs, "text", "doc_id", K_SHINGLE, NUM_HASHES
    )
    cand = minhash_lsh_candidates(sigs, "doc_id", NUM_HASHES, BANDS).select(
        "id_a", "id_b"
    ).transform(materialize)  # counted AND verified: one LSH pass
    ver = jaccard_verify_pairs(
        docs, cand, "text", "doc_id", K_SHINGLE, 0.5, shingle_rows=srows
    )
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nv = ver.agg(F.count(F.lit(1)).alias("n_verified"))
    return nc.crossJoin(nv).select(
        F.col("n_candidates").cast("bigint").alias("n_candidates"),
        F.col("n_verified").cast("bigint").alias("n_verified"),
        (
            F.col("n_verified").cast("double")
            / F.greatest(F.col("n_candidates"), F.lit(1)).cast("double")
        ).alias("blocking_precision"),
    )


# ---------------------------------------------------------------------------
# exact Gini coefficient of order values (distributed global rank)
# ---------------------------------------------------------------------------


@register(
    "orders_value_gini",
    """
    WITH v AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS c, o_orderkey
      FROM orders
    ), r AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c, o_orderkey) AS i,
             COUNT(*) OVER () AS n, SUM(c) OVER () AS s
      FROM v
    )
    SELECT CAST(MIN(n) AS BIGINT) AS n_orders,
           CAST(MIN(s) AS BIGINT) AS total_cents,
           CAST(2 * SUM(CAST(i AS HUGEINT) * c)
                - (MIN(n) + 1) * CAST(MIN(s) AS HUGEINT) AS VARCHAR)
             AS gini_num,
           CAST(CAST(MIN(n) AS HUGEINT) * MIN(s) AS VARCHAR) AS gini_den
    FROM r
    """,
)
def orders_value_gini(spark, sf_dir):
    """Exact Gini coefficient components of the order-value
    distribution — the revenue-concentration inequality metric
    (G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over values sorted
    ascending). Emitted as exact digit-string numerator/denominator
    (rank-weighted sums pass 2^53 immediately at any real scale —
    engine contract) with the scalar count and total alongside;
    consumers do the one division.

    Distributed shape: the value rank comes from ``global_row_number``
    (range-shard + per-shard offsets — the RFM machinery, driver sees
    one count per partition), then ONE partial-combined aggregate
    folds n, sum, and the rank-weighted sum. No single-partition
    window anywhere."""
    from dmds_spark.operators.relational import global_row_number

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    v = o.select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("c"),
        "o_orderkey",
    )
    r = global_row_number(v, ["c", "o_orderkey"], out="i")
    dec = "decimal(38,0)"
    agg = r.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("c").cast(dec)).alias("s"),
        # cast i BEFORE the product: i*c in int64 overflows past ~1e19
        # rank*cents (DuckDB's twin multiplies in HUGEINT already)
        F.sum(F.col("i").cast(dec) * F.col("c")).alias("sic"),
    )
    return agg.selectExpr(
        "CAST(n AS BIGINT) AS n_orders",
        "CAST(s AS BIGINT) AS total_cents",
        "CAST(2 * sic - (n + 1) * s AS STRING) AS gini_num",
        "CAST(n * s AS STRING) AS gini_den",
    )


# ---------------------------------------------------------------------------
# language-ID confusion matrix (classifier self-evaluation)
# ---------------------------------------------------------------------------


def _lang_confusion_sql():
    from dmds_spark.queries.llm_dedup import _LANG_CASE_SQL

    return f"""
    WITH tok AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ), p AS (
      SELECT lang AS actual_lang, {_LANG_CASE_SQL} AS predicted_lang
      FROM tok
    )
    SELECT actual_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM p GROUP BY 1, 2
    """


@register("text_lang_confusion", _lang_confusion_sql())
def text_lang_confusion(spark, sf_dir):
    """Confusion matrix of the stopword-profile language ID against
    the corpus's labeled lang column — the self-evaluation every
    heuristic classifier owes its users before it gates a training
    mix (on this synthetic word-soup corpus the heuristic mostly
    answers 'en'/'und', and THAT is the finding: the matrix quantifies
    exactly where the gate is trustworthy). Same deterministic
    classifier expression as text_lang_id (hash-green since round 2)
    on both sides; one scan, one partial-combined aggregate."""
    from dmds_spark.functions.text import lang_id, words

    d = load_table(spark, sf_dir, "documents")
    p = d.select(
        F.col("lang").alias("actual_lang"),
        lang_id(words("text")).alias("predicted_lang"),
    )
    return p.groupBy("actual_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# exact largest-remainder (Hamilton) stratified allocation
# ---------------------------------------------------------------------------

_ALLOC_TOTAL = 1000


@register(
    "sample_hamilton_allocation",
    f"""
    WITH s AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
    t AS (SELECT SUM(n) AS tot FROM s),
    q AS (
      SELECT source, n, {_ALLOC_TOTAL} * n // tot AS base,
             ({_ALLOC_TOTAL} * n) % tot AS rem
      FROM s, t
    ), r AS (
      SELECT source, n, base, rem,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk,
             {_ALLOC_TOTAL} - SUM(base) OVER () AS leftover
      FROM q
    )
    SELECT source, CAST(n AS BIGINT) AS n_docs,
           CAST(base AS BIGINT) AS base_alloc,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM r
    """,
)
def sample_hamilton_allocation(spark, sf_dir):
    """Proportional stratified sample allocation with exact
    largest-remainder (Hamilton) rounding: integer quotas per source
    that sum EXACTLY to the target (floor allocations, then the
    leftover seats go to the largest remainders, source-name
    tie-break) — the sampling plan a stratified drawer executes; naive
    per-stratum rounding over- or under-shoots the total and the
    discrepancy grows with #strata. Division-free comparisons: base
    and remainder are exact integer div/mod against the total.

    Shape: one data-sized aggregate collapses to the #strata-row
    table; the remainder rank windows over THAT (bounded by #sources,
    legitimately tiny forever)."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    t = s.agg(F.sum("n").alias("tot"))
    q = s.crossJoin(F.broadcast(t)).select(
        "source",
        "n",
        F.expr(f"{_ALLOC_TOTAL} * n div tot").alias("base"),
        F.expr(f"({_ALLOC_TOTAL} * n) % tot").alias("rem"),
    )
    tb = q.agg(F.sum("base").alias("sum_base"))
    wr = W.orderBy(F.col("rem").desc(), "source")
    r = (
        q.crossJoin(F.broadcast(tb))
        .withColumn("rk", F.row_number().over(wr))
        .withColumn("leftover", F.lit(_ALLOC_TOTAL) - F.col("sum_base"))
    )
    return r.select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("base").cast("bigint").alias("base_alloc"),
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        ).cast("bigint").alias("alloc"),
    )
