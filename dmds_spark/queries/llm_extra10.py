"""Round-6 queries, batch two: BPE merge-candidate mining, PII-shaped
pattern scanning, Heaps'-law vocabulary growth, ANN recall
observability, exact correlation components, systematic sampling, and
inter-arrival histograms — every one oracle-checked in DuckDB with the
repo's exactness contract (decimal money, digit-string wide integers,
total-order top-k).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.core.engine import materialize
from dmds_spark.sources.registry import load_events, load_table


# ---------------------------------------------------------------------------
# BPE training step: most frequent adjacent-token merge candidates
# ---------------------------------------------------------------------------


@register(
    "tokens_bpe_merge_candidates",
    """
    WITH tok AS (
      SELECT string_split(text, ' ') AS t FROM documents
    ), big AS (
      SELECT UNNEST([t[i] || '|' || t[i+1] for i in range(1, len(t))])
        AS pair
      FROM tok WHERE len(t) >= 2
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM big GROUP BY pair
    ORDER BY n DESC, pair LIMIT 30
    """,
)
def tokens_bpe_merge_candidates(spark, sf_dir):
    """The inner loop of BPE/WordPiece tokenizer TRAINING: count every
    adjacent token pair across the corpus and surface the top merge
    candidates — run once per merge round when fitting a tokenizer to
    a new corpus (the operation the packing/token-count queries
    consume downstream). Pair key is 'left|right'.

    Shape at scale: one explode of per-doc adjacent pairs (output rows
    = total tokens - docs, same cardinality as the token stream) into
    one partial-combined count shuffle, TakeOrdered(30) by the total
    order (n desc, pair) — identical shape to text_ngram_topk, which
    has been driver-green since round 4."""
    tok = load_table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("t")
    )
    pairs = tok.filter(F.size("t") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> concat(element_at(t, i), '|', element_at(t, i + 1)))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(30)
    )


# ---------------------------------------------------------------------------
# PII-shaped pattern scan (redaction pre-pass)
# ---------------------------------------------------------------------------

# one regex dialect subset that Java (Spark) and RE2 (DuckDB) treat
# identically: character classes, bounded repetition, no backrefs
_PII_PATTERNS = {
    "email": "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}",
    "phoneish": "[0-9]{3}-[0-9]{3,4}-[0-9]{4}",
    "digit_run": "[0-9]{6,}",
    "hex_token": "0x[0-9a-fA-F]{8,}",
}


def _pii_sql() -> str:
    cols = ", ".join(
        f"CAST(SUM(len(regexp_extract_all(text, '{p}'))) AS BIGINT)"
        f" AS n_{name}"
        for name, p in _PII_PATTERNS.items()
    )
    hits = " + ".join(
        f"CASE WHEN regexp_matches(text, '{p}') THEN 1 ELSE 0 END"
        for p in _PII_PATTERNS.values()
    )
    return f"""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, {cols},
           CAST(SUM(CASE WHEN {hits} > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_any
    FROM documents GROUP BY source
    """


@register("text_pii_counts", _pii_sql())
def text_pii_counts(spark, sf_dir):
    """PII-shaped pattern scan per source — the sizing pass every
    redaction/anonymization stage runs before rewriting a corpus
    (how many docs are touched, how many spans per pattern class).
    Patterns (email, phone-shaped, long digit runs, hex tokens) use
    the regex-dialect subset Java and RE2 match identically (classes
    + bounded repetition, no backrefs), so both engines count the
    same spans. On this synthetic word-soup corpus most counts are 0
    or near 0 — the point of the driver row is that both engines
    agree EXACTLY on sparse counts too (zero-inflated columns are
    where miscounts hide). One scan, regexp_count per pattern fused
    into the same projection, one partial-combined aggregate."""
    d = load_table(spark, sf_dir, "documents")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_docs")]
    any_hit = None
    for name, p in _PII_PATTERNS.items():
        c = F.regexp_count("text", F.lit(p))
        aggs.append(F.sum(c).cast("bigint").alias(f"n_{name}"))
        hit = (c > 0).cast("int")
        any_hit = hit if any_hit is None else any_hit + hit
    aggs.append(
        F.sum((any_hit > 0).cast("int")).cast("bigint").alias("docs_with_any")
    )
    return d.groupBy("source").agg(*aggs)


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth curve
# ---------------------------------------------------------------------------

_HEAPS_BUCKETS = 10


def _heaps_sql() -> str:
    return f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents
    ), firsts AS (
      SELECT t, MIN(doc_id) AS first_doc FROM tok GROUP BY t
    ), n AS (SELECT MAX(doc_id) AS mx FROM documents),
    b AS (
      -- integer division, NOT cast-of-double: DuckDB casts round
      -- (1.5 -> 2) while Spark casts truncate, so a float bucket
      -- expression diverges on any first_doc landing on a .5 boundary
      SELECT LEAST(first_doc * {_HEAPS_BUCKETS} // (n.mx + 1),
                   {_HEAPS_BUCKETS - 1}) AS bucket,
             COUNT(*) AS new_types
      FROM firsts, n GROUP BY 1
    ), g AS (
      SELECT i AS bucket FROM range({_HEAPS_BUCKETS}) r(i)
    )
    SELECT g.bucket,
           CAST(COALESCE(b.new_types, 0) AS BIGINT) AS new_types,
           CAST(SUM(COALESCE(b.new_types, 0)) OVER (
             ORDER BY g.bucket) AS BIGINT) AS vocab_size
    FROM g LEFT JOIN b ON b.bucket = g.bucket
    """


@register("text_vocab_growth", _heaps_sql())
def text_vocab_growth(spark, sf_dir):
    """Heaps'-law vocabulary growth: how many NEW token types each
    tenth of the corpus (by doc_id order) introduces, and the running
    vocabulary size — the curve that answers "is more of this source
    still adding vocabulary, or only repeating it?" when sizing a
    training mix.

    Shape at scale: tokens collapse to (type, first_doc) via one
    groupBy-min (bounded by vocabulary, not the token stream), buckets
    aggregate to exactly 10 rows, and the cumulative sum runs
    on those 10 rows (a calendar-bounded-style tiny window —
    never over data-sized partitions)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    firsts = tok.groupBy("t").agg(F.min("doc_id").alias("first_doc"))
    mx = d.agg(F.max("doc_id").alias("mx"))
    b = (
        firsts.crossJoin(F.broadcast(mx))
        .select(
            # `div` = integer division (matches DuckDB `//` for
            # non-negative operands); see the oracle SQL comment
            F.least(
                F.expr(f"(first_doc * {_HEAPS_BUCKETS}) div (mx + 1)"),
                F.lit(_HEAPS_BUCKETS - 1).cast("bigint"),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    g = spark.range(_HEAPS_BUCKETS).select(F.col("id").alias("bucket"))
    w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        g.join(b, "bucket", "left")
        .withColumn("new_types", F.coalesce("new_types", F.lit(0)))
        .select(
            "bucket",
            F.col("new_types").cast("bigint").alias("new_types"),
            F.sum("new_types").over(w).cast("bigint").alias("vocab_size"),
        )
    )


# ---------------------------------------------------------------------------
# ANN recall observability: LSH top-k vs exact top-k
# ---------------------------------------------------------------------------

_RECALL_QUERIES = 16
_RECALL_K = 10


def _recall_sql() -> str:
    from dmds_spark.queries.llm_dedup import _BUCKET_SQL

    return f"""
    WITH b AS (
      SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings
    ), q AS (SELECT * FROM b WHERE vec_id < {_RECALL_QUERIES}),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.vec_id AS qid, e.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(e.embedding, q.embedding)
                   DESC, e.vec_id
               ) AS rn
        FROM b e, q WHERE e.vec_id <> q.vec_id
      ) WHERE rn <= {_RECALL_K}
    ), lsh AS (
      SELECT qid, vec_id FROM (
        SELECT q.vec_id AS qid, e.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(e.embedding, q.embedding)
                   DESC, e.vec_id
               ) AS rn
        FROM b e, q
        WHERE e.bucket = q.bucket AND e.vec_id <> q.vec_id
      ) WHERE rn <= {_RECALL_K}
    ), nb AS (
      SELECT q.vec_id AS qid, COUNT(*) AS n_bucket
      FROM b e, q
      WHERE e.bucket = q.bucket AND e.vec_id <> q.vec_id
      GROUP BY 1
    )
    SELECT exact.qid,
           CAST(MIN(COALESCE(nb.n_bucket, 0)) AS BIGINT) AS n_bucket,
           CAST(SUM(CASE WHEN lsh.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS hits,
           CAST(SUM(CASE WHEN lsh.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / {_RECALL_K} AS recall_at_k
    FROM exact
    LEFT JOIN lsh ON lsh.qid = exact.qid AND lsh.vec_id = exact.vec_id
    LEFT JOIN nb ON nb.qid = exact.qid
    GROUP BY exact.qid
    """


@register("similarity_lsh_recall_report", _recall_sql())
def similarity_lsh_recall_report(spark, sf_dir):
    """Recall@k of the sign-LSH bucket ANN against the exact top-k,
    per query vector — the measure-don't-guess report that decides
    whether a bucket geometry is good enough to ship (the companion
    to similarity_lsh_bucket_stats, which prices its COST). Uses the
    SAME bucket construction as similarity_ann_lsh_topk (hash-green
    since round 2), 16 query vectors, k=10.

    Shape at scale: the query set broadcasts; both candidate scorings
    are per-qid windows (bounded per partition by corpus/bucket size
    — swap in the per-partition top-k fold at 100 TB, as
    similarity_knn_batch documents); the recall join keys on
    (qid, vec_id) pairs, 2k rows per query at most."""
    from dmds_spark.operators.similarity import cosine
    from dmds_spark.queries.llm_dedup import ANN_PLANES, _hyperplane

    e = load_table(spark, sf_dir, "embeddings")

    def dot_lit(vec_col, plane):
        return F.aggregate(
            F.zip_with(
                vec_col,
                F.array(*[F.lit(v) for v in plane]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    bucket = F.concat(
        *[
            F.when(dot_lit(F.col("embedding"), _hyperplane(h)) > 0, "1")
            .otherwise("0")
            for h in range(ANN_PLANES)
        ]
    )
    b = e.select("vec_id", "embedding", bucket.alias("bucket"))
    b = b.transform(materialize)  # 3 consumers: q, exact, lsh
    q = b.filter(F.col("vec_id") < _RECALL_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    sim = cosine(F.col("embedding"), F.col("qv"))

    def topk(joined):
        w = W.partitionBy("qid").orderBy(
            F.col("__sim").desc(), F.col("vec_id")
        )
        return (
            joined.withColumn("__sim", sim)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _RECALL_K)
        )

    exact = topk(
        b.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("qid"))
    ).select("qid", "vec_id")
    in_bucket = b.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qbucket"))
        & (F.col("vec_id") != F.col("qid")),
    )
    lsh = topk(in_bucket).select("qid", "vec_id", F.lit(1).alias("__hit"))
    nb = in_bucket.groupBy("qid").agg(F.count(F.lit(1)).alias("n_bucket"))
    return (
        exact.join(lsh, ["qid", "vec_id"], "left")
        .join(nb, ["qid"], "left")
        .groupBy("qid")
        .agg(
            F.min(F.coalesce("n_bucket", F.lit(0)))
            .cast("bigint")
            .alias("n_bucket"),
            F.sum(F.coalesce("__hit", F.lit(0)))
            .cast("bigint")
            .alias("hits"),
            (
                F.sum(F.coalesce("__hit", F.lit(0))).cast("double")
                / _RECALL_K
            ).alias("recall_at_k"),
        )
    )


# ---------------------------------------------------------------------------
# exact correlation components over lineitem numerics
# ---------------------------------------------------------------------------


_CORR_COLS = [
    ("qty", "CAST(l_quantity AS BIGINT)"),
    ("price_c", "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)"),
    ("disc_pc", "CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT)"),
    ("tax_pc", "CAST(CAST(l_tax AS DECIMAL(12,2)) * 100 AS BIGINT)"),
]


def _corr_sql() -> str:
    import itertools

    v = "SELECT " + ", ".join(e + f" AS {n}" for n, e in _CORR_COLS) + \
        " FROM lineitem"
    pairs = list(itertools.combinations([n for n, _ in _CORR_COLS], 2))
    sel = []
    for a, bcol in pairs:
        sel.append(
            f"SELECT '{a}' AS col_a, '{bcol}' AS col_b,"
            f" CAST(COUNT(*) AS BIGINT) AS n,"
            f" CAST(COUNT(*) * SUM(CAST({a} AS HUGEINT) * {bcol})"
            f"   - SUM(CAST({a} AS HUGEINT)) * SUM({bcol}) AS VARCHAR)"
            f"   AS ss_xy,"
            f" CAST(COUNT(*) * SUM(CAST({a} AS HUGEINT) * {a})"
            f"   - SUM(CAST({a} AS HUGEINT)) * SUM({a}) AS VARCHAR)"
            f"   AS ss_xx,"
            f" CAST(COUNT(*) * SUM(CAST({bcol} AS HUGEINT) * {bcol})"
            f"   - SUM(CAST({bcol} AS HUGEINT)) * SUM({bcol}) AS VARCHAR)"
            f"   AS ss_yy"
            f" FROM v"
        )
    return f"WITH v AS ({v}) " + " UNION ALL ".join(sel)


@register("lineitem_corr_components", _corr_sql())
def lineitem_corr_components(spark, sf_dir):
    """Exact Pearson-correlation components for every pair of lineitem
    numerics (quantity, price cents, discount %, tax %): n, and the
    cross-multiplied sums SS_xy = n*sum(xy) - sum(x)sum(y) (and xx,
    yy) as DIGIT STRINGS — r = SS_xy / sqrt(SS_xx * SS_yy) is one
    consumer-side evaluation, but the components themselves are exact
    integers at any scale (n*sum(x^2) at 1e13 rows of cents passes
    2^63 immediately, hence decimal/HUGEINT + string emission, the
    profile_ks_drift discipline). The same single pass also powers
    covariance matrices and standardization constants for feature
    pipelines.

    Shape at scale: ONE scan aggregates all four columns' sums,
    squares, and the six cross products in a single partial-combined
    aggregate (no shuffle per pair); the pair table is assembled from
    that one row."""
    import itertools

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dec = "decimal(38,0)"
    v = li.select(
        F.col("l_quantity").cast("bigint").alias("qty"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("price_c"),
        (F.col("l_discount").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("disc_pc"),
        (F.col("l_tax").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("tax_pc"),
    )
    names = [n for n, _ in _CORR_COLS]
    aggs = [F.count(F.lit(1)).cast(dec).alias("n")]
    for n in names:
        aggs.append(F.sum(F.col(n).cast(dec)).alias(f"s_{n}"))
        aggs.append(
            F.sum(F.col(n).cast(dec) * F.col(n)).alias(f"q_{n}")
        )
    for a, bcol in itertools.combinations(names, 2):
        aggs.append(
            F.sum(F.col(a).cast(dec) * F.col(bcol)).alias(f"p_{a}_{bcol}")
        )
    # ONE row of sums/squares/cross-products; SIX pair-row consumers —
    # without the barrier every union branch re-runs the full scan
    # (plan-pinned single-scan in test_plans.py)
    one = v.agg(*aggs).transform(materialize)
    rows = []
    for a, bcol in itertools.combinations(names, 2):
        rows.append(
            one.select(
                F.lit(a).alias("col_a"),
                F.lit(bcol).alias("col_b"),
                F.col("n").cast("bigint").alias("n"),
                (F.col("n") * F.col(f"p_{a}_{bcol}")
                 - F.col(f"s_{a}") * F.col(f"s_{bcol}"))
                .cast(dec).cast("string").alias("ss_xy"),
                (F.col("n") * F.col(f"q_{a}")
                 - F.col(f"s_{a}") * F.col(f"s_{a}"))
                .cast(dec).cast("string").alias("ss_xx"),
                (F.col("n") * F.col(f"q_{bcol}")
                 - F.col(f"s_{bcol}") * F.col(f"s_{bcol}"))
                .cast(dec).cast("string").alias("ss_yy"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# systematic sampling by global rank
# ---------------------------------------------------------------------------

_SYS_K = 37  # co-prime with nothing in particular: every k-th row


@register(
    "sample_systematic_every_k",
    f"""
    SELECT doc_id, rnk FROM (
      SELECT doc_id, ROW_NUMBER() OVER (
        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
      FROM documents
    ) WHERE (rnk - 1) % {_SYS_K} = 0
    """,
)
def sample_systematic_every_k(spark, sf_dir):
    """Systematic sampling: order the corpus by a deterministic hash
    (md5 of the id — a reproducible shuffle) and keep every 37th
    row. Complements hash-threshold sampling (sample_hash_10pct) with
    the EXACT-cardinality guarantee stratified pipelines want:
    ceil(n/37) rows, always, whereas threshold sampling's count is
    binomial. Global rank comes from the sharded global_row_number
    operator (per-shard offsets, one count per partition to the
    driver) — no single-partition window."""
    from dmds_spark.operators.relational import global_row_number

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("__h")
    )
    r = global_row_number(d, ["__h", "doc_id"], out="rnk")
    return (
        r.filter((F.col("rnk") - 1) % _SYS_K == 0)
        .select("doc_id", F.col("rnk").cast("bigint").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# inter-arrival histogram per event type
# ---------------------------------------------------------------------------


@register(
    "events_inter_arrival_histogram",
    """
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
             ) AS gap_us
      FROM events
    )
    SELECT event_type,
           CASE WHEN gap_us < 1000000 THEN 'lt_1s'
                WHEN gap_us < 60000000 THEN 'lt_1m'
                WHEN gap_us < 600000000 THEN 'lt_10m'
                WHEN gap_us < 3600000000 THEN 'lt_1h'
                ELSE 'ge_1h' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_inter_arrival_histogram(spark, sf_dir):
    """Distribution of per-user inter-arrival gaps by event type,
    bucketed at the operational thresholds (1s/1m/10m/1h) — the
    sessionization-timeout and rate-limit tuning view (the median
    alone, events_inter_arrival_median, hides the bimodality this
    exposes). Gaps in exact integer microseconds; buckets are CASE
    thresholds, so both engines bin identically (no float log
    bucketing). One (user, type)-partitioned lag window + one count
    shuffle."""
    ev = load_events(spark, sf_dir)
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias(
            "gap_us"
        ),
    ).filter(F.col("gap_us").isNotNull())
    bucket = (
        F.when(F.col("gap_us") < 1_000_000, "lt_1s")
        .when(F.col("gap_us") < 60_000_000, "lt_1m")
        .when(F.col("gap_us") < 600_000_000, "lt_10m")
        .when(F.col("gap_us") < 3_600_000_000, "lt_1h")
        .otherwise("ge_1h")
    )
    return (
        g.select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
