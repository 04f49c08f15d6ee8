"""Round-10 queries, batch two: sketch/score calibration and training
prep — a KMV (bottom-k) distinct sketch with its exact error of
record, a DSIR-style hashed importance weight in exact rational form,
OHLC time-series downsampling, and the curation funnel's attrition
report (first-failing-rule observability).

All oracle-checked under the exactness contract: counts and hash
integers are exact bigints; every ratio is ONE final IEEE division of
exactly-determined operands (identical expression shape both engines),
so doubles hash-compare bit-equal.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.functions.keys import sortable_int64
from dmds_spark.queries import register
from dmds_spark.sources.registry import load_events, load_table


# ---------------------------------------------------------------------------
# KMV / bottom-k distinct sketch with calibration against exact truth
# ---------------------------------------------------------------------------

_KMV_K = 64
# 48-bit hash: first 12 md5 hex chars — exact in an i64 on both
# engines (Spark: conv(...,16,10); DuckDB: '0x...'::BIGINT), and the
# (K-1) * 2^48 numerator still fits an i64.
_KMV_SPACE = 1 << 48


@register(
    "agg_kmv_distinct_calibration",
    f"""
    WITH bg AS (
      SELECT DISTINCT source, g FROM (
        SELECT source,
               UNNEST([t[i] || ' ' || t[i+1]
                       for i in range(1, len(t))]) AS g
        FROM (SELECT source, string_split(text, ' ') AS t
              FROM documents) tok
        WHERE len(t) >= 2
      )
    ), h AS (
      SELECT source, g,
             ('0x' || substr(md5(g), 1, 12))::BIGINT AS u
      FROM bg
    ), r AS (
      SELECT source, u,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY u, g) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n_exact
      FROM h
    )
    SELECT source, CAST(n_exact AS BIGINT) AS n_exact,
           u AS kth_hash,
           CAST(CAST({_KMV_K - 1} AS BIGINT) * {_KMV_SPACE} AS DOUBLE) / u
             AS kmv_estimate,
           CAST((CAST(CAST({_KMV_K - 1} AS BIGINT) * {_KMV_SPACE} AS DOUBLE)
                 / u) / n_exact AS DOUBLE) AS est_over_exact
    FROM r WHERE rn = {_KMV_K}
    """,
)
def agg_kmv_distinct_calibration(spark, sf_dir):
    """KMV (k-minimum-values / bottom-k) distinct sketch with its
    error of record: per source, the {_KMV_K}th-smallest 48-bit hash
    of the distinct word-bigram set yields the classic estimator
    (K-1) * 2^48 / kth_hash, reported next to the exact distinct
    count. KMV is THE mergeable distinct sketch for corpus-feature
    accounting (per-shard bottom-k sets union by keeping the k
    smallest — one tiny state per shard, exact to ~1/sqrt(K-2)
    relative error), and unlike HLL its estimator is a pure integer
    ratio — so the calibration is oracle-exact, not banded.

    Shape at scale: bigram explode -> per-source DISTINCT (one
    exchange, partial agg absorbs repeats) -> per-source bottom-k.
    The window here is per-source rank over the DISTINCT hash set —
    bounded by vocabulary, not corpus; the production form keeps a
    running bottom-k accumulator per shard and merges (the
    sketch-side of this exact pipeline). Hash ties are broken by the
    gram text so the kth value is a total-order statistic. A source
    with fewer than K distinct bigrams emits NO row (below capacity
    the sketch IS the exact set — there is no estimate to calibrate);
    both engines drop it identically."""
    tok = load_table(spark, sf_dir, "documents").select(
        "source", F.split("text", " ").alias("t")
    )
    bg = (
        tok.filter(F.size("t") >= 2)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t)-1),"
                    " i -> t[i-1] || ' ' || t[i])"
                )
            ).alias("g"),
        )
        .distinct()
    )
    h = bg.select(
        "source",
        "g",
        F.conv(F.substring(F.md5("g"), 1, 12), 16, 10)
        .cast("bigint")
        .alias("u"),
    )
    win = W.partitionBy("source").orderBy("u", "g")
    cnt = W.partitionBy("source")
    r = h.select(
        "source",
        "u",
        F.row_number().over(win).alias("rn"),
        F.count("*").over(cnt).alias("n_exact"),
    ).filter(F.col("rn") == _KMV_K)
    num = F.lit((_KMV_K - 1) * _KMV_SPACE).cast("double")
    est = num / F.col("u")
    return r.select(
        "source",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.col("u").alias("kth_hash"),
        est.alias("kmv_estimate"),
        (est / F.col("n_exact")).cast("double").alias("est_over_exact"),
    )


# ---------------------------------------------------------------------------
# DSIR-style hashed importance weight, exact rational surrogate
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 256
_BUCKET_SQL = "(('0x' || substr(md5({k}), 1, 15))::BIGINT % {n})"


_DSIR_SQL = f"""
    WITH tok AS (
      SELECT doc_id, lang,
             UNNEST(string_split(text, ' ')) AS w
      FROM documents
    ), b AS (
      SELECT doc_id, lang,
             {_BUCKET_SQL.format(k='w', n=_DSIR_BUCKETS)} AS bkt
      FROM tok
    ), stats AS (
      SELECT bkt,
             COUNT(*) AS ct_raw,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct_tgt
      FROM b GROUP BY bkt
    )
    SELECT b.doc_id,
           CAST(SUM(s.ct_tgt) AS BIGINT) AS tgt_mass,
           CAST(SUM(s.ct_raw) AS BIGINT) AS raw_mass,
           CAST(CAST(SUM(s.ct_tgt) AS DOUBLE) / SUM(s.ct_raw) AS DOUBLE)
             AS importance
    FROM b JOIN stats s USING (bkt)
    GROUP BY b.doc_id
    """


@register("sample_dsir_importance", _DSIR_SQL)
def sample_dsir_importance(spark, sf_dir):
    """DSIR-style hashed importance weighting (Xie et al., "Data
    Selection for Language Models via Importance Resampling"),
    ORACLE-EXACT RATIONAL FORM: hash every token into {_DSIR_BUCKETS}
    buckets, fit target (lang='en' proxy) and raw multinomials over
    buckets, and score each document by the ratio of its
    target-bucket mass to its raw-bucket mass — the log-free
    surrogate of the DSIR log-likelihood-ratio (the true form sums
    per-token log ratios; a float log sum is summation-order-
    dependent, so the exactness contract keeps the score a single
    division of two exact integer dot products; rank order against
    per-doc mean log-ratio is preserved whenever bucket ratios are
    on one side of 1, and the production resampler only needs a
    monotone score).

    Shape at scale: token stream -> one {_DSIR_BUCKETS}-row bucket
    aggregate (map-side partials do almost all the work) ->
    BROADCAST the bucket table back onto the token stream -> one
    per-doc aggregate. The bucket stats are the only global state —
    {_DSIR_BUCKETS} rows regardless of corpus size."""
    from dmds_spark.operators.sampling import hash_bucket

    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("w"),
    )
    b = tok.select(
        "doc_id",
        "lang",
        hash_bucket(F.col("w"), _DSIR_BUCKETS).alias("bkt"),
    )
    stats = b.groupBy("bkt").agg(
        F.count("*").alias("ct_raw"),
        F.sum((F.col("lang") == "en").cast("long")).alias("ct_tgt"),
    )
    j = b.join(F.broadcast(stats), "bkt")
    return j.groupBy("doc_id").agg(
        F.sum("ct_tgt").alias("tgt_mass"),
        F.sum("ct_raw").alias("raw_mass"),
        (F.sum("ct_tgt").cast("double") / F.sum("ct_raw"))
        .cast("double")
        .alias("importance"),
    )


# ---------------------------------------------------------------------------
# OHLC downsampling (events -> per-type hourly bars)
# ---------------------------------------------------------------------------


@register(
    "events_ohlc_downsample",
    """
    WITH k AS (
      SELECT event_type, date_trunc('hour', ts) AS bar_hour, value,
             lpad(CAST(CAST(epoch_us(ts) AS HUGEINT)
                       + 9223372036854775808 AS VARCHAR), 20, '0')
               || lpad(CAST(CAST(event_id AS HUGEINT)
                       + 9223372036854775808 AS VARCHAR), 20, '0') AS ok
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           CAST(bar_hour AS VARCHAR) AS bar_hour,
           min_by(value, ok) AS open_v,
           MAX(value) AS high_v,
           MIN(value) AS low_v,
           max_by(value, ok) AS close_v,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM k GROUP BY event_type, bar_hour
    """,
)
def events_ohlc_downsample(spark, sf_dir):
    """OHLC downsampling: per (event_type, hour) bar with
    open/high/low/close of ``value`` — the classic time-series
    compaction (tick stream -> bars) a metrics or market-data
    pipeline runs as its first rollup. Open/close are min_by/max_by
    over a TOTAL order key (epoch micros zero-padded ++ event_id, so
    ties at the same microsecond are broken deterministically);
    high/low are plain MIN/MAX — no double is ever summed, so every
    output value is an untouched input double and hash-compares
    exactly.

    Shape at scale: ONE hash aggregate over the event stream, all
    five measures as map-side partials (min_by/max_by combine like
    min/max). The bar grid is bounded (types x hours), no window, no
    join, no sort."""
    e = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    ok = F.concat(
        sortable_int64(F.unix_micros("ts")),
        sortable_int64(F.col("event_id")),
    )
    k = e.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("bar_hour"),
        "value",
        ok.alias("ok"),
    )
    return k.groupBy("event_type", "bar_hour").agg(
        F.min_by("value", "ok").alias("open_v"),
        F.max("value").alias("high_v"),
        F.min("value").alias("low_v"),
        F.max_by("value", "ok").alias("close_v"),
        F.count("*").cast("bigint").alias("n_events"),
    ).withColumn("bar_hour", F.col("bar_hour").cast("string"))


# ---------------------------------------------------------------------------
# curation attrition report (first-failing-rule funnel observability)
# ---------------------------------------------------------------------------

# Ordered rule chain; a doc is attributed to the FIRST rule it fails.
# Mirrors pipeline_curation's gate family so the report prices the
# real funnel: length gate, token-count gate, exact-dup gate, lang
# gate (zh standing in for "no tokenizer support yet").
#
# The word-soup corpus has no exact text duplicates, so docs on a
# doc_id % 97 schedule are rewritten to one long template page
# (>= 25 tokens and >= 120 chars so they PASS the earlier gates and
# reach the dup rule) — without the injection the exact-dup stage
# would be vacuously zero and the funnel evidence incomplete.
_TEMPLATE = " ".join(["template page body word"] * 8)  # 32 tokens, 191 ch
_ATTR_TEXT = (
    f"CASE WHEN doc_id % 97 = 0 THEN '{_TEMPLATE}' ELSE text END"
)
_ATTR_RULES_SQL = f"""
    WITH t0 AS (
      SELECT doc_id, lang, {_ATTR_TEXT} AS text FROM documents
    ), g AS (
      SELECT doc_id,
             length(text) AS n_ch,
             len(string_split(text, ' ')) AS n_tok,
             lang,
             ROW_NUMBER() OVER (PARTITION BY md5(text)
                                ORDER BY doc_id) AS rn
      FROM t0
    ), lab AS (
      SELECT CASE
               WHEN n_ch < 120 OR n_ch > 20000 THEN '1_length'
               WHEN n_tok < 25 THEN '2_min_tokens'
               WHEN rn > 1 THEN '3_exact_dup'
               WHEN lang = 'zh' THEN '4_lang_unsupported'
               ELSE '5_kept'
             END AS stage
      FROM g
    )
    SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM lab GROUP BY stage
"""


@register("pipeline_attrition_report", _ATTR_RULES_SQL)
def pipeline_attrition_report(spark, sf_dir):
    """Curation-funnel attrition report: every document attributed to
    the FIRST rule it fails (length gate -> min-token gate ->
    exact-dup gate -> language gate), plus the survivors — the
    observability table a production pipeline publishes per ingest
    batch so a rule change's blast radius is visible before the
    corpus is rebuilt. First-failure attribution (not per-rule
    marginals) is the form that sums to the corpus size and makes
    stage-over-stage diffs meaningful.

    Shape at scale: one projection computes all rule predicates in a
    single pass; the exact-dup rule reuses the md5 keep-first window
    (hash-partitioned by digest — corpus-wide but key-parallel);
    the report aggregate is 5 rows."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.expr(_ATTR_TEXT).alias("text")
    )
    g = d.select(
        "doc_id",
        F.length("text").alias("n_ch"),
        F.size(F.split("text", " ")).alias("n_tok"),
        "lang",
        F.row_number()
        .over(W.partitionBy(F.md5("text")).orderBy("doc_id"))
        .alias("rn"),
    )
    stage = (
        F.when((F.col("n_ch") < 120) | (F.col("n_ch") > 20000), "1_length")
        .when(F.col("n_tok") < 25, "2_min_tokens")
        .when(F.col("rn") > 1, "3_exact_dup")
        .when(F.col("lang") == "zh", "4_lang_unsupported")
        .otherwise("5_kept")
    )
    return (
        g.select(stage.alias("stage"))
        .groupBy("stage")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# one exact Lloyd step of k-means over the embedding table
# ---------------------------------------------------------------------------

_LLOYD_K = 8
_LLOYD_SCALE = 1_000_000  # floor(x * 1e6): exact i64 grid


@register(
    "embedding_kmeans_lloyd_step",
    f"""
    WITH q AS (
      SELECT vec_id,
             [CAST(floor(CAST(x AS DOUBLE) * {_LLOYD_SCALE}.0) AS BIGINT)
              for x in embedding] AS qv
      FROM embeddings
    ), cent AS (
      SELECT vec_id AS cid, qv AS qc FROM q WHERE vec_id < {_LLOYD_K}
    ), d AS (
      SELECT q.vec_id, c.cid,
             list_sum([(q.qv[i] - c.qc[i]) * (q.qv[i] - c.qc[i])
                       for i in range(1, len(q.qv) + 1)]) AS dist
      FROM q CROSS JOIN cent c
    ), assign AS (
      SELECT vec_id,
             min_by(cid, lpad(CAST(dist AS VARCHAR), 20, '0')
                         || lpad(CAST(cid AS VARCHAR), 4, '0')) AS cid
      FROM d GROUP BY vec_id
    ), j AS (
      SELECT a.cid, q.qv FROM assign a JOIN q ON a.vec_id = q.vec_id
    ), ex AS (
      SELECT cid, UNNEST([{{'dim': i, 'qx': qv[i]}}
                          for i in range(1, len(qv) + 1)]) AS u
      FROM j
    )
    SELECT cid, u.dim AS dim,
           CAST(SUM(u.qx) AS BIGINT) AS sum_q,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM ex GROUP BY cid, u.dim
    """,
)
def embedding_kmeans_lloyd_step(spark, sf_dir):
    """One EXACT Lloyd iteration of k-means over the embedding table:
    quantize each dimension to the floor(x*1e6) integer grid, assign
    every vector to the L2-nearest of the first {_LLOYD_K} vectors
    (deterministic seed), and emit the new-centroid sufficient
    statistics (per-cluster per-dimension coordinate SUM + member
    count) in long form. All arithmetic is i64-exact (squared grid
    distances peak ~2.6e14 over 64 dims), the argmin key is a
    zero-padded (dist, cid) string so ties break toward the lower
    cluster id, and the centroid MEAN is left to the caller as
    sum_q / n_members — emitting the division would be the only
    inexact step, so the oracle checks the sufficient statistics.

    Shape at scale: the assign stage is embeddings x k (broadcast the
    k centroids — never a shuffle of the big side), the update stage
    is one hash aggregate over (cluster, dim). This is exactly one
    distributed Lloyd round; operators/similarity.py kmeans_assign
    iterates the same shape with codegen vector math."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(floor("
            f"CAST(x AS DOUBLE) * {_LLOYD_SCALE}.0) AS BIGINT))"
        ).alias("qv"),
    )
    cent = q.filter(F.col("vec_id") < _LLOYD_K).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("qc")
    )
    d = q.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cid",
        F.expr(
            "aggregate(zip_with(qv, qc, (a, b) -> (a - b) * (a - b)),"
            " 0L, (acc, v) -> acc + v)"
        ).alias("dist"),
    )
    key = F.concat(
        F.lpad(F.col("dist").cast("string"), 20, "0"),
        F.lpad(F.col("cid").cast("string"), 4, "0"),
    )
    assign = d.groupBy("vec_id").agg(F.min_by("cid", key).alias("cid"))
    j = assign.join(q, "vec_id").select("cid", "qv")
    ex = j.select(
        "cid",
        F.explode(
            F.expr(
                "transform(sequence(1, size(qv)),"
                " i -> struct(i AS dim, qv[i-1] AS qx))"
            )
        ).alias("u"),
    )
    return ex.groupBy("cid", F.col("u.dim").alias("dim")).agg(
        F.sum("u.qx").alias("sum_q"),
        F.count("*").cast("bigint").alias("n_members"),
    )
