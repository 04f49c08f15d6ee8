"""LLM-data-pipeline operators (north star, SURVEY.md §2b last row):
deduplication, similarity search, text analysis over the `documents`
and `embeddings` tables.

Every hash used here is md5 — available and bit-identical in both Spark
and DuckDB — so even MinHash/LSH pipelines are oracle-checkable: the
"random" hash family h_i(x) = md5(i || x) is deterministic and engine-
independent. At 100 TB these operators are shuffle-bound on the
(band-hash -> bucket) exchange; the bucket join is an equi-join that
AQE handles, and signatures are fixed-width so skew is bounded by
bucket collision rates, not data skew.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dmds_spark.operators.similarity import (
    lsh_blocked_pairs,
    lsh_bucket_sql,
    pair_cosine,
)
from dmds_spark.queries import register
from dmds_spark.sources.registry import load_table

# Multi-table sign-LSH blocking parameters shared by the near-dup and
# pairs-threshold queries (and their generated oracle SQL). 6 planes =
# 64 buckets/table keeps candidate volume ~n^2/64 per table at this
# corpus size; at 100 TB grow planes like log2(n / target_bucket_rows)
# and buy recall back with more tables (recall for a pair at angle θ is
# 1 - (1 - (1-θ/π)^planes)^tables).
LSH_TABLES = 12
LSH_PLANES = 6

_PAIR_CAND_CTE = f"""
WITH b AS (
  SELECT vec_id, embedding,
         UNNEST([{", ".join(lsh_bucket_sql("embedding", LSH_TABLES, LSH_PLANES))}]) AS bucket
  FROM embeddings
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
)
"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_token_stats",
    """
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars,
           CAST(LENGTH(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(LENGTH(REPLACE(text, ' ', '')) AS BIGINT) AS n_nonspace
    FROM documents
    """,
)
def text_token_stats(spark, sf_dir):
    """Whitespace token counting + char stats — the unit everything in
    a data pipeline is billed in. Pure built-ins, no UDF."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.length(F.regexp_replace(F.col("text"), " ", "")).cast("bigint").alias("n_nonspace"),
    )


@register(
    "text_quality_score",
    """
    SELECT doc_id,
           CAST(ROUND(CAST(LENGTH(string_split(text, ' ')) AS DECIMAL(18,9))
                 / GREATEST(LENGTH(text), 1), 4) AS DOUBLE) AS tokens_per_char,
           (LENGTH(text) >= 100 AND LENGTH(text) <= 20000) AS len_ok,
           CAST(LENGTH(text) - LENGTH(REPLACE(text, 'e', '')) AS BIGINT) AS n_e
    FROM documents
    """,
)
def text_quality_score(spark, sf_dir):
    """Quality heuristics: token density, length gate, letter frequency
    — the building blocks of C4/Gopher-style quality filters."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("decimal(18,9)")
    n_char = F.greatest(F.length("text"), F.lit(1))
    return d.select(
        "doc_id",
        F.round(n_tok / n_char, 4).cast("double").alias("tokens_per_char"),
        ((F.length("text") >= 100) & (F.length("text") <= 20000)).alias("len_ok"),
        (F.length("text") - F.length(F.regexp_replace(F.col("text"), "e", "")))
        .cast("bigint")
        .alias("n_e"),
    )


@register(
    "text_fingerprint",
    """
    SELECT md5(LOWER(TRIM(text))) AS fp, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM documents GROUP BY md5(LOWER(TRIM(text)))
    """,
)
def text_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 of normalized text; groups = exact-dup
    clusters. At scale this is a single hash-shuffle on a 32-char key."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    return d.groupBy(fp.alias("fp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dupes
    FROM documents
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup stats via content hash. The keep-first variant is
    dedup_exact_keep_first."""
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5(F.col("text"))).cast("bigint").alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5(F.col("text"))))
        .cast("bigint")
        .alias("n_dupes"),
    )


@register(
    "dedup_exact_keep_first",
    """
    SELECT doc_id FROM (
      SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_exact_keep_first(spark, sf_dir):
    """Exact dedup keeping the lowest doc_id per content hash — one
    hash-shuffle; at 100 TB the md5 key bounds shuffle width."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@register(
    "similarity_cosine_topk",
    """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           CAST(ROUND(CAST(list_cosine_similarity(e.embedding, q.qv) AS DECIMAL(18,9)), 4) AS DOUBLE) AS sim
    FROM embeddings e, q
    WHERE vec_id <> 0
    ORDER BY list_cosine_similarity(e.embedding, q.qv) DESC, vec_id
    LIMIT 10
    """,
)
def similarity_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k against the vec_id=0 query vector.

    JVM-side only: F.aggregate/zip_with over array<float> — no Python
    UDF in the hot path. This is the exact baseline; the LSH-bucketed
    variant (similarity_ann_lsh in operators/similarity.py) is the
    scale path. Ordering is by exact double cosine (bit-identical both
    engines: float inputs promoted to double, same multiply-add order),
    rounded only for display.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    joined = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    norm = lambda v: F.sqrt(dot(v, v))  # noqa: E731
    sim = dot(F.col("embedding"), F.col("qv")) / (
        norm(F.col("embedding")) * norm(F.col("qv"))
    )
    return (
        joined.withColumn("sim_exact", sim)
        .orderBy(F.col("sim_exact").desc(), F.col("vec_id"))
        .limit(10)
        .select(
            "vec_id",
            F.round(F.col("sim_exact").cast("decimal(18,9)"), 4).cast("double").alias("sim"),
        )
    )


@register(
    "dedup_embedding_neardup",
    _PAIR_CAND_CTE
    + """
    SELECT vec_id FROM embeddings WHERE vec_id NOT IN (
      SELECT c.id_b FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.id_a
      JOIN embeddings eb ON eb.vec_id = c.id_b
      WHERE list_cosine_similarity(ea.embedding, eb.embedding) > 0.45
    )
    """,
)
def dedup_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dedup: drop each vector whose cosine to a
    lower-id LSH-candidate vector exceeds 0.45 (the top of this
    corpus's pair distribution).

    Scale shape: multi-table sign-LSH blocking (operators/similarity)
    — bucketing is a per-row scan, the candidate join is an equi-join
    on the bucket string, and the exact cosine runs only on deduped
    candidates. Never an all-pairs product; plan-pinned in
    tests/test_plans.py. The oracle mirrors the same buckets, so the
    probabilistic recall is identical on both sides."""
    e = load_table(spark, sf_dir, "embeddings")
    cand = lsh_blocked_pairs(e, "vec_id", "embedding", LSH_TABLES, LSH_PLANES)
    doomed = (
        cand.filter(pair_cosine() > 0.45)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return e.join(doomed, "vec_id", "left_anti").select("vec_id")


@register(
    "similarity_ivf_topk",
    """
    WITH anchors AS (
      SELECT vec_id AS aid, embedding AS av FROM embeddings WHERE vec_id < 8
    ), assign AS (
      SELECT e.vec_id, e.embedding, a.aid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, a.av) DESC, a.aid
             ) AS rn
      FROM embeddings e CROSS JOIN anchors a
    ), cells AS (
      SELECT vec_id, embedding, aid FROM assign WHERE rn = 1
    ), q AS (SELECT * FROM cells WHERE vec_id = 0)
    SELECT c.vec_id,
           CAST(ROUND(CAST(list_cosine_similarity(c.embedding, q.embedding) AS DECIMAL(18,9)), 4) AS DOUBLE) AS sim
    FROM cells c, q
    WHERE c.aid = q.aid AND c.vec_id <> 0
    ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC, c.vec_id
    LIMIT 10
    """,
)
def similarity_ivf_topk(spark, sf_dir):
    """IVF-style ANN: 8 anchor vectors (vec_id < 8) act as coarse
    centroids; every vector is assigned to its nearest anchor (inverted
    file cell) and the query searches only its own cell. At scale the
    cell id is the partition key (partition pruning per query) and
    anchors are a broadcast list; assignment is one scan."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("aid"), F.col("embedding").alias("av")
    )

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def cos(x, y):
        return dot(x, y) / (F.sqrt(dot(x, x)) * F.sqrt(dot(y, y)))

    w = W.partitionBy("vec_id").orderBy(
        cos(F.col("embedding"), F.col("av")).desc(), F.col("aid")
    )
    cells = (
        e.crossJoin(F.broadcast(anchors))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "aid")
    )
    q = cells.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), F.col("aid").alias("qaid")
    )
    sim = cos(F.col("embedding"), F.col("qv"))
    return (
        cells.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q), F.col("aid") == F.col("qaid"))
        .withColumn("sim_exact", sim)
        .orderBy(F.col("sim_exact").desc(), F.col("vec_id"))
        .limit(10)
        .select(
            "vec_id",
            F.round(F.col("sim_exact").cast("decimal(18,9)"), 4)
            .cast("double")
            .alias("sim"),
        )
    )


@register(
    "multimodal_decode_stats",
    """
    SELECT CAST(3 AS INT) AS channels,
           COUNT(*) AS n,
           CAST(SUM(16 + n_chars % 48) AS BIGINT) AS sum_width,
           CAST(SUM(16 + (n_chars // 7) % 48) AS BIGINT) AS sum_height
    FROM documents
    """,
)
def multimodal_decode_stats(spark, sf_dir):
    """Multimodal pipeline end-to-end: documents -> media table
    (binary + typed metadata) -> Arrow mapInPandas header decode ->
    aggregate. Oracle-checked since round 12: the synthesized geometry
    is arithmetic in n_chars (w = 16 + n_chars%48, h = 16 +
    (n_chars//7)%48, 3 channels), so DuckDB states the decode output
    declaratively and the hash certifies the whole binary->Arrow->
    header-parse round trip (the multimodal_byte_histogram trick).
    The real-container twin is ``multimodal_real_decode_stats``."""
    from dmds_spark.operators.multimodal import (
        decode_images,
        media_table_from_documents,
    )

    media = media_table_from_documents(load_table(spark, sf_dir, "documents"))
    return (
        decode_images(media, fake=True)
        .groupBy("channels")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("width").cast("bigint")).alias("sum_width"),
            F.sum(F.col("height").cast("bigint")).alias("sum_height"),
        )
    )


@register(
    "multimodal_frame_sample",
    """
    SELECT doc_id AS media_id,
           CAST((LEAST((16 + n_chars % 48) * (16 + (n_chars // 7) % 48)
                       * 3, 4096) // 256 + 1) // 2 AS BIGINT) AS n_frames
    FROM documents
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Frame sampling over binary payloads (the video-demux shape):
    fixed-width 256-byte frames, stride 2, counted per media item.
    Oracle-checked since round 12: the payload length is
    min(w*h*3, 4096) with arithmetic w/h, so the kept-frame count per
    media is ((len//256)+1)//2 stated declaratively — the hash
    certifies the Arrow explode-and-slice plumbing end to end."""
    from dmds_spark.operators.multimodal import (
        media_table_from_documents,
        sample_frames,
    )

    media = media_table_from_documents(load_table(spark, sf_dir, "documents"))
    return (
        sample_frames(media, frame_bytes=256, stride=2)
        .groupBy("media_id")
        .agg(F.count(F.lit(1)).alias("n_frames"))
    )


@register(
    "similarity_pairs_threshold",
    _PAIR_CAND_CTE
    + """
    SELECT c.id_a, c.id_b FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b
    WHERE list_cosine_similarity(ea.embedding, eb.embedding) > 0.20
    """,
)
def similarity_pairs_threshold(spark, sf_dir):
    """All LSH-candidate pairs above a cosine threshold — the verify
    stage of an ANN pipeline. Blocking on the multi-table LSH bucket
    (not a low-cardinality attribute like label) keeps the within-block
    pair count bounded by bucket size at any corpus scale; the oracle
    mirrors the same buckets, so recall is identical on both sides."""
    e = load_table(spark, sf_dir, "embeddings")
    cand = lsh_blocked_pairs(e, "vec_id", "embedding", LSH_TABLES, LSH_PLANES)
    return (
        cand.filter(pair_cosine() > 0.20)
        .select("id_a", "id_b")
    )
