"""Round-10 queries, batch six: corpus snapshot diffing (the
release-over-release audit) and SEMANTIC eval-set decontamination
(embedding-similarity contamination, the LSH-bucketed twin of the
n-gram probes — catches paraphrased benchmark leakage that exact-gram
matching cannot).

Both oracle-checked: the diff is md5 + counts; the semantic probe's
cosine threshold is an exact DECIMAL(38,0) squared cross-multiplication
over integer-grid dot products and norms (no float cosine anywhere).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.sources.registry import load_table


# ---------------------------------------------------------------------------
# snapshot diff
# ---------------------------------------------------------------------------

# Snapshot B is derived from snapshot A (the documents table)
# deterministically: doc_id % 17 == 0 removed, doc_id % 13 == 0
# rewritten (a marker prefix), doc_id % 19 == 0 duplicated under a new
# id past the id space (additions). Both engines derive the same B.
_SNAP_B = """
      SELECT doc_id, text FROM documents
      WHERE doc_id % 17 <> 0 AND doc_id % 13 <> 0
      UNION ALL
      SELECT doc_id, 'rev2 ' || text FROM documents
      WHERE doc_id % 17 <> 0 AND doc_id % 13 = 0
      UNION ALL
      SELECT doc_id + 1000000000, text FROM documents
      WHERE doc_id % 19 = 0
"""


@register(
    "profile_snapshot_diff",
    f"""
    WITH a AS (SELECT doc_id, md5(text) AS h FROM documents),
    b AS (SELECT doc_id, md5(text) AS h FROM ({_SNAP_B}) t),
    j AS (
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
             CASE WHEN a.doc_id IS NULL THEN 'added'
                  WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN a.h <> b.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM j GROUP BY status
    """,
)
def profile_snapshot_diff(spark, sf_dir):
    """Corpus snapshot diff: full-outer-join two releases on doc id,
    classify every document added / removed / changed (content md5) /
    unchanged, and report the counts with id bounds — the
    release-over-release audit a corpus pipeline publishes so a bad
    refresh (mass deletion, accidental rewrite) is visible as a
    status-mix shift before anyone trains on it. Content identity is
    the md5 the dedup family already standardizes on.

    Shape at scale: two scan projections (id, digest) and ONE
    full-outer sort-merge join on the id — the digest keeps the join
    payload at 32 bytes/row regardless of document size; the status
    rollup is 4 rows. Snapshot B is a derived view here; production
    points the same plan at two real snapshot paths."""
    a = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("h")
    )
    d = load_table(spark, sf_dir, "documents")
    b = (
        d.filter((F.col("doc_id") % 17 != 0) & (F.col("doc_id") % 13 != 0))
        .select("doc_id", "text")
        .unionAll(
            d.filter(
                (F.col("doc_id") % 17 != 0) & (F.col("doc_id") % 13 == 0)
            ).select("doc_id", F.concat(F.lit("rev2 "), F.col("text")).alias("text"))
        )
        .unionAll(
            d.filter(F.col("doc_id") % 19 == 0).select(
                (F.col("doc_id") + 1000000000).alias("doc_id"), "text"
            )
        )
        .select("doc_id", F.md5("text").alias("h"))
    )
    j = a.alias("a").join(
        b.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    ).select(
        F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.h") != F.col("b.h"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return j.groupBy("status").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


# ---------------------------------------------------------------------------
# semantic decontamination (embedding-similarity eval leakage)
# ---------------------------------------------------------------------------

_SD_BITS = 4       # 16 sign-LSH buckets (same hyperplanes as hard negatives)
_SD_SCALE = 1000   # floor(x * 1e3) grid
_SD_TAU_NUM = 3    # cosine threshold tau = 3/10 = 0.30: calibrated to
_SD_TAU_DEN = 10   # this corpus (synthetic embeddings are near-
# orthogonal — cross-label cosines top out at ~0.49, so a production
# 0.95 threshold would be vacuously empty; real leakage sits near 1.0
# and uses 0.9+). The test mechanics are threshold-independent.

_SD_SIGN = (
    "(1 - 2 * (('0x' || substr(md5(CAST({b} AS VARCHAR) || ':' ||"
    " CAST({i} AS VARCHAR)), 1, 2))::BIGINT % 2))"
)


@register(
    "similarity_semantic_decontaminate",
    f"""
    WITH q AS (
      SELECT vec_id, label,
             [CAST(floor(CAST(x AS DOUBLE) * {_SD_SCALE}.0) AS BIGINT)
              for x in embedding] AS qv
      FROM embeddings
    ), n2 AS (
      SELECT vec_id, label, qv,
             list_sum([qv[i] * qv[i] for i in range(1, len(qv) + 1)]) AS nn
      FROM q
    ), sigs AS (
      SELECT n2.vec_id, b.b,
             list_sum([{_SD_SIGN.format(b='b.b', i='i')} * qv[i]
                       for i in range(1, len(qv) + 1)]) AS s
      FROM n2 CROSS JOIN (SELECT UNNEST(range(0, {_SD_BITS})) AS b) b
    ), buckets AS (
      SELECT vec_id,
             SUM(CASE WHEN s >= 0 THEN
                   CASE b WHEN 0 THEN 1 WHEN 1 THEN 2
                          WHEN 2 THEN 4 ELSE 8 END
                 ELSE 0 END) AS bucket
      FROM sigs GROUP BY vec_id
    ), keyed AS (
      SELECT n2.vec_id, n2.label, n2.qv, n2.nn, bk.bucket
      FROM n2 JOIN buckets bk ON n2.vec_id = bk.vec_id
    ), hits AS (
      SELECT c.vec_id, e.vec_id AS eval_id,
             list_sum([c.qv[i] * e.qv[i]
                       for i in range(1, len(c.qv) + 1)]) AS dot_q,
             c.nn AS c_nn, e.nn AS e_nn
      FROM keyed c JOIN keyed e
        ON c.bucket = e.bucket AND e.label = 0 AND c.label <> 0
    ), flagged AS (
      SELECT vec_id, eval_id, dot_q
      FROM hits
      WHERE dot_q > 0
        AND CAST(dot_q AS DECIMAL(38,0)) * dot_q * {_SD_TAU_DEN ** 2}
            > CAST({_SD_TAU_NUM ** 2} AS DECIMAL(38,0)) * c_nn * e_nn
    )
    SELECT vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_eval_hits,
           MIN(eval_id) AS nearest_eval_id,
           CAST(MAX(dot_q) AS BIGINT) AS max_dot_q
    FROM flagged GROUP BY vec_id
    """,
)
def similarity_semantic_decontaminate(spark, sf_dir):
    """SEMANTIC eval-set decontamination: flag corpus vectors
    (label <> 0) whose cosine similarity to ANY eval vector (label 0,
    the held-out-benchmark stand-in) exceeds tau=0.30 — the
    embedding-space leakage probe that catches paraphrased or
    re-templated benchmark rows the n-gram probes
    (text_contamination_ngram, sft_decontaminate_convs) cannot see.
    The cosine test never computes a cosine: ``dot^2 * den^2 >
    tau_num^2 * |c|^2 * |e|^2`` over integer-grid dot products and
    norms, in DECIMAL(38,0) so no magnitude overflows — exact on both
    engines, with the dot > 0 guard keeping the squared compare
    sign-correct.

    Shape at scale: candidate pairs come from the sign-LSH bucket
    equi-join (explode factor = bucket occupancy — never corpus x
    eval), the same hyperplane family as similarity_hard_negatives;
    production raises the bit count and unions a few hyperplane
    tables for recall, exactly the knobs the LSH recall report
    prices."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.select(
        "vec_id",
        "label",
        F.expr(
            f"transform(embedding, x -> CAST(floor("
            f"CAST(x AS DOUBLE) * {_SD_SCALE}.0) AS BIGINT))"
        ).alias("qv"),
    )
    n2 = q.withColumn(
        "nn",
        F.expr("aggregate(transform(qv, v -> v * v), 0L, (a, v) -> a + v)"),
    )
    bs = spark.range(0, _SD_BITS).select(F.col("id").alias("b"))
    sigs = n2.crossJoin(F.broadcast(bs)).select(
        "vec_id",
        "b",
        F.expr(
            "aggregate(transform(sequence(1, size(qv)), i ->"
            " (1 - 2*(CAST(conv(substring(md5(CAST(b AS STRING) || ':' ||"
            " CAST(i AS STRING)), 1, 2), 16, 10) AS BIGINT) % 2)) * qv[i-1]),"
            " 0L, (a, v) -> a + v)"
        ).alias("s"),
    )
    buckets = sigs.groupBy("vec_id").agg(
        F.sum(
            F.when(
                F.col("s") >= 0,
                F.expr("CASE b WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END"),
            ).otherwise(0)
        ).alias("bucket")
    )
    keyed = n2.join(buckets, "vec_id")
    c = keyed.filter(F.col("label") != 0).alias("c")
    e = keyed.filter(F.col("label") == 0).alias("e")
    hits = c.join(e, F.col("c.bucket") == F.col("e.bucket")).select(
        F.col("c.vec_id").alias("vec_id"),
        F.col("e.vec_id").alias("eval_id"),
        F.expr(
            "aggregate(zip_with(c.qv, e.qv, (x, y) -> x * y), 0L,"
            " (acc, v) -> acc + v)"
        ).alias("dot_q"),
        F.col("c.nn").alias("c_nn"),
        F.col("e.nn").alias("e_nn"),
    )
    flagged = hits.filter(
        (F.col("dot_q") > 0)
        & (
            F.col("dot_q").cast("decimal(38,0)")
            * F.col("dot_q")
            * (_SD_TAU_DEN ** 2)
            > F.lit(_SD_TAU_NUM ** 2).cast("decimal(38,0)")
            * F.col("c_nn")
            * F.col("e_nn")
        )
    )
    return flagged.groupBy("vec_id").agg(
        F.count("*").cast("bigint").alias("n_eval_hits"),
        F.min("eval_id").alias("nearest_eval_id"),
        F.max("dot_q").alias("max_dot_q"),
    )
