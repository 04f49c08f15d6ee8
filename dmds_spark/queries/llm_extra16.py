"""Round-7 batch five: the MinHash acceptance loop closed from the
RECALL side. similarity_lsh_recall_report did this for ANN and
dedup_minhash_precision reported what the verify stage buys; this
measures what the banding geometry MISSES — detected pairs vs EXACT
corpus-wide ground truth. The truth side needs no all-pairs scan and
no sampling: a pair with true Jaccard >= 0.5 must share shingles, so
the shingle INVERTED INDEX (distinct (doc, shingle) rows equi-joined
on the shingle) enumerates every pair with a nonzero intersection and
counts |A.B| exactly; the threshold test is then pure integers. Fully
oracle-checked — the md5 hash family, string-min signatures, and
integer cross-multiplied Jaccard are engine-independent.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.queries.llm_dedup import (
    BANDS,
    CAND_CTE,
    EST_SQL,
    K_SHINGLE,
    NUM_HASHES,
    SHINGLES_SQL,
)


def _recall_sql() -> str:
    return (
        CAND_CTE
        + f""", det AS (
      SELECT id_a, id_b FROM cand WHERE {EST_SQL} >= 0.5
    ), sh2 AS (
      SELECT doc_id, {SHINGLES_SQL} AS shingles FROM documents
    ), srows AS (
      SELECT DISTINCT doc_id, UNNEST(shingles) AS s FROM sh2
    ), sz AS (
      SELECT doc_id, COUNT(*) AS n FROM srows GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM srows a JOIN srows b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), truth AS (
      SELECT id_a, id_b FROM inter
      JOIN sz sa ON sa.doc_id = id_a
      JOIN sz sb ON sb.doc_id = id_b
      WHERE 2 * i >= sa.n + sb.n - i
    ), u AS (
      SELECT CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_truth,
             CASE WHEN e.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_det
      FROM truth t
      FULL OUTER JOIN det e ON t.id_a = e.id_a AND t.id_b = e.id_b
    )
    SELECT CAST(SUM(in_truth) AS BIGINT) AS n_truth,
           CAST(SUM(in_det) AS BIGINT) AS n_detected,
           CAST(SUM(in_truth * in_det) AS BIGINT) AS n_overlap,
           CAST(CAST(SUM(in_truth * in_det) AS DOUBLE)
                / GREATEST(SUM(in_truth), 1) AS DOUBLE) AS recall,
           CAST(CAST(SUM(in_truth * in_det) AS DOUBLE)
                / GREATEST(SUM(in_det), 1) AS DOUBLE) AS precision
    FROM u
    """
    )


@register("dedup_minhash_recall_report", _recall_sql())
def dedup_minhash_recall_report(spark, sf_dir):
    """MinHash-LSH recall AND precision against exact CORPUS-WIDE
    ground truth: truth = every pair whose true distinct-shingle
    Jaccard >= 0.5, detected = the production pipeline's est >= 0.5
    pairs. Closes the acceptance loop the ANN side already has
    (similarity_lsh_recall_report): the 16-hashes x 4-bands geometry
    and the estimate threshold are graded against MEASURED recall,
    not the sketch formula alone.

    The truth side is exact WITHOUT all-pairs or sampling: Jaccard
    >= 0.5 implies a shared shingle, so the distinct (doc, shingle)
    inverted index equi-joined on the shingle reaches every pair with
    |A.B| >= 1 and counts the intersection exactly (one group-by);
    the threshold is integer cross-multiplication. This is the
    jaccard_verify machinery UNCONDITIONED on LSH candidates — the
    standard exact-verifier shape. Cost is sum over shingles of
    df^2: benign on deduplicated text, quadratic on boilerplate-heavy
    corpora — run the boilerplate/span-dedup pass first at 100 TB (or
    stratify the truth scan), which is exactly what this report is
    telling you to tune."""
    from dmds_spark.functions.text import minhash_jaccard_estimate
    from dmds_spark.operators.dedup import (
        minhash_lsh_candidates,
        shared_shingles,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    # the shingle rows feed the detector's signatures AND the exact
    # truth side's inverted index, which consumes them three more
    # times (sz + both join sides)
    srows, sigs = shared_shingles(d, "text", "doc_id", K_SHINGLE, NUM_HASHES)
    est = minhash_jaccard_estimate(
        F.col("sig_a"), F.col("sig_b"), NUM_HASHES
    )
    det = (
        minhash_lsh_candidates(sigs, "doc_id", NUM_HASHES, BANDS)
        .withColumn("jaccard_est", est)
        .filter(F.col("jaccard_est") >= 0.5)
        .select("id_a", "id_b", F.lit(1).alias("in_det"))
    )
    id_col = srows.columns[0]
    sh_col = srows.columns[1]
    sz = srows.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = srows.select(
        F.col(id_col).alias("id_a"), F.col(sh_col).alias("s")
    )
    b = srows.select(
        F.col(id_col).alias("id_b"), F.col(sh_col).alias("s")
    )
    inter = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sz.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    sb = sz.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    truth = (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .filter(2 * F.col("i") >= F.col("na") + F.col("nb") - F.col("i"))
        .select("id_a", "id_b", F.lit(1).alias("in_truth"))
    )
    u = truth.join(det, ["id_a", "id_b"], "full_outer").select(
        F.coalesce("in_truth", F.lit(0)).alias("in_truth"),
        F.coalesce("in_det", F.lit(0)).alias("in_det"),
    )
    return u.agg(
        F.sum("in_truth").cast("bigint").alias("n_truth"),
        F.sum("in_det").cast("bigint").alias("n_detected"),
        F.sum(F.col("in_truth") * F.col("in_det")).cast("bigint")
        .alias("n_overlap"),
        (
            F.sum(F.col("in_truth") * F.col("in_det")).cast("double")
            / F.greatest(F.sum("in_truth"), F.lit(1))
        ).cast("double").alias("recall"),
        (
            F.sum(F.col("in_truth") * F.col("in_det")).cast("double")
            / F.greatest(F.sum("in_det"), F.lit(1))
        ).cast("double").alias("precision"),
    )
