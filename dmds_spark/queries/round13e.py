"""Round-13 queries, batch five: product quantization (operators/pq.py)
— codebook training + encoding census, and ADC top-k search. The whole
pipeline (md5-seeded subspace codebooks, one integer Lloyd round,
argmin encoding, asymmetric-distance ranking) is i64-exact on the
floor(x*1e6)+2^22 grid, so it unrolls into declarative DuckDB just
like embedding_kmeans_assign — PQ is the memory half of IVF+PQ and
this makes BOTH halves of the classic ANN stack oracle-checkable."""

from __future__ import annotations

from pyspark.sql import functions as F

from dmds_spark.operators.pq import (
    PQ_K,
    PQ_M,
    PQ_OFF,
    PQ_SCALE,
    PQ_SUB,
    pq_adc_topk,
    pq_codebooks,
    pq_encode,
    quantized,
)
from dmds_spark.queries import register
from dmds_spark.sources.registry import load_table


_KEY = (
    "lpad(CAST(dist AS VARCHAR), 20, '0')"
    " || lpad(CAST(cid AS VARCHAR), 4, '0')"
)

# the shared unrolled pipeline: grid -> subvectors -> md5 seeds ->
# one Lloyd round -> refined codebooks (cb) -> codes
_PQ_CTE = f"""
    WITH q AS (
      SELECT vec_id,
             [CAST(floor(CAST(x AS DOUBLE) * {PQ_SCALE}.0) AS BIGINT)
              + {PQ_OFF} for x in embedding] AS qv
      FROM embeddings
    ), sd AS (
      SELECT vec_id, qv,
             ROW_NUMBER() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
             ) - 1 AS cid
      FROM q
    ), subs AS (
      SELECT vec_id, s.s AS sub,
             qv[s.s * {PQ_SUB} + 1 : (s.s + 1) * {PQ_SUB}] AS sv
      FROM q, UNNEST(range({PQ_M})) AS s(s)
    ), sseeds AS (
      SELECT cid, s.s AS sub,
             qv[s.s * {PQ_SUB} + 1 : (s.s + 1) * {PQ_SUB}] AS qc
      FROM sd, UNNEST(range({PQ_M})) AS s(s)
      WHERE cid < {PQ_K}
    ), d1 AS (
      SELECT v.vec_id, v.sub, c.cid,
             list_sum([(v.sv[i] - c.qc[i]) * (v.sv[i] - c.qc[i])
                       for i in range(1, {PQ_SUB} + 1)]) AS dist
      FROM subs v JOIN sseeds c ON c.sub = v.sub
    ), a1 AS (
      SELECT vec_id, sub, min_by(cid, {_KEY}) AS cid
      FROM d1 GROUP BY vec_id, sub
    ), ex AS (
      SELECT a.sub, a.cid,
             UNNEST([{{'dim': i, 'qx': v.sv[i]}}
                     for i in range(1, {PQ_SUB} + 1)]) AS u
      FROM a1 a JOIN subs v ON v.vec_id = a.vec_id AND v.sub = a.sub
    ), m AS (
      SELECT sub, cid, u.dim AS dim,
             CAST(SUM(u.qx) AS BIGINT) // COUNT(*) AS c2
      FROM ex GROUP BY sub, cid, u.dim
    ), cb AS (
      SELECT sub, cid, list(c2 ORDER BY dim) AS qc
      FROM m GROUP BY sub, cid
    ), d2 AS (
      SELECT v.vec_id, v.sub, c.cid,
             list_sum([(v.sv[i] - c.qc[i]) * (v.sv[i] - c.qc[i])
                       for i in range(1, {PQ_SUB} + 1)]) AS dist
      FROM subs v JOIN cb c ON c.sub = v.sub
    ), codes AS (
      SELECT vec_id, sub, min_by(cid, {_KEY}) AS code
      FROM d2 GROUP BY vec_id, sub
    )
"""


@register(
    "embedding_pq_codebook_census",
    _PQ_CTE + """
    SELECT CAST(c.sub AS BIGINT) AS sub, CAST(c.cid AS BIGINT) AS code,
           CAST(COALESCE(n.n_vectors, 0) AS BIGINT) AS n_vectors,
           CAST(list_sum(c.qc) AS BIGINT) AS codeword_sum
    FROM cb c LEFT JOIN (
      SELECT sub, code, COUNT(*) AS n_vectors
      FROM codes GROUP BY sub, code
    ) n ON n.sub = c.sub AND n.code = c.cid
    ORDER BY sub, code
    """,
)
def embedding_pq_codebook_census(spark, sf_dir):
    """PQ training + encoding census: per (subspace, code), the
    refined codeword's coordinate sum (the codebook fingerprint) and
    how many vectors encode to it — the balance view that decides
    whether K is sized right (empty or hogging codes mean a bad
    codebook). Exact end to end; see operators/pq.py for the grid and
    the one-Lloyd-round construction.

    Shape at scale: seed draw is TakeOrdered top-K; both assignment
    passes join the corpus against BROADCAST codebooks (M*K rows);
    the M-step and the census are bounded-key hash aggregates."""
    q = quantized(load_table(spark, sf_dir, "embeddings"))
    cb = pq_codebooks(q)
    codes = pq_encode(q, cb)
    census = codes.groupBy("sub", "code").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    return (
        cb.join(census, (cb["sub"] == census["sub"])
                & (cb["cid"] == census["code"]), "left")
        .select(
            cb["sub"].cast("bigint").alias("sub"),
            cb["cid"].cast("bigint").alias("code"),
            F.coalesce("n_vectors", F.lit(0)).cast("bigint")
            .alias("n_vectors"),
            F.aggregate(
                cb["qc"], F.lit(0).cast("long"), lambda a, x: a + x
            ).cast("bigint").alias("codeword_sum"),
        )
        .orderBy("sub", "code")
    )


_ADC_QUERY_ID = 0
_ADC_TOPK = 20


@register(
    "similarity_pq_adc_topk",
    _PQ_CTE + f"""
    , qsub AS (
      SELECT sub, sv AS qsv FROM subs WHERE vec_id = {_ADC_QUERY_ID}
    ), t AS (
      SELECT c.sub, c.cid AS code,
             list_sum([(q.qsv[i] - c.qc[i]) * (q.qsv[i] - c.qc[i])
                       for i in range(1, {PQ_SUB} + 1)]) AS td
      FROM cb c JOIN qsub q ON q.sub = c.sub
    )
    SELECT vec_id, CAST(SUM(t.td) AS BIGINT) AS adc_dist
    FROM codes JOIN t ON t.sub = codes.sub AND t.code = codes.code
    GROUP BY vec_id
    ORDER BY adc_dist, vec_id LIMIT {_ADC_TOPK}
    """,
)
def similarity_pq_adc_topk(spark, sf_dir):
    """Asymmetric-distance (ADC) top-20 for query vector 0: distances
    come from an M*K lookup table of (query subvector x codeword)
    squared distances — M adds per candidate instead of a 64-dim dot
    product, the billion-scale PQ serving path. Integer-exact, so the
    approximate ranking itself (including its quantization error) is
    reproduced bit-for-bit by the oracle.

    Shape at scale: the lookup table is M*K rows built from the
    broadcast codebook; candidates reduce with ONE hash aggregate over
    their M code rows; top-k is TakeOrdered. Codes are the only
    corpus-sized input — 4 small ints per vector, the point of PQ."""
    q = quantized(load_table(spark, sf_dir, "embeddings"))
    cb = pq_codebooks(q)
    codes = pq_encode(q, cb)
    return pq_adc_topk(q, cb, codes, _ADC_QUERY_ID, _ADC_TOPK)


_IVF_NPROBE = 2
_IVF_K = 8  # coarse cells = the vec_id < 8 anchor vectors


@register(
    "similarity_ivfadc_topk",
    _PQ_CTE + f"""
    , anchors AS (
      SELECT vec_id AS aid, qv AS av FROM q WHERE vec_id < {_IVF_K}
    ), celld AS (
      SELECT e.vec_id, a.aid,
             list_sum([(e.qv[i] - a.av[i]) * (e.qv[i] - a.av[i])
                       for i in range(1, {PQ_M * PQ_SUB} + 1)]) AS cdist
      FROM q e CROSS JOIN anchors a
    ), cells AS (
      SELECT vec_id,
             min_by(aid, lpad(CAST(cdist AS VARCHAR), 20, '0')
                         || lpad(CAST(aid AS VARCHAR), 4, '0')) AS cell
      FROM celld GROUP BY vec_id
    ), probe AS (
      SELECT aid AS cell FROM celld
      WHERE vec_id = {_ADC_QUERY_ID}
      ORDER BY lpad(CAST(cdist AS VARCHAR), 20, '0')
               || lpad(CAST(aid AS VARCHAR), 4, '0')
      LIMIT {_IVF_NPROBE}
    ), qsub AS (
      SELECT sub, sv AS qsv FROM subs WHERE vec_id = {_ADC_QUERY_ID}
    ), t AS (
      SELECT c.sub, c.cid AS code,
             list_sum([(x.qsv[i] - c.qc[i]) * (x.qsv[i] - c.qc[i])
                       for i in range(1, {PQ_SUB} + 1)]) AS td
      FROM cb c JOIN qsub x ON x.sub = c.sub
    ), cand AS (
      SELECT k.vec_id, k.sub, k.code
      FROM codes k
      JOIN cells ce ON ce.vec_id = k.vec_id
      WHERE ce.cell IN (SELECT cell FROM probe)
    )
    SELECT cand.vec_id, CAST(SUM(t.td) AS BIGINT) AS adc_dist
    FROM cand JOIN t ON t.sub = cand.sub AND t.code = cand.code
    GROUP BY cand.vec_id
    ORDER BY adc_dist, cand.vec_id LIMIT {_ADC_TOPK}
    """,
)
def similarity_ivfadc_topk(spark, sf_dir):
    """The COMPLETE IVF+PQ serving stack as one query (IVFADC, Jegou
    et al.): coarse cells are exact integer-grid nearest-anchor
    assignments (vec_id < 8 anchors — the same anchor convention as
    similarity_ivf_topk, but on the grid so the whole pipeline stays
    i64-exact with zero float anywhere); the query probes its nprobe=2
    nearest cells and only THOSE candidates are ranked by PQ
    asymmetric distance. Integer-exact end to end — cell boundaries,
    probe order, codes, and the final ADC ranking all hash-match the
    unrolled oracle.

    Shape at scale: the anchor table broadcasts (K rows) for the cell
    assignment; in a deployed index the cell is the PARTITION KEY so
    the probe filter is partition pruning (the incremental IVF store
    does exactly that); the ADC table is M*K broadcast rows and
    candidates cost M adds each. No corpus shuffle beyond the argmin
    aggregates."""
    q = quantized(load_table(spark, sf_dir, "embeddings"))
    anchors = q.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("aid"), F.col("qv").alias("av")
    )
    cdist = F.expr(
        "aggregate(zip_with(qv, av, (x, y) -> (x - y) * (x - y)),"
        " 0L, (acc, v) -> acc + v)"
    )
    key = F.concat(
        F.lpad(F.col("cdist").cast("string"), 20, "0"),
        F.lpad(F.col("aid").cast("string"), 4, "0"),
    )
    celld = q.crossJoin(F.broadcast(anchors)).select(
        "vec_id", "aid", cdist.alias("cdist")
    )
    cells = celld.groupBy("vec_id").agg(F.min_by("aid", key).alias("cell"))
    probe = [
        r["aid"]
        for r in celld.filter(F.col("vec_id") == _ADC_QUERY_ID)
        .select("aid", key.alias("__k"))
        .orderBy("__k")
        .limit(_IVF_NPROBE)
        .collect()
    ]  # nprobe cell ids: bounded driver-side collect, like the IVF store
    cb = pq_codebooks(q)
    codes = pq_encode(q, cb)
    cand = codes.join(
        cells.filter(F.col("cell").isin(probe)).select("vec_id"), "vec_id"
    )
    return pq_adc_topk(q, cb, cand, _ADC_QUERY_ID, _ADC_TOPK)


_TRUNC_DIM = 16   # prefix dims kept by the truncation under study
_TRUNC_Q = 20     # query sample: vec_id < 20
_TRUNC_TOPK = 10


@register(
    "embedding_truncation_recall",
    f"""
    WITH q AS (
      SELECT vec_id,
             [CAST(floor(CAST(x AS DOUBLE) * {PQ_SCALE}.0) AS BIGINT)
              + {PQ_OFF} for x in embedding] AS qv
      FROM embeddings
    ), qs AS (
      SELECT vec_id AS qid, qv AS qqv FROM q WHERE vec_id < {_TRUNC_Q}
    ), d AS (
      SELECT s.qid, e.vec_id,
             list_sum([(e.qv[i] - s.qqv[i]) * (e.qv[i] - s.qqv[i])
                       for i in range(1, {PQ_M * PQ_SUB} + 1)]) AS dfull,
             list_sum([(e.qv[i] - s.qqv[i]) * (e.qv[i] - s.qqv[i])
                       for i in range(1, {_TRUNC_DIM} + 1)]) AS dtrunc
      FROM q e CROSS JOIN qs s
      WHERE e.vec_id <> s.qid
    ), rf AS (
      SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dfull, vec_id) AS rn
      FROM d
    ), rt AS (
      SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dtrunc, vec_id) AS rn
      FROM d
    )
    SELECT f.qid,
           CAST(COUNT(t.vec_id) AS BIGINT) AS n_overlap,
           CAST(COUNT(t.vec_id) * 1000000 // {_TRUNC_TOPK} AS BIGINT)
             AS recall_ppm
    FROM (SELECT qid, vec_id FROM rf WHERE rn <= {_TRUNC_TOPK}) f
    LEFT JOIN (SELECT qid, vec_id FROM rt WHERE rn <= {_TRUNC_TOPK}) t
      ON t.qid = f.qid AND t.vec_id = f.vec_id
    GROUP BY f.qid ORDER BY f.qid
    """,
)
def embedding_truncation_recall(spark, sf_dir):
    """Truncation-dimension sizing study (the Matryoshka question: how
    much ranking quality survives keeping only the first 16 of 64
    dims?): for each of 20 sample queries, the exact top-10 by
    full-dim grid distance vs the top-10 by truncated-prefix distance,
    reported as per-query overlap and recall ppm. Everything on the
    integer grid with (dist, id) total orders — both rankings and the
    overlap are bit-exact.

    Shape at scale: this is the STUDY tool, brute force by design over
    a BOUNDED query sample (20 queries broadcast against one corpus
    scan); both rank windows partition by qid and execute as
    WindowGroupLimit (per-partition running top-k heaps — Spark
    inserts the group-limit above each scan side, plan-pinned), so no
    task ever holds more than k rows of window state. The production
    serving path for either dimension is the ANN stack (IVF/PQ), not
    this."""
    q = quantized(load_table(spark, sf_dir, "embeddings"))
    qs = q.filter(F.col("vec_id") < _TRUNC_Q).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("qqv")
    )
    d = (
        q.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.expr(
                "aggregate(zip_with(qv, qqv, (x, y) -> (x - y) * (x - y)),"
                " 0L, (acc, v) -> acc + v)"
            ).alias("dfull"),
            F.expr(
                f"aggregate(zip_with(slice(qv, 1, {_TRUNC_DIM}),"
                f" slice(qqv, 1, {_TRUNC_DIM}),"
                " (x, y) -> (x - y) * (x - y)),"
                " 0L, (acc, v) -> acc + v)"
            ).alias("dtrunc"),
        )
    )
    from pyspark.sql import Window as W

    rf = d.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("qid").orderBy("dfull", "vec_id")
        ),
    ).filter(F.col("rn") <= _TRUNC_TOPK).select("qid", "vec_id")
    rt = d.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("qid").orderBy("dtrunc", "vec_id")
        ),
    ).filter(F.col("rn") <= _TRUNC_TOPK).select(
        "qid", F.col("vec_id").alias("tvid")
    )
    return (
        rf.join(
            rt,
            (rf["qid"] == rt["qid"]) & (rf["vec_id"] == rt["tvid"]),
            "left",
        )
        .groupBy(rf["qid"].alias("qid"))
        .agg(
            F.count("tvid").cast("bigint").alias("n_overlap"),
            F.expr(f"COUNT(tvid) * 1000000 div {_TRUNC_TOPK}")
            .cast("bigint").alias("recall_ppm"),
        )
        .orderBy("qid")
    )
