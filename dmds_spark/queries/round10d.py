"""Round-10 queries, batch four: the importance RESAMPLER that closes
the DSIR loop, a Johnson–Lindenstrauss random-sign projection with its
norm-preservation calibration, and a k-anonymity risk profile (the
data-governance gate a corpus release runs).

All three oracle-checked: the resampler's accept test is an exact
DECIMAL(38,0) cross-multiplication (no float threshold), the JL signs
and squared norms are pure integer arithmetic, and the anonymity
report is counts only.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.queries.round10b import _DSIR_SQL
from dmds_spark.sources.registry import load_table


# ---------------------------------------------------------------------------
# DSIR importance resampling (deterministic accept/reject)
# ---------------------------------------------------------------------------

_RS_DENOM = 1_000_000  # acceptance-hash resolution
# acceptance probability = importance / 2 (importance sits ~0.42-0.45
# on this corpus, so ~21% of docs survive — a visible, non-degenerate
# resample at every sf)
_RS_HALF = 2


@register(
    "sample_dsir_resample",
    f"""
    WITH base AS ({_DSIR_SQL})
    SELECT doc_id, tgt_mass, raw_mass, importance
    FROM base
    WHERE CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % {_RS_DENOM}) AS DECIMAL(38,0)) * {_RS_HALF} * raw_mass
          < CAST(tgt_mass AS DECIMAL(38,0)) * {_RS_DENOM}
    """,
)
def sample_dsir_resample(spark, sf_dir):
    """The RESAMPLER half of DSIR: keep each document with probability
    importance/{_RS_HALF}, decided by the content-hash acceptance test
    ``hash_bucket(doc_id, 1e6)/1e6 < importance/{_RS_HALF}`` — the
    same no-RNG contract as the whole sampling family (reproducible
    across runs, engines, partitionings). The comparison is an exact
    DECIMAL(38,0) cross-multiplication (bucket * {_RS_HALF} *
    raw_mass < tgt_mass * 1e6): no float threshold, no boundary-tie
    drift, and no i64 overflow however large the masses grow.

    Shape at scale: one extra codegen filter on top of the importance
    pipeline (token stream -> 256-row bucket table broadcast ->
    per-doc masses); the accept test adds zero exchanges."""
    from dmds_spark.operators.sampling import hash_bucket
    from dmds_spark.queries.round10b import sample_dsir_importance

    imp = sample_dsir_importance(spark, sf_dir)
    bucket = hash_bucket(F.col("doc_id"), _RS_DENOM)
    keep = (
        bucket.cast("decimal(38,0)") * _RS_HALF * F.col("raw_mass")
        < F.col("tgt_mass").cast("decimal(38,0)") * _RS_DENOM
    )
    return imp.filter(keep)


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss sign projection + norm-preservation calibration
# ---------------------------------------------------------------------------

_JL_OUT = 16   # target dimensions
_JL_SCALE = 1000  # floor(x * 1e3) integer grid (exact both engines)

# sign(i, j) in {+1, -1} from the md5 parity of "i:j" — the
# matrix-free random matrix: no stored matrix, any executor
# reconstructs any entry (the property that makes the projection
# embarrassingly parallel at any width)
_SIGN_SQL = (
    "(1 - 2 * (('0x' || substr(md5(CAST({i} AS VARCHAR) || ':' ||"
    " CAST({j} AS VARCHAR)), 1, 2))::BIGINT % 2))"
)


@register(
    "embedding_jl_projection_calibration",
    f"""
    WITH q AS (
      SELECT vec_id,
             UNNEST([{{'i': i, 'qx': CAST(floor(CAST(embedding[i] AS DOUBLE)
                                              * {_JL_SCALE}.0) AS BIGINT)}}
                     for i in range(1, len(embedding) + 1)]) AS u
      FROM embeddings
    ), dims AS (
      SELECT vec_id, u.i AS i, u.qx AS qx FROM q
    ), proj AS (
      SELECT d.vec_id, j.j,
             SUM({_SIGN_SQL.format(i='d.i', j='j.j')} * d.qx) AS y
      FROM dims d CROSS JOIN (SELECT UNNEST(range(0, {_JL_OUT})) AS j) j
      GROUP BY d.vec_id, j.j
    ), norms AS (
      SELECT p.vec_id,
             SUM(p.y * p.y) AS proj_norm2
      FROM proj p GROUP BY p.vec_id
    ), orig AS (
      SELECT vec_id, SUM(qx * qx) AS orig_norm2 FROM dims GROUP BY vec_id
    )
    SELECT o.vec_id,
           CAST(o.orig_norm2 AS BIGINT) AS orig_norm2,
           CAST(n.proj_norm2 AS BIGINT) AS proj_norm2,
           CAST(CAST(n.proj_norm2 AS DOUBLE)
                / ({_JL_OUT} * o.orig_norm2) AS DOUBLE) AS norm_ratio
    FROM orig o JOIN norms n ON o.vec_id = n.vec_id
    WHERE o.orig_norm2 > 0
    """,
)
def embedding_jl_projection_calibration(spark, sf_dir):
    """Johnson–Lindenstrauss random-SIGN projection (Achlioptas 2001)
    with its norm-preservation calibration: project each quantized
    embedding from 64 to {_JL_OUT} dimensions through a MATRIX-FREE
    +/-1 matrix (each entry is the md5 parity of its coordinates — no
    matrix is stored, broadcast, or synchronized; any executor
    reconstructs any entry inline) and report
    ``proj_norm2 / (k * orig_norm2)``, whose expectation is exactly 1
    under the JL lemma. Everything up to the final ratio is i64-exact
    (sign * grid coordinate sums), so the calibration is oracle-exact
    per vector, not a distributional claim.

    Shape at scale: dims explode (rows x 64) cross a {_JL_OUT}-row
    generated range (broadcast — the big side never shuffles for it),
    one (vec, j) aggregate, one per-vec aggregate. The projection
    itself is what a 100 TB ANN pre-pass would run before banding:
    same explode-aggregate shape, output {_JL_OUT}/64 the width."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dims = emb.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(embedding)),"
                f" i -> struct(i AS i, CAST(floor(CAST(embedding[i-1] AS"
                f" DOUBLE) * {_JL_SCALE}.0) AS BIGINT) AS qx))"
            )
        ).alias("u"),
    ).select("vec_id", "u.i", "u.qx")
    js = spark.range(0, _JL_OUT).select(F.col("id").alias("j"))
    # Spark spelling of the hex parse (no :: cast operator)
    sign = (
        1
        - 2
        * (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("i").cast("string"),
                            F.lit(":"),
                            F.col("j").cast("string"),
                        )
                    ),
                    1,
                    2,
                ),
                16,
                10,
            ).cast("bigint")
            % 2
        )
    )
    proj = (
        dims.crossJoin(F.broadcast(js))
        .select("vec_id", "j", (sign * F.col("qx")).alias("term"))
        .groupBy("vec_id", "j")
        .agg(F.sum("term").alias("y"))
    )
    norms = proj.groupBy("vec_id").agg(
        F.sum(F.col("y") * F.col("y")).alias("proj_norm2")
    )
    orig = dims.groupBy("vec_id").agg(
        F.sum(F.col("qx") * F.col("qx")).alias("orig_norm2")
    )
    return (
        orig.filter(F.col("orig_norm2") > 0)
        .join(norms, "vec_id")
        .select(
            "vec_id",
            F.col("orig_norm2").cast("bigint").alias("orig_norm2"),
            F.col("proj_norm2").cast("bigint").alias("proj_norm2"),
            (
                F.col("proj_norm2").cast("double")
                / (F.lit(_JL_OUT) * F.col("orig_norm2"))
            )
            .cast("double")
            .alias("norm_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# k-anonymity risk profile
# ---------------------------------------------------------------------------

_KANON_K = 5


@register(
    "profile_k_anonymity",
    f"""
    WITH qid AS (
      SELECT lang, source, n_chars // 50 AS len_band FROM documents
    ), g AS (
      SELECT lang, source, len_band, COUNT(*) AS group_size
      FROM qid GROUP BY lang, source, len_band
    )
    SELECT CAST(group_size AS BIGINT) AS group_size,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(group_size) AS BIGINT) AS n_docs,
           CAST(CASE WHEN group_size < {_KANON_K} THEN 1 ELSE 0 END
                AS BIGINT) AS at_risk
    FROM g GROUP BY group_size
    """,
)
def profile_k_anonymity(spark, sf_dir):
    """k-anonymity risk profile over the quasi-identifier tuple
    (lang, source, length band): the histogram of QID equivalence-class
    sizes, with classes under k={_KANON_K} flagged — the record-linkage
    risk report a corpus release (or a vendor data drop) publishes
    before sharing. Docs in at_risk=1 rows are re-identifiable by
    their quasi-identifiers alone and need suppression or band
    coarsening; the histogram (rather than a per-doc flag) is the form
    a governance dashboard tracks release over release.

    Shape at scale: two hash aggregates (QID grain, then class-size
    grain — the second is tiny). The QID aggregate is the only
    corpus-sized exchange; band width is the coarsening knob that
    trades utility against the at-risk tail."""
    qid = load_table(spark, sf_dir, "documents").select(
        "lang", "source", F.expr("n_chars DIV 50").alias("len_band")
    )
    g = qid.groupBy("lang", "source", "len_band").agg(
        F.count("*").alias("group_size")
    )
    return g.groupBy("group_size").agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum("group_size").cast("bigint").alias("n_docs"),
    ).select(
        F.col("group_size").cast("bigint").alias("group_size"),
        "n_groups",
        "n_docs",
        (F.col("group_size") < _KANON_K).cast("bigint").alias("at_risk"),
    )
