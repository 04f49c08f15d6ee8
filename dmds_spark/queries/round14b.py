"""Round-14 queries, batch two: three new analytics families a
training-data / MDM pipeline runs daily —

* **survivorship / golden record**: field-level merge rules
  (most-recent-wins, source-precedence, modal vote) collapsing an
  entity's observation stream into one mastered row — the step after
  entity resolution (round10e) in every MDM pipeline;
* **conformal prediction**: split-conformal threshold from a
  calibration slice (exact order statistic over a bounded score grid)
  plus held-out coverage — finite-sample uncertainty for any point
  model, here the per-type mean predictor;
* **B-cubed cluster quality**: per-item precision/recall of the
  MinHash-estimate clustering against the exact-Jaccard truth on the
  same blocked candidates — the standard extrinsic dedup/ER metric
  (Bagga & Baldwin 1998), closing the loop the pairwise
  dedup_minhash_precision query opens.

All three are exact-ppm integer arithmetic end to end (cents grids,
floor divisions, padded max_by keys) per the oracle-parity rules.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.queries.round13 import CUTOFF
from dmds_spark.sources.registry import load_events, load_table


# ---------------------------------------------------------------------------
# survivorship / golden record
# ---------------------------------------------------------------------------

_PREC_SQL = (
    "CASE event_type WHEN 'purchase' THEN 5 WHEN 'signup' THEN 4 "
    "WHEN 'click' THEN 3 WHEN 'view' THEN 2 ELSE 1 END"
)
_TS_KEY = (
    "lpad(CAST(tus AS VARCHAR), 20, '0')"
    " || lpad(CAST(event_id AS VARCHAR), 12, '0')"
)


def _prec_col():
    return (
        F.when(F.col("event_type") == "purchase", 5)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "click", 3)
        .when(F.col("event_type") == "view", 2)
        .otherwise(1)
    )


def _ts_key():
    return F.concat(
        F.lpad(F.col("tus").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )


@register(
    "survivorship_golden_record",
    f"""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
             CAST(floor(value * 100) AS BIGINT) AS cents,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             {_PREC_SQL} AS prec
      FROM events
    ), agg AS (
      SELECT user_id,
             max_by(k, {_TS_KEY}) AS last_k,
             max_by(cents,
                    lpad(CAST(prec AS VARCHAR), 1, '0') || {_TS_KEY})
               AS best_value_cents,
             MIN(tus) AS first_seen_us,
             MAX(tus) AS last_seen_us,
             CAST(COUNT(*) AS BIGINT) AS n_records
      FROM e GROUP BY user_id
    ), modal AS (
      SELECT user_id,
             min_by(event_type,
                    lpad(CAST(1000000000 - cnt AS VARCHAR), 12, '0')
                    || event_type) AS modal_type
      FROM (SELECT user_id, event_type, COUNT(*) AS cnt
            FROM e GROUP BY user_id, event_type) g
      GROUP BY user_id
    )
    SELECT a.user_id, a.last_k, a.best_value_cents, m.modal_type,
           a.first_seen_us, a.last_seen_us, a.n_records
    FROM agg a JOIN modal m ON m.user_id = a.user_id
    """,
)
def survivorship_golden_record(spark, sf_dir):
    """Golden-record survivorship over each user's observation stream,
    one field-level rule per column — the MDM merge step that follows
    entity resolution: ``last_k`` is most-recent-wins (max_by on the
    padded (timestamp, event_id) total order), ``best_value_cents`` is
    source-precedence-wins (purchase > signup > click > view > error,
    recency as tie-break — one composite padded key, no second pass),
    ``modal_type`` is frequency-vote-wins (ties to the
    lexicographically smallest via the inverted-count padded key), and
    first/last_seen + n_records are plain aggregates.

    Shape at scale: ONE hash aggregate per rule family — max_by/min_by
    carry a single candidate per key per map task (partial_max_by, the
    store-design rule), so the shuffle is |users| rows twice (main agg
    + modal pre-agg), never a window over the event stream. Integer
    exact: cents grid, epoch micros, padded digit keys."""
    e = load_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("tus"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        _prec_col().alias("prec"),
    )
    agg = e.groupBy("user_id").agg(
        F.max_by("k", _ts_key()).alias("last_k"),
        F.max_by(
            "cents",
            F.concat(F.lpad(F.col("prec").cast("string"), 1, "0"),
                     _ts_key()),
        ).alias("best_value_cents"),
        F.min("tus").alias("first_seen_us"),
        F.max("tus").alias("last_seen_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_records"),
    )
    modal = (
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("user_id")
        .agg(
            F.min_by(
                "event_type",
                F.concat(
                    F.lpad((F.lit(1_000_000_000) - F.col("cnt"))
                           .cast("string"), 12, "0"),
                    F.col("event_type"),
                ),
            ).alias("modal_type")
        )
    )
    return agg.join(modal, "user_id").select(
        "user_id", "last_k", "best_value_cents", "modal_type",
        "first_seen_us", "last_seen_us", "n_records",
    )


# ---------------------------------------------------------------------------
# split-conformal prediction
# ---------------------------------------------------------------------------

_ALPHA_NUM = 9    # 1 - alpha = 0.9 as the ratio 9/10
_ALPHA_DEN = 10


@register(
    "eval_conformal_coverage",
    f"""
    WITH cal AS (
      SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts < TIMESTAMP '{CUTOFF}'
    ), pred AS (
      SELECT event_type,
             CAST(SUM(cents) // COUNT(*) AS BIGINT) AS pred_c
      FROM cal GROUP BY event_type
    ), scores AS (
      SELECT abs(c.cents - p.pred_c) AS s
      FROM cal c JOIN pred p ON p.event_type = c.event_type
    ), hist AS (
      SELECT s, COUNT(*) AS n FROM scores GROUP BY s
    ), tot AS (SELECT COUNT(*) AS n_cal FROM scores),
    cum AS (
      SELECT s, SUM(n) OVER (ORDER BY s) AS cum_n FROM hist
    ), qh AS (
      SELECT MIN(s) AS q_hat FROM cum, tot
      WHERE cum_n >= LEAST(
        ({_ALPHA_NUM} * (n_cal + 1) + {_ALPHA_DEN} - 1) // {_ALPHA_DEN},
        n_cal)
    ), test AS (
      SELECT e.event_type,
             abs(CAST(floor(e.value * 100) AS BIGINT) - p.pred_c) AS s
      FROM events e JOIN pred p ON p.event_type = e.event_type
      WHERE e.ts >= TIMESTAMP '{CUTOFF}'
    )
    SELECT t.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN t.s <= q.q_hat THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           CAST(SUM(CASE WHEN t.s <= q.q_hat THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS coverage_ppm,
           CAST(MAX(q.q_hat) AS BIGINT) AS q_hat_cents
    FROM test t CROSS JOIN qh q
    GROUP BY t.event_type
    """,
)
def eval_conformal_coverage(spark, sf_dir):
    """Split-conformal prediction, exact: the per-type pre-cutoff mean
    (floor cents) is the point model, absolute residuals on the
    calibration slice are the nonconformity scores, and q_hat is the
    ceil((n+1)*(1-alpha))-th smallest calibration score (alpha = 0.1)
    — the distribution-free interval radius with finite-sample
    >= 1-alpha coverage (Vovk et al.; Lei et al. 2018). The held-out
    post-cutoff slice then reports achieved coverage per type. Every
    step is integer: cents grid, floor-mean, ceil as
    (9(n+1)+9) // 10, the order statistic by cumulative counts.

    Shape at scale: the quantile is NEVER a global sort of the
    calibration set — scores collapse to a distinct-value histogram
    (bounded by the cents value range, ~50k rows at any corpus size)
    and q_hat reads off the cumulative grid; coverage is one hash
    aggregate over the test slice with the scalar q_hat attached by
    broadcast (the scalar-attach BroadcastNestedLoopJoin shape)."""
    ev = load_events(spark, sf_dir)
    cents = F.floor(F.col("value") * 100).cast("bigint")
    cal = ev.filter(F.col("ts") < F.lit(CUTOFF).cast("timestamp")).select(
        "event_type", cents.alias("cents")
    )
    # pred_c is safe for NEGATIVE sums too: Spark `div` and DuckDB `//`
    # both truncate toward zero on integer operands (-7 div 2 == -3 ==
    # -7 // 2, pinned in tests/test_oracle.py) — it is Python/numpy
    # `//` that floors, and neither engine is Python here
    pred = cal.groupBy("event_type").agg(
        F.expr("SUM(cents) div COUNT(*)").cast("bigint").alias("pred_c")
    )
    scores = cal.join(F.broadcast(pred), "event_type").select(
        F.abs(F.col("cents") - F.col("pred_c")).alias("s")
    )
    from dmds_spark.core.engine import materialize

    # the bounded histogram is the ONLY materialized pass over the
    # calibration slice; n_cal folds off it (never a second scan) and
    # the cum window reads it back
    hist = scores.groupBy("s").agg(
        F.count(F.lit(1)).alias("n")
    ).transform(materialize)
    tot = hist.agg(F.sum("n").alias("n_cal"))
    cum = hist.withColumn("cum_n", F.sum("n").over(W.orderBy("s")))
    k = F.least(
        F.expr(
            f"({_ALPHA_NUM} * (n_cal + 1) + {_ALPHA_DEN} - 1)"
            f" div {_ALPHA_DEN}"
        ),
        F.col("n_cal"),
    )
    qh = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cum_n") >= k)
        .agg(F.min("s").alias("q_hat"))
    )
    test = (
        ev.filter(F.col("ts") >= F.lit(CUTOFF).cast("timestamp"))
        .select("event_type", cents.alias("cents"))
        .join(F.broadcast(pred), "event_type")
        .select(
            "event_type",
            F.abs(F.col("cents") - F.col("pred_c")).alias("s"),
        )
    )
    covered = F.when(F.col("s") <= F.col("q_hat"), 1).otherwise(0)
    return (
        test.crossJoin(F.broadcast(qh))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(covered).cast("bigint").alias("n_covered"),
            F.expr(
                "SUM(CASE WHEN s <= q_hat THEN 1 ELSE 0 END)"
                " * 1000000 div COUNT(*)"
            ).cast("bigint").alias("coverage_ppm"),
            F.max("q_hat").cast("bigint").alias("q_hat_cents"),
        )
    )


# ---------------------------------------------------------------------------
# B-cubed cluster quality (dedup/ER extrinsic evaluation)
# ---------------------------------------------------------------------------


def _bcubed_sql() -> str:
    from dmds_spark.queries.llm_dedup import CAND_CTE, EST_SQL

    return (
        CAND_CTE
        + f"""
    , pred_pairs AS (
      SELECT id_a, id_b FROM cand WHERE {EST_SQL} >= 0.5
    ), shd AS (
      SELECT doc_id, list_distinct(shingles) AS shd FROM sh
    ), truth_pairs AS (
      SELECT id_a, id_b
      FROM cand
      JOIN shd sa ON sa.doc_id = id_a
      JOIN shd sb ON sb.doc_id = id_b
      WHERE CAST(len(list_intersect(sa.shd, sb.shd)) AS DOUBLE)
            / greatest(len(list_distinct(list_concat(sa.shd, sb.shd))), 1)
            >= 0.5
    ), pc AS (
      SELECT d.doc_id,
             COALESCE(pp.c, d.doc_id) AS pred_c,
             COALESCE(tp.c, d.doc_id) AS truth_c
      FROM documents d
      LEFT JOIN (SELECT id_b, MIN(id_a) AS c FROM pred_pairs
                 GROUP BY id_b) pp ON pp.id_b = d.doc_id
      LEFT JOIN (SELECT id_b, MIN(id_a) AS c FROM truth_pairs
                 GROUP BY id_b) tp ON tp.id_b = d.doc_id
    ), npt AS (
      SELECT pred_c, truth_c, COUNT(*) AS n_pt FROM pc
      GROUP BY pred_c, truth_c
    ), np AS (SELECT pred_c, COUNT(*) AS n_p FROM pc GROUP BY pred_c),
    nt AS (SELECT truth_c, COUNT(*) AS n_t FROM pc GROUP BY truth_c),
    per_doc AS (
      SELECT c.doc_id,
             x.n_pt * 1000000 // p.n_p AS prec_ppm,
             x.n_pt * 1000000 // t.n_t AS rec_ppm
      FROM pc c
      JOIN npt x ON x.pred_c = c.pred_c AND x.truth_c = c.truth_c
      JOIN np p ON p.pred_c = c.pred_c
      JOIN nt t ON t.truth_c = c.truth_c
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(prec_ppm) // COUNT(*) AS BIGINT)
             AS bcubed_precision_ppm,
           CAST(SUM(rec_ppm) // COUNT(*) AS BIGINT) AS bcubed_recall_ppm
    FROM per_doc
    """
    )


@register("dedup_bcubed_quality", _bcubed_sql())
def dedup_bcubed_quality(spark, sf_dir):
    """B-cubed precision/recall of the MinHash-ESTIMATE clustering
    against the exact-Jaccard truth (Bagga & Baldwin 1998; the Amigo
    et al. 2009 survey's recommended extrinsic metric): each document
    is assigned to its min-canonical predicted cluster (lowest id_a
    over estimate-pairs >= 0.5, itself if none) and its truth cluster
    (same rule over exact-Jaccard pairs >= 0.5); per doc, precision =
    |pred ∩ truth| / |pred| and recall = |pred ∩ truth| / |truth|,
    reported as exact-ppm means. The truth side is candidate-limited
    (exact Jaccard over the SAME LSH-blocked pairs — exhaustive truth
    is quadratic, and blocking recall is measured separately by
    dedup_minhash_recall-family queries), the standard extrinsic-eval
    protocol.

    Shape at scale: both pairings ride the one banded LSH equi-join
    (ids-only shuffle); cluster assignment and the three census tables
    are |docs|-row hash aggregates; per-doc ratios are broadcast-safe
    small-side joins on cluster keys; the report is a 1-row rollup."""
    from dmds_spark.core.engine import materialize
    from dmds_spark.functions.text import minhash_jaccard_estimate
    from dmds_spark.operators.dedup import (
        jaccard_verify_pairs,
        minhash_lsh_candidates,
        shared_shingles,
    )
    from dmds_spark.queries.llm_dedup import BANDS, K_SHINGLE, NUM_HASHES

    docs = load_table(spark, sf_dir, "documents")
    srows, sigs = shared_shingles(
        docs, "text", "doc_id", K_SHINGLE, NUM_HASHES
    )
    # ONE candidate generation feeds BOTH pairings (the estimate filter
    # and the exact-Jaccard verify) — candidate-sized, so the barrier
    # is cheap and the expensive banded self-join runs once, not twice
    cand = minhash_lsh_candidates(
        sigs, "doc_id", NUM_HASHES, BANDS
    ).transform(materialize)
    pred_pairs = cand.withColumn(
        "jaccard_est",
        minhash_jaccard_estimate(F.col("sig_a"), F.col("sig_b"), NUM_HASHES),
    ).filter(F.col("jaccard_est") >= 0.5).select("id_a", "id_b")
    truth_pairs = jaccard_verify_pairs(
        docs, cand.select("id_a", "id_b"), "text", "doc_id", K_SHINGLE, 0.5,
        shingle_rows=srows,
    ).select("id_a", "id_b")

    def canon(pairs, name):
        return pairs.groupBy(F.col("id_b").alias("doc_id")).agg(
            F.min("id_a").alias(name)
        )

    pc = (
        docs.select("doc_id")
        .join(canon(pred_pairs, "pc"), "doc_id", "left")
        .join(canon(truth_pairs, "tc"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("pc", F.col("doc_id")).alias("pred_c"),
            F.coalesce("tc", F.col("doc_id")).alias("truth_c"),
        )
        # four consumers (three census aggregates + the per-doc join):
        # without the barrier each re-executes the verify pipeline
        .transform(materialize)
    )
    npt = pc.groupBy("pred_c", "truth_c").agg(F.count("*").alias("n_pt"))
    np_ = pc.groupBy("pred_c").agg(F.count("*").alias("n_p"))
    nt = pc.groupBy("truth_c").agg(F.count("*").alias("n_t"))
    per_doc = (
        pc.join(npt, ["pred_c", "truth_c"])
        .join(np_, "pred_c")
        .join(nt, "truth_c")
        .select(
            F.expr("n_pt * 1000000 div n_p").alias("prec_ppm"),
            F.expr("n_pt * 1000000 div n_t").alias("rec_ppm"),
        )
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("SUM(prec_ppm) div COUNT(*)").cast("bigint")
        .alias("bcubed_precision_ppm"),
        F.expr("SUM(rec_ppm) div COUNT(*)").cast("bigint")
        .alias("bcubed_recall_ppm"),
    )


def _kappa_sql() -> str:
    from dmds_spark.queries.llm_dedup import CAND_CTE, EST_SQL

    return (
        CAND_CTE
        + f"""
    , shd AS (
      SELECT doc_id, list_distinct(shingles) AS shd FROM sh
    ), j AS (
      SELECT CASE WHEN {EST_SQL} >= 0.5 THEN 1 ELSE 0 END AS l1,
             CASE WHEN CAST(len(list_intersect(sa.shd, sb.shd)) AS DOUBLE)
                  / greatest(len(list_distinct(
                        list_concat(sa.shd, sb.shd))), 1) >= 0.5
                  THEN 1 ELSE 0 END AS l2
      FROM cand
      JOIN shd sa ON sa.doc_id = id_a
      JOIN shd sb ON sb.doc_id = id_b
    ), cm AS (
      SELECT CAST(SUM(l1 * l2) AS HUGEINT) AS a,
             CAST(SUM(l1 * (1 - l2)) AS HUGEINT) AS b,
             CAST(SUM((1 - l1) * l2) AS HUGEINT) AS c,
             CAST(SUM((1 - l1) * (1 - l2)) AS HUGEINT) AS d,
             CAST(COUNT(*) AS HUGEINT) AS n
      FROM j
    )
    SELECT CAST(a AS BIGINT) AS n_both,
           CAST(b AS BIGINT) AS n_est_only,
           CAST(c AS BIGINT) AS n_exact_only,
           CAST(d AS BIGINT) AS n_neither,
           CAST(CASE WHEN n * n = (a + b) * (a + c) + (c + d) * (b + d)
                THEN 1000000
                ELSE ((a + d) * n - ((a + b) * (a + c) + (c + d) * (b + d))
                      + (n * n - ((a + b) * (a + c) + (c + d) * (b + d))))
                     * 1000000
                     // (n * n - ((a + b) * (a + c) + (c + d) * (b + d)))
                     - 1000000
                END AS BIGINT) AS kappa_ppm
    FROM cm
    """
    )


@register("dedup_method_kappa", _kappa_sql())
def dedup_method_kappa(spark, sf_dir):
    """Cohen's kappa between the MinHash ESTIMATE labeling and the
    exact-Jaccard labeling over the SAME LSH candidates — chance-
    corrected agreement (Cohen 1960), the honest version of the raw
    agreement rate when one class dominates (most candidate pairs are
    non-duplicates, so raw agreement flatters any estimator). Exact:
    kappa = (po - pe)/(1 - pe) cleared of fractions by n^2
    cross-multiplication; the +DEN shift keeps the floor-division
    numerator non-negative (kappa >= -1); the degenerate pe = 1 case
    (both labelings constant) returns 1e6 by the standard convention,
    stated identically in both engines. HUGEINT/DECIMAL(38): n^2
    passes 2^63 at ~3e9 candidate pairs.

    Shape at scale: ONE pass over the banded LSH candidates computing
    both labels (the bcubed pipeline's candidate economics), one
    4-counter rollup, integer scalar arithmetic."""
    from dmds_spark.core.engine import materialize
    from dmds_spark.functions.text import minhash_jaccard_estimate
    from dmds_spark.operators.dedup import (
        jaccard_verify_pairs,
        minhash_lsh_candidates,
        shared_shingles,
    )
    from dmds_spark.operators.relational import exact_floordiv
    from dmds_spark.queries.llm_dedup import BANDS, K_SHINGLE, NUM_HASHES

    docs = load_table(spark, sf_dir, "documents")
    srows, sigs = shared_shingles(
        docs, "text", "doc_id", K_SHINGLE, NUM_HASHES
    )
    cand = minhash_lsh_candidates(
        sigs, "doc_id", NUM_HASHES, BANDS
    ).transform(materialize)
    est = cand.select(
        "id_a",
        "id_b",
        F.when(
            minhash_jaccard_estimate(
                F.col("sig_a"), F.col("sig_b"), NUM_HASHES
            ) >= 0.5,
            1,
        ).otherwise(0).alias("l1"),
    )
    exact = jaccard_verify_pairs(
        docs, cand.select("id_a", "id_b"), "text", "doc_id", K_SHINGLE, 0.0,
        shingle_rows=srows,
    ).select("id_a", "id_b",
             (F.col("jaccard") >= 0.5).cast("int").alias("l2x"))
    j = est.join(exact, ["id_a", "id_b"], "left").select(
        "l1",
        # pairs with zero shingle intersection drop out of the verify
        # join: their exact jaccard is 0 -> label 0
        F.coalesce("l2x", F.lit(0)).alias("l2"),
    )
    dec = "decimal(38,0)"
    cm = j.agg(
        F.sum(F.col("l1") * F.col("l2")).cast(dec).alias("a"),
        F.sum(F.col("l1") * (1 - F.col("l2"))).cast(dec).alias("b"),
        F.sum((1 - F.col("l1")) * F.col("l2")).cast(dec).alias("c"),
        F.sum((1 - F.col("l1")) * (1 - F.col("l2"))).cast(dec).alias("d"),
        F.count(F.lit(1)).cast(dec).alias("n"),
    )
    pe_n2 = F.expr("(a + b) * (a + c) + (c + d) * (b + d)").cast(dec)
    den = (F.col("n") * F.col("n") - pe_n2).cast(dec)
    num_shifted = (
        (F.col("a") + F.col("d")) * F.col("n") - pe_n2 + den
    ).cast(dec)
    kappa = F.when(den == 0, F.lit(1_000_000).cast("bigint")).otherwise(
        (exact_floordiv(num_shifted * F.lit(1_000_000), den)
         - 1_000_000).cast("bigint")
    )
    return cm.select(
        F.col("a").cast("bigint").alias("n_both"),
        F.col("b").cast("bigint").alias("n_est_only"),
        F.col("c").cast("bigint").alias("n_exact_only"),
        F.col("d").cast("bigint").alias("n_neither"),
        kappa.alias("kappa_ppm"),
    )
