"""Round-5 additions, batch two: corpus statistics and graph/session
analytics a training-data platform reports daily — Zipf token curve,
containment-verified near-dup pairs, triangle counts over the near-dup
graph, session-duration histograms, integer-exact embedding norm
profiles, token-length histograms, and the dedup cluster-size
distribution. Every output column is scalar (driver canonicalizer
contract; queries/__init__.py docstring) and every ranking/threshold
comparison is integer math so the oracle hash cannot drift.

Registered after ``llm_extra4``: unchecked names join the front of the
driver's 50-query correctness window (queries/__init__.py ordering).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.functions.text import words
from dmds_spark.queries import register
from dmds_spark.core.engine import materialize
from dmds_spark.queries.llm_dedup import (
    BANDS,
    CAND_CTE,
    EST_SQL,
    K_SHINGLE,
    NUM_HASHES,
    _CLUSTER_SQL,
)
from dmds_spark.sources.registry import load_events, load_table


# ---------------------------------------------------------------------------
# Zipf curve: global token frequency ranks
# ---------------------------------------------------------------------------


@register(
    "text_zipf_topk",
    """
    WITH tok AS (
      SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
    ), c AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY token
    ), top AS (
      SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 50
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rnk,
           token, cnt
    FROM top
    """,
)
def text_zipf_topk(spark, sf_dir):
    """Zipf curve head: top-50 corpus tokens with frequency rank — the
    sanity plot behind every tokenizer-vocab decision. One explode +
    one count shuffle; the top-k is TakeOrdered (never a global sort)
    and the rank window runs over the already-limited 50 rows, so the
    single-partition window touches k rows, not the corpus."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(words("text")).alias("token"))
    top = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(50)
    )
    rnk = F.row_number().over(W.orderBy(F.col("cnt").desc(), "token"))
    return top.select(rnk.cast("long").alias("rnk"), "token", "cnt")


# ---------------------------------------------------------------------------
# containment verify: the asymmetric near-dup verify stage
# ---------------------------------------------------------------------------


@register(
    "dedup_containment_verify",
    CAND_CTE
    + """
    SELECT id_a, id_b,
           CAST(len(list_intersect(sa.shd, sb.shd)) AS BIGINT) AS inter_cnt,
           CAST(least(len(sa.shd), len(sb.shd)) AS BIGINT) AS min_cnt
    FROM cand
    JOIN (SELECT doc_id, list_distinct(shingles) AS shd FROM sh) sa
      ON sa.doc_id = id_a
    JOIN (SELECT doc_id, list_distinct(shingles) AS shd FROM sh) sb
      ON sb.doc_id = id_b
    WHERE len(list_intersect(sa.shd, sb.shd)) * 100
          >= 70 * least(len(sa.shd), len(sb.shd))
    """,
)
def dedup_containment_verify(spark, sf_dir):
    """Containment (|A∩B| / min(|A|,|B|)) >= 0.7 over the LSH candidate
    pairs — catches subset duplication (a doc quoted verbatim inside a
    longer one) that Jaccard's union denominator dilutes. Integer
    threshold compare; same broadcast-candidates + shingle-equi-join
    shape as the Jaccard verify (operators/dedup.py
    containment_verify_pairs)."""
    from dmds_spark.operators.dedup import (
        containment_verify_pairs,
        minhash_lsh_candidates,
        shared_shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    srows, sigs = shared_shingles(
        docs, "text", "doc_id", K_SHINGLE, NUM_HASHES
    )
    cand = minhash_lsh_candidates(sigs, "doc_id", NUM_HASHES, BANDS).select(
        "id_a", "id_b"
    )
    return containment_verify_pairs(
        docs, cand, "text", "doc_id", K_SHINGLE, threshold_pct=70,
        shingle_rows=srows,
    )


# ---------------------------------------------------------------------------
# triangle counts over the near-dup graph
# ---------------------------------------------------------------------------


@register(
    "graph_triangle_count",
    CAND_CTE
    + f""", edges AS (
      SELECT id_a AS u, id_b AS v FROM cand WHERE {EST_SQL} >= 0.5
    ), tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
      SELECT a AS doc_id FROM tri
      UNION ALL SELECT b AS doc_id FROM tri
      UNION ALL SELECT c AS doc_id FROM tri
    ) GROUP BY doc_id
    ORDER BY n_triangles DESC, doc_id
    LIMIT 20
    """,
)
def graph_triangle_count(spark, sf_dir):
    """Per-node triangle counts over the near-dup pair graph (top-20):
    triangle density separates true duplicate cliques from chained
    false positives before clustering commits them to one canonical.
    Canonical two-join enumeration with the edge orientation trick —
    edges carry id_a < id_b, so each triangle a<b<c is found exactly
    once as (a,b)+(b,c)+(a,c); never an all-pairs wedge explosion. The
    edge list materializes once (localCheckpoint) because three join
    consumers would otherwise re-run the LSH pipeline; at 100 TB it
    would be a written intermediate, hash-partitioned on u."""
    from dmds_spark.operators.dedup import dedup_minhash

    docs = load_table(spark, sf_dir, "documents")
    edges = (
        dedup_minhash(docs, "text", "doc_id", NUM_HASHES, BANDS, 0.5)
        .select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .transform(materialize)
    )
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tri = e1.join(e2, F.col("b") == F.col("b2")).join(
        e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3"))
    )
    nodes = (
        tri.select(F.col("a").alias("doc_id"))
        .unionAll(tri.select(F.col("b").alias("doc_id")))
        .unionAll(tri.select(F.col("c").alias("doc_id")))
    )
    return (
        nodes.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# session-duration histogram (built on the sessionize query)
# ---------------------------------------------------------------------------


@register(
    "events_session_stats",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 600000000
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, event_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    ), s AS (
      SELECT user_id, session_id, COUNT(*) AS n_events,
             (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 60000000 AS dur_min
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT CAST(dur_min AS BIGINT) AS dur_min_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS total_events,
           CAST(MAX(n_events) AS BIGINT) AS max_events
    FROM s GROUP BY dur_min
    """,
)
def events_session_stats(spark, sf_dir):
    """Session-duration histogram (1-minute buckets) over the 10-minute
    gap sessionization — the engagement-distribution report on top of
    sessionize_10m. Built directly on the registered sessionize query
    so the two stay definitionally in lockstep; duration bucketing is
    exact integer microsecond arithmetic (div, no doubles). Adds one
    small aggregation to the sessionize plan — no extra scan."""
    from dmds_spark.queries.streaming_batch import sessionize_10m

    sess = sessionize_10m(spark, sf_dir)
    dur_min = F.expr("(session_end_us - session_start_us) div 60000000")
    return (
        sess.select(dur_min.cast("long").alias("dur_min_bucket"), "n_events")
        .groupBy("dur_min_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("total_events"),
            F.max("n_events").cast("long").alias("max_events"),
        )
    )


# ---------------------------------------------------------------------------
# embedding norm profile: integer-exact squared-norm stats per label
# ---------------------------------------------------------------------------

_SQ_SQL = (
    "CAST(list_sum(list_transform(embedding, x -> "
    "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) * "
    "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT)"
)


@register(
    "embedding_norm_stats",
    f"""
    WITH n AS (
      SELECT label, {_SQ_SQL} AS sq FROM embeddings
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MIN(sq) AS BIGINT) AS min_sq,
           CAST(MAX(sq) AS BIGINT) AS max_sq,
           CAST(SUM(sq) AS BIGINT) AS sum_sq
    FROM n GROUP BY label
    """,
)
def embedding_norm_stats(spark, sf_dir):
    """Per-label embedding norm profile — the drift/outlier check run
    before any cosine-based pipeline (an un-normalized batch shows up
    as a min/max_sq excursion). Squared norms are computed in INTEGER
    fixed point (elements scaled 1e6 then squared: exact, order-
    independent, hash-stable; 64 dims * (5e5)^2 stays far under int64)
    — a float fold would hash-differ between engines on summation
    order. Pure per-row scan + one 5-group aggregate: no shuffle
    beyond the final tiny exchange."""
    e = load_table(spark, sf_dir, "embeddings")
    elem = lambda x: F.round(x.cast("double") * 1000000.0, 0).cast("long")  # noqa: E731
    sq = F.aggregate(
        F.transform(F.col("embedding"), lambda x: elem(x) * elem(x)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        e.select(F.col("label").cast("long").alias("label"), sq.alias("sq"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.min("sq").cast("long").alias("min_sq"),
            F.max("sq").cast("long").alias("max_sq"),
            F.sum("sq").cast("long").alias("sum_sq"),
        )
    )


# ---------------------------------------------------------------------------
# token-length histogram per source
# ---------------------------------------------------------------------------


@register(
    "tokens_length_histogram",
    """
    SELECT source,
           CAST((len(string_split(text, ' ')) // 10) * 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM documents GROUP BY source, bucket
    """,
)
def tokens_length_histogram(spark, sf_dir):
    """Doc-length histogram in 10-token buckets per source — the
    packing-efficiency and truncation-loss planning input (how much of
    each source exceeds the sequence length). Single scan, one
    aggregate; bucket arithmetic is integer div on both engines."""
    d = load_table(spark, sf_dir, "documents")
    n = F.size(words("text")).cast("long")
    bucket = F.expr("(size(split(text, ' ')) div 10) * 10").cast("long")
    return (
        d.select("source", bucket.alias("bucket"), n.alias("__n"))
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__n").cast("long").alias("total_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# record linkage: fingerprint blocking + exact edit-distance verify
# ---------------------------------------------------------------------------

_FP_NGRAM = 8  # same geometry as text_rolling_fingerprint
_FP_SQL = (
    f"CASE WHEN length(text) < {_FP_NGRAM} THEN NULL "
    f"ELSE list_min([md5(substring(text, i, {_FP_NGRAM})) "
    f"for i in range(1, length(text) - {_FP_NGRAM - 2})]) END"
)
_FUZZY_MAX_DIST = 50


@register(
    "dedup_fuzzy_fingerprint_pairs",
    f"""
    WITH fp AS (
      SELECT doc_id, {_FP_SQL} AS fp, LENGTH(text) AS ln FROM documents
    ), cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
      WHERE ABS(a.ln - b.ln) <= {_FUZZY_MAX_DIST}
    )
    SELECT c.id_a, c.id_b,
           CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_distance
    FROM cand c
    JOIN documents da ON da.doc_id = c.id_a
    JOIN documents db ON db.doc_id = c.id_b
    WHERE levenshtein(da.text, db.text) <= {_FUZZY_MAX_DIST}
    """,
)
def dedup_fuzzy_fingerprint_pairs(spark, sf_dir):
    """Record linkage: block on the rolling min-md5 fingerprint (the
    same winnowing-flavor key as text_rolling_fingerprint — docs that
    share any 8-char gram minimum, i.e. near-identical under small
    edits), then verify with EXACT Levenshtein distance <= 50. Both
    engines implement classic unit-cost edit distance, so the verify
    column is integer-identical. Same pair hygiene as the LSH paths:
    the blocking self-join carries ids + the 32-char key and length
    only; texts re-attach by equi-join AFTER the candidate set exists —
    the dominant shuffle never carries document bodies.

    Two cost bounds keep the verify stage scale-sane (they cut this
    query 316 s -> ~13 s at sf0.1 without changing one output row):
    - a LENGTH BAND on candidates (|len_a - len_b| <= 50): edit
      distance is >= the length difference, so the band is implied by
      the verify predicate — but it prunes BEFORE texts attach (4.5x
      fewer DPs on this corpus, and it caps the damage when blocking
      keys collide hard, as min-gram keys do on templated text);
    - a THRESHOLDED DP (Spark's three-arg levenshtein): O(len * 50)
      per pair instead of O(len^2), returning -1 past the cap — the
      same surviving set, since any distance > 50 is filtered anyway.
      The DuckDB side keeps the plain two-arg form (no threshold arg
      there; the oracle runs at sf0.01 where the uncapped DP is cheap)
      — so the oracle gate itself pins capped == uncapped on every
      run."""
    from dmds_spark.functions.text import rolling_fingerprint

    return fuzzy_pairs_blocked(
        load_table(spark, sf_dir, "documents"),
        rolling_fingerprint("text", _FP_NGRAM),
    )


def fuzzy_pairs_blocked(d, fp_expr):
    """Shared body of dedup_fuzzy_fingerprint_pairs and its xxhash64
    fast twin (llm_extra9): block on ``fp_expr``, length-band, verify
    with thresholded Levenshtein. ``fp_expr`` is any per-doc blocking
    key expression (null = unblockable doc)."""
    fp = d.select(
        "doc_id",
        fp_expr.alias("fp"),
        F.length("text").alias("ln"),
    ).filter(F.col("fp").isNotNull()).transform(materialize)
    # ^ the blocking self-join consumes fp TWICE (a and b sides); the
    # rolling min-md5 is the one expensive projection here (O(len) md5
    # per doc), so materialize it once — measured ~2 s/pass at sf0.1
    a = fp.select(F.col("doc_id").alias("id_a"), "fp", F.col("ln").alias("la"))
    b = fp.select(F.col("doc_id").alias("id_b"), "fp", F.col("ln").alias("lb"))
    cand = (
        a.join(b, "fp")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("la") - F.col("lb")) <= _FUZZY_MAX_DIST)
        )
        .select("id_a", "id_b")
        # Parallelism floor for the verify stage (guide §2.6). The
        # candidate set is born with the BLOCKING side's partitioning —
        # at test scale the doc table is one row group, so one task
        # would run every thresholded-Levenshtein DP on one core while
        # 31 idle (measured at sf0.1: 15.5 s -> 1.2 s end to end from
        # this one exchange). The exchange carries two bigint ids per
        # candidate — metadata-sized at any scale, negligible next to
        # the O(len * threshold) DP each candidate pays downstream.
        .repartition(d.sparkSession.sparkContext.defaultParallelism)
    )
    ta = d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("__ta"))
    tb = d.select(F.col("doc_id").alias("id_b"), F.col("text").alias("__tb"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("__ta", "__tb", _FUZZY_MAX_DIST)
            .cast("long")
            .alias("edit_distance"),
        )
        .filter(F.col("edit_distance") >= 0)
    )


# ---------------------------------------------------------------------------
# market-basket co-purchase affinity
# ---------------------------------------------------------------------------


@register(
    "market_basket_pairs",
    """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY part_a, part_b
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 25
    """,
)
def market_basket_pairs(spark, sf_dir):
    """Top-25 co-purchased part pairs (market-basket affinity): distinct
    (order, part), self-join within order, pair counts. The self-join's
    fan-out is bounded by basket size squared (TPC-H baskets are ~4
    lines), so at 100 TB this is one orderkey-shuffle with small
    per-group cross products — never an unbounded cross join; top-k is
    TakeOrdered with a total-order tie-break."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# SCD2 validity intervals from the event stream
# ---------------------------------------------------------------------------

_SCD2_OPEN_US = 9_999_999_999_999_999  # open-interval sentinel (no NULLs:
# a nullable int column round-trips as float in one engine's canon and
# Int64 in the other's, breaking the hash on dtype alone)


@register(
    "events_scd2_intervals",
    f"""
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ), flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN prev_type IS NULL OR prev_type <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM o
    ), runs AS (
      SELECT user_id, event_type, ts,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      FROM flagged
    ), iv AS (
      SELECT user_id, event_type, run_id,
             MIN(epoch_us(ts)) AS valid_from_us,
             COUNT(*) AS n_events
      FROM runs GROUP BY user_id, event_type, run_id
    )
    SELECT user_id, event_type, valid_from_us,
           COALESCE(LEAD(valid_from_us) OVER (PARTITION BY user_id ORDER BY valid_from_us),
                    {_SCD2_OPEN_US}) AS valid_to_us,
           CAST(n_events AS BIGINT) AS n_events
    FROM iv
    """,
)
def events_scd2_intervals(spark, sf_dir):
    """SCD2 dimension build from the event stream: collapse consecutive
    same-type events per user into validity intervals
    [valid_from, valid_to) — the islands-and-gaps pattern behind every
    slowly-changing-dimension table. Two window passes over the same
    (user_id; ts, event_id) sort order, so Spark reuses ONE sort-shuffle
    for both; the open interval carries an integer sentinel instead of
    NULL (dtype-stable hashing, see _SCD2_OPEN_US)."""
    ev = load_events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        1,
    ).otherwise(0)
    runs = ev.withColumn(
        "run_id",
        F.sum(chg).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    iv = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.min(F.unix_micros(F.col("ts"))).alias("valid_from_us"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    w2 = W.partitionBy("user_id").orderBy("valid_from_us")
    return iv.select(
        "user_id",
        "event_type",
        "valid_from_us",
        F.coalesce(
            F.lead("valid_from_us").over(w2), F.lit(_SCD2_OPEN_US)
        ).alias("valid_to_us"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# last-touch attribution
# ---------------------------------------------------------------------------

_ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # 7-day lookback


@register(
    "events_attribution_last_touch",
    f"""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS pts
      FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT event_id AS touch_id, user_id, ts AS tts, event_type AS touch_type
      FROM events WHERE event_type IN ('click', 'view')
    ), j AS (
      SELECT purchase_id, touch_id, touch_type,
             epoch_us(pts) - epoch_us(tts) AS gap_us,
             ROW_NUMBER() OVER (PARTITION BY purchase_id
                                ORDER BY tts DESC, touch_id DESC) AS rn
      FROM p JOIN t ON p.user_id = t.user_id
      WHERE t.tts <= p.pts
        AND epoch_us(pts) - epoch_us(tts) <= {_ATTR_WINDOW_US}
    )
    SELECT purchase_id, touch_id, touch_type, gap_us FROM j WHERE rn = 1
    """,
)
def events_attribution_last_touch(spark, sf_dir):
    """Last-touch attribution: each purchase credits the most recent
    click/view by the same user within a 7-day lookback (deterministic
    tie-break on touch time then id). One user-keyed equi-join with the
    time predicates applied as post-join filters (fan-out bounded by
    per-user touch count), then a per-purchase ROW_NUMBER — the
    standard attribution shape; at 100 TB both sides partition on
    user_id so the join is co-located and the window state is one row
    per purchase. Gap arithmetic is exact integer microseconds."""
    ev = load_events(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("pts"),
    )
    t = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("touch_id"),
        "user_id",
        F.col("ts").alias("tts"),
        F.col("event_type").alias("touch_type"),
    )
    gap = F.unix_micros(F.col("pts")) - F.unix_micros(F.col("tts"))
    j = (
        p.join(t, "user_id")
        .filter((F.col("tts") <= F.col("pts")) & (gap <= _ATTR_WINDOW_US))
        .withColumn("gap_us", gap)
    )
    w = W.partitionBy("purchase_id").orderBy(
        F.col("tts").desc(), F.col("touch_id").desc()
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("purchase_id", "touch_id", "touch_type", "gap_us")
    )


from dmds_spark.queries._audio_oracle import AUDIO_RESAMPLE_SQL


@register("multimodal_audio_resample", AUDIO_RESAMPLE_SQL)
def multimodal_audio_resample(spark, sf_dir):
    """PCM16 downsample-by-2 with box anti-alias prefilter, end to end:
    documents -> fake media payloads -> decimation -> per-clip summary
    (sample counts + integer energy of the resampled signal). The
    resample itself is fully real pure-integer array math
    (operators/multimodal.audio_resample). Output columns are scalar
    (driver canonicalizer contract) — the energy reduction replaces
    the binary column at the query boundary.

    Moved rows-only -> FULL ORACLE in round 13: the arithmetic sample
    stream makes the floored pair-means declarative; the oracle runs
    the division on the +65536-shifted sum because numpy's // floors
    while DuckDB's truncates toward zero (queries/_audio_oracle.py)."""
    from pyspark.sql import types as T

    from dmds_spark.operators.multimodal import (
        audio_resample,
        media_table_from_documents,
    )

    media = media_table_from_documents(load_table(spark, sf_dir, "documents"))
    res = audio_resample(media, factor=2)

    @F.pandas_udf(T.LongType())
    def pcm_energy(content):
        import numpy as np
        import pandas as pd

        return pd.Series(
            [
                int(
                    np.square(
                        np.frombuffer(bytes(b), dtype="<i2").astype(np.int64)
                    ).sum()
                )
                for b in content
            ]
        )

    return res.select(
        "media_id",
        "n_in",
        "n_out",
        pcm_energy("content").alias("out_energy"),
    )


@register(
    "dedup_cluster_size_dist",
    f"""
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM (
      SELECT cluster_id, COUNT(*) AS sz
      FROM ({_CLUSTER_SQL}) GROUP BY cluster_id
    ) GROUP BY sz
    """,
)
def dedup_cluster_size_dist(spark, sf_dir):
    """Cluster-size distribution of the near-dup components — the
    one-line summary of how much duplication a crawl carries (mass in
    size>=2 clusters = removable tokens) and the skew check before the
    keep-one stage (a giant cluster means boilerplate, not true dups).
    Two small aggregations on top of connected_components; the
    component loop itself is one shuffle join + min-agg per round
    (operators/dedup.py)."""
    from dmds_spark.operators.dedup import connected_components, dedup_minhash

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash(docs, "text", "doc_id", NUM_HASHES, BANDS, 0.5)
    assign = connected_components(
        pairs, "id_a", "id_b", vertices=docs, id_col="doc_id"
    )
    return (
        assign.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy(F.col("sz").cast("long").alias("cluster_size"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
    )
