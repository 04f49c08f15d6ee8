"""Round-4 additions: corpus-analysis and loader-prep operators a
training-data pipeline runs beside the curation/dedup core —
vocabulary coverage (OOV rate), word co-occurrence counts, funnel
conversion latency, sliding-window chunking with overlap, and
class-balanced sampling. All integer/exact-interpolation arithmetic so
the driver's hash compare cannot drift; all pure
``pyspark.sql.functions``.

Registered after ``profiling_q``: the driver checks the first 50
registered queries; these join the round-3-unchecked set at the front
of the window (queries/__init__.py ordering) without displacing it.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.functions.text import words
from dmds_spark.operators.sampling import hash_bucket
from dmds_spark.queries import register
from dmds_spark.queries.llm_extra import _BUCKET_SQL  # hash_bucket's SQL twin
from dmds_spark.queries.llm_extra2 import SEQ_LEN, _int_div
from dmds_spark.core.engine import materialize
from dmds_spark.sources.registry import load_events, load_table


# ---------------------------------------------------------------------------
# Vocabulary coverage: build the top-N corpus vocabulary, report each
# doc's out-of-vocabulary rate — the go/no-go metric when sizing a
# tokenizer vocabulary against a corpus.

VOCAB_N = 100


@register(
    "text_vocab_coverage",
    f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
    ), vocab AS (
      SELECT w FROM (
        SELECT w, COUNT(*) AS c FROM tok GROUP BY w
        ORDER BY c DESC, w LIMIT {VOCAB_N}
      )
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST((1000 * SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS oov_pm
    FROM tok t LEFT JOIN vocab v ON t.w = v.w
    GROUP BY t.doc_id
    """,
)
def text_vocab_coverage(spark, sf_dir):
    """Per-doc OOV rate against the corpus top-``VOCAB_N`` vocabulary
    (count-desc, word-asc tie-break, so the vocab set is deterministic
    on any engine).

    Scale shape: the vocabulary is a top-N aggregate (map-side partial
    counts, TakeOrdered final — N rows on the driver side of the plan,
    never the corpus) and joins back as a BROADCAST left join onto the
    token stream; the only wide stage is the per-doc count shuffle on
    doc_id. A vocab of 100k-1M (real tokenizer sizes) still broadcasts
    in MBs."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(words("text")).alias("w"))
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(VOCAB_N)
        .select("w", F.lit(1).alias("__v"))
    )
    n_oov = F.sum(F.when(F.col("__v").isNull(), 1).otherwise(0))
    return (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            n_oov.cast("bigint").alias("n_oov"),
            _int_div(1000 * n_oov, F.count(F.lit(1))).alias("oov_pm"),
        )
    )


# ---------------------------------------------------------------------------
# Word co-occurrence: corpus-wide (a, b) counts for b within 2 positions
# after a — the word2vec/PMI preprocessing shape.

COOC_TOPK = 50


@register(
    "text_cooccurrence_topk",
    f"""
    WITH t AS (
      SELECT string_split(text, ' ') AS t FROM documents
    ), d1 AS (
      SELECT UNNEST(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS pair
      FROM t
    ), d2 AS (
      SELECT UNNEST(list_transform(range(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i+2])) AS pair
      FROM t
    ), c AS (
      SELECT pair, COUNT(*) AS n
      FROM (SELECT pair FROM d1 UNION ALL SELECT pair FROM d2)
      GROUP BY pair ORDER BY n DESC, pair LIMIT {COOC_TOPK}
    )
    SELECT split_part(pair, ' ', 1) AS a, split_part(pair, ' ', 2) AS b,
           CAST(n AS BIGINT) AS n
    FROM c
    """,
)
def text_cooccurrence_topk(spark, sf_dir):
    """Top-``COOC_TOPK`` co-occurring word pairs (b at distance 1 or 2
    after a), ordered by count with a total tie-break.

    Scale shape: pairs come from window ``lead`` over the posexploded
    token stream — NO self-join of the token table on doc_id (the
    naive co-occurrence plan; quadratic in hot docs) — then one count
    shuffle on the pair and a TakeOrdered top-N. The tie-break string
    'a b' sorts identically to the (a, b) tuple because the space
    separator is below every token character."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.posexplode(words("text")).alias("pos", "w"))
    win = W.partitionBy("doc_id").orderBy("pos")
    pairs = tok.select(
        F.col("w").alias("a"),
        F.array(
            F.lead("w", 1).over(win), F.lead("w", 2).over(win)
        ).alias("__bs"),
    ).select("a", F.explode("__bs").alias("b")).filter(F.col("b").isNotNull())
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.concat_ws(" ", "a", "b").asc())
        .limit(COOC_TOPK)
    )


# ---------------------------------------------------------------------------
# Funnel conversion latency: how long from first view to the purchase
# that completes the strict view->click->purchase funnel.


@register(
    "events_conversion_latency",
    """
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, s1.t1, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id, s1.t1
    ), s3 AS (
      SELECT e.user_id, s2.t1, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id, s2.t1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           PERCENTILE_CONT(0.5) WITHIN GROUP (
             ORDER BY date_diff('second', t1, t3)) AS median_s,
           PERCENTILE_CONT(0.9) WITHIN GROUP (
             ORDER BY date_diff('second', t1, t3)) AS p90_s
    FROM s3
    """,
)
def events_conversion_latency(spark, sf_dir):
    """Latency distribution (median/p90 seconds, exact interpolated
    percentiles over INTEGER second counts — bit-stable doubles) from
    first view to funnel-completing purchase, over strict-funnel
    completers only.

    Scale shape: ``funnel_step_times`` state is one row per surviving
    user; the percentile is a single-row aggregate over completers
    (sort-based exact here; swap approx_percentile at 100 TB user
    counts, documented divergence)."""
    from dmds_spark.operators.events import funnel_step_times

    e = load_events(spark, sf_dir)
    ft = funnel_step_times(e, ["view", "click", "purchase"])
    lat = F.unix_timestamp("t3") - F.unix_timestamp("t1")
    return ft.select(lat.alias("__lat")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.expr("percentile(__lat, 0.5)").alias("median_s"),
        F.expr("percentile(__lat, 0.9)").alias("p90_s"),
    )


# ---------------------------------------------------------------------------
# Sliding-window chunking: overlapping fixed-size token windows per doc
# (RAG / long-context ingestion prep).

CHUNK_TOKENS = 128
CHUNK_STRIDE = 96


@register(
    "tokens_chunk_overlap",
    f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents
    )
    SELECT doc_id,
           CAST(s // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           CAST(s AS BIGINT) AS start_tok,
           CAST(LEAST({CHUNK_TOKENS}, n - s) AS BIGINT) AS chunk_len
    FROM (SELECT doc_id, n, UNNEST(range(0, n, {CHUNK_STRIDE})) AS s FROM t)
    """,
)
def tokens_chunk_overlap(spark, sf_dir):
    """Overlapping chunk spans per document: windows of
    ``CHUNK_TOKENS`` tokens every ``CHUNK_STRIDE`` (32-token overlap),
    last chunk truncated. Emits (doc_id, chunk_id, start_tok,
    chunk_len).

    Scale shape: pure per-row explode of a computed integer sequence —
    NO shuffle anywhere, chunk count per doc is ceil(n/stride) so the
    fan-out is bounded by corpus token count / stride. The degenerate
    single-partition hazard of packing does not apply: spans are
    per-doc independent."""
    d = load_table(spark, sf_dir, "documents")
    n = F.size(words("text"))
    t = d.select("doc_id", n.alias("n"))
    s = F.explode(
        F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE))
    ).alias("s")
    return t.select("doc_id", "n", s).select(
        "doc_id",
        _int_div(F.col("s"), F.lit(CHUNK_STRIDE)).alias("chunk_id"),
        F.col("s").cast("bigint").alias("start_tok"),
        F.least(
            F.lit(CHUNK_TOKENS), F.col("n") - F.col("s")
        ).cast("bigint").alias("chunk_len"),
    )


# ---------------------------------------------------------------------------
# Class-balanced sampling: equalize per-language document counts at the
# minority class size (deterministic hash-rank selection).


@register(
    "sample_balanced_by_lang",
    f"""
    WITH c AS (
      SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ), m AS (
      SELECT MIN(n) AS m FROM c
    ), r AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {_BUCKET_SQL.format(k='doc_id')}, doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id, lang FROM r, m WHERE rn <= m.m
    """,
)
def sample_balanced_by_lang(spark, sf_dir):
    """Equalized per-language subset: every language keeps exactly
    min-class-count docs, selected by content-hash rank (reproducible
    across runs/engines/partitionings, like every sampler here).

    Scale shape: the class-count aggregate is tiny (one row per lang)
    and broadcasts; selection is the TWO-LEVEL ``capped_per_group``
    (slice-local rank first, then the per-lang rank over <= slices*m
    survivors) with the data-derived cap m as a column — a
    low-cardinality lang column at 100 TB never puts a whole class
    through one window task."""
    from dmds_spark.operators.sampling import capped_per_group

    d = load_table(spark, sf_dir, "documents")
    m = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.min("n").alias("m"))
    )
    capped = capped_per_group(
        d.select("doc_id", "lang").join(F.broadcast(m)),
        "lang",
        [hash_bucket(F.col("doc_id")).asc(), F.col("doc_id").asc()],
        F.col("m"),
        slice_col=F.col("doc_id"),
    )
    return capped.select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Attribution-window range join: views within 30 minutes before each
# purchase, per user — the fact-fact interval join shape
# (join_theta_range's broadcast-nested-loop plan is only right for a
# TINY interval side; this exercises the bucketized scale path).

ATTR_WINDOW_US = 1_800 * 1_000_000  # 30 min in exact integer micros


@register(
    "join_range_attribution",
    f"""
    SELECT p.event_id AS purchase_id,
           CAST(COUNT(*) AS BIGINT) AS n_views
    FROM events p JOIN events v
      ON v.user_id = p.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND epoch_us(v.ts) >= epoch_us(p.ts) - {ATTR_WINDOW_US}
     AND epoch_us(v.ts) <= epoch_us(p.ts)
    GROUP BY p.event_id
    """,
)
def join_range_attribution(spark, sf_dir):
    """Views attributable to each purchase (same user, within the 30
    minutes up to and including the purchase) — counted per purchase.

    Scale shape: ``bucketized_range_join`` on (user_id, time-bucket) —
    purchase windows explode into the <=2 half-hour buckets they
    overlap, views bucket by their own timestamp, and the join is a
    plain hash equi-join re-filtered by the exact interval predicate.
    The naive plan (user_id equi-join + time theta) degenerates to a
    per-user nested loop over all (view, purchase) pairs — quadratic
    in a hot user's event count; bucketing bounds each probe to two
    windows. All time arithmetic in exact integer microseconds, so
    the boundary semantics hash-match any engine."""
    from dmds_spark.operators.relational import bucketized_range_join

    e = load_events(spark, sf_dir)
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", F.unix_micros("ts").alias("__v")
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        (F.unix_micros("ts") - ATTR_WINDOW_US).alias("__lo"),
        F.unix_micros("ts").alias("__hi"),
    )
    joined = bucketized_range_join(
        views, purch, "__v", "__lo", "__hi", ATTR_WINDOW_US, by=["user_id"]
    )
    return joined.groupBy("purchase_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_views")
    )


# ---------------------------------------------------------------------------
# Packing spans: the gather list a batch loader actually materializes —
# one row per (doc, sequence) span, covering docs that straddle
# sequence boundaries (tokens_pack_sequences reports only where each
# doc STARTS).

# the spans must describe tokens_pack_sequences' layout — same length
PACK_SEQ_LEN = SEQ_LEN


@register(
    "tokens_pack_spans",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cb
      FROM t
    )
    SELECT doc_id, source,
           CAST(s AS BIGINT) AS seq_id,
           CAST(GREATEST(cb, s * {PACK_SEQ_LEN}) - s * {PACK_SEQ_LEN}
                AS BIGINT) AS seq_off,
           CAST(GREATEST(cb, s * {PACK_SEQ_LEN}) - cb AS BIGINT) AS doc_off,
           CAST(LEAST(cb + n_tokens, (s + 1) * {PACK_SEQ_LEN})
                - GREATEST(cb, s * {PACK_SEQ_LEN}) AS BIGINT) AS span_len
    FROM (
      SELECT *, UNNEST(range(CAST(cb // {PACK_SEQ_LEN} AS BIGINT),
                             CAST((cb + n_tokens - 1) // {PACK_SEQ_LEN} + 1
                                  AS BIGINT))) AS s
      FROM c
      WHERE n_tokens > 0
    )
    """,
)
def tokens_pack_spans(spark, sf_dir):
    """Per-(doc, sequence) gather spans for fixed-length packing: a doc
    whose tokens run [cb, cb+n) under the per-source concat order
    contributes one span to every sequence it touches — (seq_id,
    seq_off, doc_off, span_len). This is the physical copy list the
    batch loader executes; summing span_len per seq_id proves every
    sequence is exactly PACK_SEQ_LEN tokens (except each source's
    last).

    Scale shape: the cumsum is the two-level sharded form (never one
    task per source); the span fan-out is a per-row explode of
    ceil(n/L)+1 elements — no further shuffle. All integer arithmetic."""
    from dmds_spark.operators.relational import sharded_exclusive_cumsum

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "source", F.size(words("text")).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    c = sharded_exclusive_cumsum(t, "source", ["doc_id"], "n_tokens", "cb")
    L = PACK_SEQ_LEN
    s0 = _int_div(F.col("cb"), F.lit(L))
    s1 = _int_div(F.col("cb") + F.col("n_tokens") - 1, F.lit(L))
    sp = c.select(
        "doc_id", "source", "cb", "n_tokens",
        F.explode(F.sequence(s0, s1)).alias("s"),
    )
    start = F.greatest(F.col("cb"), F.col("s") * L)
    end = F.least(F.col("cb") + F.col("n_tokens"), (F.col("s") + 1) * L)
    return sp.select(
        "doc_id",
        "source",
        F.col("s").cast("bigint").alias("seq_id"),
        (start - F.col("s") * L).cast("bigint").alias("seq_off"),
        (start - F.col("cb")).cast("bigint").alias("doc_off"),
        (end - start).cast("bigint").alias("span_len"),
    )


# ---------------------------------------------------------------------------
# Graph analytics: fixed-point integer PageRank over the bipartite
# supplier <-> customer purchase graph (who supplies whom, via
# lineitem x orders). Complements the min-label connected components in
# operators/dedup.py with the other classic iterative-graph shape.

PR_SCALE = 1_000_000_000_000  # score fixed point: 1.0 == 1e12
PR_ITERS = 3
PR_TOPK = 20
_PR_BASE = 3 * PR_SCALE // 20  # (1 - d) * SCALE with d = 17/20


def _pr_sql() -> str:
    head = """
    WITH e0 AS (
      SELECT DISTINCT l_suppkey * 2 AS u, o_custkey * 2 + 1 AS v
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), und AS (
      SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
    ), deg AS (
      SELECT u, COUNT(*) AS d FROM und GROUP BY u
    ), nn AS (SELECT COUNT(*) AS n FROM deg),
    s0 AS (
      SELECT deg.u, CAST({scale} // nn.n AS BIGINT) AS sc
      FROM deg CROSS JOIN nn
    )""".format(scale=PR_SCALE)
    steps = []
    for i in range(1, PR_ITERS + 1):
        steps.append("""
    , i{i} AS (
      SELECT und.v, SUM(s{p}.sc // deg.d) AS infl
      FROM und JOIN s{p} ON und.u = s{p}.u JOIN deg ON und.u = deg.u
      GROUP BY und.v
    ), s{i} AS (
      SELECT deg.u,
             CAST({base} // nn.n
                  + (17 * COALESCE(i{i}.infl, 0)) // 20 AS BIGINT) AS sc
      FROM deg CROSS JOIN nn LEFT JOIN i{i} ON deg.u = i{i}.v
    )""".format(i=i, p=i - 1, base=_PR_BASE))
    tail = """
    SELECT u AS node, sc AS score FROM s{last}
    ORDER BY score DESC, node LIMIT {k}
    """.format(last=PR_ITERS, k=PR_TOPK)
    return head + "".join(steps) + tail


@register("graph_pagerank", _pr_sql())
def graph_pagerank(spark, sf_dir):
    """Top-``PR_TOPK`` nodes by PageRank (damping 0.85, ``PR_ITERS``
    synchronous iterations) over the undirected supplier<->customer
    purchase graph. ALL arithmetic is integer fixed-point (scores in
    1e-12 units, floor division everywhere), so every iteration is
    bit-identical on any engine and the oracle hash-matches — the same
    determinism discipline as the TF-IDF and Gopher scores (a float
    PageRank would drift on summation order).

    Scale shape: each iteration is one shuffle — contributions
    (score // outdeg) flow along edges and SUM-aggregate on the
    destination (map-side partial); the node table, degrees, and the
    single-row node count broadcast. Iterations are a fixed unrolled
    chain (no driver loop state); connected_components in
    operators/dedup.py covers the until-convergence variant of this
    family. Top-K is TakeOrderedAndProject."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    e0 = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("l_suppkey") * 2).alias("u"),
            (F.col("o_custkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    und = e0.unionAll(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    und = und.transform(materialize)  # 2 consumers/iter x 3 iters
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    deg = deg.transform(materialize)
    # degree is loop-invariant: attach it to the edge list ONCE instead
    # of re-joining every iteration (3 joins saved at 3 iterations)
    und_deg = und.join(deg, "u").transform(materialize)
    nn = deg.agg(F.count(F.lit(1)).alias("n"))
    s = deg.crossJoin(F.broadcast(nn)).select(
        "u", _int_div(F.lit(PR_SCALE), F.col("n")).alias("sc")
    )
    for _ in range(PR_ITERS):
        contrib = (
            und_deg.join(s, "u")
            .select("v", _int_div(F.col("sc"), F.col("d")).alias("c"))
        )
        infl = contrib.groupBy("v").agg(F.sum("c").alias("infl"))
        s = (
            deg.crossJoin(F.broadcast(nn))
            .join(infl, deg["u"] == infl["v"], "left")
            .select(
                "u",
                (
                    _int_div(F.lit(_PR_BASE), F.col("n"))
                    + _int_div(17 * F.coalesce(F.col("infl"), F.lit(0)), F.lit(20))
                ).cast("bigint").alias("sc"),
            )
        )
    return (
        s.select(F.col("u").alias("node"), F.col("sc").alias("score"))
        .orderBy(F.col("score").desc(), F.col("node"))
        .limit(PR_TOPK)
    )


from dmds_spark.queries._audio_oracle import AUDIO_ENERGY_SQL


@register("multimodal_audio_energy", AUDIO_ENERGY_SQL)
def multimodal_audio_energy(spark, sf_dir):
    """Audio feature extraction end-to-end: documents -> fake media
    payloads -> PCM16 framing (25ms/10ms) -> per-clip energy stats.
    Unlike the image codec this path is fully real (PCM framing is
    pure array math, operators/multimodal.audio_frame_features).

    Moved rows-only -> FULL ORACLE in round 13: the PCM sample stream
    is arithmetic in (doc_id, n_chars), so framing, sum-of-squares
    energy, and zero-crossings restate declaratively (see
    queries/_audio_oracle.py — including the proof that no sample is
    ever zero, which collapses the zero-skipping crossing definition
    to plain sign flips)."""
    from dmds_spark.operators.multimodal import (
        audio_frame_features,
        media_table_from_documents,
    )

    media = media_table_from_documents(load_table(spark, sf_dir, "documents"))
    frames = audio_frame_features(media)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.sum("energy").cast("bigint").alias("total_energy"),
        F.sum("zero_crossings").cast("bigint").alias("total_zc"),
    )


# ---------------------------------------------------------------------------
# Moving median: an operator Spark has no native window function for —
# composed exactly from collect_list over the frame.

MED_FRAME = 2  # +-2 rows -> 5-row window


@register(
    "window_moving_median",
    f"""
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS DOUBLE) AS qty,
           median(l_quantity) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_orderkey, l_linenumber
             ROWS BETWEEN {MED_FRAME} PRECEDING AND {MED_FRAME} FOLLOWING
           ) AS med_qty
    FROM lineitem
    WHERE l_suppkey < 10
    """,
)
def window_moving_median(spark, sf_dir):
    """Exact moving median of quantity over a 5-row frame per supplier
    — the robust-smoothing window Spark lacks as a built-in window
    function, composed exactly: sort_array(collect_list) over the
    frame, then the standard lower/upper-middle interpolation. The
    inputs are integral doubles, so the even-count average is exact
    and hash-matches DuckDB's quantile_cont(0.5) window.

    Scale shape: one window shuffle on the partition key; the frame is
    bounded (5 rows), so the per-row array is constant-size — this
    composition is O(frame log frame) per row, fine for bounded
    frames, and the documented wrong tool for unbounded ones (use
    approx quantiles per partition instead)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_suppkey") < 10
    )
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_orderkey", "l_linenumber")
        .rowsBetween(-MED_FRAME, MED_FRAME)
    )
    arr = F.sort_array(F.collect_list("l_quantity").over(w))
    n = F.size(arr)
    lower = F.element_at(arr, ((n + 1) / 2).cast("int"))
    upper = F.element_at(arr, (n / 2 + 1).cast("int"))
    med = F.when(n % 2 == 1, lower).otherwise((lower + upper) / 2)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("qty"),
        med.cast("double").alias("med_qty"),
    )


# ---------------------------------------------------------------------------
# Deterministic mode + RFM segmentation (classic customer analytics).


@register(
    "agg_mode_per_group",
    """
    SELECT o_orderpriority,
           CAST(cnt AS BIGINT) AS n,
           o_orderstatus AS mode_status
    FROM (
      SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY COUNT(*) DESC, o_orderstatus
             ) AS rn
      FROM orders GROUP BY o_orderpriority, o_orderstatus
    ) WHERE rn = 1
    """,
)
def agg_mode_per_group(spark, sf_dir):
    """Deterministic per-group mode (most frequent value, smallest
    value on ties) — built-in ``mode()`` has engine-defined tie
    behavior, so the portable form is count + rank, which also
    two-phases: the count is map-side partial and the rank's window
    input is one row per (group, value), never raw rows."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    counts = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("cnt").desc(), F.col("o_orderstatus").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderpriority",
            F.col("cnt").cast("bigint").alias("n"),
            F.col("o_orderstatus").alias("mode_status"),
        )
    )


@register(
    "customers_rfm_segments",
    """
    WITH rfm AS (
      SELECT o_custkey AS custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS freq,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT custkey,
           CAST(NTILE(4) OVER (ORDER BY last_order, custkey) AS BIGINT)
             AS r_q,
           CAST(NTILE(4) OVER (ORDER BY freq, custkey) AS BIGINT) AS f_q,
           CAST(NTILE(4) OVER (ORDER BY monetary, custkey) AS BIGINT) AS m_q
    FROM rfm
    """,
)
def customers_rfm_segments(spark, sf_dir):
    """RFM segmentation: every purchasing customer quartiled on
    recency (last order date), frequency (order count) and monetary
    (decimal-exact spend). The three global NTILEs are NOT global
    windows (the single-partition trap): each comes from the
    distributed global row number + the closed-form bucket allocation
    (global_row_number + ntile_from_rn) — identical output to SQL
    NTILE for the same total order, every stage parallel. Tie-breaks
    on custkey make each order total, so quartile assignment is
    deterministic on any engine."""
    from dmds_spark.operators.relational import global_row_number, ntile_from_rn

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rfm = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )
    rfm = rfm.transform(materialize)  # 3 ranking consumers
    n_rows = rfm.count()
    out = rfm
    for name, order in (
        ("r_q", [F.col("last_order").asc(), F.col("custkey").asc()]),
        ("f_q", [F.col("freq").asc(), F.col("custkey").asc()]),
        ("m_q", [F.col("monetary").asc(), F.col("custkey").asc()]),
    ):
        ranked = global_row_number(out, order, out="__rn")
        out = ranked.withColumn(
            name, ntile_from_rn(F.col("__rn"), n_rows, 4).cast("bigint")
        ).drop("__rn")
    return out.select("custkey", "r_q", "f_q", "m_q")


# ---------------------------------------------------------------------------
# Cluster-aware keep-BEST dedup: canonical selection by quality, not by
# lowest id — the policy real curation pipelines want (keep the longest
# / highest-quality member of each near-dup cluster).


def _keep_best_sql() -> str:
    from dmds_spark.queries.llm_dedup import _CLUSTER_SQL

    # reuse the exact cluster-assignment CTE chain as a subquery
    inner = _CLUSTER_SQL.strip()
    return f"""
    WITH clusters AS (
      {inner}
    ), q AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    )
    SELECT c.doc_id, c.cluster_id, CAST(q.n_tokens AS BIGINT) AS n_tokens
    FROM (
      SELECT clusters.doc_id, clusters.cluster_id,
             ROW_NUMBER() OVER (
               PARTITION BY clusters.cluster_id
               ORDER BY q0.n_tokens DESC, clusters.doc_id
             ) AS rn
      FROM clusters JOIN q q0 ON clusters.doc_id = q0.doc_id
    ) c JOIN q ON c.doc_id = q.doc_id
    WHERE c.rn = 1
    """


@register("dedup_cluster_keep_best", _keep_best_sql())
def dedup_cluster_keep_best(spark, sf_dir):
    """One canonical doc per near-dup cluster, chosen by QUALITY
    (token count, doc_id tie-break) instead of lowest id — the
    canonical-selection policy curation pipelines actually want (the
    longest member usually carries the least-truncated text). Composes
    the MinHash pair graph -> connected components -> per-cluster
    quality rank; singleton docs are their own cluster and survive.

    Scale shape: clustering is the iterative min-label propagation
    (one join+agg per round, lineage cut per round); the final rank's
    window input is one row per doc with cluster ids — near-dup
    clusters are small by construction, so no hot-group hazard."""
    from dmds_spark.operators.dedup import connected_components
    from dmds_spark.queries.llm_dedup import (
        BANDS,
        NUM_HASHES,
        dedup_minhash,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash(docs, "text", "doc_id", NUM_HASHES, BANDS, 0.5)
    clusters = connected_components(
        pairs, "id_a", "id_b", vertices=docs, id_col="doc_id"
    )
    q = docs.select("doc_id", F.size(words("text")).alias("n_tokens"))
    joined = clusters.join(q, "doc_id")
    w = W.partitionBy("cluster_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id", "cluster_id", F.col("n_tokens").cast("bigint")
        )
    )


# ---------------------------------------------------------------------------
# Anomaly detection: days whose event count deviates > 3 sigma from the
# per-type mean — with the z-test done in EXACT integer arithmetic.


@register(
    "events_daily_anomalies",
    """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             COUNT(*) AS c
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ), st AS (
      SELECT event_type, COUNT(*) AS n, SUM(c) AS s, SUM(c * c) AS q
      FROM daily GROUP BY event_type
    )
    SELECT daily.event_type, strftime(daily.d, '%Y-%m-%d') AS day,
           CAST(daily.c AS BIGINT) AS n_events,
           CAST(CASE WHEN (st.n * daily.c - st.s) * (st.n * daily.c - st.s)
                          > 9 * (st.n * st.q - st.s * st.s)
                     THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
    FROM daily JOIN st ON daily.event_type = st.event_type
    """,
)
def events_daily_anomalies(spark, sf_dir):
    """Daily event-count anomalies per type: flag days with |z| > 3
    against the type's own daily distribution — WITHOUT any floating
    point. z^2 > 9 is algebraically (n*c - s)^2 > 9*(n*q - s^2) with
    s = sum(c), q = sum(c^2) over n days: every operand is an integer,
    so the flag is bit-identical on any engine (a float mean/stddev
    would drift on summation order). Operands are cast to
    decimal(38,0) before multiplying, which keeps the squares exact
    well past bigint range — but decimal products are precision-capped
    at 38 digits, so the shared safe bound is |operand| < ~1e19
    (n*c - s and n*q - s^2 each below 19 digits). Beyond that Spark's
    non-ANSI mode NULLs the product (flag silently 0) while DuckDB
    widens to HUGEINT — the engines would diverge, so treat ~1e19 as
    the operator's documented domain, not "cannot overflow".

    Scale shape: the daily rollup is one map-side-partial count
    shuffle; the per-type stats are a tiny second aggregate that
    broadcasts back onto the daily rows."""
    e = load_events(spark, sf_dir)
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("c"))
    st = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    lhs = (dec(F.col("n") * F.col("c")) - dec(F.col("s")))
    lhs = lhs * lhs
    rhs = 9 * (
        dec(F.col("n")) * dec(F.col("q")) - dec(F.col("s")) * dec(F.col("s"))
    )
    return (
        daily.join(F.broadcast(st), "event_type")
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("c").cast("bigint").alias("n_events"),
            F.when(lhs > rhs, 1).otherwise(0).cast("bigint").alias("is_anomaly"),
        )
    )
