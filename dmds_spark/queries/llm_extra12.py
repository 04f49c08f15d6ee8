"""Round-7 queries, batch one: span-level exact-substring duplication
(the word-n-gram flavor of "Deduplicating Training Data Makes Language
Models Better"-style span dedup — cross-document repeated spans, the
per-source duplicated-span cost estimate, and the per-doc removal
ranking), rare-token quality scoring, and event-transition lift.

All five are oracle-checked: counts are exact integers, every ratio is
one final IEEE division of exact integers, every top-k carries a total
order (see queries/__init__.py for the exactness contract).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.core.engine import materialize
from dmds_spark.sources.registry import load_events, load_table


# ---------------------------------------------------------------------------
# span-level exact-substring duplication (word 8-grams across documents)
# ---------------------------------------------------------------------------

_SPAN_N = 8  # span width in words; production span dedup uses 50-token
# windows (Lee et al.) — 8 keeps the sf-test corpora non-degenerate

# Shared oracle CTE: every word-8-gram occurrence with its cross-doc
# stats. ``xdoc.n_docs >= 2`` marks a span that appears VERBATIM in
# more than one document — the unit span dedup removes.
_SPAN_CTE = f"""
    WITH tok AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id, source,
             UNNEST([array_to_string(list_slice(t, i, i + {_SPAN_N - 1}), ' ')
                     for i in range(1, len(t) - {_SPAN_N - 2})]) AS g
      FROM tok WHERE len(t) >= {_SPAN_N}
    ), xdoc AS (
      SELECT g, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
      FROM grams GROUP BY g
    )
"""


def _grams(spark, sf_dir):
    """Every word-8-gram occurrence: (doc_id, source, g). Token-stream
    sized — the expensive projection all three span queries start
    from. slice/sequence keeps it in whole-stage codegen (no UDF)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "source", F.split("text", " ").alias("t"))
    return tok.filter(F.size("t") >= _SPAN_N).select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {_SPAN_N - 1}),"
                f" i -> concat_ws(' ', slice(t, i, {_SPAN_N})))"
            )
        ).alias("g"),
    )


def _xdoc(grams):
    """Cross-document stats per gram. Keyed on the gram string here
    (oracle parity); at 100 TB key on xxhash64(g) instead — the
    64-bit key shrinks the shuffle ~10x and collisions only ever
    MERGE two spans (a false shared-span candidate the verify stage
    of an actual dedup would drop)."""
    return grams.groupBy("g").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occ"),
    )


def _grams_by_g(spark, sf_dir):
    """The gram stream explicitly hash-partitioned on g — for queries
    with TWO g-keyed consumers (the per-gram stats aggregate AND the
    occurrence re-join). Without this, each consumer re-explodes the
    corpus and shuffles separately (the partial-agg branch exchanges a
    different subplan, so ReusedExchange never fires); with it, both
    consumers hang off ONE exchange of the raw gram stream and the
    join needs no further shuffle on the gram side. Near-unique grams
    mean the lost map-side combine costs little — measured 1.7x faster
    end-to-end at sf0.1 (2.12 -> 1.25 s on the span-fraction shape)."""
    return _grams(spark, sf_dir).repartition("g")


@register(
    "dedup_repeated_ngram_spans",
    _SPAN_CTE
    + """
    SELECT g AS gram, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_occ AS BIGINT) AS n_occ
    FROM xdoc WHERE n_docs >= 2
    ORDER BY n_docs DESC, n_occ DESC, gram LIMIT 20
    """,
)
def dedup_repeated_ngram_spans(spark, sf_dir):
    """Top cross-document repeated spans: word 8-grams that appear
    verbatim in >= 2 distinct documents, ranked by document reach then
    total occurrences — the boilerplate/template spans exact-substring
    dedup would cut first (headers, licenses, navigation chrome are
    exactly the spans with the widest doc reach).

    Shape at scale: grams explode to the token stream, collapse once
    per gram (one shuffle keyed on the gram — high cardinality, no
    skew pole), TakeOrdered top-20. No joins."""
    return (
        _xdoc(_grams(spark, sf_dir))
        .filter(F.col("n_docs") >= 2)
        .select(
            F.col("g").alias("gram"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_occ").cast("bigint").alias("n_occ"),
        )
        .orderBy(F.col("n_docs").desc(), F.col("n_occ").desc(), "gram")
        .limit(20)
    )


@register(
    "dedup_duplicated_span_fraction",
    _SPAN_CTE
    + """
    SELECT source, CAST(COUNT(*) AS BIGINT) AS total_grams,
           CAST(SUM(CASE WHEN x.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_grams,
           CAST(CAST(SUM(CASE WHEN x.n_docs >= 2 THEN 1 ELSE 0 END)
                     AS DOUBLE) / COUNT(*) AS DOUBLE) AS dup_fraction
    FROM grams JOIN xdoc x USING (g)
    GROUP BY source
    """,
)
def dedup_duplicated_span_fraction(spark, sf_dir):
    """Per-source duplicated-span budget: what fraction of each
    source's 8-gram positions sit inside a span that also appears in
    another document — the BEFORE number that prices what span-level
    dedup would remove, per source (the decision input for "is this
    crawl worth span-deduping").

    Shape at scale: ONE exchange of the gram stream (explicit hash
    partition on g — see _grams_by_g) feeds both the per-gram stats
    aggregate and the occurrence re-join, so the corpus is exploded
    and shuffled once, not per consumer; per-source rollup is a
    handful of rows. Within-doc repeats (n_docs = 1) do not count as
    duplicated — this is the cross-doc span metric."""
    grams = _grams_by_g(spark, sf_dir)
    x = _xdoc(grams)
    j = grams.join(x, "g")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("total_grams"),
        F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("dup_grams"),
        (
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
            .cast("double")
            / F.count(F.lit(1))
        )
        .cast("double")
        .alias("dup_fraction"),
    )


@register(
    "dedup_doc_dup_span_topk",
    _SPAN_CTE
    + """
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN x.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_positions,
           CAST(CAST(SUM(CASE WHEN x.n_docs >= 2 THEN 1 ELSE 0 END)
                     AS DOUBLE) / COUNT(*) AS DOUBLE) AS dup_share
    FROM grams JOIN xdoc x USING (g)
    GROUP BY doc_id
    ORDER BY dup_positions DESC, doc_id LIMIT 20
    """,
)
def dedup_doc_dup_span_topk(spark, sf_dir):
    """The documents span dedup would rewrite hardest: per doc, how
    many 8-gram positions are cross-document duplicated (and the share
    of the doc that is) — the removal worklist, ranked. A doc near
    dup_share 1.0 is wholly boilerplate; high dup_positions with low
    share is a long doc quoting a template.

    Same shared-exchange shape as dedup_duplicated_span_fraction
    (one g-partitioned gram stream feeding stats + re-join), then a
    doc-keyed aggregate and a TakeOrdered top-20 on the
    (dup_positions, doc_id) total order."""
    grams = _grams_by_g(spark, sf_dir)
    x = _xdoc(grams)
    j = grams.join(x, "g")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("dup_positions"),
            (
                F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
                .cast("double")
                / F.count(F.lit(1))
            )
            .cast("double")
            .alias("dup_share"),
        )
        .orderBy(F.col("dup_positions").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# rare-token quality score
# ---------------------------------------------------------------------------

_RARE_MAX_COUNT = 2  # a token is "rare" if its corpus count is <= 2


@register(
    "text_token_rarity_score",
    f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
    ), rare AS (
      SELECT w FROM tok GROUP BY w HAVING COUNT(*) <= {_RARE_MAX_COUNT}
    ), per AS (
      SELECT t.doc_id, COUNT(*) AS n_rare
      FROM tok t JOIN rare USING (w) GROUP BY t.doc_id
    ), nt AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    )
    SELECT nt.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(per.n_rare, 0) AS BIGINT) AS n_rare,
           CAST(CAST(COALESCE(per.n_rare, 0) AS DOUBLE)
                / GREATEST(n_tokens, 1) AS DOUBLE) AS rare_rate
    FROM nt LEFT JOIN per ON per.doc_id = nt.doc_id
    ORDER BY rare_rate DESC, nt.doc_id LIMIT 20
    """,
)
def text_token_rarity_score(spark, sf_dir):
    """Rare-token rate per document — the cheap perplexity proxy: the
    share of a doc's tokens whose CORPUS frequency is <= 2. Gibberish,
    OCR noise, and mangled encodings are overwhelmingly built from
    tokens the rest of the corpus never repeats, so a high rare_rate
    flags them without any model. Top-20 worst docs.

    Shape at scale: the obvious plan (join every token occurrence to
    the full frequency table) shuffles the token stream keyed on the
    token — and the hot keys are exactly the common words. Joining
    against the RARE set only instead means every join key appears at
    most {_RARE_MAX_COUNT} times — a shuffle with a provably flat key
    histogram; the common-word mass never enters the join. Per-doc
    token counts come straight from the split (no join), and docs with
    zero rare tokens survive via the left join."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    rare = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") <= _RARE_MAX_COUNT)
        .select("w")
    )
    per = tok.join(rare, "w").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_rare")
    )
    nt = d.select("doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
    return (
        nt.join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.coalesce("n_rare", F.lit(0)).cast("bigint").alias("n_rare"),
            (
                F.coalesce("n_rare", F.lit(0)).cast("double")
                / F.greatest("n_tokens", F.lit(1))
            )
            .cast("double")
            .alias("rare_rate"),
        )
        .orderBy(F.col("rare_rate").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# event-transition lift (association vs independence)
# ---------------------------------------------------------------------------


@register(
    "events_transition_lift",
    """
    WITH s AS (
      SELECT event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS nxt
      FROM events
    ), pairs AS (
      SELECT event_type AS from_type, nxt AS to_type
      FROM s WHERE nxt IS NOT NULL
    ), ab AS (
      SELECT from_type, to_type, COUNT(*) AS c_ab
      FROM pairs GROUP BY 1, 2
    ), ma AS (SELECT from_type, COUNT(*) AS c_a FROM pairs GROUP BY 1),
    mb AS (SELECT to_type, COUNT(*) AS c_b FROM pairs GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n FROM pairs)
    SELECT ab.from_type, ab.to_type,
           CAST(c_ab AS BIGINT) AS c_ab,
           CAST(c_a AS BIGINT) AS c_a,
           CAST(c_b AS BIGINT) AS c_b,
           CAST(CAST(c_ab * n AS DOUBLE) / (c_a * c_b) AS DOUBLE) AS lift
    FROM ab
    JOIN ma USING (from_type) JOIN mb USING (to_type), tot
    ORDER BY from_type, to_type
    """,
)
def events_transition_lift(spark, sf_dir):
    """Transition LIFT over consecutive per-user events: observed
    transition count vs what independent marginals predict —
    lift = P(a->b) / (P(a->*) * P(*->b)) = c_ab * n / (c_a * c_b).
    events_transition_counts says WHAT follows what; lift says whether
    that's signal or just base rates (lift > 1 = a genuinely pulls b
    next). Numerator and denominator are exact int64 products (max
    ~n^2, far under 2^63 at any realistic per-pair scale), so the
    single division is engine-identical.

    One per-user sort window builds the transitions; the three
    marginal aggregates fold from the same pairs frame; marginals are
    |event-type|^2-sized — broadcast onto the pair counts."""
    ev = load_events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        # consumers: pair counts + two marginals + the total
        .transform(materialize)
    )
    ab = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("c_ab")
    )
    ma = pairs.groupBy("from_type").agg(F.count(F.lit(1)).alias("c_a"))
    mb = pairs.groupBy("to_type").agg(F.count(F.lit(1)).alias("c_b"))
    tot = pairs.agg(F.count(F.lit(1)).alias("n"))
    return (
        ab.join(F.broadcast(ma), "from_type")
        .join(F.broadcast(mb), "to_type")
        .crossJoin(F.broadcast(tot))
        .select(
            "from_type",
            "to_type",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            F.col("c_a").cast("bigint").alias("c_a"),
            F.col("c_b").cast("bigint").alias("c_b"),
            (
                (F.col("c_ab") * F.col("n")).cast("double")
                / (F.col("c_a") * F.col("c_b"))
            )
            .cast("double")
            .alias("lift"),
        )
        .orderBy("from_type", "to_type")
    )
