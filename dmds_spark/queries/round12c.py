"""Round-12 queries, batch three: n-gram language-model scoring and
inverted-index retrieval — the two classic text-index structures a
training-data pipeline builds over its corpus.

LM family (CCNet-style quality filtering, log-free): a bigram model is
trained on the doc_id%5!=0 split and scores the held-out split with
stupid backoff (Brants et al. 2007: seen-bigram conditional
probability, else 0.4 * unigram probability, else 0). Every probability
is an exact-ppm INTEGER — ``c2*1e6 div c1`` — so both engines compute
bit-identical scores with pure integer arithmetic; a float
``ln(c2/c1)`` would hash-drift on libm rounding (same discipline as
text_tfidf_topk's integer-scaled idf). The per-doc score is the
arithmetic mean of per-position conditional ppm (a monotone typicality
filter; the geometric/perplexity variant needs logs, which are not
oracle-stable — documented divergence).

Index family: the inverted index is built at its REAL two-level grain —
``(term, doc_id, tf)`` postings, then per-term stats with an md5 over
the doc-ordered posting list (array columns are not driver-hashable, so
the list ships as its checksum) — and then USED: a conjunctive
three-term AND query answered purely from postings (filter on the three
terms pushes into the posting scan; a doc qualifies when it matches all
three).

Scale notes: bigram extraction is a scan-fused array transform (zero
shuffles before the count); model joins ship vocabulary-sized tables
through the broadcast gate; the posting build is two hash aggregates on
the natural keys. Nothing is all-pairs; nothing sorts the corpus.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dmds_spark.core.engine import maybe_broadcast
from dmds_spark.queries import register
from dmds_spark.sources.registry import load_table

_TRAIN_MOD = 5  # doc_id % 5 != 0 trains, == 0 is scored
_MIN_C2 = 5  # model rows emitted for inspection
_BACKOFF_PPM = 400_000  # 0.4 in ppm, the stupid-backoff alpha
_KEEP_PPM = 33_000  # keep gate for the score query
_AND_TERMS = ("hash", "join", "scan")  # conjunctive retrieval probe


def _bigrams(docs):
    """(doc_id, w1, w2) for every adjacent pair — scan-fused transform
    over the split array, no window, no shuffle. Short docs guard the
    descending-sequence pitfall (see functions/text.word_shingles)."""
    pairs = F.expr(
        "CASE WHEN size(split(text, ' ')) < 2 THEN array() ELSE "
        "transform(sequence(1, size(split(text, ' ')) - 1), "
        "i -> struct(element_at(split(text, ' '), i) AS w1, "
        "element_at(split(text, ' '), i + 1) AS w2)) END"
    )
    return docs.select(
        "doc_id", F.explode(pairs).alias("bg")
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))


# DuckDB: the same bigram extraction as a list comprehension.
_BIG_SQL = """
    tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    big AS (
      SELECT doc_id,
             UNNEST([{'w1': toks[i], 'w2': toks[i+1]}
                     for i in range(1, len(toks))]) AS bg
      FROM tok
    ),
    bigf AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM big)
"""


def _train_tables(docs):
    """Bigram + unigram-context counts over the train split."""
    big = _bigrams(docs.filter(F.col("doc_id") % _TRAIN_MOD != 0))
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    return c2, c1


def _ppm(num_name: str, den_name: str):
    """Exact integer floor(num * 1e6 / den) — core/exact.py helper."""
    from dmds_spark.core.exact import floor_scaled_div

    return floor_scaled_div(num_name, den_name)


@register(
    "text_lm_train_bigram",
    f"""
    WITH {_BIG_SQL},
    tb AS (SELECT w1, w2, count(*) AS c2 FROM bigf
           WHERE doc_id % {_TRAIN_MOD} <> 0 GROUP BY 1, 2),
    tu AS (SELECT w1, count(*) AS c1 FROM bigf
           WHERE doc_id % {_TRAIN_MOD} <> 0 GROUP BY 1)
    SELECT tb.w1, tb.w2, CAST(tb.c2 AS BIGINT) AS c2,
           CAST(tu.c1 AS BIGINT) AS c1,
           CAST(tb.c2 * 1000000 // tu.c1 AS BIGINT) AS cond_ppm
    FROM tb JOIN tu ON tb.w1 = tu.w1
    WHERE tb.c2 >= {_MIN_C2}
    """,
)
def text_lm_train_bigram(spark, sf_dir):
    """Train the bigram model: conditional probability p(w2|w1) in
    exact ppm per observed context pair (c2 >= 5). Two hash aggregates
    over the scan-fused bigram stream + one vocabulary-sized join
    (broadcast-gated). The model table is the reusable artifact the
    scoring query consumes."""
    c2, c1 = _train_tables(load_table(spark, sf_dir, "documents"))
    return (
        c2.filter(F.col("c2") >= _MIN_C2)
        .join(maybe_broadcast(c1), "w1")
        .select(
            "w1",
            "w2",
            F.col("c2").cast("long").alias("c2"),
            F.col("c1").cast("long").alias("c1"),
            _ppm("c2", "c1").cast("long").alias("cond_ppm"),
        )
    )


@register(
    "text_lm_score_docs",
    f"""
    WITH {_BIG_SQL},
    tb AS (SELECT w1, w2, count(*) AS c2 FROM bigf
           WHERE doc_id % {_TRAIN_MOD} <> 0 GROUP BY 1, 2),
    tu AS (SELECT w1, count(*) AS c1 FROM bigf
           WHERE doc_id % {_TRAIN_MOD} <> 0 GROUP BY 1),
    n1 AS (SELECT sum(c1) AS total FROM tu),
    held AS (SELECT doc_id, w1, w2 FROM bigf WHERE doc_id % {_TRAIN_MOD} = 0),
    term AS (
      SELECT h.doc_id,
             CASE WHEN tb.c2 IS NOT NULL
                    THEN tb.c2 * 1000000 // tu.c1
                  WHEN bu.c1 IS NOT NULL
                    THEN bu.c1 * {_BACKOFF_PPM} // n1.total
                  ELSE 0 END AS term_ppm,
             CASE WHEN tb.c2 IS NOT NULL THEN 0
                  WHEN bu.c1 IS NOT NULL THEN 1 ELSE 2 END AS kind
      FROM held h
      LEFT JOIN tu ON h.w1 = tu.w1
      LEFT JOIN tb ON h.w1 = tb.w1 AND h.w2 = tb.w2
      LEFT JOIN tu bu ON h.w2 = bu.w1
      CROSS JOIN n1
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
           CAST(sum(term_ppm) // count(*) AS BIGINT) AS lm_score_ppm,
           CAST(sum(CASE WHEN kind = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_backoff,
           CAST(sum(CASE WHEN kind = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(CASE WHEN sum(term_ppm) // count(*) >= {_KEEP_PPM}
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM term GROUP BY doc_id
    """,
)
def text_lm_score_docs(spark, sf_dir):
    """Score the held-out split with stupid backoff and gate at
    _KEEP_PPM — the CCNet-style LM quality filter. Per position:
    seen-bigram conditional ppm, else 0.4 * unigram ppm, else 0 (the
    OOV path fires on boundary tokens). The doc score is the exact
    integer mean, so the keep/drop decision is bit-stable.

    Shape at scale: held-out bigrams left-join two model tables (the
    bigram model is vocab^2-bounded — the gate broadcasts it while it
    fits, shuffle-joins beyond) plus a one-row total via cross join;
    then one hash aggregate per doc. The scoring stream never sorts."""
    docs = load_table(spark, sf_dir, "documents")
    c2, c1 = _train_tables(docs)
    n1 = c1.agg(F.sum("c1").alias("total"))
    held = _bigrams(docs.filter(F.col("doc_id") % _TRAIN_MOD == 0))

    j = (
        held.join(maybe_broadcast(c1), "w1", "left")
        .join(maybe_broadcast(c2), ["w1", "w2"], "left")
        .join(
            maybe_broadcast(
                c1.select(F.col("w1").alias("w2"), F.col("c1").alias("bu_c1"))
            ),
            "w2",
            "left",
        )
        .crossJoin(maybe_broadcast(n1))
    )
    term_ppm = (
        F.when(F.col("c2").isNotNull(), _ppm("c2", "c1"))
        .when(
            F.col("bu_c1").isNotNull(),
            F.expr(
                f"(CAST(bu_c1 AS DECIMAL(38,0)) * {_BACKOFF_PPM}) div total"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    kind = (
        F.when(F.col("c2").isNotNull(), F.lit(0))
        .when(F.col("bu_c1").isNotNull(), F.lit(1))
        .otherwise(F.lit(2))
    )
    scored = j.select(
        "doc_id", term_ppm.alias("term_ppm"), kind.alias("kind")
    ).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.expr("sum(term_ppm) div count(1)").alias("lm_score_ppm"),
        F.sum(F.when(F.col("kind") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_backoff"),
        F.sum(F.when(F.col("kind") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
    )
    return scored.select(
        "doc_id",
        F.col("n_scored").cast("long").alias("n_scored"),
        F.col("lm_score_ppm").cast("long").alias("lm_score_ppm"),
        "n_backoff",
        "n_oov",
        (F.col("lm_score_ppm") >= _KEEP_PPM)
        .cast("long")
        .alias("keep"),
    )


# ---------------------------------------------------------------------------
# inverted index: build postings, then answer a conjunctive query from them
# ---------------------------------------------------------------------------

_TF_SQL = """
    tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id
    )
"""


def _tf(docs):
    """The posting grain: one row per (term, doc_id) with tf — built by
    one hash aggregate over the exploded token stream."""
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    return tok.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))


@register(
    "text_inverted_postings",
    f"""
    WITH {_TF_SQL}
    SELECT term, CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf) AS BIGINT) AS cf,
           md5(string_agg(CAST(doc_id AS VARCHAR), ','
                          ORDER BY doc_id)) AS postings_md5
    FROM tf GROUP BY term
    """,
)
def text_inverted_postings(spark, sf_dir):
    """Build the inverted index and emit its per-term directory row:
    document frequency, collection frequency, and the md5 of the
    doc-ordered posting list (arrays are not driver-hashable, so the
    list is certified by checksum — both engines serialize it as the
    same comma-joined string). Two hash aggregates; the per-term
    collect is bounded by df, the long-format posting table (the real
    stored artifact) never collects."""
    tf = _tf(load_table(spark, sf_dir, "documents"))
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").cast("long").alias("cf"),
        F.md5(
            F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).cast(
                "binary"
            )
        ).alias("postings_md5"),
    )


@register(
    "text_boolean_retrieval",
    f"""
    WITH {_TF_SQL}
    SELECT doc_id,
           CAST(max(CASE WHEN term = '{_AND_TERMS[0]}' THEN tf END)
                AS BIGINT) AS tf_{_AND_TERMS[0]},
           CAST(max(CASE WHEN term = '{_AND_TERMS[1]}' THEN tf END)
                AS BIGINT) AS tf_{_AND_TERMS[1]},
           CAST(max(CASE WHEN term = '{_AND_TERMS[2]}' THEN tf END)
                AS BIGINT) AS tf_{_AND_TERMS[2]},
           CAST(sum(tf) AS BIGINT) AS total_tf
    FROM tf
    WHERE term IN ('{_AND_TERMS[0]}', '{_AND_TERMS[1]}', '{_AND_TERMS[2]}')
    GROUP BY doc_id
    HAVING count(*) = 3
    """,
)
def text_boolean_retrieval(spark, sf_dir):
    """Conjunctive AND over _AND_TERMS answered FROM the posting grain: filter
    the three query terms (pushes into the posting scan — at rest this
    is a partition-pruned read of three posting ranges, never the
    corpus), group by doc, keep docs matching all three. Output carries
    per-term tf for downstream ranking. The retrieval cost is
    O(sum of the three posting lists), the index's whole point."""
    tf = _tf(load_table(spark, sf_dir, "documents")).filter(
        F.col("term").isin(*_AND_TERMS)
    )
    agg = tf.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("term") == t, F.col("tf")))
            .cast("long")
            .alias(f"tf_{t}")
            for t in _AND_TERMS
        ],
        F.sum("tf").cast("long").alias("total_tf"),
        F.count(F.lit(1)).alias("__nt"),
    )
    return agg.filter(F.col("__nt") == len(_AND_TERMS)).drop("__nt")


def _positional(docs):
    """Positional postings (term, doc_id, pos) — 1-based positions so
    both engines agree (DuckDB generate_subscripts is 1-based)."""
    return docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "term"),
    ).select("doc_id", "term", (F.col("pos0") + 1).alias("pos"))


_PHRASE = ("hash", "join")


@register(
    "text_phrase_retrieval",
    f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS term,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    a AS (SELECT doc_id, pos FROM tok WHERE term = '{_PHRASE[0]}'),
    b AS (SELECT doc_id, pos FROM tok WHERE term = '{_PHRASE[1]}')
    SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_hits,
           CAST(min(a.pos) AS BIGINT) AS first_pos,
           CAST(max(a.pos) AS BIGINT) AS last_pos
    FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    GROUP BY a.doc_id
    """,
)
def text_phrase_retrieval(spark, sf_dir):
    """Exact phrase query from the POSITIONAL inverted index: the two
    term posting lists (term-filtered scans — at rest, two pruned
    posting ranges, never the corpus) equi-join on (doc, adjacent
    position). Cost is O(postings of the phrase terms), the positional
    index's whole point; a scan-side LIKE would read every document.
    Output: per-doc occurrence count and first/last match position."""
    tok = _positional(load_table(spark, sf_dir, "documents"))
    a = tok.filter(F.col("term") == _PHRASE[0]).select("doc_id", "pos")
    b = tok.filter(F.col("term") == _PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    return (
        a.join(b, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.min("pos").cast("long").alias("first_pos"),
            F.max("pos").cast("long").alias("last_pos"),
        )
    )
