"""Round-9 batch two: ranked retrieval (rational BM25) and the SFT /
instruction-tuning data-prep family — conversation packing, role
validation, token-budget truncation, loss-mask spans — plus the
leakage-safe corpus split (dup clusters never straddle train/test).

All oracle-checked; every score that feeds an ORDER BY is
integer/decimal-exact (no libm logs), following the registry contract
in queries/__init__.py. Registered behind round9: every pre-existing
query already has driver evidence, so these lead the next window.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.queries.llm_extra import _BUCKET_SQL  # hash_bucket's SQL twin
from dmds_spark.sources.registry import load_table


# ---------------------------------------------------------------------------
# Ranked retrieval: rational BM25 (integer-exact, no logarithms)
# ---------------------------------------------------------------------------

BM25_TERMS = ("hash", "window", "merge")
BM25_TOPK = 20
_S = 1_000_000  # fixed-point scale for both factors

# k1 = 1.2, b = 0.75 — multiplying numerator and denominator of the
# classic tf saturation term by 10*D (D = total corpus tokens) clears
# every fraction:
#   tf_part = tf*(k1+1) / (tf + k1*(1-b) + k1*b*dl*N/D)
#           = 22*tf*D / (10*tf*D + 3*D + 9*dl*N)


def _bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id
    ), corpus AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS d_tot FROM dl
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok
      WHERE term IN ({terms}) GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id,
             (CAST((2 * (c.n_docs - df.df) + 1) AS HUGEINT) * {_S})
               // (2 * df.df + 1) AS idf_s,
             (CAST(22 AS HUGEINT) * tf.tf * c.d_tot * {_S})
               // (10 * tf.tf * c.d_tot + 3 * c.d_tot + 9 * dl.dl * c.n_docs)
               AS tfp_s
      FROM tf
      JOIN df USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN corpus c
    ), total AS (
      SELECT doc_id, SUM(idf_s * tfp_s) AS score
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, CAST(score AS VARCHAR) AS score_str,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT doc_id, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
      FROM total
    ) WHERE rnk <= {BM25_TOPK}
    """


@register("text_bm25_topk", _bm25_sql())
def text_bm25_topk(spark, sf_dir):
    """Ranked retrieval over the corpus: top-k documents for a fixed
    query-term set under RATIONAL BM25 (k1=1.2, b=0.75) — the classic
    tf-saturation * rarity scoring with the logarithmic idf replaced by
    its rational argument, idf_r = (2(N-df)+1)/(2df+1), scaled to fixed
    point. Both factors are exact integer floor-divisions (the pmod
    trick on DECIMAL), so ranking hash-matches DuckDB bit-for-bit; a
    libm ln() would drift in the last ulp between engines.

    Shape at scale: tokenization is a per-row scan; doc lengths and
    per-term tf are map-side-combined groupBys; df (|query| rows) and
    the corpus totals (1 row) are broadcast back; the final top-k
    is a TakeOrderedAndProject (per-partition heap, k rows to the
    driver side of the exchange) and only the k survivors see the
    rank window. The wide decimal product keeps the score exact past
    2^63 at web-corpus N."""
    # the scoring pipeline lives in operators/bm25.py since round 14 —
    # ONE definition shared with the maintained posting store's
    # search_bm25, so the store-served twin cannot silently diverge
    from dmds_spark.operators.bm25 import rational_bm25_topk

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (
        tok.filter(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return rational_bm25_topk(tf, dl, BM25_TOPK)


# ---------------------------------------------------------------------------
# SFT / instruction-tuning data prep: documents as conversation turns
# ---------------------------------------------------------------------------
# Deterministic conversation model shared by the family (and stated
# identically in each oracle): conv_id = doc_id // 8, turn = doc_id % 8,
# role = 'user' when n_chars is even else 'assistant' (so real
# alternation violations exist), content = text, tok = whitespace token
# count. A production run swaps this CTE for the real chat log — the
# packing/validation/truncation/masking operators are unchanged.

_CONV_SQL = """
      SELECT doc_id // 8 AS conv_id, doc_id % 8 AS turn,
             CASE WHEN n_chars % 2 = 0 THEN 'user' ELSE 'assistant' END
               AS role,
             text, len(string_split(text, ' ')) AS tok
      FROM documents
"""


def _conv(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        # DIV is exact integer division (a double quotient would lose
        # ids past 2^53)
        F.expr("CAST(doc_id DIV 8 AS BIGINT)").alias("conv_id"),
        F.pmod("doc_id", F.lit(8)).cast("long").alias("turn"),
        F.when(F.pmod("n_chars", F.lit(2)) == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        "text",
        F.size(F.split("text", " ")).cast("long").alias("tok"),
    )


@register(
    "sft_pack_conversations",
    f"""
    WITH conv AS ({_CONV_SQL}),
    pieces AS (
      SELECT conv_id, turn, tok,
             '<|' || role || '|>' || text AS piece
      FROM conv
    )
    SELECT conv_id,
           CAST(COUNT(*) AS BIGINT) AS n_turns,
           CAST(SUM(tok) AS BIGINT) AS total_tok,
           md5(string_agg(piece, chr(10) ORDER BY turn)) AS packed_md5,
           CAST(SUM(len(piece)) + COUNT(*) - 1 AS BIGINT) AS packed_len
    FROM pieces GROUP BY conv_id
    """,
)
def sft_pack_conversations(spark, sf_dir):
    """SFT packing: render each conversation to one training string —
    role-templated turns ('<|role|>content') joined in turn order with
    newlines — and emit per-conversation turn count, token total, and
    the md5 of the packed string, so the driver hash certifies the
    exact packed BYTES (template, ordering, separators), not just
    counts, while keeping the result row small.

    Shape at scale: one groupBy on conv_id; in-group ordering comes
    from array_sort over (turn, piece) structs — no window, no
    per-group sort task, and conversations are bounded (≤8 turns) so
    collect_list never builds an unbounded row."""
    pieces = _conv(spark, sf_dir).select(
        "conv_id",
        "turn",
        "tok",
        F.concat(F.lit("<|"), "role", F.lit("|>"), "text").alias("piece"),
    )
    packed = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("turn", "piece"))),
            lambda s: s["piece"],
        ),
        "\n",
    )
    return pieces.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_turns"),
        F.sum("tok").cast("bigint").alias("total_tok"),
        F.md5(packed).alias("packed_md5"),
        (F.sum(F.length("piece")) + F.count(F.lit(1)) - 1)
        .cast("bigint")
        .alias("packed_len"),
    )


@register(
    "sft_role_alternation",
    f"""
    WITH conv AS ({_CONV_SQL}),
    flagged AS (
      SELECT conv_id, turn, role,
             CASE WHEN role = LAG(role) OVER (
               PARTITION BY conv_id ORDER BY turn
             ) THEN 1 ELSE 0 END AS viol
      FROM conv
    )
    SELECT conv_id,
           CAST(COUNT(*) AS BIGINT) AS n_turns,
           CAST(SUM(viol) AS BIGINT) AS n_violations,
           CAST(MIN(CASE WHEN viol = 1 THEN turn END) AS BIGINT)
             AS first_violation_turn
    FROM flagged GROUP BY conv_id
    """,
)
def sft_role_alternation(spark, sf_dir):
    """SFT validation: per conversation, count adjacent same-role turns
    (user/user or assistant/assistant) and locate the first violation —
    the structural check an instruction-tuning pipeline runs before
    packing, since most chat templates require strict alternation.
    Conversations with zero violations are kept (NULL first turn) so
    the output is the full validation report, not just the failures.

    Shape at scale: one lag window partitioned by conv_id (bounded
    groups), one groupBy — both on the same key, so AQE coalesces to a
    single exchange."""
    conv = _conv(spark, sf_dir)
    w = W.partitionBy("conv_id").orderBy("turn")
    flagged = conv.withColumn(
        "viol",
        F.when(F.col("role") == F.lag("role").over(w), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    return flagged.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_turns"),
        F.sum("viol").cast("bigint").alias("n_violations"),
        F.min(F.when(F.col("viol") == 1, F.col("turn")))
        .cast("bigint")
        .alias("first_violation_turn"),
    )


SFT_TOKEN_BUDGET = 96


@register(
    "sft_truncate_to_budget",
    f"""
    WITH conv AS ({_CONV_SQL}),
    cum AS (
      SELECT conv_id, turn, tok,
             SUM(tok) OVER (
               PARTITION BY conv_id ORDER BY turn DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_from_end
      FROM conv
    )
    SELECT conv_id, turn, CAST(tok AS BIGINT) AS tok,
           CAST(cum_from_end AS BIGINT) AS cum_from_end
    FROM cum WHERE cum_from_end <= {SFT_TOKEN_BUDGET}
    """,
)
def sft_truncate_to_budget(spark, sf_dir):
    """SFT truncation: keep the longest SUFFIX of turns whose total
    token count fits the context budget — chat fine-tuning drops the
    oldest turns first, never the latest exchange. Implemented as a
    reverse cumulative sum per conversation; a conversation whose most
    recent turn alone exceeds the budget drops entirely (documented
    semantics, matched by the oracle).

    Shape at scale: one window partitioned by conv_id (bounded groups)
    + a scan filter; no second shuffle."""
    conv = _conv(spark, sf_dir)
    w = (
        W.partitionBy("conv_id")
        .orderBy(F.col("turn").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        conv.withColumn("cum_from_end", F.sum("tok").over(w))
        .filter(F.col("cum_from_end") <= SFT_TOKEN_BUDGET)
        .select(
            "conv_id",
            "turn",
            F.col("tok").cast("bigint").alias("tok"),
            F.col("cum_from_end").cast("bigint").alias("cum_from_end"),
        )
    )


@register(
    "sft_loss_mask_spans",
    f"""
    WITH conv AS ({_CONV_SQL}),
    pieces AS (
      SELECT conv_id, turn, role,
             '<|' || role || '|>' || text AS piece
      FROM conv
    ), offs AS (
      SELECT conv_id, turn, role,
             COALESCE(SUM(len(piece) + 1) OVER (
               PARTITION BY conv_id ORDER BY turn
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS start_char,
             len(piece) AS plen
      FROM pieces
    )
    SELECT conv_id, turn,
           CAST(start_char AS BIGINT) AS start_char,
           CAST(start_char + plen AS BIGINT) AS end_char
    FROM offs WHERE role = 'assistant'
    """,
)
def sft_loss_mask_spans(spark, sf_dir):
    """SFT loss masking: the [start, end) character offsets of every
    ASSISTANT turn inside the packed conversation string produced by
    sft_pack_conversations (same template, same newline separator) —
    the spans whose tokens receive loss during fine-tuning, while user
    turns are masked out. Offsets are a running sum of rendered piece
    lengths (+1 per separator), so the driver hash certifies that
    packing and masking agree byte-for-byte on where each turn lands.

    Shape at scale: one window partitioned by conv_id; spans ship as
    (doc-relative) integers, never as substrings of the packed blob."""
    pieces = _conv(spark, sf_dir).select(
        "conv_id",
        "turn",
        "role",
        F.concat(F.lit("<|"), "role", F.lit("|>"), "text").alias("piece"),
    )
    w = (
        W.partitionBy("conv_id")
        .orderBy("turn")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offs = pieces.select(
        "conv_id",
        "turn",
        "role",
        F.coalesce(
            F.sum(F.length("piece") + 1).over(w), F.lit(0)
        ).alias("start_char"),
        F.length("piece").alias("plen"),
    )
    return offs.filter(F.col("role") == "assistant").select(
        "conv_id",
        "turn",
        F.col("start_char").cast("bigint").alias("start_char"),
        (F.col("start_char") + F.col("plen")).cast("bigint").alias("end_char"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe split: duplicate clusters never straddle train/test
# ---------------------------------------------------------------------------


@register(
    "sample_split_leakage_safe",
    f"""
    WITH rep AS (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS rep_id
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN b < 8000 THEN 'train'
                WHEN b < 9000 THEN 'val'
                ELSE 'test' END AS split,
           CAST(rep_id AS BIGINT) AS rep_id
    FROM (SELECT doc_id, rep_id,
                 {_BUCKET_SQL.format(k='rep_id')} AS b
          FROM rep)
    """,
)
def sample_split_leakage_safe(spark, sf_dir):
    """Leakage-safe train/val/test split (80/10/10): the split key is
    the duplicate-cluster REPRESENTATIVE (min doc_id over identical
    text), not the document, so exact duplicates always land on the
    same side — a per-doc hash split leaks eval answers into training
    whenever the corpus contains dups. Emitting rep_id makes the
    invariant driver-checkable: every (rep_id, split) pair is
    functionally dependent by construction. The md5 bucket is the same
    engine-portable hash as the sampling family, so the split is
    deterministic across runs and partitionings.

    Shape at scale: one hash-shuffle on text for the representative
    (swap in the minhash cluster id from dedup_cluster_assign for
    near-dup safety at web scale), then a pure projection — the split
    itself adds no shuffle. The same groupBy+join shape replaces the
    window verbatim if text groups ever became unbounded."""
    d = load_table(spark, sf_dir, "documents")
    rep = d.select(
        "doc_id",
        F.min("doc_id").over(W.partitionBy("text")).alias("rep_id"),
    )
    from dmds_spark.operators.sampling import hash_bucket

    b = hash_bucket(F.col("rep_id"))
    return rep.select(
        "doc_id",
        F.when(b < 8000, F.lit("train"))
        .when(b < 9000, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
        F.col("rep_id").cast("bigint").alias("rep_id"),
    )
