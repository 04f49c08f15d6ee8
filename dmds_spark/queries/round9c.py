"""Round-9 batch three: preference-data (DPO) pair construction, reply
dedup and conversation-level decontamination for SFT corpora, the
data-repetition (epochs-per-source) plan, deterministic per-epoch
shuffle order, and a per-source quality curriculum whose NTILE is
computed by closed form over a sharded rank (never a per-source
single-task window).

Shares the deterministic conversation model with round9b (conv_id =
doc_id // 8, turn = doc_id % 8, role by n_chars parity) so the SFT
family composes. All scores that feed an ORDER BY or a comparison are
integer-exact (type-token ratio in parts-per-thousand, integer floor
divisions), following the registry contract in queries/__init__.py.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.queries.round9b import _CONV_SQL, _conv
from dmds_spark.sources.registry import load_table

N_EPOCHS = 3
BUDGET_MULT = 4  # token budget = 4x the corpus
MAX_EPOCHS = 16  # repetition cap per source
N_STAGES = 4  # curriculum quartiles


# integer type-token ratio in parts-per-thousand: the deterministic
# quality proxy shared by the DPO pairer and the curriculum (swap for
# a real reward-model / classifier score column in production — the
# pairing / staging operators are unchanged)
_TTR_SQL = (
    "(len(list_distinct(string_split(text, ' '))) * 1000)"
    " // len(string_split(text, ' '))"
)


def _ttr_col():
    # exact floor division on longs (both operands positive): DIV is
    # integer division in Spark SQL, matching DuckDB's //
    return F.expr(
        "CAST(size(array_distinct(split(text, ' '))) * 1000L"
        " DIV size(split(text, ' ')) AS BIGINT)"
    ).alias("score")


# ---------------------------------------------------------------------------
# DPO / preference pairs: (chosen, rejected) per conversation
# ---------------------------------------------------------------------------


@register(
    "sft_preference_pairs",
    f"""
    WITH conv AS ({_CONV_SQL}),
    a AS (
      SELECT conv_id, turn, text, {_TTR_SQL} AS score
      FROM conv WHERE role = 'assistant'
    ), r AS (
      SELECT conv_id, turn, text, score,
             ROW_NUMBER() OVER (
               PARTITION BY conv_id ORDER BY score DESC, turn DESC
             ) AS rhi,
             ROW_NUMBER() OVER (
               PARTITION BY conv_id ORDER BY score ASC, turn ASC
             ) AS rlo
      FROM a
    )
    SELECT conv_id,
           CAST(MAX(CASE WHEN rhi = 1 THEN turn END) AS BIGINT)
             AS chosen_turn,
           CAST(MAX(CASE WHEN rlo = 1 THEN turn END) AS BIGINT)
             AS rejected_turn,
           CAST(MAX(CASE WHEN rhi = 1 THEN score END)
                - MAX(CASE WHEN rlo = 1 THEN score END) AS BIGINT)
             AS margin,
           MAX(CASE WHEN rhi = 1 THEN md5(text) END) AS chosen_md5,
           MAX(CASE WHEN rlo = 1 THEN md5(text) END) AS rejected_md5
    FROM r GROUP BY conv_id
    HAVING COUNT(*) >= 2
       AND MAX(CASE WHEN rhi = 1 THEN score END)
           > MAX(CASE WHEN rlo = 1 THEN score END)
    """,
)
def sft_preference_pairs(spark, sf_dir):
    """Preference-pair (DPO/RLHF) data prep: within each conversation,
    pair the best-scoring ASSISTANT turn (chosen) against the worst
    (rejected) under a deterministic integer quality score — type-token
    ratio in parts-per-thousand — emitting the score margin and the
    md5 of both reply texts so the driver hash certifies WHICH replies
    were paired, not just how many. Tie-breaks are explicit ((score,
    turn) lexicographic, highest turn wins the chosen side) and
    zero-margin conversations are dropped: a DPO pair with no
    preference signal is training noise. Swap the TTR column for a
    reward-model score in production; the pairing operator is
    unchanged.

    Shape at scale: both ROW_NUMBER windows share the conv_id
    partitioning (bounded groups, <= 8 turns) so they plan onto ONE
    exchange; the final groupBy reuses the same key. No joins, no
    corpus-sized sort."""
    a = _conv(spark, sf_dir).filter(F.col("role") == "assistant").select(
        "conv_id", "turn", "text", _ttr_col()
    )
    w_hi = W.partitionBy("conv_id").orderBy(
        F.col("score").desc(), F.col("turn").desc()
    )
    w_lo = W.partitionBy("conv_id").orderBy("score", "turn")
    r = a.select(
        "conv_id",
        "turn",
        "text",
        "score",
        F.row_number().over(w_hi).alias("rhi"),
        F.row_number().over(w_lo).alias("rlo"),
    )
    hi = F.max(F.when(F.col("rhi") == 1, F.col("score")))
    lo = F.max(F.when(F.col("rlo") == 1, F.col("score")))
    return (
        r.groupBy("conv_id")
        .agg(
            F.max(F.when(F.col("rhi") == 1, F.col("turn")))
            .cast("bigint")
            .alias("chosen_turn"),
            F.max(F.when(F.col("rlo") == 1, F.col("turn")))
            .cast("bigint")
            .alias("rejected_turn"),
            (hi - lo).cast("bigint").alias("margin"),
            F.max(F.when(F.col("rhi") == 1, F.md5("text"))).alias(
                "chosen_md5"
            ),
            F.max(F.when(F.col("rlo") == 1, F.md5("text"))).alias(
                "rejected_md5"
            ),
            F.count(F.lit(1)).alias("__n"),
        )
        .filter((F.col("__n") >= 2) & (F.col("margin") > 0))
        .drop("__n")
    )


# ---------------------------------------------------------------------------
# Reply dedup: exact-duplicate assistant replies across conversations
# ---------------------------------------------------------------------------


@register(
    "sft_reply_dedup",
    f"""
    WITH conv AS ({_CONV_SQL}),
    a AS (
      SELECT conv_id, turn, conv_id * 8 + turn AS tid, md5(text) AS reply_md5
      FROM conv WHERE role = 'assistant'
    )
    SELECT reply_md5,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(MIN(tid) // 8 AS BIGINT) AS canonical_conv,
           CAST(MIN(tid) % 8 AS BIGINT) AS canonical_turn
    FROM a GROUP BY reply_md5
    """,
)
def sft_reply_dedup(spark, sf_dir):
    """SFT reply keep-first map: every distinct ASSISTANT reply with
    its copy count and canonical first location ((conv, turn) by the
    composite tid ordering). Templated/canned responses are the
    classic SFT quality hazard — a model trained on 500 copies of the
    same reply memorizes it; a consumer drops every occurrence whose
    (conv, turn) differs from the canonical, and the n_copies >= 2
    slice is the human-review worklist. Emitting the full map (not
    just the duplicated tail) keeps the driver hash non-trivial on a
    dup-free corpus slice.

    Shape at scale: one hash-shuffle groupBy on the md5 (flat key
    histogram by construction); canonical selection is a MIN inside
    the same aggregate, so keep-first costs no window and no second
    pass."""
    a = (
        _conv(spark, sf_dir)
        .filter(F.col("role") == "assistant")
        .select(
            (F.col("conv_id") * 8 + F.col("turn")).alias("tid"),
            F.md5("text").alias("reply_md5"),
        )
    )
    return (
        a.groupBy("reply_md5")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
            F.expr("CAST(MIN(tid) DIV 8 AS BIGINT)").alias("canonical_conv"),
            F.pmod(F.min("tid"), F.lit(8)).cast("bigint").alias(
                "canonical_turn"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Conversation-level decontamination: drop the whole conversation
# ---------------------------------------------------------------------------

EVAL_MOD = 50  # conv_id % 50 == 0 is the deterministic "benchmark" slice


def _decontam_sql() -> str:
    from dmds_spark.queries.llm_dedup import SHINGLES_SQL

    return f"""
    WITH sh AS (
      SELECT doc_id, UNNEST(list_distinct({SHINGLES_SQL})) AS sh
      FROM documents
    ), ev AS (
      SELECT DISTINCT sh FROM sh WHERE (doc_id // 8) % {EVAL_MOD} = 0
    )
    SELECT CAST(doc_id // 8 AS BIGINT) AS conv_id,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_dirty_turns,
           CAST(COUNT(DISTINCT sh) AS BIGINT) AS n_shared
    FROM sh JOIN ev USING (sh)
    WHERE (doc_id // 8) % {EVAL_MOD} <> 0
    GROUP BY 1
    """


@register("sft_decontaminate_convs", _decontam_sql())
def sft_decontaminate_convs(spark, sf_dir):
    """Conversation-level benchmark decontamination: a TRAINING
    conversation is flagged when ANY of its turns shares an exact word
    3-gram with the held-out eval conversations (the deterministic
    conv_id % 50 == 0 slice stands in for the benchmark) — the
    group-granularity propagation text_contamination_ngram lacks.
    Dropping only the dirty turn leaves the contaminated answer's
    context in training; SFT decontamination drops the conversation.
    Output: flagged conv_id + how many turns and distinct eval
    shingles hit, i.e. the drop list with its evidence.

    Shape at scale: eval side is benchmark-sized, so its distinct
    shingle set broadcasts and the corpus scan stays shuffle-free for
    the probe; per-doc shingles are deduped BEFORE the join (a turn
    repeating one eval shingle 50x counts once); the conv rollup is
    one groupBy on conv_id."""
    from dmds_spark.operators.dedup import word_kgram_rows

    d = load_table(spark, sf_dir, "documents")
    sh = (
        word_kgram_rows(d, "text", "doc_id", 3, col="sh")
        .select("doc_id", "sh")
        .distinct()
    )
    is_eval = F.pmod(F.expr("doc_id DIV 8"), F.lit(EVAL_MOD)) == 0
    ev = sh.filter(is_eval).select("sh").distinct()
    return (
        sh.filter(~is_eval)
        .join(F.broadcast(ev), "sh")
        .groupBy(
            F.expr("CAST(doc_id DIV 8 AS BIGINT)").alias("conv_id")
        )
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_dirty_turns"),
            F.countDistinct("sh").cast("bigint").alias("n_shared"),
        )
    )


# ---------------------------------------------------------------------------
# Data-repetition plan: epochs per source under a token budget
# ---------------------------------------------------------------------------


@register(
    "tokens_epoch_plan",
    f"""
    WITH s AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS HUGEINT) AS src_tokens
      FROM documents GROUP BY source
    ), t AS (
      SELECT SUM(src_tokens) AS total, COUNT(*) AS n_src FROM s
    ), p AS (
      SELECT source, src_tokens,
             ({BUDGET_MULT} * total) // n_src AS target_tokens
      FROM s CROSS JOIN t
    )
    SELECT source,
           CAST(src_tokens AS BIGINT) AS src_tokens,
           CAST(target_tokens AS BIGINT) AS target_tokens,
           CAST((target_tokens * 1000000) // src_tokens AS BIGINT)
             AS epochs_ppm,
           CAST(LEAST(target_tokens, {MAX_EPOCHS} * src_tokens) AS BIGINT)
             AS effective_tokens,
           CAST(GREATEST(target_tokens - {MAX_EPOCHS} * src_tokens, 0)
                AS BIGINT) AS shortfall
    FROM p
    """,
)
def tokens_epoch_plan(spark, sf_dir):
    """Data-repetition plan (the multi-epoch budgeting a token-starved
    pretraining run does): given a token budget of BUDGET_MULT x the
    corpus and a uniform per-source target, report each source's
    required epochs in exact integer ppm, the tokens it can actually
    supply under the MAX_EPOCHS repetition cap (repeating a small
    source 100x degrades the model — the cap is the standard
    mitigation), and the unmet shortfall the mixture planner must
    redistribute. All integer floor-divisions over DECIMAL(38,0), so
    the plan is engine-exact past 2^63 total tokens — real corpora
    are there.

    Shape at scale: one map-side-combined groupBy(source) over the
    token counts; the totals (1 row) re-aggregate the source-sized
    frame and broadcast back. Nothing data-sized shuffles twice."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " ")))
        .cast("decimal(38,0)")
        .alias("src_tokens")
    )
    t = s.agg(
        F.sum("src_tokens").cast("decimal(38,0)").alias("total"),
        F.count(F.lit(1)).alias("n_src"),
    )

    from dmds_spark.operators.relational import exact_floordiv as floordiv

    p = s.crossJoin(F.broadcast(t)).select(
        "source",
        "src_tokens",
        floordiv(F.col("total") * BUDGET_MULT, F.col("n_src")).alias(
            "target_tokens"
        ),
    )
    return p.select(
        "source",
        F.col("src_tokens").cast("bigint").alias("src_tokens"),
        F.col("target_tokens").cast("bigint").alias("target_tokens"),
        floordiv(F.col("target_tokens") * 1_000_000, F.col("src_tokens"))
        .cast("bigint")
        .alias("epochs_ppm"),
        F.least(
            F.col("target_tokens"), F.col("src_tokens") * MAX_EPOCHS
        )
        .cast("bigint")
        .alias("effective_tokens"),
        F.greatest(
            F.col("target_tokens") - F.col("src_tokens") * MAX_EPOCHS,
            F.lit(0).cast("decimal(38,0)"),
        )
        .cast("bigint")
        .alias("shortfall"),
    )


# ---------------------------------------------------------------------------
# Deterministic per-epoch shuffle order
# ---------------------------------------------------------------------------


@register(
    "tokens_epoch_shuffle_order",
    f"""
    WITH e AS (
      SELECT UNNEST(range({N_EPOCHS})) AS epoch
    ), x AS (
      SELECT epoch, doc_id,
             ('0x' || substr(md5(epoch::VARCHAR || ':' || doc_id::VARCHAR),
                             1, 15))::BIGINT AS h
      FROM documents CROSS JOIN e
    )
    SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
           CAST(h AS BIGINT) AS h,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY epoch ORDER BY h, doc_id
           ) AS BIGINT) AS position
    FROM x
    """,
)
def tokens_epoch_shuffle_order(spark, sf_dir):
    """Deterministic per-epoch data order: position of every document
    in every training epoch, keyed by md5(epoch:doc_id) — the
    reproducible global shuffle a training run needs so a restart from
    step S sees the identical data stream on any cluster size or
    partitioning (a seeded df.sample/orderBy(rand) is neither). Each
    epoch is an independent permutation (the hash mixes the epoch in),
    which is exactly epoch-reshuffling.

    Shape at scale: the global position comes from global_row_number —
    range-repartition on (epoch, h, doc_id) so each task owns a
    contiguous slice, rank locally, add per-partition offsets (one
    count per partition, never rows) — NEVER a single-partition rank
    window over the corpus. Per-epoch position falls out by
    subtracting epoch * N (every epoch has exactly N docs)."""
    from dmds_spark.operators.relational import global_row_number

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    n_docs = d.count()  # one metadata-cheap scalar for the epoch offset
    x = d.select(
        F.explode(
            F.array(*[F.lit(e) for e in range(N_EPOCHS)])
        ).alias("epoch"),
        "doc_id",
    ).select(
        F.col("epoch").cast("bigint").alias("epoch"),
        "doc_id",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("epoch").cast("string"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    ranked = global_row_number(x, ["epoch", "h", "doc_id"], out="__rn")
    return ranked.select(
        "epoch",
        "doc_id",
        "h",
        (F.col("__rn") - F.col("epoch") * F.lit(n_docs))
        .cast("bigint")
        .alias("position"),
    )


# ---------------------------------------------------------------------------
# Quality curriculum: per-source NTILE by closed form over sharded rank
# ---------------------------------------------------------------------------


@register(
    "sample_ntile_curriculum",
    f"""
    WITH scored AS (
      SELECT doc_id, source, {_TTR_SQL} AS score FROM documents
    )
    SELECT doc_id, source, CAST(score AS BIGINT) AS score,
           CAST(NTILE({N_STAGES}) OVER (
             PARTITION BY source ORDER BY score, doc_id
           ) AS BIGINT) AS stage
    FROM scored
    """,
)
def sample_ntile_curriculum(spark, sf_dir):
    """Quality-curriculum staging: split each source into N_STAGES
    equal quality quartiles (stage 1 = lowest type-token ratio, stage
    N = highest) — the curriculum-learning schedule that feeds cleaner
    data later in training. Semantically NTILE(4) OVER (PARTITION BY
    source ORDER BY score, doc_id), and the oracle states it exactly
    that way.

    Shape at scale — the point of this query: a literal per-source
    NTILE window serializes each source (corpus-sized groups, a
    handful of keys) through ONE task. Instead the rank comes from
    sharded_exclusive_cumsum (range-shard the order, rank locally, add
    broadcast per-shard offsets) and the tile is ntile_from_group_rank
    — NTILE's closed form over (rank, group size). Bit-identical to
    the window for any total order, but every shuffle is even."""
    from dmds_spark.operators.relational import (
        ntile_from_group_rank,
        sharded_exclusive_cumsum,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", _ttr_col()
    )
    one = d.withColumn("__one", F.lit(1).cast("long"))
    r = sharded_exclusive_cumsum(
        one, "source", ["score", "doc_id"], "__one", out="__r"
    )
    n = d.groupBy("source").agg(F.count(F.lit(1)).alias("__n"))
    j = r.join(F.broadcast(n), "source")
    return j.select(
        "doc_id",
        "source",
        F.col("score").cast("bigint").alias("score"),
        ntile_from_group_rank(F.col("__r"), F.col("__n"), N_STAGES).alias(
            "stage"
        ),
    )
