"""Round-9 batch six: column-profile drift between corpus halves (the
tabular data-quality twin of embedding_centroid_drift), SFT
training-sequence packing (the composite's survivors packed into
fixed-length sequences per split, with per-conversation boundaries),
whole-document FFD bin packing, and the temporal holdout split.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.queries.round9e import _pipeline_sql
from dmds_spark.sources.registry import load_events, load_table

SEQ_LEN = 256  # SFT sequence budget (conversations are <= 96 tok each)


# ---------------------------------------------------------------------------
# Column-profile drift between deterministic corpus halves
# ---------------------------------------------------------------------------

_PROFILE_COLS = ("lang", "source", "n_chars")

_HALF_SQL = (
    "CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))"
    "::BIGINT % 10000) < 5000 THEN 'a' ELSE 'b' END"
)


def _drift_sql() -> str:
    sel = []
    for c in _PROFILE_COLS:
        sel.append(f"""
        SELECT '{c}' AS col, {_HALF_SQL} AS half,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_s,
               CAST(MAX({c}) AS VARCHAR) AS max_s
        FROM documents GROUP BY 2
        """)
    return " UNION ALL ".join(sel)


@register("profile_schema_drift", _drift_sql())
def profile_schema_drift(spark, sf_dir):
    """Column-profile drift report: per column and deterministic corpus
    half (md5 hash split, engine-portable), the row count, null count,
    distinct count and min/max rendered as strings — the tabular
    data-quality monitor a pipeline diffs between corpus drops before
    retraining (a language that vanished, a source whose id range
    jumped, a null-rate regression — all visible as an a-vs-b delta in
    this one long-format frame). Swap the hash split for drop ids in
    production; the profile is unchanged.

    Shape at scale: ONE groupBy on the 2-value half key aggregates
    every column's null count, distinct count and min/max in a single
    pass (multi-column COUNT DISTINCT is Spark's two-phase expand,
    never a driver collect); the long format comes from a stack() over
    the two result rows. One scan total — a union of per-column
    aggregates would read the corpus once per profiled column."""
    d = load_table(spark, sf_dir, "documents")
    from dmds_spark.operators.sampling import hash_bucket

    half = F.when(hash_bucket(F.col("doc_id")) < 5000, "a").otherwise("b")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for c in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).cast("bigint").alias(f"nn_{c}"),
            F.countDistinct(c).cast("bigint").alias(f"nd_{c}"),
            F.min(c).cast("string").alias(f"mn_{c}"),
            F.max(c).cast("string").alias(f"mx_{c}"),
        ]
    wide = d.groupBy(half.alias("half")).agg(*aggs)
    stack = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack})"
            " AS (col, n_null, n_distinct, min_s, max_s)"
        ),
        "half",
        "n",
    ).select("col", "half", "n", "n_null", "n_distinct", "min_s", "max_s")


# ---------------------------------------------------------------------------
# SFT training-sequence packing over the composite's survivors
# ---------------------------------------------------------------------------


def _seq_sql() -> str:
    return f"""
    WITH corpus AS ({_pipeline_sql()})
    SELECT conv_id, split,
           CAST(total_tok AS BIGINT) AS total_tok,
           CAST(cb // {SEQ_LEN} AS BIGINT) AS seq_id,
           CAST(cb % {SEQ_LEN} AS BIGINT) AS seq_offset
    FROM (
      SELECT conv_id, split, total_tok,
             COALESCE(SUM(total_tok) OVER (
               PARTITION BY split ORDER BY conv_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cb
      FROM corpus
    )
    """


@register("sft_pack_training_sequences", _seq_sql())
def sft_pack_training_sequences(spark, sf_dir):
    """SFT batch packing: the composite's surviving conversations
    concat-and-chunked into fixed SEQ_LEN-token training sequences PER
    SPLIT, emitting each conversation's (seq_id, seq_offset) — the
    boundary map the trainer turns into a block-diagonal attention
    mask so packed conversations cannot attend to each other. Packing
    never crosses a split (train sequences contain only train
    conversations), and the conv_id ordering makes the layout
    reproducible across runs and partitionings.

    Shape at scale: the exclusive cumsum is the two-level sharded form
    keyed by split (sharded_exclusive_cumsum — even range shards +
    broadcast offsets; 3 split values would otherwise serialize the
    corpus through 3 window tasks). Sequence ids are dense per split
    by construction."""
    from dmds_spark.operators.relational import sharded_exclusive_cumsum
    from dmds_spark.queries.round9e import pipeline_sft_corpus

    corpus = pipeline_sft_corpus(spark, sf_dir).select(
        "conv_id", "split", "total_tok"
    )
    packed = sharded_exclusive_cumsum(
        corpus, "split", ["conv_id"], "total_tok", out="cb"
    )
    return packed.select(
        "conv_id",
        "split",
        F.col("total_tok").cast("bigint").alias("total_tok"),
        F.expr(f"CAST(cb DIV {SEQ_LEN} AS BIGINT)").alias("seq_id"),
        F.pmod("cb", F.lit(SEQ_LEN)).cast("bigint").alias("seq_offset"),
    )


# ---------------------------------------------------------------------------
# Whole-document FFD bin packing (rows-only: FFD is sequential per
# shard — no SQL oracle; pinned against the shared Python reference
# in tests/test_bin_packing.py)
# ---------------------------------------------------------------------------

FFD_CAPACITY = 512
FFD_SHARDS = 16


@register("tokens_bin_pack_ffd", None)
def tokens_bin_pack_ffd(spark, sf_dir):
    """Whole-document training-batch packing: first-fit-decreasing
    into FFD_CAPACITY-token bins, never splitting a document — the
    quality/efficiency trade against concat-and-chunk
    (tokens_pack_sequences), which wastes nothing but slices documents
    across sequence boundaries. Emits (doc_id, n_tokens, shard, bin);
    oversized documents are excluded (they belong to the chunking
    path).

    Shape at scale: hash-shard then pack each shard in ONE Arrow
    applyInPandas task over two int64 columns (ids + weights, never
    text); quality is lost only at shard boundaries (< 1 wasted bin
    per shard vs global packing) while the sequential FFD work
    distributes. Rows-only by design: FFD's first-fit probe order is
    inherently sequential — the distributed result is pinned
    bit-exact to the shared pure-Python reference, and the sound
    any-fit property (at most one bin per shard under half full) is
    asserted in the test suite."""
    from dmds_spark.operators.packing import bin_pack_ffd

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    return bin_pack_ffd(
        d, "n_tokens", "doc_id", FFD_CAPACITY, shards=FFD_SHARDS
    )


# ---------------------------------------------------------------------------
# Temporal holdout split: train on the past, evaluate on the future
# ---------------------------------------------------------------------------


@register(
    "sample_split_temporal",
    """
    WITH bounds AS (
      SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx FROM events
    )
    SELECT event_id,
           CASE WHEN epoch_us(ts) < mn + (mx - mn) * 8 // 10 THEN 'train'
                WHEN epoch_us(ts) < mn + (mx - mn) * 9 // 10 THEN 'val'
                ELSE 'test' END AS split
    FROM events CROSS JOIN bounds
    """,
)
def sample_split_temporal(spark, sf_dir):
    """Temporal holdout split (80/10/10 of the observed time span):
    train strictly precedes validation, which strictly precedes test —
    the split policy for anything with temporal drift (forecasting,
    recommendation, event models), where a hash split leaks the future
    into training and overstates accuracy. Completes the engine's
    split family: hash (sample_train_val_test), duplicate-group-safe
    (sample_split_leakage_safe), temporal (this). Boundaries are exact
    integer micros (span * 8 // 10 — no double rounding at any epoch
    magnitude), so the same event lands on the same side on both
    engines, always.

    Shape at scale: one min/max aggregate (1 row, broadcast back) and
    a pure projection — the split itself adds no shuffle; at 100 TB
    the bounds come from parquet footer stats via the same scan."""
    ev = load_events(spark, sf_dir)
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
    )
    us = F.unix_micros("ts")
    t_lo = F.col("mn") + F.expr("(mx - mn) * 8 DIV 10")
    t_hi = F.col("mn") + F.expr("(mx - mn) * 9 DIV 10")
    return (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            "event_id",
            F.when(us < t_lo, F.lit("train"))
            .when(us < t_hi, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )
