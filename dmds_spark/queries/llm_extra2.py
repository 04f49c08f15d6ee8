"""Round-2 additions, part 2: the remaining training-data-pipeline
stages a 100 TB corpus build runs between "raw crawl" and "tokenized
batches" — benchmark-contamination detection, fixed-length sequence
packing, Gopher-style repetition/quality rules, and leakage-free
group-aware splitting. All integer/decimal-exact so the driver's hash
compare cannot drift; all pure ``pyspark.sql.functions`` (no UDFs).

Registered after ``llm_extra`` on purpose: the driver checks the first
50 registered queries and round 2's window is reserved for the
round-1-unchecked set (queries/__init__.py ordering) — these queue for
round 3 alongside the llm_extra batch.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dmds_spark.functions.text import words
from dmds_spark.operators.sampling import hash_bucket
from dmds_spark.queries import register
from dmds_spark.queries.llm_dedup import SHINGLES_SQL  # k=3 word shingles
from dmds_spark.sources.registry import load_table


# ---------------------------------------------------------------------------
# Benchmark contamination: which training docs share an exact word
# shingle with the held-out eval set?

EVAL_MOD = 50  # doc_id % 50 == 0 is the deterministic "benchmark" slice


@register(
    "text_contamination_ngram",
    f"""
    WITH sh AS (
      SELECT doc_id, UNNEST(list_distinct({SHINGLES_SQL})) AS sh
      FROM documents
    ), ev AS (
      SELECT DISTINCT sh FROM sh WHERE doc_id % {EVAL_MOD} = 0
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM sh JOIN ev USING (sh)
    WHERE doc_id % {EVAL_MOD} <> 0
    GROUP BY doc_id
    """,
)
def text_contamination_ngram(spark, sf_dir):
    """Benchmark-contamination check — the decontamination stage every
    serious pretraining pipeline runs: flag training documents sharing
    an exact word n-gram with a held-out eval set (here the
    deterministic ``doc_id % 50 == 0`` slice stands in for the
    benchmark). Output: contaminated doc_id + how many distinct eval
    shingles it contains.

    Shape at scale: the eval side is benchmark-sized (MMLU et al. are
    thousands of rows, not billions), so its distinct-shingle set is
    broadcast — the training-corpus scan stays shuffle-free for the
    probe and only the per-doc count aggregates (map-side partial).
    Shingles are deduped per doc *before* the join so a doc repeating
    one eval shingle 50 times doesn't inflate the probe.
    """
    from dmds_spark.operators.dedup import word_kgram_rows

    d = load_table(spark, sf_dir, "documents")
    # posexplode+lead k-grams (the codegen-stable shape shared with
    # MinHash) — the array-HOF word_shingles form ran interpreted and
    # was 10x this stage's cost at sf0.1
    sh = word_kgram_rows(d, "text", "doc_id", 3, col="sh").select(
        "doc_id", "sh"
    ).distinct()
    ev = (
        sh.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select("sh")
        .distinct()
    )
    return (
        sh.filter(F.col("doc_id") % EVAL_MOD != 0)
        .join(F.broadcast(ev), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )


# ---------------------------------------------------------------------------
# Sequence packing: concat-and-chunk documents into fixed-length
# training sequences.

SEQ_LEN = 512


@register(
    "tokens_pack_sequences",
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
             ), 0) AS cum_before
      FROM t
    )
    SELECT doc_id, source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_before // {SEQ_LEN} AS BIGINT) AS seq_id,
           CAST(cum_before % {SEQ_LEN} AS BIGINT) AS seq_offset
    FROM c
    """,
)
def tokens_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing — the standard pretraining
    batching step: documents are laid end-to-end in a deterministic
    order and cut into SEQ_LEN-token training sequences; each doc gets
    the sequence id and offset where it starts. Streams are independent
    per source, so the layout is stable when sources are added.

    Shape at scale: two-level packing via ``sharded_exclusive_cumsum``
    — range-shard on (source, doc_id), per-shard running sums, tiny
    per-shard offsets broadcast back. A plain per-source window would
    put each source through ONE task (the low-cardinality-key skew
    killer: a 100 TB corpus with a handful of big sources serializes);
    here every shard is even regardless of source sizes. Token counts
    are integers, so seq_id/offset are exact and the same on any
    engine and any shard geometry.
    """
    from dmds_spark.operators.relational import sharded_exclusive_cumsum

    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "source", F.size(words("text")).alias("n_tokens"))
    c = sharded_exclusive_cumsum(t, "source", ["doc_id"], "n_tokens", "cb")
    cum_before = F.col("cb")
    return c.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.floor(cum_before / SEQ_LEN).cast("bigint").alias("seq_id"),
        (cum_before % SEQ_LEN).cast("bigint").alias("seq_offset"),
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition / quality rules.

GOPHER_STOPWORDS = ("the", "a")
MIN_WORDS, MAX_WORDS = 10, 1_000
MAX_DUP_PM = 600        # duplicate-word fraction, per-mille
MIN_MWL_C, MAX_MWL_C = 300, 1_000  # mean word length, centi-chars


def _int_div(num, den):
    """Exact floor division as a codegen Column (both sides integral):
    subtracting pmod makes the numerator an exact multiple, so the
    double division is lossless at any bigint magnitude."""
    return ((num - F.pmod(num, den)) / den).cast("bigint")


def _gopher_metric_cols():
    """The per-doc count columns the Gopher gate needs, from a row with
    a ``toks`` array column: n_words / n_distinct / n_stop."""
    sw = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    return (
        F.size("toks"),
        F.size(F.array_distinct("toks")),
        F.size(F.filter("toks", lambda x: F.array_contains(sw, x))),
    )


def _gopher_keep(n_words, n_distinct, word_chars, n_stop):
    """The combined Gopher keep flag over integer metric columns —
    shared by the standalone query and the corpus composite so the two
    can never drift."""
    dup_pm = _int_div(1000 * (n_words - n_distinct), n_words)
    mwl = _int_div(100 * word_chars, n_words)
    return (
        n_words.between(MIN_WORDS, MAX_WORDS)
        & (dup_pm <= MAX_DUP_PM)
        & mwl.between(MIN_MWL_C, MAX_MWL_C)
        & (n_stop > 0)
    )


@register(
    "text_gopher_rules",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             length(replace(text, ' ', '')) AS word_chars
      FROM documents
    ), m AS (
      SELECT doc_id,
             len(toks) AS n_words,
             len(list_distinct(toks)) AS n_distinct,
             word_chars,
             len(list_filter(toks, x -> x IN {GOPHER_STOPWORDS!r})) AS n_stop
      FROM t
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(1000 * (n_words - n_distinct) // n_words AS BIGINT) AS dup_pm,
           CAST(100 * word_chars // n_words AS BIGINT) AS mean_wlen_c,
           CAST(1000 * n_stop // n_words AS BIGINT) AS stop_pm,
           CAST(
             n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}
             AND 1000 * (n_words - n_distinct) // n_words <= {MAX_DUP_PM}
             AND 100 * word_chars // n_words
                 BETWEEN {MIN_MWL_C} AND {MAX_MWL_C}
             AND n_stop > 0
           AS INTEGER) AS keep
    FROM m
    """,
)
def text_gopher_rules(spark, sf_dir):
    """Gopher-style repetition/quality rules (Rae et al. 2021 §A1.1):
    word count bounds, duplicate-word fraction, mean word length band,
    and a must-contain-a-stopword check, combined into a keep flag.
    Every ratio is integer per-mille / centi-units (floor division) so
    the flag is bit-identical across engines — float ratios would
    hash-drift on rounding.

    Shape at scale: a pure per-row projection — no shuffle, no UDF; all
    higher-order functions (size/array_distinct/filter) run inside
    whole-stage codegen, and the keep flag composes with the scan
    filter of a downstream curation query (predicate pushdown applies).
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        words("text").alias("toks"),
        F.length(F.regexp_replace("text", " ", "")).alias("word_chars"),
    )
    n_words, n_distinct, n_stop = _gopher_metric_cols()
    m = t.select(
        "doc_id",
        n_words.alias("n_words"),
        n_distinct.alias("n_distinct"),
        "word_chars",
        n_stop.alias("n_stop"),
    )
    dup_pm = _int_div(
        1000 * (F.col("n_words") - F.col("n_distinct")), F.col("n_words")
    )
    mwl = _int_div(100 * F.col("word_chars"), F.col("n_words"))
    stop_pm = _int_div(1000 * F.col("n_stop"), F.col("n_words"))
    keep = _gopher_keep(
        F.col("n_words"), F.col("n_distinct"), F.col("word_chars"),
        F.col("n_stop"),
    )
    return m.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        dup_pm.alias("dup_pm"),
        mwl.alias("mean_wlen_c"),
        stop_pm.alias("stop_pm"),
        keep.cast("integer").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Leakage-free splitting: group-aware train/val/test by source.

_SRC_BUCKET_SQL = (
    "(('0x' || substr(md5(source), 1, 15))::BIGINT % 10000)"
)


@register(
    "sample_split_by_source",
    f"""
    SELECT doc_id, source,
           CASE WHEN {_SRC_BUCKET_SQL} < 8000 THEN 'train'
                WHEN {_SRC_BUCKET_SQL} < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def sample_split_by_source(spark, sf_dir):
    """Group-aware 80/10/10 split: the split key is the *source*, not
    the document, so near-duplicate documents from one domain can never
    straddle train and eval (the leakage mode a per-doc split allows).
    Same content-hash bucketing as ``hash_split`` — deterministic
    across runs, engines and partitionings, and adding new sources
    never moves an existing source between splits.

    Shape at scale: pure per-row expression over the scan — no shuffle,
    no group-by; the md5 bucket is computed per row rather than via a
    sources dimension join (cheaper than a join below ~hundreds of
    bytes per row, and always deterministic).
    """
    d = load_table(spark, sf_dir, "documents")
    b = hash_bucket(F.col("source"))
    split = (
        F.when(b < 8000, "train").when(b < 9000, "val").otherwise("test")
    )
    return d.select("doc_id", "source", split.alias("split"))


# ---------------------------------------------------------------------------
# End-to-end: build a training corpus (quality -> decontaminate ->
# group split -> sequence packing) as one composable plan.

_GOPHER_KEEP_SQL = f"""
    SELECT doc_id FROM (
      SELECT doc_id,
             len(toks) AS n_words,
             len(list_distinct(toks)) AS n_distinct,
             word_chars,
             len(list_filter(toks, x -> x IN {GOPHER_STOPWORDS!r})) AS n_stop
      FROM (
        SELECT doc_id, string_split(text, ' ') AS toks,
               length(replace(text, ' ', '')) AS word_chars
        FROM documents
      )
    )
    WHERE n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}
      AND 1000 * (n_words - n_distinct) // n_words <= {MAX_DUP_PM}
      AND 100 * word_chars // n_words BETWEEN {MIN_MWL_C} AND {MAX_MWL_C}
      AND n_stop > 0
"""


@register(
    "pipeline_pretrain_corpus",
    f"""
    WITH sh AS (
      SELECT doc_id, UNNEST(list_distinct({SHINGLES_SQL})) AS sh
      FROM documents
    ), ev AS (
      SELECT DISTINCT sh FROM sh WHERE doc_id % {EVAL_MOD} = 0
    ), contaminated AS (
      SELECT DISTINCT doc_id FROM sh JOIN ev USING (sh)
      WHERE doc_id % {EVAL_MOD} <> 0
    ), quality AS ({_GOPHER_KEEP_SQL}),
    surv AS (
      SELECT d.doc_id, d.source,
             len(string_split(d.text, ' ')) AS n_tokens
      FROM documents d JOIN quality q USING (doc_id)
      WHERE d.doc_id % {EVAL_MOD} <> 0
        AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), packed AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cb
      FROM surv
    )
    SELECT doc_id, source,
           CASE WHEN {_SRC_BUCKET_SQL} < 8000 THEN 'train'
                WHEN {_SRC_BUCKET_SQL} < 9000 THEN 'val'
                ELSE 'test' END AS split,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cb // {SEQ_LEN} AS BIGINT) AS seq_id,
           CAST(cb % {SEQ_LEN} AS BIGINT) AS seq_offset
    FROM packed
    """,
)
def pipeline_pretrain_corpus(spark, sf_dir):
    """The full corpus build a pretraining run starts from, as ONE
    declarative plan: Gopher quality gate -> benchmark decontamination
    (drop eval docs AND any training doc sharing an eval n-gram) ->
    leakage-free group split -> fixed-length sequence packing over the
    survivors. Composes the stage queries above; Catalyst fuses the
    per-row gates (quality, eval-slice, split) into the scan side of
    the contamination anti-join.

    Shape at scale: the corpus is tokenized ONCE into a shared ``toks``
    projection feeding all three token consumers (quality metrics,
    contamination shingles, n_tokens) — re-splitting the text per gate
    tripled the scan-side CPU; the eval shingle set broadcasts; the
    quality and split gates are per-row scan expressions; the only wide
    stages are the contamination semi/anti joins and the two-level
    packing cumsum (``sharded_exclusive_cumsum`` — even range shards,
    never one task per source). Packing runs on survivors only, so
    sequence ids are dense over the final corpus (what the batch
    loader wants).
    """
    from dmds_spark.operators.dedup import kgram_rows_from_tokens
    from dmds_spark.operators.relational import sharded_exclusive_cumsum

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "source",
        words("text").alias("toks"),
        F.length(F.regexp_replace("text", " ", "")).alias("word_chars"),
    )
    # contamination probe over the shared token arrays; the distinct
    # per-doc shingle set feeds TWO consumers (the eval-slice build and
    # the probe side), so it is persisted — without sharing, the
    # tokenize+kgram+distinct subtree executes once per consumer
    # (shingling the corpus twice at 100 TB). LAZY persist, not an
    # eager localCheckpoint: the eval-side broadcast job computes the
    # set and fills the cache, the probe side then reads it — same
    # single computation, minus the up-front materialization wall
    # (measured ~1.2 s of the composite's cost at sf0.1). The cache is
    # dropped by release_materialized_state between bench queries.
    sh = (
        kgram_rows_from_tokens(base, "toks", "doc_id", 3, col="sh")
        .select("doc_id", "sh")
        .distinct()
        .persist()
    )
    ev = sh.filter(F.col("doc_id") % EVAL_MOD == 0).select("sh").distinct()
    contaminated = (
        sh.filter(F.col("doc_id") % EVAL_MOD != 0)
        .join(F.broadcast(ev), "sh")
        .select("doc_id")
        .distinct()
    )
    # Gopher gate + token count from the same arrays
    n_words, n_distinct, n_stop = _gopher_metric_cols()
    surv = (
        base.filter(F.col("doc_id") % EVAL_MOD != 0)
        .filter(_gopher_keep(n_words, n_distinct, F.col("word_chars"), n_stop))
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "source", n_words.alias("n_tokens"))
    )
    packed = sharded_exclusive_cumsum(surv, "source", ["doc_id"], "n_tokens", "cb")
    cb = F.col("cb")
    b = hash_bucket(F.col("source"))
    split = F.when(b < 8000, "train").when(b < 9000, "val").otherwise("test")
    return packed.select(
        "doc_id",
        "source",
        split.alias("split"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.floor(cb / SEQ_LEN).cast("bigint").alias("seq_id"),
        (cb % SEQ_LEN).cast("bigint").alias("seq_offset"),
    )
