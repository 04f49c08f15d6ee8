"""Round-15 queries: store-lifecycle completions — the postings
store's staged ANALYZER migration (the text-side twin of the IVF
store's quantizer retrain) and the incrementally-maintained
survivorship (golden record) store.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.sources.registry import load_events, load_table


def _survivorship_obs(spark, sf_dir):
    """The survivorship_golden_record observation projection — shared
    with the incremental store so the maintained path folds EXACTLY
    the batch query's inputs."""
    from dmds_spark.queries.round14b import _prec_col

    return load_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("tus"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        _prec_col().alias("prec"),
    )


def _survivorship_store(spark, store_dir):
    from dmds_spark.operators.survivorship import IncrementalSurvivorship
    from dmds_spark.queries.round14b import _prec_col, _ts_key

    return IncrementalSurvivorship(
        spark,
        store_dir,
        entity_col="user_id",
        recency_rules={
            "last_k": ("k", _ts_key),
            "best_value_cents": (
                "cents",
                lambda: F.concat(
                    F.lpad(_prec_col().cast("string"), 1, "0"), _ts_key()
                ),
            ),
        },
        min_cols={"first_seen_us": "tus"},
        max_cols={"last_seen_us": "tus"},
        count_col="n_records",
        modal=("modal_type", "event_type"),
    )


@register(
    "rollup_postings_retokenize",
    """
    WITH tok0 AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents
    ), tok AS (
      SELECT doc_id, substr(t, 1, 3) AS term FROM tok0
    ),
    tf AS (
      SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id
    )
    SELECT term, CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf) AS BIGINT) AS cf,
           md5(string_agg(CAST(doc_id AS VARCHAR), ','
                          ORDER BY doc_id)) AS postings_md5
    FROM tf GROUP BY term
    """,
)
def rollup_postings_retokenize(spark, sf_dir):
    """Staged analyzer migration of the maintained inverted index
    (operators/incremental_postings.py retokenize — the text-side twin
    of rollup_ivf_retrain): build the store with the whitespace
    analyzer over two committed increments, migrate BOTH to the
    ``stem3`` analyzer (each increment re-derived from its recorded
    source files into ``batch-v{N}@av2`` dirs while the old generation
    keeps serving, then ONE atomic pointer flip), then ingest a THIRD
    increment — which must tokenize with the post-flip analyzer. The
    oracle states the end state declaratively: the full single-pass
    stem3 index over the whole corpus, so the hash-compare certifies
    migrated-increments ∪ post-migration-increment == fresh rebuild
    under the new analyzer.

    Shape at scale: the migration is O(store) — each increment is ONE
    tokenize scan of its own source files and a term-bucket-partitioned
    write; nothing global, no downtime (readers on the old generation
    until the flip), replay marks preserved because version identity
    is preserved. The directory rollup is the standard one-hash-agg
    term census (collect bounded by df)."""
    from dmds_spark.core.scratch import scratch_dir
    from dmds_spark.operators.incremental_postings import (
        IncrementalPostingsIndex,
    )

    root = scratch_dir("postings_retok", sf_dir)
    src = f"{root}/src"
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = IncrementalPostingsIndex(
        spark, src, f"{root}/store", "doc_id", "text"
    )
    d.filter(F.col("doc_id") % 3 == 0).write.parquet(src)
    idx.refresh()
    d.filter(F.col("doc_id") % 3 == 1).write.mode("append").parquet(src)
    idx.refresh()
    idx.retokenize("stem3")  # migrate both committed increments
    d.filter(F.col("doc_id") % 3 == 2).write.mode("append").parquet(src)
    idx.refresh()  # post-flip increment: must use the NEW analyzer
    return idx.term_directory()


def _survivorship_oracle() -> str:
    from dmds_spark.queries.round14b import _PREC_SQL, _TS_KEY

    return f"""
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
    """


@register("rollup_incremental_survivorship", _survivorship_oracle())
def rollup_incremental_survivorship(spark, sf_dir):
    """Golden records MAINTAINED incrementally (operators/
    survivorship.py): the observation stream arrives as two
    micro-batches split at the median event timestamp (a CDC-shaped
    split — later data arrives later) plus a REPLAY of the second
    batch (at-least-once delivery folds exactly once), each folded
    into the persisted per-entity state by one O(new) hash aggregate
    and an |entities|-row mergeable-state merge. The oracle is the
    same declarative fold survivorship_golden_record hash-matches, so
    the driver certifies increment-union == batch fold for every rule
    family: most-recent-wins and precedence-wins merge via persisted
    winning keys (max_by over a total order is associative), modal
    vote via the summed per-(entity, category) count grain, extrema
    and counts via plain decomposable partials.

    Shape at scale: per batch, ONE hash aggregate over new
    observations (max_by ships one candidate per entity per map task
    — no window over the stream) + a state-table merge bounded by
    |entities|; history is never re-scanned. Versioned state dirs
    behind an atomic pointer flip, writer-fenced, replay-safe."""
    from dmds_spark.core.scratch import scratch_dir

    root = scratch_dir("surv_store", sf_dir)
    obs = _survivorship_obs(spark, sf_dir)
    # CDC-shaped split: everything before the median day, then the rest
    mid = obs.agg(F.expr("percentile_approx(tus, 0.5)")).collect()[0][0]
    store = _survivorship_store(spark, f"{root}/store")
    store.fold_batch(obs.filter(F.col("tus") <= mid), 0)
    store.fold_batch(obs.filter(F.col("tus") > mid), 1)
    store.fold_batch(obs.filter(F.col("tus") > mid), 1)  # replay: no-op
    g = store.golden()
    return g.select(
        "user_id", "last_k", "best_value_cents", "modal_type",
        "first_seen_us", "last_seen_us", "n_records",
    )


@register(
    "multimodal_jpeg_decode_stats",
    """
    WITH g AS (
      SELECT doc_id,
             8 * (2 + n_chars % 4) AS w,
             8 * (2 + (n_chars // 7) % 4) AS h
      FROM documents
    ), r AS (
      -- 8x8 block b of doc d is the constant (d*31 + 7*b) % 256; at
      -- most 5x5 = 25 blocks per image, so the per-doc block sum
      -- enumerates a constant 25-row grid
      SELECT g.doc_id,
             SUM(CASE WHEN k.k < (g.w // 8) * (g.h // 8)
                      THEN (g.doc_id * 31 + 7 * k.k) % 256
                      ELSE 0 END) AS bsum
      FROM g CROSS JOIN UNNEST(range(25)) AS k(k)
      GROUP BY g.doc_id
    )
    SELECT CAST(1 AS INT) AS channels,
           COUNT(*) AS n,
           CAST(SUM(g.w) AS BIGINT) AS sum_width,
           CAST(SUM(g.h) AS BIGINT) AS sum_height,
           CAST(SUM(g.w * g.h) AS BIGINT) AS sum_raster_bytes,
           CAST(SUM(64 * r.bsum) AS BIGINT) AS sum_raster
    FROM g JOIN r ON r.doc_id = g.doc_id
    """,
)
def multimodal_jpeg_decode_stats(spark, sf_dir):
    """The LAST compressed image codec family un-gated, proven against
    the oracle with no imaging library anywhere: synthesize one real
    baseline JFIF JPEG per document (markers, canonical Annex-K
    Huffman entropy coding, zigzag, quantization, numpy DCT —
    operators/jpeg.py), fully decode it back (Huffman decode, DC
    prediction, dequant, IDCT), and aggregate geometry plus the EXACT
    decoded-raster sum. JPEG is lossy in general, but the fixture
    rasters are 8x8-block-constant under the all-ones quantization
    table — a measured FIXED POINT of the codec (DC-only blocks,
    integral coefficients; jpeg.py module docstring) — so DuckDB can
    state the decoded sum in closed form and the hash certifies the
    whole marker/Huffman/zigzag/dequant/IDCT pipeline, raster byte
    for raster byte. The general lossy path (real quant tables, color,
    4:2:0, restart markers) is pinned in tests/test_jpeg.py.

    Shape at scale: one mapInPandas encode scan + one full-decode
    scan, no shuffle until the 1-row aggregate; binary bytes never
    leave the executors (the multimodal_png_decode_stats shape with
    the codec family completed)."""
    from dmds_spark.operators.multimodal import (
        jpeg_media_table_from_documents,
        raster_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = jpeg_media_table_from_documents(
        docs.select("doc_id", "n_chars")
    )
    return (
        raster_stats(media)
        .groupBy("channels")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("width").cast("bigint")).alias("sum_width"),
            F.sum(F.col("height").cast("bigint")).alias("sum_height"),
            F.sum(
                (F.col("width") * F.col("height")).cast("bigint")
            ).alias("sum_raster_bytes"),
            F.sum("raster_sum").cast("bigint").alias("sum_raster"),
        )
    )
