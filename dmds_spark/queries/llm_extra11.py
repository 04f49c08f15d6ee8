"""Round-6 queries, batches three and four: exact EWMA windows,
intra-document repetition profiling, duplicate-row auditing,
vocabulary-truncation loss curves, Jaccard link prediction,
weekday-hour load heatmaps, linear multi-touch attribution, and the
MinHash-vs-SimHash detector-agreement matrix — oracle-checked — plus
rows-only coverage for the byte-histogram featurizer and the World
maintenance surface (compact + stats).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.core.engine import materialize
from dmds_spark.sources.registry import load_events, load_table


# ---------------------------------------------------------------------------
# exact EWMA over each customer's order history
# ---------------------------------------------------------------------------

_EWMA_LAGS = 4  # weights 8,4,2,1 over the last four orders


@register(
    "window_ewma_pow2",
    """
    WITH v AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
      FROM orders
    ), l AS (
      SELECT o_custkey, o_orderkey, c,
             LAG(c, 1) OVER w AS c1, LAG(c, 2) OVER w AS c2,
             LAG(c, 3) OVER w AS c3
      FROM v WINDOW w AS (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    SELECT o_custkey, o_orderkey,
           CAST(8 * c + COALESCE(4 * c1, 0) + COALESCE(2 * c2, 0)
                + COALESCE(c3, 0) AS BIGINT) AS ewma_num,
           CAST(8 + CASE WHEN c1 IS NULL THEN 0 ELSE 4 END
                  + CASE WHEN c2 IS NULL THEN 0 ELSE 2 END
                  + CASE WHEN c3 IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS ewma_den,
           CAST(CAST(8 * c + COALESCE(4 * c1, 0) + COALESCE(2 * c2, 0)
                     + COALESCE(c3, 0) AS DOUBLE)
                / (8 + CASE WHEN c1 IS NULL THEN 0 ELSE 4 END
                     + CASE WHEN c2 IS NULL THEN 0 ELSE 2 END
                     + CASE WHEN c3 IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
             AS ewma_cents
    FROM l
    """,
)
def window_ewma_pow2(spark, sf_dir):
    """Exponentially-weighted moving average of each customer's order
    values with power-of-two weights (8/4/2/1 over the last 4 orders)
    — the smoothing window dashboards actually want, made EXACT: the
    weighted numerator and the weights-present denominator are
    integers (cents), so the result is engine-independent down to one
    final IEEE division. A float-alpha EWMA is a running float
    recurrence whose rounding depends on evaluation order — the
    pow2/lag formulation is the hash-stable equivalent.

    One per-customer window (four lags share the single sort), no
    other shuffle."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    v = o.select(
        "o_custkey", "o_orderkey", "o_orderdate",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint").alias("c"),
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    l = v.select(
        "o_custkey", "o_orderkey", "c",
        F.lag("c", 1).over(w).alias("c1"),
        F.lag("c", 2).over(w).alias("c2"),
        F.lag("c", 3).over(w).alias("c3"),
    )
    num = (
        8 * F.col("c")
        + F.coalesce(4 * F.col("c1"), F.lit(0))
        + F.coalesce(2 * F.col("c2"), F.lit(0))
        + F.coalesce(F.col("c3"), F.lit(0))
    )
    den = (
        F.lit(8)
        + F.when(F.col("c1").isNull(), 0).otherwise(4)
        + F.when(F.col("c2").isNull(), 0).otherwise(2)
        + F.when(F.col("c3").isNull(), 0).otherwise(1)
    )
    return l.select(
        "o_custkey", "o_orderkey",
        num.cast("bigint").alias("ewma_num"),
        den.cast("bigint").alias("ewma_den"),
        (num.cast("double") / den).cast("double").alias("ewma_cents"),
    )


# ---------------------------------------------------------------------------
# intra-document repetition profile (Gopher-style repetition gate)
# ---------------------------------------------------------------------------


@register(
    "text_repetition_profile",
    """
    WITH tok AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ), tri AS (
      SELECT doc_id,
             UNNEST([array_to_string(list_slice(t, i, i + 2), ' ')
                     for i in range(1, len(t) - 1)]) AS g
      FROM tok WHERE len(t) >= 3
    ), cnt AS (
      SELECT doc_id, g, COUNT(*) AS c FROM tri GROUP BY 1, 2
    ), per AS (
      SELECT doc_id, MAX(c) AS mx, COUNT(*) AS dst, SUM(c) AS tot
      FROM cnt GROUP BY 1
    )
    SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN per.mx >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repetitive,
           CAST(SUM(COALESCE(per.dst, 0)) AS BIGINT) AS distinct_trigrams,
           CAST(SUM(COALESCE(per.tot, 0)) AS BIGINT) AS total_trigrams,
           CAST(CAST(SUM(COALESCE(per.dst, 0)) AS DOUBLE)
                / GREATEST(SUM(COALESCE(per.tot, 0)), 1) AS DOUBLE)
             AS distinct_ratio
    FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def text_repetition_profile(spark, sf_dir):
    """Intra-document repetition per source: docs where some word
    trigram repeats (the Gopher repetition-gate signal — templated and
    looping text repeats n-grams long before it repeats lines), plus
    the distinct/total trigram ratio. All counts exact; the ratio is
    one final division of exact integers.

    Shape at scale: trigrams explode to the token-stream cardinality,
    collapse per (doc, gram) then per doc — both shuffles key on
    doc_id (high cardinality, no skew pole); the per-source rollup is
    the only small aggregate. Short docs (< 3 words) count as
    non-repetitive via the left join, not silently dropped."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.split("text", " ").alias("t"))
    tri = tok.filter(F.size("t") >= 3).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 2),"
                " i -> concat_ws(' ', slice(t, i, 3)))"
            )
        ).alias("g"),
    )
    cnt = tri.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    per = cnt.groupBy("doc_id").agg(
        F.max("c").alias("mx"),
        F.count(F.lit(1)).alias("dst"),
        F.sum("c").alias("tot"),
    )
    j = d.select("doc_id", "source").join(per, "doc_id", "left")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("mx") >= 2, 1).otherwise(0))
        .cast("bigint").alias("n_repetitive"),
        F.sum(F.coalesce("dst", F.lit(0))).cast("bigint")
        .alias("distinct_trigrams"),
        F.sum(F.coalesce("tot", F.lit(0))).cast("bigint")
        .alias("total_trigrams"),
        (
            F.sum(F.coalesce("dst", F.lit(0))).cast("double")
            / F.greatest(F.sum(F.coalesce("tot", F.lit(0))), F.lit(1))
        ).cast("double").alias("distinct_ratio"),
    )


# ---------------------------------------------------------------------------
# duplicate-row audit (data-quality profiling)
# ---------------------------------------------------------------------------


@register(
    "profile_duplicate_rows",
    """
    WITH g AS (
      SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, COUNT(*) AS c
      FROM lineitem GROUP BY 1, 2, 3, 4
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_key_groups,
           CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_groups,
           CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
             AS rows_in_dup_groups,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(MAX(c) AS BIGINT) AS max_multiplicity
    FROM g
    """,
)
def profile_duplicate_rows(spark, sf_dir):
    """Primary-key duplicate audit on lineitem's natural key
    (orderkey, partkey, suppkey, linenumber): group count, duplicated
    groups, rows involved, worst multiplicity — the ingest sanity
    check every pipeline runs after a backfill (the expected answer
    is ZERO duplicates, and an exact zero both engines agree on is
    the point — silent double-loads are the classic backfill bug).
    One hash aggregate on the composite key, one scalar fold."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    g = li.groupBy(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"
    ).agg(F.count(F.lit(1)).alias("c"))
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_key_groups"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
        .cast("bigint").alias("dup_groups"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
        .cast("bigint").alias("rows_in_dup_groups"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.max("c").cast("bigint").alias("max_multiplicity"),
    )


# ---------------------------------------------------------------------------
# vocabulary-truncation loss (tokenizer sizing)
# ---------------------------------------------------------------------------

_VOCAB_SIZES = [8, 16, 24]


def _trunc_sql() -> str:
    sizes = ", ".join(str(s) for s in _VOCAB_SIZES)
    return f"""
    WITH cnt AS (
      SELECT t, COUNT(*) AS c FROM (
        SELECT UNNEST(string_split(text, ' ')) AS t FROM documents
      ) GROUP BY t
    ), ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rnk FROM cnt
    ), tot AS (SELECT SUM(c) AS tot, COUNT(*) AS n_types FROM cnt)
    SELECT s.vocab_size, CAST(MIN(tot.n_types) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN rnk <= s.vocab_size THEN c ELSE 0 END)
                AS BIGINT) AS covered,
           CAST(MIN(tot.tot) AS BIGINT) AS total_tokens,
           CAST(1.0 - CAST(SUM(CASE WHEN rnk <= s.vocab_size
                                    THEN c ELSE 0 END) AS DOUBLE)
                      / MIN(tot.tot) AS DOUBLE) AS oov_rate
    FROM ranked, tot, (SELECT UNNEST([{sizes}]) AS vocab_size) s
    GROUP BY s.vocab_size
    """


@register("tokens_vocab_truncation_loss", _trunc_sql())
def tokens_vocab_truncation_loss(spark, sf_dir):
    """Out-of-vocabulary rate as a function of vocabulary size: what
    share of the token STREAM survives truncating the type inventory
    to the top-N by frequency — the curve that sizes a tokenizer's
    vocab (and prices what a smaller embedding table costs in UNK
    tokens). Exact stream/type counts; rank ties break on the token
    string so both engines cut the same boundary.

    Shape at scale: only types ranked <= max(vocab_size) can enter any
    coverage sum, so the rank input is TakeOrdered top-k (per-partition
    heap + k-row merge), never a vocabulary-sized sort — at web scale
    the type inventory is 1e8+ rows (Heaps' law; text_vocab_growth
    measures it) and a single-partition rank over it would be one task
    sorting the whole vocabulary. The window that assigns rnk runs
    post-limit over k rows, bounded by construction. Totals (stream
    size, type count) fold over the full count table in parallel."""
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select(F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        # vocabulary-sized; TWO consumers (top-k + totals) — without
        # the barrier each re-scans and re-counts the token stream
        # (plan-pinned single-scan in test_plans.py)
        .transform(materialize)
    )
    topk = cnt.orderBy(F.col("c").desc(), "t").limit(max(_VOCAB_SIZES))
    ranked = topk.select(
        "c",
        F.row_number()
        .over(W.orderBy(F.col("c").desc(), "t"))
        .alias("rnk"),
    )
    tot = cnt.agg(
        F.sum("c").alias("tot"), F.count(F.lit(1)).alias("n_types")
    )
    sizes = spark.createDataFrame(
        [(s,) for s in _VOCAB_SIZES], ["vocab_size"]
    )
    j = ranked.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(sizes))
    return j.groupBy("vocab_size").agg(
        F.min("n_types").cast("bigint").alias("n_types"),
        F.sum(
            F.when(F.col("rnk") <= F.col("vocab_size"), F.col("c"))
            .otherwise(0)
        ).cast("bigint").alias("covered"),
        F.min("tot").cast("bigint").alias("total_tokens"),
        (
            1.0
            - F.sum(
                F.when(F.col("rnk") <= F.col("vocab_size"), F.col("c"))
                .otherwise(0)
            ).cast("double")
            / F.min("tot")
        ).cast("double").alias("oov_rate"),
    )


# ---------------------------------------------------------------------------
# Jaccard link prediction over the co-purchase graph
# ---------------------------------------------------------------------------


@register(
    "graph_supplier_jaccard",
    """
    WITH e AS (
      SELECT DISTINCT l_suppkey AS s, o_custkey AS c
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), deg AS (SELECT s, COUNT(*) AS d FROM e GROUP BY s),
    common AS (
      SELECT t1.s AS supp_a, t2.s AS supp_b, COUNT(*) AS com
      FROM e t1 JOIN e t2 ON t1.c = t2.c AND t1.s < t2.s
      GROUP BY 1, 2
    )
    SELECT supp_a, supp_b, CAST(com AS BIGINT) AS common_customers,
           CAST(da.d + db.d - com AS BIGINT) AS union_customers,
           CAST(CAST(com AS DOUBLE) / (da.d + db.d - com) AS DOUBLE)
             AS jaccard
    FROM common
    JOIN deg da ON da.s = supp_a JOIN deg db ON db.s = supp_b
    ORDER BY jaccard DESC, supp_a, supp_b LIMIT 20
    """,
)
def graph_supplier_jaccard(spark, sf_dir):
    """Jaccard-normalized link prediction over the supplier<->customer
    bipartite graph: |N(a) n N(b)| / |N(a) u N(b)| — the
    degree-corrected version of graph_common_neighbors (raw common
    counts crown the biggest suppliers; Jaccard surfaces genuinely
    overlapping customer bases). Same single wedge join via the
    shared operator; the degree table joins by supplier key (tiny,
    broadcast); union size is inclusion-exclusion, no second pass
    over edges. Jaccard is one division of exact integers; top-20 by
    the (jaccard, supp_a, supp_b) total order."""
    from dmds_spark.operators.graph import common_neighbor_counts

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
        .transform(materialize)  # consumers: wedge join + degrees
    )
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    com = common_neighbor_counts(e, "c", "s").select(
        F.col("a").alias("supp_a"),
        F.col("b").alias("supp_b"),
        F.col("common").alias("com"),
    )
    da = deg.select(F.col("s").alias("supp_a"), F.col("d").alias("da"))
    db = deg.select(F.col("s").alias("supp_b"), F.col("d").alias("db"))
    uni = F.col("da") + F.col("db") - F.col("com")
    return (
        com.join(F.broadcast(da), "supp_a")
        .join(F.broadcast(db), "supp_b")
        .select(
            "supp_a", "supp_b",
            F.col("com").cast("bigint").alias("common_customers"),
            uni.cast("bigint").alias("union_customers"),
            (F.col("com").cast("double") / uni).cast("double")
            .alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "supp_a", "supp_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# weekday-hour load heatmap
# ---------------------------------------------------------------------------


@register(
    "events_weekday_hour_heatmap",
    """
    SELECT dayofweek(ts) AS dow, CAST(hour(ts) AS BIGINT) AS hr,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def events_weekday_hour_heatmap(spark, sf_dir):
    """Traffic heatmap by weekday x hour (event and distinct-user
    counts) — the capacity-planning and anomaly-baseline view.
    Weekday numbering is aligned EXPLICITLY: DuckDB's dayofweek is
    0=Sunday..6, Spark's is 1=Sunday..7, so the Spark side emits
    dayofweek(ts) - 1 — calendar-function numbering is a classic
    cross-engine silent mismatch (it would hash-fail here, which is
    the point of pinning it). One aggregate; distinct users via the
    exact count (the HLL variant is the rollup operator's job)."""
    ev = load_events(spark, sf_dir)
    return ev.groupBy(
        (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hr"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# rows-only: byte-histogram featurizer + World maintenance surface
# ---------------------------------------------------------------------------


@register(
    "multimodal_byte_histogram",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             LEAST((16 + n_chars % 48) * (16 + (n_chars // 7) % 48) * 3,
                   4096) AS plen
      FROM documents
    ), b AS (
      SELECT media_id, plen,
             ((media_id * 31 + j * 7) % 256) // 16 AS bin
      FROM m, UNNEST(range(plen)) AS t(j)
    ), c AS (
      SELECT media_id, ANY_VALUE(plen) AS plen, bin,
             COUNT(*) AS ct
      FROM b GROUP BY media_id, bin
    ), grid AS (
      SELECT media_id, ANY_VALUE(plen) AS plen, UNNEST(range(16)) AS bin
      FROM m GROUP BY media_id
    )
    SELECT g.media_id, CAST(g.bin AS BIGINT) AS bin,
           CAST(CAST(COALESCE(c.ct, 0) AS DOUBLE) / g.plen AS DOUBLE)
             AS share
    FROM grid g LEFT JOIN c ON g.media_id = c.media_id AND g.bin = c.bin
    """,
)
def multimodal_byte_histogram(spark, sf_dir):
    """The media featurizer registered: L1-normalized 16-bin byte
    histogram per media payload (operators/multimodal.py
    extract_byte_histograms — REAL math on the real bytes over Arrow,
    the embedding-model stand-in), emitted LONG-format (media_id, bin,
    share) per the scalar-columns driver contract.

    Oracle-checked (moved from rows-only in round 11): the synthetic
    payload byte j of media d is (d*31 + j*7) % 256 by construction
    (operators/multimodal.py media_table_from_documents), so DuckDB
    can state the SAME histogram as pure arithmetic over
    UNNEST(range(plen)) without parsing any binary — the hash-compare
    then certifies the whole binary round trip (payload synthesis ->
    BinaryType column -> Arrow batch -> numpy bincount -> exact
    count/total division) byte for byte."""
    from dmds_spark.operators.multimodal import (
        extract_byte_histograms,
        media_table_from_documents,
    )

    media = media_table_from_documents(load_table(spark, sf_dir, "documents"))
    h = extract_byte_histograms(media, bins=16)
    return h.select(
        "media_id", F.posexplode("histogram").alias("bin", "share")
    ).select(
        "media_id",
        F.col("bin").cast("bigint").alias("bin"),
        F.col("share").cast("double").alias("share"),
    )


@register("dmds_world_maintenance", None)
def dmds_world_maintenance(spark, sf_dir):
    """The World maintenance surface exercised end to end as a driver
    row: build a world from an orders slice, flush, flush a second
    upsert wave, rewrite every partition in Z-order and then in id
    order (``max_files_per_partition=0``: the flushes already write
    one file per partition, so the default threshold would find
    nothing to rewrite), and return stats() — per-partition
    row/file/byte accounting. The
    row count equals the live physical partitions and every partition
    must report n_files=1 after compaction (asserted in the plan via
    the n_files column; the engine test suite pins the same invariant
    — this query makes the maintenance path driver-visible like
    dmds_crud_snapshot does for CRUD). Rows-only: stats() reflects
    physical layout, which no SQL oracle models."""
    import os
    from dmds_spark.core.dims import DimSpec, WorldSpec
    from dmds_spark.core.scratch import scratch_dir
    from dmds_spark.world import World

    root = scratch_dir("world_maint", sf_dir)
    spec = WorldSpec(
        dims=(DimSpec("id", 0, 8191, 64), DimSpec("grp", 0, 63, 8))
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        (F.col("o_orderkey") % 8192).alias("id"),
        (F.col("o_custkey") % 64).alias("grp"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long").alias("cents"),
    ).dropDuplicates(["id"])
    with World(spark, spec, f"{root}/w", validate="off") as w:
        w.upsert(o.filter(F.col("id") % 2 == 0))
        w.flush()
        w.upsert(o.filter(F.col("id") % 2 == 1))
        w.flush()
        w.compact(max_files_per_partition=0, order="zorder")
        w.compact(max_files_per_partition=0, order="id")
        return w.stats().select(
            "c0", "c1", "n_rows", "n_files", "min_id", "max_id"
        )


# ---------------------------------------------------------------------------
# linear multi-touch attribution
# ---------------------------------------------------------------------------

_ATTR_US = 7 * 24 * 3600 * 1_000_000


@register(
    "events_attribution_linear",
    f"""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS pts
      FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT event_id AS touch_id, user_id, ts AS tts,
             event_type AS touch_type
      FROM events WHERE event_type IN ('click', 'view')
    ), j AS (
      SELECT purchase_id, touch_id, touch_type
      FROM p JOIN t ON p.user_id = t.user_id
      WHERE t.tts <= p.pts
        AND epoch_us(pts) - epoch_us(tts) <= {_ATTR_US}
    ), n AS (
      SELECT purchase_id, COUNT(*) AS nt FROM j GROUP BY 1
    )
    SELECT touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(COUNT(DISTINCT j.purchase_id) AS BIGINT) AS n_purchases,
           CAST(SUM(1000000 // nt) AS BIGINT) AS credit_ppm
    FROM j JOIN n ON n.purchase_id = j.purchase_id
    GROUP BY touch_type
    """,
)
def events_attribution_linear(spark, sf_dir):
    """LINEAR multi-touch attribution: every click/view in a
    purchase's 7-day lookback shares the credit equally (1/n_touches
    each) — the complement of events_attribution_last_touch, which
    crowns only the final touch (comparing the two IS the attribution
    analysis). Per-purchase shares are integer parts-per-million via
    integer division (1000000 div n — deterministic on both engines,
    unlike float 1/n sums whose totals depend on addition order), so
    per-type credit sums are exact integers.

    Same join shape as last-touch (user-keyed equi-join, time
    predicates post-join, co-partitioned on user at scale); the
    per-purchase touch count is one extra purchase-keyed aggregate
    instead of a rank window."""
    ev = load_events(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("pts"),
    )
    t = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("touch_id"), "user_id",
        F.col("ts").alias("tts"), F.col("event_type").alias("touch_type"),
    )
    gap = F.unix_micros(F.col("pts")) - F.unix_micros(F.col("tts"))
    j = (
        p.join(t, "user_id")
        .filter((F.col("tts") <= F.col("pts")) & (gap <= _ATTR_US))
        .select("purchase_id", "touch_id", "touch_type")
    )
    n = j.groupBy("purchase_id").agg(F.count(F.lit(1)).alias("nt"))
    return (
        j.join(n, "purchase_id")
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_credits"),
            F.countDistinct("purchase_id").cast("bigint")
            .alias("n_purchases"),
            F.sum(F.expr("1000000 div nt")).cast("bigint")
            .alias("credit_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# near-dup detector agreement matrix (MinHash vs SimHash)
# ---------------------------------------------------------------------------


def _method_agreement_sql() -> str:
    from dmds_spark.queries.llm_dedup import (
        CAND_CTE,
        EST_SQL,
        HAMMING_SQL,
        SIMHASH_BAND_SQL,
        SIMHASH_MAX_HAMMING,
        SIMHASH_SQL,
    )

    return (
        CAND_CTE
        + f""", mh AS (
      SELECT id_a, id_b FROM cand WHERE {EST_SQL} >= 0.5
    ), tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), shh AS (SELECT doc_id, {SIMHASH_SQL} AS simhash FROM tok),
    blocked AS (
      SELECT doc_id, simhash, UNNEST([{SIMHASH_BAND_SQL}]) AS block
      FROM shh
    ), sp AS (
      SELECT id_a, id_b FROM (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.simhash AS sh_a, b.simhash AS sh_b
        FROM blocked a
        JOIN blocked b ON a.block = b.block AND a.doc_id < b.doc_id
      ) WHERE ({HAMMING_SQL}) <= {SIMHASH_MAX_HAMMING}
    ), u AS (
      SELECT COALESCE(mh.id_a, sp.id_a) AS id_a,
             COALESCE(mh.id_b, sp.id_b) AS id_b,
             CASE WHEN mh.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_mh,
             CASE WHEN sp.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_sp
      FROM mh FULL OUTER JOIN sp
        ON mh.id_a = sp.id_a AND mh.id_b = sp.id_b
    )
    SELECT CAST(SUM(in_mh) AS BIGINT) AS n_minhash,
           CAST(SUM(in_sp) AS BIGINT) AS n_simhash,
           CAST(SUM(in_mh * in_sp) AS BIGINT) AS n_both,
           CAST(COUNT(*) AS BIGINT) AS n_union,
           CAST(CAST(SUM(in_mh * in_sp) AS DOUBLE) / COUNT(*) AS DOUBLE)
             AS agreement_jaccard
    FROM u
    """
    )


@register("dedup_method_agreement", _method_agreement_sql())
def dedup_method_agreement(spark, sf_dir):
    """Detector-agreement matrix: how much of the near-dup pair space
    MinHash-LSH (Jaccard >= 0.5) and SimHash (hamming <= 3) actually
    share — the calibration view that decides whether running both
    detectors buys recall or just duplicates work (the two embody
    different similarity notions: set-resemblance vs weighted-token
    angle, so their disagreement is signal, not noise). Reuses the
    exact pipelines of dedup_minhash_pairs and dedup_simhash_pairs
    (both hash-green since round 2) on BOTH engines; one full-outer
    join of the two id-pair sets, then a scalar fold.

    Shape at scale: both pair pipelines are band-blocked equi-joins
    (never all-pairs); the agreement join keys on (id_a, id_b) pairs
    — output-sized, tiny next to the corpus."""
    from dmds_spark.operators.dedup import dedup_minhash, simhash_pairs
    from dmds_spark.queries.llm_dedup import (
        BANDS,
        NUM_HASHES,
        SIMHASH_BANDS,
        SIMHASH_BITS,
        SIMHASH_MAX_HAMMING,
    )

    d = load_table(spark, sf_dir, "documents")
    mh = dedup_minhash(d, "text", "doc_id", NUM_HASHES, BANDS, 0.5).select(
        "id_a", "id_b", F.lit(1).alias("in_mh")
    )
    sp = simhash_pairs(
        d, "text", "doc_id", num_bits=SIMHASH_BITS,
        max_hamming=SIMHASH_MAX_HAMMING, bands=SIMHASH_BANDS,
    ).select("id_a", "id_b", F.lit(1).alias("in_sp"))
    u = mh.join(sp, ["id_a", "id_b"], "full_outer").select(
        F.coalesce("in_mh", F.lit(0)).alias("in_mh"),
        F.coalesce("in_sp", F.lit(0)).alias("in_sp"),
    )
    return u.agg(
        F.sum("in_mh").cast("bigint").alias("n_minhash"),
        F.sum("in_sp").cast("bigint").alias("n_simhash"),
        F.sum(F.col("in_mh") * F.col("in_sp")).cast("bigint").alias("n_both"),
        F.count(F.lit(1)).cast("bigint").alias("n_union"),
        (
            F.sum(F.col("in_mh") * F.col("in_sp")).cast("double")
            / F.count(F.lit(1))
        ).cast("double").alias("agreement_jaccard"),
    )


# ---------------------------------------------------------------------------
# k-hop BFS reachability over the purchase bipartite graph
# ---------------------------------------------------------------------------


@register(
    "graph_khop_reachability",
    """
    WITH e AS (
      SELECT DISTINCT l_suppkey AS s, o_custkey AS c
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), seed AS (SELECT MIN(s) AS s0 FROM e),
    h1 AS (
      SELECT DISTINCT e.c FROM e, seed WHERE e.s = seed.s0
    ), h2 AS (
      SELECT DISTINCT e.s FROM e JOIN h1 ON e.c = h1.c, seed
      WHERE e.s <> seed.s0
    ), h3 AS (
      SELECT DISTINCT e.c FROM e JOIN h2 ON e.s = h2.s
      WHERE e.c NOT IN (SELECT c FROM h1)
    )
    SELECT 1 AS hop, CAST((SELECT COUNT(*) FROM h1) AS BIGINT) AS frontier
    UNION ALL
    SELECT 2, CAST((SELECT COUNT(*) FROM h2) AS BIGINT)
    UNION ALL
    SELECT 3, CAST((SELECT COUNT(*) FROM h3) AS BIGINT)
    """,
)
def graph_khop_reachability(spark, sf_dir):
    """Bounded-hop BFS over the supplier<->customer bipartite graph:
    frontier sizes at hops 1-3 from the smallest supplier key — the
    neighborhood-growth curve behind influence/blast-radius questions
    ("how much of the graph is within k relationships of this
    node?"). A FIXED hop bound unrolls into k equi-joins on the
    deduplicated edge table — no recursion needed on either engine,
    and each hop's frontier is the only state carried (anti-joined
    against the previous frontier, so re-reached nodes don't
    double-count). At 100 TB each hop is one shuffle keyed on the
    frontier side; unbounded reachability belongs to the iterative
    min-label CC operator (dedup_cluster_assign), not this query."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
        .transform(materialize)  # three hop joins + the seed agg
    )
    seed = e.agg(F.min("s").alias("s0"))
    h1 = (
        e.join(F.broadcast(seed), e.s == F.col("s0"))
        .select("c").distinct()
    )
    h2 = (
        e.join(h1, "c")
        .crossJoin(F.broadcast(seed))
        .filter(F.col("s") != F.col("s0"))
        .select("s").distinct()
    )
    h3 = (
        e.join(h2, "s")
        .join(h1, "c", "left_anti")
        .select("c").distinct()
    )
    out = None
    for hop, frontier in ((1, h1), (2, h2), (3, h3)):
        row = frontier.agg(
            F.lit(hop).alias("hop"),
            F.count(F.lit(1)).cast("bigint").alias("frontier"),
        )
        out = row if out is None else out.unionByName(row)
    return out
