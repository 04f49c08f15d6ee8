"""Round-2 additions to the LLM-data-pipeline surface (SURVEY.md §2b):
per-domain capping, integer-exact TF-IDF term ranking, boilerplate
n-gram detection, and batch k-NN join. All oracle-checked; all scoring
that feeds an ORDER BY is integer/decimal-exact so the hash compare
cannot drift on libm differences between engines.

Registered last on purpose: the driver checks the first 50 registered
queries, and round 2's window is reserved for the round-1-unchecked
set (queries/__init__.py ordering) — these queue for round 3.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.operators.similarity import centroids_long, cosine
from dmds_spark.queries import register
from dmds_spark.queries.relational import T  # noqa: F401 (sf table loader)
from dmds_spark.sources.registry import load_events, load_table

_BUCKET_SQL = (
    "(('0x' || substr(md5(CAST({k} AS VARCHAR)), 1, 15))::BIGINT % 10000)"
)


CAP_PER_SOURCE = 10


@register(
    "sample_cap_per_source",
    f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {_BUCKET_SQL.format(k='doc_id')}, doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= {CAP_PER_SOURCE}
    """,
)
def sample_cap_per_source(spark, sf_dir):
    """Domain capping — "at most K documents per source" — the standard
    counter to a few domains dominating a crawl corpus. Selection is
    deterministic (rank by content-hash bucket, doc_id tie-break), so
    re-runs and engine changes keep the identical subset.

    Scale shape: the TWO-LEVEL cap (operators/sampling.
    capped_per_group): rank within (source, hash-slice) keeps each
    slice's top-K — a provable superset of the true per-source top-K —
    then the survivor rank within source sees <= slices*K rows per
    source regardless of domain size. The single-window form puts a
    hot domain's entire crawl through one task; identical output,
    bounded window input (pinned in test_plans.py)."""
    from dmds_spark.operators.sampling import capped_per_group, hash_bucket

    d = load_table(spark, sf_dir, "documents")
    capped = capped_per_group(
        d.select("doc_id", "source"),
        "source",
        [hash_bucket(F.col("doc_id")).asc(), F.col("doc_id").asc()],
        CAP_PER_SOURCE,
        slice_col=F.col("doc_id"),
    )
    return capped.select("doc_id", "source")


TFIDF_TOPK = 3


@register(
    "text_tfidf_topk",
    f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             (tf.tf * n.n_docs * 1000000) // df.df AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           CAST(score AS BIGINT) AS score, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term
      ) AS rnk FROM scored
    ) WHERE rnk <= {TFIDF_TOPK}
    """,
)
def text_tfidf_topk(spark, sf_dir):
    """Top-k characteristic terms per document by TF-IDF — the
    keyword-extraction stage of corpus analysis. The score is the
    integer floor of tf * N_docs * 1e6 / df: rational TF-IDF scaled to
    integers, so ranking is bit-exact in both engines (a float idf =
    ln(N/df) would hash-drift on libm rounding).

    Shape at scale: one shuffle for per-doc term counts, one for
    document frequencies (map-side partial on both), a broadcast of the
    single-row corpus count, then a per-doc window. The df table is
    vocabulary-sized — AQE picks broadcast vs shuffle for the score
    join."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    num = F.col("tf") * F.col("n_docs") * F.lit(1_000_000)
    # integer floor division (exact past 2^53, same trick as
    # ntile_from_rn): subtract pmod, then decimal division is lossless
    score = (
        ((num - F.pmod(num, F.col("df"))).cast("decimal(38,0)") / F.col("df"))
        .cast("bigint")
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score", score)
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOPK)
        .select(
            "doc_id", "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.col("score").cast("bigint").alias("score"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


BOILER_K = 3  # shingle width
BOILER_MIN_DOCS = 5
BOILER_LIMIT = 20


@register(
    "text_boilerplate_ngrams",
    f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(
               list_slice(string_split(text, ' '), i, i + {BOILER_K - 1}), ' ')
               for i in range(1, greatest(len(string_split(text, ' '))
                                          - {BOILER_K - 2}, 1))]) AS s
      FROM documents
    ), r AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh)
    SELECT shingle, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM r GROUP BY shingle
    HAVING COUNT(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
    ORDER BY n_docs DESC, shingle
    LIMIT {BOILER_LIMIT}
    """,
)
def text_boilerplate_ngrams(spark, sf_dir):
    """Boilerplate detection (the C4 'repeated lines' trick at n-gram
    granularity): word {BOILER_K}-grams occurring in >= K distinct
    documents are navigation chrome / license headers / templates, and
    feed a removal or down-weighting pass. Distinct-per-doc shingles
    come from the same window-lead pipeline as MinHash (one shuffle);
    the doc-frequency aggregate is map-side partial; top-N is
    TakeOrderedAndProject, never a global sort."""
    from dmds_spark.operators.dedup import minhash_shingle_rows

    d = load_table(spark, sf_dir, "documents")
    sh = minhash_shingle_rows(d, "text", "doc_id", k=BOILER_K)
    return (
        sh.groupBy(F.col("__s").alias("shingle"))
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= BOILER_MIN_DOCS)
        .orderBy(F.col("n_docs").desc(), F.col("shingle"))
        .limit(BOILER_LIMIT)
        .select("shingle", F.col("n_docs").cast("bigint").alias("n_docs"))
    )


@register(
    "stream_dedup_events",
    """
    SELECT event_id, user_id, event_type,
           epoch_us(time_bucket(INTERVAL '10 minutes', ts)) AS ws_us
    FROM (
      SELECT event_id, user_id, event_type, ts,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type,
                            time_bucket(INTERVAL '10 minutes', ts)
               ORDER BY ts, event_id
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_dedup_events(spark, sf_dir):
    """Batch-equivalence target for streaming dedup
    (streaming/windows.py streaming_dedup / dropDuplicates after a
    watermark): keep the FIRST event per (user, type, 10-minute
    window), earliest (ts, event_id) wins. In streaming the watermark
    bounds the dedup state to one window's keys; here the same
    semantics is one window pass over the batch table."""
    ev = load_events(spark, sf_dir)
    w = W.partitionBy(
        "user_id", "event_type", F.window("ts", "10 minutes").start
    ).orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id", "user_id", "event_type",
            F.unix_micros(F.window("ts", "10 minutes").start).alias("ws_us"),
        )
    )


@register(
    "embedding_centroids",
    """
    WITH r AS (
      SELECT label,
             UNNEST([{'pos': i - 1, 'x': embedding[i]}
                     for i in range(1, len(embedding) + 1)]) AS u
      FROM embeddings
    )
    SELECT label, CAST(u.pos AS INT) AS pos,
           ROUND(CAST(SUM(CAST(CAST(u.x AS DOUBLE) AS DECIMAL(28,12)))
                      AS DOUBLE) / COUNT(*), 6) AS m
    FROM r GROUP BY label, u.pos
    """,
)
def embedding_centroids(spark, sf_dir):
    """Per-label centroid (class prototype / k-means M-step) with
    order-independent exactness: elements are summed in DECIMAL, then
    one deterministic double division per (label, pos) — a float sum
    would hash-drift with aggregation order, across engines AND across
    partitionings of the same engine. One posexplode + one shuffle.
    Long format (label, pos, m) — one row per vector component — so
    every output column is scalar (the driver canonicalizer cannot
    hash array cells; queries/__init__.py). The array-assembling
    ``centroids`` operator stays for engine use (k-means M-step)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return centroids_long(emb, "label", "embedding")


_KM_K = 8
_KM_SCALE = 1_000_000   # floor(x * 1e6): exact i64 grid
_KM_OFF = 4_194_304     # +2^22 shifts every grid value positive, so
#                         integer mean floor-division needs no negative
#                         floor/truncate reconciliation between engines
#                         (Spark `div` truncates toward zero, DuckDB
#                         `//` floors); distances are shift-invariant


# the full grid-exact 2-round k-means assignment SQL — shared verbatim
# by embedding_kmeans_assign and (as a nested-WITH CTE) by
# dedup_semdedup_prune's oracle (queries/llm_extra9.py), so the two
# queries cannot drift apart
KM_ASSIGN_SQL = f"""
    WITH q AS (
      SELECT vec_id,
             [CAST(floor(CAST(x AS DOUBLE) * {_KM_SCALE}.0) AS BIGINT)
              + {_KM_OFF} for x in embedding] AS qv
      FROM embeddings
    ), sd AS (
      SELECT vec_id, qv,
             ROW_NUMBER() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
             ) - 1 AS cid
      FROM q
    ), cent1 AS (
      SELECT cid, qv AS qc FROM sd WHERE cid < {_KM_K}
    ), d1 AS (
      SELECT q.vec_id, c.cid,
             list_sum([(q.qv[i] - c.qc[i]) * (q.qv[i] - c.qc[i])
                       for i in range(1, len(q.qv) + 1)]) AS dist
      FROM q CROSS JOIN cent1 c
    ), a1 AS (
      SELECT vec_id,
             min_by(cid, lpad(CAST(dist AS VARCHAR), 20, '0')
                         || lpad(CAST(cid AS VARCHAR), 4, '0')) AS cid
      FROM d1 GROUP BY vec_id
    ), jx AS (
      SELECT a.cid, q.qv FROM a1 a JOIN q ON a.vec_id = q.vec_id
    ), ex AS (
      SELECT cid, UNNEST([{{'dim': i, 'qx': qv[i]}}
                          for i in range(1, len(qv) + 1)]) AS u
      FROM jx
    ), m AS (
      SELECT cid, u.dim AS dim,
             CAST(SUM(u.qx) AS BIGINT) // COUNT(*) AS c2
      FROM ex GROUP BY cid, u.dim
    ), cent2 AS (
      SELECT cid, list(c2 ORDER BY dim) AS qc FROM m GROUP BY cid
    ), d2 AS (
      SELECT q.vec_id, c.cid,
             list_sum([(q.qv[i] - c.qc[i]) * (q.qv[i] - c.qc[i])
                       for i in range(1, len(q.qv) + 1)]) AS dist
      FROM q CROSS JOIN cent2 c
    )
    SELECT vec_id,
           CAST(min_by(cid, lpad(CAST(dist AS VARCHAR), 20, '0')
                       || lpad(CAST(cid AS VARCHAR), 4, '0')) AS BIGINT)
             AS cluster
    FROM d2 GROUP BY vec_id
    """


@register("embedding_kmeans_assign", KM_ASSIGN_SQL)
def embedding_kmeans_assign(spark, sf_dir):
    """Deterministic distributed k-means assignment, EXACT end to end
    (moved from rows-only to oracle-checked in round 11): quantize
    every coordinate to the floor(x*1e6)+2^22 integer grid, seed the 8
    initial centers from the smallest md5(vec_id) draws (reproducible,
    no RNG), run TWO full Lloyd rounds with integer-floor centroid
    means — every distance, mean and argmin is i64-exact, so the
    two-round unrolled DuckDB SQL reproduces the assignment bit for
    bit (the float-double variant of this query is the
    ``kmeans_assign`` operator, whose M-step means are doubles and
    whose iteration count is a parameter — pinned by engine tests;
    this registered form trades the double M-step for grid floor-means
    to make the WHOLE iterative algorithm hash-checkable).

    Shape at scale per round: assignment is embeddings x k with the k
    centers as one constant/broadcast side (no shuffle of the big
    side); the M-step is one (cluster, dim) hash aggregate. Seeding is
    a TakeOrderedAndProject top-k on md5(vec_id) — per-partition top-8
    + driver merge, NEVER a corpus-wide single-partition row_number
    window (the oracle's `sd` CTE states the same seed set as a window
    for SQL brevity; only the first K rows of it are consumed). The
    cid row_number runs over the already-limited ≤K rows. The argmin
    tie-break key is zero-padded (dist, cid) — dist <= 64 *
    (2*2^22)^2 ~ 4.5e15 < 10^20, so the 20-char pad never truncates."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(floor("
            f"CAST(x AS DOUBLE) * {_KM_SCALE}.0) AS BIGINT) + {_KM_OFF})"
        ).alias("qv"),
    )
    seeds = (
        q.select(
            "vec_id",
            "qv",
            F.md5(F.col("vec_id").cast("string")).alias("__mk"),
        )
        .orderBy("__mk", "vec_id")
        .limit(_KM_K)
    )
    cent1 = seeds.select(
        (F.row_number().over(W.orderBy("__mk", "vec_id")) - 1).alias("cid"),
        F.col("qv").alias("qc"),
    )
    sqdist = F.expr(
        "aggregate(zip_with(qv, qc, (a, b) -> (a - b) * (a - b)),"
        " 0L, (acc, v) -> acc + v)"
    )

    def key():
        return F.concat(
            F.lpad(F.col("dist").cast("string"), 20, "0"),
            F.lpad(F.col("cid").cast("string"), 4, "0"),
        )

    d1 = q.crossJoin(F.broadcast(cent1)).select(
        "vec_id", "cid", sqdist.alias("dist")
    )
    a1 = d1.groupBy("vec_id").agg(F.min_by("cid", key()).alias("cid"))
    jx = a1.join(q, "vec_id").select("cid", "qv")
    m = (
        jx.select("cid", F.posexplode("qv").alias("dim", "qx"))
        .groupBy("cid", "dim")
        # every qv component is positive (the +2^22 shift), so Spark's
        # truncating `div` and DuckDB's flooring `//` agree
        .agg(F.expr("sum(qx) div count(1)").alias("c2"))
    )
    cent2 = (
        m.groupBy("cid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "c2"))
            ).alias("__p")
        )
        .select(
            "cid",
            F.transform(F.col("__p"), lambda p: p["c2"]).alias("qc"),
        )
    )
    d2 = q.crossJoin(F.broadcast(cent2)).select(
        "vec_id", "cid", sqdist.alias("dist")
    )
    return d2.groupBy("vec_id").agg(
        F.min_by("cid", key()).cast("bigint").alias("cluster")
    )


# --- relational coverage completions (registered here, in the module
# imported last, for the same driver-window reason as everything else
# in this file) ------------------------------------------------------


@register(
    "setop_except_all",
    """
    SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_shipdate < DATE '1998-01-01'
    EXCEPT ALL
    SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_shipdate < DATE '1996-06-01'
    """,
)
def setop_except_all(spark, sf_dir):
    """Bag (multiset) difference — EXCEPT ALL keeps multiplicity
    (count_in_A - count_in_B per row value), unlike EXCEPT's set
    semantics. Executes as one hash aggregation per side + counted
    anti-merge; same single-shuffle shape as union_distinct."""
    li = T(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_shipdate") < "1998-01-01").select(
        "l_returnflag", "l_linestatus"
    )
    b = li.filter(F.col("l_shipdate") < "1996-06-01").select(
        "l_returnflag", "l_linestatus"
    )
    return a.exceptAll(b)


@register(
    "setop_intersect_all",
    """
    SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_shipdate < DATE '1998-01-01'
    INTERSECT ALL
    SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity > 25
    """,
)
def setop_intersect_all(spark, sf_dir):
    """Bag intersection — min(count_in_A, count_in_B) per row value."""
    li = T(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_shipdate") < "1998-01-01").select(
        "l_returnflag", "l_linestatus"
    )
    b = li.filter(F.col("l_quantity") > 25).select(
        "l_returnflag", "l_linestatus"
    )
    return a.intersectAll(b)


@register(
    "join_null_safe",
    """
    WITH a AS (
      SELECT o_orderkey, NULLIF(o_custkey % 7, 0) AS k FROM orders
      WHERE o_orderkey < 2000
    ), b AS (
      SELECT NULLIF(c_custkey % 7, 0) AS k,
             CAST(COUNT(*) AS BIGINT) AS n_cust
      FROM customer GROUP BY 1
    )
    SELECT a.o_orderkey, a.k, b.n_cust
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_null_safe(spark, sf_dir):
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the semantics dimension
    every engine must get right around outer-join null columns.
    Still a hash-partitionable equi-join (null-safe equality is a
    valid shuffle key: all NULLs hash together)."""
    orders = T(spark, sf_dir, "orders")
    customer = T(spark, sf_dir, "customer")
    a = orders.filter(F.col("o_orderkey") < 2000).select(
        "o_orderkey", F.nullif(F.col("o_custkey") % 7, F.lit(0)).alias("k")
    )
    b = customer.groupBy(
        F.nullif(F.col("c_custkey") % 7, F.lit(0)).alias("k")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_cust"))
    return a.alias("a").join(
        b.alias("b"), F.col("a.k").eqNullSafe(F.col("b.k"))
    ).select("a.o_orderkey", "a.k", "b.n_cust")


KNN_QUERIES = 4
KNN_K = 3


@register(
    "similarity_knn_batch",
    f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id < {KNN_QUERIES}
    ), scored AS (
      SELECT q.qid, e.vec_id,
             list_cosine_similarity(e.embedding, q.qv) AS sim_exact
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid
    )
    SELECT qid, vec_id,
           CAST(ROUND(CAST(sim_exact AS DECIMAL(18,9)), 4) AS DOUBLE) AS sim
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY qid ORDER BY sim_exact DESC, vec_id
      ) AS rn FROM scored
    ) WHERE rn <= {KNN_K}
    """,
)
def similarity_knn_batch(spark, sf_dir):
    """Batch k-NN join: top-k neighbors for EVERY query vector in a
    query set, in one plan — the shape of embedding-based retrieval
    evaluation. The query set broadcasts (it is small by definition);
    per-query top-k is a window over qid, so candidate scoring stays
    fully distributed. The exact-scan baseline for the LSH/IVF paths,
    batched; swap the crossJoin for lsh_blocked_pairs at corpus
    scale."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < KNN_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("sim_exact", cosine(F.col("embedding"), F.col("qv")))
    )
    w = W.partitionBy("qid").orderBy(F.col("sim_exact").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_K)
        .select(
            "qid", "vec_id",
            F.round(F.col("sim_exact").cast("decimal(18,9)"), 4)
            .cast("double")
            .alias("sim"),
        )
    )
