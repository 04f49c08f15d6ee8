"""Round-14 queries, batch four: the MAINTAINED inverted index
(operators/incremental_postings.py) proven end to end — the retrieval
twin of the incremental IVF/IVFADC store. The per-query index builds
(text_inverted_postings, text_bm25_topk) prototype the math; these
queries prove the production shape: O(new) posting increments behind
atomic pointer flips, and ranked retrieval SERVED from the store."""

from __future__ import annotations

from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.queries.round9b import BM25_TOPK, _bm25_sql
from dmds_spark.sources.registry import load_table


def _built_store(spark, sf_dir):
    """Two increments + a replayed refresh through the maintained
    path — the shared acceptance build for both queries below."""
    from dmds_spark.core.scratch import scratch_dir
    from dmds_spark.operators.incremental_postings import (
        IncrementalPostingsIndex,
    )

    root = scratch_dir("inc_postings", sf_dir)
    src = f"{root}/src"
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = IncrementalPostingsIndex(
        spark, src, f"{root}/store", "doc_id", "text"
    )
    d.filter(F.col("doc_id") % 2 == 0).write.parquet(src)
    idx.refresh()
    d.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(src)
    idx.refresh()
    idx.refresh()  # replay: no new files, committed state unchanged
    return idx


@register(
    "rollup_incremental_postings",
    """
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
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
def rollup_incremental_postings(spark, sf_dir):
    """Persisted incrementally-maintained inverted index proven
    against the oracle: ingest the even-id half of the corpus (one
    tokenize scan -> term-bucket-partitioned posting increment +
    doc-length increment + pointer flip), append the odd half, replay
    the refresh — then emit the per-term directory (df, cf, doc-ordered
    posting checksum) from the accumulated store. The oracle states
    the FULL single-pass index declaratively (the text_inverted_postings
    report), so the driver's hash-compare certifies increment-union ==
    full rebuild for the posting table itself
    (operators/incremental_postings.py; the IVF-store acceptance shape
    applied to retrieval).

    Shape at scale: each increment tokenizes ONLY its new documents
    (one scan, one map-side-combined aggregate per grain, a
    partitioned write); the directory rollup is one hash aggregate
    whose per-term collect is bounded by df."""
    return _built_store(spark, sf_dir).term_directory()


@register("retrieval_bm25_incremental", _bm25_sql())
def retrieval_bm25_incremental(spark, sf_dir):
    """Ranked retrieval SERVED from the maintained posting store:
    rational BM25 top-20 for the fixed query terms, where tf/df come
    from the store's posting increments (term-bucket partition filter
    + term pushdown — the scan reads the matched posting lists, never
    the corpus) and N/avg-dl from the doc-grain length store. The
    oracle is the same declarative BM25 the per-query build
    (text_bm25_topk) hash-matches, so store-served ranking ==
    from-scratch ranking, bit for bit — including the DECIMAL(38,0)
    fixed-point scores shipped as digit strings.

    Shape at scale: the whole query touches <= |terms| posting
    buckets per increment plus one doc-grain aggregate; scoring is
    broadcast-joined constants; top-k is TakeOrdered with the rank
    window over the k survivors."""
    from dmds_spark.queries.round9b import BM25_TERMS

    return _built_store(spark, sf_dir).search_bm25(BM25_TERMS, BM25_TOPK)


@register(
    "retrieval_phrase_incremental",
    """
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS term,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    a AS (SELECT doc_id, pos FROM tok WHERE term = 'hash'),
    b AS (SELECT doc_id, pos FROM tok WHERE term = 'join')
    SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_hits,
           CAST(min(a.pos) AS BIGINT) AS first_pos,
           CAST(max(a.pos) AS BIGINT) AS last_pos
    FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    GROUP BY a.doc_id
    """,
)
def retrieval_phrase_incremental(spark, sf_dir):
    """Exact phrase retrieval SERVED from the maintained POSITIONAL
    grain: the store ingests two increments of the corpus with
    positions=True (one posexplode scan per batch — 1-based positions,
    the DuckDB generate_subscripts convention), then answers the
    "hash join" phrase by chain-joining the two terms' stored posting
    lists on (doc, adjacent position). The oracle is the declarative
    positional build text_phrase_retrieval hash-matches, so
    store-served phrase hits == from-scratch hits — completing the
    maintained retrieval stack (boolean df/tf + ranked BM25 + phrase).

    Shape at scale: the positional grain is token-sized — the price
    of phrase queries, paid O(new) per increment; the query scan
    carries the term-bucket partition filter + term pushdown, so it
    reads two posting lists per increment, never the corpus."""
    from dmds_spark.core.scratch import scratch_dir
    from dmds_spark.operators.incremental_postings import (
        IncrementalPostingsIndex,
    )

    root = scratch_dir("inc_phrase", sf_dir)
    src = f"{root}/src"
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = IncrementalPostingsIndex(
        spark, src, f"{root}/store", "doc_id", "text", positions=True
    )
    d.filter(F.col("doc_id") % 2 == 0).write.parquet(src)
    idx.refresh()
    d.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(src)
    idx.refresh()
    return idx.search_phrase(("hash", "join"))
