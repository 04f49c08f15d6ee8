"""Round-6 queries, batch one: incremental corpus-vs-history dedup —
the production shape a growing pretraining corpus actually needs
(dedup the day's crawl against everything already ingested without
re-signaturing the corpus), proven equal to the full recompute by the
driver's oracle hash-compare.

Registered LAST in queries/__init__._load so these queue behind the
round-5 never-checked set at the front of the driver's 50-query
window.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.queries.llm_dedup import (
    BANDS,
    CAND_CTE,
    EST_SQL,
    K_SHINGLE,
    NUM_HASHES,
)
from dmds_spark.sources.registry import load_table


def _scratch(sf_dir: str, kind: str) -> str:
    """Per-invocation scratch dir under .scratch/ (gitignored), same
    discipline as dmds_crud_snapshot / rollup_incremental_orders:
    never shared between concurrent evaluations; stale siblings are
    swept (core/scratch.py)."""
    from dmds_spark.core.scratch import scratch_dir

    return scratch_dir(kind, sf_dir)


# ---------------------------------------------------------------------------
# incremental corpus-vs-history MinHash dedup, oracle-checked end to end
# ---------------------------------------------------------------------------


@register(
    "dedup_incremental_minhash",
    CAND_CTE
    + f"""
    SELECT id_a, id_b, {EST_SQL} AS jaccard_est
    FROM cand WHERE {EST_SQL} >= 0.5
    """,
)
def dedup_incremental_minhash(spark, sf_dir):
    """Incremental near-dup maintenance proven against the oracle:
    seed an append-only corpus with half of documents, ingest
    (signatures computed + banded-joined against nothing), append the
    other half as new files, ingest again (ONLY the new half is
    signatured; candidates come from one band join of the new batch
    against store+batch) — and return the accumulated pair set. The
    oracle states the FULL-corpus MinHash LSH pairs declaratively
    (identical SQL to dedup_minhash_pairs, hash-green since round 2),
    so the driver's hash-compare certifies increment-union == full
    recompute — the corpus-vs-history correctness claim, end to end.

    Shape at scale: each increment is O(new) signature work plus one
    id-only band equi-join against the signature store (appended,
    never rewritten — operators/incremental_dedup.py docstring);
    reference analogue: the dirty-chunk incremental flush,
    tokio-fs/src/lib.rs:207-235."""
    from dmds_spark.operators.incremental_dedup import IncrementalMinHashDedup

    root = _scratch(sf_dir, "inc_dedup")
    src = f"{root}/src"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(src)
    store = IncrementalMinHashDedup(
        spark, src, f"{root}/store", "text", "doc_id",
        NUM_HASHES, BANDS, K_SHINGLE, 0.5,
    )
    store.refresh()
    docs.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(src)
    store.refresh()
    return store.pairs().select("id_a", "id_b", "jaccard_est")


# ---------------------------------------------------------------------------
# engine fast-path twin of the fuzzy-fingerprint record linkage
# ---------------------------------------------------------------------------


@register("dedup_fuzzy_fingerprint_pairs_fast", None)
def dedup_fuzzy_fingerprint_pairs_fast(spark, sf_dir):
    """xxhash64 twin of dedup_fuzzy_fingerprint_pairs: the same
    blocking semantics (min-gram fingerprint) and the same verify
    stage, with the rolling fingerprint computed as a bigint min
    XXHASH64 instead of a min 32-char md5 hex string (functions/
    text.py rolling_fingerprint_fast). Rows-only — xxhash64 has no
    DuckDB equivalent; the md5 form remains the oracle-parity default.

    What the round-5 verdict hypothesized ("same candidate sets, >=3x
    faster") is MEASURABLY FALSE, and the twin exists to put that on
    record: single-fingerprint blocking is one-hash MinHash, so the
    hash choice decides WHICH true pairs get blocked together. At
    sf0.1 the xxhash64 min lands on a more common template gram (max
    bucket 1130 docs vs md5's 315), yielding 3.1x the candidates,
    866 vs 391 verified true pairs, and 17.1 s vs 9.0 s end-to-end —
    SLOWER in total because the thresholded-Levenshtein verify, not
    the hashing, dominates, and verify cost scales with recall. Per
    verified pair the twin is cheaper (19.7 ms vs 23.0 ms), and the
    fingerprint projection itself is ~10x cheaper; both variants are
    benched so the trade-off stays of record. Shared pairs carry
    identical edit distances and per-variant ground-truth recall is
    pinned in tests/test_fuzzy_fingerprint.py.

    Verify-cost floor (round-9 measurement at sf0.1): the thresholded
    DP is 13.4 s of the 17 s total over 215k candidates; the
    length-difference bound |len_a-len_b| <= 50 is already in the
    candidate filter (llm_extra5 fuzzy_pairs_blocked). Two further
    zero-recall-loss prunes were measured and REJECTED: a char-
    histogram L1/2 lower bound passes 90% of candidates (threshold 50
    on ~300-char same-corpus docs is too loose) while costing +6 s of
    26-way replace() counting, and distinct-text verify dedup saves
    nothing (4992/5000 texts distinct). The remaining cost is the
    operator's honest price at this blocking recall."""
    from dmds_spark.functions.text import rolling_fingerprint_fast
    from dmds_spark.queries.llm_extra5 import _FP_NGRAM, fuzzy_pairs_blocked

    return fuzzy_pairs_blocked(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        rolling_fingerprint_fast("text", _FP_NGRAM),
    )


# ---------------------------------------------------------------------------
# hub-capped common neighbors: the 100 TB mitigation, driver-visible
# ---------------------------------------------------------------------------


@register(
    "graph_common_neighbors_capped",
    """
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    capped AS (
      SELECT c, s FROM (
        SELECT c, s,
               row_number() OVER (
                 PARTITION BY c
                 ORDER BY md5(CAST(c AS VARCHAR) || ',' ||
                              CAST(s AS VARCHAR)), s
               ) AS rk
        FROM e)
      WHERE rk <= 32
    )
    SELECT a.s AS supp_a, b.s AS supp_b,
           CAST(COUNT(*) AS BIGINT) AS common_customers
    FROM capped a JOIN capped b ON a.c = b.c AND a.s < b.s
    GROUP BY a.s, b.s
    ORDER BY common_customers DESC, supp_a, supp_b
    LIMIT 20
    """,
)
def graph_common_neighbors_capped(spark, sf_dir):
    """graph_common_neighbors with the HUB MITIGATION ENGAGED: each
    shared customer endpoint is deterministically capped to its top-32
    edges by a portable md5 order before the wedge self-join
    (operators/graph.py cap_vertex_degree), bounding the per-vertex
    fan-out at cap^2 regardless of degree skew — the switch the exact
    query's docstring points at for 100 TB, registered here so the
    capped path has a driver row of its own. Full SQL oracle since
    round 14: the cap is a deterministic row_number <= 32 over the
    md5(c,s) hex digest, identical in both engines, so the capped
    SAMPLE itself — not just its undercount/determinism properties
    (still pinned in tests/test_graph_ops.py) — is hash-checked."""
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
    )
    return (
        common_neighbor_counts(e, "c", "s", degree_cap=32)
        .select(
            F.col("a").alias("supp_a"),
            F.col("b").alias("supp_b"),
            F.col("common").alias("common_customers"),
        )
        .orderBy(F.col("common_customers").desc(), "supp_a", "supp_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup composite
# ---------------------------------------------------------------------------


def _semdedup_oracle() -> str:
    from dmds_spark.queries.llm_extra import KM_ASSIGN_SQL

    # the whole iterative k-means rides in as ONE nested-WITH CTE —
    # byte-identical to embedding_kmeans_assign's oracle, so the two
    # queries certify the same assignment
    return f"""
    WITH asg AS ({KM_ASSIGN_SQL}
    ), doomed AS (
      SELECT b.vec_id
      FROM asg a JOIN asg b
        ON b.cluster = a.cluster AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE list_cosine_similarity(ea.embedding, eb.embedding) >= 0.35
    )
    SELECT vec_id, cluster FROM asg
    WHERE vec_id NOT IN (SELECT vec_id FROM doomed)
    """


@register("dedup_semdedup_prune", _semdedup_oracle())
def dedup_semdedup_prune(spark, sf_dir):
    """SemDeDup composite (cluster -> within-cluster cosine prune ->
    keep-first canonical) over the embeddings table (Abbas et al.
    2023, arXiv:2303.09540): deterministic k-means blocks the corpus,
    pairwise cosine runs ONLY inside a block, and every vector
    matching a lower-id cluster-mate at cosine >= 0.35 is dropped.

    Moved rows-only -> FULL oracle in round 15: the blocking stage is
    the grid-exact two-round k-means embedding_kmeans_assign already
    hash-certifies (its SQL rides into this oracle verbatim as a
    nested-WITH CTE), and the prune restates the
    dedup_embedding_neardup trick — the double cosine only ever feeds
    a THRESHOLD COMPARE (list_cosine_similarity vs the same
    dot/sqrt doubles in Spark), never an output value, and the
    nearest within-cluster pair sits 7.1e-5 (sf0.01) / 1.2e-6 (sf0.1)
    from 0.35, many orders above double-ulp disagreement. The float
    kmeans_assign-based engine path stays available as
    operators/similarity.semdedup_prune (numpy-pinned in
    tests/test_similarity_ops.py); this registered form trades its
    double M-step for the grid floor-means so the WHOLE composite is
    hash-checkable, and runs the same within-cluster prune
    (similarity.semdedup_prune_clusters).

    Shape at scale: assignment is two broadcast-k scans + one
    (cluster, dim) hash aggregate (scale account on
    embedding_kmeans_assign); the pairwise stage shuffles on the
    cluster key so each block compares co-located, sum-of-size^2
    bounded (raise k so blocks stay ~1e3-1e4 vectors, SemDeDup's
    published setting). The 0.35 threshold sits in the bulk of this
    synthetic corpus's similarity range (the generator plants no true
    semantic dups), so the prune is non-trivial (82 doomed pairs at
    sf0.01) and deterministic."""
    from dmds_spark.operators.similarity import semdedup_prune_clusters
    from dmds_spark.queries.llm_extra import embedding_kmeans_assign

    return semdedup_prune_clusters(
        load_table(spark, sf_dir, "embeddings"),
        embedding_kmeans_assign(spark, sf_dir),
        "vec_id",
        "embedding",
        0.35,
    )
