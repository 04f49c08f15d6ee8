"""Equivalence contract for the round-16 shared-shingle refactor:
signatures built from the DISTINCT shingle rows must be bit-identical
to signatures built from the raw k-gram stream (min over a doc's
distinct shingles == min over its raw stream — min is idempotent),
and the verify operators must return the same pairs whether they
shingle internally or consume a pre-built shingle_rows input."""

from pyspark.sql import functions as F

from dmds_spark.operators.dedup import (
    containment_verify_pairs,
    jaccard_verify_pairs,
    minhash_shingle_rows,
    minhash_signatures,
    minhash_signatures_from_shingles,
    shared_shingles,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )


def test_signatures_from_distinct_shingles_bit_identical(spark):
    docs = _docs(spark)
    raw = minhash_signatures(docs, "text", "doc_id", 16, 3)
    srows = minhash_shingle_rows(docs, "text", "doc_id", 3)
    shared = minhash_signatures_from_shingles(srows, "doc_id", 16)
    a = sorted((r.doc_id, tuple(r.signature)) for r in raw.collect())
    b = sorted((r.doc_id, tuple(r.signature)) for r in shared.collect())
    assert a == b


def test_verify_pairs_same_with_external_shingles(spark):
    docs = _docs(spark)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], ["id_a", "id_b"]
    )
    srows = minhash_shingle_rows(docs, "text", "doc_id", 3).persist()
    for fn, kw in (
        (jaccard_verify_pairs, {"threshold": 0.0}),
        (containment_verify_pairs, {"threshold_pct": 0}),
    ):
        internal = fn(docs, pairs, "text", "doc_id", 3, **kw)
        external = fn(
            docs, pairs, "text", "doc_id", 3, shingle_rows=srows, **kw
        )
        ra = sorted(map(tuple, internal.collect()))
        rb = sorted(map(tuple, external.collect()))
        assert ra == rb
    srows.unpersist()


def test_shared_shingles_persists_rows_and_matches_raw_signatures(spark):
    docs = _docs(spark)
    srows, sigs = shared_shingles(docs, "text", "doc_id", 3, 16)
    assert srows.storageLevel.useMemory
    raw = minhash_signatures(docs, "text", "doc_id", 16, 3)
    a = sorted((r.doc_id, tuple(r.signature)) for r in raw.collect())
    b = sorted((r.doc_id, tuple(r.signature)) for r in sigs.collect())
    assert a == b
    want = minhash_shingle_rows(docs, "text", "doc_id", 3)
    assert sorted(map(tuple, srows.collect())) == sorted(
        map(tuple, want.collect())
    )
    srows.unpersist()
