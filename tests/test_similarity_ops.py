"""Embedding operator tests: LSH pair blocking, exact centroids,
deterministic k-means (operators/similarity.py)."""

from pyspark.sql import functions as F

from dmds_spark.operators.similarity import (
    centroids,
    cosine,
    kmeans_assign,
    lsh_blocked_pairs,
    pair_cosine,
)

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_centroids_exact_small(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (0, [3.0, 6.0]), (1, [10.0, 0.0])],
        ["label", "v"],
    )
    got = {r["label"]: r["centroid"] for r in centroids(df, "label", "v", dim=2).collect()}
    assert got[0] == [2.0, 4.0]
    assert got[1] == [10.0, 0.0]


def test_centroids_order_independent(spark):
    """Same rows, different partitioning -> bit-identical centroids
    (the decimal-sum property a float sum does not have)."""
    e = _emb(spark)
    a = {r["label"]: r["centroid"] for r in centroids(e, "label", "embedding").collect()}
    b = {
        r["label"]: r["centroid"]
        for r in centroids(e.repartition(7), "label", "embedding").collect()
    }
    assert a == b


def test_pair_cosine_matches_cosine(spark):
    """pair_cosine (norms precomputed per vector) must equal the
    per-pair cosine expression bit-for-bit."""
    e = _emb(spark)
    pairs = lsh_blocked_pairs(e, "vec_id", "embedding", tables=4, planes=4)
    diff = pairs.withColumn(
        "d", pair_cosine() - cosine(F.col("va"), F.col("vb"))
    ).filter(F.col("d") != 0.0)
    assert diff.count() == 0


def test_kmeans_deterministic_and_valid(spark):
    e = _emb(spark)
    a = {r["vec_id"]: r["cluster"] for r in kmeans_assign(e, "vec_id", "embedding", k=4, iters=2).collect()}
    b = {r["vec_id"]: r["cluster"] for r in kmeans_assign(e, "vec_id", "embedding", k=4, iters=2).collect()}
    assert a == b  # no RNG anywhere: bit-identical re-runs
    assert set(a) == {r["vec_id"] for r in e.select("vec_id").collect()}
    assert all(0 <= c < 4 for c in a.values())
    assert len(set(a.values())) > 1  # actually partitions the space


# Recall pins run at sf0.01 (the driver's correctness SF): sf0.001's
# embeddings have only 7 ground-truth pairs at the 0.45 threshold —
# too few for a stable recall ratio (one borderline pair = 14 points).
SF_RECALL = "/root/testdata/sf0.01"


def _ground_truth_pairs(threshold: float) -> set[tuple[int, int]]:
    """Exact all-pairs cosine ground truth via numpy (500 vectors —
    125k pairs, trivial locally; the thing LSH exists to avoid at
    scale)."""
    import duckdb
    import numpy as np

    rows = duckdb.connect().execute(
        f"select vec_id, embedding from '{SF_RECALL}/embeddings.parquet'"
        " order by vec_id"
    ).fetchall()
    ids = [r[0] for r in rows]
    m = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(m, axis=1)
    sims = (m @ m.T) / np.outer(norms, norms)
    ia, ib = np.triu_indices(len(ids), k=1)
    keep = sims[ia, ib] >= threshold
    return {
        (ids[a], ids[b]) for a, b in zip(ia[keep], ib[keep])
    }


def _lsh_recall(spark, tables: int, planes: int, threshold: float) -> float:
    truth = _ground_truth_pairs(threshold)
    assert truth, "threshold leaves no ground-truth pairs to measure"
    emb = spark.read.parquet(f"{SF_RECALL}/embeddings.parquet")
    cand = {
        (r["id_a"], r["id_b"])
        for r in lsh_blocked_pairs(
            emb, "vec_id", "embedding", tables=tables, planes=planes
        ).select("id_a", "id_b").collect()
    }
    return len(truth & cand) / len(truth)


def test_lsh_recall_default_geometry(spark):
    """Recall pin for the DEFAULT neardup geometry (12 tables x 6
    planes) at the operative 0.45 threshold: measured 8/14 = 0.571 on
    this data, matching sign-LSH theory 1-(1-p^6)^12 with
    p = 1 - acos(0.45)/pi = 0.648 -> 0.603. Guards any future
    hyperplane/geometry tweak from silently cratering recall."""
    assert _lsh_recall(spark, 12, 6, 0.45) >= 0.5


def test_lsh_recall_high_recall_geometry(spark):
    """The recall knob works: 20 tables x 5 planes (theory
    1-(1-0.648^5)^20 = 0.913; measured 13/14 here) clears 0.8 — the
    geometry a 100 TB neardup run with a recall SLA would pick, at
    ~2.8x the bucket entries of the default."""
    assert _lsh_recall(spark, 20, 5, 0.45) >= 0.8


def test_arrow_buckets_match_jvm(spark):
    """The Arrow/numpy bucketing fast path must produce the identical
    (id, bucket) set as the JVM fold on both test corpora — sign bits
    only differ if a dot lands within an ulp of zero (none do here;
    the docstring documents the theoretical divergence)."""
    from dmds_spark.operators.similarity import (
        lsh_bucket_rows_arrow,
        lsh_buckets,
    )

    for sf in (SF, SF_RECALL):
        e = spark.read.parquet(f"{sf}/embeddings.parquet")
        jvm = {
            (r["vec_id"], r["__bucket"])
            for r in e.select(
                "vec_id",
                F.explode(
                    lsh_buckets(F.col("embedding"), 12, 6)
                ).alias("__bucket"),
            ).collect()
        }
        arrow = {
            (r["vec_id"], r["__bucket"])
            for r in lsh_bucket_rows_arrow(
                e, "vec_id", "embedding", 12, 6
            ).collect()
        }
        assert arrow == jvm


def test_arrow_blocked_pairs_match(spark):
    """End-to-end: arrow=True candidate pairs == default pairs."""
    e = spark.read.parquet(f"{SF_RECALL}/embeddings.parquet")
    a = {
        (r["id_a"], r["id_b"])
        for r in lsh_blocked_pairs(
            e, "vec_id", "embedding", tables=6, planes=5, arrow=True
        ).select("id_a", "id_b").collect()
    }
    b = {
        (r["id_a"], r["id_b"])
        for r in lsh_blocked_pairs(
            e, "vec_id", "embedding", tables=6, planes=5
        ).select("id_a", "id_b").collect()
    }
    assert a == b


def test_arrow_pair_cosine_matches(spark):
    """Arrow verify-stage cosine: within 1e-12 of the exact fold, and
    the >= 0.45 threshold set is identical on this data."""
    from dmds_spark.operators.similarity import pair_cosine_rows_arrow

    e = spark.read.parquet(f"{SF_RECALL}/embeddings.parquet")
    pairs = lsh_blocked_pairs(e, "vec_id", "embedding", tables=6, planes=5)
    exact = {
        (r["id_a"], r["id_b"]): r["s"]
        for r in pairs.select(
            "id_a", "id_b", pair_cosine().alias("s")
        ).collect()
    }
    arrow = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in pair_cosine_rows_arrow(pairs)
        .select("id_a", "id_b", "sim")
        .collect()
    }
    assert set(exact) == set(arrow)
    assert max(abs(exact[k] - arrow[k]) for k in exact) < 1e-12
    thr = 0.45
    assert {k for k, v in exact.items() if v >= thr} == {
        k for k, v in arrow.items() if v >= thr
    }


def test_quantized_rerank_equals_bruteforce_topk(spark):
    """The two-stage quantized ANN (centered int8 code dot -> top-50
    candidates -> exact cosine re-rank) returns EXACTLY the brute-force
    cosine top-10 at sf0.001 — i.e. candidate recall is 10/10 on this
    corpus (measured; the centered-code pin — uncentered codes score
    0/10). Guards the centering and the candidate budget."""
    import numpy as np
    import pandas as pd

    from dmds_spark.queries import all_queries

    sf = "/root/testdata/sf0.001"
    got = [
        r["vec_id"]
        for r in all_queries()["similarity_quantized_rerank_topk"](
            spark, sf
        ).collect()
    ]

    emb = pd.read_parquet(f"{sf}/embeddings.parquet")
    mat = np.vstack(emb["embedding"].to_numpy()).astype(np.float64)
    ids = emb["vec_id"].to_numpy()
    qv = mat[ids == 0][0]
    sims = (mat @ qv) / (
        np.linalg.norm(mat, axis=1) * np.linalg.norm(qv)
    )
    order = sorted(
        [(s, i) for s, i in zip(sims, ids) if i != 0],
        key=lambda t: (-t[0], t[1]),
    )
    want = [i for _, i in order[:10]]
    assert set(got) == set(want)


def test_semdedup_prune_matches_numpy_bruteforce(spark):
    """The SemDeDup composite must equal an independent numpy
    brute-force of the same policy: same k-means assignment (the
    deterministic operator is reused — ITS determinism is pinned
    above), then per-cluster all-pairs cosine in numpy, dropping every
    id whose cosine to a lower id in the same cluster >= threshold."""
    import numpy as np

    from dmds_spark.operators.similarity import semdedup_prune

    T = 0.35
    emb = _emb(spark)
    got = {
        (r["vec_id"], r["cluster"])
        for r in semdedup_prune(
            emb, "vec_id", "embedding", k=8, iters=2, threshold=T
        ).collect()
    }

    assign = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(
            emb, "vec_id", "embedding", k=8, iters=2
        ).collect()
    }
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    survivors = set()
    for cl in set(assign.values()):
        ids = sorted(i for i, c in assign.items() if c == cl)
        mat = np.stack([vecs[i] / np.linalg.norm(vecs[i]) for i in ids])
        sims = mat @ mat.T
        for row, i in enumerate(ids):
            if not any(
                sims[row, prev] >= T - 1e-12 for prev in range(row)
            ):
                survivors.add((i, cl))
    # exact agreement up to float tie edges: no pair sits within 1e-9
    # of the threshold on this corpus, so the sets must be identical
    assert got == survivors
    assert 300 < len(got) < 500  # prune is non-trivial and non-total


def test_principal_component_matches_numpy(spark):
    """Power-iteration dominant component == numpy eigh's (up to the
    shared sign convention), eigenvalue and explained ratio within
    tolerance; partition count must not change the answer."""
    import numpy as np

    from dmds_spark.operators.similarity import principal_component

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    eig1, v1, expl1, n1 = principal_component(emb.coalesce(1), "embedding")
    eig2, v2, expl2, n2 = principal_component(
        emb.repartition(9), "embedding"
    )
    assert n1 == n2 == emb.count()
    assert abs(eig1 - eig2) < 1e-8 * max(abs(eig1), 1)
    assert np.max(np.abs(v1 - v2)) < 1e-7

    m = np.stack([r["embedding"] for r in emb.collect()]).astype(np.float64)
    cov = np.cov(m, rowvar=False, bias=True)
    w, vecs = np.linalg.eigh(cov)
    top = vecs[:, -1]
    if top[np.argmax(np.abs(top))] < 0:
        top = -top
    # near-degenerate spectrum (random embeddings): convergence is
    # gap-limited, so tolerances are calibrated, not tight
    assert abs(eig1 - w[-1]) < 1e-5 * max(w[-1], 1)
    assert np.max(np.abs(v1 - top)) < 1e-2
    assert abs(float(v1 @ top)) > 0.999  # direction agreement
    assert 0 < expl1 <= 1


def test_principal_component_empty_input_raises(spark):
    """n=0 must raise a clear ValueError, not divide 0/0 into NaNs."""
    import pytest as _pytest

    from dmds_spark.operators.similarity import principal_component

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    empty = emb.filter(F.lit(False))
    with _pytest.raises(ValueError, match="no embedding rows"):
        principal_component(empty, "embedding")


def test_principal_component_constant_input_zero_convention(spark):
    """All-constant input has zero covariance: the documented
    convention is (eigval 0, loadings e_0, explained 0, n) — finite
    and deterministic, no zero-norm power iteration."""
    import numpy as np

    from dmds_spark.operators.similarity import principal_component

    dim = 8
    const = spark.range(12).select(
        F.array(*[F.lit(float(i)) for i in range(dim)]).alias("embedding")
    )
    eig, v, expl, n = principal_component(const, "embedding", dim=dim)
    assert eig == 0.0 and expl == 0.0 and n == 12
    e0 = np.zeros(dim)
    e0[0] = 1.0
    assert np.array_equal(v, e0)


def test_kmeans_degenerate_inputs(spark):
    import pytest as _pytest

    from dmds_spark.operators.similarity import kmeans_assign

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with _pytest.raises(ValueError, match="k must be >= 1"):
        kmeans_assign(emb, "vec_id", "embedding", k=0)
    with _pytest.raises(ValueError, match="empty input"):
        kmeans_assign(emb.filter(F.lit(False)), "vec_id", "embedding", k=4)
    # fewer rows than k: every row seeds its own cluster, no crash
    few = emb.limit(3)
    out = kmeans_assign(few, "vec_id", "embedding", k=8, iters=1)
    assert out.count() == 3
    assert out.select("cluster").distinct().count() <= 3


def test_kmeans_rejects_short_vectors(spark):
    import pytest as _pytest

    from dmds_spark.operators.similarity import kmeans_assign

    df = spark.createDataFrame(
        [(1, [0.0, 1.0, 2.0]), (2, [1.0, 1.0, 1.0]), (3, [5.0, 5.0])],
        "id long, v array<double>",
    )
    with _pytest.raises(ValueError, match=r"'v' must hold 3-dim .* 2\.\.3"):
        kmeans_assign(df, "id", "v", k=2, iters=2, dim=3)
    ok = kmeans_assign(df.filter("id < 3"), "id", "v", k=2, iters=2, dim=3)
    assert ok.count() == 2
