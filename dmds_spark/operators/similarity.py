"""Similarity-search building blocks: JVM-side cosine, deterministic
random-hyperplane LSH (multi-table), and LSH-blocked candidate pairs.

The blocking scheme is the standard multi-table sign-random-projection
LSH: ``tables`` independent hash tables, each hashing a vector to the
concatenated signs of ``planes`` hyperplane projections. Two vectors
are candidates iff they share a bucket in >= 1 table. Recall for a pair
at angle θ is 1 - (1 - (1 - θ/π)^planes)^tables; ``planes`` trades
bucket selectivity (grow it like log2(n) to keep buckets bounded as the
corpus grows) and ``tables`` buys recall back.

Scale shape (100 TB): bucketing is a per-row scan (explode factor =
``tables``); the candidate join is an equi-join on the bucket string —
shuffle width bounded by bucket sizes, never an all-pairs product.
Hyperplanes are md5-derived literal constants, identical in Spark and
DuckDB plans, which keeps every pipeline built on them oracle-checkable.
"""

from __future__ import annotations

import hashlib
import json
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from dmds_spark.core.engine import materialize as _materialize

EMB_DIM = 64


def dot(x: Column, y: Column) -> Column:
    """JVM-side dot product of two array<float|double> columns (no
    Python UDF): zip_with multiply + aggregate sum, in double."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(x: Column, y: Column) -> Column:
    """Cosine similarity in double. A zero-norm input yields NaN (0/0
    under IEEE division) — the conventional undefined-similarity
    marker; callers over corpora that may contain zero vectors should
    filter them or coalesce the NaN (the fixture embeddings and every
    oracle-checked query are zero-free)."""
    return dot(x, y) / (F.sqrt(dot(x, x)) * F.sqrt(dot(y, y)))


def hyperplane(table: int, h: int, dim: int = EMB_DIM) -> list[float]:
    """Deterministic pseudo-random hyperplane component values from
    md5 — the same literal vector is embedded in both engines' plans."""
    return [
        int(hashlib.md5(f"p{table}:{h}:{i}".encode()).hexdigest()[0], 16) - 7.5
        for i in range(dim)
    ]


def _dot_lit(vec_col: Column, plane: list[float]) -> Column:
    return F.aggregate(
        F.zip_with(
            vec_col,
            F.array(*[F.lit(v) for v in plane]),
            lambda x, y: x.cast("double") * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def lsh_table_bucket(
    vec_col: Column, table: int, planes: int, dim: int = EMB_DIM
) -> Column:
    """Bucket string for one LSH table: 'T:bbbb' (table id + sign
    bits), so buckets from different tables never collide."""
    bits = [
        F.when(_dot_lit(vec_col, hyperplane(table, h, dim)) > 0, "1").otherwise("0")
        for h in range(planes)
    ]
    return F.concat(F.lit(f"{table}:"), *bits)


@lru_cache(maxsize=None)
def _hyperplane_matrix(tables: int, planes: int, dim: int) -> Column:
    """All hyperplanes for a geometry as one constant-folded Column.
    Half-unit component values round-trip JSON exactly, so the folded
    doubles are bit-identical to direct literals."""
    mat = [[hyperplane(t, h, dim) for h in range(planes)] for t in range(tables)]
    return F.from_json(F.lit(json.dumps(mat)), "array<array<array<double>>>")


def lsh_buckets(
    vec_col: Column, tables: int, planes: int, dim: int = EMB_DIM
) -> Column:
    """All ``tables`` bucket strings as one array column — bit-identical
    to ``array(lsh_table_bucket(t) for t)`` (same zip_with multiply and
    left-fold add order, so the same doubles and the same sign bits).

    The hyperplane matrix is ONE nested-array literal instead of
    tables*planes*dim separate literal expression nodes: with the
    per-table form, 12 tables x 6 planes x 64 dims put ~4,600 Literal
    nodes through the optimizer and codegen, and the bucketing stage of
    dedup_embedding_neardup spent ~5 s planning/compiling a job whose
    actual data was 2,000 rows. The literal itself is built as
    ``from_json`` of one JSON string — Catalyst constant-folds it to an
    array literal at optimization time — because ``F.lit`` on the
    nested Python list pays ~4 s of py4j element-by-element conversion
    (measured), vs 0.4 s for the string. Memoized per geometry: the
    Column is immutable and session-scoped, so repeat queries skip even
    that."""
    matrix = _hyperplane_matrix(tables, planes, dim)
    return F.transform(
        matrix,
        lambda tmat, ti: F.concat(
            ti.cast("string"),
            F.lit(":"),
            F.array_join(
                F.transform(
                    tmat,
                    lambda plane: F.when(
                        F.aggregate(
                            F.zip_with(
                                vec_col,
                                plane,
                                lambda x, y: x.cast("double") * y,
                            ),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        )
                        > 0,
                        "1",
                    ).otherwise("0"),
                ),
                "",
            ),
        ),
    )


def lsh_bucket_sql(
    vec_expr: str, tables: int, planes: int, dim: int = EMB_DIM
) -> list[str]:
    """DuckDB expressions mirroring lsh_table_bucket, one per table."""
    out = []
    for t in range(tables):
        bits = " || ".join(
            f"(CASE WHEN list_dot_product(CAST({vec_expr} AS DOUBLE[]), "
            f"[{', '.join(str(v) for v in hyperplane(t, h, dim))}]) > 0 "
            "THEN '1' ELSE '0' END)"
            for h in range(planes)
        )
        out.append(f"'{t}:' || " + bits)
    return out


def lsh_bucket_rows_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    tables: int = 12,
    planes: int = 6,
    dim: int = EMB_DIM,
) -> DataFrame:
    """(id, __bucket) rows via one numpy matmul per Arrow batch — the
    throughput path for the bucketing scan. The interpreted JVM fold
    (`lsh_buckets`) costs ~1 µs per multiply-add (measured: 1.4 s to
    bucket 500 vectors x 12 tables x 6 planes x 64 dims); a vectorized
    (batch, dim) @ (dim, tables*planes) matmul is ~100x cheaper, which
    at 1e11 vectors is the difference between 3,000 core-hours and 30.

    NOT the oracle default: numpy's pairwise/SIMD summation can in
    principle flip a sign on a dot within an ulp of zero vs the
    sequential fold both SQL engines run (no flips on the test corpora
    — pinned by test_arrow_buckets_match_jvm — but a production run
    accepts the sketch is approximate anyway; the exact-cosine verify
    stage downstream is unchanged either way)."""
    import numpy as np
    import pandas as pd

    mat = np.array(
        [[hyperplane(t, h, dim) for h in range(planes)] for t in range(tables)],
        dtype=np.float64,
    ).reshape(tables * planes, dim)
    id_type = dict(df.dtypes)[id_col]

    # per-table prefixes once; the bit block is rendered as bytes and
    # viewed as fixed-width strings — no Python-level per-row loop
    prefixes = np.array([f"{t}:".encode() for t in range(tables)], dtype="S8")

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            bits = (m @ mat.T) > 0
            n = len(m)
            # (n*tables, planes) of b'0'/b'1' -> one S{planes} per row
            chars = np.where(bits.reshape(-1, planes), b"1", b"0").astype("S1")
            bit_strs = np.ascontiguousarray(chars).view(f"S{planes}").ravel()
            buckets = np.char.add(
                np.tile(prefixes, n), bit_strs
            ).astype(str)
            ids = np.repeat(pdf[id_col].to_numpy(), tables)
            yield pd.DataFrame({id_col: ids, "__bucket": buckets})

    return df.mapInPandas(fn, f"{id_col} {id_type}, __bucket string")


def lsh_blocked_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    tables: int = 12,
    planes: int = 6,
    dim: int = EMB_DIM,
    materialize: bool = True,
    arrow: bool = False,
) -> DataFrame:
    """Candidate pairs (id_a, id_b, va, vb, __na, __nb), id_a < id_b,
    sharing >= 1 LSH bucket, with per-vector norms precomputed. Use
    ``pair_cosine()`` for the similarity — it reproduces the exact
    dot/(sqrt*sqrt) expression, just with the norms computed once per
    VECTOR instead of once per pair.

    Cost shape: the bucket self-join and the cross-table pair dedup
    carry ONLY (id, bucket) — 16 bytes/row, not the embedding arrays
    (carrying vectors through the distinct was measured 10x the shuffle
    bytes); vectors and norms re-attach by two equi-joins afterwards.

    ``materialize`` snapshots the bucketed ids and the norm table once
    so the self-join sides and both re-attach joins read computed
    results (the MinHash signatures barrier; a written intermediate in
    production)."""
    from dmds_spark.operators.parallel import ensure_parallelism

    # the bucketing fold (~tables*planes*dim multiply-adds per row) and
    # the norm projection inherit the scan's partitioning — one row
    # group at test scale means one core runs the whole stage without
    # this floor (guide §2.6); a no-op on well-split sources
    df = ensure_parallelism(df)
    if arrow:
        b = lsh_bucket_rows_arrow(df, id_col, vec_col, tables, planes, dim)
    else:
        buckets = lsh_buckets(F.col(vec_col), tables, planes, dim)
        b = df.select(F.col(id_col), F.explode(buckets).alias("__bucket"))
    vecs = df.select(
        F.col(id_col),
        F.col(vec_col),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("__norm"),
    )
    if materialize:
        b = b.transform(_materialize)
        vecs = vecs.transform(_materialize)
    a_side = b.select(F.col(id_col).alias("id_a"), "__bucket")
    b_side = b.select(F.col(id_col).alias("id_b"), "__bucket")
    ids = (
        a_side.join(b_side, "__bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        # NO repartition here (optimization round 2): the verify width
        # comes from the vector re-attach joins below — when the
        # candidate set is small enough to broadcast, the verify
        # inherits the floored ``vecs`` partitioning; when it is big,
        # the join exchanges spread it by bytes (vectors are ~1 KB/row,
        # so AQE's byte-based coalescing keeps real width). The
        # unconditional round-robin exchange added in round 15 was a
        # measured net loss on the cheap-verify callers.
    )
    va = vecs.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        F.col("__norm").alias("__na"),
    )
    vb = vecs.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        F.col("__norm").alias("__nb"),
    )
    return ids.join(va, "id_a").join(vb, "id_b")


def pair_cosine() -> Column:
    """Cosine over lsh_blocked_pairs output: bit-identical to
    cosine(va, vb) — same dot and sqrt doubles, same multiply order —
    with the norm computed per vector, not per pair."""
    return dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb"))


def pair_cosine_rows_arrow(pairs: DataFrame, out: str = "sim") -> DataFrame:
    """(id_a, id_b, ``out``) cosine rows from lsh_blocked_pairs output,
    computed as one numpy batched einsum per Arrow batch — the
    throughput path for the verify stage (same cost model as
    lsh_bucket_rows_arrow: the interpreted per-pair fold is
    ~1 µs/element; candidate sets at corpus scale dwarf the bucketing
    input). Norms reuse the precomputed __na/__nb. The vectors are
    consumed inside the stage and deliberately NOT emitted: returning
    va/vb would pay the Python->JVM Arrow transfer of every embedding a
    second time for columns no consumer reads (measured ~2x the stage
    cost at sf0.1). Not the oracle default: the last-ulp sum order
    differs from the sequential fold, so a pair sitting exactly on a
    threshold could flip; test pins max deviation and threshold-set
    equality on the test corpora."""
    import numpy as np
    import pandas as pd

    id_types = dict(pairs.dtypes)
    schema = (
        f"id_a {id_types['id_a']}, id_b {id_types['id_b']}, {out} double"
    )

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            va = np.stack(pdf["va"].to_numpy()).astype(np.float64)
            vb = np.stack(pdf["vb"].to_numpy()).astype(np.float64)
            dots = np.einsum("ij,ij->i", va, vb)
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy(),
                    "id_b": pdf["id_b"].to_numpy(),
                    out: dots
                    / (pdf["__na"].to_numpy() * pdf["__nb"].to_numpy()),
                }
            )

    return pairs.mapInPandas(fn, schema)


def centroids_long(
    df: DataFrame,
    group_col: str,
    vec_col: str,
    scale: int = 12,
) -> DataFrame:
    """Per-group centroid in LONG format: one (group_col, pos, m) row
    per vector component, pos 0-based, m the component mean rounded to
    6 decimals. Same exact-decimal-sum shape as ``centroids`` minus the
    final array re-assembly — the natural registered-query /
    SQL-oracle shape, since the driver canonicalizer cannot hash
    array-typed cells (see queries/__init__.py docstring)."""
    rows = df.select(
        F.col(group_col),
        F.posexplode(F.col(vec_col)).alias("pos", "__x"),
    )
    # exact decimal SUM (order-independent), then ONE deterministic
    # IEEE double division by the exact count — never a float sum,
    # never decimal division (whose result scale rules differ between
    # engines)
    agg = rows.groupBy(group_col, "pos").agg(
        F.sum(F.col("__x").cast("double").cast(f"decimal(28,{scale})"))
        .alias("__s"),
        F.count(F.lit(1)).alias("__n"),
    )
    mean = F.round(F.col("__s").cast("double") / F.col("__n"), 6)
    return agg.select(group_col, "pos", mean.alias("m"))


def centroids(
    df: DataFrame,
    group_col: str,
    vec_col: str,
    dim: int = EMB_DIM,
    scale: int = 12,
) -> DataFrame:
    """Per-group centroid (elementwise mean) of a vector column,
    summed in DECIMAL so the result is EXACT and independent of
    aggregation order — float sums hash-drift across engines and even
    across partitionings of the same engine. Returns (group_col,
    centroid: array<double> rounded to ``scale`` decimals).

    Shape: posexplode to (group, pos, x) rows, one groupBy(group, pos)
    decimal-sum shuffle (map-side partial), then array re-assembly
    ordered by pos. At 100 TB this is the k-means M-step / class-
    prototype aggregation."""
    pairs = centroids_long(df, group_col, vec_col, scale).select(
        group_col, F.col("pos").alias("__pos"), F.col("m").alias("__m")
    )
    return (
        pairs.groupBy(group_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__pos"), F.col("__m")))
            ).alias("__pairs")
        )
        .select(
            group_col,
            F.transform(
                F.col("__pairs"), lambda p: p["__m"].cast("double")
            ).alias("centroid"),
        )
    )


def kmeans_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 3,
    dim: int = EMB_DIM,
) -> DataFrame:
    """Deterministic k-means: centers init from the k data vectors
    with the smallest md5(id) (a reproducible pseudo-random seed draw
    — no RNG state, same centers on any partitioning), ``iters``
    rounds of assign (centers embedded as broadcast literals, argmin
    squared euclidean with index tie-break) + decimal-exact M-step via
    ``centroids``; a cluster that loses all members keeps its previous
    center. Returns (id, cluster).

    Per round: one scan with a k-way distance argmin + one
    posexplode/groupBy shuffle for the new centers (k rows to the
    driver — bounded by k, never data size) — the canonical
    distributed k-means shape. Iterative, so registered queries using
    it take the rows-only correctness path (no single SQL oracle).

    The k centers enter the plan as ONE ``from_json`` constant-folded
    k x dim matrix (the `_hyperplane_matrix` pattern), not k x dim
    separate Literal nodes per iteration: at k in the hundreds the
    literal form pays seconds of optimizer/codegen time per round for
    a plan whose data might be thousands of rows. json round-trips
    doubles exactly (shortest-repr emit, correctly-rounded parse), and
    the argmin is `array_min` over (distance, index) structs — the
    same elementwise zip_with/left-fold arithmetic and the same
    least-by-(d, c) tie-break as the unfolded expression, so
    assignments are bit-identical."""
    if k < 1:
        raise ValueError(f"kmeans_assign: k must be >= 1, got {k}")
    seeds = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .collect()
    )
    if not seeds:
        raise ValueError("kmeans_assign: empty input (no seed vectors)")
    # fewer rows than k: every row is its own seed and the extra
    # clusters simply never exist — valid, documented degeneracy
    centers = [
        (c, [float(v) for v in row[vec_col]]) for c, row in enumerate(seeds)
    ]

    def nearest_center(center_rows: list) -> Column:
        mat = F.from_json(
            F.lit(json.dumps(center_rows)), "array<array<double>>"
        )
        cand = F.transform(
            mat,
            lambda cvec, ci: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col),
                        cvec,
                        lambda x, y: (x.cast("double") - y) ** 2,
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("d"),
                ci.cast("int").alias("c"),
            ),
        )
        return F.array_min(cand)["c"]

    assigned = None
    for it in range(iters):
        best = nearest_center([vals for _, vals in centers])
        assigned = df.select(
            F.col(id_col), F.col(vec_col), best.alias("cluster")
        )
        if it == iters - 1:
            # the returned assignment uses THIS round's centers — a
            # final M-step would only update centers nobody reads
            # (guide §1.2: don't compute things you throw away). One
            # full-scan aggregate job saved per call; results are
            # bit-identical (the loop previously discarded the update).
            break
        # M-step as ONE narrow hash aggregate: dim decimal sums + a
        # count per cluster (map-side partials, k x (dim+1) values
        # shuffled) instead of ``centroids``'s posexplode (dim x rows)
        # + two shuffles + array re-assembly (guide §2.3/§2.4). The
        # mean is the same expression as centroids_long —
        # round(cast(exact-decimal-sum as double) / n, 6) — and decimal
        # addition is order-independent, so the doubles (and therefore
        # every later assignment) are bit-identical. Needs dense
        # ``dim``-length vectors, which kmeans distances require anyway.
        sums = [
            F.sum(
                F.get(F.col(vec_col), i).cast("double").cast("decimal(28,12)")
            ).alias(f"__s{i}")
            for i in range(dim)
        ]
        # the vector lengths ride along and are checked before any mean
        # is used (``get`` reads a missing element as NULL instead of
        # failing the job mid-loop)
        size = F.coalesce(F.size(vec_col), F.lit(-1))
        agg = assigned.groupBy("cluster").agg(
            *sums,
            F.count(F.lit(1)).alias("__n"),
            F.min(size).alias("__lo"),
            F.max(size).alias("__hi"),
        )
        mrows = agg.select(
            "cluster",
            "__lo",
            "__hi",
            *[
                F.round(
                    F.col(f"__s{i}").cast("double") / F.col("__n"), 6
                ).alias(f"__m{i}")
                for i in range(dim)
            ],
        ).collect()
        lo = min(r["__lo"] for r in mrows)
        hi = max(r["__hi"] for r in mrows)
        if lo != dim or hi != dim:
            raise ValueError(
                f"kmeans_assign: column {vec_col!r} must hold {dim}-dim "
                f"vectors, found lengths {lo}..{hi} (-1 = null)"
            )
        new_centers = {
            int(r["cluster"]): [float(r[f"__m{i}"]) for i in range(dim)]
            for r in mrows
        }
        centers = [
            (c, new_centers.get(c, vals)) for c, vals in centers
        ]
    return assigned.select(id_col, "cluster")


def semdedup_prune(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embeddings with the deterministic
    ``kmeans_assign``, compare pairs ONLY within a cluster, and drop
    every vector whose cosine to a LOWER-id cluster-mate reaches
    ``threshold`` (keep-first canonical — same policy as
    dedup_minhash_keep_first). Returns survivors (id, cluster).

    Why this scales where all-pairs cannot: the pairwise comparison is
    restricted to cluster blocks, so the join cost is sum over
    clusters of size^2 instead of N^2 — at 100 TB you raise k so
    clusters stay ~1e3-1e4 vectors (SemDeDup's published setting) and
    the block self-join stays executor-sized; the cluster key is the
    shuffle key, so each block compares co-located. Semantic recall
    beyond MinHash/SimHash: near-duplicate MEANING (paraphrases,
    templated rewrites) lands in the same cluster even when the
    surface n-grams differ. A pair SPLIT across clusters is missed —
    that is SemDeDup's documented approximation, the price of the
    block bound.

    The within-cluster prune is pinned equal to an independent
    numpy brute-force in tests/test_similarity_ops.py."""
    assigned = kmeans_assign(df, id_col, vec_col, k, iters)
    return semdedup_prune_clusters(df, assigned, id_col, vec_col, threshold)


def semdedup_prune_clusters(
    df: DataFrame,
    assigned: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """The within-cluster stage of SemDeDup over a given assignment
    ``assigned`` (id, cluster): drop every vector whose cosine to a
    LOWER-id cluster-mate reaches ``threshold``; returns the survivors
    (id, cluster). Pairs are compared only inside a cluster block
    (the cluster key is the join key), so the cost is sum over
    clusters of size^2.

    The norm is folded ONCE per vector into the materialized block
    table (same expression over the same array, so the doubles are
    bit-identical); each pair then pays one HOF fold (the dot) instead
    of three (guide §2.4, the pair_cosine pattern)."""
    vecs = (
        df.select(F.col(id_col), F.col(vec_col))
        .join(assigned, id_col)
        .withColumn("__nrm", F.sqrt(dot(F.col(vec_col), F.col(vec_col))))
        .transform(_materialize)  # consumed by both join sides + anti
    )
    a = vecs.select(
        F.col("cluster"),
        F.col(id_col).alias("__ida"),
        F.col(vec_col).alias("__va"),
        F.col("__nrm").alias("__na"),
    )
    b = vecs.select(
        F.col("cluster"),
        F.col(id_col).alias("__idb"),
        F.col(vec_col).alias("__vb"),
        F.col("__nrm").alias("__nb"),
    )
    doomed = (
        a.join(b, "cluster")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(
            dot(F.col("__va"), F.col("__vb"))
            / (F.col("__na") * F.col("__nb"))
            >= threshold
        )
        .select(F.col("__idb").alias(id_col))
        .distinct()
    )
    return vecs.join(doomed, id_col, "left_anti").select(id_col, "cluster")


PCA_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.ArrayType(T.DoubleType())),
        T.StructField("g", T.ArrayType(T.DoubleType())),
    ]
)


def principal_component(
    emb: DataFrame, vec_col: str, dim: int = EMB_DIM, iters: int = 256
):
    """Dominant principal component of an embedding column by power
    iteration: one Arrow pass emits per-task Gram partials (count,
    column sums, flattened X^T X — d + d^2 doubles per task, whole-
    matrix numpy, no per-row Python), the O(tasks) partials fold on
    the driver into the d x d covariance, and the iteration runs
    driver-side on that tiny matrix. This is the scale shape for
    spectral embedding health: the DATA pass is one scan however many
    rows there are; only d^2 state moves.

    Materializing the 2080 upper-triangle product aggregates as
    Catalyst expressions instead would repeat the round-2
    constant-heavy-plan mistake (thousands of expression nodes) — the
    Gram partial via mapInPandas IS the right tool here.

    Returns (eigenvalue, loadings ndarray, explained_ratio, n). Sign
    convention: the largest-magnitude loading is positive
    (deterministic across runs). Float sums depend on partition order,
    so results are tolerance-stable, not bit-stable — engine-side only
    (rows-only class), pinned against numpy eigh in tests."""
    import numpy as np
    import pandas as pd

    def part(batches):
        n, s, g = 0, np.zeros(dim), np.zeros((dim, dim))
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n += m.shape[0]
            s += m.sum(axis=0)
            g += m.T @ m
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    rows = (
        emb.select(vec_col).mapInPandas(part, PCA_PARTIAL_SCHEMA).collect()
    )
    n = sum(r["n"] for r in rows)
    if n == 0:
        raise ValueError(
            "principal_component: no embedding rows (empty input)"
        )
    s = np.sum([np.array(r["s"]) for r in rows], axis=0)
    g = np.sum(
        [np.array(r["g"]).reshape(dim, dim) for r in rows], axis=0
    )
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    trace = float(np.trace(cov))
    if trace <= 0.0:
        # all-constant input: zero covariance, no variance direction.
        # Documented convention: eigenvalue 0, loadings e_0 (the unit
        # vector on coordinate 0), explained ratio 0 — deterministic
        # and NaN-free instead of a 0/0 power iteration.
        e0 = np.zeros(dim)
        e0[0] = 1.0
        return 0.0, e0, 0.0, n
    v = np.full(dim, 1.0 / np.sqrt(dim))
    for _ in range(iters):
        v = cov @ v
        nrm = float(np.linalg.norm(v))
        if nrm == 0.0:
            # the iterate landed in the nullspace (start vector
            # orthogonal to the range): the d x d problem is tiny and
            # driver-side — solve it directly instead of dividing by 0
            v = np.linalg.eigh(cov)[1][:, -1]
            break
        v /= nrm
    if v[np.argmax(np.abs(v))] < 0:
        v = -v
    eigval = float(v @ cov @ v)
    explained = eigval / trace
    return eigval, v, explained, n
