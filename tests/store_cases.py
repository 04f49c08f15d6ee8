"""The five maintained stores on small inline batches.

``open_store`` builds a handle on a directory (``spark=None`` gives a
Spark-free handle, enough for ``vacuum`` and pointer work), ``fold``
ingests the n-th batch with batch id n, and ``rows`` lists what the
store serves as tuples whose first field is unique per served row, the
row model ``crash_harness.check_recovered`` compares.
"""

from __future__ import annotations

from pyspark.sql import functions as F

KINDS = ("rollup", "dedup", "ivf", "postings", "survivorship")

ANCHORS = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
           [0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.0, 1.0]]
PHRASES = ["alpha beta gamma delta epsilon", "one two three four five",
           "red green blue cyan", "sun moon star sky cloud"]


def open_store(kind: str, spark, path: str):
    if kind == "rollup":
        from dmds_spark.operators.rollup import IncrementalRollup

        return IncrementalRollup(spark, None, path, ["g"], ["x"])
    if kind == "dedup":
        from dmds_spark.operators.incremental_dedup import (
            IncrementalMinHashDedup,
        )

        return IncrementalMinHashDedup(spark, None, path, "text", "doc_id",
                                       num_hashes=16, bands=8, k=3,
                                       threshold=0.3)
    if kind == "ivf":
        from dmds_spark.operators.incremental_ivf import IncrementalIVFIndex

        return IncrementalIVFIndex(spark, None, path, "vec_id", "embedding",
                                   dim=4)
    if kind == "postings":
        from dmds_spark.operators.incremental_postings import (
            IncrementalPostingsIndex,
        )

        return IncrementalPostingsIndex(spark, None, path)
    if kind == "survivorship":
        from dmds_spark.operators.survivorship import IncrementalSurvivorship

        return IncrementalSurvivorship(
            spark, path, "entity",
            recency_rules={"last_name": (
                "name", lambda: F.lpad(F.col("ts").cast("string"), 12, "0"))},
            min_cols={"first_ts": "ts"}, max_cols={"last_ts": "ts"},
            modal=("top_cat", "cat"),
        )
    raise ValueError(kind)


def batch(kind: str, spark, n: int):
    """The n-th increment: new ids every batch, and groups, near-dup
    texts, cells and entities that earlier batches also touched."""
    if kind == "rollup":
        return spark.createDataFrame(
            [((i + n) % 3, 10 * n + i) for i in range(6)], "g long, x long")
    if kind in ("dedup", "postings"):
        return spark.createDataFrame(
            [(10 * n + j, f"{p} w{n}") for j, p in enumerate(PHRASES)],
            "doc_id long, text string")
    if kind == "ivf":
        return spark.createDataFrame(
            [(10 * n + j, [1.0 if d == j % 4 else 0.1 * n for d in range(4)])
             for j in range(6)],
            "vec_id long, embedding array<double>")
    if kind == "survivorship":
        return spark.createDataFrame(
            [(j % 3, f"n{n}.{j}", 10 * n + j, "ab"[(j + n) % 2])
             for j in range(5)],
            "entity long, name string, ts long, cat string")
    raise ValueError(kind)


def fold(kind: str, store, spark, n: int) -> dict:
    """Ingest batch n with batch id n (an IVF store freezes ``ANCHORS``
    first)."""
    if kind == "ivf" and not store._state()["centroid_version"]:
        store.set_centroids(ANCHORS)
    return store.fold_batch(batch(kind, spark, n), batch_id=n)


def rows(kind: str, store) -> list[tuple]:
    def collect(df, *cols):
        return [] if df is None else [tuple(r) for r in df.select(*cols).collect()]

    if kind == "rollup":
        return collect(store.read(), "g", "cnt", "sum_x", "min_x", "max_x")
    if kind == "dedup":
        return (
            [(("sig", i), tuple(s))
             for i, s in collect(store.signatures(), "doc_id", "signature")]
            + [(("pair", a, b), j)
               for a, b, j in collect(store.pairs(), "id_a", "id_b",
                                      "jaccard_est")]
        )
    if kind == "ivf":
        return collect(store.assignments(), "vec_id", "cluster")
    if kind == "postings":
        return (
            [(("tf", t, d), tf)
             for t, d, tf in collect(store.postings(), "term", "doc_id", "tf")]
            + [(("dl", d), dl) for d, dl in collect(store.doclens(), "doc_id", "dl")]
        )
    if kind == "survivorship":
        return collect(store.golden(), "entity", "last_name", "first_ts",
                       "last_ts", "n_records", "top_cat")
    raise ValueError(kind)
