"""Persisted, incrementally-maintained survivorship (golden record)
store — the MDM maintenance twin of ``survivorship_golden_record``.

The batch query folds an entity's whole observation stream per run; a
100 TB CDC feed maintains the mastered rows instead: every micro-batch
pays ONE hash aggregate over its NEW observations (O(new)), and the
partials merge into the persisted per-entity state because every
survivorship rule family is MERGEABLE:

* most-recent-wins / precedence-wins — ``max_by(value, padded_key)``
  over a TOTAL-ORDER string key: the state stores (value, winning key),
  and merging two states is max_by again (the key of the argmax row is
  ``max(key)``, so both persist losslessly);
* min/max (first_seen/last_seen) and counts — plain decomposable
  aggregates;
* modal vote — NOT decomposable from a single winner, so the store
  keeps the standard mergeable sufficient statistic: the per-(entity,
  category) count grain, merged by sum; the serving view takes the
  vote (``min_by`` on the inverted-count padded key) off that bounded
  grain.

Layout and lifecycle mirror the other incremental stores (the commit
protocol of ``core/commit.py``: versioned state dirs, atomic pointer
flip, cross-process ``store_writer`` fence, vacuum; batch-id
high-water replay marks):

* ``state/v{N}`` — one row per entity: recency/precedence values WITH
  their winning keys, min/max/count partials;
* ``counts/v{N}`` — (entity, category, cnt) for the modal rule;
* ``_current.json`` — committed version + replay marks.

Acceptance shape (the store-design rule): N increments + a replay
through the maintained path must hash-equal the declarative batch
fold — ``rollup_incremental_survivorship`` proves it against the same
DuckDB oracle as ``survivorship_golden_record``.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from dmds_spark.core.commit import PointerStore


class IncrementalSurvivorship(PointerStore):
    """Maintained golden-record store over an append-only observation
    stream (CDC feed). Rules are fixed at construction:

    * ``recency_rules``: ``{out_col: (value_col, key_fn)}`` —
      ``key_fn()`` builds the padded total-order STRING key column
      (built lazily: module import must not need a SparkContext);
      the rule keeps the value at the maximum key (most-recent-wins,
      or precedence-wins with a precedence-prefixed key);
    * ``min_cols`` / ``max_cols``: ``{out_col: source_col}`` plain
      extrema (first_seen/last_seen);
    * ``count_col``: output name for the observation count;
    * ``modal``: ``(out_col, category_col)`` frequency vote, ties to
      the lexicographically smallest category.
    """

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        entity_col: str,
        recency_rules: dict[str, tuple[str, Callable[[], Column]]],
        min_cols: dict[str, str],
        max_cols: dict[str, str],
        count_col: str = "n_records",
        modal: tuple[str, str] | None = None,
    ):
        super().__init__(store_dir)
        self.spark = spark
        self.entity_col = entity_col
        self.recency_rules = dict(recency_rules)
        self.min_cols = dict(min_cols)
        self.max_cols = dict(max_cols)
        self.count_col = count_col
        self.modal = modal

    # -- pointer -------------------------------------------------------------
    def _empty_state(self) -> dict:
        return {"version": 0, "last_batch_id": -1}

    def _referenced(self, st: dict) -> dict[str, set[str]]:
        return {grain: {f"v{st['version']}"} for grain in ("state", "counts")}

    def _path(self, grain: str, version: int) -> str:
        return os.path.join(self.store_dir, grain, f"v{version}")

    # -- partials ----------------------------------------------------------
    @staticmethod
    def _key_col(out: str) -> str:
        return f"__key_{out}"

    def _partial_state(self, obs: DataFrame) -> DataFrame:
        """ONE hash aggregate over a batch of observations -> one
        mergeable state row per entity touched by the batch. max_by
        keeps a single candidate per key per map task (partial_max_by
        — the store-design rule, no window over the stream)."""
        aggs = []
        for out, (val, key_fn) in self.recency_rules.items():
            key = key_fn()
            aggs.append(F.max_by(val, key).alias(out))
            # the winning key itself: key of the argmax == max(key)
            # on a total order — persisting it is what makes the rule
            # mergeable across increments
            aggs.append(F.max(key).alias(self._key_col(out)))
        for out, src in self.min_cols.items():
            aggs.append(F.min(src).alias(out))
        for out, src in self.max_cols.items():
            aggs.append(F.max(src).alias(out))
        aggs.append(
            F.count(F.lit(1)).cast("bigint").alias(self.count_col)
        )
        return obs.groupBy(self.entity_col).agg(*aggs)

    def _merge_state(self, stored: DataFrame, fresh: DataFrame) -> DataFrame:
        """Union of state rows re-aggregated with the SAME rule shapes:
        stored rows are candidates carrying their persisted winning
        keys, so max_by over the union is exactly the fold over the
        concatenated history."""
        both = stored.unionByName(fresh)
        aggs = []
        for out in self.recency_rules:
            k = self._key_col(out)
            aggs.append(F.max_by(out, F.col(k)).alias(out))
            aggs.append(F.max(k).alias(k))
        for out in self.min_cols:
            aggs.append(F.min(out).alias(out))
        for out in self.max_cols:
            aggs.append(F.max(out).alias(out))
        aggs.append(
            F.sum(self.count_col).cast("bigint").alias(self.count_col)
        )
        return both.groupBy(self.entity_col).agg(*aggs)

    def _partial_counts(self, obs: DataFrame) -> DataFrame:
        _out, cat = self.modal
        return obs.groupBy(self.entity_col, cat).agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )

    # -- maintenance ---------------------------------------------------------
    def fold_batch(self, obs: DataFrame, batch_id: int | None = None) -> dict:
        """Fold a micro-batch of new observations into the golden
        records — O(new) aggregation + an |entities|-row state merge,
        never a re-scan of history. Replay-safe by batch-id high-water
        mark (at-least-once foreachBatch delivery folds exactly once);
        a crash between write and flip leaves an orphan version that
        is never read (vacuum reclaims)."""
        with self._writer():
            st = self._state()
            if batch_id is not None and batch_id <= st["last_batch_id"]:
                return {"skipped": True, "version": st["version"]}
            v = st["version"]
            if obs.limit(1).count() == 0:
                # empty micro-batch (idle triggers are routine on a
                # long-running stream): advance the replay mark only —
                # never pay the O(|entities|) state rewrite or mint a
                # version (the postings/IVF empty-batch rule)
                if batch_id is not None:
                    self._flip({**st, "last_batch_id": batch_id})
                return {"skipped": False, "version": v, "empty": True}
            fresh = self._partial_state(obs)
            if v:
                merged = self._merge_state(
                    self.spark.read.parquet(self._path("state", v)), fresh
                )
            else:
                merged = fresh
            merged.write.mode("overwrite").parquet(self._path("state", v + 1))
            if self.modal is not None:
                fc = self._partial_counts(obs)
                if v:
                    cur = self.spark.read.parquet(self._path("counts", v))
                    fc = (
                        cur.unionByName(fc)
                        .groupBy(self.entity_col, self.modal[1])
                        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
                    )
                fc.write.mode("overwrite").parquet(
                    self._path("counts", v + 1)
                )
            self._flip(
                {
                    "version": v + 1,
                    "last_batch_id": (
                        batch_id if batch_id is not None
                        else st["last_batch_id"]
                    ),
                }
            )
            return {"skipped": False, "version": v + 1}

    def foreach_batch(self):
        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            self.fold_batch(batch_df, batch_id)

        return _sink

    # -- serving -------------------------------------------------------------
    def golden(self) -> DataFrame | None:
        """The mastered rows: persisted state minus the internal
        winning-key columns, with the modal vote taken off the counts
        grain (min_by on the inverted-count padded key — ties to the
        smallest category, the batch query's convention)."""
        st = self._state()
        if not st["version"]:
            return None
        state = self.spark.read.parquet(self._path("state", st["version"]))
        out = state.drop(
            *[self._key_col(o) for o in self.recency_rules]
        )
        if self.modal is None:
            return out
        m_out, cat = self.modal
        counts = self.spark.read.parquet(
            self._path("counts", st["version"])
        )
        modal = counts.groupBy(self.entity_col).agg(
            F.min_by(
                cat,
                F.concat(
                    F.lpad(
                        (F.lit(1_000_000_000) - F.col("cnt")).cast("string"),
                        12, "0",
                    ),
                    F.col(cat),
                ),
            ).alias(m_out)
        )
        return out.join(modal, self.entity_col)
