"""Query registry: every operator family declared in SURVEY.md §2b gets
a named query with (a) a Spark DataFrame builder and (b) an equivalent
ANSI-SQL oracle string for DuckDB. The driver hash-compares the two at
sf0.01 (order-insensitive, columns sorted by name), so:

- every computed column is aliased identically on both sides;
- money arithmetic is done in DECIMAL on both sides and cast to DOUBLE
  at the end — decimal arithmetic is exact, so the resulting doubles are
  bit-identical regardless of each engine's summation order (doubles
  summed in different orders are NOT, which would break hash-compare);
- top-k queries always order by a total order (explicit tie-break keys);
- exact integers that can exceed 2^53 are emitted as DIGIT STRINGS,
  not doubles: DuckDB's HUGEINT->DOUBLE cast is not correctly rounded
  past 2^53 while Spark's decimal->double is, so a wide double column
  hash-drifts in its last bit (measured in parts_price_dispersion);
- registered query output columns must be SCALAR (no array/map/struct):
  the driver's canonicalizer sorts the result with pandas, and list
  cells crash `sort_values`/`factorize` with "unhashable type: 'list'"
  (seen in CORRECTNESS_r04 for agg_collect_sorted/embedding_centroids).
  Emit `array_join(array_sort(...), ',')` or long-format rows instead;
  keep array-returning operators for engine use only.

Order. ``list(_REGISTRY)`` is registration order: the module order of
``_MODULES``, then definition order within each module. It is frozen.
``all_queries()``/``all_oracle_sql()`` yield the correctness rotation
instead: each correctness round hash-checks the first 50 queries they
yield and leaves one ``CORRECTNESS_r{N}.json`` in the repo root. The
rotation is read from those files: queries with no evidence lead, in
registration order, then the rest, oldest latest-evidence round first,
ties in registration order. An entry is evidence unless its ``err`` is
set to something other than ``"no_oracle"`` (a harness crash means the
query was not checked that round). With no files, every query counts
as never checked and the rotation is registration order.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, sql: str | None):
    """Decorator: add a query builder + its DuckDB oracle SQL (None for
    non-SQL-expressible ops — driver then does a rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name}")
        _REGISTRY[name] = (fn, sql)
        return fn

    return deco


_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def correctness_rounds(root: str = _REPO_ROOT) -> dict[int, dict[str, dict]]:
    """Every ``CORRECTNESS_r{N}.json`` in ``root``, keyed by N."""
    rounds = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)\.json$", path)
        if m:
            with open(path) as fh:
                rounds[int(m.group(1))] = json.load(fh)
    return rounds


def latest_evidence(rounds: dict[int, dict[str, dict]]) -> dict[str, int]:
    """Query name -> the last round whose entry for it is evidence
    (see the module docstring)."""
    last = {}
    for rnd in sorted(rounds):
        for name, entry in rounds[rnd].items():
            if not entry.get("err") or entry["err"] == "no_oracle":
                last[name] = rnd
    return last


def _ordered_names(root: str = _REPO_ROOT) -> list[str]:
    last = latest_evidence(correctness_rounds(root))
    # stable sort: never-checked (0) first, ties in registration order
    return sorted(_REGISTRY, key=lambda n: last.get(n, 0))


def all_queries() -> dict[str, QueryFn]:
    _load()
    return {k: _REGISTRY[k][0] for k in _ordered_names()}


def all_oracle_sql() -> dict[str, str]:
    _load()
    return {k: _REGISTRY[k][1] for k in _ordered_names()
            if _REGISTRY[k][1] is not None}


# Registration order, ``list(_REGISTRY)``: this module order, then
# definition order within each module. It is frozen (append new modules
# at the end); tests/test_query_registry.py pins it by hash.
_MODULES = (
    "dmds_core", "relational", "tpch_extra", "extra_ops", "sampling_q",
    "llm_ops", "llm_dedup", "streaming_batch", "advanced", "llm_extra",
    "llm_extra2", "events_q", "profiling_q", "llm_extra3", "llm_extra4",
    "llm_extra5", "llm_extra6", "llm_extra7", "llm_extra8", "llm_extra9",
    "llm_extra10", "llm_extra11", "llm_extra12", "llm_extra13", "llm_extra14",
    "llm_extra15", "llm_extra16", "llm_extra17", "llm_extra18", "llm_extra19",
    "llm_extra20", "llm_extra21", "round9", "round9b", "round9c", "round9d",
    "round9e", "round9f", "round10", "round10b", "round10c", "round10d",
    "round10e", "round10f", "round10g", "round10h", "round10i", "round11",
    "round12", "round12b", "round12c", "round12d", "round12e", "round12f",
    "round13", "round13b", "round13c", "round13d", "round13e", "round13f",
    "round14", "round14b", "round14c", "round14d", "round14e", "round14f",
    "round15", "round15b", "round15c", "round15d",
)

_LOADED = False


def _load():
    global _LOADED
    if _LOADED:
        return
    # Import for side effect: each module registers its queries. A
    # module imported on its own first (a test importing one builder)
    # registers early, so restore the module order afterwards.
    for m in _MODULES:
        importlib.import_module(f"dmds_spark.queries.{m}")
    rank = {f"dmds_spark.queries.{m}": i for i, m in enumerate(_MODULES)}
    entries = sorted(
        _REGISTRY.items(), key=lambda e: rank[e[1][0].__module__]
    )
    _REGISTRY.clear()
    _REGISTRY.update(entries)
    _LOADED = True
