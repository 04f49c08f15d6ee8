#!/usr/bin/env python
"""Evidence freshness report: join the query registry against every
CORRECTNESS_r*.json and print each query's latest evidence round and
its result, read through the same ``latest_evidence`` rule that orders
``queries()`` (dmds_spark/queries/__init__.py), so the rotation is
auditable at a glance. A round whose entry is a harness error is not
evidence, as in the rotation.

Usage: python scripts/evidence_report.py [--stale-first]
No Spark session needed (registry import only loads query builders).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dmds_spark.queries import (  # noqa: E402
    all_oracle_sql,
    all_queries,
    correctness_rounds,
    latest_evidence,
)


def status_of(entry: dict) -> str:
    if entry.get("hash_match") is True:
        return "green"
    if entry.get("err") == "no_oracle":
        return "rows-only"
    return "mismatch"


def main() -> int:
    rounds = correctness_rounds()
    last = latest_evidence(rounds)
    has_oracle = set(all_oracle_sql())

    report = []
    for name in all_queries():
        rnd = last.get(name)
        status = status_of(rounds[rnd][name]) if rnd else "never-checked"
        report.append(
            {
                "query": name,
                "oracle": name in has_oracle,
                "last_round": rnd,
                "status": status,
            }
        )

    if "--stale-first" in sys.argv:
        report.sort(key=lambda r: (r["last_round"] is not None,
                                   r["last_round"] or 0, r["query"]))

    w = max(len(r["query"]) for r in report)
    for r in report:
        rnd = f"r{r['last_round']:02d}" if r["last_round"] else "---"
        kind = "oracle" if r["oracle"] else "rows  "
        print(f"{r['query']:{w}s}  {kind}  {rnd}  {r['status']}")

    n_green = sum(r["status"] == "green" for r in report)
    n_rows = sum(r["status"] == "rows-only" for r in report)
    n_never = sum(r["status"] == "never-checked" for r in report)
    n_bad = len(report) - n_green - n_rows - n_never
    print(
        f"\n{len(report)} queries: {n_green} hash-green, {n_rows} rows-only,"
        f" {n_never} never-checked, {n_bad} error/mismatch"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
