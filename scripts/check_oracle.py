#!/usr/bin/env python
"""Run the DuckDB-oracle comparison over every registered query.

Usage: python scripts/check_oracle.py [--vanilla] [sf_dir] [query ...]
Default sf_dir: /root/testdata/sf0.01 (the driver's t2 scale).

--vanilla (or SPARK_GRAFT_VANILLA=1): run under a DEFAULT-CONFIG
SparkSession (builder + master only, none of session.py's conf set) —
the environment the correctness driver hands our queries. Green here
proves no query's correctness depends on repo session conf
(partitionOverwriteMode, Arrow, AQE, broadcast threshold, ...).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

from dmds_spark.oracle import run_all  # noqa: E402
from dmds_spark.session import default_cpus, get_spark  # noqa: E402


def main() -> int:
    args = list(sys.argv[1:])
    vanilla = os.environ.get("SPARK_GRAFT_VANILLA", "") == "1"
    if "--vanilla" in args:
        vanilla = True
        args.remove("--vanilla")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = args[1:] or None
    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master(f"local[{default_cpus()}]")
            .appName("oracle_check_vanilla")
            .getOrCreate()
        )
    else:
        spark = get_spark(app_name="oracle_check")
    results = run_all(spark, sf_dir, only=only)
    n_ok = sum(r.ok for r in results)
    for r in results:
        flag = "OK  " if r.ok else "FAIL"
        print(f"{flag} {r.name:32s} rows={r.spark_rows}")
        if not r.ok:
            print(f"     {r.detail}")
    print(f"\n{n_ok}/{len(results)} queries match the oracle")
    return 0 if n_ok == len(results) else 1


if __name__ == "__main__":
    sys.exit(main())
