"""Driver-conditions check: run the head-50 queries (the ~50 the external
correctness driver actually verifies) under a VANILLA SparkSession — plain
builder, Spark 4 defaults (ANSI on), none of posts_vectorizer_spark.session's
tuned confs — and diff each against its DuckDB oracle.

This catches default-conf dependencies the tuned session would mask, which
is exactly the driver's environment. Verify recipe step 4.

Usage:
    python tools/head_check.py            # all _HEAD_ORDER queries
    python tools/head_check.py 37 50      # slice [37:50) of the head
    python tools/head_check.py q1 q2 ...  # explicit query names
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main(argv: list[str]) -> int:
    os.environ["TZ"] = "UTC"
    time.tzset()
    from pyspark.sql import SparkSession

    from tools.oracle_check import compare_query, duckdb_connection

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    import __spark_entry__ as entry_mod
    from posts_vectorizer_spark.plans.registry import _HEAD_ORDER

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    if argv and not argv[0].isdigit():
        names = list(argv)   # explicit query names
    else:
        lo, hi = 0, len(_HEAD_ORDER)
        if len(argv) == 2:
            lo, hi = int(argv[0]), int(argv[1])
        names = list(_HEAD_ORDER)[lo:hi]

    spark = (
        SparkSession.builder.master("local[16]")
        .appName("head-check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_connection(sf_dir)

    failed = []
    for name in names:
        if name not in oracles:
            print(f"SKIP  {name} (no oracle — must not happen in the head)")
            failed.append(name)
            continue
        t0 = time.perf_counter()
        try:
            problems, n = compare_query(
                spark, con, name, qs[name], oracles[name], sf_dir
            )
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {type(e).__name__}: {e}")
            failed.append(name)
            continue
        elapsed = time.perf_counter() - t0
        if problems:
            print(f"FAIL  {name}: " + " | ".join(problems))
            failed.append(name)
        else:
            print(f"OK    {name} ({n} rows, {elapsed:.2f}s)")
        from posts_vectorizer_spark.cache import release_caches

        release_caches()
    print(f"\n{len(names) - len(failed)}/{len(names)} passed")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
