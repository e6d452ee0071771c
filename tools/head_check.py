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
    os.environ["TZ"] = "UTC"  # see oracle_check.main
    time.tzset()
    from pyspark.sql import SparkSession

    from posts_vectorizer_spark.plans.registry import _HEAD_ORDER
    from tools.oracle_check import check_queries

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
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
    return check_queries(spark, names, sf_dir)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
