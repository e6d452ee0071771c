#!/usr/bin/env python
"""Capture .explain("formatted") snapshots of queries' physical plans.

Writes <outdir>/<query>_<suffix>.txt for each named query (default: every
bench HEADLINE query), so before/after plan diffs of a change are
committed evidence:

    python tools/plan_snapshots.py plans/next before          # headline set
    python tools/plan_snapshots.py plans/next after q1 q2 ... # named queries

A "before" set comes from running this script in a checkout of the parent
commit with the same output dir. The fixture tier is
$SPARK_GRAFT_SF_DIR (default: testdata/sf0.1 beside the checkout).
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# default: the sf0.1 tier of the fixture tree beside the checkout
SF_DIR = os.environ.get(
    "SPARK_GRAFT_SF_DIR",
    os.path.join(os.path.dirname(REPO), "testdata", "sf0.1"),
)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("outdir", help="directory the snapshots are written to")
    ap.add_argument("suffix", help="file-name suffix, e.g. before / after")
    ap.add_argument("queries", nargs="*", help="default: bench.HEADLINE")
    args = ap.parse_args(argv)

    from bench import HEADLINE
    from posts_vectorizer_spark.cache import release_caches
    from posts_vectorizer_spark.plans.registry import resolve_query
    from posts_vectorizer_spark.session import get_spark

    spark = get_spark("plan-snapshots")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.outdir, exist_ok=True)
    for name in args.queries or list(HEADLINE):
        df = resolve_query(name)(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(args.outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(
                f"# {name} — explain('formatted') at {SF_DIR}"
                f" ({args.suffix})\n"
            )
            f.write(buf.getvalue())
        print(f"wrote {path}")
        release_caches()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
