"""Spark-vs-DuckDB scaling crossover (VERDICT r7 item 2, generalized r8).

r7's one standing perf-weak flag: at sf0.1 the flagship `tfidf_doc_vectors`
is ~5x slower than the DuckDB 32-thread comparator — but the evidence says
that gap is Spark's fixed per-query constant (JIT/codegen floor ~1.9 s,
wall nearly flat at 1.3x under 10x data) rather than a plan defect. This
tool measures the claim head-on: it times BOTH engines on the SAME scaled
inputs at 1x/3x/10x/30x of sf0.1 and records the scale where Spark's flat
floor beats DuckDB's growth, pinning the crossover instead of projecting it.

Scaling is the docs_plain recipe from tools/scale_trend.py: k plain copies
of `documents` with shifted doc_ids — same vocabulary, k*x docs, so the
vocab-sized broadcast/dimension side stays FIXED while the fact side grows
(the 100 TB asymmetry). The scaled table is written by DuckDB as a single
parquet file so both engines scan identical bytes; all other tables are
symlinked unscaled.

Usage:  python tools/crossover.py                       # flagship, plain copies
        python tools/crossover.py dedup_minhash_near_dups disjoint
        CROSSOVER_SCALES=1,3,10 python tools/crossover.py
The second arg picks the documents-scaling recipe: "plain" (doc_id-shifted
copies — fixed vocabulary, the TF-IDF asymmetry) or "disjoint" (every word
of copy k suffixed _k — copies are content-disjoint, so duplicate GROUPS
replicate per copy instead of exploding quadratically across copies: the
honest dedup scaling from tools/scale_trend.py).
Results table lives in BASELINE.md (crossover section).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WORKDIR = "/tmp/crossover"
ID_OFFSET = 10_000_000
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _scaled_dir(sf_dir: str, k: int, mode: str = "plain") -> str:
    """Directory with ONE table scaled k-x (single parquet file, written
    by DuckDB) and every other table symlinked unscaled. Modes "plain" /
    "disjoint" scale documents (see module doc); "events" scales events
    with BOTH ids shifted (k-times more users of the same history — the
    100 TB user-event shape, as in tools/scale_trend.py); "lineitem"
    scales lineitem with shifted l_orderkey (fixed Q1 key space)."""
    import duckdb

    scaled = "documents" if mode in ("plain", "disjoint") else mode
    d = f"{WORKDIR}/sf_{mode}_{k}x"
    os.makedirs(d, exist_ok=True)
    for t in TABLES:
        if t == scaled:
            continue
        link = f"{d}/{t}.parquet"
        if not os.path.exists(link):
            os.symlink(f"{sf_dir}/{t}.parquet", link)
    out = f"{d}/{scaled}.parquet"
    if not os.path.exists(out):
        con = duckdb.connect()

        def arm(i):
            if scaled == "documents":
                text = (
                    "text" if (mode == "plain" or i == 0)
                    else rf"regexp_replace(text, '(\S+)', '\1_{i}', 'g')"
                )
                return (
                    f"SELECT doc_id + {i * ID_OFFSET} AS doc_id,"
                    f" {text} AS text, lang, source, n_chars FROM src"
                )
            if scaled == "events":
                return (
                    f"SELECT event_id + {i * ID_OFFSET} AS event_id, ts,"
                    f" user_id + {i * ID_OFFSET} AS user_id,"
                    f" event_type, value, props FROM src"
                )
            if scaled == "lineitem":
                return (
                    f"SELECT * REPLACE (l_orderkey + {i * ID_OFFSET}"
                    f" AS l_orderkey) FROM src"
                )
            raise SystemExit(f"unknown crossover mode: {mode}")

        union = " UNION ALL ".join(arm(i) for i in range(k))
        con.execute(
            f"COPY (WITH src AS (SELECT * FROM"
            f" read_parquet('{sf_dir}/{scaled}.parquet')) {union})"
            f" TO '{out}' (FORMAT PARQUET)"
        )
        con.close()
    return d


def main() -> int:
    os.environ["TZ"] = "UTC"
    time.tzset()
    import duckdb

    import bench
    from posts_vectorizer_spark.plans.registry import (
        resolve_oracle,
        resolve_query,
    )

    sf_dir = bench.SF_DIR
    scales = tuple(
        int(s) for s in os.environ.get("CROSSOVER_SCALES", "1,3,10,30").split(",")
    )

    qname = sys.argv[1] if len(sys.argv) > 1 else "tfidf_doc_vectors"
    mode = sys.argv[2] if len(sys.argv) > 2 else "plain"

    shutil.rmtree(WORKDIR, ignore_errors=True)
    flagship = resolve_query(qname)
    oracle = resolve_oracle(qname)

    spark = bench.session("crossover")
    n_threads = os.cpu_count() or 32

    runs = []
    bench.force(flagship(spark, _scaled_dir(sf_dir, scales[0], mode)))  # warmup
    for k in scales:
        d = _scaled_dir(sf_dir, k, mode)
        spark_best = min(
            bench.run_once(spark, lambda: flagship(spark, d))[0]
            for _ in range(2)
        )

        duck_best = None
        rows = 0
        for _ in range(2):
            con = duckdb.connect()  # fresh connection: no result cache
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM"
                    f" read_parquet('{d}/{t}.parquet')"
                )
            t0 = time.perf_counter()
            rows = len(con.execute(oracle).fetchall())
            duck_best = min(duck_best or 9e9, time.perf_counter() - t0)
            con.close()

        runs.append({
            "scale": k,
            "spark_s": round(spark_best, 3),
            "duckdb_s": round(duck_best, 3),
            "spark_over_duckdb": round(spark_best / duck_best, 2),
            "rows": rows,
        })
        print(f"# {runs[-1]}", file=sys.stderr)

    crossed = [r["scale"] for r in runs if r["spark_s"] <= r["duckdb_s"]]
    result = {
        "metric": "spark_vs_duckdb_crossover",
        "query": qname,
        "scaling_mode": mode,
        "sf_dir": sf_dir,
        "threads": n_threads,
        "runs": runs,
        "crossover_scale": min(crossed) if crossed else None,
    }
    if not crossed and len(runs) >= 2:
        # both engines' growth between the last two points, extrapolated
        a, b = runs[-2], runs[-1]
        ds = (b["spark_s"] - a["spark_s"]) / (b["scale"] - a["scale"])
        dd = (b["duckdb_s"] - a["duckdb_s"]) / (b["scale"] - a["scale"])
        if dd > ds:
            result["extrapolated_crossover_scale"] = round(
                b["scale"] + (b["spark_s"] - b["duckdb_s"]) / (dd - ds), 1
            )
    shutil.rmtree(WORKDIR, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
