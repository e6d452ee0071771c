#!/usr/bin/env python
"""The engine's measurement harness, at $SPARK_GRAFT_SF_DIR (default sf0.1).

    python bench.py                         # headline benchmark
    python bench.py time [-n N] [query ...] # per-query timing + stage records
    python bench.py plans OUT.md [query ...] # explain("formatted") snapshot

With no arguments it prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {"q": sec, ...}, "sf": ...}

Each query is forced end-to-end with the `noop` sink (full execution, no
driver-side collect bottleneck), timed wall-clock. `value` is the sum of all
query times — lower is better. Queries cover every operator family from
SURVEY.md §2: scan/filter, join+agg, windows, TF-IDF flagship, dedup,
similarity search, text analysis, event-time windows.

`time` runs each query (default: every registered query) N times (default
2) after the headline's warmups and prints one JSON document last: per-run
wall and stage deltas, the floor (min of the last max(1, N // 3) runs — at
N=2 the run after one warm run, at N=15 the converged floor after tiered
JIT has compiled the codegen'd paths), the committed BENCH_BASELINE.json
value, and the last run's per-stage records in submission order (a
scheduling gap is a stage submitted after the previous one completed). A
query that raises is listed under "errors" and the loop goes on. Reading
the deltas across runs separates the regression classes:
  - JIT position: early runs slow, floor <= committed, stage metrics flat;
  - machine contention: wall up, task and cpu time flat;
  - plan or code change: floor > committed, cpu time or shuffle bytes moved.

`plans` writes one `## name` section of `explain("formatted")` per query
(default: HEADLINE) — the PLANS.md layout; a before/after plan snapshot of
a change is two such files and a `diff`.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
import traceback

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from posts_vectorizer_spark.cache import release_caches  # noqa: E402
from posts_vectorizer_spark.session import get_spark  # noqa: E402
from posts_vectorizer_spark.sources import load_table  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    # flagship TF-IDF pipeline (scan -> tokenize -> TF -> join -> weighted sum)
    "tfidf_doc_vectors",
    "tfidf_idf_table",
    # relational core
    "rel_scan_filter_project",
    "rel_groupby_agg",
    "rel_join_broadcast_agg",
    "rel_window_topk_per_group",
    "rel_cube",
    # event-time windows
    "events_tumbling_window",
    "events_session_window",
    # LLM-pipeline extensions
    "dedup_exact_keep_first",
    "dedup_minhash_near_dups",
    "sim_cosine_topk",
    "text_quality_profile",
    # r8 widening (VERDICT r7 item 5): one query per newest operator
    # family so the contract tracks them — committed numbers from
    # solo converged floors (`bench.py time -n 15`) + ~10%
    "rel_ddsketch_quantiles",      # sketch family
    "dedup_sorted_neighborhood",   # blocking family
    "events_funnel_attribution",   # attribution / range-join family
    # r9 widening (VERDICT r8 item 5): one query per newest family of
    # the r9 introduction wave, same solo-floor methodology
    "sim_dim_covariance",          # vector-stats family
    "text_kneser_ney_bigram",      # LM-scoring family
    "multimodal_png_ingest",       # real-codec family (compressed)
    # r10 widening (VERDICT r9 item 5): the heaviest r10-introduced
    # codec and one streaming sketch-maintenance drain, so the contract
    # tracks the ledgered-sink family; committed = solo floor + ~10%
    "multimodal_gif_ingest",       # adaptive-dictionary LZW codec
    "stream_cms_drain",            # streaming sketch maintenance
    # r13 widening (VERDICT r12 item 4): the two heaviest r12-optimized
    # non-headline families move under driver measurement so their
    # claimed wins carry a driver artifact — the shingle prefix-filter
    # join (dedup family, r12: 29.8 -> 5.0 s) and the LSH-edge HITS
    # iteration (graph family, r12: 46.8 -> 14.5 s; r13 lineage-cut and
    # literal work brought both to ~3.5 s in-series). Additions only;
    # all 21 prior queries and bands kept.
    "dedup_prefix_filter_join",    # shingle prefix-filter join family
    "sim_hits_ann",                # iterative graph (LSH edge producer)
]


def force(df) -> int:
    """Fully execute a DataFrame without materializing rows on the driver."""
    df.write.mode("overwrite").format("noop").save()
    return 0


def session(app_name: str = "bench"):
    """The harness session: engine defaults, UI on (the stage helpers read
    the UI REST API), logging at ERROR."""
    spark = get_spark(app_name, extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm(spark, sf_dir: str) -> None:
    """Warm one-time session machinery so the first timed query measures
    the query, not session startup."""
    # JIT/codegen compile, shuffle + writer init, parquet footer reads
    force(spark.range(100_000).selectExpr("id % 97 AS k").groupBy("k").count())
    # pre-spawn the Python/Arrow workers the mapInPandas queries reuse
    force(
        spark.range(1024, numPartitions=32).mapInPandas(
            lambda it: it, "id long"
        )
    )
    # Full-scan (not limit-N) warmup: loads the OS page cache and decodes
    # every row group once, so the first timed query measures the query,
    # not a cold VM's first read of the files. The tables total a few
    # hundred MB at sf0.1 — cheap relative to one mistimed query.
    for t in ("documents", "embeddings", "lineitem", "orders", "events"):
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            force(load_table(spark, sf_dir, t))


def stage_snapshot(spark) -> dict:
    """Completed-stage metrics keyed by (stageId, attemptId), read from the
    Spark UI REST API (the public face of the app status store). Lets the
    bench attribute wall-clock to executor task time / shuffle volume, so a
    regression caused by machine contention (task time flat, wall up) is
    distinguishable from a plan change (shuffle bytes or task time moved) —
    r2's +28% total was unexplainable without this."""
    import urllib.request

    try:
        base = spark.sparkContext.uiWebUrl
        if not base:
            return {}
        app_id = spark.sparkContext.applicationId
        url = f"{base}/api/v1/applications/{app_id}/stages?status=complete"
        with urllib.request.urlopen(url, timeout=5) as r:
            stages = json.load(r)
    except Exception:
        return {}
    return {(s["stageId"], s["attemptId"]): s for s in stages}


def settled_snapshot(spark) -> dict:
    """Snapshot after the status store catches up (its listener queue is
    async w.r.t. job completion): poll until the key set is unchanged for
    TWO consecutive polls — one agreeing poll can race a still-draining
    listener queue and misattribute late stages to the next query."""
    snap = stage_snapshot(spark)
    stable = 0
    for _ in range(20):
        time.sleep(0.05)
        nxt = stage_snapshot(spark)
        if set(nxt) == set(snap):
            stable += 1
            if stable >= 2:
                return nxt
        else:
            stable = 0
        snap = nxt
    return snap


def diff_metrics(before: dict, after: dict) -> dict:
    new = [s for k, s in after.items() if k not in before]
    return {
        "stages": len(new),
        "task_time_ms": sum(s.get("executorRunTime", 0) for s in new),
        # run time includes time blocked on broadcast/subquery futures —
        # CPU time is the actual-work signal when the two diverge
        "cpu_time_ms": sum(s.get("executorCpuTime", 0) for s in new) // 1_000_000,
        "input_bytes": sum(s.get("inputBytes", 0) for s in new),
        "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in new),
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in new),
    }


def run_once(spark, build) -> tuple[float, dict]:
    """Force ``build()`` once — plan build inside the timed region — then
    release its caches. Returns (wall seconds, settled stage snapshot after
    the run); diff_metrics against the snapshot before gives its stages."""
    t0 = time.perf_counter()
    force(build())
    wall = time.perf_counter() - t0
    release_caches()  # per-query caches don't outlive their run
    return wall, settled_snapshot(spark)


def headline(spark) -> None:
    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1)) if m else -1.0
    queries = entrymod.queries()
    warm(spark, SF_DIR)

    timings: dict[str, float] = {}
    metrics: dict[str, dict] = {}
    snap = settled_snapshot(spark)
    for name in HEADLINE:
        fn = queries[name]
        # best-of-3: the first run pays per-query whole-stage-codegen JIT
        # compile (a per-process cost, amortized away on any long-lived
        # deployment) plus scheduler noise, and on a freshly booted VM the
        # C2 compiler can still be busy during the SECOND run (observed:
        # 9.2s / 6.7s / 2.6s for the same flagship query back-to-back);
        # the min is the stable signal. Stage metrics recorded for the
        # best run.
        best = float("inf")
        for _ in range(3):
            elapsed, after = run_once(spark, lambda: fn(spark, SF_DIR))
            if elapsed < best:
                best = elapsed
                metrics[name] = diff_metrics(snap, after)
            snap = after
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    emit(timings, metrics, total, sf)


_STAGE_FIELDS = (
    "stageId", "attemptId", "name", "numCompleteTasks", "executorRunTime",
    "executorCpuTime", "inputBytes", "shuffleReadBytes", "shuffleWriteBytes",
    "submissionTime", "completionTime",
)


def time_queries(spark, names: list[str], n: int) -> dict:
    """The `time` subcommand's report (see the module doc)."""
    queries = entrymod.queries()
    warm(spark, SF_DIR)
    with open(os.path.join(REPO, "BENCH_BASELINE.json")) as f:
        committed = json.load(f)["queries"]

    report: dict[str, dict] = {}
    errors: dict[str, str] = {}
    snap = settled_snapshot(spark)
    for name in names:
        walls, deltas = [], []
        try:
            fn = queries[name]
            for run in range(n):
                wall, after = run_once(spark, lambda: fn(spark, SF_DIR))
                d = diff_metrics(snap, after)
                new = [s for k, s in after.items() if k not in snap]
                snap = after
                walls.append(round(wall, 3))
                deltas.append(d)
                print(
                    f"{name} run {run + 1:2d}: wall={wall:6.3f}s "
                    f"task={d['task_time_ms']:7d}ms cpu={d['cpu_time_ms']:7d}ms "
                    f"shufW={d['shuffle_write_bytes']:10d}",
                    file=sys.stderr,
                )
        except Exception:
            errors[name] = traceback.format_exc(limit=1)
            print(f"{name} ERROR: {errors[name]}", file=sys.stderr)
            release_caches()
            snap = settled_snapshot(spark)
            continue
        new.sort(key=lambda s: s["submissionTime"])
        report[name] = {
            "walls": walls,
            "stage_deltas": deltas,
            "floor_sec": min(walls[-max(1, n // 3):]),
            "committed_sec": committed.get(name),
            "last_run_stages": [
                {k: s.get(k) for k in _STAGE_FIELDS} for s in new
            ],
        }
    return {"sf_dir": SF_DIR, "n": n, "queries": report, "errors": errors}


def write_plans(spark, sf_dir: str, out_path: str, names: list[str]) -> None:
    """Write one `## name` section of explain("formatted") per query."""
    queries = entrymod.queries()
    out = [
        "# PLANS — `.explain(\"formatted\")` physical plans",
        "",
        f"Generated by `python bench.py plans` at {sf_dir}. These are the",
        "physical plans behind SCALE.md's claims; `tests/test_plans.py`",
        "asserts the load-bearing properties (broadcasts, pushdown, no",
        "cartesian products, shuffle-free minhash signatures).",
        "",
    ]
    for name in names:
        df = queries[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {name}\n\n```\n{plan.rstrip()}\n```\n")
        release_caches()  # a build that persisted must not pin memory
    with open(out_path, "w") as f:
        f.write("\n".join(out))


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd")
    t = sub.add_parser("time", help="time queries N times each")
    t.add_argument("-n", type=int, default=2, help="runs per query")
    t.add_argument("queries", nargs="*", help="default: every query")
    p = sub.add_parser("plans", help="write explain(formatted) sections")
    p.add_argument("out", help="markdown file to write")
    p.add_argument("queries", nargs="*", help="default: HEADLINE")
    args = ap.parse_args(argv)
    if args.cmd == "time" and args.n < 1:
        ap.error("-n must be at least 1")

    spark = session()
    if args.cmd == "time":
        names = args.queries or list(entrymod.queries())
        report = time_queries(spark, names, args.n)
        print(json.dumps(report, indent=1))
    elif args.cmd == "plans":
        write_plans(spark, SF_DIR, args.out, args.queries or HEADLINE)
    else:
        headline(spark)


def headline_line(timings: dict[str, float], total: float, sf: float) -> str:
    """The ONE stdout line the driver tail-parses. Kept as a function so
    tests can pin the <1 KB contract (r3's BENCH artifact was lost to a
    2.6 KB line overflowing the driver's ~2000-byte tail capture)."""
    return json.dumps({
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    })


def emit(timings: dict, metrics: dict, total: float, sf: float) -> None:
    # Stage metrics go to stderr + a sidecar file, NEVER into the stdout
    # headline line: the driver's tail capture is ~2000 bytes, and r3's
    # inlined metrics pushed the line to 2.6 KB, making BENCH_r03 unparseable.
    # The final stdout line must stay compact (<1 KB) and be the LAST line.
    sidecar = os.path.join(REPO, "BENCH_STAGES.json")
    try:
        with open(sidecar, "w") as f:
            json.dump({str(k): v for k, v in metrics.items()}, f, indent=1)
    except OSError:
        pass
    print(json.dumps({"stage_metrics": metrics}), file=sys.stderr)
    print(headline_line(timings, total, sf))


if __name__ == "__main__":
    main(sys.argv[1:])
