"""Run one benchmark workload in this (fresh) process and write its raw
result as JSON. Started by run.py, which owns the scratch root, the
timeout and the final metric line; run it directly only for debugging:

    python3 graftbench/worker.py --workload near_dup_scan --inputs DIR \
        --scratch DIR --seconds 10 --trace 0 --out result.json

The worker calls only the program's public entry points: the session
factory, the catalog scan, the tfidf operators, the streaming worker, the
merge sink and the dedup_prefix_filter_join query.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))  # the checkout root holds the program

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import inputs as gen  # noqa: E402
import reference as ref  # noqa: E402
from spans import StatusStore, Tracer, jvm_times, node_rows, storage_mb  # noqa: E402

# JVM heap, pinned (-Xms = -Xmx) so heap growth does not vary run to run.
HEAP = "3g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(scratch: str, trace: bool):
    from posts_vectorizer_spark.session import get_spark

    local = os.path.join(scratch, "local")
    tmp = os.path.join(scratch, "tmp")
    conf = {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    n = cores()
    return get_spark("graftbench", cpus=n, shuffle_partitions=n, extra_conf=conf)


def sink_rows(target_dir: str) -> tuple[int, dict[str, int]]:
    """Total rows of a merge sink and rows per live bucket directory, from
    its manifest and the parquet footers (no Spark job)."""
    with open(os.path.join(target_dir, "_MANIFEST.json")) as f:
        buckets = json.load(f)["buckets"]
    per = {}
    for d in buckets.values():
        full = os.path.join(target_dir, d)
        per[d] = sum(
            pq.ParquetFile(os.path.join(full, x)).metadata.num_rows
            for x in os.listdir(full)
            if x.endswith(".parquet")
        )
    return sum(per.values()), per


def read_sink(target_dir: str, columns: list[str]) -> pa.Table:
    """The committed state of a merge sink, read with pyarrow."""
    with open(os.path.join(target_dir, "_MANIFEST.json")) as f:
        buckets = json.load(f)["buckets"]
    return pa.concat_tables(
        pq.read_table(os.path.join(target_dir, d), columns=columns) for d in buckets.values()
    )


class Workload:
    """Common shape: setup() (session already up), ``warmup_ops``
    untimed operations, op() repeated for the measured window, check().

    Warm-up counts are fixed, not "until per-operation time stops
    falling": on a 4-core host the fall lasts 10-20 operations, more than
    the run budget allows, so every run measures from the same position
    of the fall instead (README.md, "Warm-up and the run budget"). The
    window lasts ``--seconds`` and at least ``min_ops`` operations, so
    the median of a cheap operation rests on several samples."""

    warmup_ops = 1
    min_ops = 1
    docs_per_op = 0

    def __init__(self, spark, args, tracer: Tracer):
        self.spark, self.args, self.tr = spark, args, tracer
        self.inputs = args.inputs
        self.scratch = args.scratch
        self.n_op = 0
        self.sink_calls: list[dict] = []  # traced merge calls
        self.storage = [0.0]

    def load(self, name: str):
        from posts_vectorizer_spark.sources import load_table

        with self.tr.span("plan.build"):
            return load_table(self.spark, self.inputs, name)

    def merge(self, df, target: str, keys: list[str], kind: str):
        """merge_upsert_parquet with, when tracing, a span and the sink's
        footer counts before and after."""
        from posts_vectorizer_spark.sources.sinks import merge_upsert_parquet

        return self._traced_merge(merge_upsert_parquet, self.spark, df, target, keys,
                                  kind=kind, group=f"sink:{self.n_op}:{kind}")

    def _traced_merge(self, fn, spark, df, target, keys, *a, kind="", group=None, **kw):
        if not self.tr.enabled:
            return fn(spark, df, target, keys, *a, **kw)
        exists = os.path.isfile(os.path.join(target, "_MANIFEST.json"))
        before = sink_rows(target)[1] if exists else {}
        with self.tr.span("sinks.merge", group=group) as sp:
            fn(spark, df, target, keys, *a, **kw)
        after = sink_rows(target)[1]
        self.storage.append(storage_mb(self.spark))
        new = [d for d in after if d not in before]
        sp["counts"].update(
            kind=kind, op=self.n_op, buckets_touched=len(new),
            rows_written=sum(after[d] for d in new),
        )
        self.sink_calls.append(sp)

    def progress(self) -> list[dict]:
        """Streaming progress reports (none for batch workloads)."""
        return []

    def stop(self) -> None:
        pass


# ---------------------------------------------------------------------------
# idf_rebuild
# ---------------------------------------------------------------------------


class IdfRebuild(Workload):
    warmup_ops = 1

    def setup(self):
        self.docs = self.load("documents")
        self.emb = self.load("embeddings")
        self.wv_dir = os.path.join(self.scratch, "word_vectors")
        self.dv_dir = os.path.join(self.scratch, "doc_vectors")
        self.docs_per_op = pq.ParquetFile(
            os.path.join(self.inputs, "documents.parquet")
        ).metadata.num_rows
        self.row_counts: list[tuple[int, int]] = []

    def op(self) -> dict:
        from posts_vectorizer_spark.cache import release_caches
        from posts_vectorizer_spark.operators import tfidf

        i = self.n_op
        with self.tr.span("tfidf.word_vectors", group=f"tfidf:{i}:wv"):
            with self.tr.span("plan.build"):
                wv = tfidf.word_vectors(self.docs, self.emb, "en")
            self.merge(wv, self.wv_dir, ["word"], "word_vectors")
        with self.tr.span("tfidf.doc_vectors", group=f"tfidf:{i}:dv"):
            with self.tr.span("plan.build"):
                dv = tfidf.doc_vectors(self.docs, self.emb, "en", apply_flag_filter=False)
            self.merge(dv, self.dv_dir, ["doc_id", "dim"], "doc_vectors")
        release_caches()
        self.row_counts.append((sink_rows(self.wv_dir)[0], sink_rows(self.dv_dir)[0]))
        return {"docs": self.docs_per_op}

    def check(self) -> tuple[list[str], dict]:
        docs = pq.read_table(os.path.join(self.inputs, "documents.parquet")).to_pydict()
        emb = pq.read_table(os.path.join(self.inputs, "embeddings.parquet"))
        e64 = np.asarray(emb.column("embedding").to_pylist(), np.float64)
        table = ref.WordTable(docs["text"], docs["lang"], len(e64))
        en = [(d, t) for d, t, lg in zip(docs["doc_id"], docs["text"], docs["lang"]) if lg == "en"]
        expected = ref.doc_vectors([d for d, _ in en], [t for _, t in en], table, e64)
        wv = read_sink(self.wv_dir, ["word", "idf", "vec_id"]).to_pydict()
        errs = ref.check_word_vectors(
            {w: (i, v) for w, i, v in zip(wv["word"], wv["idf"], wv["vec_id"])}, table
        )
        dv = read_sink(self.dv_dir, ["doc_id", "dim", "component"])
        errs += ref.check_doc_vectors(
            dv.column("doc_id").to_numpy(), dv.column("dim").to_numpy(),
            dv.column("component").to_numpy(), expected,
        )
        want = (len(table.idf), 64 * len(expected))
        for i, rc in enumerate(self.row_counts):
            if rc != want:
                errs.append(f"pass {i}: sink rows {rc}, expected {want}")
                break
        return errs, {"upserted": {"word_vectors": want[0], "doc_vectors": want[1]}}


# ---------------------------------------------------------------------------
# stream_vectorize
# ---------------------------------------------------------------------------


class StreamVectorize(Workload):
    warmup_ops = 2
    min_ops = 5

    def setup(self):
        from posts_vectorizer_spark.streaming import worker as stream_worker

        self.docs = self.load("documents")
        self.emb = self.load("embeddings")
        self.sink = os.path.join(self.scratch, "sink")
        self.src = os.path.join(self.scratch, "landing")
        os.makedirs(self.src)
        with open(os.path.join(self.inputs, "words.json")) as f:
            self.words = json.load(f)
        meta = pq.read_table(
            os.path.join(self.inputs, "documents.parquet"), columns=["doc_id", "lang"]
        ).to_pydict()
        self.edit_pool = np.array([d for d, lg in zip(meta["doc_id"], meta["lang"]) if lg == "en"])
        self.first_new = max(meta["doc_id"]) + 1
        with self.tr.span("sinks.preload", group="preload"):
            self.merge(self.load("preload"), self.sink, ["doc_id", "dim"], "preload")
        if self.tr.enabled:
            # span the sink call the stream makes inside each micro-batch
            real = stream_worker.merge_upsert_parquet

            def traced(spark, df, target, keys, *a, **kw):
                return self._traced_merge(real, spark, df, target, keys, *a, kind="batch", **kw)

            stream_worker.merge_upsert_parquet = traced
        with self.tr.span("stream.dimension_table", group="dimension_table"):
            self.q = stream_worker.vectorize_stream(
                self.spark, self.src, self.docs, self.emb, self.sink,
                os.path.join(self.scratch, "checkpoint"), available_now=False,
            )
        self.batches: list[dict] = []
        self.docs_per_op = gen.BATCH_NEW + gen.BATCH_EDITS + gen.BATCH_OTHER

    def op(self) -> dict:
        from pyspark.sql import functions as F
        from posts_vectorizer_spark.sources.sinks import read_merged

        i = self.n_op
        batch = gen.stream_batch(self.args.seed, i, self.words, self.edit_pool, self.first_new)
        tmp = os.path.join(self.src, f".batch-{i:05d}.parquet")
        pq.write_table(batch, tmp)
        wall_land = time.time()
        t_land = time.monotonic()
        os.rename(tmp, os.path.join(self.src, f"batch-{i:05d}.parquet"))
        with self.tr.span("stream.batch"):
            self.q.processAllAvailable()
        wall_done = time.time()
        ids = batch.column("doc_id").to_pylist()
        with self.tr.span("sinks.read", group=f"read:{i}"):
            with self.tr.span("plan.build"):
                df = read_merged(self.spark, self.sink).where(F.col("doc_id").isin(ids))
            rows = df.select("doc_id", "dim", "component").collect()
        fresh = time.monotonic() - t_land
        total = sink_rows(self.sink)[0]
        self.batches.append({"index": i, "rows": rows, "total": total,
                             "wall": (wall_land, wall_done)})
        return {"docs": batch.num_rows, "fresh_s": fresh}

    def progress(self) -> list[dict]:
        return [json.loads(p.json) for p in self.q.recentProgress]

    def stop(self) -> None:
        self.q.stop()

    def check(self) -> tuple[list[str], dict]:
        docs = pq.read_table(os.path.join(self.inputs, "documents.parquet")).to_pydict()
        emb = pq.read_table(os.path.join(self.inputs, "embeddings.parquet"))
        e64 = np.asarray(emb.column("embedding").to_pylist(), np.float64)
        table = ref.WordTable(docs["text"], docs["lang"], len(e64))
        live = set(
            d for d, t, lg in zip(docs["doc_id"], docs["text"], docs["lang"])
            if lg == "en" and ref.doc_vector(t, table, e64) is not None
        )
        errs: list[str] = []
        upserted = []
        for b in self.batches:
            batch = gen.stream_batch(
                self.args.seed, b["index"], self.words, self.edit_pool, self.first_new
            ).to_pydict()
            en = [
                (d, t) for d, t, lg in zip(batch["doc_id"], batch["text"], batch["lang"])
                if lg == "en"
            ]
            expected = ref.doc_vectors([d for d, _ in en], [t for _, t in en], table, e64)
            upserted.append(64 * len(expected))
            live |= set(expected)
            e = ref.check_stream_batch(b["rows"], batch["doc_id"], expected, b["total"], len(live))
            errs += [f"batch {b['index']}: {x}" for x in e]
        return errs[:10], {"upserted": {"batch": upserted}}


# ---------------------------------------------------------------------------
# near_dup_scan
# ---------------------------------------------------------------------------


class NearDupScan(Workload):
    warmup_ops = 1
    min_ops = 5

    def setup(self):
        from posts_vectorizer_spark.plans.queries_fuzzy import dedup_prefix_filter_join

        self.query = dedup_prefix_filter_join
        self.docs_per_op = pq.ParquetFile(
            os.path.join(self.inputs, "documents.parquet")
        ).metadata.num_rows
        self.results: list[list[tuple]] = []

    def op(self) -> dict:
        from posts_vectorizer_spark.cache import release_caches

        i = self.n_op
        with self.tr.span("dedup.prefix_join", group=f"dedup:{i}"):
            with self.tr.span("plan.build"):
                df = self.query(self.spark, self.inputs)
            rows = [tuple(r) for r in df.collect()]
        release_caches()
        self.results.append(rows)
        return {"docs": self.docs_per_op}

    def check(self) -> tuple[list[str], dict]:
        docs = pq.read_table(os.path.join(self.inputs, "documents.parquet")).to_pydict()
        with open(os.path.join(self.inputs, "meta.json")) as f:
            planted = [tuple(p) for p in json.load(f)["planted_pairs"]]
        cache: dict[str, int] = {}
        sets = {d: ref.shingles(t, cache) for d, t in zip(docs["doc_id"], docs["text"])}
        sets = {d: s for d, s in sets.items() if s}
        errs = ref.check_near_dups(self.results[0], sets, planted)
        first = sorted(self.results[0])
        for i, r in enumerate(self.results[1:], 1):
            if sorted(r) != first:
                errs.append(f"pass {i} returned a different pair set than pass 0")
                break
        return errs, {"result_pairs": len(first)}


WORKLOADS = {
    "idf_rebuild": IdfRebuild,
    "stream_vectorize": StreamVectorize,
    "near_dup_scan": NearDupScan,
}


def proc_status(pid: int, key: str) -> int:
    """A kB field of /proc/<pid>/status (0 if the process is gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def run(args) -> dict:
    tr = Tracer(bool(args.trace))
    t = time.monotonic()
    with tr.span("session.start"):
        spark = start_session(args.scratch, bool(args.trace))
    session_s = time.monotonic() - t
    tr.spark = spark
    wl = WORKLOADS[args.workload](spark, args, tr)
    wl.setup()
    warm = []
    n_warm = wl.warmup_ops if args.size == "full" else 1
    for _ in range(n_warm):
        t0 = time.monotonic()
        with tr.span("warmup"):
            wl.op()
        warm.append(time.monotonic() - t0)
        wl.n_op += 1
    t_first = time.monotonic()
    ops = []
    with tr.span("window"):
        while True:
            t0 = time.monotonic()
            with tr.span("op", op=wl.n_op):
                info = wl.op()
            info["op_s"] = time.monotonic() - t0
            info["index"] = wl.n_op
            ops.append(info)
            wl.n_op += 1
            if time.monotonic() - t_first >= args.seconds and len(ops) >= wl.min_ops:
                break
    t_end = time.monotonic()
    jvm = jvm_times(spark) if args.trace else {}
    snap = StatusStore(spark).snapshot() if args.trace else None
    progress = wl.progress()
    wl.stop()
    jvm_pid = spark.sparkContext._gateway.proc.pid
    rss_kb = sum(proc_status(p, "VmHWM") for p in descendants(os.getpid()))
    errs, facts = wl.check()
    result = {
        "workload": args.workload,
        "first_op_t": t_first,
        "window_s": t_end - t_first,
        "session_s": session_s,
        "ops": ops,
        "warmup_s": warm,
        "failed": 0,
        "errors": errs,
        "peak_rss_mb": rss_kb / 1024,
        "jvm_pid": jvm_pid,
        "cores": cores(),
        "heap": HEAP,
    }
    if args.trace:
        result["layers"] = layer_metrics(wl, tr, snap, progress, jvm, facts, ops)
        tr.write(args.trace_out, {"result": {k: v for k, v in result.items() if k != "ops"},
                                  "status_store": snap, "progress": progress})
    spark.stop()
    return result


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


OPERATOR_METRICS = (
    "tfidf.word_vectors_s", "tfidf.doc_vectors_s", "tfidf.task_cpu_s", "tfidf.shuffle_bytes",
    "tfidf.stages", "tfidf.core_busy", "dedup.shingle_rows", "dedup.candidate_pairs",
    "dedup.result_pairs", "dedup.candidates_per_result", "dedup.task_cpu_s",
    "dedup.shuffle_bytes", "dedup.spill_bytes",
)


def layer_metrics(wl, tr, snap, progress, jvm, facts, ops) -> dict:
    """Per-layer metrics of the measured window, each a median per pass or
    batch unless named otherwise."""
    window = {o["index"] for o in ops}
    n_cores = cores()
    m: dict[str, float] = {
        "session.start_s": tr.durations("session.start")[0],
        "jvm.gc_s": jvm["gc_s"],
        "jvm.jit_compile_s": jvm["jit_s"],
        "cache.storage_mb": max(wl.storage),
    }
    # plan build: Python time inside calls that return lazy DataFrames,
    # summed per operation
    per_op_plan: dict[int, float] = {}
    for s in tr.spans:
        if s["name"] == "plan.build" and s["parent"] is not None:
            op = _op_of(tr, s)
            if op in window:
                per_op_plan[op] = per_op_plan.get(op, 0.0) + s["end"] - s["start"]
    m["plan.build_s"] = _med(per_op_plan.values())
    # Spark jobs of each measured operation: its job groups, plus for the
    # stream the jobs submitted while the batch was being processed
    stream_jobs = {
        b["index"]: StatusStore.jobs_between(snap, *b["wall"]) for b in getattr(wl, "batches", [])
    }
    per_op = []
    for i in sorted(window):
        ids = {
            j["jobId"] for j in snap["jobs"]
            if (j.get("jobGroup") or "").split(":")[1:2] == [str(i)]
        }
        per_op.append(StatusStore.job_stats(snap, ids | stream_jobs.get(i, set())))
    m["plan.exchanges"] = _med(p["exchanges"] for p in per_op)
    m["catalog.scan_tasks"] = _med(p["scan_tasks"] for p in per_op)
    # operator layers: the workload's own layer is measured, the other
    # one is idle and reads 0
    op_layer = {"IdfRebuild": "tfidf", "NearDupScan": "dedup"}.get(type(wl).__name__)
    for name in OPERATOR_METRICS:
        m[name] = 0.0
    if op_layer:
        m[f"{op_layer}.task_cpu_s"] = _med(p["task_cpu_s"] for p in per_op)
        m[f"{op_layer}.shuffle_bytes"] = _med(p["shuffle_bytes"] for p in per_op)
    if op_layer == "tfidf":
        op_s = [o["op_s"] for o in sorted(ops, key=lambda o: o["index"])]
        m["tfidf.word_vectors_s"] = _med(_window_durations(tr, "tfidf.word_vectors", window))
        m["tfidf.doc_vectors_s"] = _med(_window_durations(tr, "tfidf.doc_vectors", window))
        m["tfidf.stages"] = _med(p["stages"] for p in per_op)
        m["tfidf.core_busy"] = _med(
            p["task_run_s"] / (t * n_cores) for p, t in zip(per_op, op_s)
        )
    if op_layer == "dedup":
        m["dedup.spill_bytes"] = _med(p["spill_bytes"] for p in per_op)
        counts = [dedup_counts(p["nodes"]) for p in per_op]
        for k in ("shingle_rows", "candidate_pairs", "result_pairs"):
            m[f"dedup.{k}"] = _med(c[k] for c in counts)
        if m["dedup.result_pairs"]:
            m["dedup.candidates_per_result"] = m["dedup.candidate_pairs"] / m["dedup.result_pairs"]
    # sinks
    calls = [
        c for c in wl.sink_calls
        if c["counts"]["op"] in window and c["counts"]["kind"] != "preload"
    ]
    # rows handed to the sink, from the reference (equal to the program's
    # count whenever the checks pass); per batch for the stream
    upserted = facts.get("upserted", {})
    rows_up = []
    for c in calls:
        v = upserted[c["counts"]["kind"]]
        rows_up.append(v[c["counts"]["op"]] if isinstance(v, list) else v)
    m["sinks.merge_ms"] = _med((c["end"] - c["start"]) * 1e3 for c in calls)
    m["sinks.rows_upserted"] = _med(rows_up)
    m["sinks.rows_written"] = _med(c["counts"]["rows_written"] for c in calls)
    m["sinks.buckets_touched"] = _med(c["counts"]["buckets_touched"] for c in calls)
    m["sinks.write_amplification"] = (
        sum(c["counts"]["rows_written"] for c in calls) / sum(rows_up) if sum(rows_up) else 0.0
    )
    m["sinks.read_ms"] = _med(d * 1e3 for d in _window_durations(tr, "sinks.read", window))
    # streaming
    dim = tr.durations("stream.dimension_table")
    m["stream.dimension_table_s"] = dim[0] if dim else 0.0
    keys = {"trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
            "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets",
            "latest_offset_ms": "latestOffset", "query_planning_ms": "queryPlanning"}
    active = [p for p in progress if p.get("numInputRows", 0) > 0][-len(window):]
    for name, key in keys.items():
        m[f"stream.{name}"] = _med(p["durationMs"].get(key, 0) for p in active)
    batches = [b for b in getattr(wl, "batches", []) if b["index"] in window]
    per_batch = [StatusStore.job_stats(snap, stream_jobs[b["index"]]) for b in batches]
    m["stream.jobs_per_batch"] = _med(p["jobs"] for p in per_batch)
    m["stream.stages_per_batch"] = _med(p["stages"] for p in per_batch)
    m["stream.tasks_per_batch"] = _med(p["tasks"] for p in per_batch)
    return m


def _op_of(tr, span) -> int | None:
    """Index of the enclosing 'op' span, if any."""
    p = span["parent"]
    while p is not None:
        s = tr.spans[p]
        if s["name"] == "op":
            return s["counts"]["op"]
        p = s["parent"]
    return None


def _window_durations(tr, name, window):
    return [
        s["end"] - s["start"] for s in tr.spans
        if s["name"] == name and _op_of(tr, s) in window
    ]


def dedup_counts(nodes: list[dict]) -> dict:
    """Row counts of the prefix join's operators. Node ids number the plan
    from its root down, so the first operator with a row count is the last
    verification join (its rows are the result pairs) and the first
    HashAggregate is the per-pair overlap count over the candidate pairs
    (one group per candidate). Shingle rows come out of the explode
    (Generate) over the cached shingle arrays."""
    nodes = sorted(nodes, key=lambda n: n["nodeId"])
    counted = [
        n for n in nodes if any(m["name"] == "number of output rows" for m in n["metrics"])
    ]
    aggs = [n for n in counted if n["nodeName"] == "HashAggregate"]
    return {
        "shingle_rows": max(
            (node_rows(n) for n in nodes if n["nodeName"] == "Generate"), default=0
        ),
        "candidate_pairs": node_rows(aggs[0]) if aggs else 0,
        "result_pairs": node_rows(counted[0]) if counted else 0,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--trace-out", default="")
    ap.add_argument("--size", default="full")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    result = run(args)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
