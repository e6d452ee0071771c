"""Spans and counters for the traced run.

A span is (name, start, end, parent) around one call the benchmark makes
into the program; counts attach to the span that was open when they were
taken. Spans stay in memory and are written once, as one JSON file, when
the run ends. With tracing off every method is a cheap no-op, so the
metric runs carry no tracing cost.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: list[str] = []

    @contextmanager
    def span(self, name: str, group: str | None = None, **counts):
        """Record a span. ``group`` also tags every Spark job the calling
        thread starts inside it, so the status store can attribute stages
        and SQL operators to the span afterwards."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.monotonic(),
            "end": None,
            "group": group,
            "counts": dict(counts),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc = self.spark.sparkContext if (group and self.spark is not None) else None
        if sc is not None:
            sc.setJobGroup(group, name)
            self._groups.append(group)
        try:
            yield rec
        finally:
            if sc is not None:
                self._groups.pop()
                if self._groups:
                    sc.setJobGroup(self._groups[-1], self._groups[-1])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            rec["end"] = time.monotonic()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


class StatusStore:
    """Read-only client of Spark's REST status API (UI on only when
    tracing)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def snapshot(self) -> dict:
        jobs = self._get("/jobs")
        stages = {
            s["stageId"]: s
            for s in self._get("/stages")
            if s.get("status") == "COMPLETE"
        }
        sql = self._get("/sql?details=true&planDescription=false&offset=0&length=100000")
        return {"jobs": jobs, "stages": stages, "sql": sql}

    @staticmethod
    def jobs_between(snap: dict, t0: float, t1: float) -> set[int]:
        """Ids of jobs submitted between two wall-clock times."""
        from datetime import datetime

        out = set()
        for j in snap["jobs"]:
            ts = j.get("submissionTime")
            if ts:
                t = datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")
                if t0 <= t.timestamp() <= t1:
                    out.add(j["jobId"])
        return out

    @staticmethod
    def job_stats(snap: dict, job_ids: set[int]) -> dict:
        """Stage, task and SQL-operator totals over a set of jobs."""
        stage_ids = {
            sid for j in snap["jobs"] if j["jobId"] in job_ids for sid in j["stageIds"]
        }
        st = [snap["stages"][s] for s in stage_ids if s in snap["stages"]]
        execs = [
            e for e in snap["sql"]
            if job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", []))
        ]
        return {
            "jobs": len(job_ids),
            "stages": len(st),
            "tasks": sum(s["numCompleteTasks"] for s in st),
            "task_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
            "task_run_s": sum(s["executorRunTime"] for s in st) / 1e3,
            "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in st),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st),
            "scan_tasks": sum(s["numCompleteTasks"] for s in st if s["inputBytes"] > 0),
            "exchanges": sum(
                1 for e in execs for n in e.get("nodes", []) if n["nodeName"] == "Exchange"
            ),
            "nodes": [n for e in execs for n in e.get("nodes", [])],
        }


def node_rows(node: dict) -> int:
    """A SQL operator's "number of output rows" metric (0 when absent)."""
    for m in node.get("metrics", []):
        if m["name"] == "number of output rows":
            return int(str(m["value"]).replace(",", "").split()[0])
    return 0


def jvm_times(spark) -> dict:
    """Cumulative GC and JIT-compile seconds from the JVM's management
    beans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
    return {
        "gc_s": gc_ms / 1e3,
        "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
    }


def storage_mb(spark) -> float:
    """Storage memory held by cached relations."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 2**20
