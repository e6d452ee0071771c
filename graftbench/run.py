"""Benchmark entry point: one workload, one seed, one fresh worker process.

    python3 graftbench/run.py --workload idf_rebuild --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints, as the last line of stdout, one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). Everything else goes to stderr.

Run hygiene: inputs are generated (or taken from the per-seed cache)
before the worker starts; the worker gets its own scratch root under
``.graftbench/scratch`` that is removed on exit, also on failure or
SIGTERM, and scratch left by an earlier run that died is reported and
removed. A run record with the host's load average and CPU steal time
over the run is written to ``.graftbench/runs``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".graftbench")
WORKLOADS = ("idf_rebuild", "stream_vectorize", "near_dup_scan")
DEADLINE_S = 150  # the whole run, input generation included; runs take ~40 s


def log(msg: str) -> None:
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def cpu_steal_jiffies() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8])  # cpu user nice system idle iowait irq softirq steal


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def sweep_leftovers(scratch_root: str) -> None:
    """Report and remove scratch roots whose owning run is gone."""
    if not os.path.isdir(scratch_root):
        return
    for entry in os.listdir(scratch_root):
        pid = entry.split("-")[1] if entry.startswith("run-") else ""
        if pid.isdigit() and alive(int(pid)):
            continue
        log(f"removing scratch left by an earlier run: {entry}")
        shutil.rmtree(os.path.join(scratch_root, entry), ignore_errors=True)


def group_pids(pgid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(d))
    return out


def stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started (the JVM), and wait until
    all of it has ended."""
    pgid = proc.pid
    # a worker that exited on its own leaves the JVM shutting down: give it
    # time to finish before signalling
    t_end = time.monotonic() + (10 if proc.poll() is not None else 0)
    while time.monotonic() < t_end and group_pids(pgid):
        time.sleep(0.1)
    for sig, wait_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        pids = group_pids(pgid)
        if not pids and proc.poll() is not None:
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            pass
        t_end = time.monotonic() + wait_s
        while time.monotonic() < t_end:
            proc.poll()
            if not group_pids(pgid):
                return
            time.sleep(0.1)
    proc.wait(timeout=5)


def median(xs) -> float:
    return float(statistics.median(xs))


def end_to_end(raw: dict, t_spawn: float) -> dict:
    ops = raw["ops"]
    op_s = median(o["op_s"] for o in ops)
    docs = median(o["docs"] for o in ops)
    if "fresh_s" in ops[0]:
        fresh = median(o["fresh_s"] for o in ops)
    else:  # a batch pass: its input is present when it starts
        fresh = op_s
    return {
        "setup_s": {"value": raw["first_op_t"] - t_spawn, "unit": "s"},
        "docs_per_s": {"value": docs / op_s, "unit": "docs/s"},
        "fresh_p50_ms": {"value": fresh * 1e3, "unit": "ms"},
        "peak_rss_mb": {"value": raw["peak_rss_mb"], "unit": "MB"},
    }


LAYER_UNITS = {
    "_s": "s", "_ms": "ms", "_mb": "MB", "_bytes": "bytes", "core_busy": "ratio",
    "amplification": "ratio", "per_result": "ratio",
}


def layer_unit(name: str) -> str:
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: self-test inputs and a one-operation warm-up")
    args = ap.parse_args(argv)
    t_start = time.monotonic()

    if not os.path.isdir(os.path.join(ROOT, "posts_vectorizer_spark")):
        log(f"the program (posts_vectorizer_spark) is not in {ROOT}")
        return 2
    sys.path.insert(0, HERE)
    import inputs

    sweep_leftovers(os.path.join(STATE, "scratch"))
    scratch = os.path.join(STATE, "scratch", f"run-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(scratch, sub))
    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    record: dict = {"args": vars(args), "load_before": loadavg()}
    proc = None

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    try:
        t = time.monotonic()
        size = None if args.size == "full" else "tiny"
        inp = inputs.build(args.workload, args.seed, os.path.join(STATE, "cache"), size)
        record["inputs_s"] = time.monotonic() - t
        out = os.path.join(scratch, "result.json")
        trace_out = os.path.join(STATE, "traces", tag + ".json")
        env = dict(os.environ)
        env.update({
            "TMPDIR": os.path.join(scratch, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(scratch, "local"),
            "SPARK_GRAFT_SCRATCH": os.path.join(scratch, "tmp"),
        })
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--inputs", inp, "--scratch", scratch,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--trace-out", trace_out,
            "--size", args.size, "--out", out,
        ]
        steal0 = cpu_steal_jiffies()
        t_spawn = time.monotonic()
        proc = subprocess.Popen(
            cmd, cwd=scratch, env=env, stdout=sys.stderr, start_new_session=True
        )
        try:
            code = proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            log("worker exceeded the run deadline; stopping it")
            code = None
        stop_group(proc)
        record["steal_s"] = (cpu_steal_jiffies() - steal0) / os.sysconf("SC_CLK_TCK")
        record["load_after"] = loadavg()
        if code != 0 or not os.path.isfile(out):
            log(f"worker failed (exit code {code})")
            return 1
        with open(out) as f:
            raw = json.load(f)
        record["raw"] = raw
        if args.trace:
            metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in raw["layers"].items()}
            record["trace_file"] = trace_out
        else:
            metrics = end_to_end(raw, t_spawn)
        for e in raw["errors"]:
            log(f"check failed: {e}")
        result = {
            "correct": not raw["errors"],
            "attempted": len(raw["ops"]) + len(raw["warmup_s"]),
            "failed": raw["failed"],
            "metrics": metrics,
        }
        record["result"] = result
        log(
            f"{args.workload} seed {args.seed}: {len(raw['ops'])} measured operations,"
            f" load {record['load_before']} -> {record['load_after']},"
            f" steal {record['steal_s']:.2f} s"
        )
        print(json.dumps(result), flush=True)
        return 0
    finally:
        if proc is not None and proc.poll() is None:
            stop_group(proc)
        shutil.rmtree(scratch, ignore_errors=True)
        with open(os.path.join(STATE, "runs", tag + ".json"), "w") as f:
            json.dump(record, f)


if __name__ == "__main__":
    sys.exit(main())
