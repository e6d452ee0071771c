"""Steadiness check: run each workload N times in fresh processes, one seed
per run, and print each end-to-end metric's median, quartiles, spread
(interquartile range over median) and largest deviation from the median,
against the metric's bound in BENCHMARK.json.

    python3 graftbench/steady.py --runs 10 [--workloads idf_rebuild,...]
        [--seed-base 1] [--seconds S]

Runs go one after another, never side by side. Raw results are written
to ``.graftbench/steady-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> dict | None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    wall = time.monotonic() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  {workload} seed {seed}: exit {p.returncode}, no result", flush=True)
        return None
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    return res


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seed-base", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args(argv)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    report: dict = {"args": vars(args), "workloads": {}}
    ok = True
    for w in args.workloads.split(","):
        runs = []
        for i in range(args.runs):
            r = run_once(w, args.seed_base + i, args.seconds)
            if r is None:
                ok = False
                continue
            runs.append(r)
            vals = {k: round(v["value"], 4) for k, v in r["metrics"].items()}
            print(f"  {w} seed {args.seed_base + i}: {r['wall_s']:.1f} s wall,"
                  f" correct={r['correct']} failed={r['failed']}/{r['attempted']} {vals}",
                  flush=True)
        report["workloads"][w] = runs
        if len(runs) < 2:
            continue
        shares = {r["failed"] / r["attempted"] for r in runs}
        print(f"{w}: {len(runs)} runs, all correct={all(r['correct'] for r in runs)},"
              f" failed shares {sorted(shares)}, mean wall"
              f" {statistics.mean(r['wall_s'] for r in runs):.1f} s")
        print(f"  {'metric':<28}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}"
              f"{'maxdev':>9}{'bound':>7}")
        for name in runs[0]["metrics"]:
            xs = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            maxdev = max(abs(x - med) for x in xs) / med if med else float("nan")
            b = bounds.get(name)
            flag = ""
            if b is not None and name != "setup_s" and spread > b / 3:
                flag = "  <- spread above a third of the bound"
                ok = ok and spread <= b
            print(f"  {name:<28}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{spread:>9.3f}"
                  f"{maxdev:>9.3f}{(b if b is not None else float('nan')):>7.2f}{flag}")
    os.makedirs(os.path.join(ROOT, ".graftbench"), exist_ok=True)
    out = os.path.join(ROOT, ".graftbench", f"steady-{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(out, "w") as f:
        json.dump(report, f)
    print(f"raw results: {out}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
