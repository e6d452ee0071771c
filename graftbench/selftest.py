"""Self-tests of the benchmark itself.

    python3 graftbench/selftest.py [--skip-runs]

1. Each check passes on correct outputs and fails on a deliberately
   corrupted one: a changed component, a changed idf, a dropped or
   invented near-duplicate pair, a stale edit, a missing dimension and a
   wrong sink row count. Outputs are built from the reference on the
   tiny inputs, so this part needs no Spark.
2. A tiny-size run of each workload through run.py passes its checks.
3. run.py exits non-zero, printing no result, in a directory that holds
   the benchmark but not the program.

Exits 0 when every test passes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
from itertools import combinations

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs as gen  # noqa: E402
import reference as ref  # noqa: E402

CACHE = os.path.join(ROOT, ".graftbench", "selftest")
FAILS: list[str] = []


def expect(name: str, errs: list[str], should_fail: bool) -> None:
    ok = bool(errs) == should_fail
    print(f"{'ok  ' if ok else 'FAIL'} {name}: {errs[:1] if errs else 'no problems'}")
    if not ok:
        FAILS.append(name)


def corpus(workload: str):
    d = gen.build(workload, 1, CACHE, "tiny")
    docs = pq.read_table(os.path.join(d, "documents.parquet")).to_pydict()
    emb = pq.read_table(os.path.join(d, "embeddings.parquet"))
    e64 = np.asarray(emb.column("embedding").to_pylist(), np.float64)
    return d, docs, e64


def long_rows(vectors: dict[int, np.ndarray]):
    ids = sorted(vectors)
    doc_id = np.repeat(ids, 64)
    dim = np.tile(np.arange(64), len(ids))
    comp = np.concatenate([vectors[d] for d in ids])
    return doc_id, dim, comp


def test_doc_vector_checks() -> None:
    _, docs, e64 = corpus("idf_rebuild")
    table = ref.WordTable(docs["text"], docs["lang"], len(e64))
    en = [(d, t) for d, t, lg in zip(docs["doc_id"], docs["text"], docs["lang"]) if lg == "en"]
    expected = ref.doc_vectors([d for d, _ in en], [t for _, t in en], table, e64)
    doc_id, dim, comp = long_rows(expected)
    expect("doc vectors, correct", ref.check_doc_vectors(doc_id, dim, comp, expected), False)
    bad = comp.copy()
    bad[77] += 1e-3
    expect("doc vectors, changed component",
           ref.check_doc_vectors(doc_id, dim, bad, expected), True)
    expect("doc vectors, dropped row",
           ref.check_doc_vectors(doc_id[1:], dim[1:], comp[1:], expected), True)
    rows = {w: (table.idf[w], table.vec_id[w]) for w in table.idf}
    expect("word vectors, correct", ref.check_word_vectors(rows, table), False)
    w0 = sorted(rows)[0]
    rows[w0] = (rows[w0][0] * 1.001, rows[w0][1])
    expect("word vectors, changed idf", ref.check_word_vectors(rows, table), True)
    # the sentinel/global-min rule: dictionary extras absent from the
    # corpus take the minimum raw idf, which is the -1 sentinel
    expect("idf sentinel floor", [] if table.idf["tungsten"] == ref.IDF_SENTINEL
           else ["unseen extra did not take the sentinel floor"], False)


def test_stream_checks() -> None:
    d, docs, e64 = corpus("stream_vectorize")
    table = ref.WordTable(docs["text"], docs["lang"], len(e64))
    with open(os.path.join(d, "words.json")) as f:
        words = json.load(f)
    pool = np.array([i for i, lg in zip(docs["doc_id"], docs["lang"]) if lg == "en"])
    batch = gen.stream_batch(1, 0, words, pool, max(docs["doc_id"]) + 1).to_pydict()
    en = [(i, t) for i, t, lg in zip(batch["doc_id"], batch["text"], batch["lang"]) if lg == "en"]
    expected = ref.doc_vectors([i for i, _ in en], [t for _, t in en], table, e64)
    live = {i for i, t, lg in zip(docs["doc_id"], docs["text"], docs["lang"])
            if lg == "en" and ref.doc_vector(t, table, e64) is not None} | set(expected)
    doc_id, dim, comp = long_rows(expected)
    rows = list(zip(doc_id.tolist(), dim.tolist(), comp.tolist()))
    total = 64 * len(live)
    expect("stream batch, correct",
           ref.check_stream_batch(rows, batch["doc_id"], expected, total, len(live)), False)
    edited = next(i for i in batch["doc_id"] if i in set(pool.tolist()))
    old = ref.doc_vector(docs["text"][docs["doc_id"].index(edited)], table, e64)
    stale = [(i, k, float(old[k]) if i == edited else c) for i, k, c in rows]
    expect("stream batch, stale edit",
           ref.check_stream_batch(stale, batch["doc_id"], expected, total, len(live)), True)
    expect("stream batch, missing dimension",
           ref.check_stream_batch(rows[:-1], batch["doc_id"], expected, total, len(live)), True)
    expect("stream batch, wrong sink row count",
           ref.check_stream_batch(rows, batch["doc_id"], expected, total + 64, len(live)), True)


def test_near_dup_checks() -> None:
    d, docs, _ = corpus("near_dup_scan")
    with open(os.path.join(d, "meta.json")) as f:
        planted = [tuple(p) for p in json.load(f)["planted_pairs"]]
    sets = {i: ref.shingles(t) for i, t in zip(docs["doc_id"], docs["text"])}
    sets = {i: s for i, s in sets.items() if s}
    pairs = []
    for a, b in combinations(sorted(sets), 2):
        j = round(ref.jaccard(sets[a], sets[b]), 6)
        if j >= ref.JACCARD_T:
            pairs.append((a, b, j))
    found = [p for p in planted if any(p == (a, b) for a, b, _ in pairs)]
    expect("near dups, tiny corpus plants pairs above the threshold",
           [] if found else ["no planted pair above the threshold"], False)
    expect("near dups, correct", ref.check_near_dups(pairs, sets, planted), False)
    dropped = [p for p in pairs if (p[0], p[1]) != found[0]]
    expect("near dups, dropped pair", ref.check_near_dups(dropped, sets, planted), True)
    a, b = next((a, b) for a, b in combinations(sorted(sets), 2)
                if ref.jaccard(sets[a], sets[b]) < ref.JACCARD_T)
    expect("near dups, pair below threshold",
           ref.check_near_dups(pairs + [(a, b, 0.5)], sets, planted), True)


def run_bench(root: str, workload: str, trace: int = 0) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(root, "graftbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
    )
    return p.returncode, p.stdout.strip()


def test_tiny_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in bench[key]}
        for w in ("idf_rebuild", "stream_vectorize", "near_dup_scan"):
            code, out = run_bench(ROOT, w, trace)
            res = json.loads(out.splitlines()[-1]) if code == 0 and out else {}
            passed = res.get("correct") and res.get("failed") == 0
            errs = [] if passed else [f"exit {code}: {out[-200:]}"]
            got = {k: v["unit"] for k, v in res.get("metrics", {}).items()}
            if res and got != want:
                errs.append(f"metrics differ from BENCHMARK.json {key}: {set(got) ^ set(want)}")
            expect(f"tiny run, {w}, trace {trace}", errs, False)


def test_without_program() -> None:
    bare = os.path.join(ROOT, ".graftbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "graftbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, out = run_bench(bare, "near_dup_scan")
    shutil.rmtree(bare, ignore_errors=True)
    expect("run without the program exits non-zero and prints no result",
           [] if code != 0 and not out else [f"exit {code}, stdout {out[:80]!r}"], False)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--skip-runs", action="store_true", help="checks only, no Spark")
    args = ap.parse_args(argv)
    test_doc_vector_checks()
    test_stream_checks()
    test_near_dup_checks()
    if not args.skip_runs:
        test_tiny_runs()
        test_without_program()
    print(f"{len(FAILS)} failed" + (f": {FAILS}" if FAILS else ""))
    return 1 if FAILS else 0


if __name__ == "__main__":
    sys.exit(main())
