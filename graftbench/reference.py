"""Independent plain-Python/numpy recomputation of every output the
benchmark checks, from the generated inputs alone.

Nothing here imports the program: the tokenizer, the polynomial word
hash, collection-frequency IDF with its sentinel and global-min rules,
the TF-IDF doc-vector sum and the shingle Jaccard are re-derived from
their documented definitions (operators/tfidf.py, functions/text.py,
operators/dedup.py docstrings). Each ``check_*`` returns a list of
problems; an empty list is a pass.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np

HASH_MOD = 1_000_000_007
HASH_BASE = 31
SHINGLE_B = 1_000_003
SHINGLE_N = 3
MIN_WORD_LEN = 3
ELIGIBLE_MIN_TOKENS = 15
DICTIONARY_EXTRAS = ("catalyst", "tungsten", "shuffle", "parquet", "executor")
IDF_SENTINEL = -1.0
JACCARD_T = 0.5
COMPONENT_TOL = 2e-6  # rounding to 6 digits after a differently ordered sum
_WS = re.compile(r"\s+")


def tokens(text: str) -> list[str]:
    return [t for t in _WS.split(text.lower()) if t]


def char_hash(word: str) -> int:
    h = 0
    for ch in word:
        h = (h * HASH_BASE + ord(ch)) % HASH_MOD
    return h


class WordTable:
    """word -> (idf, vec_id) for the corpus, by the reference IDF job's
    rules: occurrences count every token of eligible English posts,
    unseen dictionary words take the -1 sentinel, and every idf <= 0 is
    replaced by the minimum raw idf (sentinels included)."""

    def __init__(self, texts, langs, n_vecs: int, lang: str = "en"):
        occ: Counter = Counter()
        vocab: set[str] = set(DICTIONARY_EXTRAS)
        n_docs = 0
        for text, lg in zip(texts, langs):
            toks = tokens(text)
            vocab.update(t for t in toks if len(t) >= MIN_WORD_LEN)
            if lg == lang and len(toks) >= ELIGIBLE_MIN_TOKENS:
                n_docs += 1
                occ.update(toks)
        raw = {
            w: math.log10(n_docs / occ[w]) if occ[w] > 0 else IDF_SENTINEL
            for w in vocab
        }
        floor = min(raw.values())
        self.idf = {w: (r if r > 0 else floor) for w, r in raw.items()}
        self.vec_id = {w: char_hash(w) % n_vecs for w in vocab}


def doc_vector(text: str, table: WordTable, emb64: np.ndarray) -> np.ndarray | None:
    """64 components rounded to 6 digits, or None when the post has no
    vocabulary word (the program writes no rows for it)."""
    toks = tokens(text)
    weights: dict[int, float] = {}
    for w, cnt in Counter(toks).items():
        idf = table.idf.get(w)
        if idf is None:
            continue
        v = table.vec_id[w]
        weights[v] = weights.get(v, 0.0) + (cnt / len(toks)) * idf
    if not weights:
        return None
    vecs = np.fromiter(weights.keys(), np.int64)
    w = np.fromiter(weights.values(), np.float64)
    return np.round(w @ emb64[vecs], 6)


def doc_vectors(ids, texts, table: WordTable, emb64: np.ndarray) -> dict[int, np.ndarray]:
    out = {}
    for d, t in zip(ids, texts):
        v = doc_vector(t, table, emb64)
        if v is not None:
            out[int(d)] = v
    return out


def shingles(text: str, cache: dict[str, int] | None = None) -> set[int]:
    """Distinct word-trigram shingle hashes: each token's polynomial hash,
    folded three at a time with base SHINGLE_B."""
    cache = {} if cache is None else cache
    th = []
    for t in tokens(text):
        h = cache.get(t)
        if h is None:
            h = cache[t] = char_hash(t)
        th.append(h)
    out = set()
    for i in range(len(th) - SHINGLE_N + 1):
        acc = 0
        for h in th[i : i + SHINGLE_N]:
            acc = (acc * SHINGLE_B + h) % HASH_MOD
        out.add(acc)
    return out


def jaccard(a: set[int], b: set[int]) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------


def check_word_vectors(rows: dict[str, tuple[float, int]], table: WordTable) -> list[str]:
    """``rows``: word -> (idf, vec_id) as read from the word-vector sink."""
    errs = []
    if set(rows) != set(table.idf):
        missing = set(table.idf) - set(rows)
        extra = set(rows) - set(table.idf)
        errs.append(f"word set differs: {len(missing)} missing, {len(extra)} extra")
    for w, (idf, vec) in rows.items():
        exp = table.idf.get(w)
        if exp is None:
            continue
        if not math.isclose(idf, exp, rel_tol=1e-12, abs_tol=1e-15):
            errs.append(f"idf[{w}] = {idf}, expected {exp}")
        if vec != table.vec_id[w]:
            errs.append(f"vec_id[{w}] = {vec}, expected {table.vec_id[w]}")
        if len(errs) > 5:
            break
    return errs


def check_doc_vectors(doc_id, dim, comp, expected: dict[int, np.ndarray],
                      ids: list[int] | None = None, n_dim: int = 64) -> list[str]:
    """Long-form sink rows against expected vectors. With ``ids`` only
    those posts are checked (and must be exactly the posts present among
    the rows); otherwise the rows must hold exactly the expected posts."""
    doc_id = np.asarray(doc_id, np.int64)
    dim = np.asarray(dim, np.int64)
    comp = np.asarray(comp, np.float64)
    want = sorted(expected) if ids is None else sorted(d for d in ids if d in expected)
    errs = []
    if len(doc_id) != len(want) * n_dim:
        errs.append(f"{len(doc_id)} rows, expected {len(want) * n_dim}")
    order = np.lexsort((dim, doc_id))
    doc_id, dim, comp = doc_id[order], dim[order], comp[order]
    got_ids, counts = np.unique(doc_id, return_counts=True)
    if not np.array_equal(got_ids, np.asarray(want, np.int64)):
        errs.append(
            f"post set differs: {len(set(got_ids.tolist()) - set(want))} unexpected,"
            f" {len(set(want) - set(got_ids.tolist()))} missing"
        )
        return errs
    if not (counts == n_dim).all():
        bad = got_ids[counts != n_dim][:3].tolist()
        errs.append(f"posts without exactly {n_dim} rows: {bad}")
        return errs
    if not np.array_equal(dim.reshape(-1, n_dim), np.tile(np.arange(n_dim), (len(want), 1))):
        errs.append("dims are not 0..63 for every post")
        return errs
    exp = np.stack([expected[d] for d in want]) if want else np.zeros((0, n_dim))
    diff = np.abs(comp.reshape(-1, n_dim) - exp)
    if diff.size and diff.max() > COMPONENT_TOL:
        r, c = np.unravel_index(int(diff.argmax()), diff.shape)
        errs.append(
            f"component ({want[r]}, {c}) = {comp.reshape(-1, n_dim)[r, c]},"
            f" expected {exp[r, c]}"
        )
    return errs


def check_stream_batch(rows, ids, expected: dict[int, np.ndarray], sink_total: int,
                       live_posts: int, n_dim: int = 64) -> list[str]:
    """One micro-batch read back from the sink: ``rows`` are the sink's
    (doc_id, dim, component) rows for the batch's ``ids``. Each English
    post must have exactly ``n_dim`` rows holding its new vector (an edit
    that left its old rows behind fails here), skipped posts none, and the
    sink as a whole exactly ``n_dim`` rows per live post."""
    errs = check_doc_vectors(
        [r[0] for r in rows], [r[1] for r in rows], [r[2] for r in rows],
        expected, ids=ids, n_dim=n_dim,
    )
    if sink_total != n_dim * live_posts:
        errs.append(f"sink holds {sink_total} rows, expected {n_dim * live_posts}")
    return errs


def check_near_dups(pairs, sets: dict[int, set[int]], planted) -> list[str]:
    """``pairs``: (doc_a, doc_b, jaccard) rows of the join. Every row must
    be a < b, unique, carry the exact rounded Jaccard and pass the
    threshold; every planted pair at or above the threshold must appear."""
    errs = []
    seen = set()
    for a, b, j in pairs:
        if a >= b or (a, b) in seen:
            errs.append(f"pair ({a}, {b}) is unordered or repeated")
        seen.add((a, b))
        exact = round(jaccard(sets[a], sets[b]), 6)
        if abs(exact - j) > 1e-9 or exact < JACCARD_T:
            errs.append(f"pair ({a}, {b}) reports {j}, exact Jaccard {exact}")
        if len(errs) > 5:
            return errs
    for a, b in planted:
        if a in sets and b in sets and round(jaccard(sets[a], sets[b]), 6) >= JACCARD_T:
            if (a, b) not in seen:
                errs.append(f"planted pair ({a}, {b}) above threshold not found")
                if len(errs) > 5:
                    return errs
    return errs
