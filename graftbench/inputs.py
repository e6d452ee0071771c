"""Seeded input generator for the benchmark workloads.

Everything the program reads is made here from ``--seed``: the same seed
gives byte-identical parquet. Three input kinds:

* a Zipfian post corpus in the ``documents`` schema plus a 64-dim
  ``embeddings`` table (idf_rebuild, stream_vectorize);
* a near-duplicate corpus of long unique posts, lightly edited copies of
  earlier posts and short templated replies (near_dup_scan);
* stream batches of new posts and edits of posts already in the sink,
  generated per batch index (stream_vectorize).

Corpora are written once per (workload, seed, size) under the cache
directory and reused; the generator runs before any timed region.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_VECS = 2000
LANGS = ("en", "de", "zh")
LANG_P = (0.78, 0.14, 0.08)
ZIPF_S = 1.1
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
EMB_SCHEMA = pa.schema(
    [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
)

# Sizes per workload. ``tiny`` is the self-test size.
SIZES = {
    "idf_rebuild": {"docs": 3000, "vocab": 20000},
    "stream_vectorize": {"docs": 600, "vocab": 20000},
    "near_dup_scan": {"unique": 1000, "copies": 300, "replies": 400, "vocab": 20000},
    "tiny": {"docs": 300, "vocab": 2000, "unique": 120, "copies": 40, "replies": 40},
}

# Stream batch make-up: new posts, edits of posts already in the sink and
# non-English posts the worker must skip.
BATCH_NEW, BATCH_EDITS, BATCH_OTHER = 18, 10, 2

# Bot-reply templates of 28-30 tokens with four ``{}`` slots, each at least
# two tokens from either end and five from the next slot. Distinct fills
# break 12 of a reply's 26-28 word-trigram shingles, so two replies of one
# template have Jaccard 0.37-0.40: below the 0.5 threshold. Yet the unique
# slot shingles fill only 12 of the 14-15-shingle prefix, so every pair of
# replies of a template shares a prefix shingle and is a candidate.
TEMPLATES = (
    "congratulations to {} you have completed the {} achievement on the hive "
    "blockchain and have {} been rewarded with a new badge {} check out your "
    "board and reply",
    "this post has {} been manually curated by the {} team and received an "
    "upvote to {} support quality content keep up {} the good work and join "
    "our discord",
    "thanks for {} sharing your post it was selected {} for the daily digest "
    "by the {} curation trail so follow {} to receive more support from us "
    "today",
    "hello there {} this is a friendly reminder that {} your account has "
    "unclaimed {} rewards so visit the {} wallet page to claim them before "
    "it closes",
)


def vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase words; about one in twenty is shorter than
    the engine's three-letter vocabulary gate."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        lens = rng.integers(3, 11, size=n)
        lens[rng.random(n) < 0.05] = 2
        for ln in lens:
            w = "".join(rng.choice(LETTERS, size=int(ln)))
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return words


def zipf_cdf(n: int) -> np.ndarray:
    c = np.cumsum(1.0 / np.arange(1, n + 1) ** ZIPF_S)
    return c / c[-1]


def zipf_ranks(rng: np.random.Generator, cdf: np.ndarray, k: int) -> np.ndarray:
    return np.minimum(np.searchsorted(cdf, rng.random(k), side="right"), len(cdf) - 1)


def _text(rng: np.random.Generator, words: list[str], ranks: np.ndarray) -> str:
    toks = [words[r] for r in ranks]
    # Separators and case the tokenizer must normalise away.
    if rng.random() < 0.2:
        toks[0] = toks[0].capitalize()
    sep = "  " if rng.random() < 0.1 else " "
    return sep.join(toks)


def _post(rng, words, cdf, n_tok: int) -> str:
    ranks = zipf_ranks(rng, cdf, n_tok)
    # Every post carries one head word of vocabulary length, so every post
    # has a known token.
    heads = [r for r in range(50) if len(words[r]) >= 3]
    ranks[rng.integers(n_tok)] = heads[rng.integers(len(heads))]
    return _text(rng, words, ranks)


def _doc_table(ids, texts, langs) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 3}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        schema=DOC_SCHEMA,
    )


def embeddings(rng: np.random.Generator) -> pa.Table:
    vecs = (rng.standard_normal((N_VECS, DIM)) * 0.12).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 4, N_VECS).astype(np.int32), pa.int32()),
        },
        schema=EMB_SCHEMA,
    )


def zipf_corpus(rng: np.random.Generator, n_docs: int, n_vocab: int):
    """(documents table, vocabulary list). One post in ten is shorter than
    the IDF job's 15-token eligibility cut."""
    words = vocabulary(rng, n_vocab)
    cdf = zipf_cdf(n_vocab)
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P)
    lens = rng.integers(15, 90, size=n_docs)
    short = rng.random(n_docs) < 0.1
    lens[short] = rng.integers(4, 15, size=int(short.sum()))
    texts = [_post(rng, words, cdf, int(n)) for n in lens]
    return _doc_table(list(range(n_docs)), texts, [str(x) for x in langs]), words


def near_dup_corpus(rng: np.random.Generator, n_unique, n_copies, n_replies, n_vocab):
    """(documents table, planted pairs). Copies edit 2-30% of an earlier
    post's words, so their Jaccard straddles the 0.5 threshold; replies of
    one template share their rarest shingles, so they become candidates
    that mostly fail verification."""
    words = vocabulary(rng, n_vocab)
    cdf = zipf_cdf(n_vocab)
    texts: list[str] = []
    planted: list[tuple[int, int]] = []
    for _ in range(n_unique):
        texts.append(_post(rng, words, cdf, int(rng.integers(40, 90))))
    for _ in range(n_copies):
        src = int(rng.integers(len(texts)))
        toks = texts[src].split()
        k = max(1, int(len(toks) * rng.uniform(0.02, 0.3)))
        for pos in rng.choice(len(toks), size=k, replace=False):
            toks[pos] = words[int(zipf_ranks(rng, cdf, 1)[0])]
        planted.append((src, len(texts)))
        texts.append(" ".join(toks))
    for i in range(n_replies):
        tpl = TEMPLATES[i % len(TEMPLATES)]
        fills = [words[int(x)] for x in rng.integers(1000, n_vocab, tpl.count("{}"))]
        texts.append(tpl.format(*fills))
    order = rng.permutation(len(texts))  # doc_id order mixes the kinds
    new_id = {int(old): new for new, old in enumerate(order)}
    ids = list(range(len(texts)))
    table = _doc_table(ids, [texts[int(o)] for o in order], ["en"] * len(texts))
    pairs = sorted(tuple(sorted((new_id[a], new_id[b]))) for a, b in planted)
    return table, pairs


def stream_batch(seed: int, index: int, words: list[str], edit_pool: np.ndarray,
                 first_new_id: int, n_new=BATCH_NEW, n_edits=BATCH_EDITS,
                 n_other=BATCH_OTHER) -> pa.Table:
    """Batch ``index``: new English posts with fresh doc_ids, edits of
    posts drawn from ``edit_pool`` (already in the sink) and non-English
    posts the worker must not vectorize."""
    rng = np.random.default_rng([seed, 7, index])
    cdf = zipf_cdf(len(words))
    ids, texts, langs = [], [], []
    base = first_new_id + index * (n_new + n_other)
    for j in range(n_new + n_other):
        ids.append(base + j)
        texts.append(_post(rng, words, cdf, int(rng.integers(15, 60))))
        langs.append("en" if j < n_new else "de")
    for d in rng.choice(edit_pool, size=n_edits, replace=False):
        ids.append(int(d))
        texts.append(_post(rng, words, cdf, int(rng.integers(15, 60))))
        langs.append("en")
    return _doc_table(ids, texts, langs)


def preload(docs: pa.Table, emb: pa.Table) -> pa.Table:
    """Long-form (doc_id, dim, component) vectors of every English post,
    from the reference computation: the sink state the streaming worker
    starts from, as an earlier IDF job would have left it."""
    import reference as ref

    d = docs.to_pydict()
    e64 = np.asarray(emb.column("embedding").to_pylist(), np.float64)
    table = ref.WordTable(d["text"], d["lang"], len(e64))
    en = [(i, t) for i, t, lg in zip(d["doc_id"], d["text"], d["lang"]) if lg == "en"]
    vecs = ref.doc_vectors([i for i, _ in en], [t for _, t in en], table, e64)
    ids = sorted(vecs)
    return pa.table({
        "doc_id": pa.array(np.repeat(np.asarray(ids, np.int64), DIM)),
        "dim": pa.array(np.tile(np.arange(DIM, dtype=np.int32), len(ids))),
        "component": pa.array(np.concatenate([vecs[i] for i in ids]) if ids else np.zeros(0)),
    })


def build(workload: str, seed: int, cache_root: str, size: str | None = None) -> str:
    """Write the inputs of ``workload`` for ``seed`` under ``cache_root``
    (once) and return their directory."""
    sz = SIZES[size or workload]
    tag = f"{workload}-{size or 'full'}-s{seed}"
    out = os.path.join(cache_root, tag)
    if os.path.isfile(os.path.join(out, "meta.json")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, {"idf_rebuild": 1, "stream_vectorize": 2,
                                        "near_dup_scan": 3}[workload]])
    meta: dict = {"workload": workload, "seed": seed, "size": size or "full"}
    emb = embeddings(rng)
    if workload == "near_dup_scan":
        docs, pairs = near_dup_corpus(
            rng, sz["unique"], sz["copies"], sz["replies"], sz["vocab"]
        )
        meta["planted_pairs"] = pairs
    else:
        docs, words = zipf_corpus(rng, sz["docs"], sz["vocab"])
        with open(os.path.join(tmp, "words.json"), "w") as f:
            json.dump(words, f)
    if workload == "stream_vectorize":
        pq.write_table(preload(docs, emb), os.path.join(tmp, "preload.parquet"))
    pq.write_table(emb, os.path.join(tmp, "embeddings.parquet"))
    pq.write_table(docs, os.path.join(tmp, "documents.parquet"))
    meta["n_docs"] = docs.num_rows
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
