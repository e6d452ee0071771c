"""Tests for the fuzzy-matching & trend wave 11 (plans/queries_fuzzy.py):
the prefix-filter exact-recall theorem checked against the exhaustive
join, the first-character-typo recall the blocked join misses, and
week-over-week arithmetic on planted weeks. The value-exactness check is
the DuckDB oracle (tools/oracle_check.py); these pin semantics the hash
can't express."""

from __future__ import annotations

import pandas as pd
import pytest

import __spark_entry__ as E
from tests.conftest import SF_SMOKE, make_docs


def test_prefix_filter_equals_exhaustive_join(spark):
    """Prefix filtering guarantees exact recall at the threshold: its
    result set must be IDENTICAL to the exhaustive share-a-shingle join
    (`dedup_shingle_jaccard`) — same pairs, same jaccard values."""
    q = E.queries()
    pf = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in q["dedup_prefix_filter_join"](spark, SF_SMOKE).collect()
    }
    ex = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in q["dedup_shingle_jaccard"](spark, SF_SMOKE).collect()
    }
    assert pf == ex
    assert pf  # the fixture does contain near-dups


def _words(tag: str, n: int) -> list[str]:
    return [f"{tag}{i}" for i in range(n)]


def _prefix_join_pairs(spark, tmp_path, rows) -> dict:
    docs = make_docs(spark, [(i, " ".join(ws), "en") for i, ws in rows])
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    return {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in E.queries()["dedup_prefix_filter_join"](spark, str(tmp_path)).collect()
    }


def test_prefix_filter_bounds_are_inclusive(spark, tmp_path):
    """The size and positional filters prune by bounds that a pair at
    exactly J = 0.5 meets with equality, so both must admit it; a pair
    just under 0.5 must not be reported. Shingles are word 3-grams, so a
    run of k shared words gives k - 2 shared shingles; a shingle in one
    doc only has frequency 1 and ranks before every shared shingle."""
    run = _words("s", 6)
    run2 = _words("r", 5)
    run3 = _words("q", 22)
    rows = [
        # |a| = |b| = 6, o = 4: the first shared shingle sits at rank 3
        # in both docs, and (1 + min(6 - 3, 6 - 3)) * 1.5 == 0.5 * 12
        (1, ["xa", "xb"] + run),
        (2, ["ya", "yb"] + run),
        # |a| = 6 = 2 * |b|, b inside a: J = 3 / 6 and min / max = 0.5
        (3, ["za", "zb", "zc"] + run2),
        (4, run2),
        # |a| = 31, |b| = 30, o = 20: J = 20 / 41
        (5, _words("u", 11) + run3),
        (6, _words("v", 10) + run3),
    ]
    got = _prefix_join_pairs(spark, tmp_path, rows)
    assert got == {(1, 2): 0.5, (3, 4): 0.5}


def _templated_replies() -> list[tuple[int, list[str]]]:
    """Short replies over a few templates with three varying slots: the
    replies of one template share their rarest shingles, most pairs of
    them overlap too little, and a few are near-duplicates."""
    import random

    rnd = random.Random(7)
    rows, doc = [], 0
    for t in range(4):
        base = _words(f"t{t}w", 14)
        pool = _words(f"t{t}p", 5)
        for _ in range(12):
            ws = list(base)
            for pos in (3, 7, 11):
                ws[pos] = rnd.choice(pool)
            doc += 1
            rows.append((doc, ws))
    return rows


def test_prefix_filters_prune_and_stay_exact(spark, tmp_path):
    """On templated replies the size and positional filters leave fewer
    candidates than the plain prefix filter, and the result still equals
    the exhaustive share-a-shingle join."""
    import math
    from collections import Counter

    from posts_vectorizer_spark.operators.dedup import _doc_shingle_arrays
    from posts_vectorizer_spark.plans.queries_fuzzy import _ppjoin_candidates

    rows = _templated_replies()
    docs = make_docs(spark, [(i, " ".join(ws), "en") for i, ws in rows])
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    q = E.queries()
    pf = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in q["dedup_prefix_filter_join"](spark, str(tmp_path)).collect()
    }
    ex = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in q["dedup_shingle_jaccard"](spark, str(tmp_path)).collect()
    }
    assert pf == ex and pf

    arrays = _doc_shingle_arrays(docs)
    sets = {r["doc_id"]: r["shs"] for r in arrays.collect()}
    freq = Counter(s for shs in sets.values() for s in shs)
    posting: dict[int, set[int]] = {}
    for d, shs in sets.items():
        order = sorted(shs, key=lambda s: (freq[s], s))
        for s in order[: len(shs) - math.ceil(0.5 * len(shs)) + 1]:
            posting.setdefault(s, set()).add(d)
    plain = {(a, b) for ds in posting.values() for a in ds for b in ds if a < b}
    cand = {(r["doc_a"], r["doc_b"]) for r in _ppjoin_candidates(arrays).collect()}
    assert set(pf) <= cand < plain


def test_symspell_finds_first_char_typo(spark, tmp_path):
    # "wtream" is "stream" with its first char substituted: the (first
    # char, length) blocking of text_typo_pairs cannot pair them, the
    # deletion index must (both delete to "tream").
    docs = make_docs(
        spark,
        [(1, "stream window filter", "en"), (2, "wtream window filter", "en")],
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    q = E.queries()
    sym = {
        (r["word_a"], r["word_b"]): r["dist"]
        for r in q["text_symspell_candidates"](spark, str(tmp_path)).collect()
    }
    blocked = {
        (r["word_a"], r["word_b"])
        for r in q["text_typo_pairs"](spark, str(tmp_path)).collect()
    }
    assert ("stream", "wtream") in sym
    assert sym[("stream", "wtream")] == 1
    assert ("stream", "wtream") not in blocked  # the documented miss


def test_weekly_wow_arithmetic(spark, tmp_path):
    # three ISO weeks with 2, 4, 3 views: +100% then -25%
    rows, eid = [], 0
    week_days = {"2024-01-01": 2, "2024-01-08": 4, "2024-01-15": 3}
    for day, n in week_days.items():
        for i in range(n):
            eid += 1
            rows.append((eid, f"{day} 0{i}:00:00", 1, "view", 1.0))
    pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.to_datetime([r[1] for r in rows]),
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [r[4] for r in rows],
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(tmp_path / "events.parquet")
    out = sorted(
        E.queries()["events_weekly_wow"](spark, str(tmp_path)).collect(),
        key=lambda r: r["week"],
    )
    assert [r["n"] for r in out] == [2, 4, 3]
    assert out[0]["wow_pct"] is None and out[0]["prev_n"] is None
    assert out[1]["wow_pct"] == 100.0
    assert out[2]["wow_pct"] == -25.0


def test_substring_spans_reconstruct_maximal_run(spark, tmp_path):
    # Docs 1 and 2 share an 8-token run ("the quick brown fox jumps over
    # the lazy", embedded at different offsets); every other token is
    # unique. The gram-islands merge must report EXACTLY the maximal run
    # on both sides — 8 tokens, correct offsets — and nothing else.
    shared = "the quick brown fox jumps over the lazy"
    docs = make_docs(
        spark,
        [
            (1, f"alpha beta {shared} gamma delta", "en"),
            (2, f"{shared} epsilon zeta eta theta iota", "en"),
            (3, "completely unrelated words only here once", "en"),
        ],
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_tokens"])
        for r in E.queries()["dedup_substring_spans"](
            spark, str(tmp_path)
        ).collect()
    }
    # doc 1: run starts at token 2 (0-based), 8 tokens -> [2, 9]
    # doc 2: run starts at token 0 -> [0, 7]; doc 3: no spans
    assert spans == {1: (2, 9, 8), 2: (0, 7, 8)}


def test_substring_spans_intra_document_repeat(spark, tmp_path):
    # A 5-token phrase repeated twice INSIDE one doc counts as duplicated
    # (corpus occurrences >= 2), producing two spans in that doc.
    phrase = "one two three four five"
    docs = make_docs(
        spark,
        [(1, f"{phrase} filler0 filler1 {phrase}", "en"),
         (2, "nothing shared with the first document at all", "en")],
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    rows = sorted(
        (r["span_start"], r["span_end"])
        for r in E.queries()["dedup_substring_spans"](
            spark, str(tmp_path)
        ).collect()
    )
    assert rows == [(0, 4), (7, 11)]


def _spans_reference(docs_tokens, k=5):
    """Brute-force Python reference for dedup_substring_spans: every
    K-gram occurring >= 2 times in the corpus, merged per doc into
    maximal consecutive-start islands."""
    from collections import Counter

    grams = Counter()
    per_doc = {}
    for doc_id, toks in docs_tokens.items():
        pos = [tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        per_doc[doc_id] = pos
        grams.update(pos)
    out = set()
    for doc_id, pos in per_doc.items():
        dup = [i for i, g in enumerate(pos) if grams[g] >= 2]
        if not dup:
            continue
        start = prev = dup[0]
        for i in dup[1:]:
            if i == prev + 1:
                prev = i
                continue
            out.add((doc_id, start, prev + k - 1, prev - start + k))
            start = prev = i
        out.add((doc_id, start, prev + k - 1, prev - start + k))
    return out


def test_substring_spans_match_python_reference_randomized(spark, tmp_path):
    # Randomized differential: a small alphabet forces plenty of
    # accidental duplicated runs with ragged overlaps — exactly the
    # regime where an off-by-one in the islands merge would diverge.
    import random

    rng = random.Random(20260814)
    alphabet = [f"w{i}" for i in range(7)]
    docs_tokens = {
        doc_id: [rng.choice(alphabet) for _ in range(rng.randint(0, 40))]
        for doc_id in range(1, 13)
    }
    docs = make_docs(
        spark,
        [(d, " ".join(t), "en") for d, t in docs_tokens.items()],
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in E.queries()["dedup_substring_spans"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == _spans_reference(docs_tokens)


def test_leakage_safe_split_coassigns_near_dups(spark, tmp_path):
    """Two near-duplicate docs (one word differs over a 20-word text) must
    land in ONE split as a 2-doc component; the singletons split by their
    own (component = doc_id) hash. Totals must tie out exactly."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lam mu nu xi omicron pi rho sigma tau upsilon"
    )
    docs = make_docs(
        spark,
        [
            (1, base + " one", "en"),
            (2, base + " two", "en"),  # near-dup of 1 (Jaccard ~0.9)
            (3, "totally different words in this third document here", "en"),
            (4, "and a fourth with its own unrelated vocabulary set", "en"),
        ],
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r["split"]: (r["n_docs"], r["n_components"], r["n_dup_docs"])
        for r in E.queries()["dedup_split_leakage_safe"](
            spark, str(tmp_path)
        ).collect()
    }
    assert sum(v[0] for v in rows.values()) == 4  # every doc exactly once
    assert sum(v[1] for v in rows.values()) == 3  # {1,2}, {3}, {4}
    # the near-dup pair is whole in exactly one split, never straddling
    assert sorted(v[2] for v in rows.values()) == [0] * (len(rows) - 1) + [2]
    two_dup_split = next(s for s, v in rows.items() if v[2] == 2)
    assert rows[two_dup_split][0] >= 2


def test_sorted_neighborhood_semantics(spark, tmp_path):
    """dedup_sorted_neighborhood (staged r7) on a crafted corpus: three
    docs sharing the 3-token sort key are pairwise found (gap-1 AND gap-2
    frames), with exact distinct-token Jaccards; a true near-dup whose
    FIRST token differs lands in another block and is missed — the
    documented SNM recall trade-off for its hard O(w*n) candidate bound
    (LSH banding / prefix filtering are the recall-complete paths)."""
    from posts_vectorizer_spark.plans.registry import resolve_query
    from tests.conftest import make_docs

    make_docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon", "en"),
            (2, "alpha beta gamma delta zeta", "en"),
            (3, "alpha beta gamma delta epsilon extra", "en"),
            (4, "zzz alpha beta gamma delta epsilon", "en"),
            (5, "", "en"),  # empty text: NULL block, must not crash (ANSI)
        ],
    ).write.parquet(str(tmp_path / "documents.parquet"))

    rows = resolve_query("dedup_sorted_neighborhood")(
        spark, str(tmp_path)
    ).collect()
    got = {(r["doc_a"], r["doc_b"]): (r["gap"], r["jaccard"]) for r in rows}
    assert set(got) == {(1, 2), (2, 3), (1, 3)}
    assert got[(1, 2)] == (1, 0.666667)
    assert got[(2, 3)] == (1, 0.571429)
    assert got[(1, 3)] == (2, 0.833333)
    assert not any(4 in pair for pair in got), "cross-block dup is missed"
    assert not any(5 in pair for pair in got)


def test_minhash_estimate_eval_calibration(spark, tmp_path):
    """dedup_minhash_estimate_eval (staged r7): identical docs estimate
    J=1 exactly (all 16 components match — a sketch invariant, not a
    probability); and on the fixture corpus the mean |est - exact| stays
    within the k=16 sketch's theoretical scale (std <= 0.5/sqrt(16) =
    0.125; mean abs err well under 2x that), i.e. the estimator is
    calibrated, not just plumbed."""
    from posts_vectorizer_spark.plans.registry import resolve_query
    from tests.conftest import SF_ORACLE, make_docs

    q = resolve_query("dedup_minhash_estimate_eval")

    make_docs(
        spark,
        [
            (1, "one two three four five six seven eight", "en"),
            (2, "one two three four five six seven eight", "en"),
        ],
    ).write.parquet(str(tmp_path / "documents.parquet"))
    twin = q(spark, str(tmp_path)).collect()
    assert len(twin) == 1
    assert twin[0]["n_matches"] == 16
    assert twin[0]["est_jaccard"] == 1.0
    assert twin[0]["exact_jaccard"] == 1.0
    assert twin[0]["abs_err"] == 0.0

    rows = q(spark, SF_ORACLE).collect()
    assert len(rows) > 10
    mean_err = sum(r["abs_err"] for r in rows) / len(rows)
    assert mean_err < 0.25, f"mean abs err {mean_err} — estimator miscalibrated"


def test_edit_distance_verify_planted(spark, tmp_path):
    """dedup_edit_distance_verify (staged r9): docs sharing a block and
    sort key with one in-word character edit must surface with the
    hand-counted distance; token-identical docs score distance 0 and
    sim 1; a differently-blocked doc can never pair. Pins the verify
    semantics (character DP over the 120-char prefix) independent of
    the blocker."""
    from posts_vectorizer_spark.plans.registry import resolve_query

    rows = [
        (1, "alpha beta gamma delta epsilon", "en", "s", 0),
        (2, "alpha beta gamma delta epsilom", "en", "s", 0),  # 1 sub
        (3, "alpha beta gamma delta epsilon", "en", "s", 0),  # exact dup
        (4, "zeta eta theta iota kappa", "en", "s", 0),       # other block
    ]
    d = tmp_path / "edv"
    d.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.parquet(str(d / "documents.parquet"))
    got = {
        (r["doc_a"], r["doc_b"]): r
        for r in resolve_query("dedup_edit_distance_verify")(
            spark, str(d)
        ).collect()
    }
    assert all(4 not in k for k in got), "cross-block pairs impossible"
    # shared skey "alpha beta gamma", doc_id tiebreak -> sort order 1,2,3:
    # gap-1 pairs (1,2),(2,3); gap-2 pair (1,3)
    assert set(got) == {(1, 2), (2, 3), (1, 3)}
    assert got[(1, 2)]["edit_dist"] == 1  # the single n->m substitution
    assert got[(2, 3)]["edit_dist"] == 1
    assert got[(1, 3)]["edit_dist"] == 0  # byte-identical texts
    assert got[(1, 3)]["sim"] == 1.0
    n = len("alpha beta gamma delta epsilon")
    assert abs(got[(1, 2)]["sim"] - round(1 - 1 / n, 6)) < 1e-9


def test_lsh_param_planner_scurve_properties(spark):
    """sim_lsh_param_planner (staged r9): structural truths of the
    banding s-curve on the fixture corpus — one row per grid config;
    thresholds s* ordered by rows-per-band ((16,1) lowest, (1,16)
    highest); for every config the estimated recall on >=0.5-Jaccard
    pairs must exceed the false-candidate rate on <0.5 pairs (the curve
    is monotone in j); and the (16,1) config (OR over 16 single-hash
    bands) must have the highest fp_est while (1,16) (AND over all 16)
    has the lowest."""
    from tests.conftest import SF_ORACLE

    from posts_vectorizer_spark.plans.registry import resolve_query

    rows = {
        (r["bands"], r["rows_per_band"]): r
        for r in resolve_query("sim_lsh_param_planner")(
            spark, SF_ORACLE
        ).collect()
    }
    assert set(rows) == {(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)}
    s_stars = [rows[k]["s_star"] for k in [(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)]]
    assert s_stars == sorted(s_stars)
    for k, r in rows.items():
        if r["n_dup_pairs"] and r["n_nondup_pairs"]:
            assert r["recall_est"] > r["fp_est"], k
    assert rows[(16, 1)]["fp_est"] == max(r["fp_est"] for r in rows.values())
    assert rows[(1, 16)]["fp_est"] == min(r["fp_est"] for r in rows.values())


def test_bloom_membership_planted(spark, tmp_path):
    """dedup_bloom_membership: exact duplicates are ALWAYS bloom-hit
    (the no-false-negative guarantee) and every per-doc verdict matches
    an independent Python replica of the double-hash positions."""
    from posts_vectorizer_spark.plans.registry import resolve_query

    MOD, BASE, M, K = 1_000_000_007, 31, 65536, 4

    def chash(s):
        h = 0
        for ch in s:
            h = (h * BASE + ord(ch)) % MOD
        return h

    texts = {
        0: "alpha beta gamma", 2: "delta epsilon", 4: "zeta eta theta",
        1: "alpha beta gamma",        # exact dup of doc 0
        3: "wholly novel text here",  # unique
        5: "delta epsilon",           # exact dup of doc 2
    }
    d = tmp_path / "bloom"
    d.mkdir()
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(d / "documents.parquet"))

    got = {
        r["doc_id"]: r
        for r in resolve_query("dedup_bloom_membership")(
            spark, str(d)
        ).collect()
    }
    assert set(got) == {1, 3, 5}

    bits = set()
    for i, t in texts.items():
        if i % 2 == 0:
            h1, h2 = chash(t), chash(t[::-1])
            bits.update((h1 + j * h2) % M for j in range(K))
    build_texts = {t for i, t in texts.items() if i % 2 == 0}
    for i in (1, 3, 5):
        t = texts[i]
        h1, h2 = chash(t), chash(t[::-1])
        maybe = all((h1 + j * h2) % M in bits for j in range(K))
        assert got[i]["bloom_maybe"] == maybe
        assert got[i]["exact_dup"] == (t in build_texts)
    # the guarantee: exact dups always hit
    assert got[1]["bloom_maybe"] and got[5]["bloom_maybe"]
    assert got[1]["exact_dup"] and got[5]["exact_dup"]
    assert not got[3]["exact_dup"]


def test_cdc_chunking_realigns_after_insert(spark, tmp_path):
    """dedup_cdc_chunking: the content-defined property — prepending a
    paragraph shifts every byte offset, yet the chunking REALIGNS at
    the next boundary so the shared suffix still chunks identically
    (a fixed-size blocker would share nothing). Boundaries match an
    independent Python replica of the rolling-hash rule."""
    import hashlib

    from posts_vectorizer_spark.plans.registry import resolve_query

    MOD, BASE, W, MASK = 1_000_000_007, 31, 8, 64

    def bounds(text):
        n = len(text)
        if n < W:
            return [n]
        out = []
        for i in range(W, n + 1):
            if i < n:
                h = 0
                for ch in text[i - W : i]:
                    h = (h * BASE + ord(ch)) % MOD
                if h % MASK == 0:
                    out.append(i)
        return out + [n]

    def chunks(text):
        bs = bounds(text)
        prev, out = 0, []
        for b in bs:
            out.append(text[prev:b])
            prev = b
        return out

    import random

    rng = random.Random(7)
    base = " ".join(
        "".join(rng.choice("abcdefghij") for _ in range(rng.randint(3, 9)))
        for _ in range(120)
    )
    shifted = "THIS PARAGRAPH WAS INSERTED AT THE TOP. " + base
    assert len(bounds(base)) > 3, "fixture must produce several chunks"

    d = tmp_path / "cdc"
    d.mkdir()
    spark.createDataFrame(
        [(0, base, "en", "s", len(base)),
         (1, shifted, "en", "s", len(shifted)),
         (2, "tiny", "en", "s", 4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(d / "documents.parquet"))

    got = {
        r["doc_id"]: r
        for r in resolve_query("dedup_cdc_chunking")(
            spark, str(d)
        ).collect()
    }
    # replica: chunk digests per doc, shared = in >1 doc
    digs = {
        i: [hashlib.md5(c.encode()).hexdigest() for c in chunks(t)]
        for i, t in ((0, base), (1, shifted), (2, "tiny"))
    }
    from collections import Counter

    owner = Counter()
    for i, ds in digs.items():
        for dg in set(ds):
            owner[dg] += 1
    for i in (0, 1, 2):
        exp_shared = sum(1 for dg in digs[i] if owner[dg] > 1)
        assert got[i]["n_chunks"] == len(digs[i]), i
        assert got[i]["n_shared"] == exp_shared, i
    # the content-defined claim: most of doc 0's chunks survive the
    # prepend (byte offsets all moved; boundaries realigned)
    assert got[0]["n_shared"] >= got[0]["n_chunks"] - 2
    assert got[0]["n_chunks"] > 3
    assert got[2]["n_shared"] == 0
