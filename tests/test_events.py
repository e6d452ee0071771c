"""Event-analytics wave tests that don't fit an earlier module: crafted
semantic scenarios for the staged attribution operator (r7)."""

from __future__ import annotations

def test_funnel_attribution_crafted(spark, tmp_path):
    """events_funnel_attribution (staged r7) hand-checkable scenario: two
    purchases share a click+view history inside the 3-day lookback (the
    view is latest both times -> all last-touch credit; linear splits
    1/2 each), a boundary touch exactly at conv_ts - 3d is INCLUDED
    (closed window), a conversion with no touches takes no credit, and a
    stale touch outside the lookback attributes nothing."""
    import datetime as dt

    from posts_vectorizer_spark.plans.registry import resolve_query

    D = dt.datetime
    rows = [
        # user 1: click e1, view e2, purchases c1/c2
        (1, 1, D(2024, 1, 10, 12), "click", 1.0),
        (2, 1, D(2024, 1, 11, 12), "view", 1.0),
        (100, 1, D(2024, 1, 12, 12), "purchase", 9.0),
        (101, 1, D(2024, 1, 13, 12), "purchase", 9.0),  # e1 on the boundary
        # user 2: naked purchase
        (102, 2, D(2024, 1, 12, 12), "purchase", 9.0),
        # user 3: touch far outside any lookback
        (5, 3, D(2024, 1, 1, 12), "click", 1.0),
        (103, 3, D(2024, 1, 20, 12), "purchase", 9.0),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp,"
        " event_type string, value double",
    ).write.parquet(str(tmp_path / "events.parquet"))

    out = {
        r["event_type"]: r
        for r in resolve_query("events_funnel_attribution")(
            spark, str(tmp_path)
        ).collect()
    }
    assert set(out) == {"click", "view"}
    c, v = out["click"], out["view"]
    assert c["n_touch_assignments"] == 2 and v["n_touch_assignments"] == 2
    assert c["n_conversions_reached"] == 2 and v["n_conversions_reached"] == 2
    assert c["last_touch_conversions"] == 0
    assert v["last_touch_conversions"] == 2
    assert c["linear_credit"] == 1.0 and v["linear_credit"] == 1.0


def test_funnel_attribution_credit_conservation(spark):
    """Attribution models must CONSERVE credit: each touched conversion
    hands out exactly 1.0 under last-touch (one rk==1 row) and exactly
    1.0 under linear (n * 1/n). So across all touch types, the two
    models' totals must agree with each other (within the 1e-8-grid
    rounding of 1/n) — the invariant that catches double-counting or
    dropped conversions in either window."""
    from posts_vectorizer_spark.plans.registry import resolve_query
    from tests.conftest import SF_ORACLE

    rows = resolve_query("events_funnel_attribution")(
        spark, SF_ORACLE
    ).collect()
    assert rows, "fixture has purchases with preceding touches"
    last_total = sum(r["last_touch_conversions"] for r in rows)
    linear_total = sum(r["linear_credit"] for r in rows)
    assert last_total > 0
    assert abs(linear_total - last_total) < 1e-4 * last_total


def test_rfm_segments_planted_quintiles(spark, tmp_path):
    """events_rfm_segments against an independent Python replica of the
    value-level quintile cuts on a planted 10-user cohort."""
    import math

    import pandas as pd

    from posts_vectorizer_spark.plans.registry import resolve_query

    # user u: last event on day u+1 (rec = 9-u), freq = u+2 events,
    # monetary = u purchases of value 10.5 each
    rows, eid = [], 0
    for u in range(10):
        for i in range(u + 1):
            rows.append((eid, f"2024-03-{u + 1:02d} 0{i % 10}:30:00",
                         u, "view", 1.0))
            eid += 1
        rows.append((eid, f"2024-03-{u + 1:02d} 23:00:00", u,
                     "purchase", 10.5 * u))
        eid += 1
    pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.to_datetime([r[1] for r in rows]),
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [float(r[4]) for r in rows],
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(tmp_path / "events.parquet")

    out = resolve_query("events_rfm_segments")(
        spark, str(tmp_path)
    ).collect()

    rec = {u: 9 - u for u in range(10)}
    freq = {u: u + 2 for u in range(10)}
    mon = {u: 10.5 * u for u in range(10)}

    def cuts(vals):
        sv = sorted(vals)
        n = len(sv)
        out_c = []
        for k in range(1, 5):
            rank = math.ceil(k * n / 5)
            # cut = min value whose cum count >= rank
            seen = 0
            for v in sv:
                seen += 1
                if seen >= rank:
                    # min value at that cum position: walk grid properly
                    break
            # value-level: cumulative over distinct values
            cum = 0
            for v in sorted(set(sv)):
                cum += sv.count(v)
                if cum >= rank:
                    out_c.append(v)
                    break
        return out_c

    rc, fc, mc = cuts(rec.values()), cuts(freq.values()), cuts(mon.values())
    seg = {}
    for u in range(10):
        r_s = 5 - sum(1 for c in rc if rec[u] > c)
        f_s = 1 + sum(1 for c in fc if freq[u] > c)
        m_s = 1 + sum(1 for c in mc if mon[u] > c)
        seg.setdefault((r_s, f_s, m_s), []).append(u)

    got = {(r["r_score"], r["f_score"], r["m_score"]): r for r in out}
    assert set(got) == set(seg)
    for key, users in seg.items():
        g = got[key]
        assert g["n_users"] == len(users)
        assert g["avg_recency_days"] == sum(rec[u] for u in users) / len(users)
        assert g["total_monetary"] == sum(mon[u] for u in users)
    # the most recent, most frequent, biggest spender lands in (5,5,5)
    assert (5, 5, 5) in got and 9 in seg[(5, 5, 5)]


def test_markov_stationary_planted_two_state_chain(spark, tmp_path):
    """events_markov_stationary on a planted 2-state chain whose true
    stationary distribution is known: P(a->b)=0.5, P(b->a)=1 gives
    pi = (2/3, 1/3); verify the three pinned-decimal steps against an
    independent Python replica of the rounding discipline."""
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    from posts_vectorizer_spark.plans.registry import resolve_query

    # user sequences: "a a b a a b ..." -> from a: half to a, half to b;
    # from b: always to a
    rows, eid = [], 0
    for u in range(4):
        seq = ["a", "a", "b"] * 4 + ["a"]
        for i, s in enumerate(seq):
            rows.append((eid, f"2024-04-01 {8 + u:02d}:{i:02d}:00", u, s, 1.0))
            eid += 1
    pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.to_datetime([r[1] for r in rows]),
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [float(r[4]) for r in rows],
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(tmp_path / "events.parquet")

    out = {r["state"]: r for r in
           resolve_query("events_markov_stationary")(
               spark, str(tmp_path)
           ).collect()}
    assert set(out) == {"a", "b"}

    # independent replica of the P build + 3 pinned steps
    def d(x, q):
        return Decimal(x).quantize(Decimal(q), rounding=ROUND_HALF_UP)

    # transition counts per user: a->a 4x, a->b 4x, b->a 4x (x4 users)
    p = {("a", "a"): d(str(round(16 / 32, 9)), "1e-9"),
         ("a", "b"): d(str(round(16 / 32, 9)), "1e-9"),
         ("b", "a"): d(str(round(16 / 16, 9)), "1e-9")}
    pi = {"a": d(str(round(1 / 2, 6)), "1e-6"),
          "b": d(str(round(1 / 2, 6)), "1e-6")}
    hist = []
    for _ in range(3):
        raw = {}
        for (i, j), pij in p.items():
            raw[j] = raw.get(j, Decimal(0)) + d(str(float(pi[i] * pij)),
                                                "1e-9")
        tot = float(sum(raw.values()))
        pi = {s: d(str(round(float(v) / tot, 6)), "1e-6")
              for s, v in raw.items()}
        hist.append({s: float(v) for s, v in pi.items()})
    for step, key in enumerate(["pi_step1", "pi_step2", "pi_step3"]):
        for s in ("a", "b"):
            assert out[s][key] == hist[step][s], (key, s)
    # converging toward (2/3, 1/3)
    assert abs(out["a"]["pi_step3"] - 2 / 3) < 0.05
    assert abs(out["b"]["pi_step3"] - 1 / 3) < 0.05



def test_events_query_leaves_session_conf_unchanged(spark, monkeypatch):
    """Reading the events table's nanosecond timestamps needs
    ``NANOS_AS_LONG`` when the scan runs, so it is a prep_session key:
    after prep_session, building and running an events query writes no
    session conf of its own (the builder is called unwrapped, since the
    registry wrapper re-applies prep_session)."""
    from posts_vectorizer_spark.plans.queries_events import events_tumbling_window
    from posts_vectorizer_spark.session import NANOS_AS_LONG, prep_session
    from tests.conftest import SF_SMOKE

    spark.conf.unset(NANOS_AS_LONG)
    prep_session(spark)
    before = dict(spark.conf.getAll)
    writes = []
    real_set = type(spark.conf).set

    def spy(self, key, value):
        writes.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(type(spark.conf), "set", spy)
    df = events_tumbling_window(spark, SF_SMOKE)
    assert df.count() > 0
    assert writes == []
    assert dict(spark.conf.getAll) == before
