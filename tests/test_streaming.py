"""Streaming worker smoke ([R] — SURVEY.md §2.10 ST1/ST3/ST4): drain a
parquet source with availableNow, verify the merged sink equals the batch
flagship on the same input, verify idempotent re-delivery, and that the
heartbeat listener emitted progress."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from posts_vectorizer_spark.operators import tfidf
from posts_vectorizer_spark.sources import load_table
from posts_vectorizer_spark.sources.sinks import merge_upsert_parquet, read_merged
from posts_vectorizer_spark.streaming import vectorize_stream
from tests.conftest import SF_SMOKE


def test_worker_stream_matches_batch(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents")
    emb = load_table(spark, SF_SMOKE, "embeddings")

    source = str(tmp_path / "incoming")
    target = str(tmp_path / "doc_vectors")
    ckpt = str(tmp_path / "ckpt")
    heartbeat = str(tmp_path / "heartbeat.jsonl")

    # arriving micro-batch = the flag-filtered candidates (worker.py:99)
    incoming = docs.where(tfidf.needs_vector("doc_id"))
    incoming.write.mode("overwrite").parquet(source)

    q = vectorize_stream(
        spark, source, docs, emb, target, ckpt,
        lang="en", heartbeat_path=heartbeat, available_now=True,
    )
    q.awaitTermination(120)

    got = read_merged(spark, target)
    expected = tfidf.doc_vectors(docs, emb, "en")
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0

    # ST3: re-running over the same checkpoint re-delivers nothing; the
    # keyed merge keeps the sink identical (at-least-once + idempotent).
    q2 = vectorize_stream(
        spark, source, docs, emb, target, ckpt,
        lang="en", available_now=True,
    )
    q2.awaitTermination(120)
    again = read_merged(spark, target)
    assert again.count() == expected.count()
    assert again.exceptAll(expected).count() == 0

    # ST4: heartbeat wrote at least one progress line with durations.
    assert os.path.exists(heartbeat)
    beats = [json.loads(line) for line in open(heartbeat)]
    assert any(b["num_input_rows"] > 0 for b in beats)


def test_worker_batches_hold_no_caches(spark, tmp_path):
    """A running worker calls no release_caches, so a micro-batch must
    not leave a tracked persist behind: after the first batch, further
    batches keep the tracked-cache count and the JVM's persistent-RDD
    count constant."""
    from posts_vectorizer_spark import cache

    docs = load_table(spark, SF_SMOKE, "documents")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    source = str(tmp_path / "incoming")
    os.makedirs(source)
    q = vectorize_stream(
        spark, source, docs, emb, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        available_now=False,
    )
    tracked, rdds = [], []
    try:
        for i in range(4):
            batch = docs.where(F.col("doc_id") % 4 == i).toPandas()
            batch.to_parquet(os.path.join(source, f"batch-{i}.parquet"))
            q.processAllAvailable()
            tracked.append(len(cache._TRACKED))
            rdds.append(set(spark.sparkContext._jsc.getPersistentRDDs().keySet()))
    finally:
        q.stop()
    assert tracked == tracked[:1] * 4, tracked
    # by id, not count: the context cleaner may drop other tests' RDDs
    assert all(not r - rdds[0] for r in rdds[1:]), rdds


def test_worker_dimension_table_released_with_caches(spark, tmp_path):
    """The worker's cached word-vector table is a tracked persist: once
    the stream has drained, release_caches() leaves no persistent RDD of
    it behind to serve later word_vectors plans from a stale cache."""
    from posts_vectorizer_spark.cache import release_caches

    docs = load_table(spark, SF_SMOKE, "documents")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    source = str(tmp_path / "incoming")
    docs.where(F.col("doc_id") % 4 == 0).write.parquet(source)

    release_caches()
    baseline = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    q = vectorize_stream(
        spark, source, docs, emb, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    assert release_caches() > 0
    leaked = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) - baseline
    assert not leaked


def test_heartbeat_listener_bound_to_its_stream(spark, tmp_path):
    """The heartbeat listener logs only its own query and is removed once
    that query terminates: a worker running beside it, or started after
    it, appends nothing to its heartbeat file, and the session's
    listener count returns to its baseline."""
    import time as _time

    docs = load_table(spark, SF_SMOKE, "documents")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    heartbeat = str(tmp_path / "heartbeat.jsonl")
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def n_listeners() -> int:
        return len(spark.streams._jsqm.listListeners())

    def worker(name: str, **kw):
        source = str(tmp_path / f"in_{name}")
        docs.where(F.col("doc_id") % 4 == 0).write.parquet(source)
        return vectorize_stream(
            spark, source, docs, emb, str(tmp_path / f"out_{name}"),
            str(tmp_path / f"ckpt_{name}"), **kw,
        )

    def fed_beats() -> list:
        bus.waitUntilEmpty()  # listener events are delivered asynchronously
        if not os.path.exists(heartbeat):
            return []
        return [b for b in map(json.loads, open(heartbeat)) if b["num_input_rows"]]

    baseline = n_listeners()
    first = worker("first", heartbeat_path=heartbeat, available_now=False)
    try:
        first.processAllAvailable()
        deadline = _time.monotonic() + 30
        while not fed_beats() and _time.monotonic() < deadline:
            _time.sleep(0.2)
        beats = fed_beats()
        assert beats
        worker("beside").awaitTermination(120)
        assert fed_beats() == beats
    finally:
        first.stop()
    bus.waitUntilEmpty()
    assert n_listeners() == baseline
    worker("after").awaitTermination(120)
    assert fed_beats() == beats


def test_worker_merges_through_module_level_sink(spark, tmp_path, monkeypatch):
    """graftbench's traced run times each micro-batch merge by replacing
    ``streaming.worker.merge_upsert_parquet``; the worker must look that
    name up at batch time, so the replacement runs once per non-empty
    batch (a local import would bypass it silently)."""
    from posts_vectorizer_spark.streaming import worker

    docs = load_table(spark, SF_SMOKE, "documents")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    source = str(tmp_path / "incoming")
    docs.where(F.col("doc_id") % 4 == 0).write.parquet(source)
    calls = []
    real = worker.merge_upsert_parquet

    def traced(spark_, df, target, keys, *a, **kw):
        calls.append(target)
        return real(spark_, df, target, keys, *a, **kw)

    monkeypatch.setattr(worker, "merge_upsert_parquet", traced)
    target = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = vectorize_stream(spark, source, docs, emb, target, ckpt)
    q.awaitTermination(120)
    batches = [p for p in q.recentProgress if p.numInputRows > 0]
    assert batches
    assert calls == [target] * len(batches)
    assert read_merged(spark, target).count() > 0


def test_stateful_stream_dedup_across_batches(spark, tmp_path):
    """ST7: dropDuplicates state survives micro-batch boundaries — the same
    doc_ids delivered in two separate files (forced into separate batches
    via maxFilesPerTrigger=1) land exactly once in the sink."""
    from posts_vectorizer_spark.streaming import dedup_stream

    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    source = str(tmp_path / "in")
    target = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs.write.mode("overwrite").parquet(source)
    docs.write.mode("append").parquet(source)  # full re-delivery, new files

    q = dedup_stream(
        spark, source, docs.schema, target, ckpt, max_files_per_trigger=1
    )
    q.awaitTermination(120)

    out = spark.read.parquet(target)
    assert out.count() == docs.count()
    assert out.select("doc_id").distinct().count() == docs.count()


def test_watermarked_dedup_bounds_state_and_drops_redelivery(spark, tmp_path):
    """ST7 production form: dropDuplicatesWithinWatermark drops re-delivered
    keys arriving within the watermark horizon across micro-batches, with
    state bounded by event time instead of growing forever."""
    import datetime as dt

    from posts_vectorizer_spark.streaming import dedup_stream

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(i, base + dt.timedelta(minutes=i), f"p{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, ts timestamp, payload string")
    source = str(tmp_path / "in")
    df.write.mode("overwrite").parquet(source)
    df.write.mode("append").parquet(source)  # redelivery in separate files

    q = dedup_stream(
        spark,
        source,
        df.schema,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        keys=("doc_id",),
        max_files_per_trigger=1,  # force the redelivery into later batches
        event_time_col="ts",
        watermark="2 hours",  # horizon covers every redelivered event
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 20
    assert out.select("doc_id").distinct().count() == 20


def test_watermarked_dedup_preserves_ntz_sink_schema(spark, tmp_path):
    """An NTZ event-time source is cast to LTZ only for watermarking; the
    sink must write the column back as TIMESTAMP_NTZ so downstream readers
    can union sink output with the source without a type mismatch."""
    import datetime as dt

    from pyspark.sql.types import TimestampNTZType

    from posts_vectorizer_spark.streaming import dedup_stream

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(i, base + dt.timedelta(minutes=i), f"p{i}") for i in range(5)]
    df = spark.createDataFrame(
        rows, "doc_id long, ts timestamp_ntz, payload string"
    )
    source = str(tmp_path / "in")
    df.write.mode("overwrite").parquet(source)

    q = dedup_stream(
        spark,
        source,
        df.schema,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        keys=("doc_id",),
        event_time_col="ts",
        watermark="2 hours",
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert isinstance(out.schema["ts"].dataType, TimestampNTZType)
    assert out.unionByName(spark.read.parquet(source)).count() == 10


def test_event_time_cast_rejects_non_utc_session(spark):
    """The NTZ->LTZ watermark cast is instant-preserving only under a UTC
    session timezone; any other zone must fail loudly, not shift windows."""
    import datetime as dt

    import pytest as _pytest

    from posts_vectorizer_spark.streaming.worker import _event_time_ltz

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1))], "id long, ts timestamp_ntz"
    )
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        with _pytest.raises(ValueError, match="UTC"):
            _event_time_ltz(df, "ts")
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert "ts" in _event_time_ltz(df, "ts").columns


def test_watermarked_window_drops_late_data_matches_batch_on_time(spark, tmp_path):
    """ST6 under a watermark: windows emit once the watermark passes their
    end; an event arriving after the horizon is dropped. The emitted windows
    must equal the batch tumbling aggregation over the on-time rows only."""
    import datetime as dt
    import time as _time

    from posts_vectorizer_spark.streaming import tumbling_window_stream

    d = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    schema = "event_id long, ts timestamp, event_type string, value double"
    files = [
        # batch 0: on-time events; end-of-batch watermark -> 11:05
        [(1, d(10, 5), "a", 1.0), (2, d(10, 40), "a", 2.0), (3, d(12, 5), "a", 4.0)],
        # batch 1: advances watermark past the [10:00) window end -> evicted
        [(9, d(12, 30), "a", 32.0)],
        # batch 2: event 4 arrives AFTER its window was finalized -> dropped
        [(4, d(10, 30), "a", 8.0), (5, d(14, 5), "a", 16.0)],
    ]
    source = str(tmp_path / "in")
    for rows in files:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(source)
        _time.sleep(1.1)  # file source orders batches by mod time

    target = str(tmp_path / "out")
    q = tumbling_window_stream(
        spark, source, spark.createDataFrame(files[0], schema).schema,
        target, str(tmp_path / "ckpt"),
        time_col="ts", window="1 hour", watermark="1 hour",
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1  # exactly the late event

    got = {
        (r["window_start"].isoformat(), r["event_type"]): (r["n"], r["total_value"])
        for r in spark.read.parquet(target).collect()
    }
    # The emitted [10:00) window equals the BATCH tumbling aggregation over
    # the on-time rows only (events 1, 2) — late event 4 never counted.
    assert got[("2024-01-01T10:00:00", "a")] == (2, 3.0)
    assert got[("2024-01-01T12:00:00", "a")] == (2, 36.0)


def test_session_window_stream_merges_across_batches_matches_batch(spark, tmp_path):
    """ST6 sessions in streaming mode: events split across micro-batches
    must merge into the same sessions the batch session_window aggregation
    produces, and a session only emits once the watermark passes its end
    (last event + gap)."""
    import datetime as dt
    import time as _time

    from posts_vectorizer_spark.streaming import session_window_stream

    d = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    schema = "event_id long, ts timestamp, user_id long, value double"
    files = [
        # user 7: two events 30 min apart -> ONE session (gap 1h)
        [(1, d(10, 0), 7, 1.0), (2, d(10, 30), 7, 2.0)],
        # same user lands in a LATER micro-batch but within the gap ->
        # must merge into the open session, not start a new one
        [(3, d(11, 0), 7, 4.0), (4, d(10, 15), 8, 8.0)],
        # far-future event closes every watermark -> all sessions emit
        [(5, d(20, 0), 9, 16.0)],
    ]
    source = str(tmp_path / "in")
    for rows in files:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(source)
        _time.sleep(1.1)  # file source orders batches by mod time

    target = str(tmp_path / "out")
    q = session_window_stream(
        spark, source, spark.createDataFrame(files[0], schema).schema,
        target, str(tmp_path / "ckpt"),
        time_col="ts", gap="1 hour", watermark="1 hour",
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    got = {
        (r["user_id"], r["session_start"].isoformat()): (
            r["session_end"].isoformat(), r["n_events"], r["total_value"],
        )
        for r in spark.read.parquet(target).collect()
    }
    # user 7's three events (spanning two micro-batches) = ONE session
    # 10:00-12:00 (last event 11:00 + 1h gap), exactly as batch computes
    assert got[(7, "2024-01-01T10:00:00")] == ("2024-01-01T12:00:00", 3, 7.0)
    assert got[(8, "2024-01-01T10:15:00")] == ("2024-01-01T11:15:00", 1, 8.0)
    # batch equivalence on the emitted users
    from pyspark.sql import functions as F

    batch_rows = (
        spark.createDataFrame([r for f in files for r in f], schema)
        .where(F.col("user_id") != 9)  # 9's session never emits (no later watermark)
        .groupBy(F.session_window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        .collect()
    )
    batch = {
        (r["user_id"], r["w"]["start"].isoformat()): (
            r["w"]["end"].isoformat(), r["n"], float(r["v"]),
        )
        for r in batch_rows
    }
    assert batch == got


def test_stateful_user_totals_accumulate_across_batches(spark, tmp_path):
    """ST-custom: applyInPandasWithState keeps per-user state across
    micro-batches — two forced batches over the same users accumulate, and
    the final state equals the batch groupBy over all input."""
    from posts_vectorizer_spark.streaming import (
        latest_user_totals,
        stateful_user_totals_stream,
    )

    events = load_table(spark, SF_SMOKE, "events")
    half_a = events.where(F.col("event_id") % 2 == 0)
    half_b = events.where(F.col("event_id") % 2 == 1)
    source = str(tmp_path / "in")
    half_a.coalesce(1).write.mode("append").parquet(source)
    half_b.coalesce(1).write.mode("append").parquet(source)

    q = stateful_user_totals_stream(
        spark, source, events.schema,
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    got = latest_user_totals(spark, str(tmp_path / "out")).withColumn(
        "total_value", F.round("total_value", 4)
    )
    expected = events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    target = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    merge_upsert_parquet(spark, base, target, ["k"])
    upd = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    merge_upsert_parquet(spark, upd, target, ["k"])
    got = {r.k: r.v for r in read_merged(spark, target).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """The O(batch)-not-O(table) property: a merge must leave the files of
    buckets containing no update keys physically untouched (same paths,
    same mtimes) — the bucket-pruned MERGE contract."""
    import os

    from posts_vectorizer_spark.sources.sinks import _read_manifest

    target = str(tmp_path / "t")
    base = spark.createDataFrame([(k, "v") for k in range(200)], "k long, v string")
    merge_upsert_parquet(spark, base, target, ["k"], n_buckets=8)
    before = _read_manifest(target)["buckets"]
    assert len(before) > 1  # keys spread over multiple buckets

    upd = spark.createDataFrame([(5, "V")], "k long, v string")
    merge_upsert_parquet(spark, upd, target, ["k"])
    after = _read_manifest(target)["buckets"]

    changed = {b for b in after if after[b] != before.get(b)}
    assert len(changed) == 1  # exactly the bucket key 5 hashes into
    for b, d in after.items():
        if b not in changed:
            assert d == before[b]
            assert os.path.isdir(os.path.join(target, d))  # untouched on disk
    got = {r.k: r.v for r in read_merged(spark, target).collect()}
    assert got[5] == "V" and got[6] == "v" and len(got) == 200


def test_merge_crash_between_write_and_commit_recovers(spark, tmp_path):
    """ADVICE r1 (medium): a crash must never lose committed data. The only
    commit point is the atomic manifest replace — simulate dying after the
    new bucket dirs are written but before the manifest commit: the table
    must still read as the previous state, and the next merge must sweep
    the orphans and converge."""
    import os
    import shutil

    target = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    merge_upsert_parquet(spark, base, target, ["k"])
    manifest_file = os.path.join(target, "_MANIFEST.json")
    committed = open(manifest_file).read()

    # simulate the un-committed half of a crashed merge: orphan version
    # dirs + a stale manifest temp, with the OLD manifest still in place
    orphan = os.path.join(target, "b0_vdeadbeef")
    os.makedirs(orphan)
    live_dirs = [d for d in os.listdir(target) if d.startswith("b") and d != "b0_vdeadbeef"]
    shutil.copy(
        os.path.join(target, live_dirs[0], os.listdir(os.path.join(target, live_dirs[0]))[0]),
        os.path.join(orphan, "part-0.parquet"),
    )
    with open(manifest_file + ".tmp_dead", "w") as f:
        f.write("{}")

    # committed state is intact
    got = {r.k: r.v for r in read_merged(spark, target).collect()}
    assert got == {1: "a", 2: "b"}

    # next merge sweeps the orphans and applies cleanly
    upd = spark.createDataFrame([(2, "B")], "k long, v string")
    merge_upsert_parquet(spark, upd, target, ["k"])
    assert not os.path.isdir(orphan)
    assert not os.path.exists(manifest_file + ".tmp_dead")
    got = {r.k: r.v for r in read_merged(spark, target).collect()}
    assert got == {1: "a", 2: "B"}


def _jobs_outside_sql(spark, fn) -> list[int]:
    """Ids of the jobs ``fn`` runs that belong to no SQL execution. A
    write or a query runs its jobs inside one; the job a parquet read
    without a schema runs to infer it does not."""
    import uuid

    sc = spark.sparkContext
    group = f"sink-probe-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    # the newest executions: the store keeps a bounded number, so an
    # offset taken before ``fn`` can point past its end
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    execs = store.executionsList(max(n - 50, 0), 50)
    in_sql = [execs.apply(i).jobs() for i in range(execs.size())]
    return [
        j for j in sc.statusTracker().getJobIdsForGroup(group)
        if not any(m.contains(j) for m in in_sql)
    ]


def test_merge_persists_nothing(spark, tmp_path, monkeypatch):
    """A merge writes its batch once and reads it back from disk: it
    persists nothing, so the JVM's persistent RDDs and the tracked caches
    are the same after it as before."""
    from posts_vectorizer_spark import cache

    target = str(tmp_path / "t")
    base = spark.createDataFrame([(k, "v") for k in range(50)], "k long, v string")
    merge_upsert_parquet(spark, base, target, ["k"], n_buckets=4)
    rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    tracked = list(cache._TRACKED)

    def no_cache(*a, **kw):
        raise AssertionError("the merge persisted a DataFrame")

    monkeypatch.setattr(type(base), "persist", no_cache)
    monkeypatch.setattr(type(base), "cache", no_cache)
    upd = spark.createDataFrame([(3, "V"), (77, "n")], "k long, v string")
    merge_upsert_parquet(spark, upd, target, ["k"])
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) == rdds
    assert cache._TRACKED == tracked
    assert read_merged(spark, target).count() == 51


def test_merge_reads_run_no_schema_inference(spark, tmp_path):
    """The manifest records the table schema: read_merged, and a second
    merge's read of the buckets it touches, run no schema-inference job."""
    target = str(tmp_path / "t")
    base = spark.createDataFrame([(k, "v") for k in range(50)], "k long, v string")
    merge_upsert_parquet(spark, base, target, ["k"], n_buckets=4)
    assert _jobs_outside_sql(spark, lambda: read_merged(spark, target)) == []
    upd = spark.createDataFrame([(3, "V"), (77, "n")], "k long, v string")
    assert _jobs_outside_sql(
        spark, lambda: merge_upsert_parquet(spark, upd, target, ["k"])
    ) == []
    rows = sorted(tuple(r) for r in read_merged(spark, target).collect())
    assert rows == sorted(
        [(k, "V" if k == 3 else "v") for k in range(50)] + [(77, "n")]
    )


def test_cdc_first_write_stores_no_deleted_key(spark, tmp_path):
    """The staged CDC batch carries its deletes and op column; a first
    write must still store only the inserted and updated rows."""
    from posts_vectorizer_spark.sources.sinks import apply_cdc_parquet

    target = str(tmp_path / "t")
    changes = spark.createDataFrame(
        [(1, "a", "I"), (2, None, "D"), (3, "c", "U")],
        "k long, v string, _op string",
    )
    apply_cdc_parquet(spark, changes, target, ["k"])
    got = read_merged(spark, target)
    assert got.columns == ["k", "v"]
    assert sorted(tuple(r) for r in got.collect()) == [(1, "a"), (3, "c")]


@pytest.mark.parametrize("crash_at,grow", [
    pytest.param(at, grow, id=f"regrow-{at}" if grow else at)
    for grow in (False, True)
    for at in ("_bucket_dirs", "_write_manifest_atomic")
])
def test_merge_crash_after_staging_recovers(spark, tmp_path, monkeypatch, crash_at, grow):
    """A merge that dies after staging its batch (or just before the
    manifest commit) leaves the committed state readable; the next merge
    sweeps the ``_staging_*`` and version directories it left behind.
    With ``grow`` the crashed and the recovering merge re-bucket the
    table."""
    from posts_vectorizer_spark.sources import sinks

    target = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    merge_upsert_parquet(spark, base, target, ["k"])
    live = set(os.listdir(target))
    if grow:  # two target sizes' worth of stored bytes: the next merge re-buckets
        stored = sum(sinks._read_manifest(target)["bytes"].values())
        monkeypatch.setattr(sinks, "TARGET_BUCKET_BYTES", stored // 2)

    def crash(*a, **kw):
        raise RuntimeError("crash")

    with monkeypatch.context() as m:
        m.setattr(sinks, crash_at, crash)
        upd = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
        with pytest.raises(RuntimeError):
            merge_upsert_parquet(spark, upd, target, ["k"])
    left = set(os.listdir(target)) - live
    assert left  # the crashed merge's staging or version directories
    got = {r.k: r.v for r in read_merged(spark, target).collect()}
    assert got == {1: "a", 2: "b"}

    merge_upsert_parquet(spark, upd, target, ["k"])
    assert not left & set(os.listdir(target))
    assert not [d for d in os.listdir(target) if d.startswith("_staging_")]
    got = sorted(tuple(r) for r in read_merged(spark, target).collect())
    assert got == [(1, "a"), (2, "B"), (3, "c")]
    assert (sinks._read_manifest(target)["n_buckets"] > 1) == grow


def _bucket_bytes(target: str, manifest: dict) -> dict[str, int]:
    """Parquet bytes on disk per bucket of the committed manifest."""
    return {
        b: sum(
            os.path.getsize(os.path.join(target, d, f))
            for f in os.listdir(os.path.join(target, d))
            if f.endswith(".parquet")
        )
        for b, d in manifest["buckets"].items()
    }


def test_default_sink_is_one_bucket_with_recorded_bytes(spark, tmp_path):
    """A sink far below the 128 MiB bucket target is one bucket, and the
    manifest's per-bucket bytes are the parquet bytes on disk."""
    from posts_vectorizer_spark.sources.sinks import _read_manifest

    target = str(tmp_path / "t")
    base = spark.createDataFrame([(k, "v") for k in range(200)], "k long, v string")
    merge_upsert_parquet(spark, base, target, ["k"])
    upd = spark.createDataFrame([(5, "V"), (500, "n")], "k long, v string")
    merge_upsert_parquet(spark, upd, target, ["k"])
    manifest = _read_manifest(target)
    assert manifest["n_buckets"] == 1 and list(manifest["buckets"]) == ["0"]
    assert manifest["bytes"] == _bucket_bytes(target, manifest)
    assert read_merged(spark, target).count() == 201


def test_merge_grows_buckets_to_stored_bytes(spark, tmp_path, monkeypatch):
    """With a bucket target of a few KB, the next merge re-buckets the
    table to a power of two above 1: every row stays readable, each
    stored row sits in bucket ``pmod(hash(k), n)``, and a later one-key
    merge at that size rewrites exactly one bucket."""
    from posts_vectorizer_spark.sources import sinks

    target = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(k, f"v{k:05d}" * 8) for k in range(2000)], "k long, v string"
    )
    merge_upsert_parquet(spark, base, target, ["k"])
    assert sinks._read_manifest(target)["n_buckets"] == 1
    monkeypatch.setattr(sinks, "TARGET_BUCKET_BYTES", 4096)
    upd = spark.createDataFrame([(7, "V"), (5000, "n")], "k long, v string")
    merge_upsert_parquet(spark, upd, target, ["k"])
    manifest = sinks._read_manifest(target)
    n = manifest["n_buckets"]
    assert n > 1 and n & (n - 1) == 0
    assert manifest["bytes"] == _bucket_bytes(target, manifest)
    want = {k: f"v{k:05d}" * 8 for k in range(2000)} | {7: "V", 5000: "n"}
    assert {r.k: r.v for r in read_merged(spark, target).collect()} == want
    for b, d in manifest["buckets"].items():
        rows = spark.read.parquet(os.path.join(target, d))
        wrong = rows.where(F.pmod(F.hash("k"), F.lit(n)) != int(b)).count()
        assert wrong == 0

    # the grown count stays; a one-key merge touches one bucket
    monkeypatch.setattr(sinks, "TARGET_BUCKET_BYTES", 128 * 1024 * 1024)
    merge_upsert_parquet(
        spark, spark.createDataFrame([(11, "W")], "k long, v string"), target, ["k"]
    )
    after = sinks._read_manifest(target)
    assert after["n_buckets"] == n
    changed = {b for b in after["buckets"] if after["buckets"][b] != manifest["buckets"].get(b)}
    assert len(changed) == 1
    assert {r.k: r.v for r in read_merged(spark, target).collect()} == want | {11: "W"}


def test_interval_join_stream_joins_across_batches(spark, tmp_path):
    """ST9: a click buffered in batch 0 must still match an error arriving
    in batch 1 (stream-stream join state spans micro-batches), and the
    emitted pairs must equal the batch interval join."""
    import datetime as dt
    import time as _time

    from posts_vectorizer_spark.streaming import interval_join_stream

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    files = [
        # batch 0: clicks only — buffered in join state
        [(1, t0 - 10 * m, 1, "click", 1.0, "{}"),
         (2, t0 - 5 * m, 1, "click", 1.0, "{}"),
         (3, t0 - 5 * m, 2, "click", 1.0, "{}")],
        # batch 1: the errors arrive later — must join the buffered clicks
        [(100, t0, 1, "error", 1.0, "{}"),
         (200, t0 + 30 * m, 2, "error", 1.0, "{}")],
    ]
    source = str(tmp_path / "in")
    for rows in files:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(source)
        _time.sleep(1.1)  # file source orders batches by mod time

    target = str(tmp_path / "out")
    q = interval_join_stream(
        spark, source, spark.createDataFrame(files[0], schema).schema,
        target, str(tmp_path / "ckpt"), max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    pairs = {
        (r["err_id"], r["click_ts"])
        for r in spark.read.parquet(target).collect()
    }
    # error 100 (user 1) matches both user-1 clicks (10m edge inclusive,
    # cross-batch); error 200 (user 2) matches nothing — its user's click
    # is 35 minutes earlier, outside the lookback
    assert pairs == {(100, t0 - 10 * m), (100, t0 - 5 * m)}


def test_cdc_apply_insert_update_delete(spark, tmp_path):
    """S4 full MERGE shape: a compacted CDC batch with I/U/D ops applies
    atomically — updates replace, inserts add, deletes remove — and
    re-applying the same batch (at-least-once delivery) converges."""
    from posts_vectorizer_spark.sources.sinks import apply_cdc_parquet

    target = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    merge_upsert_parquet(spark, base, target, ["k"])
    changes = spark.createDataFrame(
        [(2, "B", "U"), (3, None, "D"), (4, "d", "I")],
        "k long, v string, _op string",
    )
    apply_cdc_parquet(spark, changes, target, ["k"])
    got = {r.k: r.v for r in read_merged(spark, target).collect()}
    assert got == {1: "a", 2: "B", 4: "d"}
    # idempotent re-delivery: same batch again -> same state
    apply_cdc_parquet(spark, changes, target, ["k"])
    got = {r.k: r.v for r in read_merged(spark, target).collect()}
    assert got == {1: "a", 2: "B", 4: "d"}


def test_cdc_delete_empties_bucket_drops_manifest_entry(spark, tmp_path):
    """A bucket whose every row is deleted writes no staging output — its
    manifest entry must be dropped, not left pointing at the stale
    pre-delete version."""
    from posts_vectorizer_spark.sources.sinks import (
        _read_manifest,
        apply_cdc_parquet,
    )

    target = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(k, "v") for k in range(40)], "k long, v string"
    )
    merge_upsert_parquet(spark, base, target, ["k"], n_buckets=4)
    # delete EVERY key in one bucket (recompute the bucket assignment)
    from pyspark.sql import functions as F

    victims = [
        r.k
        for r in base.withColumn("b", F.pmod(F.hash("k"), F.lit(4)))
        .where(F.col("b") == 0)
        .collect()
    ]
    assert victims  # bucket 0 is non-empty
    changes = spark.createDataFrame(
        [(k, None, "D") for k in victims], "k long, v string, _op string"
    )
    apply_cdc_parquet(spark, changes, target, ["k"])
    manifest = _read_manifest(target)
    assert "0" not in manifest["buckets"]
    got = {r.k for r in read_merged(spark, target).collect()}
    assert got == {k for k in range(40) if k not in set(victims)}


def test_cdc_stream_applies_changelog_across_batches(spark, tmp_path):
    """CDC ingestion end-to-end: changelog files land as separate
    micro-batches (insert wave, then update+delete wave with an in-batch
    superseded op that compaction must discard); the merge target's final
    state equals replaying the log in order."""
    import time as _time

    from posts_vectorizer_spark.streaming import upsert_stream

    schema = "k long, v string, _op string, seq long"
    files = [
        # batch 0: initial inserts
        [(1, "a", "I", 1), (2, "b", "I", 2), (3, "c", "I", 3)],
        # batch 1: update 2, delete 3, insert-then-update 4 in ONE batch
        # (seq 6 supersedes seq 5 — compaction keeps the later op)
        [(2, "B", "U", 4), (3, None, "D", 5 + 2), (4, "d", "I", 5),
         (4, "D4", "U", 6)],
    ]
    source = str(tmp_path / "log")
    for rows in files:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(source)
        _time.sleep(1.1)

    target = str(tmp_path / "t")
    q = upsert_stream(
        spark, source, spark.createDataFrame(files[0], schema).schema,
        target, str(tmp_path / "ckpt"),
        keys=["k"], order_col="seq", op_col="_op", max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    got = {r.k: r.v for r in read_merged(spark, target).collect()}
    assert got == {1: "a", 2: "B", 4: "D4"}


def test_ordered_merge_rejects_stale_rows(spark, tmp_path):
    """merge_upsert_parquet(order_col=...): a stored row is replaced only
    by a >=-ordered incoming row — replaying an OLD batch after a newer
    one must not clobber state (the cross-batch half of at-least-once
    convergence; per-batch compaction only covers within-batch order)."""
    from posts_vectorizer_spark.sources.sinks import merge_upsert_parquet

    target = str(tmp_path / "t")
    new = spark.createDataFrame(
        [(1, "new", 10), (2, "new", 10)], "k long, v string, seq long"
    )
    stale = spark.createDataFrame(
        [(1, "stale", 5), (3, "i", 5)], "k long, v string, seq long"
    )
    merge_upsert_parquet(spark, new, target, ["k"], order_col="seq")
    merge_upsert_parquet(spark, stale, target, ["k"], order_col="seq")
    got = {r.k: (r.v, r.seq) for r in read_merged(spark, target).collect()}
    # key 1 keeps the newer row; key 3 (absent before) inserts
    assert got == {1: ("new", 10), 2: ("new", 10), 3: ("i", 5)}
    # replaying the new batch is still idempotent (>= keeps determinism)
    merge_upsert_parquet(spark, new, target, ["k"], order_col="seq")
    got = {r.k: (r.v, r.seq) for r in read_merged(spark, target).collect()}
    assert got == {1: ("new", 10), 2: ("new", 10), 3: ("i", 5)}


def test_upsert_stream_ordered_sink_survives_out_of_order_batches(
    spark, tmp_path
):
    """upsert_stream(ordered_sink=True) end-to-end: the high-seq file
    lands FIRST, the low-seq file second (mtime order = batch order, one
    file per micro-batch) — the final state must keep the high-seq rows.
    The plain sink would let the second batch overwrite."""
    import time as _time

    from posts_vectorizer_spark.streaming import upsert_stream

    schema = "k long, v string, seq long"
    source = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, "newer", 20), (2, "newer", 20)], schema
    ).coalesce(1).write.mode("append").parquet(source)
    _time.sleep(1.1)  # distinct mtimes pin batch order
    spark.createDataFrame(
        [(1, "older", 7), (3, "older", 7)], schema
    ).coalesce(1).write.mode("append").parquet(source)

    q = upsert_stream(
        spark, source, spark.createDataFrame([], schema).schema,
        str(tmp_path / "t"), str(tmp_path / "ckpt"),
        keys=["k"], order_col="seq", max_files_per_trigger=1,
        ordered_sink=True,
    )
    q.awaitTermination(120)
    got = {r.k: r.v for r in read_merged(spark, str(tmp_path / "t")).collect()}
    assert got == {1: "newer", 2: "newer", 3: "older"}


def test_ordered_merge_converges_under_any_batch_order(spark, tmp_path):
    """The ordered merge's contract, stated as a property: applying the
    same set of batches in ANY order (including duplicates — at-least-once
    redelivery) yields the SAME final state: per key, the globally
    max-(order, tiebreak) row."""
    import itertools

    from posts_vectorizer_spark.sources.sinks import merge_upsert_parquet

    batches = [
        [(1, "a1", 1), (2, "b1", 1)],
        [(1, "a2", 2), (3, "c2", 2)],
        [(2, "b3", 3), (3, "c3", 3), (4, "d3", 3)],
    ]
    expected = {1: ("a2", 2), 2: ("b3", 3), 3: ("c3", 3), 4: ("d3", 3)}
    orders = list(itertools.permutations(range(3)))[:4] + [(0, 1, 2, 1, 0)]
    for i, order in enumerate(orders):
        target = str(tmp_path / f"t{i}")
        for b in order:
            merge_upsert_parquet(
                spark,
                spark.createDataFrame(batches[b], "k long, v string, seq long"),
                target, ["k"], order_col="seq",
            )
        got = {r.k: (r.v, r.seq) for r in read_merged(spark, target).collect()}
        assert got == expected, f"order {order} diverged"


def test_cdc_compaction_tiebreak_deterministic_on_duplicate_seq(
    spark, tmp_path
):
    """Two changelog rows with the SAME key and SAME sequence number must
    compact to the same winner on every run (a foreachBatch retry replays
    the identical batch — a partition-order-dependent winner would break
    at-least-once convergence). The contract: ties break on the remaining
    columns in name order, descending — here (_op, v), so for key 5 the
    ('U','y') row beats ('U','x'), and for key 6 'U' beats 'D'."""
    from posts_vectorizer_spark.streaming import upsert_stream

    schema = "k long, v string, _op string, seq long"
    rows = [
        (5, "x", "U", 10), (5, "y", "U", 10),   # tie on seq AND _op
        (6, None, "D", 20), (6, "kept", "U", 20),  # tie on seq, U > D desc
        (5, "base", "I", 1), (6, "base", "I", 1),
    ]
    expected = {5: "y", 6: "kept"}
    for run in range(2):
        source = str(tmp_path / f"log{run}")
        # shuffle file layout between runs so partition order differs
        order = rows if run == 0 else rows[::-1]
        spark.createDataFrame(order, schema).repartition(4).write.mode(
            "overwrite"
        ).parquet(source)
        target = str(tmp_path / f"t{run}")
        q = upsert_stream(
            spark, source, spark.createDataFrame(rows, schema).schema,
            target, str(tmp_path / f"ckpt{run}"),
            keys=["k"], order_col="seq", op_col="_op",
        )
        q.awaitTermination(120)
        got = {r.k: r.v for r in read_merged(spark, target).collect()}
        assert got == expected, f"run {run} diverged"


def test_streaming_dedup_under_rocksdb_state_store(spark, tmp_path):
    """The 100 TB state backend: the same watermarked streaming dedup runs
    under RocksDBStateStoreProvider (bounded executor memory, spill to
    local disk — the production choice once keyed state outgrows the heap;
    provider is a per-query conf, so one session can mix backends).
    Asserts identical results AND that RocksDB actually backed the state
    (sst/log artifacts in the checkpoint)."""
    import os

    from posts_vectorizer_spark.sources import load_table
    from posts_vectorizer_spark.streaming import dedup_stream

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        e = load_table(spark, "/root/testdata/sf0.001", "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        src, tgt, ckpt = (
            str(tmp_path / "in"),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        )
        e.coalesce(1).write.mode("append").parquet(src)
        e.coalesce(1).write.mode("append").parquet(src)  # second delivery
        q = dedup_stream(
            spark, src, e.schema, tgt, ckpt,
            keys=("event_id",), max_files_per_trigger=1,
        )
        q.awaitTermination(300)
        got = spark.read.parquet(tgt)
        assert got.count() == e.count()  # duplicates dropped exactly
        rocks_files = []
        for root, _dirs, files in os.walk(os.path.join(ckpt, "state")):
            rocks_files += [
                f for f in files
                if f.endswith((".sst", ".zip")) or "rocksdb" in root.lower()
            ]
        assert rocks_files, "RocksDB state artifacts expected in checkpoint"
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_merge_add_ledger_makes_addition_exactly_once(spark, tmp_path):
    """Additive merge is not naturally idempotent; the batch-id ledger
    must make it so: re-applying a delivered batch_id is a no-op, a new
    batch_id adds, and matched keys SUM while new keys insert."""
    from posts_vectorizer_spark.sources.sinks import (
        merge_add_parquet,
        read_merged,
    )

    tgt = str(tmp_path / "counts")
    d1 = spark.createDataFrame(
        [("a", 2), ("b", 3)], "word string, occurrences long"
    )
    merge_add_parquet(spark, d1, tgt, ["word"], batch_id=0)
    merge_add_parquet(spark, d1, tgt, ["word"], batch_id=0)  # replay: no-op
    state = {
        r["word"]: r["occurrences"] for r in read_merged(spark, tgt).collect()
    }
    assert state == {"a": 2, "b": 3}
    d2 = spark.createDataFrame(
        [("b", 5), ("c", 7)], "word string, occurrences long"
    )
    merge_add_parquet(spark, d2, tgt, ["word"], batch_id=1)
    state = {
        r["word"]: r["occurrences"] for r in read_merged(spark, tgt).collect()
    }
    assert state == {"a": 2, "b": 8, "c": 7}
    # replay of batch 1 after batch 1 committed: still a no-op
    merge_add_parquet(spark, d2, tgt, ["word"], batch_id=1)
    state2 = {
        r["word"]: r["occurrences"] for r in read_merged(spark, tgt).collect()
    }
    assert state2 == state


def test_merge_add_probes_sparse_large_state(spark, tmp_path):
    """A combining merge rewrites only the buckets its batch wrote: in a
    16-bucket additive state that so far fills 2 buckets, a delta
    touching one bucket leaves the other's files as they were."""
    from posts_vectorizer_spark.sources.sinks import (
        _read_manifest,
        merge_add_parquet,
        read_merged,
    )

    words = spark.createDataFrame([(f"w{i}",) for i in range(32)], "word string")
    bucket = {
        r["word"]: r["b"]
        for r in words.select("word", F.pmod(F.hash("word"), F.lit(16)).alias("b"))
        .collect()
    }
    w1 = "w0"
    w2 = next(w for w in bucket if bucket[w] != bucket[w1])
    tgt = str(tmp_path / "counts")
    schema = "word string, occurrences long"
    merge_add_parquet(
        spark, spark.createDataFrame([(w1, 1), (w2, 1)], schema), tgt, ["word"],
        n_buckets=16, batch_id=0,
    )
    before = _read_manifest(tgt)
    assert before["n_buckets"] == 16 and len(before["buckets"]) == 2
    merge_add_parquet(
        spark, spark.createDataFrame([(w1, 5)], schema), tgt, ["word"], batch_id=1
    )
    after = _read_manifest(tgt)["buckets"]
    b1, b2 = str(bucket[w1]), str(bucket[w2])
    assert after[b1] != before["buckets"][b1]
    assert after[b2] == before["buckets"][b2]  # untouched bucket not rewritten
    state = {r["word"]: r["occurrences"] for r in read_merged(spark, tgt).collect()}
    assert state == {w1: 6, w2: 1}


def test_idf_increment_split_invariance(spark, tmp_path):
    """The final IDF state must be identical whether documents arrive in
    one batch or several (addition is commutative and the ledger keeps
    replays out)."""
    from posts_vectorizer_spark.sources import load_table
    from posts_vectorizer_spark.sources.sinks import read_merged
    from posts_vectorizer_spark.streaming import idf_count_stream

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")

    def drain(split: bool, root: str):
        src = f"{root}/in"
        if split:
            from pyspark.sql import functions as F

            third = F.col("doc_id") % 3
            for k in range(3):
                docs.where(third == k).coalesce(1).write.mode(
                    "append"
                ).parquet(src)
        else:
            docs.coalesce(1).write.mode("append").parquet(src)
        q = idf_count_stream(
            spark, src, docs.schema, f"{root}/counts", f"{root}/docs",
            f"{root}/ckpt", max_files_per_trigger=1 if split else None,
        )
        q.awaitTermination(300)
        counts = {
            r["word"]: r["occurrences"]
            for r in read_merged(spark, f"{root}/counts").collect()
        }
        n = read_merged(spark, f"{root}/docs").collect()[0]["n_docs"]
        return counts, n

    one = drain(False, str(tmp_path / "one"))
    three = drain(True, str(tmp_path / "three"))
    assert one == three


def test_enriched_window_stream_joins_dim_and_drops_late(spark, tmp_path):
    """Stream-static star-join under a watermark: each micro-batch joins
    the broadcast dimension BEFORE the windowed agg; rows whose key is
    absent from the dimension vanish (inner join); an event arriving
    after its window was finalized is dropped by the watermark. Emitted
    windows must equal the batch join+agg over on-time, dim-matched rows."""
    import datetime as dt
    import time as _time

    from posts_vectorizer_spark.streaming import enriched_window_stream

    d = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    schema = "event_id long, ts timestamp, user_id long, value double"
    dim = spark.createDataFrame(
        [(7, "BUILDING"), (8, "MACHINERY")], "c_custkey long, c_mktsegment string"
    )
    files = [
        # batch 0: user 7 twice in [10:00), user 99 has NO dim row
        [(1, d(10, 5), 7, 1.0), (2, d(10, 40), 7, 2.0), (3, d(10, 50), 99, 64.0),
         (4, d(12, 5), 8, 4.0)],
        # batch 1: watermark passes 11:00 -> [10:00) windows evicted
        [(5, d(12, 30), 8, 8.0)],
        # batch 2: event 6 is LATE for [10:00) -> dropped by watermark
        [(6, d(10, 30), 7, 16.0), (7, d(14, 5), 7, 32.0)],
    ]
    source = str(tmp_path / "in")
    for rows in files:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(source)
        _time.sleep(1.1)
    q = enriched_window_stream(
        spark, source, spark.createDataFrame(files[0], schema).schema, dim,
        join_keys=("user_id", "c_custkey"), dim_col="c_mktsegment",
        target_dir=str(tmp_path / "out"), checkpoint_dir=str(tmp_path / "ckpt"),
        time_col="ts", window="1 hour", watermark="1 hour",
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    got = {
        (r["window_start"].isoformat(), r["c_mktsegment"]): (r["n"], r["total_value"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    # [10:00) BUILDING = events 1+2 only: 99 had no dim row, 6 was late
    assert got[("2024-01-01T10:00:00", "BUILDING")] == (2, 3.0)
    assert got[("2024-01-01T12:00:00", "MACHINERY")] == (2, 12.0)
    assert not any(seg not in ("BUILDING", "MACHINERY") for _, seg in got)


def test_lsh_index_stream_idempotent_under_redelivery(spark, tmp_path):
    """Re-draining the SAME source with a fresh checkpoint (full
    redelivery) must leave the materialized LSH index byte-identical:
    every vector idempotently replaces its own row (ST3 contract), so
    index content depends only on the data, never on delivery count."""
    from posts_vectorizer_spark.sources import load_table
    from posts_vectorizer_spark.sources.sinks import read_merged
    from posts_vectorizer_spark.operators.similarity import lsh_index_rows
    from posts_vectorizer_spark.streaming import upsert_stream
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    source = str(tmp_path / "in")
    emb.coalesce(1).write.mode("append").parquet(source)
    ix = str(tmp_path / "ix")

    def lsh_index_stream(ckpt):
        return upsert_stream(
            spark, source, emb.schema, ix, ckpt, ["vec_id"],
            rows=lambda b: lsh_index_rows(b, 64),
        )

    q = lsh_index_stream(str(tmp_path / "ckpt1"))
    q.awaitTermination(180)
    first = {
        r["vec_id"]: (r["bucket"], r["nrm"])
        for r in read_merged(spark, ix).collect()
    }
    assert len(first) == emb.count()
    # fresh checkpoint -> the file source re-delivers everything
    q2 = lsh_index_stream(str(tmp_path / "ckpt2"))
    q2.awaitTermination(180)
    second = {
        r["vec_id"]: (r["bucket"], r["nrm"])
        for r in read_merged(spark, ix).collect()
    }
    assert second == first


def test_outer_interval_join_emission_boundary(spark, tmp_path):
    """Pin the left-outer interval join's null-emission horizon at the
    exact boundary: with max error ts = T+100m and max click ts = T+200m
    (watermark delay 30m), the global watermark lands at T+70m. A
    zero-click error AT the watermark emits; one second past it is
    withheld — emission is err_ts <= watermark, the contract
    stream_interval_join_outer's oracle states."""
    import datetime as dt

    from posts_vectorizer_spark.streaming import interval_join_stream

    t0 = dt.datetime(2024, 1, 1)

    def ts(mins, secs=0):
        return t0 + dt.timedelta(minutes=mins, seconds=secs)

    events = spark.createDataFrame(
        [
            (1, 1, ts(100), "error", 0.0),    # anchors max error ts
            (2, 2, ts(200), "click", 0.0),    # anchors max click ts
            (3, 3, ts(70), "error", 0.0),     # exactly at the watermark
            (4, 4, ts(69, 59), "error", 0.0),  # below it
            (5, 5, ts(70, 1), "error", 0.0),   # one second past: withheld
        ],
        "event_id long, user_id long, ts timestamp, event_type string,"
        " value double",
    )
    source = str(tmp_path / "in")
    target = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events.coalesce(1).write.parquet(source)
    q = interval_join_stream(
        spark, source, events.schema, target, ckpt, how="left_outer"
    )
    q.awaitTermination(300)
    out = sorted(
        (r["err_id"], r["click_ts"])
        for r in spark.read.parquet(target).collect()
    )
    assert out == [(3, None), (4, None)]


def _stop_active(spark):
    for q in spark.streams.active:
        q.stop()


def test_drain_timeout_stops_stream_and_raises(spark, monkeypatch):
    """A drain whose stream never ends raises once TIMEOUT_S passes, and
    leaves no running stream and no scoped conf behind."""
    import pytest

    from posts_vectorizer_spark.streaming import drain as drain_mod

    monkeypatch.setattr(drain_mod, "TIMEOUT_S", 2)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)

    def start(out, ckpt):
        return (
            spark.readStream.format("rate").option("rowsPerSecond", 1).load()
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )

    try:
        with pytest.raises(TimeoutError):
            drain_mod.drain(spark, start, scoped=True)
        assert spark.streams.active == []
        assert spark.conf.get(key) == prev
    finally:
        _stop_active(spark)


def test_drain_batch_error_stops_stream_and_raises(spark, tmp_path):
    """A drain whose batch function fails propagates the failure, and
    leaves no running stream and no scoped conf behind."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from posts_vectorizer_spark.streaming.drain import drain
    from posts_vectorizer_spark.streaming.worker import (
        file_stream,
        start_foreach_batch,
    )

    source = str(tmp_path / "in")
    src = spark.range(4)
    src.write.parquet(source)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)

    def fail(batch_df, batch_id):
        raise ValueError("batch function failed")

    try:
        with pytest.raises(StreamingQueryException, match="batch function failed"):
            drain(spark, lambda out, ckpt: start_foreach_batch(
                file_stream(spark, source, src.schema), fail, ckpt
            ), scoped=True)
        assert spark.streams.active == []
        assert spark.conf.get(key) == prev
    finally:
        _stop_active(spark)
