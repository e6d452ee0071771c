"""Unit + integration tests for the custom Python Data Source
(`sources/pydatasource.py`): partition planning, filter pushdown
narrowing, streaming offset replay, and exactly-once multi-cycle drains.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
)

from posts_vectorizer_spark.sources import pydatasource as P


def test_partitions_cover_range_disjointly():
    r = P.SyntheticPostsReader({"n_rows": "1000", "n_partitions": "8"})
    parts = r.partitions()
    assert len(parts) == 8
    covered = []
    for p in parts:
        covered.extend(range(p.start, p.end))
    assert covered == list(range(1000))


def test_partitions_never_exceed_rows():
    r = P.SyntheticPostsReader({"n_rows": "3", "n_partitions": "8"})
    parts = r.partitions()
    assert sum(p.end - p.start for p in parts) == 3


def test_push_filters_narrow_planned_range():
    """Range predicates on post_id must shrink the GENERATED range (the
    point of pushdown: fewer rows produced, not discarded later); other
    filters come back unsupported for Spark to evaluate."""
    r = P.SyntheticPostsReader({"n_rows": "1000"})
    rest = list(
        r.pushFilters(
            [
                GreaterThanOrEqual(("post_id",), 100),
                LessThan(("post_id",), 110),
                IsNotNull(("author",)),
            ]
        )
    )
    assert [type(f) for f in rest] == [IsNotNull]
    assert (r.lo, r.hi) == (100, 110)
    parts = r.partitions()
    assert sum(p.end - p.start for p in parts) == 10


def test_push_filters_strict_and_equality_bounds():
    r = P.SyntheticPostsReader({"n_rows": "1000"})
    assert not list(
        r.pushFilters(
            [GreaterThan(("post_id",), 5), LessThanOrEqual(("post_id",), 9)]
        )
    )
    assert (r.lo, r.hi) == (6, 10)
    r2 = P.SyntheticPostsReader({"n_rows": "1000"})
    assert not list(r2.pushFilters([EqualTo(("post_id",), 42)]))
    assert (r2.lo, r2.hi) == (42, 43)
    assert [list(range(p.start, p.end)) for p in r2.partitions()] == [[42]]


def test_stream_reader_offsets_and_replay():
    """read() advances the watermark in batch_size steps and caps at
    n_rows; readBetweenOffsets regenerates exactly the same rows (the
    at-least-once replay contract)."""
    sr = P.SyntheticPostsStreamReader({"n_rows": "300", "batch_size": "128"})
    assert sr.initialOffset() == {"next": 0}
    rows1, o1 = sr.read({"next": 0})
    rows2, o2 = sr.read(o1)
    rows3, o3 = sr.read(o2)
    rows4, o4 = sr.read(o3)
    assert (o1, o2, o3, o4) == (
        {"next": 128},
        {"next": 256},
        {"next": 300},
        {"next": 300},
    )
    assert len(list(rows4)) == 0
    replay = list(sr.readBetweenOffsets({"next": 128}, {"next": 256}))
    assert replay == [P.row_of(i) for i in range(128, 256)]
    assert list(rows2) == replay


def test_batch_read_with_pushdown_matches_formula(spark):
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    P.register(spark)
    df = (
        spark.read.format(P.SOURCE_NAME)
        .option("n_rows", 200)
        .option("n_partitions", 4)
        .load()
        .where("post_id >= 50 AND post_id < 60")
    )
    rows = sorted(df.collect(), key=lambda r: r["post_id"])
    assert [tuple(r) for r in rows] == [P.row_of(i) for i in range(50, 60)]


def test_stream_drain_is_exactly_once_across_restart_cycles(spark, tmp_path):
    """Two availableNow cycles over the SAME checkpoint resume from the
    stored offset: the first drains the prefetched batch, the second the
    next one — no duplicates, no gaps."""
    P.register(spark)
    target, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def cycle():
        q = (
            spark.readStream.format(P.SOURCE_NAME)
            .option("n_rows", 300)
            .option("batch_size", 128)
            .load()
            .writeStream.format("parquet")
            .option("path", target)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    cycle()
    ids1 = sorted(
        r["post_id"] for r in spark.read.parquet(target).collect()
    )
    cycle()
    ids2 = sorted(
        r["post_id"] for r in spark.read.parquet(target).collect()
    )
    assert ids1 == list(range(128))
    assert ids2 == list(range(256))


def _write_ledger(spark, path, rows):
    P.register(spark)
    df = spark.createDataFrame(rows, "k long, v string")
    df.write.format(P.SOURCE_NAME).mode("append").option(
        "path", str(path)
    ).save()


def test_ledger_sink_roundtrip_and_manifest_commit(spark, tmp_path):
    import json
    import os

    path = tmp_path / "ledger"
    _write_ledger(spark, path, [(1, "a"), (2, "b"), (3, "c")])
    with open(path / P.PostsLedgerWriter.MANIFEST) as f:
        manifest = json.load(f)
    # commit messages carried per-task row counts; the manifest sums them
    assert manifest["rows"] == 3
    assert manifest["files"]
    # every committed file exists and is attempt-unique named
    for name in manifest["files"]:
        assert os.path.exists(path / name)
        assert name.startswith("part-") and "-a" in name
    got = sorted(
        (r["k"], r["v"]) for r in P.read_ledger(spark, str(path)).collect()
    )
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_ledger_reader_ignores_uncommitted_stray_files(spark, tmp_path):
    path = tmp_path / "ledger"
    _write_ledger(spark, path, [(1, "a"), (2, "b")])
    # a failed/speculative attempt leaves an orphan parquet: NOT data
    stray = spark.createDataFrame([(99, "zz")], "k long, v string")
    stray.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "tmp"))
    import glob
    import shutil

    src = glob.glob(str(tmp_path / "tmp" / "*.parquet"))[0]
    shutil.copy(src, path / "part-99999-a424242.parquet")
    got = sorted(r["k"] for r in P.read_ledger(spark, str(path)).collect())
    assert got == [1, 2]  # the stray file is invisible until committed


def test_ledger_append_merges_manifests(spark, tmp_path):
    import json

    path = tmp_path / "ledger"
    _write_ledger(spark, path, [(1, "a")])
    _write_ledger(spark, path, [(2, "b")])
    with open(path / P.PostsLedgerWriter.MANIFEST) as f:
        manifest = json.load(f)
    assert manifest["rows"] == 2
    got = sorted(r["k"] for r in P.read_ledger(spark, str(path)).collect())
    assert got == [1, 2]


def test_stream_ledger_commit_is_idempotent_on_epoch_replay(tmp_path):
    # Driver-side unit of the epoch ledger: committing the SAME batchId
    # twice (at-least-once redelivery after a crash between sink commit
    # and checkpoint advance) must leave the manifest unchanged — the
    # replayed epoch's files stay orphaned, never double-counted.
    import json

    w = P.PostsLedgerStreamWriter({"path": str(tmp_path)}, overwrite=False)
    w.commit([P.LedgerCommit(file="f1.parquet", rows=10)], batchId=0)
    w.commit([P.LedgerCommit(file="f2.parquet", rows=5)], batchId=1)
    # replay epoch 0 with a different attempt's file
    w.commit([P.LedgerCommit(file="f1-retry.parquet", rows=10)], batchId=0)
    with open(tmp_path / P.PostsLedgerStreamWriter.MANIFEST) as f:
        manifest = json.load(f)
    assert manifest["rows"] == 15
    assert manifest["files"] == ["f1.parquet", "f2.parquet"]
    assert manifest["batches"] == [0, 1]


def test_stream_ledger_drain_commits_one_epoch_per_input_file(spark, tmp_path):
    import json

    P.register(spark)
    df = spark.createDataFrame([(i, f"u{i%3}") for i in range(30)], "k long, u string")
    source = str(tmp_path / "in")
    ledger = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df.repartition(3).write.parquet(source)
    q = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source)
        .writeStream.format(P.SOURCE_NAME)
        .option("path", ledger)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    with open(tmp_path / "out" / P.PostsLedgerStreamWriter.MANIFEST) as f:
        manifest = json.load(f)
    assert manifest["rows"] == 30
    assert len(manifest["batches"]) >= 3  # one epoch per input file
    got = sorted(r["k"] for r in P.read_ledger(spark, ledger).collect())
    assert got == list(range(30))


def test_stream_ledger_overwrite_replaces_manifest_per_epoch(tmp_path):
    # outputMode("complete") hands the stream writer overwrite=True:
    # each epoch's commit REPLACES the visible file set (latest snapshot),
    # while the epoch ledger still drops replays.
    import json

    w = P.PostsLedgerStreamWriter({"path": str(tmp_path)}, overwrite=True)
    w.commit([P.LedgerCommit(file="e0.parquet", rows=4)], batchId=0)
    w.commit([P.LedgerCommit(file="e1.parquet", rows=7)], batchId=1)
    w.commit([P.LedgerCommit(file="e1-retry.parquet", rows=7)], batchId=1)
    with open(tmp_path / P.PostsLedgerStreamWriter.MANIFEST) as f:
        manifest = json.load(f)
    assert manifest["files"] == ["e1.parquet"]
    assert manifest["rows"] == 7
    assert manifest["batches"] == [0, 1]


def test_compact_ledger_rewrites_files_and_keeps_old_generation(spark, tmp_path):
    import json
    import os

    path = tmp_path / "ledger"
    P.register(spark)
    df = spark.createDataFrame([(i, f"v{i}") for i in range(40)], "k long, v string")
    # 8 task files
    df.repartition(8).write.format(P.SOURCE_NAME).mode("append").option(
        "path", str(path)
    ).save()
    with open(path / P.PostsLedgerWriter.MANIFEST) as f:
        before = json.load(f)
    assert len(before["files"]) == 8
    out = P.compact_ledger(spark, str(path), target_files=2)
    assert len(out["files"]) == 2 and out["compactions"] == 1
    assert out["rows"] == 40
    # old generation stays on disk for in-flight readers
    for name in before["files"]:
        assert os.path.exists(path / name)
    got = sorted(r["k"] for r in P.read_ledger(spark, str(path)).collect())
    assert got == list(range(40))
    # a second compaction generation doesn't collide
    out2 = P.compact_ledger(spark, str(path), target_files=1)
    assert out2["compactions"] == 2 and len(out2["files"]) == 1
    assert sorted(
        r["k"] for r in P.read_ledger(spark, str(path)).collect()
    ) == list(range(40))


def test_ledger_stats_prune_skips_incompatible_files(spark, tmp_path):
    import json

    path = tmp_path / "ledger"
    P.register(spark)
    # two disjoint key ranges land as separate commits -> separate files
    a = spark.createDataFrame([(i, "lo") for i in range(0, 10)], "k long, v string")
    b = spark.createDataFrame([(i, "hi") for i in range(100, 110)], "k long, v string")
    for df in (a, b):
        df.coalesce(1).write.format(P.SOURCE_NAME).mode("append").option(
            "path", str(path)
        ).save()
    with open(path / P.PostsLedgerWriter.MANIFEST) as f:
        manifest = json.load(f)
    assert len(manifest["files"]) == 2
    assert all(n in manifest["file_stats"] for n in manifest["files"])
    kept, total = P.pruned_file_count(str(path), ("k", ">=", 50))
    assert (kept, total) == (1, 2)  # the lo-range file is skipped
    got = sorted(
        r["k"]
        for r in P.read_ledger(spark, str(path), prune=("k", ">=", 50))
        .where("k >= 50")
        .collect()
    )
    assert got == list(range(100, 110))
    # pruning is a superset pre-filter: no predicate -> all files
    assert P.pruned_file_count(str(path), ("k", ">=", 0)) == (2, 2)


def test_compaction_regains_stats_and_vacuum_removes_orphans(spark, tmp_path):
    import json
    import os

    path = tmp_path / "ledger"
    P.register(spark)
    df = spark.createDataFrame([(i, f"v{i}") for i in range(40)], "k long, v string")
    df.repartition(4).write.format(P.SOURCE_NAME).mode("append").option(
        "path", str(path)
    ).save()
    P.compact_ledger(spark, str(path), target_files=1)
    with open(path / P.PostsLedgerWriter.MANIFEST) as f:
        manifest = json.load(f)
    # footer-derived stats survive the generation swap
    [only] = manifest["files"]
    assert manifest["file_stats"][only]["k"] == [0, 39]
    # vacuum removes the 4 old-generation orphans, keeps the live file
    # fresh orphans survive the default retention window...
    assert P.vacuum_ledger(str(path)) == []
    # ...and are collected once the caller waives it
    deleted = P.vacuum_ledger(str(path), min_age_seconds=0)
    assert len(deleted) == 4 and only not in deleted
    on_disk = [n for n in os.listdir(path) if n.endswith(".parquet")]
    assert on_disk == [only]
    got = sorted(r["k"] for r in P.read_ledger(spark, str(path)).collect())
    assert got == list(range(40))


def test_nan_poisons_stats_so_file_is_never_pruned(spark, tmp_path):
    import json

    path = tmp_path / "ledger"
    P.register(spark)
    df = spark.createDataFrame(
        [(1, 1.0), (2, float("nan"))], "k long, score double"
    )
    df.coalesce(1).write.format(P.SOURCE_NAME).mode("append").option(
        "path", str(path)
    ).save()
    with open(path / P.PostsLedgerWriter.MANIFEST) as f:
        manifest = json.load(f)
    [only] = manifest["files"]
    stats = manifest["file_stats"].get(only, {})
    # Spark orders NaN above every number; a NaN-blind [1.0, 1.0] range
    # would wrongly prune this file for score >= 100 — so the column's
    # stats must be absent, keeping the file under every predicate.
    assert "score" not in stats
    assert "k" in stats  # the clean column still prunes
    kept, total = P.pruned_file_count(str(path), ("score", ">=", 100.0))
    assert (kept, total) == (1, 1)


def test_batch_commit_preserves_other_lifecycle_manifest_keys(spark, tmp_path):
    import json

    path = tmp_path / "ledger"
    P.register(spark)
    df = spark.createDataFrame([(i, "a") for i in range(8)], "k long, v string")
    df.repartition(2).write.format(P.SOURCE_NAME).mode("append").option(
        "path", str(path)
    ).save()
    P.compact_ledger(spark, str(path), target_files=1)
    # a later batch append must NOT reset the generation counter — a
    # reset would let the next compaction reuse compact-g1-* names and
    # os.replace files the live manifest still references
    spark.createDataFrame([(99, "z")], "k long, v string").coalesce(
        1
    ).write.format(P.SOURCE_NAME).mode("append").option(
        "path", str(path)
    ).save()
    with open(path / P.PostsLedgerWriter.MANIFEST) as f:
        manifest = json.load(f)
    assert manifest.get("compactions") == 1
    out = P.compact_ledger(spark, str(path), target_files=1)
    assert out["compactions"] == 2  # generation namespace advanced
    got = sorted(r["k"] for r in P.read_ledger(spark, str(path)).collect())
    assert got == list(range(8)) + [99]


def test_read_ledger_all_pruned_returns_empty_with_schema(spark, tmp_path):
    path = tmp_path / "ledger"
    P.register(spark)
    spark.createDataFrame([(1, "a")], "k long, v string").coalesce(
        1
    ).write.format(P.SOURCE_NAME).mode("append").option(
        "path", str(path)
    ).save()
    out = P.read_ledger(spark, str(path), prune=("k", ">=", 10**9))
    assert out.count() == 0
    assert out.columns == ["k", "v"]  # an empty result is an answer


def test_time_travel_reads_prior_manifest_versions(spark, tmp_path):
    path = tmp_path / "ledger"
    P.register(spark)
    first = spark.createDataFrame([(i, "a") for i in range(5)], "k long, v string")
    second = spark.createDataFrame([(i, "b") for i in range(5, 8)], "k long, v string")
    first.coalesce(1).write.format(P.SOURCE_NAME).mode("append").option(
        "path", str(path)
    ).save()
    second.coalesce(1).write.format(P.SOURCE_NAME).mode("append").option(
        "path", str(path)
    ).save()
    head = sorted(r["k"] for r in P.read_ledger(spark, str(path)).collect())
    v1 = sorted(
        r["k"] for r in P.read_ledger(spark, str(path), version=1).collect()
    )
    assert head == list(range(8))
    assert v1 == list(range(5))  # the pre-append snapshot, still readable
    # compaction bumps the version too; the pre-compaction head survives
    P.compact_ledger(spark, str(path), target_files=1)
    v2 = sorted(
        r["k"] for r in P.read_ledger(spark, str(path), version=2).collect()
    )
    assert v2 == list(range(8))


def test_quarantine_dead_letters_null_rows(spark, tmp_path):
    import json

    path = tmp_path / "ledger"
    P.register(spark)
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None)], "k long, v string"
    )
    df.coalesce(1).write.format(P.SOURCE_NAME).mode("append").option(
        "path", str(path)
    ).option("require_not_null", "v").save()
    good = sorted(r["k"] for r in P.read_ledger(spark, str(path)).collect())
    assert good == [1, 3]
    bad = sorted(
        r["k"] for r in P.read_quarantine(spark, str(path)).collect()
    )
    assert bad == [2, 4]
    with open(path / P.PostsLedgerWriter.MANIFEST) as f:
        manifest = json.load(f)
    assert manifest["quarantine"]["rows"] == 2
    assert manifest["rows"] == 2  # table rows exclude the dead letters
    # vacuum never collects dead letters — they're data, not orphans
    assert P.vacuum_ledger(str(path), min_age_seconds=0) == []
    assert P.read_quarantine(spark, str(path)).count() == 2


def test_compaction_carries_forward_concurrent_append(spark, tmp_path, monkeypatch):
    # Deterministic replay of the rewrite-window race: compaction took its
    # snapshot (and read the table) BEFORE a concurrent append committed;
    # the final swap must carry the appended file forward instead of
    # silently dropping it from the manifest.
    import copy

    path = tmp_path / "ledger"
    P.register(spark)
    spark.createDataFrame(
        [(i, "base") for i in range(6)], "k long, v string"
    ).repartition(2).write.format(P.SOURCE_NAME).mode("append").option(
        "path", str(path)
    ).save()
    pre_append = copy.deepcopy(P._load_manifest(str(path)))
    # the concurrent writer commits while the (simulated) rewrite runs
    spark.createDataFrame([(99, "late")], "k long, v string").coalesce(
        1
    ).write.format(P.SOURCE_NAME).mode("append").option(
        "path", str(path)
    ).save()
    real_load = P._load_manifest
    calls = {"n": 0}

    def stale_then_real(p, version=None):
        calls["n"] += 1
        # compaction's snapshot + its read_ledger see the PRE-append
        # state; the re-read at swap time sees reality
        return pre_append if calls["n"] <= 2 else real_load(p, version)

    monkeypatch.setattr(P, "_load_manifest", stale_then_real)
    out = P.compact_ledger(spark, str(path), target_files=1)
    monkeypatch.undo()
    assert out["rows"] == 7
    got = sorted(r["k"] for r in P.read_ledger(spark, str(path)).collect())
    assert got == [0, 1, 2, 3, 4, 5, 99]  # nothing lost, nothing doubled


def test_full_ledger_lifecycle_batch_stream_compact_vacuum(spark, tmp_path):
    """Capstone: every lifecycle stage interleaved on ONE table — batch
    commit, streaming epochs, OPTIMIZE, VACUUM — with the cross-stage
    manifest keys (generation counter, epoch ledger, version history)
    surviving each other's swaps. This is the mixed workload the
    manifest-key-preservation fix exists for."""
    import json

    path = tmp_path / "ledger"
    P.register(spark)
    # 1. batch commit
    spark.createDataFrame(
        [(i, "batch") for i in range(10)], "k long, v string"
    ).repartition(2).write.format(P.SOURCE_NAME).mode("append").option(
        "path", str(path)
    ).save()
    # 2. streaming epochs into the SAME table
    src = spark.createDataFrame(
        [(i, "stream") for i in range(10, 16)], "k long, v string"
    )
    src.repartition(2).write.parquet(str(tmp_path / "in"))
    q = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "in"))
        .writeStream.format(P.SOURCE_NAME)
        .option("path", str(path))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    with open(path / P.PostsLedgerWriter.MANIFEST) as f:
        mid = json.load(f)
    assert len(mid.get("batches", [])) >= 2  # epochs recorded
    # 3. OPTIMIZE — must preserve the epoch ledger through its swap
    P.compact_ledger(spark, str(path), target_files=1)
    with open(path / P.PostsLedgerWriter.MANIFEST) as f:
        after = json.load(f)
    assert after["compactions"] == 1
    assert after.get("batches") == mid["batches"]  # epochs survive
    # 4. another batch commit — must preserve BOTH counters
    spark.createDataFrame([(99, "late")], "k long, v string").coalesce(
        1
    ).write.format(P.SOURCE_NAME).mode("append").option(
        "path", str(path)
    ).save()
    with open(path / P.PostsLedgerWriter.MANIFEST) as f:
        final = json.load(f)
    assert final["compactions"] == 1 and final["batches"] == mid["batches"]
    # 5. VACUUM the pre-compaction generation; table intact afterwards
    deleted = P.vacuum_ledger(str(path), min_age_seconds=0)
    assert deleted  # the old generation's files went
    got = sorted(r["k"] for r in P.read_ledger(spark, str(path)).collect())
    assert got == list(range(16)) + [99]
    assert final["rows"] == 17


def test_empty_partitions_commit_no_files(spark, tmp_path):
    # A write whose tasks include EMPTY partitions must commit only the
    # nonempty ones: empty tasks return a no-file commit message, and
    # the quarantine path likewise stays absent.
    import json

    path = tmp_path / "ledger"
    P.register(spark)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    # 8 partitions, 2 rows -> at least 6 empty tasks
    df.repartition(8).write.format(P.SOURCE_NAME).mode("append").option(
        "path", str(path)
    ).save()
    with open(path / P.PostsLedgerWriter.MANIFEST) as f:
        manifest = json.load(f)
    assert manifest["rows"] == 2
    assert 1 <= len(manifest["files"]) <= 2
    assert manifest.get("quarantine", {"files": []})["files"] == []
    got = sorted(r["k"] for r in P.read_ledger(spark, str(path)).collect())
    assert got == [1, 2]


def test_python_datasource_query_leaves_session_conf_unchanged(spark, monkeypatch):
    """The filter-pushdown key the Python source needs is a prep_session
    key (it must hold when the lazy plan is optimized, after the builder
    returns), so after prep_session, building and running the query
    writes no session conf of its own. The builder is called unwrapped,
    since the registry wrapper re-applies prep_session, and every
    ``spark.conf.set`` is recorded: a builder that re-set a prep_session
    key to the same value would leave a before/after snapshot equal."""
    from posts_vectorizer_spark.plans.queries_pipeline import (
        source_python_datasource,
    )
    from posts_vectorizer_spark.session import prep_session
    from tests.conftest import SF_SMOKE

    spark.conf.unset("spark.sql.python.filterPushdown.enabled")
    prep_session(spark)
    before = dict(spark.conf.getAll)
    writes = []
    real_set = type(spark.conf).set

    def spy(self, key, value):
        writes.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(type(spark.conf), "set", spy)
    df = source_python_datasource(spark, SF_SMOKE)
    assert df.count() > 0
    assert writes == []
    assert dict(spark.conf.getAll) == before
