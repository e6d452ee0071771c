"""Streaming vectorize worker — the reference's main loop
(/root/reference/worker.py:139-150) as Structured Streaming.

Mapping (SURVEY.md §2.10):
  ST1 micro-batch poll loop  -> readStream(parquet) + foreachBatch; drain-
                                then-stop via trigger(availableNow=True),
                                continuous via processingTime trigger.
  ST2 idle backoff (sleep 5) -> micro-batch scheduler; no code.
  ST3 progress marker        -> checkpointLocation + idempotent MERGE keyed
                                on doc_id (at-least-once + idempotent ==
                                the reference's flag-overwrite contract,
                                worker.py:92,99).
  ST4 heartbeat              -> StreamingQueryListener over
                                progress.durationMs (worker.py:128-137);
                                errors swallowed like the reference's
                                bare-except heartbeat.
  ST5 thread pool            -> partition parallelism; no code.

The per-batch computation is the SAME declarative plan as the batch
flagship (operators/tfidf.py): candidates are whatever arrives in the
micro-batch; the word-vector dimension table (vocab + idf + embedding) is
computed once up front from the static corpus — exactly the reference's
architecture, where the IDF job runs separately and the worker only joins
stored (vector, idf) (worker.py:57).

The keyed sinks are fed by two builders. ``upsert_stream`` is the poll ->
transform -> replace-merge loop: ``vectorize_stream`` is it with the
doc-vector transform, and every index, gate and sketch drain passes its
own per-batch transform as ``rows``. ``merge_stream`` is the
combining-state loop (add / max / min merges under a batch-id ledger).
The stateful streams (dedup, windows, interval join) append to plain
parquet sinks.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.types import TimestampNTZType
from pyspark.sql.window import Window

from ..cache import persist_tracked
from ..operators import tfidf
from ..sources.sinks import (
    apply_cdc_parquet,
    merge_add_parquet,
    merge_upsert_parquet,
)


@contextmanager
def state_scoped_partitions(spark: SparkSession):
    """Scope ``spark.sql.shuffle.partitions`` for a STATEFUL stream's
    lifetime (start .. awaitTermination) to a small-state constant.

    Stateful operators (stream-stream joins, window aggregates,
    applyInPandasWithState) pin one state-store instance PER shuffle
    partition PER trigger, and streaming plans get no AQE coalescing —
    at the default core-count partitions each trigger paid ~32 tasks of
    store open/commit wait for KB-sized state (r13 profile of
    stream_interval_join: 58 s task time, 1.2 s CPU; wall 5.4 s at 32
    partitions vs 2.0 s at 8, identical output). The count is
    max(4, defaultParallelism // 4): it follows the CORE count, not the
    state size, and suits the KB-sized state of the drain queries that
    use it. The conf is restored in `finally`; it is read once at stream
    start and pinned in the checkpoint, so the scope covers exactly the
    one drained query. Streams with large state must size their
    partitions explicitly instead."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(
        key, str(max(4, spark.sparkContext.defaultParallelism // 4))
    )
    try:
        yield
    finally:
        spark.conf.set(key, prev)


class HeartbeatListener(StreamingQueryListener):
    """ST4: per-batch heartbeat with elapsed ms (worker.py:128-137,141-144).
    Writes JSON lines to a local file instead of an HTTP GET; failures are
    swallowed exactly like the reference's bare ``except: print``.

    A session's listeners hear every query, so the listener binds to ONE:
    the first query started after it is added (``onQueryStarted`` runs
    synchronously inside ``start()``, on the starting query's thread). It
    logs only that query's progress and removes itself from ``streams``
    when that query terminates, so it never outlives its stream."""

    def __init__(self, path: str, streams) -> None:
        self.path = path
        self.streams = streams
        self.query_id: str | None = None

    def onQueryStarted(self, event) -> None:  # noqa: N802
        if self.query_id is None:
            self.query_id = str(event.id)

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        if str(p.id) != self.query_id:
            return
        try:
            beat = {
                "ts": time.time(),
                "batch_id": p.batchId,
                "num_input_rows": p.numInputRows,
                "duration_ms": dict(p.durationMs or {}),
            }
            with open(self.path, "a") as f:
                f.write(json.dumps(beat) + "\n")
        except Exception as e:  # noqa: BLE001  (reference worker.py:136-137)
            print(f"heartbeat failed: {e}")

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        if str(event.id) == self.query_id:
            self.streams.removeListener(self)


def _micro_batch_vectors(
    batch_docs: DataFrame, word_vectors: DataFrame, embeddings: DataFrame, lang: str
) -> DataFrame:
    """The worker's per-batch pipeline (worker.py:110-126): tokenize -> TF ->
    join stored word vectors -> weighted sum, long form. Same shapes as
    operators/tfidf.doc_vectors but against the PRE-BUILT dimension table."""
    docs = batch_docs.where(F.col("lang") == lang)
    # the token base has one consumer here, so it is not persisted: a
    # tracked persist per micro-batch would pile up for the stream's life
    tf = tfidf.term_frequency(docs, base=tfidf.token_base(docs))
    weights = (
        tf.join(F.broadcast(word_vectors.select("word", "idf", "vec_id")), "word")
        .groupBy("doc_id", "vec_id")
        .agg(F.sum(F.col("tf") * F.col("idf")).alias("weight"))
    )
    # vec_id is unique in the embeddings table: no per-batch distinct
    exploded = weights.join(
        F.broadcast(embeddings.select("vec_id", "embedding")), "vec_id"
    ).select("doc_id", "weight", F.posexplode("embedding").alias("dim", "val"))
    return exploded.groupBy("doc_id", "dim").agg(
        F.round(F.sum(F.col("weight") * F.col("val").cast("double")), 6).alias(
            "component"
        )
    )


def _event_time_ltz(df: DataFrame, col: str) -> DataFrame:
    """``withWatermark`` requires TIMESTAMP (LTZ), but parquet fixtures with
    micros/NTZ physical type read back as TIMESTAMP_NTZ. The NTZ->LTZ cast is
    instant-preserving ONLY when the session timezone is UTC (session.py pins
    it, but these functions accept any caller session) — under any other zone
    the cast would silently shift event times, skewing watermarks and window
    boundaries, so a misconfigured session fails loudly here instead."""
    if isinstance(df.schema[col].dataType, TimestampNTZType):
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        if tz != "UTC":
            raise ValueError(
                f"event-time NTZ->LTZ cast requires session timezone UTC "
                f"(got {tz!r}); call posts_vectorizer_spark.session."
                f"prep_session(spark) first"
            )
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def file_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The parquet-file source the streams here read.
    ``max_files_per_trigger`` caps the files per micro-batch, which is how
    the drains force several batches out of a fixed input."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def start_foreach_batch(
    stream: DataFrame, process_batch, checkpoint_dir: str, available_now: bool = True
):
    """Start ``stream`` into ``process_batch(batch_df, batch_id)``. With
    ``available_now`` it drains what the source holds, then stops;
    otherwise it runs continuously on a 0-second processing trigger, the
    reference's tight poll loop."""
    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime="0 seconds").start()


def start_parquet_sink(stream: DataFrame, target_dir: str, checkpoint_dir: str):
    """Start ``stream`` appending to the parquet ``target_dir`` with an
    availableNow trigger."""
    return (
        stream.writeStream.format("parquet")
        .outputMode("append")
        .option("path", target_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    target_dir: str,
    checkpoint_dir: str,
    keys: tuple[str, ...] = ("doc_id",),
    max_files_per_trigger: int | None = None,
    event_time_col: str | None = None,
    watermark: str = "1 hour",
):
    """ST7 — stateful dedup at ingest: ``dropDuplicates(keys)`` over a
    stream keeps per-key state in the state store, so re-deliveries are
    dropped ACROSS micro-batches, not just within one (the
    `maxFilesPerTrigger` option lets tests force multiple batches to prove
    it).

    With ``event_time_col`` set, state is BOUNDED (the 100 TB form): the
    stream is watermarked on that column and uses
    ``dropDuplicatesWithinWatermark``, so per-key state ages out after the
    late-data horizon instead of accumulating forever. Re-deliveries inside
    the horizon — the at-least-once delivery window — are still dropped."""
    stream = file_stream(spark, source_dir, schema, max_files_per_trigger)
    if event_time_col is not None:
        src_type = stream.schema[event_time_col].dataType
        stream = _event_time_ltz(stream, event_time_col)
        deduped = stream.withWatermark(event_time_col, watermark)
        deduped = deduped.dropDuplicatesWithinWatermark(list(keys))
        if isinstance(src_type, TimestampNTZType):
            # the LTZ cast was only for watermarking — restore the source's
            # declared NTZ type so sink output unions cleanly with the source
            deduped = deduped.withColumn(
                event_time_col, F.col(event_time_col).cast("timestamp_ntz")
            )
    else:
        deduped = stream.dropDuplicates(list(keys))
    return start_parquet_sink(deduped, target_dir, checkpoint_dir)


def tumbling_window_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    target_dir: str,
    checkpoint_dir: str,
    time_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
):
    """ST6 in streaming mode: the SAME window expression as the batch
    events_tumbling_window query, under a watermark. Append output mode
    emits each window exactly once — when the watermark (max event time
    seen minus the delay) passes the window end — and drops events arriving
    later than the horizon. Per-window state is bounded by the watermark."""
    stream = file_stream(spark, source_dir, schema, max_files_per_trigger)
    agg = (
        _event_time_ltz(stream, time_col)
        .withWatermark(time_col, watermark)
        .groupBy(F.window(time_col, window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )
    return start_parquet_sink(agg, target_dir, checkpoint_dir)


def enriched_window_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    static_dim: DataFrame,
    join_keys: tuple[str, str],
    dim_col: str,
    target_dir: str,
    checkpoint_dir: str,
    time_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
):
    """Stream-STATIC broadcast enrichment feeding a watermarked window
    aggregate: each micro-batch hash-joins against the broadcast static
    dimension (stateless — no join state store, unlike stream-stream),
    then aggregates per (window, dim attribute) under the same append
    semantics as tumbling_window_stream. This is the canonical streaming
    star-join: the fact stream never shuffles for the join (broadcast),
    and state is bounded by open windows x dim cardinality.

    The watermark is declared on the stream BEFORE the join so event-time
    semantics are unaffected by the enrichment."""
    stream_key, dim_key = join_keys
    stream = file_stream(spark, source_dir, schema, max_files_per_trigger)
    src = (
        _event_time_ltz(stream, time_col)
        .withWatermark(time_col, watermark)
    )
    dim = F.broadcast(
        static_dim.select(
            F.col(dim_key).alias(stream_key), F.col(dim_col)
        )
    )
    agg = (
        src.join(dim, stream_key)
        .groupBy(F.window(time_col, window).alias("w"), dim_col)
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), dim_col, "n", "total_value"
        )
    )
    return start_parquet_sink(agg, target_dir, checkpoint_dir)


def session_window_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    target_dir: str,
    checkpoint_dir: str,
    time_col: str = "ts",
    gap: str = "6 hours",
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
):
    """ST6 session windows in streaming mode: the SAME ``session_window``
    expression as the batch events_session_window query, under a
    watermark. Sessions are the hard case for streaming state — a window's
    extent isn't known until the inactivity gap closes — so Spark keeps
    per-(user, open-session) state and only emits (append mode) once the
    watermark passes session end; state is bounded by watermark + gap,
    not stream length. Late events inside the horizon still merge/extend
    their session exactly as in batch."""
    stream = file_stream(spark, source_dir, schema, max_files_per_trigger)
    agg = (
        _event_time_ltz(stream, time_col)
        .withWatermark(time_col, watermark)
        .groupBy(F.session_window(time_col, gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    return start_parquet_sink(agg, target_dir, checkpoint_dir)


def interval_join_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    target_dir: str,
    checkpoint_dir: str,
    lookback: str = "10 minutes",
    watermark: str = "30 minutes",
    max_files_per_trigger: int | None = None,
    how: str = "inner",
):
    """ST9: watermarked stream-stream interval join — the streaming form of
    the batch binned range join (plans/queries_advanced.py
    ::events_range_join_clicks): for each error event, the same user's
    clicks in the preceding ``lookback``.

    Both sides carry a watermark and the join condition bounds click_ts to a
    closed-open range ending at err_ts, so Spark can size the join state:
    buffered clicks are evicted once the error-side watermark passes
    click_ts + lookback, and vice versa — state stays proportional to the
    lookback window, not the stream length. Inner join in append mode emits
    each matched pair exactly once.

    ``how="left_outer"`` adds the null-emission half of the operator:
    an error with NO click in its lookback is emitted once — with null
    click_ts — only when the global watermark passes the point where a
    matching click is provably impossible (clicks arrive with
    click_ts >= watermark; a click can still match while
    watermark < err_ts). Matched pairs still emit as they join; the
    unmatched row is produced by state eviction, so it appears in the
    extra finalize batch availableNow runs after the data batches.
    """
    stream = file_stream(spark, source_dir, schema, max_files_per_trigger)
    src = _event_time_ltz(stream, "ts")
    errors = (
        src.where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_id"),
            F.col("user_id").alias("err_user"),
            F.col("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", watermark)
    )
    clicks = (
        src.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    joined = errors.join(
        clicks,
        F.expr(
            f"err_user = click_user"
            f" AND click_ts >= err_ts - INTERVAL {lookback}"
            f" AND click_ts < err_ts"
        ),
        how,
    ).select("err_id", F.col("err_user").alias("user_id"), "click_ts")
    return start_parquet_sink(joined, target_dir, checkpoint_dir)


def _compact_last_per_key(
    batch: DataFrame, keys: list[str], order_col: str, keep_order: bool = False
) -> DataFrame:
    """Last-wins changelog compaction: keep the row with max ``order_col``
    per key. Ties on order_col break on every remaining column, name-sorted
    descending (nulls last), so the winner is a pure function of the
    batch's row set — a foreachBatch retry of the same batch picks the
    same winner (at-least-once + idempotent merge = convergent).
    ``keep_order`` retains the order column for an ordered sink merge."""
    tiebreak = [
        F.col(c).desc_nulls_last()
        for c in sorted(batch.columns)
        if c not in keys and c != order_col
    ]
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc(), *tiebreak)
    out = (
        batch.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    return out if keep_order else out.drop(order_col)


def upsert_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    target_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    rows=None,
    order_col: str | None = None,
    ordered_sink: bool = False,
    op_col: str | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """ST1/ST3: the keyed-upsert loop every replace-merged sink runs —
    readStream -> per-batch ``rows(batch)`` (the batch itself when None)
    -> last-wins compaction (``order_col`` set) -> idempotent keyed MERGE
    into the bucketed parquet target. foreachBatch is at-least-once and
    the merge is idempotent on keys, so crash/retry converges (ST3
    contract), and a full redelivery under a fresh checkpoint replaces
    each row with itself. There is deliberately no batch-id ledger: batch
    ids restart at 0 under a fresh checkpoint, and a ledger would skip
    real batches of a re-drain into the same target.

    Compaction keeps the max-``order_col`` row per key; EQUAL order
    values break on every remaining column in name order (desc, nulls
    last), so the winner is a deterministic function of the batch
    contents. Without ``order_col`` the rows must already be unique per
    key.

    ``op_col`` makes the merge a CDC apply (``sinks.apply_cdc_parquet``):
    rows tagged 'I'/'U'/'D' in that column insert, update or delete — the
    Debezium/changefeed-to-lakehouse consumer. Otherwise the merge is
    ``merge_upsert_parquet``, looked up at batch time so a caller may
    wrap it (graftbench's traced run times each merge that way).

    ``ordered_sink=True`` (requires order_col, upsert merges only) stores
    the order column in the table and merges conditionally — a stored row
    is replaced only by a >=-ordered incoming row — so convergence holds
    even when WHOLE BATCHES replay or arrive out of order. Plain mode
    converges only under in-order batch delivery, the default file-source
    behavior.

    ``available_now=False`` runs the stream continuously instead of
    draining what the source holds (``start_foreach_batch``)."""
    if ordered_sink and (order_col is None or op_col is not None):
        raise ValueError("ordered_sink requires order_col and no op_col")
    stream = file_stream(spark, source_dir, schema, max_files_per_trigger)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df if rows is None else rows(batch_df)
        if order_col is not None:
            batch = _compact_last_per_key(
                batch, keys, order_col, keep_order=ordered_sink
            )
        if op_col is not None:
            apply_cdc_parquet(spark, batch, target_dir, keys, op_col)
        else:
            merge_upsert_parquet(
                spark, batch, target_dir, keys,
                order_col=order_col if ordered_sink else None,
            )

    return start_foreach_batch(
        stream, process_batch, checkpoint_dir, available_now
    )


def vectorize_stream(
    spark: SparkSession,
    source_dir: str,
    corpus_docs: DataFrame,
    embeddings: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    lang: str = "en",
    heartbeat_path: str | None = None,
    available_now: bool = True,
):
    """Start the streaming worker over parquet files landing in source_dir:
    ``upsert_stream`` with the doc-vector transform, keyed on (doc_id,
    dim).

    Returns the StreamingQuery. With available_now=True it drains existing
    input and stops (the testable mode); False runs continuously with a
    0-second processing trigger like the reference's tight poll loop.
    ``heartbeat_path`` adds a ``HeartbeatListener`` bound to this query.

    The merge target sizes its own hash-bucketing: one bucket per 128 MiB
    of stored parquet (sources/sinks.py), so a small sink is one bucket
    and a 100 TB one grows to 2^20. Per-batch merge cost is O(touched
    buckets) of that size.
    """
    # The dimension table is small (vocab-sized) and reused every batch.
    # Tracked, so release_caches() frees it with the IDF caches it was
    # built from; an untracked cache outlived the stream and served later
    # word_vectors plans whole, leaving their own caches unbuilt.
    word_vectors = persist_tracked(
        tfidf.word_vectors(corpus_docs, embeddings, lang)
    )
    word_vectors.count()  # materialize once before the stream starts

    beat = None
    if heartbeat_path:
        beat = HeartbeatListener(heartbeat_path, spark.streams)
        spark.streams.addListener(beat)
    try:
        return upsert_stream(
            spark, source_dir, corpus_docs.schema, target_dir, checkpoint_dir,
            ["doc_id", "dim"],
            rows=lambda b: _micro_batch_vectors(b, word_vectors, embeddings, lang),
            available_now=available_now,
        )
    except BaseException:
        if beat is not None:  # no query started, so none will remove it
            spark.streams.removeListener(beat)
        raise


def idf_count_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    counts_dir: str,
    docs_dir: str,
    checkpoint_dir: str,
    lang: str = "en",
    max_files_per_trigger: int | None = None,
):
    """Incremental IDF maintenance: each micro-batch of documents merges
    its (word, occurrences) delta and its document-count delta ADDITIVELY
    into two bucketed state tables (sinks.merge_add_parquet) — the
    reference's full-corpus IDF recount (calculate_idf_scores.py:52-66)
    as O(batch) maintenance instead of O(corpus) recomputation. The
    foreachBatch batch_id rides into the sink's ledger, so a replayed
    batch cannot double-count: addition + ledger = exactly-once.

    At 100 TB: per-batch cost is the batch's own token count plus
    O(touched buckets) of the word-count table; the IDF read side derives
    log10(n_docs/occurrences) from the two states at query time."""
    from ..functions import text as T

    stream = file_stream(spark, source_dir, schema, max_files_per_trigger)

    def process_batch(batch_df, batch_id: int) -> None:
        docs = batch_df.where(F.col("lang") == lang)
        word_delta = (
            docs.select(F.explode(T.tokens("text")).alias("word"))
            .groupBy("word")
            .agg(F.count("*").cast("bigint").alias("occurrences"))
        )
        merge_add_parquet(
            spark, word_delta, counts_dir, ["word"], batch_id=batch_id
        )
        doc_delta = docs.agg(
            F.count("*").cast("bigint").alias("n_docs")
        ).select(F.lit("corpus").alias("scope"), "n_docs")
        merge_add_parquet(
            spark, doc_delta, docs_dir, ["scope"], batch_id=batch_id
        )

    return start_foreach_batch(stream, process_batch, checkpoint_dir)


def merge_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    state_dir: str,
    checkpoint_dir: str,
    delta,
    keys: list[str],
    merge=merge_add_parquet,
    max_files_per_trigger: int | None = None,
):
    """Incremental combining-state maintenance: each micro-batch's
    ``delta(batch)`` — pre-aggregated, unique per ``keys`` — combines
    into the standing bucketed state at ``state_dir`` through ``merge``:
    ``merge_add_parquet`` for counts and exact moments,
    ``merge_max_parquet`` / ``merge_min_parquet`` for dominance state
    (HLL registers, first occurrences). It is the idf_count_stream
    pattern with one state table: the reference's full-corpus recount
    (calculate_idf_scores.py:52-66) as O(batch) maintenance. The
    foreachBatch batch_id rides into the sink's ledger, so a replayed
    batch cannot apply twice; the combiners are commutative, so any
    batch split yields the one-pass state, and a statistic reads out
    from the state as a pure function without rescanning history.

    At 100 TB: per-batch cost is the batch's own delta (one
    map-side-combinable aggregate) plus O(touched buckets) of the state
    table, which sizes its own buckets from its stored bytes."""
    stream = file_stream(spark, source_dir, schema, max_files_per_trigger)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge(spark, delta(batch_df), state_dir, keys, batch_id=batch_id)

    return start_foreach_batch(stream, process_batch, checkpoint_dir)
