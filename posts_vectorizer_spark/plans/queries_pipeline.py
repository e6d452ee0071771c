"""r4 wave — pipeline-infrastructure operators a 100 TB curation stack
needs beyond the core inventory: runtime-filter join pruning, per-domain
caps, intra-document repetition removal, cohort retention, filtered ANN,
ORC format coverage, and a driver-checkable streaming dedup drain (ST7).

All [Q]: every query here carries a DuckDB oracle. The streaming/format
queries use the single-batch determinism trick established by
stream_interval_join (queries_extras.py)."""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..cache import persist_tracked
from ..functions import text as _T
from ..sources import load_table, scratch_dir, spread
from ..sources.sinks import merge_max_parquet, merge_min_parquet
from ..streaming.drain import (
    drain, halves, merged_or_empty, source_copy, state_drain,
)
from .registry import register

SOURCE_CAP = 10
CHUNK = 4


from .queries_advanced import _DEC_REVENUE_SQL, _dec_revenue


@register(
    "rel_bloom_prune_join",
    oracle=f"""
SELECT l.l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       {_DEC_REVENUE_SQL} AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY l.l_returnflag
""",
)
def rel_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join: a broadcast Bloom filter of the selective dim
    side (urgent orders) prunes the fact scan BEFORE the join shuffle —
    the public-primitive build of Spark's internal InjectRuntimeFilter
    shape (operators/runtime_filter.py). The filter is purely physical:
    false positives die in the exact join, so the oracle is the plain
    join. At 100 TB this is the difference between shuffling all of
    lineitem and shuffling the matching slice.

    Revenue is the repo's exact scaled-int64 sum (cents x
    discount-hundredths / 10000 — queries_advanced._dec_revenue): the r6
    driver hash-fail proved the earlier double `round(sum(...), 2)` was
    partition-order dependent at a half-cent boundary."""
    from ..operators.runtime_filter import bloom_prune_join

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    joined = bloom_prune_join(li, orders, "l_orderkey", "o_orderkey")
    return joined.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        _dec_revenue().alias("revenue"),
    )


@register(
    "dedup_source_cap",
    oracle=f"""
SELECT doc_id, source, CAST(rn AS BIGINT) AS source_rank
FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
) WHERE rn <= {SOURCE_CAP}
""",
)
def dedup_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap — the web-curation guard against any one source
    dominating the corpus: keep at most {SOURCE_CAP} docs per source,
    preferring longer docs (n_chars desc, doc_id tiebreak). One
    source-keyed window; at scale the rank never materializes beyond the
    cap because row_number + filter pushes the limit into the sort."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= SOURCE_CAP)
        .select(
            "doc_id", "source", F.col("rn").cast("bigint").alias("source_rank")
        )
    )


@register(
    "text_chunk_dedup",
    oracle=f"""
WITH base AS (
  SELECT doc_id, {_T.tokens_sql('text')} AS toks FROM documents
),
chunked AS (
  SELECT doc_id,
         list_transform(
           generate_series(0, CAST((len(toks) + {CHUNK - 1}) // {CHUNK} AS INT) - 1),
           c_i -> array_to_string(toks[c_i * {CHUNK} + 1 : c_i * {CHUNK} + {CHUNK}],
                                  chr(1))
         ) AS chunks
  FROM base
)
SELECT doc_id,
       CAST(len(chunks) AS BIGINT) AS n_chunks,
       CAST(len(list_distinct(chunks)) AS BIGINT) AS n_unique_chunks,
       CAST(round(CASE WHEN len(chunks) > 0
                  THEN 1.0 - CAST(len(list_distinct(chunks)) AS DOUBLE)
                       / len(chunks)
                  ELSE 0.0 END, 6) AS DOUBLE) AS dup_chunk_ratio
FROM chunked
""",
)
def text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition profile: segment each doc into
    non-overlapping {CHUNK}-token chunks and measure how many are exact
    repeats of an earlier chunk in the SAME doc — the boilerplate /
    template-spam signal used to trim repetitive documents before
    training. Entirely narrow (array HOFs inside codegen): no explode, no
    shuffle — per-doc cost is bounded by doc length, so the pass
    distributes perfectly at any corpus size. Chunks compare as
    \\x01-joined strings (tokens never contain control chars — they are
    whitespace-split text) so both engines dedupe a flat string list."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _T.tokens("text")
    n_chunks_c = F.ceil(F.size(toks) / F.lit(CHUNK)).cast("int")
    chunks = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks_c - 1),
            lambda i: F.array_join(F.slice(toks, i * CHUNK + 1, CHUNK), "\x01"),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = docs.select("doc_id", chunks.alias("chunks"))
    n = F.size("chunks").cast("bigint")
    uniq = F.size(F.array_distinct("chunks")).cast("bigint")
    return out.select(
        "doc_id",
        n.alias("n_chunks"),
        uniq.alias("n_unique_chunks"),
        F.round(
            F.when(n > 0, 1.0 - uniq.cast("double") / n).otherwise(0.0), 6
        ).cast("double").alias("dup_chunk_ratio"),
    )


@register(
    "source_orc_roundtrip",
    oracle="""
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source, lang
""",
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 format coverage beyond CSV/JSON: round-trip documents through
    ORC (Spark-native columnar alternative to parquet; same predicate
    pushdown and column pruning) and aggregate the read-back side. The
    roundtrip must be lossless, so the oracle aggregates the original
    parquet directly."""
    docs = load_table(spark, sf_dir, "documents")
    work = scratch_dir("pv_orc_")
    docs.write.mode("overwrite").orc(work)
    back = spark.read.orc(work)
    return back.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "source_schema_evolution",
    oracle="""
WITH v1 AS (
  SELECT doc_id, source, n_chars, NULL AS quality_tier
  FROM documents WHERE doc_id % 2 = 0
),
v2 AS (
  SELECT doc_id, source, n_chars,
         CASE WHEN n_chars >= 300 THEN 'long' ELSE 'short' END AS quality_tier
  FROM documents WHERE doc_id % 2 = 1
),
unioned AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT source,
       COALESCE(quality_tier, 'unknown') AS quality_tier,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM unioned
GROUP BY source, COALESCE(quality_tier, 'unknown')
""",
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 schema evolution: a dataset written in two generations — v1
    files lack the later-added ``quality_tier`` column — read back as ONE
    table via ``mergeSchema``, with v1 rows surfacing NULL for the new
    column (the additive-evolution contract every long-lived lakehouse
    table relies on). The aggregate proves the merged read is lossless
    and the NULL back-fill lands where the oracle's explicit NULLs do.
    At scale mergeSchema's footer sampling is the cost knob; pinning the
    merged schema in the metastore amortizes it."""
    docs = load_table(spark, sf_dir, "documents")
    work = scratch_dir("pv_evo_")
    docs.where(F.col("doc_id") % 2 == 0).select(
        "doc_id", "source", "n_chars"
    ).write.mode("overwrite").parquet(f"{work}/gen=1")
    docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        "source",
        "n_chars",
        F.when(F.col("n_chars") >= 300, "long")
        .otherwise("short")
        .alias("quality_tier"),
    ).write.mode("overwrite").parquet(f"{work}/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{work}/gen=1", f"{work}/gen=2"
    )
    return merged.groupBy(
        "source",
        F.coalesce("quality_tier", F.lit("unknown")).alias("quality_tier"),
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "stream_dedup_drain",
    oracle="""
SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value
FROM events
""",
)
def stream_dedup_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST7 with a driver row: the events table is delivered TWICE (two
    source files = two forced micro-batches via maxFilesPerTrigger=1);
    streaming dropDuplicates keys per-event state in the state store, so
    the second delivery — a different batch — is dropped entirely.
    Deterministic: duplicate rows are bit-identical, so whichever arrives
    first yields the same output; the final table is exactly the distinct
    events, which is the oracle."""
    from ..streaming import dedup_stream

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )

    def deliver_twice(path: str) -> None:
        # two identical full deliveries -> two files -> two micro-batches
        e.coalesce(1).write.mode("append").parquet(path)
        e.coalesce(1).write.mode("append").parquet(path)

    source = source_copy(f"dedup:{sf_dir}", deliver_twice)
    target = drain(spark, lambda out, ckpt: dedup_stream(
        spark, source, e.schema, out, ckpt,
        keys=("event_id",), max_files_per_trigger=1,
    ), scoped=True)
    return spark.read.parquet(target)


SAMPLE_PCT = 10


@register(
    "rel_hash_sample",
    oracle=f"""
SELECT l_orderkey, l_linenumber,
       CAST(l_quantity AS DOUBLE) AS l_quantity
FROM lineitem
WHERE ({_T.char_hash_sql(
        "(CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR))"
    )}) % 100 < {SAMPLE_PCT}
""",
)
def rel_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 made reproducible: deterministic ~{SAMPLE_PCT}% Bernoulli sample
    by portable hash of the row key — the split/sample primitive a
    training pipeline needs to be RERUNNABLE (same rows on every engine,
    every run, any partitioning), unlike rel_sample's engine-RNG [R]
    form. The hash is the shared char_hash, so the oracle selects the
    identical rows. Fully narrow: the predicate evaluates at the scan,
    no shuffle, and composes with any downstream op."""
    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        ":",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    return li.where(_T.char_hash(key) % 100 < SAMPLE_PCT).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("l_quantity"),
    )


from ..operators.similarity import filtered_topk_sql, lsh_ann_sql  # noqa: E402


@register("sim_filtered_topk", oracle=filtered_topk_sql(k=3))
def sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered exact ANN: top-3 cosine neighbors restricted to the
    query's own label (metadata-filtered vector search — "nearest within
    the same category"). The filter value IS the partition key: candidates
    come from a label equi-join through the grouped numpy kernel, bounded
    by the same salt split as lsh_ann/ivf_ann
    (operators/similarity.py::filtered_topk)."""
    from ..operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.filtered_topk(emb, k=3)


@register(
    "stream_tumbling_drain",
    oracle="""
SELECT * FROM (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
         event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(round(sum(value), 6) AS DOUBLE) AS total_value
  FROM events
  GROUP BY 1, 2
) WHERE window_start <= (SELECT max(ts) - INTERVAL '2 hours' FROM events)
""",
)
def stream_tumbling_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6 in STREAMING mode with a driver row: the same 1-hour tumbling
    aggregation as the batch events_tumbling_window, but run through
    readStream + withWatermark + append mode + availableNow drain. Append
    mode only emits a window once the watermark (max event time − 1 h)
    passes its END — so the final windows of the stream are still open
    when the source drains and are deliberately withheld. The oracle
    states that exact horizon in SQL: windows whose end ≤ max(ts) − 1 h,
    i.e. window_start ≤ max(ts) − 2 h.

    Single-file delivery keeps the drain deterministic: with one
    micro-batch nothing can arrive behind a mid-stream watermark, so the
    emitted set depends only on the data (the multi-batch late-drop path
    is pinned by tests/test_streaming.py's two-batch watermark test).
    Scale shape: identical to batch tumbling — map-side partial aggs into
    a (window, type)-keyed exchange; streaming adds only the bounded
    window-state store (state ∝ open windows × types, never stream
    length)."""
    from ..streaming import tumbling_window_stream

    e = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value"
    )
    source = source_copy(
        f"tumbling:{sf_dir}",
        lambda p: e.coalesce(1).write.mode("append").parquet(p),
    )
    target = drain(spark, lambda out, ckpt: tumbling_window_stream(
        spark, source, e.schema, out, ckpt,
        time_col="ts", window="1 hour", watermark="1 hour",
    ), scoped=True)
    return spark.read.parquet(target)


# ---------------------------------------------------------------------------
# custom Python Data Source (Spark 4 connector API) — batch + stream drain
# ---------------------------------------------------------------------------

from ..sources.pydatasource import ORACLE_ROW_SQL as _PDS_ROW_SQL  # noqa: E402

PDS_LO, PDS_HI, PDS_N = 1000, 5000, 5000
PDS_STREAM_N, PDS_STREAM_BATCH = 600, 128


@register(
    "source_python_datasource",
    oracle=f"""
WITH src AS (
  {_PDS_ROW_SQL}
  FROM generate_series({PDS_LO}, {PDS_HI - 1}) AS t(i)
)
SELECT author,
       CAST(count(*) AS BIGINT) AS n_posts,
       CAST(sum(CAST(score AS DECIMAL(18,3))) AS DOUBLE) AS total_score,
       CAST(sum(len(body)) AS BIGINT) AS total_chars
FROM src GROUP BY author
""",
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A brand-new CONNECTOR, not a file format: the Spark 4 Python Data
    Source API (`sources/pydatasource.py`) with real partition planning
    (8 independent range slices — the shape a 1000-executor scan needs)
    and post_id range-filter pushdown (the predicate narrows the
    generated range at PLAN time; the Python-source analog of row-group
    pruning). The source is a pure function of the row id, so the oracle
    re-states the connector itself in SQL over generate_series — a
    hash-checked custom connector.

    The reference analog is the polled posts source
    (/root/reference/worker.py:96-108): an external system feeding rows;
    here the feed is a planned parallel scan instead of a driver cursor."""
    from ..sources import pydatasource as P

    # the reader's pushFilters needs spark.sql.python.filterPushdown
    # .enabled when the plan is optimized — a prep_session key
    P.register(spark)
    df = (
        spark.read.format(P.SOURCE_NAME)
        .option("n_rows", PDS_N)
        .option("n_partitions", 8)
        .load()
        .where((F.col("post_id") >= PDS_LO) & (F.col("post_id") < PDS_HI))
    )
    return df.groupBy("author").agg(
        F.count("*").alias("n_posts"),
        F.sum(F.col("score").cast("decimal(18,3)"))
        .cast("double")
        .alias("total_score"),
        F.sum(F.length("body")).cast("bigint").alias("total_chars"),
    )


@register(
    "stream_python_source_drain",
    oracle=f"""
{_PDS_ROW_SQL}
FROM generate_series(0, {PDS_STREAM_N - 1}) AS t(i)
""",
)
def stream_python_source_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same connector as a STREAMING source (SimpleDataSourceStreamReader):
    offsets are id watermarks, each trigger emits the next
    {PDS_STREAM_BATCH} ids until {PDS_STREAM_N} are delivered, and
    `readBetweenOffsets` regenerates any offset range exactly (pure
    formula) — so checkpointed replay is byte-identical and the drained
    table is deterministic however the trigger slices the feed. The drain
    polls the sink until the finite source is exhausted, then stops; the
    oracle is the full generated range. The polling stays: under an
    availableNow trigger this connector's stream ends after its first
    batch ({PDS_STREAM_BATCH} of {PDS_STREAM_N} rows)."""
    from pyspark.errors import AnalysisException

    from ..sources import pydatasource as P

    P.register(spark)

    def start(out: str, ckpt: str):
        return (
            spark.readStream.format(P.SOURCE_NAME)
            .option("n_rows", PDS_STREAM_N)
            .option("batch_size", PDS_STREAM_BATCH)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    def drained(out: str) -> bool:
        try:
            return spark.read.parquet(out).count() >= PDS_STREAM_N
        except AnalysisException:  # no batch committed yet
            return False

    return spark.read.parquet(drain(spark, start, until=drained))


@register(
    "stream_idf_increment",
    oracle=f"""
WITH eligible AS (SELECT * FROM documents WHERE lang = 'en'),
tok AS (SELECT unnest({_T.tokens_sql('text')}) AS word FROM eligible),
counts AS (SELECT word, CAST(count(*) AS BIGINT) AS occurrences
           FROM tok GROUP BY word),
n AS (SELECT count(*) AS n_docs FROM eligible)
SELECT c.word, c.occurrences,
       CAST(round(log10(CAST(n.n_docs AS DOUBLE) / c.occurrences), 6)
            AS DOUBLE) AS idf
FROM counts c, n
""",
)
def stream_idf_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IDF maintenance with a driver row: documents stream in
    TWO forced micro-batches (two source files, maxFilesPerTrigger=1);
    each batch ADDITIVELY merges its word-count and doc-count deltas into
    bucketed state tables (exactly-once via the sink's batch-id ledger),
    and the final IDF derives from the merged states — the reference's
    full-corpus recount (calculate_idf_scores.py:52-85) as O(batch)
    maintenance. Addition is commutative, so the two-batch split cannot
    change the result: the oracle is the whole-corpus aggregate."""
    from ..streaming import idf_count_stream

    docs = load_table(spark, sf_dir, "documents")
    source = source_copy(f"idf_increment:{sf_dir}", halves(docs, "doc_id"))
    state_dir = drain(spark, lambda out, ckpt: idf_count_stream(
        spark, source, docs.schema, f"{out}/counts", f"{out}/docs", ckpt,
        lang="en", max_files_per_trigger=1,
    ))
    counts = merged_or_empty(
        spark, f"{state_dir}/counts", "word string, occurrences bigint"
    )
    n_docs = merged_or_empty(
        spark, f"{state_dir}/docs", "scope string, n_docs bigint"
    ).select("n_docs")
    return counts.crossJoin(F.broadcast(n_docs)).select(
        "word",
        "occurrences",
        F.round(
            F.log10(F.col("n_docs").cast("double") / F.col("occurrences")), 6
        ).cast("double").alias("idf"),
    )


@register(
    "stream_static_join_drain",
    oracle="""
SELECT * FROM (
  SELECT time_bucket(INTERVAL '1 hour', e.ts) AS window_start,
         c.c_mktsegment,
         CAST(count(*) AS BIGINT) AS n,
         CAST(round(sum(e.value), 6) AS DOUBLE) AS total_value
  FROM events e JOIN customer c ON e.user_id = c.c_custkey
  GROUP BY 1, 2
) WHERE window_start <= (SELECT max(ts) - INTERVAL '2 hours' FROM events)
""",
)
def stream_static_join_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical streaming STAR-JOIN with a driver row: the events
    stream broadcast-joins the static customer dimension per micro-batch
    (stateless — no join state store), then aggregates per (1-hour
    window, market segment) under a watermark in append mode
    (streaming/worker.py::enriched_window_stream). Same single-batch
    determinism + watermark-horizon oracle as stream_tumbling_drain:
    emitted windows are exactly those whose end the final watermark
    passed (window_start <= max(ts) - 2 h).

    Scale shape: the fact stream never shuffles for the join (the dim
    broadcasts once per batch); the only exchange is the (window,
    segment)-keyed aggregation, and state is bounded by open windows x
    segment cardinality — never stream length."""
    from ..streaming import enriched_window_stream

    e = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    cust = load_table(spark, sf_dir, "customer")
    source = source_copy(
        f"static_join:{sf_dir}",
        lambda p: e.coalesce(1).write.mode("append").parquet(p),
    )
    target = drain(spark, lambda out, ckpt: enriched_window_stream(
        spark, source, e.schema, cust,
        join_keys=("user_id", "c_custkey"), dim_col="c_mktsegment",
        target_dir=out, checkpoint_dir=ckpt,
        time_col="ts", window="1 hour", watermark="1 hour",
    ), scoped=True)
    return spark.read.parquet(target)


# ---------------------------------------------------------------------------
# native bucketed tables — co-located join without a shuffle
# ---------------------------------------------------------------------------

_BUCKETS = 8


def _write_bucketed(spark: SparkSession, df: DataFrame, key: str, name: str) -> None:
    """(Re)create an EXTERNAL bucketed+sorted table in the session catalog.
    Explicit FIXED path keeps data in a temp dir (no spark-warehouse/
    pollution in the caller's CWD) and makes re-runs overwrite in place —
    a fresh mkdtemp per run would orphan a full copy of both fact tables
    every invocation (oracle sweeps run this repeatedly)."""
    import os
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    path = os.path.join(tempfile.gettempdir(), f"pv_bkt_{name}")
    shutil.rmtree(path, ignore_errors=True)
    (
        df.write.bucketBy(_BUCKETS, key)
        .sortBy(key)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(name)
    )


def bucketed_join_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders and lineitem bucketed by order key (same bucket count
    on both sides) and return the catalog table names."""
    _write_bucketed(
        spark,
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        ),
        "o_orderkey",
        "pv_bucketed_orders",
    )
    _write_bucketed(
        spark,
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity"
        ),
        "l_orderkey",
        "pv_bucketed_lineitem",
    )
    return "pv_bucketed_orders", "pv_bucketed_lineitem"


@register(
    "source_bucketed_colocated_join",
    oracle="""
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
""",
)
def source_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketing for co-located joins — the table-layout mechanism that
    removes the shuffle from the biggest recurring join at 100 TB: both
    fact tables are written `bucketBy(8, order_key).sortBy(order_key)`,
    so the join reads pre-partitioned, pre-sorted buckets and
    sort-merge-joins with NO Exchange on either side (plan-asserted in
    tests/test_plans.py with broadcast disabled; at real scale the probe
    side is far over any broadcast threshold and this IS the plan).
    The oracle is the plain join — bucketing must never change results,
    only the physical plan."""
    orders_t, lineitem_t = bucketed_join_tables(spark, sf_dir)
    o = spark.table(orders_t)
    li = spark.table(lineitem_t)
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_qty"),
        )
    )


@register(
    "stream_lsh_index_drain",
    oracle=lsh_ann_sql(64, 3),
)
def stream_lsh_index_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN index maintenance, end-to-end and hash-checked:
    drain the embeddings stream through ``upsert_stream`` into the
    MATERIALIZED LSH index table — per row the hyperplane bucket code and
    norm are computed in-stream (``similarity.lsh_index_rows``: the
    expensive planes×dims projection runs ONCE per vector, at ingest),
    then keyed-MERGE'd on vec_id, so a re-delivered vector idempotently
    replaces itself and a changed embedding updates its bucket row in
    place. The standing index is read back and serves sim_lsh_ann's top-3
    probe FROM THE TABLE (operators/similarity.py::lsh_ann(index=...)).
    The oracle is the exact same SQL as sim_lsh_ann — the materialized
    index must answer identically to the in-plan computation, proving the
    index content is byte-equivalent to a fresh bucketing.

    At 100 TB this is how the ANN surface stays queryable without
    re-bucketing the corpus per query: the index table IS the standing
    build side, and each probe only pays its own bucket join."""
    from ..operators import similarity
    from ..streaming import upsert_stream

    emb = load_table(spark, sf_dir, "embeddings")
    source = source_copy(
        f"lsh_index:{sf_dir}",
        lambda p: emb.coalesce(1).write.mode("append").parquet(p),
    )
    index_dir = drain(spark, lambda out, ckpt: upsert_stream(
        spark, source, emb.schema, out, ckpt, ["vec_id"],
        rows=lambda b: similarity.lsh_index_rows(b, 64),
    ))
    index = merged_or_empty(
        spark, index_dir, similarity.lsh_index_rows(emb, 64).schema
    )
    return similarity.lsh_ann(emb, 64, 3, index=index)


@register(
    "rel_market_basket",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
part_cnt AS (SELECT l_partkey, count(*) AS cnt FROM li GROUP BY l_partkey),
pair_cnt AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         count(*) AS pair_count
  FROM li a JOIN li b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
)
SELECT p.part_a, p.part_b, CAST(p.pair_count AS BIGINT) AS pair_count,
       (CAST(p.pair_count AS DOUBLE) * CAST(n.n_orders AS DOUBLE))
       / (CAST(ca.cnt AS DOUBLE) * CAST(cb.cnt AS DOUBLE)) AS lift
FROM pair_cnt p
JOIN part_cnt ca ON ca.l_partkey = p.part_a
JOIN part_cnt cb ON cb.l_partkey = p.part_b
CROSS JOIN n
WHERE p.pair_count >= 2
""",
)
def rel_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity ("frequently bought together"): part pairs
    co-occurring in >= 2 orders, with lift = P(a,b) / (P(a)·P(b)) over
    the order universe. Lift is ONE fixed-shape expression of exact
    integer counts using only IEEE-exact ops, so both engines produce
    bit-identical doubles — no rounding grid.

    Scale shape: the pair generation self-joins on l_orderkey, so
    candidate volume is Σ|order|² — bounded by basket size (≤ 13 items
    in this schema), never #parts²; the part-frequency sides broadcast
    (dimension-sized), and the order-count scalar is a broadcast 1-row
    aggregate. This is the co-occurrence shape every recommender /
    association-rule pipeline starts from."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    n = li.select(F.countDistinct("l_orderkey").alias("n_orders"))
    part_cnt = li.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    a = li.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pair_cnt = (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("pair_count"))
        .where(F.col("pair_count") >= 2)
    )
    ca = part_cnt.select(
        F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a")
    )
    cb = part_cnt.select(
        F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b")
    )
    lift = (
        F.col("pair_count").cast("double") * F.col("n_orders").cast("double")
    ) / (F.col("cnt_a").cast("double") * F.col("cnt_b").cast("double"))
    return (
        pair_cnt.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            F.col("pair_count").cast("bigint").alias("pair_count"),
            lift.alias("lift"),
        )
    )


@register(
    "stream_session_drain",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL '6 hours'
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sessions AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS session_id
  FROM ordered
)
SELECT * FROM (
  SELECT user_id,
         min(ts) AS session_start,
         max(ts) + INTERVAL '6 hours' AS session_end,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(round(sum(value), 6) AS DOUBLE) AS total_value
  FROM sessions
  GROUP BY user_id, session_id
) WHERE session_end <= (SELECT max(ts) - INTERVAL '1 hour' FROM events)
""",
)
def stream_session_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6 SESSION windows in streaming mode with a driver row: the same
    6-hour-gap sessionization as the batch events_session_window, run
    through readStream + watermark + append + availableNow
    (streaming/worker.py::session_window_stream). Append mode emits a
    session only once the watermark (max ts − 1 h) passes its END (last
    event + gap) — so sessions still open, or closed less than the
    watermark delay before the stream drained, are withheld. The oracle
    states that horizon exactly: session_end <= max(ts) − 1 h, over the
    gaps-and-islands sessionization the session-window oracle family
    already pins.

    Scale shape: per-(user, open-session) state bounded by watermark +
    gap, never stream length — the hard case for streaming state, here
    hash-checked end-to-end."""
    from ..streaming import session_window_stream

    e = load_table(spark, sf_dir, "events").select(
        "ts", "event_id", "user_id", "value"
    )
    source = source_copy(
        f"session:{sf_dir}",
        lambda p: e.coalesce(1).write.mode("append").parquet(p),
    )
    target = drain(spark, lambda out, ckpt: session_window_stream(
        spark, source, e.schema, out, ckpt,
        time_col="ts", gap="6 hours", watermark="1 hour",
    ), scoped=True)
    return spark.read.parquet(target)


@register(
    "source_python_sink_roundtrip",
    oracle="""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
""",
)
def source_python_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The writer half of the custom Python connector (S4 as a pure-Python
    SINK): documents flow through the manifest-commit parquet ledger
    (`sources/pydatasource.py::PostsLedgerWriter`, a Spark 4
    DataSourceArrowWriter — tasks receive Arrow RecordBatches, write one
    attempt-unique file each, and the driver's commit() publishes the
    manifest that IS the commit), then read back resolving files through
    that manifest. The oracle recomputes the same aggregate from the base
    table, so a hash match proves the sink round-trip is lossless AND
    that only committed files are read (a stray parquet dropped in the
    directory is invisible — pinned in tests/test_pydatasource.py).

    Runs its write at build by contract, like the streaming drains."""
    from ..sources import pydatasource as P

    P.register(spark)
    work = scratch_dir("pv_ledger_")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    docs.write.format(P.SOURCE_NAME).mode("append").option(
        "path", work
    ).save()
    back = P.read_ledger(spark, work)
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "stream_python_sink_drain",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(event_id) AS BIGINT) AS sum_event_id
FROM events
GROUP BY user_id
""",
)
def stream_python_sink_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming half of the Python ledger sink (the connector's last
    quadrant: stream × write). Events drain through writeStream into the
    custom sink with maxFilesPerTrigger=1 forcing MULTIPLE micro-batches,
    so the epoch ledger actually exercises per-batch commits; the result
    reads back through the manifest. Append-only + a batch-invariant
    final aggregate makes the drain deterministic whatever the batch
    boundaries; exactness comes from integer-only measures. Replay
    idempotency (a redelivered epoch leaves the manifest unchanged) is
    unit-pinned in tests/test_pydatasource.py."""
    from ..sources import pydatasource as P
    from ..streaming.worker import file_stream

    P.register(spark)
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    source = source_copy(
        f"python_sink:{sf_dir}",
        lambda p: e.repartition(4).write.mode("overwrite").parquet(p),
    )
    ledger = drain(spark, lambda out, ckpt: (
        file_stream(spark, source, e.schema, 1)
        .writeStream.format(P.SOURCE_NAME)
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    ))
    return P.read_ledger(spark, ledger).groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("event_id").cast("bigint").alias("sum_event_id"),
    )


@register(
    "source_ledger_compaction",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
""",
)
def source_ledger_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ledger OPTIMIZE: documents land in the Python sink as 8 small task
    files, compaction rewrites them as 2 and swaps the manifest
    generation atomically — old files stay on disk so a reader holding
    the previous manifest keeps working mid-compaction (readers pin a
    snapshot; GC of orphans is a separate step). The post-compaction
    aggregate hash-matches the base table, proving the rewrite is
    lossless end-to-end. Small-file compaction is the maintenance half
    every manifest-committed 100 TB table needs: task files arrive at
    micro-batch granularity and read amplification grows until an
    OPTIMIZE folds them. Runs its write at build by contract."""
    from ..sources import pydatasource as P

    P.register(spark)
    work = scratch_dir("pv_compact_")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    docs.repartition(8).write.format(P.SOURCE_NAME).mode("append").option(
        "path", work
    ).save()
    P.compact_ledger(spark, work, target_files=2)
    return P.read_ledger(spark, work).groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "source_ledger_skipping",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE doc_id >= 400
""",
)
def source_ledger_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level data skipping on the Python sink (the Delta/Iceberg
    min/max pattern at the connector layer): documents land
    range-partitioned by doc_id, so each task file carries a disjoint
    [min, max] in the manifest; a selective read prunes every file whose
    range cannot match BEFORE opening it — a selective query touches
    O(matching files), never O(table). Pruning is a superset pre-filter;
    the exact predicate still applies to rows, so the hash match proves
    skipping dropped no qualifying data. The skipped-file count itself is
    pinned in tests/test_pydatasource.py. Runs its write at build by
    contract."""
    from ..sources import pydatasource as P

    P.register(spark)
    work = scratch_dir("pv_skip_")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    docs.repartitionByRange(8, "doc_id").write.format(P.SOURCE_NAME).mode(
        "append"
    ).option("path", work).save()
    pruned = P.read_ledger(spark, work, prune=("doc_id", ">=", 400))
    return pruned.where(F.col("doc_id") >= 400).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "source_ledger_quarantine",
    oracle="""
SELECT CAST(count(CASE WHEN doc_id % 50 <> 0 THEN 1 END) AS BIGINT)
         AS valid_docs,
       CAST(count(CASE WHEN doc_id % 50 = 0 THEN 1 END) AS BIGINT)
         AS quarantined_docs,
       CAST(sum(CASE WHEN doc_id % 50 <> 0 THEN n_chars END) AS BIGINT)
         AS valid_chars
FROM documents
""",
)
def source_ledger_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter quarantine on the Python sink: rows violating the
    writer's expectations (here: a NULL text, injected on every 50th
    doc) are split into a quarantine file at write time instead of
    poisoning the table OR failing the job — ingest keeps flowing and
    the rejects stay inspectable as data (read_quarantine). The result
    reads BOTH sides back and the oracle recomputes the same split from
    the base table, so the hash match proves the router dropped nothing
    and mixed nothing. Vacuum treats dead letters as data, never
    orphans (unit-pinned). Runs its write at build by contract."""
    from ..sources import pydatasource as P

    P.register(spark)
    work = scratch_dir("pv_quar_")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 50 != 0, F.col("text")).alias("text"),
        "n_chars",
    )
    docs.write.format(P.SOURCE_NAME).mode("append").option(
        "path", work
    ).option("require_not_null", "text").save()
    valid = P.read_ledger(spark, work)
    quarantined = P.read_quarantine(spark, work)
    q_count = (
        quarantined.count() if quarantined is not None else 0
    )
    return valid.agg(
        F.count("*").alias("valid_docs"),
        F.lit(q_count).cast("bigint").alias("quarantined_docs"),
        F.sum("n_chars").cast("bigint").alias("valid_chars"),
    )


@register(
    "source_ledger_time_travel",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE doc_id < 250
""",
)
def source_ledger_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel on the Python sink: two commits land as
    manifest versions 1 and 2; reading ``version=1`` resolves through
    the superseded snapshot and sees ONLY the first commit — the head
    keeps both. Every manifest swap (commit, epoch, compaction) leaves
    its predecessor behind as an immutable version file, so any
    committed state stays readable until vacuum's retention passes
    (Delta's time-travel model at the connector layer). The oracle
    recomputes version 1's content from the base table. Runs its writes
    at build by contract."""
    from ..sources import pydatasource as P

    P.register(spark)
    work = scratch_dir("pv_tt_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    for half in (docs.where(F.col("doc_id") < 250),
                 docs.where(F.col("doc_id") >= 250)):
        half.coalesce(1).write.format(P.SOURCE_NAME).mode("append").option(
            "path", work
        ).save()
    return P.read_ledger(spark, work, version=1).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


from .queries_sketch import DDSKETCH_QUANTILES_SQL


@register(
    "stream_ddsketch_drain",
    oracle=DDSKETCH_QUANTILES_SQL,

)
def stream_ddsketch_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile-sketch maintenance with a driver row: lineitem
    streams in TWO forced micro-batches (two source files,
    maxFilesPerTrigger=1); each batch additively merges its (d, f2)
    bucket-count delta into the standing sketch state
    (ddsketch_counts through merge_stream, exactly-once via the
    sink's batch-id ledger), and the final quantiles read out from the
    merged state (queries_sketch.ddsketch_readout). Count addition is
    commutative, so the batch split cannot change the result — the
    oracle is rel_ddsketch_quantiles' whole-corpus readout, making the
    sketch's merge property driver-hash-checked end to end."""
    from .queries_sketch import ddsketch_counts, ddsketch_readout

    li = load_table(spark, sf_dir, "lineitem")
    state = state_drain(spark, li, "l_orderkey", ddsketch_counts, ["d", "f2"])
    return ddsketch_readout(spark, state)


# ---------------------------------------------------------------------------
# sliding-window RAG chunk emission (built r8, staged r9)
# ---------------------------------------------------------------------------

_SLIDE_W = 64   # chunk size (tokens)
_SLIDE_S = 48   # stride (tokens) -> 16-token overlap between neighbors

_CHUNK_SLIDING_SQL = f"""
WITH tok AS (
  SELECT doc_id, {_T.tokens_sql('text')} AS t FROM documents
),
sized AS (SELECT doc_id, t, len(t) AS n FROM tok WHERE len(t) >= 1),
idx AS (
  SELECT doc_id, t, n,
         unnest(generate_series(0,
           CASE WHEN n <= {_SLIDE_W} THEN 0
                ELSE (n - {_SLIDE_W} + {_SLIDE_S} - 1) // {_SLIDE_S} END
         )) AS c
  FROM sized
),
chunks AS (
  SELECT doc_id, CAST(c AS INT) AS chunk_idx,
         CAST(c * {_SLIDE_S} AS INT) AS start_tok,
         array_to_string(
           list_slice(t, CAST(c * {_SLIDE_S} + 1 AS INT),
                      CAST(least(c * {_SLIDE_S} + {_SLIDE_W}, n) AS INT)),
           ' ') AS chunk_text,
         CAST(least(c * {_SLIDE_S} + {_SLIDE_W}, n) - c * {_SLIDE_S} AS INT)
           AS n_tokens
  FROM idx
)
SELECT doc_id, chunk_idx, start_tok, n_tokens,
       {_T.digest_sql('chunk_text')} AS chunk_hash, chunk_text
FROM chunks
"""


@register("text_chunk_sliding", oracle=_CHUNK_SLIDING_SQL)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunk EMISSION — the RAG/serving ETL output stage
    (vs `text_chunk_dedup`/`text_chunk_boilerplate`, which consume
    non-overlapping chunks as signals): every document becomes
    overlapping 64-token windows at stride 48
    (16-token overlap so no sentence is orphaned at a
    boundary), each row carrying its position (chunk_idx, start_tok),
    actual token count (the tail chunk may be short), the md5 content
    key downstream indexes/dedup join on, and the chunk text itself.
    Chunk count for an n-token doc: 1 if n <= 64, else
    ceil((n-64)/48) + 1 — pure integer arithmetic,
    identical in both engines.

    Scale shape: entirely narrow — tokenize, one nested-transform
    emitting each doc's chunk structs inside codegen, one explode; ZERO
    shuffles at any corpus size (the output inherits the scan's
    partitioning, which is exactly what a chunk-shard writer wants).
    Per-row output is ~n/48 chunks of 64 tokens — the
    ~1.33x text amplification is the op's
    definition, not a plan artifact."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", _T.tokens("text").alias("t")
    ).withColumn("n", F.size("t")).where(F.col("n") >= 1)
    chunks = sized.select(
        "doc_id",
        F.explode(
            F.expr(
                f"""
        transform(sequence(0,
            CASE WHEN n <= {_SLIDE_W} THEN 0
                 ELSE CAST((n - {_SLIDE_W} + {_SLIDE_S} - 1)
                           DIV {_SLIDE_S} AS INT) END),
          c -> struct(
            CAST(c AS INT) AS chunk_idx,
            CAST(c * {_SLIDE_S} AS INT) AS start_tok,
            CAST(least(c * {_SLIDE_S} + {_SLIDE_W}, n)
                 - c * {_SLIDE_S} AS INT) AS n_tokens,
            array_join(slice(t, c * {_SLIDE_S} + 1, {_SLIDE_W}), ' ')
              AS chunk_text))
    """
            )
        ).alias("ch"),
    ).select("doc_id", "ch.*")
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        "n_tokens",
        _T.digest("chunk_text").alias("chunk_hash"),
        "chunk_text",
    )


from .queries_sketch import CMS_HEAVY_HITTERS_SQL


def _overlap_materialize(df):
    """Start materializing an (independent) readout-side relation on an
    inheritable thread so it computes CONCURRENTLY with a drain's trigger
    machinery, whose WAL/planning gaps leave executors idle (guide §2.6
    overlap independent jobs). The caller persists `df` first and joins
    the returned thread after the drain; results are unaffected — a
    failed warm just falls back to recompute at the readout.

    Never run it inside a session-conf scope (``state_scoped_partitions``
    via a ``scoped=True`` drain, or any other set-and-restore of a SQL
    conf): the thread plans its job while the scope is live, so it would
    pick up the scoped conf or the restored one depending on timing.
    ``state_drain`` never scopes."""
    from pyspark import InheritableThread

    def _run() -> None:
        try:
            df.write.mode("overwrite").format("noop").save()
        except Exception:
            pass

    t = InheritableThread(target=_run)
    t.start()
    return t


@register("stream_cms_drain", oracle=CMS_HEAVY_HITTERS_SQL)
def stream_cms_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min-sketch maintenance with a driver row (built
    r9, staged r10): documents stream in TWO forced micro-batches (two
    halves of 8 files, maxFilesPerTrigger=8); each batch tokenizes,
    hashes, and additively merges its (d, bucket) counter delta into the
    standing sketch (cms_counters through merge_stream, exactly-once
    via the merge sink's batch-id ledger); per-word estimates read out
    from the MERGED state beside the exact counts. Counter addition is
    commutative, so the batch split cannot change the sketch — the
    oracle is text_cms_heavy_hitters' one-pass twin, making the CMS
    merge property driver-hash-checked end to end (the frequency
    companion to stream_ddsketch_drain's quantile sketch)."""
    from .queries_sketch import cms_counters, cms_estimates

    docs = load_table(spark, sf_dir, "documents")
    # r12: count first, hash once per DISTINCT word (max(h) over a
    # word's occurrences IS char_hash(word) — bit-identical), with the
    # single-split scan rebalanced before the tokenize/explode
    # (sources.spread) so the exact side no longer hashes every token
    # occurrence on one core.
    exact = persist_tracked(
        spread(docs)
        .select(F.explode(_T.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("exact_cnt"))
        .select("word", _T.char_hash("word").alias("h"), "exact_cnt")
    )
    # r13 (guide §2.6 overlap independent jobs): the exact side depends
    # only on the source table, not on the stream state — materialize it
    # concurrently with the drain (_overlap_materialize); the readout
    # below hits the persisted relation.
    warm = _overlap_materialize(exact)
    try:
        # The stream consumes only `text` (+ doc_id for the forced
        # split), written in PARALLEL (8 files per half — the HLL drain's
        # lesson). The CMS state is a constant-size d x w counter grid,
        # so the sink keeps it in one bucket.
        state = state_drain(
            spark, docs.select("doc_id", "text"), "doc_id", cms_counters,
            ["d", "bucket"], files=8,
        )
    finally:
        warm.join()
    return cms_estimates(exact, state)


from .queries_sketch import HLL_PORTABLE_SQL


@register("stream_hll_drain", oracle=HLL_PORTABLE_SQL)
def stream_hll_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog maintenance with a driver row (built r9,
    staged r10): lineitem streams in TWO forced micro-batches; each
    batch MAX-merges its sparse (bucket, rho) registers into the
    standing state (hll_sparse_registers through merge_stream and
    the r9 merge_max_parquet dominance sink); the cardinality estimate
    reads out from the MERGED registers beside the exact distinct.
    Register max is idempotent and commutative, so the batch split
    cannot change a single register — the oracle is rel_hll_portable's
    one-pass twin, completing the mergeable-sketch streaming trio
    (DDSketch/CMS counts merge by +, HLL registers merge by max)."""
    from .queries_sketch import hll_estimate_readout, hll_sparse_registers

    li = load_table(spark, sf_dir, "lineitem")
    # r13: the exact-distinct side depends only on the source table —
    # rebalance its scan (the distinct partial agg ran on the 3 input
    # splits) and materialize it CONCURRENTLY with the drain, the same
    # §2.6 overlap as the CMS drain. The drain feed stays the RAW scan:
    # halves() repartitions each half itself.
    ex = persist_tracked(
        spread(li).agg(
            F.count_distinct(F.col("l_orderkey")).alias("exact_distinct")
        )
    )
    warm = _overlap_materialize(ex)
    # PARALLEL source writes (8 files per half, 8 per trigger => exactly
    # two batches): merge state is split-invariant, so batch composition
    # is free to follow file order — a coalesce(1) draft measured 5.9x
    # wall under 10x data, all of it the single-threaded source write
    try:
        state = state_drain(
            spark, li, "l_orderkey",
            lambda b: hll_sparse_registers(b, "l_orderkey"), ["bucket"],
            files=8, merge=merge_max_parquet,
        )
    finally:
        warm.join()
    return hll_estimate_readout(spark, state, ex)


from .queries_curation import _QUALITY_GATE_SQL


@register("stream_quality_gate_drain", oracle=_QUALITY_GATE_SQL)
def stream_quality_gate_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming admission control with a driver row: the unigram LM is
    fit ONCE on the static corpus (the pinned model state —
    stream_psi_drift_drain's pattern applied to SCORING, not monitoring);
    documents then stream in TWO forced micro-batches through
    ``upsert_stream``, and each batch's per-doc gate verdicts
    (length/repetition/LM fail flags + keep) upsert into the standing
    decision table keyed by doc_id (idempotent — a replayed batch
    rewrites identical rows). Per-doc decisions are independent and the
    LM is pinned, so the batch split cannot change a single verdict — the
    oracle is curation_quality_gate's whole-corpus twin, hash-checking
    the streaming scoring path end to end.

    At 100 TB: per-batch cost is the batch's tokenize + one broadcast
    join against the vocab-sized LM + O(touched buckets) of the verdict
    table — admission control over an unbounded ingest stream without
    ever refitting or rescanning the corpus."""
    from ..streaming import upsert_stream
    from .queries_curation import (
        quality_gate_rows,
        unigram_lm,
        unigram_score_against,
    )

    docs = load_table(spark, sf_dir, "documents")
    # pin the model: persist + materialize the vocab-sized LM and its
    # 1-row norm ONCE so every micro-batch scores against IDENTICAL
    # state without recomputing over the corpus. Executor-side cache,
    # NOT a driver collect: a unigram vocab grows with the corpus
    # (Heaps' law — tens of millions of rows at 100 TB), so shipping it
    # through the driver is the one shape that cannot scale. The scoring
    # join is already F.broadcast(lm) inside unigram_score_against — the
    # events_psi_drift pinned-reference pattern applied to scoring.
    lm, norm = unigram_lm(docs)
    lm = persist_tracked(lm)
    norm = persist_tracked(norm)
    lm.count()
    norm.count()
    source = source_copy(f"quality_gate:{sf_dir}", halves(docs, "doc_id"))
    state_dir = drain(spark, lambda out, ckpt: upsert_stream(
        spark, source, docs.schema, out, ckpt, ["doc_id"],
        rows=lambda b: quality_gate_rows(b, unigram_score_against(b, lm, norm)),
        max_files_per_trigger=1,
    ))
    return merged_or_empty(
        spark, state_dir,
        "doc_id long, n_tokens bigint, repetition double,"
        " avg_logprob double, fail_length boolean,"
        " fail_repetition boolean, fail_lm boolean, keep boolean",
    ).select(
        "doc_id", "n_tokens", "repetition", "avg_logprob",
        "fail_length", "fail_repetition", "fail_lm", "keep",
    )


from .queries_similarity import _ZSCORE_SQL


@register("stream_zscore_drain", oracle=_ZSCORE_SQL)
def stream_zscore_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OOD-moment maintenance with a driver row (built r9,
    staged r10): embeddings stream in TWO forced micro-batches; each
    batch additively merges its (dim, s1, s2, n) exact-DECIMAL moment
    deltas into the standing state (zscore_moment_deltas
    through merge_stream and the ledgered add sink); the top-k
    diagonal-Mahalanobis readout runs from the MERGED state. Extends
    the additive-state streaming family from bucket counts (DDSketch /
    CMS) and max-registers (HLL) to real-valued sufficient statistics —
    sums of round-9 DECIMALs are exact, so the split cannot move a
    single moment and the oracle is sim_zscore_outliers' one-pass
    twin."""
    from .queries_similarity import zscore_moment_deltas, zscore_readout

    emb = load_table(spark, sf_dir, "embeddings")
    state = state_drain(
        spark, emb, "vec_id", zscore_moment_deltas, ["dim"], files=4
    )
    return zscore_readout(emb, state)


from .queries_sketch import _KMV_SET_OPS_SQL


@register("stream_kmv_drain", oracle=_KMV_SET_OPS_SQL)
def stream_kmv_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV bottom-k maintenance with a driver row: events
    stream in TWO forced micro-batches through ``upsert_stream``; each
    batch unions its side-tagged distinct hashes with the standing
    bottom-k state and re-takes the bottom-k, REPLACE-merged under
    (side, rank) keys (the rank set only ever grows toward k, so no
    deletes arise). The set-ops readout (per-side estimates, union
    estimate, KMV Jaccard) is a pure function of the sketch state shared
    verbatim with the batch query, and bottomk(state ∪ delta) is
    monotone + idempotent: a replayed batch's values are already
    at-or-above the standing kth minimum, so replay is a structural no-op
    and the batch split cannot move a single sketch value — the oracle is
    events_kmv_set_ops' one-pass twin, making the ORDER-STATISTIC merge
    the fourth driver-hash-checked sketch-maintenance family
    (DDSketch/CMS merge by +, HLL by max, KMV by bottom-k).

    At 100 TB: per-batch cost is the batch's salted two-level top-k plus
    a union with a <= 2k-row state table; the standing state never
    exceeds k rows per side no matter how many events streamed."""
    from ..streaming import upsert_stream
    from .queries_sketch import (
        kmv_bottomk,
        kmv_event_hashes,
        kmv_set_ops_readout,
    )

    events = load_table(spark, sf_dir, "events")
    state_schema = kmv_bottomk(kmv_event_hashes(events).select("s", "h")).schema
    source = source_copy(f"kmv:{sf_dir}", halves(events, "event_id"))

    def start(out: str, ckpt: str):
        def bottomk(batch: DataFrame) -> DataFrame:
            state = merged_or_empty(spark, out, state_schema).select("s", "h")
            delta = kmv_event_hashes(batch).select("s", "h")
            return kmv_bottomk(delta.unionByName(state).distinct())

        return upsert_stream(
            spark, source, events.schema, out, ckpt, ["s", "r"],
            rows=bottomk, max_files_per_trigger=1,
        )

    state = merged_or_empty(spark, drain(spark, start), state_schema)
    # a global aggregate: over an empty state it yields the one
    # degenerate row, as the oracle does
    return kmv_set_ops_readout(state.select("s", "h"))


from .queries_curation import _RELIABILITY_SQL


@register(
    "stream_reliability_drain", oracle=_RELIABILITY_SQL
)
def stream_reliability_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming calibration monitoring with a driver row (built r9
    session 3, staged r10): documents stream in TWO forced
    micro-batches; each batch's (bin, n, s_sum, y_sum) reliability
    statistics merge ADDITIVELY into the standing state
    (reliability_bin_counts through the
    batch-id-ledgered add sink), and the diagram + ECE read out from
    the MERGED bins via the same pure readout the batch query uses.
    Decimal score sums and integer counts are commutative, so the
    batch split cannot move a single bin — the oracle is
    curation_reliability_diagram's one-pass twin, putting live
    calibration-drift monitoring beside the quantile (DDSketch),
    frequency (CMS), cardinality (HLL), and order-statistic (KMV)
    maintenance families."""
    from .queries_curation import reliability_bin_counts, reliability_readout

    docs = load_table(spark, sf_dir, "documents")
    state = state_drain(spark, docs, "doc_id", reliability_bin_counts, ["bin"])
    return reliability_readout(state)


from .queries_stats import _BENFORD_SQL  # noqa: E402


@register("stream_benford_drain", oracle=_BENFORD_SQL)
def stream_benford_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Benford conformance monitoring with a driver row
    (built r10, staged r11): lineitem rows stream in TWO forced
    micro-batches; each batch additively merges its 9-key first-digit
    count delta into the standing state (benford_digit_counts
    through the ledgered add sink); the chi-square
    conformance readout runs from the MERGED state through the SAME
    benford_readout as the batch test. Digit counts are the complete
    sufficient statistic and addition is commutative, so the batch
    split cannot move the statistic — the oracle is
    rel_benford_digit_test's whole-corpus SQL, hash-checking the live
    fraud/unit-mixup monitor end to end. Extends the additive-state
    streaming family to a STATISTICAL TEST readout (counts ->
    chi-square), beside sketches (CMS/HLL/KMV/DDSketch), moments
    (zscore), and calibration bins (reliability)."""
    from .queries_stats import benford_digit_counts, benford_readout

    li = load_table(spark, sf_dir, "lineitem")
    state = state_drain(
        spark, li, "l_orderkey", benford_digit_counts, ["d"], files=4
    )
    return benford_readout(spark, state)


from .queries_text import _ZIPF_SQL  # noqa: E402


@register("stream_zipf_drain", oracle=_ZIPF_SQL)
def stream_zipf_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Zipf corpus-health monitoring with a driver row (built
    r10, staged r11): documents stream in TWO forced micro-batches;
    each batch additively merges its (word, n) delta into the standing
    vocabulary count table (word_counts
    — the UNBOUNDED-key member of the additive family: state is
    vocab-sized, the sink's hash-bucketed MERGE rewrites only touched
    buckets); the rank-frequency OLS readout runs from the MERGED
    state through the SAME zipf_fit_readout as the batch query. Word
    counts are additive, so the split cannot move a rank or a
    sufficient statistic — the oracle is text_zipf_fit's whole-corpus
    SQL, hash-checking the live ingest-quality monitor end to end."""
    from .queries_text import word_counts, zipf_fit_readout

    docs = load_table(spark, sf_dir, "documents")
    state = state_drain(spark, docs, "doc_id", word_counts, ["word"])
    return zipf_fit_readout(state)


from .queries_text import _NOVELTY_SQL  # noqa: E402


@register("stream_novelty_drain", oracle=_NOVELTY_SQL)
def stream_novelty_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming novelty monitoring with a driver row (built r10,
    staged r11): documents stream in TWO forced micro-batches; each
    batch MIN-merges its (gram, first doc_id) delta into the standing
    first-occurrence table through the NEW merge_min sink — the FOURTH
    state-combiner family (replace / add / max / MIN), completing the
    dominance pair. min is commutative AND idempotent, so neither the
    batch split nor a replay can move a first occurrence; per-doc
    novelty reads out from the MERGED state through the SAME
    novelty_readout as the batch query, and the oracle is
    text_ngram_novelty's whole-corpus SQL — ingestion-order semantics
    hash-checked end to end without any sequential scan."""
    from .queries_text import (
        novelty_doc_grams,
        novelty_firsts,
        novelty_readout,
    )

    docs = load_table(spark, sf_dir, "documents")
    state = state_drain(
        spark, docs, "doc_id",
        lambda b: novelty_firsts(novelty_doc_grams(b)), ["g"],
        merge=merge_min_parquet,
    )
    return novelty_readout(novelty_doc_grams(docs), state)


from .queries_governance import _MI_SQL  # noqa: E402


@register("stream_mutual_info_drain", oracle=_MI_SQL)
def stream_mutual_info_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dependence monitoring with a driver row (built r11,
    staged r12): events stream in TWO forced micro-batches; each batch
    additively merges its (xv, yv) contingency-cell delta into the
    standing table (mi_pair_counts through the
    ledgered add sink); the MI / marginal-entropy / NMI readout runs
    from the MERGED state through the SAME mi_readout as the batch
    query. Cell counts are the complete sufficient statistic and
    addition is commutative, so the batch split cannot move the
    statistic — the oracle is rel_mutual_information's whole-corpus
    SQL, hash-checking the live column-dependence monitor end to end
    (the physical-design companion to the Benford/Zipf quality
    drains)."""
    from .queries_governance import mi_pair_counts, mi_readout

    ev = load_table(spark, sf_dir, "events")
    state = state_drain(
        spark, ev, "event_id", mi_pair_counts, ["xv", "yv"], files=4
    )
    return mi_readout(state)


from .queries_events import _TRANS_ENTROPY_SQL  # noqa: E402


@register(
    "stream_transition_entropy_drain",
    oracle=_TRANS_ENTROPY_SQL,
)
def stream_transition_entropy_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming sequence-predictability monitoring with a driver row
    (built r11, staged r12): events stream in TWO forced micro-batches
    split BY USER (user_id parity — transition pairs form inside one
    user's journey, so a user-disjoint split keeps the per-batch
    counts exact and ADDITIVE); each batch merges its (i, j) delta
    into the standing transition matrix
    (transition_counts); the
    H(next|current) / predictability readout runs from MERGED state
    through the SAME transition_entropy_readout as the batch query,
    whose whole-corpus SQL is the oracle. The first drain whose
    split-invariance comes from KEY-DISJOINT batching rather than
    per-row independence — the partitioned-ingest contract (one
    producer owns a user's events) hash-checked end to end."""
    from .queries_events import transition_counts, transition_entropy_readout

    ev = load_table(spark, sf_dir, "events")
    state = state_drain(
        spark, ev, "user_id", transition_counts, ["i", "j"], files=4
    )
    return transition_entropy_readout(state)


from .queries_curation import _GOOD_TURING_SQL  # noqa: E402


@register(
    "stream_good_turing_drain", oracle=_GOOD_TURING_SQL
)
def stream_good_turing_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming unseen-mass monitoring with a driver row (built r11,
    staged r12): documents stream in TWO forced micro-batches; each
    batch additively merges its (word, n) delta into the standing
    vocabulary count table (the SAME
    word_counts state the Zipf drain
    maintains — one standing table, TWO registered readouts); the
    Good-Turing adjusted-count / smoothed-probability / unseen-mass
    table reads out from MERGED state through the SAME
    good_turing_readout as the batch query, whose whole-corpus SQL is
    the oracle. Proves the maintenance design's real dividend: a new
    monitor costs one readout function, zero new state."""
    from .queries_curation import good_turing_readout
    from .queries_text import word_counts

    feed = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    state = state_drain(spark, feed, "doc_id", word_counts, ["word"], files=4)
    return good_turing_readout(state.withColumnRenamed("n", "r"))


from .queries_quality import _VOCAB_GINI_SQL  # noqa: E402


@register("stream_vocab_gini_drain", oracle=_VOCAB_GINI_SQL)
def stream_vocab_gini_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming vocabulary-concentration monitoring with a driver row
    (built r12, staged r13): documents stream in TWO forced
    micro-batches; each batch additively merges its (word, n) delta
    into the standing vocabulary count table — the SAME
    word_counts state the Zipf and
    Good-Turing drains maintain (one standing table, now THREE
    registered readouts); the Lorenz/Gini type-inequality readout
    runs from MERGED state through the SAME vocab_gini_readout as the
    batch query, whose whole-corpus SQL is the oracle. Word counts
    are additive, so the batch split cannot move a count-of-counts
    cell — the live 'is a handful of types starting to carry the
    stream' monitor, at the cost of one readout function and zero
    new state. The 17th drain."""
    from .queries_quality import vocab_gini_readout
    from .queries_text import word_counts

    feed = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    state = state_drain(spark, feed, "doc_id", word_counts, ["word"], files=4)
    return vocab_gini_readout(state.withColumnRenamed("n", "c"))


from .queries_stats import _ANOVA_SQL  # noqa: E402


@register("stream_anova_drain", oracle=_ANOVA_SQL)
def stream_anova_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming variance-decomposition monitoring with a driver row
    (built r11, staged r12): lineitem streams in TWO forced
    micro-batches; each batch additively merges its (grp, n, s, q)
    integer moment delta into the standing group-moment table
    (anova_group_moments through the ledgered add
    sink); the F / eta² readout runs from MERGED state through the
    SAME anova_readout as the batch test, whose whole-corpus SQL is
    the oracle. Extends the additive-state family to a VARIANCE-
    DECOMPOSITION readout beside the chi-square (Benford), OLS (Zipf),
    and entropy (MI / transitions) monitors."""
    from .queries_stats import anova_group_moments, anova_readout

    li = load_table(spark, sf_dir, "lineitem")
    feed = li.select("l_orderkey", "l_returnflag", "l_quantity")
    state = state_drain(
        spark, feed, "l_orderkey", anova_group_moments, ["grp"], files=4
    )
    return anova_readout(state)


from .queries_text import _JSD_SQL  # noqa: E402


@register("stream_jsd_drain", oracle=_JSD_SQL)
def stream_jsd_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source-drift monitoring with a driver row (built r11,
    staged r12): documents stream in TWO forced micro-batches; each
    batch additively merges its (source, word) count delta into the
    standing table (jsd_source_word_counts — the
    unbounded-key additive family, the Zipf drain's state widened by
    the source key); the per-source Jensen-Shannon readout runs from
    MERGED state through the SAME jsd_readout as the batch query,
    whose whole-corpus SQL is the oracle — live which-source-drifted
    triage, hash-checked end to end."""
    from .queries_text import jsd_readout, jsd_source_word_counts

    docs = load_table(spark, sf_dir, "documents")
    feed = docs.select("doc_id", "source", "text")
    state = state_drain(
        spark, feed, "doc_id", jsd_source_word_counts, ["source", "word"],
        files=4,
    )
    return jsd_readout(state)


from .queries_governance import _CHI2_INDEP_SQL  # noqa: E402


@register("stream_chi2_drain", oracle=_CHI2_INDEP_SQL)
def stream_chi2_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming independence-significance monitoring with a driver row
    (built r12, staged r13): a SECOND readout of the SAME standing
    (xv, yv) contingency state the mutual-information drain maintains
    (mi_pair_counts through the ledgered add
    sink) — the Zipf/Good-Turing precedent's dividend on the
    dependence family: the chi²/dof/Cramér's-V significance monitor
    costs ONE readout function (queries_governance.py::chi2_readout,
    refactored out of rel_chi2_independence's body, which re-proves as
    a refactor consumer next head) and ZERO new state. Cell counts are
    the complete sufficient statistic and addition is commutative, so
    the batch split cannot move the statistic; the oracle is
    rel_chi2_independence's whole-corpus SQL."""
    from .queries_governance import chi2_readout, mi_pair_counts

    ev = load_table(spark, sf_dir, "events")
    state = state_drain(
        spark, ev, "event_id", mi_pair_counts, ["xv", "yv"], files=4
    )
    return chi2_readout(state)


from .queries_timeseries import _THEIL_SEN_SQL  # noqa: E402


@register("stream_theil_sen_drain", oracle=_THEIL_SEN_SQL)
def stream_theil_sen_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming robust-trend monitoring with a driver row (built r12,
    staged r13): events stream in TWO forced micro-batches; each batch
    ADD-merges its (epoch-day, cents) delta into the standing daily
    table (daily_cents — the
    CALENDAR-BOUNDED additive state: ~30 rows regardless of volume);
    the Theil-Sen median-slope readout runs from MERGED state through
    the SAME theil_sen_readout as the batch query, whose whole-corpus
    SQL is the oracle. Day sums are additive, so the batch split
    cannot move a single pairwise slope — the live trend monitor
    hash-checked end to end (the forecasting family's first drain)."""
    from .queries_timeseries import daily_cents, theil_sen_readout

    ev = load_table(spark, sf_dir, "events")
    state = state_drain(spark, ev, "event_id", daily_cents, ["d"], files=4)
    return theil_sen_readout(state)


from .queries_extras import _UTF8_CORPUS_SQL  # noqa: E402


@register("stream_utf8_drain", oracle=_UTF8_CORPUS_SQL)
def stream_utf8_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming encoding-health monitoring with a driver row (built
    r12, staged r13): documents stream in TWO forced micro-batches;
    each batch runs the UTF-8 DFA audit and ADD-merges its 11-key
    (metric, c) delta into the standing class-count table
    (utf8_metric_counts) — the FIXED-KEY extreme
    of the additive family (11 rows of state at any volume, vs the
    Zipf drain's unbounded vocab and the Theil-Sen drain's calendar).
    The corpus rollup reads out from MERGED state through the SAME
    utf8_corpus_readout as multimodal_utf8_corpus, whose whole-corpus
    SQL is the oracle — the live mojibake monitor hash-checked end to
    end."""
    from ..operators.multimodal import utf8_corpus_readout, utf8_metric_counts

    feed = load_table(spark, sf_dir, "documents").select("doc_id")
    state = state_drain(
        spark, feed, "doc_id", utf8_metric_counts, ["metric"], files=4
    )
    return utf8_corpus_readout(state)


from .queries_curation import _ROC_AUC_SQL  # noqa: E402


@register("stream_auc_drain", oracle=_ROC_AUC_SQL)
def stream_auc_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ranking-quality monitoring with a driver row (built
    r12, staged r13): documents stream in TWO forced micro-batches;
    each batch scores the calibration signal and ADD-merges its
    (s, pos, neg) value-grid delta into the standing table
    (_score_label_grid — state bounded by
    distinct round-6 scores, BOTH count columns additive); ROC AUC and
    Gini read out from MERGED state through the SAME auc_readout as
    curation_roc_auc, whose whole-corpus SQL is the oracle. Grid
    counts are additive, so the batch split cannot move the
    U-statistic — the live gate-discrimination monitor beside the
    reliability drain's calibration monitor (is the score still
    ORDERING English above the rest as the corpus drifts?),
    hash-checked end to end. The 16th drain."""
    from .queries_curation import _score_label_grid, auc_readout

    docs = load_table(spark, sf_dir, "documents")
    feed = docs.select("doc_id", "text", "lang")
    state = state_drain(
        spark, feed, "doc_id", _score_label_grid, ["s"], files=4
    )
    return auc_readout(state)


from .queries_stats import _KW_SQL  # noqa: E402


@register("stream_kruskal_drain", oracle=_KW_SQL)
def stream_kruskal_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rank-test monitoring with a driver row (built r12,
    staged r13): lineitem streams in TWO forced micro-batches; each
    batch ADD-merges its (grp, x) value-grid count delta into the
    standing table (kw_value_grid — state
    bounded by groups x the 50-value quantity grid); the tie-corrected
    Kruskal-Wallis H / epsilon² read out from MERGED state through the
    SAME kw_readout as the batch query, whose whole-corpus SQL is the
    oracle. Grid counts are additive, so the batch split cannot move a
    midrank — the distribution-free companion to stream_anova_drain's
    moment monitor (ANOVA tracks means under normality; KW tracks the
    whole rank structure), hash-checked end to end. The 15th drain;
    rel_kruskal_wallis re-proves as the readout-refactor consumer via
    its own introduction slot."""
    from .queries_stats import kw_readout, kw_value_grid

    li = load_table(spark, sf_dir, "lineitem")
    feed = li.select("l_orderkey", "l_returnflag", "l_quantity")
    state = state_drain(
        spark, feed, "l_orderkey", kw_value_grid, ["grp", "x"], files=4
    )
    return kw_readout(state)


from ..functions import text as _T_llr  # noqa: E402
from .queries_corpus import _LLR_SQL  # noqa: E402


@register(
    "stream_llr_drain",
    oracle=_LLR_SQL.format(tokens_sql=_T_llr.tokens_sql("text")),
)
def stream_llr_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming collocation-significance monitoring with a driver row
    (built r12, staged r13): documents stream in TWO forced
    micro-batches; each batch ADD-merges its per-(w1, w2)
    adjacent-pair count delta into the standing bigram table
    (bigram_counts — the second
    unbounded-key additive state beside the vocab table); Dunning G²
    + signed association read out from MERGED state through the SAME
    llr_readout as the batch query, whose whole-corpus SQL is the
    oracle. Bigram counts are additive, so the batch split cannot
    move a margin — the live 'which phrases are crystallizing in the
    stream' monitor phrase-induction pipelines poll. The 18th drain;
    text_dunning_llr re-proves as the readout-refactor consumer via
    its own introduction slot."""
    from .queries_corpus import bigram_counts, llr_readout

    feed = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    state = state_drain(
        spark, feed, "doc_id", bigram_counts, ["w1", "w2"], files=4
    )
    return llr_readout(state)


from .queries_curation import _ISOTONIC_SQL  # noqa: E402


@register("stream_isotonic_drain", oracle=_ISOTONIC_SQL)
def stream_isotonic_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming calibration-curve maintenance with a driver row
    (built r12, staged r13): documents stream in TWO forced
    micro-batches; each batch ADD-merges its (s, pos, neg) score-grid
    delta into the standing table — the SAME
    _score_label_grid state the AUC drain
    maintains (one standing table, now TWO registered readouts); the
    minimax-PAV isotonic fit reads out from MERGED state through the
    SAME isotonic_readout as the batch query, whose whole-corpus SQL
    is the oracle. Grid counts are additive, so the batch split
    cannot move a block average — the live calibrated
    score-to-probability curve a serving gate polls, at the cost of
    one readout function and zero new state. The 19th drain;
    curation_isotonic_calibration re-proves as the readout-refactor
    consumer via its own introduction slot."""
    from .queries_curation import _score_label_grid, isotonic_readout

    docs = load_table(spark, sf_dir, "documents")
    feed = docs.select("doc_id", "text", "lang")
    state = state_drain(
        spark, feed, "doc_id", _score_label_grid, ["s"], files=4
    )
    return isotonic_readout(state)


