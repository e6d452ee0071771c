"""Table catalog over the driver's parquet fixtures.

The reference's "catalog" is a pair of MongoDB collections addressed by name
(/root/reference/worker.py:14-16, 57) with server-side filter/projection
pushdown. Here every table is a parquet directory scan; Catalyst pushes
filters and column pruning into the scan (SURVEY.md §4 O1/O2), so
``load_table(...).filter(...).select(...)`` has the same
"only ship what you need" property with zero custom code.

At 100 TB these same call sites work unchanged: parquet path -> partitioned
cloud storage, and partition pruning on a partition column (e.g. ``lang`` or a
date) composes with the pushed filters.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

# Every fixture table the driver materializes (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def scratch_dir(prefix: str, tracked: bool = True) -> str:
    """Create a throwaway work directory for self-contained streaming/sink
    queries (source copies, checkpoints, state that die with the call).

    Defaults to tmpfs (/dev/shm) when present: the structured-streaming
    offset/commit WAL fsyncs per micro-batch, and on a disk-backed /tmp
    those fsyncs dominated the forced-two-batch drains' inter-batch gap
    (r12 stage profile: ~0.9 s of idle between triggers). A durable
    checkpoint buys nothing for a checkpoint that is deleted at the end of
    the same call; REAL deployments put checkpoints on durable storage —
    override with $SPARK_GRAFT_SCRATCH (any path) to restore that.

    ``tracked`` (default) registers the directory for deletion in the
    caller's release_caches() sweep, so a long bench/test session does
    not accumulate RAM-backed directories (r12 ADVICE). Pass False only
    for process-lifetime caches (the drains' reusable source copies).
    """
    import tempfile

    base = os.environ.get("SPARK_GRAFT_SCRATCH")
    if base is None and os.path.isdir("/dev/shm"):
        base = "/dev/shm"
    path = tempfile.mkdtemp(prefix=prefix, dir=base)
    if tracked:
        from ..cache import scratch_tracked

        scratch_tracked(path)
    else:
        # process-lifetime dirs (the drains' reusable source copies) are
        # reclaimed at interpreter exit — without this every bench/test
        # PROCESS would leave its copies in RAM-backed tmpfs for the
        # host's uptime
        import atexit
        import shutil

        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def spread(df: DataFrame) -> DataFrame:
    """Rebalance a narrow scan across all cores before CPU-heavy per-row
    work (tokenize / hash / shingle) — but ONLY when the scan actually
    arrives under-split.

    A small parquet table arrives as one input split, so without this the
    expensive narrow stage runs on a single core no matter how many are
    idle. At 100 TB the scan has thousands of splits and
    ``spark.sql.files.maxPartitionBytes`` is the sizing knob — and an
    unconditional ``repartition`` there would be a gratuitous full shuffle
    of the input (for the payload-carrying codec/text paths, a full-corpus
    shuffle the guide's §2 exists to prevent). The r12 form repartitioned
    unconditionally; r13 gates it on the OBSERVED scan parallelism: the
    rebalance fires only when the plan's partition count is below half the
    core count, so it self-disables on well-split scans and on single-core
    runs.

    Two-step gate, because the probe itself must never run a job:
    1. If the analyzed plan already contains an exchange-inducing node
       (a prior repartition/spread, a join, an aggregate, ...), the input
       is already distributed across `shuffle.partitions` — return it
       unchanged. This also makes chained Python stages (e.g. resize over
       sampled frames) skip the second shuffle the r12 form paid. The
       check reads node NAMES off the analyzed tree (no optimization, no
       execution) — probing `df.rdd` on such a plan would make AQE
       materialize the shuffle stages, i.e. run jobs at plan build.
    2. Otherwise the plan is narrow-over-scan: `df.rdd.getNumPartitions()`
       is pure driver-side split planning (no stage exists to run)."""
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    try:
        import re

        tree = df._jdf.queryExecution().analyzed().treeString()
        nodes = {
            re.sub(r"^[\s+:\-]*", "", ln).split(" ", 1)[0].split("[", 1)[0]
            for ln in tree.splitlines()
        }
        if nodes & _EXCHANGE_NODES:
            return df
        n_in = df.rdd.getNumPartitions()
    except Exception:  # defensive: never let the probe break a build
        n_in = 1
    if n_in >= max(2, par // 2):
        return df
    return df.repartition(par)


# Logical nodes whose physical plan contains (or follows) an Exchange —
# an input containing any of these is already distributed, and probing
# its RDD would trigger AQE stage materialization.
_EXCHANGE_NODES = {
    "Repartition",
    "RepartitionByExpression",
    "RebalancePartitions",
    "Join",
    "Aggregate",
    "Window",
    "Sort",
    "Deduplicate",
    "GlobalLimit",
    "Intersect",
    "Except",
    "CoGroup",
    "FlatMapGroupsInPandas",
}


# DataFrame plans are immutable and the fixtures never change, so the
# analyzed scan relation is memoized per (application, path). This drops the
# per-read parquet schema-inference job Spark 4 launches — query *builders*
# stay action-free (asserted by tests/test_plans.py) and repeated builds skip
# redundant footer reads. The memo assumes paths are immutable once read;
# anything that rewrites a fixture path in-place (tests, a refreshed
# extract) must call :func:`clear_scan_cache` or the stale analyzed schema
# wins.
_SCAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def clear_scan_cache() -> None:
    """Drop memoized scan relations — required after rewriting any table
    path in-place (new columns/schema), since the cache is keyed by path,
    not file mtime."""
    _SCAN_CACHE.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Filters/projects applied by the caller are
    pushed into this scan by Catalyst — do not pre-collect or cache here.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects outright. It reads as raw nanos under
    ``session.NANOS_AS_LONG`` (a ``get_spark``/``prep_session`` key; this
    function writes no session conf) and is truncated to microseconds —
    the same truncation DuckDB applies when it coerces TIMESTAMP_NS to its
    native microsecond TIMESTAMP, so both engines see identical instants.
    """
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _SCAN_CACHE.get(key)
    if cached is not None:
        return cached
    if name == "events":
        raw = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        # Only NANOS columns surface as long under nanosAsLong; an events
        # file written with standard MICROS precision (e.g. test fixtures)
        # reads as timestamp already and needs no truncation.
        if dict(raw.dtypes).get("ts") == "bigint":
            df = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            df = raw
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    _SCAN_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works against the
    same names the DuckDB oracle uses."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
