"""SparkSession construction tuned for this engine.

Local mode is a single JVM (`local[N]`); on a real cluster the same settings
hold except memory sizing moves to executor configs. AQE is kept on so joins
re-plan to broadcast at runtime and skewed shuffle partitions get split
(the token->embedding join is Zipfian — SURVEY.md §7.4-5).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The fixtures' ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's
# vectorized reader rejects; with this key on it reads as raw nanos that
# catalog.load_table truncates to micros. The key is read when the scan
# is planned and again when it runs, after the query builder has
# returned, so it is session conf (get_spark, prep_session), not a
# builder's scoped write.
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def default_heap() -> str:
    """Half the host's physical memory, at most 24 GB: in ``local[N]`` the
    one JVM holds the driver and every executor thread, and a larger
    share leaves the Python workers and the page cache too little."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys // 2, 24 << 30) >> 20}m"


def get_spark(
    app_name: str = "posts-vectorizer-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Notes on choices:
    - ``spark.sql.adaptive.enabled``: runtime re-planning (broadcast joins,
      partition coalescing, skew-join splitting) — our substitute for the
      reference's hand-tuned batching (SURVEY.md §4 O4/O5).
    - shuffle partitions default to the core count: at local scale 200 is pure
      overhead; at cluster scale callers pass an explicit value sized so each
      partition holds ~128MB of shuffle data.
    - session timezone pinned UTC so timestamp semantics match the DuckDB
      oracle and are stable across environments.
    - the core count defaults to ``$SPARK_GRAFT_CPUS``, else the cores this
      process may run on.
    - the heap defaults to ``$SPARK_DRIVER_MEMORY``, else ``default_heap()``.
    - ``NANOS_AS_LONG`` is on, as ``prep_session`` sets it.
    """
    cpus = (
        cpus or os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # InferFiltersFromGenerate re-derives `size(e) > 0 AND isnotnull(e)`
        # for every explode and then predicate pushdown INLINES the
        # generator's child expression into that filter below any exchange.
        # For this engine's explodes — computed arrays of portable-hash
        # folds (shingles, n-grams, bigrams) — that re-evaluates the most
        # expensive expression in the plan up to twice more, single-task
        # when pushed below a spread rebalance (r12 profile:
        # dedup_decontaminate spent 18.6 s of 19.9 s in one pushed-down
        # filter). The inferred filters are semantically redundant (the
        # explode itself drops empty/null arrays), so excluding the rule
        # never changes results. Runtime-settable; prep_session repins it
        # for driver-owned sessions.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config(NANOS_AS_LONG, "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # the console progress bar writes `[Stage n:>` to stdout, where it
        # lands in front of result lines that tools parse
        .config("spark.ui.showConsoleProgress", "false")
        # local[N] hosts driver AND all executor threads in ONE JVM, so this
        # is the whole-engine heap. 8g forced concurrent full GCs mid-query
        # under 32 threads on a 32-core host, where 24g removed the swings
        # (8.7 s vs 24.4 s headline total); a fixed 24g on a 15 GB host let
        # a long session grow until the kernel's OOM killer ended it. On a
        # real cluster this moves to spark.executor.memory.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_heap(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def prep_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf the engine relies on to an EXISTING session.

    The correctness driver hands us its own SparkSession; these are the only
    settings our queries depend on that can be flipped at runtime. Everything
    else in the engine is written to be ANSI-safe (guarded divisions, no
    failing casts) so it runs identically under ANSI on or off. The keys:

    - ``spark.sql.session.timeZone`` = UTC;
    - ``spark.sql.optimizer.excludedRules`` gains InferFiltersFromGenerate;
    - ``spark.sql.python.filterPushdown.enabled`` = true: the Python data
      source (sources/pydatasource.py) implements ``pushFilters``, and a
      reader that does requires it on (the vanilla session has it off). It
      must hold when the lazy plan is OPTIMIZED, after the query builder
      has returned, so a builder cannot set and restore it around its own
      body.
    - ``NANOS_AS_LONG`` = true, for the events table's nanosecond
      timestamps; it must hold when the scan runs, for the same reason.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set(NANOS_AS_LONG, "true")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # See get_spark: stops redundant inferred explode filters from
    # re-evaluating expensive computed arrays below exchanges. Purely an
    # optimizer exclusion — results are unchanged by construction. MERGED
    # into any exclusions the session owner already set (r12 ADVICE: a
    # plain overwrite would silently drop the driver's own exclusions).
    _rule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    try:
        existing = spark.conf.get("spark.sql.optimizer.excludedRules")
    except Exception:
        existing = None
    rules = [r.strip() for r in (existing or "").split(",") if r.strip()]
    if _rule not in rules:
        rules.append(_rule)
    spark.conf.set("spark.sql.optimizer.excludedRules", ",".join(rules))
    return spark
