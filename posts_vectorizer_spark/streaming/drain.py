"""The one scaffold for the self-contained streaming drains.

A drain query runs a finite stream to its end at plan-build time and reads
the result back from the sink: the reference worker's poll -> vectorize ->
upsert loop run once over a fixed input. Every drain repeats the same
steps, and this module owns them:

- a release-tracked work directory for the sink (or state) and the
  checkpoint (``scratch_dir``): the sink must outlive the returned lazy
  plan, and the caller's ``release_caches()`` sweep is exactly that
  lifetime;
- the process-lifetime source copy, keyed by its content
  (``source_copy``);
- the optional ``state_scoped_partitions`` scope around start .. wait;
- one wait of at most ``TIMEOUT_S``. A stream that does not finish in time
  is stopped and raises; a stream that fails is stopped and its error
  propagates. A drain never returns partial state.

``state_drain`` is the combining-state drain built on these: a forced
two-batch copy of a table, drained through ``worker.merge_stream``, read
back as the merged state. ``merged_or_empty`` reads any drained sink back,
as an empty relation of the drain's schema when no batch wrote state.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.catalog import scratch_dir
from ..sources.sinks import merge_add_parquet, read_merged
from .worker import merge_stream, state_scoped_partitions

TIMEOUT_S = 300

# Source copies already written this process, keyed by content. The
# copy is a pure function of the input table, so best-of-N bench
# iterations and repeated test calls reuse one write: the write is drain
# SETUP, like the testdata parquet itself, not part of the measured
# operator. The stream, its checkpoint and its state stay fresh per call.
# The copies live in UNTRACKED dirs (they must survive release_caches) and
# are reclaimed at interpreter exit.
_SOURCE_COPIES: dict[str, str] = {}


def source_copy(key: str, write) -> str:
    """Return the path of the process-cached source copy for ``key``,
    writing it with ``write(path)`` on first use."""
    path = _SOURCE_COPIES.get(key)
    if path is None:
        path = os.path.join(scratch_dir("pv_src_", tracked=False), "in")
        write(path)
        _SOURCE_COPIES[key] = path
    return path


def halves(df: DataFrame, split_col: str, files_per_half: int = 1):
    """Writer for the forced two-batch source: ``df`` split on
    ``pmod(split_col, 2)`` (a negative key lands in a half too) and
    appended as two halves of ``files_per_half`` files each, so
    ``maxFilesPerTrigger=files_per_half`` drains it in exactly two
    micro-batches.

    Each half is hash-partitioned BY THE SPLIT KEY, never round-robin:
    round-robin spreads one key's rows across all files of a half, so the
    half -> micro-batch alignment would rest on file-mtime ordering (ties
    break arbitrarily on coarse-mtime filesystems). Keyed files confine
    every key to ONE file, making key-disjoint drains (transition pairs)
    exact under ANY file-to-batch grouping; for additive drains the
    placement never mattered."""

    def write(path: str) -> None:
        half = F.pmod(F.col(split_col), F.lit(2))
        for h in (0, 1):
            part = df.where(half == h)
            part = (
                part.coalesce(1)
                if files_per_half == 1
                else part.repartition(files_per_half, F.col(split_col))
            )
            part.write.mode("append").parquet(path)

    return write


def state_drain(
    spark: SparkSession,
    df: DataFrame,
    split_col: str,
    delta,
    keys: list[str],
    files: int = 1,
    merge=merge_add_parquet,
) -> DataFrame:
    """Stream ``df`` in two forced micro-batches (``halves`` on
    ``split_col``, ``files`` per half and per trigger) through
    ``merge_stream(delta, keys, merge)`` and return the merged
    state. The combiners are commutative, so for a delta that composes
    over the split (row-wise statistics over any split; journey
    transitions over a user-disjoint ``split_col``) the state equals
    ``delta`` over the whole of ``df`` — which is how every state drain
    verifies against its batch twin's oracle.

    The source copy is keyed by ``df``'s semantic plan hash (equal for
    equal projections of the same table, distinct across column sets
    and sf_dirs), so drains over the same input share one write.

    When no batch carried rows the sink never materializes state; the
    result is then an empty relation with ``delta(df)``'s schema (plan
    analysis only, no job), and the caller's readout runs over it like
    any other state."""
    source = source_copy(
        f"{df.semanticHash()}:{split_col}:{files}",
        halves(df, split_col, files),
    )
    state_dir = drain(spark, lambda out, ckpt: merge_stream(
        spark, source, df.schema, out, ckpt, delta, keys, merge,
        max_files_per_trigger=files,
    ))
    state = read_merged(spark, state_dir)
    if state is None:  # the schema is analysed only when it is needed
        return spark.createDataFrame([], delta(df).schema)
    return state


def merged_or_empty(spark: SparkSession, target_dir: str, schema) -> DataFrame:
    """The merged sink at ``target_dir``. When no batch carried a row the
    sink holds no state, and the result is an empty relation with
    ``schema`` (a StructType or DDL string), so a drain's readout runs over
    it like any other state."""
    state = read_merged(spark, target_dir)
    if state is None:
        return spark.createDataFrame([], schema)
    return state


def drain(spark: SparkSession, start, scoped: bool = False, until=None) -> str:
    """Run one stream to its end and return its sink directory.

    ``start(out, ckpt)`` starts the query with its sink (or state) under
    ``out`` and its checkpoint at ``ckpt``, both in a fresh release-tracked
    work directory. ``scoped`` wraps start .. wait in
    ``state_scoped_partitions`` (the stateful drains). Without ``until``
    the query must end by itself (an availableNow trigger); with it, the
    drain polls ``until(out)`` and stops the query once it holds (a source
    that never signals its end). Either way the drain waits at most
    ``TIMEOUT_S``: on timeout it stops the query and raises
    ``TimeoutError``; on any error it stops the query and re-raises."""
    work = scratch_dir("pv_drain_")
    out = f"{work}/out"
    with state_scoped_partitions(spark) if scoped else nullcontext():
        q = start(out, f"{work}/ckpt")
        try:
            done = (
                q.awaitTermination(TIMEOUT_S)
                if until is None
                else _poll(q, out, until)
            )
        except BaseException:
            q.stop()
            raise
        if not done:
            q.stop()
            raise TimeoutError(
                f"streaming drain {q.name or q.id} did not finish within"
                f" {TIMEOUT_S}s"
            )
    return out


def _poll(q, out: str, until) -> bool:
    """Wait until ``until(out)`` holds, then stop ``q``; False on
    timeout. A query that ends first re-raises its failure, or raises if
    it ended cleanly without meeting the condition."""
    deadline = time.monotonic() + TIMEOUT_S
    while not until(out):
        if not q.isActive:
            q.awaitTermination()
            raise RuntimeError(
                f"streaming drain {q.name or q.id} ended before its input"
                " was drained"
            )
        if time.monotonic() > deadline:
            return False
        time.sleep(0.2)
    q.stop()
    return True
