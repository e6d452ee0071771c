"""Sinks: idempotent merge-upsert (the reference's unordered bulk
UpdateOne/$set writes — /root/reference/worker.py:87-94,124,
tfidf-calculator/enter_wordvecs.py:40-53 — as a keyed MERGE).

Parquet has no transactional MERGE, so this emulates Delta's
``MERGE INTO t USING u ON keys WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT``
with Delta-like mechanics and Delta-like cost:

* **Bucket pruning** — the table is hash-bucketed on the merge keys
  (``pmod(hash(keys), n_buckets)``, stable across sessions), and a merge
  rewrites ONLY the buckets holding batch keys. Cost is O(touched buckets),
  not O(table); how many a batch touches depends on how its keys hash (a
  whole-key hash spreads one post's ``(doc_id, dim)`` rows over every
  bucket).
* **Buckets sized to the data** — the bucket count is derived, not
  configured: ``max(n, next_pow2(ceil(stored_bytes / TARGET_BUCKET_BYTES)))``
  with the 128 MiB target of Spark's ``maxPartitionBytes``, so one bucket
  is one scan split. The manifest records each bucket's parquet bytes at
  commit, so sizing lists nothing. A new table starts with one bucket
  (or the caller's floor); when the count grows, that merge re-buckets
  every stored bucket under the same manifest commit, and it never
  shrinks. Below the target every file, task and listing a bucket costs
  is fixed cost per merge, not rows (Delta compacts toward a target file
  size for the same reason).
* **Staged first** — one job writes the incoming batch (upserts, or CDC
  changes with their op column) into ``_staging_<v>``, partitioned by
  ``_bucket``; that is the only pass over the caller's plan, so nothing is
  persisted. The touched buckets are the ``_bucket=`` directories that
  write produced — a directory listing, not a probe job (Delta's MERGE
  likewise finds its files from data already written). Last-batch-wins
  moves the staged files into the new bucket version and writes only the
  stored rows they do not replace; the ordered, CDC and add/max/min merges
  write ``current ∪ staged`` through their combiner, then drop the staged
  files.
* **Atomic manifest commit** — ``_MANIFEST.json`` maps bucket id -> current
  versioned directory, records the table schema (so no read of the table
  runs Spark's schema-inference job) and is replaced with ``os.replace``
  (atomic on POSIX) only after every new bucket directory is fully
  written. The live table is never moved or deleted before its replacement
  is committed: a crash at ANY point leaves the manifest pointing at a
  complete previous state, and orphaned version and staging directories
  are swept on the next merge.

On a real deployment the same call site is one ``DeltaTable.merge`` (or
Iceberg MERGE INTO). The contract that matters for streaming is preserved:
**idempotent on keys**, so at-least-once delivery from foreachBatch
converges (ST3 — the reference's flag-overwrite gives the same
at-least-once + idempotent contract). Single-writer, like the reference's
one worker per collection.

Reader contract: **read-latest, re-resolve after a merge.** ``read_merged``
binds the DataFrame to the version directories current at call time, and a
subsequent merge GC's superseded versions eagerly (no retention window,
unlike Delta's VACUUM grace period) — executing a DataFrame obtained
BEFORE a later merge may hit deleted paths. Callers that hold results
across merges must materialize (collect/write) before merging again.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, DataType, IntegerType, MapType, StructField, StructType,
)

MANIFEST = "_MANIFEST.json"
# Spark's default ``spark.sql.files.maxPartitionBytes``: one bucket is one
# scan split.
TARGET_BUCKET_BYTES = 128 * 1024 * 1024


def _manifest_path(target_dir: str) -> str:
    return os.path.join(target_dir, MANIFEST)


def _read_manifest(target_dir: str) -> dict | None:
    p = _manifest_path(target_dir)
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return json.load(f)


def _write_manifest_atomic(target_dir: str, manifest: dict) -> None:
    tmp = _manifest_path(target_dir) + f".tmp_{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, _manifest_path(target_dir))  # atomic commit point


def _sweep_orphans(target_dir: str, manifest: dict | None) -> None:
    """Remove version directories (and stale manifest temps) not referenced
    by the committed manifest — leftovers of a crash before commit."""
    live = set((manifest or {}).get("buckets", {}).values())
    for entry in os.listdir(target_dir):
        full = os.path.join(target_dir, entry)
        if entry == MANIFEST:
            continue
        if os.path.isfile(full) and entry.startswith(MANIFEST + ".tmp_"):
            os.remove(full)
        elif os.path.isdir(full) and entry not in live:
            shutil.rmtree(full, ignore_errors=True)


def _bucket_col(keys: list[str], n_buckets: int) -> F.Column:
    # Murmur3 with Spark's fixed seed: deterministic across sessions/runs.
    return F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))


def _bucket_count(manifest: dict | None, floor: int | None) -> int:
    """The table's bucket count for this merge: ``floor`` (else 1) on a
    first write; after that the stored count, grown to the next power of
    two that holds the stored bytes at ``TARGET_BUCKET_BYTES`` each."""
    if manifest is None:
        return floor or 1
    need = -(-sum(manifest["bytes"].values()) // TARGET_BUCKET_BYTES)
    return max(manifest["n_buckets"], 1 << max(need - 1, 0).bit_length())


def _parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _bucket_dirs(root: str) -> dict[str, str]:
    """Bucket id -> ``_bucket=<id>`` directory of a partitioned write."""
    return {
        e.split("=", 1)[1]: os.path.join(root, e)
        for e in os.listdir(root)
        if e.startswith("_bucket=")
    }


def _table_schema(
    manifest: dict | None, batch: DataFrame, op_col: str | None = None
) -> StructType:
    """The table's schema: recorded in the manifest by the first write, so
    no read of the table runs Spark's schema-inference job; before that,
    the batch's stored columns. Every level is nullable, as a parquet read
    makes it, so any later batch of the same types casts to it."""
    if manifest is not None and "schema" in manifest:
        return StructType.fromJson(manifest["schema"])
    return _nullable(StructType([f for f in batch.schema if f.name != op_col]))


def _nullable(t: DataType) -> DataType:
    if isinstance(t, StructType):
        return StructType([
            StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t
        ])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def read_merged(spark: SparkSession, target_dir: str) -> DataFrame | None:
    """Read the current committed state of a merge target (None if empty)."""
    manifest = _read_manifest(target_dir)
    if manifest is None or not manifest["buckets"]:
        return None
    paths = [os.path.join(target_dir, d) for d in manifest["buckets"].values()]
    reader = spark.read
    if "schema" in manifest:
        reader = reader.schema(StructType.fromJson(manifest["schema"]))
    return reader.parquet(*paths)


def merge_upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    target_dir: str,
    keys: list[str],
    n_buckets: int | None = None,
    order_col: str | None = None,
) -> None:
    """Upsert ``updates`` into the bucketed parquet table at ``target_dir``
    keyed on ``keys``: matched rows are replaced, new rows inserted. Updates
    must be unique per key (caller aggregates first), mirroring the per-_id
    $set. ``n_buckets`` is a floor for the first write; after that the
    bucket count follows the stored bytes (module docstring).

    With ``order_col`` set (a monotone per-key version/sequence column,
    stored in the table), the merge is ORDERED: an incoming row wins only
    if its order_col is >= the stored row's — equal orders break on the
    remaining columns name-sorted desc, the same deterministic rule as
    streaming compaction. This makes the sink convergent under
    out-of-order CROSS-batch delivery (a replayed old batch can no longer
    clobber newer state), the missing half of the at-least-once story —
    in-batch ordering is the caller's compaction, cross-batch ordering is
    this merge condition. It is Delta's
    ``WHEN MATCHED AND s.seq >= t.seq THEN UPDATE`` in the same bucketed
    mechanics.
    """
    _merge_parquet(spark, updates, target_dir, keys, n_buckets, order_col=order_col)


def apply_cdc_parquet(
    spark: SparkSession,
    changes: DataFrame,
    target_dir: str,
    keys: list[str],
    op_col: str = "_op",
    n_buckets: int | None = None,
) -> None:
    """Apply a CDC batch (``op_col`` = 'I' insert / 'U' update / 'D'
    delete) to the bucketed table — the full
    ``MERGE ... WHEN MATCHED [AND cond] DELETE / UPDATE / WHEN NOT MATCHED
    INSERT`` shape a changelog consumer needs, with the same O(touched
    buckets) cost and atomic manifest commit as the upsert path.

    Idempotent on keys like the upsert: re-applying a delivered batch
    converges (delete of an absent key is a no-op, upserts replace).
    Changes must be unique per key (caller compacts the changelog to
    last-op-per-key first — standard CDC compaction).
    """
    _merge_parquet(spark, changes, target_dir, keys, n_buckets, op_col=op_col)


APPLIED_LEDGER_CAP = 64


def merge_add_parquet(
    spark: SparkSession,
    deltas: DataFrame,
    target_dir: str,
    keys: list[str],
    n_buckets: int | None = None,
    batch_id: int | None = None,
) -> None:
    """ADDITIVE merge: matched rows SUM every non-key column with the
    incoming delta; unmatched deltas insert. The maintenance primitive for
    incremental aggregates (word counts, doc counts, per-key totals) —
    the reference's full-corpus IDF recount (calculate_idf_scores.py:52-66)
    becomes a per-batch delta merge at O(touched buckets).

    Addition is NOT naturally idempotent, so exactly-once comes from a
    BATCH-ID LEDGER in the manifest (Delta's txn appId/version pattern):
    pass foreachBatch's ``batch_id`` and a replayed batch is skipped
    before any read or write. The ledger keeps the last
    {APPLIED_LEDGER_CAP} ids — far beyond any realistic replay window
    (foreachBatch replays only the LAST uncommitted batch). Deltas must be
    pre-aggregated unique per key (callers groupBy first)."""
    _merge_parquet(
        spark, deltas, target_dir, keys, n_buckets, combine="add", batch_id=batch_id
    )


def merge_max_parquet(
    spark: SparkSession,
    deltas: DataFrame,
    target_dir: str,
    keys: list[str],
    n_buckets: int | None = None,
    batch_id: int | None = None,
) -> None:
    """DOMINANCE merge (r9): matched rows take the MAX of every non-key
    column; unmatched deltas insert. The maintenance primitive for
    max-mergeable sketch state — HLL registers, per-key high-water
    marks, zone-map maxima. Max is idempotent (re-applying a batch is a
    no-op on values), but the batch-id ledger is kept anyway so replay
    semantics are identical across all three sink combiners
    (replace/add/max). Deltas must be pre-aggregated unique per key."""
    _merge_parquet(
        spark, deltas, target_dir, keys, n_buckets, combine="max", batch_id=batch_id
    )


def merge_min_parquet(
    spark: SparkSession,
    deltas: DataFrame,
    target_dir: str,
    keys: list[str],
    n_buckets: int | None = None,
    batch_id: int | None = None,
) -> None:
    """DOMINANCE merge, MIN direction (r10): matched rows take the MIN
    of every non-key column; unmatched deltas insert. The maintenance
    primitive for first-occurrence state — KMV bottom hashes, zone-map
    minima, and the novelty monitor's (gram, first_doc) table, where
    min(doc_id) pins ingestion order without any sequential scan. Min
    is idempotent; the batch-id ledger is kept for uniform replay
    semantics across all four sink combiners (replace/add/max/min).
    Deltas must be pre-aggregated unique per key."""
    _merge_parquet(
        spark, deltas, target_dir, keys, n_buckets, combine="min", batch_id=batch_id
    )


def _merge_parquet(
    spark: SparkSession,
    batch: DataFrame,
    target_dir: str,
    keys: list[str],
    n_buckets: int | None,
    order_col: str | None = None,
    combine: str = "replace",
    batch_id: int | None = None,
    op_col: str | None = None,
) -> None:
    os.makedirs(target_dir, exist_ok=True)
    manifest = _read_manifest(target_dir)
    if (
        batch_id is not None
        and manifest is not None
        and batch_id in manifest.get("applied", [])
    ):
        return  # replayed batch: the ledger says it is already applied
    _sweep_orphans(target_dir, manifest)
    n_buckets = _bucket_count(manifest, n_buckets)
    old_buckets: dict[str, str] = (manifest or {"buckets": {}})["buckets"]
    schema = _table_schema(manifest, batch, op_col)
    staged_fields = list(schema.fields)
    if op_col is not None:
        staged_fields.append(batch.schema[op_col])
    staged_fields.append(StructField("_bucket", IntegerType()))

    # The one pass over the caller's plan: the batch, in the table's
    # column order and types, written bucketed into the staging directory.
    version = uuid.uuid4().hex[:8]
    staging = os.path.join(target_dir, f"_staging_{version}")
    batch.select(
        *[F.col(f.name).cast(f.dataType) for f in staged_fields[:-1]],
        _bucket_col(keys, n_buckets).alias("_bucket"),
    ).write.partitionBy("_bucket").parquet(staging)
    staged_buckets = _bucket_dirs(staging)
    if manifest is not None and not staged_buckets:
        n_buckets = manifest["n_buckets"]  # an empty batch re-buckets nothing
    # A grown bucket count re-buckets every stored bucket in this merge.
    regrow = manifest is not None and n_buckets != manifest["n_buckets"]
    touched = [b for b in old_buckets if regrow or b in staged_buckets]
    staged_reader = spark.read.schema(StructType(staged_fields)).option(
        "basePath", staging  # the bucket dirs' names give back ``_bucket``
    )
    current = None
    if touched:  # schema from the manifest: no inference job
        current = spark.read.schema(schema).parquet(
            *[os.path.join(target_dir, old_buckets[b]) for b in touched]
        ).withColumn("_bucket", _bucket_col(keys, n_buckets))

    out = os.path.join(staging, "_out")
    combining = combine != "replace" or order_col is not None
    if (op_col is not None and staged_buckets) or (touched and combining):
        # CDC, ordered and combining merges: current ∪ staged through the
        # combiner, one job; the staged files are then dropped.
        staged = staged_reader.parquet(*staged_buckets.values())
        _combined(current, staged, keys, schema, order_col, combine, op_col) \
            .write.partitionBy("_bucket").parquet(out)
        new_dirs = _bucket_dirs(out)
    else:
        # Last batch wins: the staged files ARE the incoming rows of each
        # bucket; only the stored rows they do not replace are written.
        new_dirs = dict(staged_buckets)
        if touched:
            replaced = staged_reader.parquet(*staged_buckets.values())
            current.join(replaced.select(*keys), keys, "left_anti") \
                .write.partitionBy("_bucket").parquet(out)
            for b, src in _bucket_dirs(out).items():
                if b not in new_dirs:  # re-bucketed stored rows alone
                    new_dirs[b] = src
                    continue
                for f in os.listdir(src):
                    os.rename(os.path.join(src, f), os.path.join(new_dirs[b], f))

    # Buckets the batch staged are rewritten (all of them when re-bucketing);
    # a touched bucket with no output was emptied by deletes, so its stale
    # version goes.
    kept = {} if regrow else {
        b: d for b, d in old_buckets.items() if b not in staged_buckets
    }
    new_buckets = dict(kept)
    new_bytes = {b: manifest["bytes"][b] for b in kept}
    for b, src in new_dirs.items():
        new_buckets[b] = f"b{b}_v{version}"
        dst = os.path.join(target_dir, new_buckets[b])
        os.rename(src, dst)
        new_bytes[b] = _parquet_bytes(dst)
    shutil.rmtree(staging, ignore_errors=True)

    new_manifest = {
        "n_buckets": n_buckets, "keys": list(keys),
        "schema": schema.jsonValue(), "buckets": new_buckets, "bytes": new_bytes,
    }
    if batch_id is not None or (manifest or {}).get("applied"):
        applied = list((manifest or {}).get("applied", []))
        if batch_id is not None:
            applied.append(batch_id)
        new_manifest["applied"] = applied[-APPLIED_LEDGER_CAP:]
    _write_manifest_atomic(target_dir, new_manifest)  # <- the only commit point
    # Old versions of rewritten buckets are now unreachable; GC best-effort.
    _sweep_orphans(target_dir, new_manifest)


def _combined(current, staged, keys, schema, order_col, combine, op_col):
    """One row per key of ``current`` ∪ ``staged`` (both carrying
    ``_bucket``), in the table schema: CDC keeps stored rows the batch does
    not touch plus its non-delete rows; add/max/min SUM/MAX/MIN every value
    column; the ordered merge keeps the row with the greater ``order_col``
    (ties: remaining columns name-sorted desc, nulls last — deterministic
    replay)."""
    if op_col is not None:
        rows = staged.where(F.col(op_col) != "D").drop(op_col)
        if current is None:
            return rows
        return current.join(staged.select(*keys), keys, "left_anti").unionByName(rows)
    both = current.unionByName(staged)
    if combine != "replace":
        comb = {"add": F.sum, "max": F.max, "min": F.min}[combine]
        return both.groupBy(*keys, "_bucket").agg(*[
            comb(f.name).cast(f.dataType).alias(f.name)
            for f in schema if f.name not in keys
        ])
    from pyspark.sql.window import Window

    tiebreak = [
        F.col(c).desc_nulls_last()
        for c in sorted(both.columns)
        if c not in keys and c not in (order_col, "_bucket")
    ]
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc_nulls_last(), *tiebreak
    )
    return both.withColumn("_rn", F.row_number().over(w)).where("_rn = 1").drop("_rn")
