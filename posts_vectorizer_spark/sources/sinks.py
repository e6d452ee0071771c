"""Sinks: idempotent merge-upsert (the reference's unordered bulk
UpdateOne/$set writes — /root/reference/worker.py:87-94,124,
tfidf-calculator/enter_wordvecs.py:40-53 — as a keyed MERGE).

Parquet has no transactional MERGE, so this emulates Delta's
``MERGE INTO t USING u ON keys WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT``
with Delta-like mechanics and Delta-like cost:

* **Bucket pruning** — the table is hash-bucketed on the merge keys
  (``pmod(hash(keys), n_buckets)``, stable across sessions). A merge
  rewrites ONLY the buckets containing update keys, so per-micro-batch cost
  is O(touched buckets), not O(table) — a 1k-row batch against a 100 TB
  table touches ~min(1k, n_buckets) buckets. All touched buckets are merged
  and written in ONE Spark job via ``partitionBy``.
* **Atomic manifest commit** — ``_MANIFEST.json`` maps bucket id -> current
  versioned directory and is replaced with ``os.replace`` (atomic on POSIX)
  only after every new bucket directory is fully written. The live table is
  never moved or deleted before its replacement is committed: a crash at ANY
  point leaves the manifest pointing at a complete previous state, and
  orphaned version directories are swept on the next merge.

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

MANIFEST = "_MANIFEST.json"
DEFAULT_BUCKETS = 16


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


_PROBE_SKIP_BUCKETS = 4


def _skip_probe(combine: str, delete_keys, manifest: dict | None) -> bool:
    """True when the touched-bucket probe job can be skipped: a combining
    merge (add/max/min — untouched keys pass through unchanged, deletes
    don't exist on these paths) over a populated state whose manifest is
    CONFIGURED with at most _PROBE_SKIP_BUCKETS buckets, i.e. a state
    declared constant-size by its bucket-count choice. The gate reads the
    configured count, not the populated one: a large table that so far
    fills only a few buckets still needs the probe to rewrite only the
    buckets a batch touches."""
    return (
        combine in ("add", "max", "min")
        and delete_keys is None
        and manifest is not None
        and bool(manifest.get("buckets"))
        and manifest["n_buckets"] <= _PROBE_SKIP_BUCKETS
    )


def _bucket_col(keys: list[str], n_buckets: int) -> F.Column:
    # Murmur3 with Spark's fixed seed: deterministic across sessions/runs.
    return F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))


def read_merged(spark: SparkSession, target_dir: str) -> DataFrame | None:
    """Read the current committed state of a merge target (None if empty)."""
    manifest = _read_manifest(target_dir)
    if manifest is None or not manifest["buckets"]:
        return None
    paths = [os.path.join(target_dir, d) for d in manifest["buckets"].values()]
    return spark.read.parquet(*paths)


def merge_upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    target_dir: str,
    keys: list[str],
    n_buckets: int = DEFAULT_BUCKETS,
    order_col: str | None = None,
) -> None:
    """Upsert ``updates`` into the bucketed parquet table at ``target_dir``
    keyed on ``keys``: matched rows are replaced, new rows inserted. Updates
    must be unique per key (caller aggregates first), mirroring the per-_id
    $set. ``n_buckets`` applies on first write; existing tables keep theirs.

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
    _merge_parquet(
        spark, updates, None, target_dir, keys, n_buckets, order_col=order_col
    )


def apply_cdc_parquet(
    spark: SparkSession,
    changes: DataFrame,
    target_dir: str,
    keys: list[str],
    op_col: str = "_op",
    n_buckets: int = DEFAULT_BUCKETS,
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
    upserts = changes.where(F.col(op_col) != "D").drop(op_col)
    delete_keys = changes.where(F.col(op_col) == "D").select(*keys)
    _merge_parquet(spark, upserts, delete_keys, target_dir, keys, n_buckets)


APPLIED_LEDGER_CAP = 64


def merge_add_parquet(
    spark: SparkSession,
    deltas: DataFrame,
    target_dir: str,
    keys: list[str],
    n_buckets: int = DEFAULT_BUCKETS,
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
        spark, deltas, None, target_dir, keys, n_buckets,
        combine="add", batch_id=batch_id,
    )


def merge_max_parquet(
    spark: SparkSession,
    deltas: DataFrame,
    target_dir: str,
    keys: list[str],
    n_buckets: int = DEFAULT_BUCKETS,
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
        spark, deltas, None, target_dir, keys, n_buckets,
        combine="max", batch_id=batch_id,
    )


def merge_min_parquet(
    spark: SparkSession,
    deltas: DataFrame,
    target_dir: str,
    keys: list[str],
    n_buckets: int = DEFAULT_BUCKETS,
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
        spark, deltas, None, target_dir, keys, n_buckets,
        combine="min", batch_id=batch_id,
    )


def _merge_parquet(
    spark: SparkSession,
    upserts: DataFrame,
    delete_keys: DataFrame | None,
    target_dir: str,
    keys: list[str],
    n_buckets: int,
    order_col: str | None = None,
    combine: str = "replace",
    batch_id: int | None = None,
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
    if manifest is not None:
        n_buckets = manifest["n_buckets"]
    # The incoming batch is consumed TWICE on the merge path: once by the
    # touched-bucket probe (a collect) and once by the staged write. Without
    # a persist the caller's whole delta subtree (tokenize/hash/aggregate of
    # the micro-batch) re-runs per consumer — the r12 profile showed every
    # drain paying its batch computation twice. Persisted here, released in
    # the finally below; deltas are batch-sized (pre-aggregated per key).
    # When the probe is skipped (constant-size combining state, see
    # _merge_parquet_inner) the delta has ONE consumer and the persist
    # would be pure overhead.
    persisted = (
        upserts
        if manifest and manifest["buckets"]
        and not _skip_probe(combine, delete_keys, manifest)
        else None
    )
    if persisted is not None:
        persisted.persist()
    try:
        _merge_parquet_inner(
            spark, upserts, delete_keys, target_dir, keys, n_buckets,
            manifest, order_col, combine, batch_id,
        )
    finally:
        if persisted is not None:
            persisted.unpersist()


def _merge_parquet_inner(
    spark: SparkSession,
    upserts: DataFrame,
    delete_keys: DataFrame | None,
    target_dir: str,
    keys: list[str],
    n_buckets: int,
    manifest: dict | None,
    order_col: str | None = None,
    combine: str = "replace",
    batch_id: int | None = None,
) -> None:
    bucketed_upserts = upserts.withColumn("_bucket", _bucket_col(keys, n_buckets))
    change_keys = upserts.select(*keys)
    if delete_keys is not None:
        change_keys = change_keys.unionByName(delete_keys)
    bucketed_keys = change_keys.distinct().withColumn(
        "_bucket", _bucket_col(keys, n_buckets)
    )

    old_buckets: dict[str, str] = (manifest or {"buckets": {}})["buckets"]
    if old_buckets:
        if _skip_probe(combine, delete_keys, manifest):
            # Constant-size combining state (<= _PROBE_SKIP_BUCKETS
            # buckets — the CMS-grid / HLL-register class, where the
            # bucket count was CHOSEN to follow a corpus-independent
            # state size): treat every stored bucket as touched instead
            # of running the distinct-collect probe job. The combining
            # merge passes untouched keys through unchanged, so the
            # restaged content is identical; what the probe would have
            # saved is a rewrite bounded by the constant state size,
            # cheaper than the probe's own shuffle job per micro-batch
            # (r13 drain profile). Growing states keep the probe — there
            # O(touched) vs O(table) is the whole point.
            touched = sorted(int(b) for b in old_buckets)
        else:
            # Driver-side action by design: a sink runs at action time,
            # and the touched-bucket set is what makes the rewrite
            # O(batch), not O(table).
            touched = sorted(
                r[0]
                for r in bucketed_keys.select("_bucket").distinct().collect()
            )
        touched_dirs = [
            os.path.join(target_dir, old_buckets[str(b)])
            for b in touched
            if str(b) in old_buckets
        ]
        if touched_dirs:
            current = spark.read.parquet(*touched_dirs)
            if combine in ("add", "max", "min"):
                # combining merge: union current + deltas, SUM (additive
                # state: counters), MAX (dominance state: HLL registers,
                # high-water marks) or MIN (first-occurrence state) every
                # value column per key — unmatched keys pass through any
                # combiner unchanged
                value_cols = [
                    c for c in upserts.columns if c not in keys
                ]
                comb = {"add": F.sum, "max": F.max, "min": F.min}[combine]
                both = current.unionByName(upserts.select(*current.columns))
                merged = (
                    both.groupBy(*keys)
                    .agg(*[comb(c).alias(c) for c in value_cols])
                    .withColumn("_bucket", _bucket_col(keys, n_buckets))
                )
            elif order_col is None:
                # last-batch-wins: incoming rows replace stored rows
                kept = current.join(
                    bucketed_keys.select(*keys), keys, "left_anti"
                ).withColumn("_bucket", _bucket_col(keys, n_buckets))
                merged = kept.unionByName(bucketed_upserts)
            else:
                # ordered merge: for keys present on both sides, the row
                # with the greater order_col wins (ties: remaining columns
                # name-sorted desc, nulls last — deterministic replay).
                # Window over (key) on current ∪ incoming of the touched
                # buckets only — cost still O(touched), not O(table).
                from pyspark.sql.window import Window

                both = current.withColumn(
                    "_bucket", _bucket_col(keys, n_buckets)
                ).unionByName(bucketed_upserts)
                tiebreak = [
                    F.col(c).desc_nulls_last()
                    for c in sorted(both.columns)
                    if c not in keys and c not in (order_col, "_bucket")
                ]
                w = Window.partitionBy(*keys).orderBy(
                    F.col(order_col).desc_nulls_last(), *tiebreak
                )
                merged = (
                    both.withColumn("_rn", F.row_number().over(w))
                    .where(F.col("_rn") == 1)
                    .drop("_rn")
                )
        else:
            merged = bucketed_upserts
    else:
        touched = None  # first write: whatever buckets the changes hash to
        merged = bucketed_upserts

    # One job writes every touched bucket, partition-per-bucket.
    version = uuid.uuid4().hex[:8]
    staging = os.path.join(target_dir, f"_staging_{version}")
    merged.write.mode("overwrite").partitionBy("_bucket").parquet(staging)

    new_buckets = dict(old_buckets)
    staged: set[str] = set()
    for entry in os.listdir(staging):
        if not entry.startswith("_bucket="):
            continue
        b = entry.split("=", 1)[1]
        staged.add(b)
        dest = f"b{b}_v{version}"
        os.rename(os.path.join(staging, entry), os.path.join(target_dir, dest))
        new_buckets[b] = dest
    shutil.rmtree(staging, ignore_errors=True)
    if touched is not None:
        # A touched bucket with no staged output was emptied by deletes —
        # its manifest entry must go, or the stale version stays readable.
        for b in touched:
            if str(b) not in staged:
                new_buckets.pop(str(b), None)

    new_manifest = {"n_buckets": n_buckets, "keys": list(keys), "buckets": new_buckets}
    if batch_id is not None or (manifest or {}).get("applied"):
        applied = list((manifest or {}).get("applied", []))
        if batch_id is not None:
            applied.append(batch_id)
        new_manifest["applied"] = applied[-APPLIED_LEDGER_CAP:]
    _write_manifest_atomic(target_dir, new_manifest)  # <- the only commit point
    # Old versions of rewritten buckets are now unreachable; GC best-effort.
    _sweep_orphans(target_dir, new_manifest)
