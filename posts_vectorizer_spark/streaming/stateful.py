"""Custom stateful streaming operator — applyInPandasWithState (ST-custom).

The reference's worker keeps no cross-batch aggregates (its only state is
the job flag, worker.py:92), but a production ingest pipeline tracks
per-entity running aggregates across micro-batches. This is the Spark shape
for arbitrary user state: ``groupBy(key).applyInPandasWithState`` — state
lives in the checkpointed state store per key, each micro-batch's rows for
a key arrive as Arrow batches, and the operator emits updated rows only for
keys touched in the batch (update semantics).

At 100 TB the state store is the sizing concern: state is partitioned by
key hash across executors (scales horizontally) and should be bounded with
a timeout (GroupStateTimeout) when keys churn; totals here use NoTimeout
because the key space (users) is bounded.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .worker import file_stream


def stateful_user_totals_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    target_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Per-user running (n_events, total_value) maintained in the state
    store across micro-batches; each batch appends its updated totals to the
    parquet sink tagged with the batch id (parquet is append-only, so
    keep-latest-batch-per-user reconstructs the update-mode view —
    :func:`latest_user_totals`)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdf_iter, state):
        # totals accumulate as exact int64 MICROS of the round-6-quantized
        # values (half-away-from-zero, the SQL round rule): the running sum
        # is order-free and replay-exact, and the emitted double equals
        # CAST(sum(CAST(round(value,6) AS DECIMAL(18,6))) AS DOUBLE) — which
        # is what makes this stateful stream oracle-checkable (r4 [Q]).
        import numpy as np

        n, micros = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            v = pdf["value"].to_numpy(dtype=np.float64)
            n += len(v)
            micros += int(
                (np.sign(v) * np.floor(np.abs(v) * 1e6 + 0.5)).sum()
            )
        state.update((n, micros))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [micros / 1e6],
            }
        )

    out = (
        file_stream(spark, source_dir, schema, max_files_per_trigger)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n bigint, micros bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

    def sink(df: DataFrame, batch_id: int) -> None:
        df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            target_dir
        )

    return (
        out.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def latest_user_totals(spark: SparkSession, target_dir: str) -> DataFrame:
    """Reconstruct the update-mode view from the append sink: the row with
    the highest batch_id per user is the current state."""
    from pyspark.sql.window import Window

    sink = spark.read.parquet(target_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("batch_id"))
    return (
        sink.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("user_id", "n_events", "total_value")
    )
