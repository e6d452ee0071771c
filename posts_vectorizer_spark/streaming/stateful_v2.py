"""Timer-driven stateful operator on the Spark 4 transformWithState API
(`pyspark.sql.streaming.StatefulProcessor`) — the v2 successor of
applyInPandasWithState (streaming/stateful.py) adding typed state slots
and EVENT-TIME TIMERS, which v1 cannot express (v1 timeouts are
per-batch, not per-key event-time alarms).

ENV-GATED: transformWithState's state-server protocol requires
`google.protobuf`, which is not installed in this container (verified:
the driver worker crashes in StateMessage_pb2 on import). Like the spaCy
/ PIL / real-HTTP gates (operators/fidelity.py, multimodal.py,
http_enrich.py), the operator raises a clear error here and runs where
protobuf exists; tests/test_stateful_v2.py pins the pure-Python
processor logic (which needs no cluster) and importorskips the
end-to-end drain.

Semantics: streaming burst debounce, mirroring the BATCH
events_debounce_bursts contract (plans/queries_timeseries.py) —
a burst ends after `gap` of inactivity (strictly greater than gap, the
session_window boundary rule); the operator keeps the burst's FIRST
event by (ts, event_id) and counts the suppressed rest. Bursts closed by
a later event emit inline; each key's final open burst emits when its
event-time TIMER (last event + gap) passes the watermark — exactly the
append-mode horizon `stream_tumbling_drain` documents.

Scale: state is one fixed-width tuple per ACTIVE (in-burst) user —
bounded by concurrently active users, never stream length; timers are
one per active user. Both shard by key hash across executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

GAP_MS_DEFAULT = 6 * 3600 * 1000

_NS_PER_MS = 1_000_000


def _burst_fold(state, ts_eid_ns: list, gap_ms: int):
    """Pure burst-fold shared by the processor and the unit tests:
    ``state`` is (start_ns, first_eid, last_ns, n) or None; returns
    (new_state, closed_bursts). Strict `> gap` starts a new burst —
    an event at exactly last+gap EXTENDS (session_window rule)."""
    gap_ns = gap_ms * _NS_PER_MS
    closed = []
    for t_ns, eid in sorted(ts_eid_ns):
        if state is None:
            state = (t_ns, eid, t_ns, 1)
        elif t_ns - state[2] > gap_ns:
            closed.append(state)
            state = (t_ns, eid, t_ns, 1)
        else:
            state = (state[0], state[1], t_ns, state[3] + 1)
    return state, closed


def _require_protobuf() -> None:
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:  # pragma: no cover - exercised in-container
        raise NotImplementedError(
            "transformWithState needs the protobuf package for its state "
            "server protocol; not installed in this container (env gate, "
            "same class as the spaCy/PIL gates)"
        ) from e


def make_debounce_processor(gap_ms: int = GAP_MS_DEFAULT):
    """Build the StatefulProcessor (importable only where pyspark's
    stateful v2 deps exist)."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    class DebounceProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self.handle = handle
            self.state = handle.getValueState(
                "burst", "start_ns long, first_eid long, last_ns long, n long"
            )

        def _emit(self, key, st) -> "pd.DataFrame":
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "burst_start": [pd.Timestamp(st[0])],
                    "kept_event_id": [st[1]],
                    "n_suppressed": [st[3] - 1],
                }
            )

        def handleInputRows(self, key, rows, timer_values):
            st = tuple(self.state.get()) if self.state.exists() else None
            events = []
            for pdf in rows:
                events.extend(
                    zip(
                        (int(v) for v in pdf["ts"].astype("int64")),
                        (int(v) for v in pdf["event_id"]),
                    )
                )
            st, closed = _burst_fold(st, events, gap_ms)
            self.state.update(st)
            # one live timer per key: the open burst's close alarm
            for t in self.handle.listTimers():
                self.handle.deleteTimer(t)
            self.handle.registerTimer(st[2] // _NS_PER_MS + gap_ms + 1)
            for c in closed:
                yield self._emit(key, c)

        def handleExpiredTimer(self, key, timer_values, expired_timer_info):
            if self.state.exists():
                yield self._emit(key, tuple(self.state.get()))
                self.state.clear()

        def close(self) -> None:
            pass

    return DebounceProcessor()


def debounce_stream_v2(
    spark: SparkSession,
    source_dir: str,
    schema,
    target_dir: str,
    checkpoint_dir: str,
    gap_ms: int = GAP_MS_DEFAULT,
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
):
    """availableNow drain of the timer-debounce over a parquet-file
    stream; returns the StreamingQuery. Requires protobuf (env gate)."""
    _require_protobuf()
    from .worker import _event_time_ltz, file_stream, start_parquet_sink

    stream = file_stream(spark, source_dir, schema, max_files_per_trigger)
    out = (
        _event_time_ltz(stream, "ts")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=make_debounce_processor(gap_ms),
            outputStructType=(
                "user_id long, burst_start timestamp, "
                "kept_event_id long, n_suppressed long"
            ),
            outputMode="Append",
            timeMode="EventTime",
        )
    )
    return start_parquet_sink(out, target_dir, checkpoint_dir)
