"""Streaming window operators over event streams.

The reference has no stream algebra (SURVEY §2.9 T7/T8: ordering
disabled, commutative loads) — these are the Spark-native extensions a
100 TB ingest pipeline needs:

* :func:`windowed_counts` — watermarked tumbling/sliding event-time
  aggregation.  The watermark bounds state: windows older than the
  lateness budget are finalized and evicted, so state size is
  O(active windows × keys), independent of stream length.
* :func:`sessionize_stateful` — TRUE sessionization as a custom
  stateful operator via ``applyInPandasWithState``: per-key sessions
  close after a gap timeout.  This is the (c)-tier custom-operator
  escape hatch — used here because batch ``window``/``session_window``
  cannot emit *incremental* per-session results with arbitrary
  session-local logic.

Both run identically under ``readStream`` (incremental) and ``read``
(one-shot backfill over the same files) — the Structured Streaming
unification that replaces the reference's separate archive/load paths.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kcidb_spark.ship import ensure_package_shipped


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Watermarked windowed counts + exact value sums per key.

    Works on both a streaming and a batch events DataFrame (the
    watermark is a no-op in batch).  Output: window start/end, key,
    count, sum_value (scaled-integer-exact, associative → safe under
    any partial-agg order).
    """
    win = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(win.alias("w"), key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


#: Output schema of the stateful sessionizer.
SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events int, event_types array<string>"
)

_STATE_SCHEMA = "start long, last long, n int, types array<string>"


def _make_session_fn(gap_us: int, timeout_ms: int):
    """Build the per-key session accumulator as a CLOSURE over its
    knobs: closures pickle by value, so executors see the caller's
    gap/timeout (module globals would re-import with defaults)."""

    def session_fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        def emit(sessions: list[tuple]) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "user_id": [key[0]] * len(sessions),
                    "session_start": [pd.Timestamp(c[0], unit="us") for c in sessions],
                    "session_end": [pd.Timestamp(c[1], unit="us") for c in sessions],
                    "n_events": [c[2] for c in sessions],
                    "event_types": [sorted(set(c[3])) for c in sessions],
                }
            )

        if state.hasTimedOut:
            start, last, n, types = state.get
            state.remove()
            yield emit([(start, last, n, types)])
            return

        rows = pd.concat(list(pdfs)).sort_values("ts")
        ts_us = (rows["ts"].astype("int64") // 1000).tolist()  # ns -> us
        kinds = rows["event_type"].tolist()

        if state.exists:
            start, last, n, types = state.get
        else:
            start, last, n, types = ts_us[0], ts_us[0], 0, []

        closed: list[tuple] = []
        for t, k in zip(ts_us, kinds):
            if t - last > gap_us:
                closed.append((start, last, n, types))
                start, last, n, types = t, t, 0, []
            last = max(last, t)
            n += 1
            types = list(types) + [k]

        state.update((start, last, n, types))
        state.setTimeoutDuration(timeout_ms)  # close idle sessions

        if closed:
            yield emit(closed)

    return session_fn


def sessionize_stateful(
    events: DataFrame,
    gap_minutes: int = 30,
    timeout_ms: int = 60_000,
) -> DataFrame:
    """Custom stateful sessionization (gap-based) over a streaming
    events DataFrame — ``applyInPandasWithState`` keyed by user.

    State shuffles once on user_id; each micro-batch's rows reach
    their key's state partition, Arrow-batched; per-key state is one
    open-session tuple.  At 1000 executors the state store scales
    horizontally with keys.  Sessions close when a new event arrives
    more than ``gap_minutes`` after the last one, or when the key goes
    idle for ``timeout_ms`` of processing time.

    Drain a bounded input with ``trigger(once=True)``, not
    ``availableNow``: under a processing-time timeout an
    ``availableNow`` query keeps scheduling no-data batches (to fire
    the timeouts) and never terminates.
    """
    ensure_package_shipped(events.sparkSession)
    return events.groupBy("user_id").applyInPandasWithState(
        _make_session_fn(gap_minutes * 60 * 1_000_000, timeout_ms),
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
