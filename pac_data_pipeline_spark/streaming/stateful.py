"""Custom stateful streaming operator: per-user sessionization with
``applyInPandasWithState`` (SURVEY §2.10 streaming extension).

The batch equivalent (windows.sessionize_batch) is a two-window
plan; streaming needs explicit state because sessions span
micro-batches: per user we keep the open session (start, last event
time, running aggregates) in the state store, emit sessions as the
inactivity gap closes them, and carry the still-open session
forward. State size is O(users), not O(events) — the property that
makes this viable on an unbounded stream.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pac_data_pipeline_spark.streaming.windows import _drain, events_stream

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("session_start", T.StringType()),
        T.StructField("session_value", T.DoubleType()),
        T.StructField("closed", T.BooleanType()),
    ]
)

#: (next_session_id, open_start_us, open_last_us, open_n, open_value,
#: open_nonnull) — open_nonnull counts non-null values so an
#: all-null session emits NULL like SQL sum(), not 0.0
STATE_SCHEMA = T.StructType(
    [
        T.StructField("next_session_id", T.LongType()),
        T.StructField("open_start", T.LongType()),
        T.StructField("open_last", T.LongType()),
        T.StructField("open_n", T.LongType()),
        T.StructField("open_value", T.DoubleType()),
        T.StructField("open_nonnull", T.LongType()),
    ]
)


def _iso(us: int) -> str:
    return pd.Timestamp(us, unit="us").strftime("%Y-%m-%dT%H:%M:%S")


def run_streaming_dedup(
    spark: SparkSession,
    sf_dir: str,
    keys: tuple[str, ...] = ("user_id", "event_type"),
) -> DataFrame:
    """Streaming exactly-once dedup: ``dropDuplicates`` on the key
    columns keeps one state entry per distinct key, so each key is
    emitted exactly once across all micro-batches.

    On an unbounded stream pair this with ``withWatermark`` +
    ``dropDuplicatesWithinWatermark`` so state ages out; the bounded
    test keeps full state (distinct keys ≪ events). Output is just
    the key columns — which physical row "arrives first" is
    race-dependent, the key set is not."""
    raw = events_stream(spark, sf_dir)
    deduped = raw.select(*keys).dropDuplicates(list(keys))
    return _drain(deduped, "append", "stream_dedup")


def make_sessionizer(gap_minutes: int = 30, emit_open: bool = True):
    """Build the per-group state function. Events inside a batch are
    sorted by event time; a gap > ``gap_minutes`` closes the open
    session (emitted with closed=true). The trailing open session
    stays in state and, with ``emit_open``, is also emitted with
    closed=false so bounded-input runs surface every session."""
    gap_us = gap_minutes * 60 * 1_000_000

    def sessionize(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        (user_id,) = key
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"], ignore_index=True)
        ts_us = (batch["ts"].astype("int64") // 1000).to_numpy()  # ns → µs
        raw_values = batch["value"].to_numpy(dtype="float64")
        nn_mask = ~np.isnan(raw_values)
        values = np.nan_to_num(raw_values)

        if state.exists:
            next_sid, start, last, n, val, nnz = state.get
        else:
            next_sid, start, last, n, val, nnz = 0, None, None, 0, 0.0, 0

        out_rows = []
        if len(ts_us):
            # vectorized segmentation: O(events) numpy, no Python
            # loop — a micro-batch can carry millions of events for
            # a hot key. Segment 0 continues the open session iff
            # the carried-over last event is within the gap.
            breaks = np.empty(len(ts_us), dtype=bool)
            breaks[0] = start is None or ts_us[0] - last > gap_us
            breaks[1:] = np.diff(ts_us) > gap_us
            seg = np.cumsum(breaks)  # 0 = continuation of open state
            counts = np.bincount(seg)
            sums = np.bincount(seg, weights=values)
            nonnulls = np.bincount(seg, weights=nn_mask.astype("float64"))
            first_idx = np.flatnonzero(breaks)

            def _emit_val(v, k):
                # SQL sum() semantics: no non-null inputs -> NULL
                return round(v, 2) if k > 0 else None

            # fold the continuation segment into the open session
            if seg[0] == 0:
                n += int(counts[0])
                val += float(sums[0])
                nnz += int(nonnulls[0])
                last = int(ts_us[np.flatnonzero(seg == 0)[-1]])
            # close every session that precedes a new segment start
            for idx in first_idx:
                if start is not None:
                    out_rows.append(
                        (user_id, next_sid, n, _iso(start),
                         _emit_val(val, nnz), True)
                    )
                    next_sid += 1
                s = int(seg[idx])
                seg_end = first_idx[s] if s < len(first_idx) else None
                start = int(ts_us[idx])
                n = int(counts[s])
                val = float(sums[s])
                nnz = int(nonnulls[s])
                last = int(ts_us[-1] if seg_end is None else ts_us[seg_end - 1])

        state.update((next_sid, start, last, n, val, nnz))
        if emit_open and start is not None:
            out_rows.append(
                (user_id, next_sid, n, _iso(start),
                 _emit_val(val, nnz), False)
            )
        if out_rows:
            yield pd.DataFrame(
                out_rows,
                columns=[
                    "user_id",
                    "session_id",
                    "n_events",
                    "session_start",
                    "session_value",
                    "closed",
                ],
            )

    return sessionize


def run_streaming_sessions(
    spark: SparkSession,
    sf_dir: str,
    gap_minutes: int = 30,
) -> DataFrame:
    """Drive the stateful sessionizer over the events parquet as a
    stream (single availableNow-style batch in tests; identical
    semantics on a live source with multiple batches). The state
    store runs on ``windows.STATE_PARTITIONS`` partitions."""
    raw = events_stream(spark, sf_dir)
    events = (
        raw
        # null event-time would reach the state fn as NaT and
        # int64-min into a garbage session — drop it like the batch
        # sessionizer and the oracle do
        .filter(F.col("ts").isNotNull())
        .select("user_id", "event_id", "ts", "value")
    )
    sessions = events.groupBy("user_id").applyInPandasWithState(
        make_sessionizer(gap_minutes),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain(sessions, "append", "stream_sessions")


def run_streaming_dedup_within_watermark(
    spark: SparkSession,
    sf_dir: str,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    watermark: str = "2 hours",
) -> DataFrame:
    """Bounded-state streaming dedup: ``dropDuplicatesWithinWatermark``
    ages each key out of the state store once the watermark passes it
    — the production path for unbounded streams, where plain
    ``dropDuplicates`` state grows forever. The guarantee weakens
    accordingly (duplicates separated by more than the watermark can
    re-emit); on the bounded test corpus every duplicate pair is
    inside the watermark, so the emitted key set equals DISTINCT and
    shares the exact oracle."""
    raw = events_stream(spark, sf_dir)
    deduped = (
        raw.filter(F.col("ts").isNotNull())
        .withWatermark("ts", watermark)
        .select(*keys, "ts")
        .dropDuplicatesWithinWatermark(list(keys))
        .select(*keys)
    )
    return _drain(deduped, "append", "stream_dedup_wm")


#: Streaming EWMA schemas — state carries only the last smoothed
#: value per key (O(1) state, never the history).
EWMA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)
EWMA_STATE_SCHEMA = T.StructType(
    [T.StructField("prev", T.DoubleType())]
)


def make_ewma(alpha: float = 0.3, digits: int = 10):
    """Per-key streaming exponential smoother — the stateful twin of
    the batch ``operators/timeseries.ewma_smooth``: identical
    recursion (r_n = α·x_n + (1−α)·r_{n−1}, seeded r_1 = x_1) and
    identical per-step pure-IEEE floor-round, so on a bounded input
    the stream emits byte-identical smoothed values to the batch
    fold AND to the DuckDB recursive-CTE oracle. State is ONE double
    per key (the smoothed tail) — the whole point of streaming EWMA:
    unbounded history, O(1) state.

    The recursion is inherently sequential per key, so the in-batch
    fold is a Python loop over the key's sorted rows — per-key
    volume bounds it, never total stream volume (keys parallelize
    across state partitions)."""
    import math

    scale = float(10**digits)
    one_minus = 1 - alpha

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        batch = pd.concat(list(pdfs), ignore_index=True)
        # same drop contract as the batch operator: NULL value /
        # order keys cannot enter the recursion portably
        batch = batch[
            batch["value"].notna()
            & batch["ts"].notna()
            & batch["event_id"].notna()
        ]
        batch = batch.sort_values(["ts", "event_id"], ignore_index=True)
        prev = state.get[0] if state.exists else None
        out = []
        for eid, v in zip(batch["event_id"], batch["value"]):
            x = float(v)
            prev = (
                x
                if prev is None
                else math.floor((alpha * x + one_minus * prev) * scale + 0.5)
                / scale
            )
            out.append((user_id, int(eid), x, prev))
        state.update((prev,))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "event_id", "value", "ewma"]
            )

    return fold


def run_streaming_ewma(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = 0.3,
) -> DataFrame:
    """Drive the stateful smoother over the events parquet as a
    stream. NULL keys drop before grouping (same contract as the
    batch operator — and a NULL key group would violate the state
    schema); NULL values/timestamps drop inside the fold."""
    raw = events_stream(spark, sf_dir)
    events = raw.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select("user_id", "event_id", "ts", "value")
    smoothed = events.groupBy("user_id").applyInPandasWithState(
        make_ewma(alpha),
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain(smoothed, "append", "stream_ewma")
