"""Unit tests for the stateful streaming sessionizer's state
machine, driven directly (no Spark): multi-micro-batch carry-over is
the path a single-batch oracle run never exercises."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from pac_data_pipeline_spark.streaming.stateful import make_sessionizer

MIN_US = 60 * 1_000_000


class FakeState:
    """Minimal stand-in for pyspark GroupState."""

    def __init__(self):
        self._value = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, value):
        self._value = value


def _batch(rows):
    return pd.DataFrame(
        {
            "user_id": [1] * len(rows),
            "event_id": list(range(len(rows))),
            "ts": pd.to_datetime([t for t, _ in rows], unit="m", utc=False),
            "value": [v for _, v in rows],
        }
    )


def _run(fn, state, rows, emit=True):
    out = list(fn((1,), iter([_batch(rows)]), state))
    return pd.concat(out, ignore_index=True) if out else pd.DataFrame()


def test_single_batch_multiple_sessions():
    fn = make_sessionizer(gap_minutes=30)
    state = FakeState()
    # minutes: 0,10 | 60,70,75 | 200  (gaps 50 and 125 close sessions)
    out = _run(fn, state, [(0, 1.0), (10, 2.0), (60, 4.0), (70, 8.0), (75, 16.0), (200, 32.0)])
    closed = out[out.closed]
    assert list(closed.n_events) == [2, 3]
    assert list(closed.session_value) == [3.0, 28.0]
    open_ = out[~out.closed]
    assert list(open_.n_events) == [1]
    assert list(open_.session_value) == [32.0]
    # state carries the open session
    next_sid, start, last, n, val, nnz = state.get
    assert (next_sid, n, val) == (2, 1, 32.0)
    assert start == last == 200 * MIN_US


def test_continuation_across_batches():
    fn = make_sessionizer(gap_minutes=30)
    state = FakeState()
    _run(fn, state, [(0, 1.0), (10, 2.0)])
    # next batch continues within the gap (25 min after event at 10)
    out = _run(fn, state, [(35, 4.0), (45, 8.0)])
    open_ = out[~out.closed]
    assert list(open_.n_events) == [4]  # 2 carried + 2 new
    assert list(open_.session_value) == [15.0]
    assert list(open_.session_id) == [0]
    # a later batch past the gap closes it and opens session 1
    out = _run(fn, state, [(200, 16.0)])
    closed = out[out.closed]
    assert list(closed.n_events) == [4]
    assert list(closed.session_id) == [0]
    assert list(out[~out.closed].session_id) == [1]


def test_break_exactly_at_gap_boundary_continues():
    fn = make_sessionizer(gap_minutes=30)
    state = FakeState()
    _run(fn, state, [(0, 1.0)])
    # exactly 30 min later: gap is NOT > 30 min → same session
    out = _run(fn, state, [(30, 2.0)])
    assert list(out[~out.closed].n_events) == [2]


def test_batch_with_continuation_then_breaks():
    fn = make_sessionizer(gap_minutes=30)
    state = FakeState()
    _run(fn, state, [(0, 1.0)])
    # batch: 10 (continues) | 100, 105 | 300
    out = _run(fn, state, [(10, 2.0), (100, 4.0), (105, 8.0), (300, 16.0)])
    closed = out[out.closed]
    assert list(closed.n_events) == [2, 2]
    assert list(closed.session_value) == [3.0, 12.0]
    assert list(closed.session_id) == [0, 1]
    assert list(out[~out.closed].n_events) == [1]


def test_empty_state_empty_start():
    fn = make_sessionizer(gap_minutes=30)
    state = FakeState()
    out = _run(fn, state, [(5, 1.0)])
    assert list(out[~out.closed].n_events) == [1]
    assert len(out[out.closed]) == 0


def test_streaming_dedup_checkpoint_recovery(spark, tmp_path):
    """Exactly-once across restart: streaming dropDuplicates with a
    file sink + checkpoint, stopped after wave 1 and RESTARTED for
    wave 2, must emit each key exactly once overall — state and sink
    offsets recover from the checkpoint, so nothing is re-emitted."""
    from pyspark.sql import functions as F

    from pac_data_pipeline_spark.sources.readers import load_events

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    events = load_events(spark, "/root/testdata/sf0.001").select(
        "event_id", "user_id", "event_type"
    )
    events.filter(F.col("event_id") % 2 == 0).write.parquet(src)

    def run_wave():
        stream = (
            spark.readStream.schema(events.schema)
            .parquet(src)
            .select("user_id", "event_type")
            .dropDuplicates(["user_id", "event_type"])
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_wave()
    n_wave1 = spark.read.parquet(out).count()
    events.filter(F.col("event_id") % 2 == 1).write.mode(
        "append"
    ).parquet(src)
    run_wave()  # fresh query object, SAME checkpoint -> recovery

    final = spark.read.parquet(out)
    expected = events.select("user_id", "event_type").distinct()
    assert n_wave1 <= expected.count()
    assert final.count() == expected.count()  # no dupes, no loss
    assert final.distinct().count() == final.count()
    assert (
        final.exceptAll(expected).count() == 0
        and expected.exceptAll(final).count() == 0
    )


def test_watermark_drops_late_rows_in_append_mode(spark, tmp_path):
    """Event-time correctness under lateness: once the watermark has
    passed a window's end, rows for that window arriving later are
    DROPPED — the finalized window's aggregate must not change."""
    import datetime as dt

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    jan1 = dt.datetime(2024, 1, 1, 12, 0, 0)
    feb1 = dt.datetime(2024, 2, 1, 12, 0, 0)
    feb2 = dt.datetime(2024, 2, 2, 12, 0, 0)
    schema = "ts timestamp, user_id long"
    wave1 = spark.createDataFrame(
        [(jan1, i) for i in range(10)] + [(feb1, 99)], schema
    )
    wave1.write.parquet(src)
    stream = (
        spark.readStream.schema(wave1.schema)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", "yyyy-MM-dd").alias("day"), "n")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_drop")
        .start()
    )
    q.processAllAvailable()  # watermark advances past Jan windows
    # wave 2: 5 LATE rows for Jan 1 (beyond watermark) + 1 on-time
    spark.createDataFrame(
        [(jan1, i) for i in range(5)] + [(feb2, 100)], schema
    ).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    out = {r.day: r.n for r in spark.table("late_drop").collect()}
    # Jan 1 was finalized with exactly the on-time 10; late 5 dropped
    assert out.get("2024-01-01") == 10


def test_streaming_ewma_equals_batch_fold(spark):
    """The stateful streaming smoother must emit byte-identical
    values to the batch HOF fold on the bounded corpus — same
    recursion, same per-step floor-round, same drop contract."""
    from pac_data_pipeline_spark.operators.timeseries import ewma_smooth
    from pac_data_pipeline_spark.sources.readers import load_events
    from pac_data_pipeline_spark.streaming.stateful import (
        run_streaming_ewma,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r.user_id, r.event_id): (r.value, r.ewma)
        for r in run_streaming_ewma(spark, sf).collect()
    }
    exp = {
        (r.user_id, r.event_id): (r.value, r.ewma)
        for r in ewma_smooth(
            load_events(spark, sf), "user_id", ("ts", "event_id"), "value"
        ).collect()
    }
    assert got == exp and len(got) > 0


def _file_stream(spark, tmp_path, n):
    src = str(tmp_path / "src")
    spark.range(n).write.parquet(src)
    return spark.readStream.schema("id long").parquet(src)


def test_drain_restores_conf_and_stops_query(spark, tmp_path):
    """The shared memory-sink drain runs on STATE_PARTITIONS, then
    hands back the session's own shuffle-partition setting, leaves no
    active query behind and returns the drained table."""
    from pac_data_pipeline_spark.streaming.windows import (
        STATE_PARTITIONS,
        _drain,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert before != str(STATE_PARTITIONS)
    agg = _file_stream(spark, tmp_path, 20).groupBy(
        (F.col("id") % 3).alias("k")
    ).count()
    out = _drain(agg, "complete", "drain_ok")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert spark.streams.active == []
    assert sorted(map(tuple, out.collect())) == [(0, 7), (1, 7), (2, 6)]


def test_drain_cleans_up_when_the_query_fails(spark, tmp_path):
    """A query that raises mid-drain propagates its error, and the
    drain still stops the query and restores the conf."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from pac_data_pipeline_spark.streaming.windows import _drain

    @F.udf("long")
    def boom(x):
        raise ValueError("drain-boom")

    before = spark.conf.get("spark.sql.shuffle.partitions")
    failing = _file_stream(spark, tmp_path, 5).select(boom("id").alias("id"))
    with pytest.raises(StreamingQueryException, match="drain-boom"):
        _drain(failing, "append", "drain_fail")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert spark.streams.active == []
