"""Stream-stream interval join (SURVEY §2.10 streaming extension).

The reference correlates realtime events against recent history with
per-row store lookups (pac_snowflake_realtime.py polling loop); the
Structured Streaming expression is a watermarked stream-stream inner
join: both sides buffer rows in the state store only as long as the
watermark says a match could still arrive, so state is bounded by
(watermark window × arrival rate), not by stream length.

Scale notes: the join keys on user_id plus a time-range predicate —
Spark co-partitions both sides on the equality key, and the range
condition bounds state eviction. Without BOTH watermarks and a
range on the event-time columns, state grows without bound; this
module always sets them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pac_data_pipeline_spark.streaming.windows import _drain, events_stream


def run_streaming_interval_join(
    spark: SparkSession,
    sf_dir: str,
    window_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Clicks joined to the same user's purchases from the preceding
    ``window_minutes`` — a watermarked stream-stream inner join.

    On bounded input the emitted set is exactly the batch
    time-range join (the oracle), because inner-join results are
    emitted as soon as both rows are buffered and the drain runs
    the input to completion; the watermark only governs state
    EVICTION, never correctness of emitted matches."""

    def _side(event_type: str, prefix: str) -> DataFrame:
        raw = events_stream(spark, sf_dir)
        return (
            raw
            .filter(
                F.col("ts").isNotNull()
                & F.col("user_id").isNotNull()
                & (F.col("event_type") == event_type)
            )
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", watermark)
        )

    clicks = _side("click", "click")
    purchases = _side("purchase", "purchase")
    joined = clicks.join(
        purchases,
        F.expr(
            f"""
            click_user = purchase_user
            AND click_ts >= purchase_ts
            AND click_ts <= purchase_ts + INTERVAL {window_minutes} MINUTES
            """
        ),
        "inner",
    ).select(
        "click_id",
        "purchase_id",
        F.col("click_user").alias("user_id"),
        F.date_format("click_ts", "yyyy-MM-dd'T'HH:mm:ss").alias("click_ts"),
        F.date_format("purchase_ts", "yyyy-MM-dd'T'HH:mm:ss").alias(
            "purchase_ts"
        ),
    )
    return _drain(joined, "append", "stream_interval_join")


def run_streaming_enrich(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """Stream-static enrichment: the event stream joined to the
    customer dimension (static DataFrame) — Spark re-plans the
    static side per micro-batch, and a dimension-sized side stays a
    BROADCAST join, so enrichment adds zero streaming state and zero
    stream-side shuffle. This is the canonical 'decorate events with
    dimension attributes' stage of a CDC/ingestion pipeline; the
    rollup after it is the only stateful operator."""
    from pac_data_pipeline_spark.sources.readers import scan_parquet

    events = events_stream(spark, sf_dir)
    dim = F.broadcast(
        scan_parquet(spark, f"{sf_dir}/customer.parquet").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
    )
    enriched = events.filter(F.col("user_id").isNotNull()).join(
        dim, "user_id"
    )
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return _drain(agg, "complete", "stream_enrich")
