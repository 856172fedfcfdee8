"""Structured Streaming surface (SURVEY.md §2.9 — green-field; the
reference has no streaming at all).

The aggregation expressions are shared with the batch queries q30–q32
(queries/events.py): ``F.window`` / ``F.session_window`` assign identical
windows in batch and streaming, so the batch DuckDB oracle checks the same
semantics the live stream computes per micro-batch. Watermarks bound state:
an aggregation over event-time windows keeps only windows newer than
``max(event_time) - watermark``, which is what makes these operators run
indefinitely at scale (state size ∝ active windows × keys, not history).

Sinks: ``start_memory_sink`` (tests/demos) — production sinks are the
ordinary ``writeStream.format("parquet"|"kafka"|...)`` with checkpointing;
nothing engine-specific is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-based event stream with an explicit schema (streaming sources
    must not infer). ``maxFilesPerTrigger`` paces micro-batches."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .format(fmt)
        .load(path)
    )


def tumbling_counts_stream(
    events: DataFrame,
    size: str = "1 hour",
    watermark: str = "2 hours",
    exact_scale: int | None = None,
) -> DataFrame:
    """q30's aggregation as a stream: per-window/event-type counts+sums.

    ``exact_scale`` switches the value sum to the dsum quantization
    (floor(x·10^k) → exact long sum → double): order-independent, so the
    emitted rows hash-match a batch/DuckDB recompute regardless of
    micro-batch arrival order — what q201's oracle check needs."""
    if exact_scale is not None:
        q = float(10 ** exact_scale)
        total = (
            F.sum(F.floor(F.col("value") * F.lit(q)).cast("long")).cast("double")
            / F.lit(q)
        ).alias("total_value")
    else:
        total = F.sum("value").alias("total_value")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            total,
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionized_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    exact_scale: int | None = None,
) -> DataFrame:
    """q32's session windows as a stream (merging session state per user).

    ``exact_scale`` switches the value sum to the dsum quantization (same
    contract as ``tumbling_counts_stream``): exact long accumulation, so
    emitted sessions hash-match a batch recompute no matter how many
    micro-batches (or late-admitted rows) contributed to a session."""
    if exact_scale is not None:
        q = float(10 ** exact_scale)
        total = (
            F.sum(F.floor(F.col("value") * F.lit(q)).cast("long")).cast("double")
            / F.lit(q)
        ).alias("total_value")
    else:
        total = F.sum("value").alias("total_value")
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count("*").alias("n_events"), total)
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    left_type: str = "purchase",
    right_type: str = "click",
    lookback: str = "1 hour",
    watermark: str = "30 days",
) -> DataFrame:
    """Stream–stream inner join: each left event matched to right events of
    the same user within the trailing ``lookback``. Watermarks on BOTH
    sides plus the time-range join condition bound the buffered state —
    Spark evicts right rows older than (left watermark − lookback), which
    is what lets two unbounded streams join forever."""
    l = (
        left.filter(F.col("event_type") == left_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("l_id"),
            F.col("ts").alias("l_ts"),
        )
    )
    r = (
        right.filter(F.col("event_type") == right_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("r_id"),
            F.col("ts").alias("r_ts"),
        )
    )
    return l.join(
        r,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("r_ts") < F.col("l_ts")),
    )


def dedup_stream(events: DataFrame, keys: list[str] | None = None, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same key within the
    watermark horizon (``dropDuplicatesWithinWatermark`` — state holds one
    entry per key and expires past the watermark, so it runs indefinitely;
    plain dropDuplicates on a stream would grow state forever)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def start_memory_sink(df: DataFrame, name: str, output_mode: str = "append"):
    """Run the stream into an in-memory table (query result readable as
    ``spark.table(name)``); caller awaits/stops the returned query."""
    return (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )


def enriched_counts_stream(
    events: DataFrame,
    dim: DataFrame,
    size: str = "1 hour",
    watermark: str = "2 hours",
    exact_scale: int | None = None,
) -> DataFrame:
    """q255's stream-STATIC enrichment as a live stream: each micro-batch
    broadcast-joins the static dimension (user_id -> segment) before the
    windowed aggregation. The static side needs no watermark, and Spark
    re-resolves the broadcast per micro-batch — a refreshed dimension
    snapshot propagates mid-stream, which is the production behavior a
    slowly-changing dimension wants. ``exact_scale`` switches to the
    dsum quantization (order-independent sums) exactly as
    ``tumbling_counts_stream`` does for q201's oracle contract."""
    from pyspark.sql import functions as F

    if exact_scale is not None:
        q = float(10 ** exact_scale)
        total = (
            F.sum(F.floor(F.col("value") * F.lit(q)).cast("long")).cast("double")
            / F.lit(q)
        ).alias("total_value")
    else:
        total = F.sum("value").alias("total_value")
    return (
        events.withWatermark("ts", watermark)
        .join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", size), "segment")
        .agg(F.count("*").alias("n_events"), total)
        .select(
            F.col("window.start").alias("window_start"),
            "segment",
            "n_events",
            "total_value",
        )
    )
