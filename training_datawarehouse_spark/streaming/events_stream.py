"""Structured Streaming ingest of the events stream.

The reference has no streaming story — its "incremental" mode is a full
batch re-run (SURVEY §2.2). Here the events table doubles as a stream:
``readStream`` over a parquet directory, event-time watermark, tumbling
window aggregation — the standard late-data-tolerant shape. The batch
query ``tumbling_window`` in plans/relational.py computes the identical
result with the same ``F.window`` expression, which is how the streaming
semantics get an oracle (stream/batch parity is a Structured Streaming
guarantee for append-mode windowed aggregation) — and the registry's
``op_stream_e2e`` entry runs the REAL availableNow micro-batch drain
under the driver's differential gate.

At scale: the watermark bounds state (old windows are evicted once the
watermark passes), and the pre-shuffle partial aggregation keeps the
state store keyed by (window, event_type) only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def event_schema(ts_type: T.DataType | None = None) -> T.StructType:
    """Explicit schema — streaming sources never infer. ``ts`` may be
    INT64 TIMESTAMP(NANOS) (read as long via the nanosAsLong legacy
    flag) or a plain micro-precision timestamp, depending on how the
    upstream writer encoded it; callers pass the detected type."""
    return T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", ts_type or T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])


def stream_events(spark: SparkSession, path: str) -> DataFrame:
    """Stream the events directory with the same ts-unit tolerance as
    the batch loader (sources/tables.py): probe ONE parquet footer on
    the driver to learn whether ``ts`` is nanos-as-int64 or a native
    micro timestamp, then fix the streaming schema accordingly. The
    probe is a footer read at stream start, not a data scan."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probed = spark.read.parquet(path).schema["ts"].dataType
    raw = (
        spark.readStream.schema(event_schema(probed))
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    if isinstance(probed, T.LongType):  # ns since epoch
        return raw.withColumn(
            "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))")
        )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_counts(events: DataFrame) -> DataFrame:
    """6-hour tumbling-window counts + sums per event_type with a
    1-day watermark."""
    return (
        events.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )
