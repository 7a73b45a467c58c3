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

Every micro-batch execution in the package — the ten ``op_stream_e2e``
stages among them — runs through ``drain``: it stages the input files,
owns the memory sink, the timeout and the cleanup, and hands back the
sink table with the per-batch progress.

At scale: the watermark bounds state (old windows are evicted once the
watermark passes), and the pre-shuffle partial aggregation keeps the
state store keyed by (window, event_type) only.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import tempfile
import time
from typing import Callable, Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.tables import read_events

#: seconds a drain may run before it counts as stuck
DRAIN_TIMEOUT_S = 300

_STREAM_SEQ = itertools.count()


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
    the batch loader (``sources.tables.read_events``): probe ONE parquet
    footer on the driver to learn whether ``ts`` is nanos-as-int64 or a
    native micro timestamp, then fix the streaming schema accordingly.
    The probe is a footer read at stream start, not a data scan."""
    def read() -> DataFrame:
        probed = spark.read.parquet(path).schema["ts"].dataType
        return (
            spark.readStream.schema(event_schema(probed))
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )

    return read_events(spark, read)


def stream_documents(spark: SparkSession, path: str) -> DataFrame:
    """Stream the documents directory, one file per micro-batch."""
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def drain(
    spark: SparkSession,
    batches: Sequence[pa.Table],
    query: Callable[[str], DataFrame],
    mode: str,
) -> tuple[DataFrame, list[dict]]:
    """Run ``query`` over ``batches`` as a ``trigger(availableNow)``
    drain into a memory sink — the package's only streaming sink.

    Each table in ``batches`` becomes one parquet file, ``part0`` to
    ``partN-1``, in a fresh directory (FileStreamSource reads
    directories), with modification times that strictly increase in
    list order: the file source takes the oldest file first and breaks
    mtime ties by listing order, so pinned mtimes make list order the
    micro-batch order whenever ``query`` reads one file per trigger.
    ``query(src)`` builds the streaming frame over that directory; it
    runs into a uniquely named sink (repeated drains stay independent)
    in output ``mode``. A drain that has not finished within
    ``DRAIN_TIMEOUT_S`` raises rather than leave a partial sink. The
    query is always stopped and the directory always deleted; the sink
    table outlives both.

    Returns the sink table and each micro-batch's progress as a dict
    (``StreamingQueryProgress.json``), oldest first."""
    name = f"drain_sink_{next(_STREAM_SEQ)}"
    work = tempfile.mkdtemp(prefix="drain_")
    try:
        src = os.path.join(work, "src")
        os.mkdir(src)
        now = time.time()
        for i, table in enumerate(batches):
            path = os.path.join(src, f"part{i}.parquet")
            pq.write_table(table, path)
            stamp = now - 10 * (len(batches) - i)
            os.utime(path, (stamp, stamp))
        q = (
            query(src).writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(DRAIN_TIMEOUT_S):
                raise RuntimeError(
                    f"streaming drain did not finish within {DRAIN_TIMEOUT_S} s "
                    f"(query {name!r}); memory sink would be partial"
                )
        finally:
            q.stop()
        progress = [json.loads(p.json) for p in q.recentProgress]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.table(name), progress


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
