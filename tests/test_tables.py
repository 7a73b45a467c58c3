"""The parquet schema memo behind ``sources.tables.load_table``: a read of
an unchanged file starts no Spark job, and a rewritten file or a changed
inference conf is inferred again."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from training_datawarehouse_spark.sources.tables import load_any, load_table

BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
HOURLY_US = [BASE_US + i * 3_600_000_000 for i in range(4)]


def _publish(path: str, table: pa.Table) -> None:
    """Write ``table`` beside ``path`` and rename it into place, as a
    writer replacing a table does: the path then names a new file."""
    tmp = f"{path}.tmp"
    pq.write_table(table, tmp, coerce_timestamps=None, version="2.6")
    os.replace(tmp, path)


def test_second_load_of_unchanged_file_starts_no_job(spark, tmp_path, jobs_of):
    path = str(tmp_path / "nation.parquet")
    _publish(path, pa.table({
        "n_nationkey": pa.array([0, 1, 2], pa.int64()),
        "n_name": pa.array(["ALGERIA", "ARGENTINA", "BRAZIL"]),
        "n_score": pa.array([0.5, 1.5, 2.5]),
    }))
    first, _ = jobs_of(lambda: load_table(spark, str(tmp_path), "nation"))
    assert first >= 1  # the footer job of schema inference: the counter works
    jobs, df = jobs_of(lambda: load_table(spark, str(tmp_path), "nation"))
    assert jobs == 0
    plain = spark.read.parquet(path)
    assert df.schema == plain.schema
    assert df.collect() == plain.collect()

    # load_any's parquet branch shares the memo; a URI is stat'ed
    # through its Hadoop file system and memoised under its own key
    uri = "file://" + path
    jobs_of(lambda: load_any(spark, uri))
    jobs, df = jobs_of(lambda: load_any(spark, uri))
    assert jobs == 0
    assert df.schema == plain.schema
    assert df.collect() == plain.collect()


def test_schema_memo_sees_rewrite_and_conf_flip(spark, tmp_path, jobs_of):
    path = str(tmp_path / "events.parquet")

    def events(unit: str, ts: list[int]) -> pa.Table:
        return pa.table({
            "event_id": pa.array(range(len(ts)), pa.int64()),
            "ts": pa.array(ts, pa.timestamp(unit)),
        })

    want = list(enumerate(HOURLY_US))

    def rows(df):
        return [tuple(r) for r in df.orderBy("event_id").select(
            "event_id", F.unix_micros("ts")).collect()]

    # micro timestamps, then INT64 TIMESTAMP(NANOS) at the same path: the
    # memo must not keep the micros schema for the nanos file
    _publish(path, events("us", HOURLY_US))
    load_table(spark, str(tmp_path), "events")
    jobs, df = jobs_of(lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == 0 and rows(df) == want
    _publish(path, events("ns", [u * 1000 for u in HOURLY_US]))
    jobs, df = jobs_of(lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs >= 1
    assert rows(df) == want

    # a timestamp without a time zone is inferred as TIMESTAMP_NTZ or
    # TIMESTAMP depending on a session conf: flipping it must re-infer
    ntz = str(tmp_path / "ntz.parquet")
    _publish(ntz, events("us", HOURLY_US))
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        load_any(spark, ntz)
        jobs, df = jobs_of(lambda: load_any(spark, ntz))
        assert jobs == 0
        assert df.schema["ts"].dataType == T.TimestampNTZType()
        spark.conf.set(key, "false")
        jobs, df = jobs_of(lambda: load_any(spark, ntz))
    finally:
        spark.conf.set(key, prev)
    assert jobs >= 1
    assert df.schema["ts"].dataType == T.TimestampType()
