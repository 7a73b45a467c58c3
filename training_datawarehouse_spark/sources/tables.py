"""Parquet table sources for the driver's synthetic star schema.

Every parquet read in this module goes through ``_read_parquet``, which
memoises the inferred schema per process. A schema-less
``spark.read.parquet`` starts a one-task Spark job to read the file's
footer, every time, even when the same unchanged file was read a moment
earlier; that was 10 of the about 45 jobs of a warm pass over TPC-H q1,
q5, exact dedup and similarity top-k. On a memo hit the read is
``spark.read.schema(memo).parquet(path)``, which starts no job and plans
the same scan: pushdown, column pruning and row-group statistics do not
depend on who supplied the schema.

The memo key is the file's qualified path, its identity (length and
modification time; on a local path also the inode and the nanosecond
mtime) and the session confs that change what inference returns
(``_INFERENCE_CONFS``). Only the ``StructType`` is kept, never a
DataFrame, so the memo outlives session restarts in one process.
Directories, globs and missing paths take the plain read: a directory's
key would need its part-file listing, and every registry table is a
single file. An in-place rewrite that keeps the length, the inode and
the mtime tick is not seen; publishing a file by rename always is.

At cluster scale these would be partitioned/bucketed tables behind the
session catalog; the loader is the single place to swap that in.
"""

from __future__ import annotations

import os
import stat
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: Session confs that change the schema Spark infers from one parquet
#: footer; their values are part of the schema memo's key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
)

#: qualified path -> (file identity + conf values, inferred schema). One
#: entry per path: a rewritten file replaces its stale entry. Key and
#: schema are stored as one tuple, so racing readers cost at most an
#: extra inference, never a stale hit.
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema taken from the
    process-wide memo when the file and the inference confs are
    unchanged (see the module docstring)."""
    ident = _file_identity(spark, path)
    if ident is None:
        return spark.read.parquet(path)
    qualified, stamp = ident
    stamp += tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    memo = _SCHEMAS.get(qualified)
    if memo is not None and memo[0] == stamp:
        return spark.read.schema(memo[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[qualified] = (stamp, df.schema)
    return df


def _file_identity(spark: SparkSession, path: str) -> tuple[str, tuple] | None:
    """``(qualified path, identity)`` of a single file, or None for
    anything the memo leaves alone (a directory, a glob, a missing
    path). A plain local path is stat'ed; a URI (``scheme://...``) goes
    through its Hadoop file system."""
    if "://" not in path:
        try:
            st = os.stat(path)
        except OSError:
            return None
        if not stat.S_ISREG(st.st_mode):
            return None
        return os.path.abspath(path), (st.st_ino, st.st_size, st.st_mtime_ns)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    try:
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        st = fs.getFileStatus(jpath)
    except Py4JJavaError:
        return None
    if not st.isFile():
        return None
    return str(fs.makeQualified(jpath)), (st.getLen(), st.getModificationTime())


def read_events(spark: SparkSession, read: Callable[[], DataFrame]) -> DataFrame:
    """The events frame ``read()`` returns, with ``ts`` as a micro
    timestamp. The driver's events.ts is INT64 TIMESTAMP(NANOS) — Spark
    has no nanosecond timestamp type; ``read()`` runs under the
    nanos-as-long flag, and the raw int64 is truncated to micros
    (integer DIV — a double division would lose precision at 2^53).
    Files from other writers may already carry a micro-precision
    timestamp: those pass through. The batch loader and the events
    stream both read through here."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read()
    if isinstance(df.schema["ts"].dataType, T.LongType):
        return df.withColumn(
            "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))")
        )
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return read_events(spark, lambda: _read_parquet(spark, path))
    return _read_parquet(spark, path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in TABLE_NAMES}


def load_any(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Format-dispatching loader for the non-parquet sources a
    warehouse ingests: .parquet / .orc (columnar, self-describing),
    .csv (header row; pass ``schema`` — runtime inference costs an
    extra full scan and guesses types), .json / .jsonl (one document
    per line; pass ``schema`` for the same reason — and a schema makes
    the scan column-prunable). Directories dispatch on their first
    file's extension, matching how Spark reads partitioned layouts."""
    import glob

    probe = path
    if os.path.isdir(path):
        inner = sorted(
            p for p in glob.glob(os.path.join(path, "*"))
            if os.path.isfile(p)
            and not os.path.basename(p).startswith(("_", "."))
        )
        if inner:
            probe = inner[0]
    ext = os.path.splitext(probe)[1].lower()
    if ext == ".parquet":
        return _read_parquet(spark, path)
    if ext == ".orc":
        return spark.read.orc(path)
    if ext == ".csv":
        r = spark.read.option("header", "true")
        r = r.schema(schema) if schema is not None else r.option(
            "inferSchema", "true"
        )
        return r.csv(path)
    if ext in (".json", ".jsonl", ".ndjson"):
        r = spark.read
        if schema is not None:
            r = r.schema(schema)
        return r.json(path)
    raise ValueError(f"unsupported source format: {ext or path}")


def load_quarantined(spark: SparkSession, path: str, schema: T.StructType):
    """Malformed-row quarantine for JSON-lines ingest, with exactly ONE
    scan of the source files. A handful of broken lines in a billion
    must not kill the job (FAILFAST) or silently vanish (DROPMALFORMED)
    — PERMISSIVE mode parses what it can and routes each unparseable
    raw line into a corrupt-record column. The permissive read is
    persisted (memory, disk spill) and materialized, then both splits
    are predicates over the cache (``InMemoryTableScan`` in their plans
    — asserted in tests/test_pipeline.py), so the files are fetched
    once, not once per split.

    Returns ``(good, bad, release)``: ``good`` carries the parsed rows,
    ``bad`` carries ``raw_record`` for a quarantine sink + replay after
    the producer is fixed; call ``release()`` after both splits are
    consumed to drop the cached pass.

    Spark caveats handled here: the corrupt column is only populated
    if it is PRESENT IN THE SCHEMA, and a query whose scan references
    ONLY the corrupt column is rejected outright
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — Spark
    cannot know a row is unparseable without parsing it). So ``bad``
    carries the partially-parsed columns alongside ``raw_record`` —
    which a quarantine sink wants anyway (they show WHAT half-parsed).
    The cache holds the full parsed width + the corrupt column — the
    price of not re-fetching; at 100 TB you would bound it by
    quarantining partition-by-partition or landing the permissive pass
    to a scratch table instead of executor memory.
    """
    from pyspark import StorageLevel

    corrupt = "_corrupt_record"
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt, T.StringType())]
    )
    cached = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
        .json(path)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cached.count()  # materialize now: THE one scan of the source
    good = cached.where(F.col(corrupt).isNull()).drop(corrupt)
    bad = cached.where(F.col(corrupt).isNotNull()).select(
        F.col(corrupt).alias("raw_record"),
        *[F.col(f.name) for f in schema.fields],
    )

    def release() -> None:
        cached.unpersist()

    return good, bad, release


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Expose every table as a temp view so users can drive the engine
    through ``spark.sql(...)`` — same loader (nanos handling included),
    same Catalyst plans as the DataFrame surface."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
