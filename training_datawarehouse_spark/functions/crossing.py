"""Where driver-side Python meets the plan.

Python runs only where no built-in expression can do the work, and then
only Arrow-batched. Every row-local crossing in the package goes through
``map_batches``, so the shape of the crossing (which columns cross, the
optional repartition, batch iteration, output column order) is decided
here once and each call site keeps only its kernel.

Every frame of driver-side rows enters a plan through ``local_frame``,
so it is a JVM ``LocalRelation`` and no Python runs when it is scanned.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Sequence

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def map_batches(df: DataFrame, cols: Sequence[str], schema: T.StructType,
                kernel: Callable[..., Iterable],
                parallelism: int | None = None) -> DataFrame:
    """Run ``kernel`` once per Arrow batch of ``df.select(*cols)``.

    ``kernel`` receives one Python list per column of ``cols``, in that
    order, and returns the batch's output rows: sequences in ``schema``
    order, or dicts keyed by ``schema`` names (a missing key is null).
    It may return more or fewer rows than it received. The output frame
    has exactly ``schema``'s columns, in ``schema`` order.

    ``parallelism``: optional round-robin repartition WIDTH for the
    crossing. Parquet sizes scan partitions for IO (~128 MB), but a
    codec crossing is CPU-bound at ~0.5 ms/row — a 50 MB file holding
    500 k docs would otherwise run as ONE multi-minute task (measured on
    the 100x replica, SCALE.md r9). Callers at corpus scale pass
    ``spark.sparkContext.defaultParallelism``; the extra exchange ships
    only ``cols`` and is priced at build time when the result is
    checkpointed.
    """
    df = df.select(*cols)
    if parallelism:
        df = df.repartition(parallelism)
    names = schema.names

    def crossing(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = kernel(*(s.tolist() for _, s in pdf.items()))
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(crossing, schema)


def local_frame(spark: SparkSession, rows: Sequence[Sequence],
                schema: T.StructType | str) -> DataFrame:
    """A frame of driver-side ``rows``, planned as a ``LocalRelation``.

    ``rows`` are sequences in ``schema`` order; ``schema`` is a
    ``StructType`` or a DDL string. Row order, column types and
    nullability are those of ``spark.createDataFrame(rows, schema)``.

    A Python list goes to a Python RDD: a ``Scan ExistingRDD`` with
    ``defaultParallelism`` partitions, each waiting on a Python worker to
    unpickle its rows every time the plan runs, and no size statistics.
    An Arrow table goes to a ``LocalRelation``: rows held in the JVM,
    exact statistics, no Python at execution (past Spark's
    ``spark.sql.execution.arrow.localRelationThreshold`` it falls back
    to a JVM RDD of Arrow batches).
    """
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type)
         for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)
