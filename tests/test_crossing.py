"""The seams where Python meets the plan, ``functions/crossing.py``.

``map_batches`` is the only ``mapInPandas`` in the package, and it keeps
its contract (only ``cols`` cross, fan-out, dict rows, schema column
order, the ``parallelism`` exchange). ``local_frame`` is the only
``createDataFrame``, and its frames are ``LocalRelation``s typed as the
list path types them. ``streaming/events_stream.drain`` is the only
streaming sink.
"""

from __future__ import annotations

import ast
from pathlib import Path

from pyspark.sql import types as T

from training_datawarehouse_spark.functions.crossing import (
    local_frame, map_batches,
)

PACKAGE = Path(__file__).resolve().parents[1] / "training_datawarehouse_spark"
SEAM = PACKAGE / "functions" / "crossing.py"
DRAIN = PACKAGE / "streaming" / "events_stream.py"


def _sites_outside_seam(attr: str, seam: Path) -> list[str]:
    return sorted(
        f"{path.relative_to(PACKAGE)}:{node.lineno}"
        for path in PACKAGE.rglob("*.py") if path != seam
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path)))
        if isinstance(node, ast.Attribute) and node.attr == attr
    )


def test_map_batches_is_the_only_row_local_crossing():
    sites = _sites_outside_seam("mapInPandas", SEAM)
    assert not sites, "mapInPandas outside map_batches: " + ", ".join(sites)


def test_local_frame_is_the_only_create_dataframe():
    """A Python list handed to ``createDataFrame`` plans as a Python RDD
    whose partitions each wait on a Python worker every time the plan
    runs; ``local_frame`` plans the same rows in the JVM."""
    sites = _sites_outside_seam("createDataFrame", SEAM)
    assert not sites, "createDataFrame outside local_frame: " + ", ".join(sites)


def test_drain_is_the_only_streaming_sink():
    """``drain`` stages the input, owns the sink, the timeout and the
    cleanup; a stage that starts or awaits its own query copies that
    policy instead of using it."""
    sites = (_sites_outside_seam("writeStream", DRAIN)
             + _sites_outside_seam("awaitTermination", DRAIN))
    assert not sites, "streaming sink outside drain: " + ", ".join(sites)


SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("k", T.IntegerType()),
    T.StructField("tag", T.StringType()),
    T.StructField("n_cols", T.IntegerType()),
])


def test_map_batches_contract(spark):
    def kernel(*cols):
        # len(text) rows per input row, as dicts in an order unlike
        # SCHEMA's; the first row of each input omits "k"
        ids, texts = cols
        return [
            {"n_cols": len(cols), "tag": t, "id": i, **({"k": k} if k else {})}
            for i, t in zip(ids, texts)
            for k in range(len(t))
        ]

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "bb", 2.0)], "id long, text string, extra double")
    out = map_batches(df, ["id", "text"], SCHEMA, kernel, parallelism=3)

    plan = out._jdf.queryExecution().executedPlan().toString()
    below_map = plan[plan.index("MapInPandas"):]
    assert "Exchange RoundRobinPartitioning(3)" in below_map, plan
    assert out.columns == ["id", "k", "tag", "n_cols"]
    assert {tuple(r) for r in out.collect()} == {
        (1, None, "a", 2),
        (2, None, "bb", 2),
        (2, 1, "bb", 2),
    }

    unspread = map_batches(df, ["id", "text"], SCHEMA, kernel)
    assert "Exchange" not in (
        unspread._jdf.queryExecution().executedPlan().toString())


def test_map_batches_sends_no_empty_batch(spark):
    """The seam has no empty-batch branch and the kernels have no empty
    guard: Spark sends no batch for an empty partition."""
    def first_only(ids, texts):
        return [(ids[0], None, texts[0], 1)]  # IndexError on an empty batch

    df = spark.createDataFrame([(1, "a")], "id long, text string")
    cases = {
        "fully filtered": (df.filter("id < 0"), 0),
        "range(0)": (spark.range(0).selectExpr("id", "'' AS text"), 0),
        "3 of 4 partitions empty": (df.repartition(4), 1),
    }
    for name, (frame, n_rows) in cases.items():
        out = map_batches(frame, ["id", "text"], SCHEMA, first_only)
        assert len(out.collect()) == n_rows, name


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_local_frame_contract(spark):
    ddl = "w string, n long, x double, syms array<string>"
    rows = [
        ("a", 1, 0.5, ["p", "q"]),
        (None, None, None, None),
        ("b", -2, 1e300, []),
    ]
    listed = spark.createDataFrame(rows, ddl)
    struct = listed.schema
    before = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled")
    try:
        for arrow in ("true", "false"):
            spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", arrow)
            for schema in (ddl, struct):
                out = local_frame(spark, rows, schema)
                plan = _optimized(out)
                assert plan.startswith("LocalRelation"), plan
                assert "LogicalRDD" not in plan, plan
                assert out.schema == struct  # nullability included
                assert out.collect() == listed.collect()  # row order too

                empty = local_frame(spark, [], schema)
                assert empty.schema == struct
                assert empty.collect() == []
                assert _optimized(empty).startswith("LocalRelation")
    finally:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", before)
