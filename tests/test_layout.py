"""Z-order interleave (operators/layout.py): correctness against a
Python reference, engine symmetry with the DuckDB SQL twin, and the
locality the curve exists for."""

from __future__ import annotations

import duckdb
import pytest

from training_datawarehouse_spark.operators import layout as lo


def _interleave_ref(vals: list[int], bits: int) -> int:
    n = len(vals)
    out = 0
    for i in range(bits):
        for j, v in enumerate(vals):
            out |= (((v & ((1 << bits) - 1)) >> i) & 1) << (i * n + j)
    return out


def test_zvalue_matches_python_reference(spark):
    rows = [(0, 0), (1, 0), (0, 1), (5, 9), (1023, 1), (77, 1023),
            (1023, 1023), (512, 256)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select(
            "a", "b", lo.zvalue(["a", "b"], bits=10).alias("z")
        ).collect()
    }
    for a, b in rows:
        assert got[(a, b)] == _interleave_ref([a, b], 10), (a, b)


def test_zvalue_three_dims_and_budget(spark):
    df = spark.createDataFrame([(3, 5, 6)], "a long, b long, c long")
    r = df.select(lo.zvalue(["a", "b", "c"], bits=8).alias("z")).head()
    assert r["z"] == _interleave_ref([3, 5, 6], 8)
    with pytest.raises(ValueError, match="63-bit"):
        lo.zvalue(["a", "b", "c"], bits=22)
    with pytest.raises(ValueError, match="two columns"):
        lo.zvalue(["a"], bits=8)


def test_zvalue_sql_is_engine_symmetric(spark):
    """zvalue (Catalyst) and zvalue_sql (DuckDB) come from one loop —
    prove it stays true: same values on both engines for a grid."""
    rows = [(a, b) for a in range(0, 140, 7) for b in range(0, 140, 11)]
    df = spark.createDataFrame(rows, "a long, b long")
    s = {
        (r["a"], r["b"]): r["z"]
        for r in df.select("a", "b",
                           lo.zvalue(["a", "b"], bits=8).alias("z")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE g(a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO g VALUES (?, ?)", rows)
    expr = lo.zvalue_sql(["a", "b"], bits=8)
    for a, b, z in con.execute(f"SELECT a, b, {expr} FROM g").fetchall():
        assert s[(a, b)] == z, (a, b)


def test_zorder_locality_beats_linear_order(spark):
    """Morton codes of a 2-D grid: sorting by z groups spatial
    quadrants — every 4-aligned run of codes shares the same 2×2 cell
    (the defining property the file-level skipping inherits)."""
    pts = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(pts, "x long, y long")
    rows = df.select("x", "y", lo.zvalue(["x", "y"], 4).alias("z")) \
        .orderBy("z").collect()
    for i in range(0, len(rows), 4):
        quad = rows[i:i + 4]
        assert len({(r["x"] // 2, r["y"] // 2) for r in quad}) == 1
