"""Differential tests: Spark time-series operators vs direct pandas/
python re-implementations of the reference semantics (SURVEY §5.2)."""

from __future__ import annotations

import datetime as dt
import math
import random

import pandas as pd
import pytest

from pyspark.sql import functions as F

from training_datawarehouse_spark.operators.timeseries import (
    date_spine,
    densify,
    ewma,
    interpolate_linear,
    rolling_monotony_strain,
)
from tests.conftest import ref_ewma


def _series_df(spark, values, start="2021-01-01", key=None):
    base = dt.date.fromisoformat(start)
    rows = [
        (base + dt.timedelta(days=i), float(v)) if key is None
        else (key, base + dt.timedelta(days=i), float(v))
        for i, v in enumerate(values)
    ]
    schema = "date date, tss double" if key is None else "k string, date date, tss double"
    return spark.createDataFrame(rows, schema)


def test_ewma_matches_reference_loop(spark):
    rng = random.Random(7)
    values = [rng.uniform(0, 150) for _ in range(300)]
    df = _series_df(spark, values)
    out = ewma(df, [("tss", "ctl", 42.0), ("tss", "atl", 7.0)])
    got = {r["date"]: (r["ctl"], r["atl"]) for r in out.collect()}
    exp_ctl = ref_ewma(values, 42.0)
    exp_atl = ref_ewma(values, 7.0)
    base = dt.date(2021, 1, 1)
    for i in range(300):
        d = base + dt.timedelta(days=i)
        assert got[d][0] == pytest.approx(exp_ctl[i], rel=1e-9)
        assert got[d][1] == pytest.approx(exp_atl[i], rel=1e-9)


def test_ewma_grouped_independent_series(spark):
    values_a = [10.0] * 50
    values_b = [100.0] * 50
    df = _series_df(spark, values_a, key="a").unionByName(
        _series_df(spark, values_b, key="b")
    )
    out = ewma(df, [("tss", "ctl", 42.0)], keys=["k"])
    last = {r["k"]: r["ctl"] for r in out.filter(F.col("date") == "2021-02-19").collect()}
    assert last["b"] == pytest.approx(10 * last["a"], rel=1e-12)


def test_rolling_monotony_strain_matches_pandas(spark):
    """Reference: pandas rolling(7) mean/std(ddof=1)/sum, std clipped to
    ≥0.01 before dividing, first-row NaN → 0 (reference :287-293)."""
    rng = random.Random(11)
    values = [rng.choice([0.0, rng.uniform(10, 120)]) for _ in range(60)]
    # include a constant run → std 0 → clip 0.01 path
    values[20:27] = [50.0] * 7
    df = _series_df(spark, values)
    out = rolling_monotony_strain(df, "tss").orderBy("date").collect()

    s = pd.Series(values)
    mean7 = s.rolling(7, min_periods=1).mean()
    std7 = s.rolling(7, min_periods=2).std(ddof=1)
    sum7 = s.rolling(7, min_periods=1).sum()
    monotony = (mean7 / std7.clip(lower=0.01)).fillna(0.0)
    strain = sum7 * monotony

    for i, r in enumerate(out):
        assert r["monotony"] == pytest.approx(monotony[i], rel=1e-9), i
        assert r["strain"] == pytest.approx(strain[i], rel=1e-9), i


def test_interpolation_matches_pandas(spark):
    """Reference: Series.reindex(date_range).interpolate('linear') then
    fillna(0) (reference :168-176)."""
    anchors = {0: 70.0, 5: 80.0, 6: 75.0, 13: 68.0}
    base = dt.date(2021, 3, 1)
    df = spark.createDataFrame(
        [(base + dt.timedelta(days=i), v) for i, v in anchors.items()],
        "date date, kg double",
    )
    out = interpolate_linear(df, ["kg"]).orderBy("date").collect()

    idx = pd.date_range(base, base + dt.timedelta(days=13), freq="D")
    s = pd.Series(
        {pd.Timestamp(base + dt.timedelta(days=i)): v for i, v in anchors.items()}
    ).reindex(idx).interpolate("linear").fillna(0.0)
    assert len(out) == 14
    for i, r in enumerate(out):
        assert r["kg"] == pytest.approx(s.iloc[i], rel=1e-12), i


def test_interpolation_leading_trailing_gaps(spark):
    base = dt.date(2021, 3, 1)
    df = spark.createDataFrame(
        [(base + dt.timedelta(days=2), 10.0), (base + dt.timedelta(days=4), 20.0)],
        "date date, v double",
    )
    # spine spans anchors only (min..max of data)
    out = interpolate_linear(df, ["v"], fill_zero=False).orderBy("date").collect()
    assert [r["v"] for r in out] == [10.0, 15.0, 20.0]


def test_densify_fills_every_cell_every_date(spark):
    df = spark.createDataFrame(
        [(dt.date(2021, 1, 1), "a", 1.0), (dt.date(2021, 1, 4), "b", 2.0)],
        "date date, k string, v double",
    )
    dense = densify(df, keys=["k"], defaults={"v": 0.0})
    assert dense.count() == 8  # 4 dates × 2 cells
    assert dense.filter(F.col("v") == 0.0).count() == 6


def test_date_spine_span(spark):
    df = spark.createDataFrame(
        [(dt.date(2021, 1, 1),), (dt.date(2021, 1, 10),)], "date date"
    )
    assert date_spine(df).count() == 10


def test_operators_handle_empty_input(spark):
    """Empty facts → empty outputs, no errors (spine/densify/EWMA/
    interpolation/rolling all flow a null min/max date through
    sequence+explode, which yields no rows)."""
    from training_datawarehouse_spark.operators.timeseries import (
        date_spine, densify, ewma, interpolate_linear, rolling_monotony_strain,
    )
    from pyspark.sql import functions as F

    empty = spark.createDataFrame([], "date date, activity string, tss double")
    assert date_spine(empty).count() == 0
    assert densify(empty, keys=["activity"]).count() == 0
    assert ewma(empty, [("tss", "ctl", 42.0)]).count() == 0
    assert interpolate_linear(
        empty.select("date", F.col("tss").alias("value")), ["value"]
    ).count() == 0
    assert rolling_monotony_strain(empty, "tss").count() == 0


def test_ewma_scan_matches_applyinpandas(spark):
    """Segmented prefix-scan EWMA ≡ the sequential loop on series
    shorter than, equal to and longer than one ``EWMA_SCAN_BLOCK``
    segment, ragged last blocks included (worst diff ~1e-13)."""
    import random

    from training_datawarehouse_spark.operators.timeseries import (
        EWMA_SCAN_BLOCK, ewma, ewma_scan,
    )

    rng = random.Random(7)
    pairs = [("tss", "ctl", 42.0), ("tss", "atl", 7.0)]
    for n in (301, EWMA_SCAN_BLOCK, 1, 95):
        rows = [(i, round(rng.uniform(0, 300), 6)) for i in range(n)]
        df = spark.createDataFrame(rows, "date int, tss double")
        ref = {r["date"]: (r["ctl"], r["atl"])
               for r in ewma(df, pairs).collect()}
        scan = {r["date"]: (r["ctl"], r["atl"])
                for r in ewma_scan(df, pairs).collect()}
        assert ref.keys() == scan.keys() and len(scan) == n
        for x in ref:
            assert abs(ref[x][0] - scan[x][0]) < 1e-9
            assert abs(ref[x][1] - scan[x][1]) < 1e-9


def test_interpolation_keyed_series_independent(spark):
    """Interpolation reads only the series' own anchors: a gap between
    two anchors is the straight line between them, a leading gap is
    0-filled and a trailing gap carries the last anchor forward."""
    from datetime import date

    from training_datawarehouse_spark.operators.timeseries import interpolate_linear

    rows = [
        (date(2020, 1, 1), None),
        (date(2020, 1, 2), 10.0),
        (date(2020, 1, 6), 50.0),
        (date(2020, 1, 7), 300.0),
        (date(2020, 1, 9), None),
    ]
    df = spark.createDataFrame(rows, "date date, v double")
    out = {
        r["date"].isoformat(): r["v"]
        for r in interpolate_linear(df, ["v"], fill_zero=True).collect()
    }
    # linear 10→50 over 4 days
    assert out["2020-01-04"] == pytest.approx(30.0)
    # leading gap, before the first anchor → 0 fill
    assert out["2020-01-01"] == 0.0
    # beyond the last anchor: forward-fill of the last observed value
    # (pandas interpolate limit_direction='forward' parity)
    assert out["2020-01-08"] == pytest.approx(300.0)
    assert out["2020-01-09"] == pytest.approx(300.0)
    # every spine date exists
    assert len(out) == 9
