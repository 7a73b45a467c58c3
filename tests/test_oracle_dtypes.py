"""Schema-level dtype-stability sweep over every registry oracle.

Two rounds shipped driver hash failures from the same class of bug —
the oracle's result dtype drifting float-ward where Spark's stays
integral (r9: DuckDB round(x,6) float corruption; r10: sum(INTEGER) →
HUGEINT → pandas float64 → '74.0' vs '74' under the driver's string
canonicalization). This sweep DESCRIBEs every oracle (no data executed
on the DuckDB side) and lazily builds every Spark plan's schema, then
asserts no integral Spark column maps to a non-integral oracle type.
"""

from __future__ import annotations

import duckdb
import pytest

from training_datawarehouse_spark.canon import (
    DUCK_INTEGRAL, duck_describe, dtype_drift,
)
from training_datawarehouse_spark.plans import QUERIES
from training_datawarehouse_spark.sources.tables import TABLE_NAMES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def test_dtype_drift_catches_hugeint_promotion():
    """The exact r10 failure shape: HUGEINT where Spark says bigint."""
    drift = dtype_drift([("n", "bigint")], [("n", "HUGEINT")])
    assert len(drift) == 1 and "HUGEINT" in drift[0]
    assert dtype_drift([("n", "bigint")], [("n", "BIGINT")]) == []
    # doubles on both sides are fine — not this gate's business
    assert dtype_drift([("x", "double")], [("x", "DOUBLE")]) == []
    # boolean drift is the same hazard ('True' vs '1.0')
    assert dtype_drift([("b", "boolean")], [("b", "DOUBLE")]) != []


def test_duck_integral_set_is_what_pandas_keeps_integral():
    """Guard the allowlist itself: every type in DUCK_INTEGRAL must
    round-trip a literal through duckdb→pandas without a decimal point,
    and HUGEINT (excluded) must NOT."""
    con = duckdb.connect()
    for t in sorted(DUCK_INTEGRAL):
        if t == "BOOLEAN":
            continue
        df = con.execute(f"SELECT 7::{t} AS v").df()
        assert str(df["v"].iloc[0]) == "7", t
    hug = con.execute("SELECT 7::HUGEINT AS v").df()
    assert str(hug["v"].iloc[0]) != "7"


def test_every_registry_oracle_has_stable_dtypes(spark, duck):
    """Sweep all 50 entries: DESCRIBE each oracle, lazily build each
    Spark schema, assert zero drift. Fails with every offence listed."""
    offences = []
    for name, q in QUERIES.items():
        if q.oracle is None:
            continue
        duck_fields = duck_describe(duck, q.oracle)
        df = q.builder(spark, SF_DIR)
        spark_fields = [(f.name, f.dataType.simpleString())
                        for f in df.schema.fields]
        for off in dtype_drift(spark_fields, duck_fields):
            offences.append(f"{name}: {off}")
    assert not offences, "\n".join(offences)


def test_dtype_drift_flags_both_directions():
    """Unit gate for the canon dtype rule: the r9/r10 class (Spark
    integral vs oracle float/HUGEINT) AND the r11-review mirror class
    (Spark double vs oracle integral) must both flag; agreeing pairs
    must not."""
    from training_datawarehouse_spark.canon import dtype_drift

    spark_fields = [
        ("n", "bigint"), ("v", "double"), ("k", "string"),
        ("ok_i", "bigint"), ("ok_d", "double"),
    ]
    duck_fields = [
        ("n", "HUGEINT"),      # forward offence (r10 class)
        ("v", "BIGINT"),       # mirror offence (r11 review)
        ("k", "VARCHAR"),
        ("ok_i", "BIGINT"),    # agree
        ("ok_d", "DOUBLE"),    # agree
    ]
    offences = dtype_drift(spark_fields, duck_fields)
    assert len(offences) == 2
    assert any(o.startswith("n:") for o in offences)
    assert any(o.startswith("v:") for o in offences)
