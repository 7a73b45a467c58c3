"""Driver-replica canonicalization — ONE code path for every local gate.

The correctness driver compares Spark vs DuckDB results by sorting
columns by name, sorting rows, and stringifying every cell. Two rounds
shipped red driver rows because a local gate compared *values*
(numeric-equal) where the driver compares *strings*:

- r9: DuckDB ``round(x, 6)`` corrupted doubles > 2^53/1e6 (float path).
- r10: DuckDB ``sum(INTEGER)`` returns HUGEINT; a UNION promoted the
  whole column, pandas rendered it float64, and ``74`` != ``'74.0'``.

This module is that single canonicalization, imported by
``tools/verify_local.py`` and by the pytest dtype sweep, so the gates
cannot drift from each other again.
"""

from __future__ import annotations

import pandas as pd

#: Spark simpleString type names whose string canon never carries a
#: decimal point — if the oracle renders these through float64, every
#: cell mismatches ('74' vs '74.0').
SPARK_INTEGRAL = {"tinyint", "smallint", "int", "bigint", "boolean"}

#: DuckDB types that pandas keeps integral/boolean (absent NULLs).
#: HUGEINT is deliberately NOT here: duckdb→pandas renders it float64.
DUCK_INTEGRAL = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "BOOLEAN",
}


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, then rows by all columns (stable)."""
    cols = sorted(df.columns)
    df = df[cols]
    df = df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    return df


def cell_str(v) -> str:
    """One cell the way the driver stringifies it.

    DuckDB hands DATE back as datetime64[ns]; Spark as datetime.date —
    midnight timestamps and dates canonicalize alike. NULLs: the pandas
    path turns DuckDB NULL booleans/numbers into NaN/NaT while Spark
    rows carry None — one marker for all three.
    """
    if not isinstance(v, (list, tuple, dict)) and pd.isna(v):
        return "None"
    s = str(v)
    return s[:-9] if s.endswith(" 00:00:00") else s


def values_repr(df: pd.DataFrame) -> list[tuple]:
    return [tuple(cell_str(v) for v in row) for row in df.itertuples(index=False)]


#: Spark types whose string canon ALWAYS carries a decimal point.
SPARK_FLOATY = {"float", "double"}


def dtype_drift(spark_fields: list[tuple[str, str]],
                duck_fields: list[tuple[str, str]]) -> list[str]:
    """Columns whose integral-ness DISAGREES between the engines, in
    EITHER direction:

    - Spark integral/boolean vs oracle non-integral (the r9/r10 class:
      HUGEINT/DOUBLE promotion renders '74.0' against Spark's '74');
    - Spark float/double vs oracle integral (the mirror: a dropped
      Spark-side cast renders '74.0' against the oracle's '74' —
      caught by the r11 review as the gap this gate still had).

    ``spark_fields``: (name, Spark simpleString type) per column.
    ``duck_fields``: (name, DuckDB type from ``DESCRIBE <sql>``).
    Returns human-readable offence strings; empty means no drift.

    This is a *schema-level* gate: it catches both promotion classes
    without executing either query's data path.
    """
    duck_by_name = {n.lower(): t for n, t in duck_fields}
    offences = []
    for name, styp in spark_fields:
        base = styp.split("(")[0].lower()
        dtyp = duck_by_name.get(name.lower())
        if dtyp is None:
            continue  # column-name mismatch is a different gate's job
        dbase = dtyp.split("(")[0].upper()
        if base in SPARK_INTEGRAL and dbase not in DUCK_INTEGRAL:
            offences.append(
                f"{name}: spark={styp} but oracle={dtyp} "
                f"(stringifies with a decimal point under driver canon)"
            )
        elif base in SPARK_FLOATY and dbase in DUCK_INTEGRAL:
            offences.append(
                f"{name}: spark={styp} but oracle={dtyp} "
                f"(spark stringifies with a decimal point, oracle "
                f"without, under driver canon)"
            )
    return offences


def duck_describe(con, sql: str) -> list[tuple[str, str]]:
    """(name, type) of an oracle query's result WITHOUT running it."""
    rows = con.execute(f"DESCRIBE {sql}").fetchall()
    return [(r[0], r[1]) for r in rows]
