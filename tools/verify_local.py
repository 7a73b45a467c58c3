"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir and compares them with the SAME
canonicalization the driver uses (sort columns by name, sort rows,
stringify every cell) — imported from
``training_datawarehouse_spark.canon``, the single code path shared
with the pytest dtype sweep. r10 shipped a red driver row because this
tool compared numeric values where the driver compares strings
(DuckDB HUGEINT → pandas float64 → '74.0' vs '74'); never again.

Also runs the schema-level dtype-drift gate (Spark integral column vs
non-integral oracle type) before touching data.

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from training_datawarehouse_spark.canon import (  # noqa: E402
    canon, duck_describe, dtype_drift, values_repr,
)
from training_datawarehouse_spark.session import get_spark  # noqa: E402
from training_datawarehouse_spark.sources.tables import TABLE_NAMES  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("verify-local")
    con = duck_connection(sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    failed = []
    for name, builder in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = builder(spark, sf_dir)
            spark_fields = [(f.name, f.dataType.simpleString())
                            for f in sdf.schema.fields]
            s = canon(sdf.toPandas())
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(s)} rows, {time.time()-t0:.1f}s)")
            if len(s) == 0:
                print(f"WARN {name}: zero rows")
            continue
        try:
            drift = dtype_drift(spark_fields, duck_describe(con, oracles[name]))
            o = canon(con.execute(oracles[name]).df())
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            failed.append(name)
            continue
        problems = []
        if drift:
            problems.append("dtype drift: " + "; ".join(drift))
        if len(s) != len(o):
            problems.append(f"row count {len(s)} != {len(o)}")
        elif list(s.columns) != list(o.columns):
            problems.append(f"columns {list(s.columns)} != {list(o.columns)}")
        else:
            sv, ov = values_repr(s), values_repr(o)
            n_bad = 0
            for ra, rb in zip(sv, ov):
                if ra != rb:
                    n_bad += 1
                    if n_bad <= 3:
                        problems.append(f"value mismatch: spark={ra!r} duck={rb!r}")
            if n_bad > 3:
                problems.append(f"... {n_bad} mismatched rows total")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"ok   {name}: {len(s)} rows match ({time.time()-t0:.1f}s)")

    print(f"\n{len(qs) - len(failed)}/{len(qs)} green")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
