"""CLI: run the full training-diary pipeline, like the reference's
``python populate_from_json.py`` (reference :584-608) — but one Spark
job writing a partitioned warehouse instead of per-row SQLite loops.

    python -m training_datawarehouse_spark DIARY.json OUT_DIR [--cpus N]

Writes OUT_DIR/facts (partitioned by cell keys, date-sorted),
OUT_DIR/weekly, OUT_DIR/monthly, and prints per-stage wall-clock —
the reference prints the same timings (:107,137-145,585-598).
"""

from __future__ import annotations

import argparse
import os
import time


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="training_datawarehouse_spark")
    ap.add_argument("diary", help="path to TrainingDiary.json")
    ap.add_argument("out", help="output warehouse directory")
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N] cores (default: $SPARK_GRAFT_CPUS or 32)")
    args = ap.parse_args(argv)

    from .session import get_spark
    from .pipeline import (
        run_e1_ingest, run_e2_tsb, run_e3_strain, run_e4_rollup, write_warehouse,
    )

    spark = get_spark(
        "training-datawarehouse-cli",
        master=f"local[{args.cpus}]" if args.cpus else None,
    )
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    facts = run_e1_ingest(spark, args.diary)
    facts = run_e2_tsb(facts)
    facts = run_e3_strain(facts)
    facts = facts.cache()
    n = facts.count()
    t1 = time.time()
    print(f"E1-E3 ingest+tsb+strain: {n} rows in {t1 - t0:.1f}s")

    write_warehouse(facts, os.path.join(args.out, "facts"))
    t2 = time.time()
    print(f"warehouse write: {t2 - t1:.1f}s")

    for period, name in (("year_week", "weekly"), ("year_month", "monthly")):
        run_e4_rollup(facts, period).write.mode("overwrite").parquet(
            os.path.join(args.out, name)
        )
    t3 = time.time()
    print(f"rollups: {t3 - t2:.1f}s")
    print(f"total: {t3 - t0:.1f}s -> {args.out}")
    facts.unpersist()


if __name__ == "__main__":
    main()
