"""Dump .explain('formatted') for the bench headline queries.

Usage: python tools/dump_plans.py <sf_dir> <out_dir> <suffix> [query ...]
  sf_dir:  the testdata directory the builders read (e.g. the bench's
           $SPARK_GRAFT_SF_DIR)
  out_dir: directory the plans are written to (created if missing)
  suffix:  file name suffix, e.g. 'before' or 'after'

Each plan is the one bench.py times (``bench.HEADLINE_OVERRIDES``
applied). Builders run lazily where possible, but several composite
builders eagerly materialize internal checkpoints — that is part of
their plan construction and unavoidable here; the dumped plan is the
FINAL returned frame's physical plan, which is what the bench collects.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, HEADLINE_OVERRIDES  # noqa: E402
from training_datawarehouse_spark.session import get_spark  # noqa: E402
from training_datawarehouse_spark.plans import QUERIES  # noqa: E402


def main() -> None:
    sf_dir, out_dir, suffix = sys.argv[1:4]
    only = set(sys.argv[4:])
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in HEADLINE:
        if only and name not in only:
            continue
        builder = HEADLINE_OVERRIDES.get(name, QUERIES[name].builder)
        df = builder(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


if __name__ == "__main__":
    main()
