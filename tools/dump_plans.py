"""Dump .explain('formatted') for registry entries, masked for diffing.

Usage: python tools/dump_plans.py <sf_dir> <out_dir> <suffix> [entry ...]
  sf_dir:  the testdata directory the builders read (e.g. the bench's
           $SPARK_GRAFT_SF_DIR)
  out_dir: directory the plans are written to (created if missing)
  suffix:  file name suffix, e.g. 'before' or 'after'
  entry:   any registry entry name; none means the ``bench.HEADLINE``
           entries. An unknown name is an error.

Each plan is the one bench.py times (``bench.HEADLINE_OVERRIDES``
applied). Builders run lazily where possible, but several composite
builders eagerly materialize internal checkpoints — that is part of
their plan construction and unavoidable here; the dumped plan is the
FINAL returned frame's physical plan, which is what the bench collects.

The counters that change from run to run, even for the same code, are
masked (``MASKS``), so two dumps diff empty unless a plan changed:
expression ids, ``plan_id``s, RDD ids with their call sites (builders
that run sub-plans on a thread pool label RDDs from whichever thread
created them, and every ``localCheckpoint`` gets a fresh RDD id), the
higher-order-function lambda counters and temporary directories. The
checkout's own path reads ``<repo>``, so checkouts in different
directories diff empty too.

Two entries keep a run-dependent plan after masking:
``ns_split_train_val`` and ``op_agg_event_profile``. Each has several
distinct aggregates, and Spark orders their ``Expand`` groups
differently from run to run, so two dumps of the same code can differ
by a column swap. To check that a change leaves every plan unchanged,
dump the parent twice and the change once: each entry's plan from the
change must equal that entry's plan in at least one of the two parent
dumps. For every other entry the two parent dumps are identical.
"""
from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import HEADLINE, HEADLINE_OVERRIDES  # noqa: E402
from training_datawarehouse_spark.session import get_spark  # noqa: E402
from training_datawarehouse_spark.plans import QUERIES  # noqa: E402

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\] at [^\]\n]*?(?=[\],\n])"), "RDD[N] at <site>"),
    (re.compile(r"\b(lambda [a-z]+)_\d+"), r"\1_N"),
    (re.compile(r"/tmp/tmp\w+"), "/tmp/<tmp>"),
]


def masked(plan: str) -> str:
    plan = plan.replace(ROOT, "<repo>")
    for pattern, repl in MASKS:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> None:
    sf_dir, out_dir, suffix = sys.argv[1:4]
    names = sys.argv[4:] or HEADLINE
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(f"not a registry entry: {', '.join(unknown)}")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        builder = HEADLINE_OVERRIDES.get(name, QUERIES[name].builder)
        df = builder(spark, sf_dir)
        plan = masked(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


if __name__ == "__main__":
    main()
