"""Workload ``registry_headline``: a slice of ``bench.HEADLINE``.

Each entry's registry builder is called once and its DataFrame collected
once per pass, over seeded tables shaped like the registry's sf0.001
test data. The slice keeps entries whose work is unlike the diary job's:
a scan-aggregation and a six-way join with shuffles (TPC-H q1 and q5),
hash dedup, and the retrieval composite (exact cosine top-k, BM25 and
rank fusion), whose builder checkpoints its shared cosine pass eagerly
(``functions.caching``). The whole headline takes about 40 s per warm
pass at sf0.001 on 4 cores, which the run budget cannot hold; the
cross-modal LSH entry alone needs 36 s for its DuckDB oracle.

Correctness: every entry in the slice has a DuckDB oracle in the
registry. Each collected result and the oracle's result, computed once
per run from the same files outside the timed region, are canonicalized
with ``canon`` and compared cell by cell as ``canon`` renders them. A
float cell may differ by one unit in the last decimal the oracle prints:
the engines add in different orders, so a rounded sum can land on either
side of a rounding boundary (seed 6 gives one ``tpch_q5_nation_revenue``
revenue of 807648.33 on Spark and 807648.32 on DuckDB).
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

import gen

SF = 0.001
#: Input rows at SF (fixed by ``gen.build_tables``, independent of the seed).
RECORDS = 9890
ENTRIES = (
    "tpch_q1_pricing_summary",
    "tpch_q5_nation_revenue",
    "ns_dedup_exact",
    "ns_similarity_topk",
)


def within_last_decimal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Same columns, rows and cells, except float cells that differ from
    ``want``'s by at most one unit in the last decimal ``want`` prints."""
    from training_datawarehouse_spark.canon import cell_str

    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    for col in want.columns:
        for g, w in zip(got[col], want[col]):
            shown = cell_str(w)
            if cell_str(g) == shown:
                continue
            if not (isinstance(g, float) and isinstance(w, float)) or "e" in shown:
                return False
            unit = 10.0 ** -len(shown.partition(".")[2])
            if abs(g - w) > 1.5 * unit:
                return False
    return True


class RegistryHeadline:
    name = "registry_headline"
    ops_per_pass = len(ENTRIES)
    # The first two passes in a JVM are slow (14 s, then 6-9 s, then 5 s
    # on 4 cores), so two warm up.
    warmup_passes = 2

    def __init__(self, work_dir: str, seed: int):
        self.work_dir, self.seed = work_dir, seed
        self.sf_dir = os.path.join(work_dir, f"sf{SF}")

    def generate(self) -> None:
        from training_datawarehouse_spark.canon import canon
        from training_datawarehouse_spark.plans import QUERIES

        self.records = gen.write_tables(self.sf_dir, SF, self.seed)
        if self.records != RECORDS:
            raise ValueError(f"generated {self.records} rows, expected {RECORDS}")
        con = duckdb.connect()
        try:
            for t in gen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf_dir}/{t}.parquet')")
            self.expected = {e: canon(con.execute(QUERIES[e].oracle).df())
                             for e in ENTRIES}
        finally:
            con.close()

    def run_pass(self, spark, tracer, out_dir: str) -> dict:
        from training_datawarehouse_spark.plans import QUERIES

        results = {}
        for entry in ENTRIES:
            try:
                with tracer.span(f"plans.{entry}"):
                    with tracer.span(f"plans.{entry}.build"):
                        df = QUERIES[entry].builder(spark, self.sf_dir)
                    with tracer.span(f"plans.{entry}.collect"):
                        rows = df.collect()
                results[entry] = (df, rows)
            except Exception as e:  # one entry failing must not stop the pass
                results[entry] = e
        return results

    def plan_ms(self, results: dict) -> dict[str, float]:
        """Analysis + optimization + planning time of each final plan, from
        its query-execution tracker."""
        out = {}
        for entry, res in results.items():
            if isinstance(res, Exception):
                continue
            phases = res[0]._jdf.queryExecution().tracker().phases()
            out[entry] = float(sum(
                phases.apply(p).durationMs()
                for p in ("analysis", "optimization", "planning")
                if phases.contains(p)
            ))
        return out

    def check(self, results: dict) -> list[str]:
        from training_datawarehouse_spark.canon import canon

        failures = []
        for entry in ENTRIES:
            res = results.get(entry)
            if isinstance(res, Exception) or res is None:
                failures.append(f"{entry}: raised {res!r}")
                continue
            df, rows = res
            got = canon(pd.DataFrame.from_records(rows, columns=df.columns))
            if not within_last_decimal(got, self.expected[entry]):
                failures.append(f"{entry}: result differs from the DuckDB oracle")
        return failures
