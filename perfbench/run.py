"""The repository benchmark: one workload per run, timed end to end.

    python3 perfbench/run.py --workload diary_etl --seed 1 --seconds 8 --trace 0

Run from the repository root. A run

1. generates the workload's inputs from ``--seed`` into its own scratch
   directory (not timed);
2. sets up ``SETUPS`` times: a fresh SparkSession on ``local[<cores>]``
   and a Python-worker warm-up; the median of all but the first, which
   also starts the JVM, is ``setup_s``;
3. runs the workload's warm-up passes (checked, not reported), then
   timed passes until their summed time reaches ``--seconds``, at least
   ``MIN_TIMED_PASSES`` (checks and clean-up between passes do not count);
4. checks every pass's outputs outside the timed region;
5. prints each metric as ``name value unit``, then one JSON line.

With ``--trace 0`` the metrics are the end-to-end ones. With ``--trace 1``
each timed step is an untraced pass followed by a traced pass; the
metrics are the per-layer ones (spans from the traced passes, Spark
status-store figures from the untraced ones), and the spans are written
to ``.perfbench-work/traces/`` when the run ends. The last warm-up pass
is then a traced one, because traced passes run plans of their own, and
one untraced and traced pair is timed.

The driver JVM and its Python workers are this process's descendants;
all of them are stopped and waited for before exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench-work")
# The first set-up also starts the JVM and always reads far above the rest,
# so ``setup_s`` is the median of the others.
SETUPS = 3
# A single timed pass reads whatever the host is doing at that moment; the
# median of two halves that. A traced run times one untraced and traced
# pair, which keeps it within three minutes.
MIN_TIMED_PASSES = 2
DRIVER_MEM = "2g"

END_TO_END_UNITS = {"setup_s": "s", "run_s": "s", "records_per_s": "records/s"}


def per_layer_units(entries) -> dict[str, str]:
    units = {
        "session.start_s": "s", "session.warmup_s": "s",
        "sources.read_diary_s": "s",
        "operators.lattice.cube_s": "s",
        "operators.timeseries.densify_s": "s",
        "operators.timeseries.interpolate_s": "s",
        "operators.timeseries.ewma_s": "s",
        "operators.timeseries.rolling_s": "s",
        "operators.rollup.periodic_s": "s",
        "pipeline.self_s": "s",
        "pipeline.write_warehouse_s": "s",
        "cli.cache_facts_s": "s",
        "cli.write_rollups_s": "s",
        "pipeline.bytes_written": "bytes",
        "pipeline.files_written": "count",
        "pipeline.files_per_partition": "count",
        "pipeline.stored_bytes_ratio": "ratio",
    }
    for e in entries:
        units.update({f"plans.{e}.build_s": "s", f"plans.{e}.plan_ms": "ms",
                      f"plans.{e}.collect_s": "s"})
    units.update({
        "spark.jobs": "count", "spark.tasks": "count", "spark.failed_tasks": "count",
        "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.cpu_share": "ratio",
        "spark.gc_s": "s", "spark.shuffle_read_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
        "driver.gap_s": "s",
        "python.run_ms": "ms", "python.boot_ms": "ms", "python.bytes_sent": "bytes",
        "python.bytes_received": "bytes", "python.rows_received": "count",
        "functions.caching.persisted_rdds": "count",
        "peak_rss_mb": "MB",
        "fail_ratio": "ratio",
        "trace.run_s": "s", "trace.overhead_s": "s", "trace.materialize_s": "s",
        "trace.coverage": "ratio",
    })
    return units


# Span name -> per-layer metric (self time, summed over calls in a pass).
SPAN_METRICS = {
    "sources.read_diary": "sources.read_diary_s",
    "operators.lattice.cube_lattice": "operators.lattice.cube_s",
    "operators.timeseries.densify": "operators.timeseries.densify_s",
    "operators.timeseries.interpolate_linear": "operators.timeseries.interpolate_s",
    "operators.timeseries.ewma": "operators.timeseries.ewma_s",
    "operators.timeseries.rolling_monotony_strain": "operators.timeseries.rolling_s",
    "operators.rollup.periodic_rollup": "operators.rollup.periodic_s",
    "pipeline.write_warehouse": "pipeline.write_warehouse_s",
    "cli.cache_facts": "cli.cache_facts_s",
    "cli.write_rollups": "cli.write_rollups_s",
}


# Spans that time the benchmark's own work, not the program's: the pass
# itself, the tracing's materializations, and Spark jobs (annotations
# inside other spans). Coverage is the layers' share of a traced pass's
# wall time less the materializations.
NOT_A_LAYER = ("pass", "trace.", "spark.job.")


def _environment(work: str) -> int:
    """Point every scratch location of Spark and its workers inside the
    checkout, and make the package importable by the Python workers."""
    cpus = len(os.sched_getaffinity(0))
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join((
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"--driver-java-options -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "pyspark-shell",
        )),
    })
    return cpus


class Session:
    """The SparkSession a run uses, restarted once per set-up."""

    def __init__(self, cpus: int):
        self.cpus, self.spark = cpus, None

    def start(self):
        from training_datawarehouse_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", master=f"local[{self.cpus}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def warm_workers(self) -> None:
        self.spark.range(1).groupBy("id").applyInPandas(
            lambda p: p, schema="id long").collect()

    def close(self) -> None:
        """Stop the context, the JVM and its workers; wait for all of them."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        from engine import tree_pids

        deadline = time.time() + 60
        while tree_pids(os.getpid()) and time.time() < deadline:
            time.sleep(0.1)


def _log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _dir_stats(path: str) -> tuple[int, int, int]:
    """(bytes, data files, leaf partition directories) under ``path``."""
    size = files = 0
    leaves = set()
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
            leaves.add(dirpath)
    return size, files, len(leaves)


def run(workload: str, seed: int, seconds: float, trace: bool,
        work: str, out=sys.stdout, **sizes) -> dict:
    """One benchmark run; returns the result object (also printed)."""
    cpus = _environment(work)
    import engine
    import tracing
    from diary_etl import DiaryEtl
    from registry_headline import ENTRIES, RegistryHeadline

    wl = {"diary_etl": DiaryEtl, "registry_headline": RegistryHeadline}[workload](
        os.path.join(work, "input"), seed, **sizes)
    os.makedirs(wl.work_dir, exist_ok=True)
    wl.generate()
    _log(f"{workload}: inputs generated")

    session = Session(cpus)
    attempted = failed = 0
    failures: list[str] = []
    try:
        setups, starts, warmups = [], [], []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            spark = session.start()
            t1 = time.perf_counter()
            session.warm_workers()
            t2 = time.perf_counter()
            setups.append(t2 - t0)
            starts.append(t1 - t0)
            warmups.append(t2 - t1)
            _log(f"set-up {setups[-1]:.2f} s")

        stats = engine.EngineStats(spark)
        null = tracing.NullTracer()
        tracer = tracing.Tracer(f"{workload}-{seed}")
        n_pass = 0

        def one_pass(traced: bool) -> dict:
            """Run, time and check one pass; returns its figures."""
            nonlocal attempted, failed, n_pass
            n_pass += 1
            out_dir = os.path.join(work, f"pass{n_pass}")
            rec: dict = {}
            if trace:
                stats.mark()
                sampler.reset()
            t0 = time.time()
            try:
                if traced:
                    instrument = (wl.instrument(spark, tracer) if workload == "diary_etl"
                                  else contextlib.nullcontext())
                    with tracer.span("pass") as root, instrument:
                        rec["root"] = root["id"]
                        res = wl.run_pass(spark, tracer, out_dir)
                else:
                    res = wl.run_pass(spark, null, out_dir)
            except Exception as e:  # the pass failed as a whole
                res = e
            t1 = time.time()
            rec["run_s"] = t1 - t0
            if trace:
                rec["peak_rss"] = sampler.peak()
                rec["engine"] = stats.since_mark(t0, t1)
            if traced:
                for jid, a, b in stats.jobs_since_mark():
                    tracer.add(f"spark.job.{jid}", a, b, tracer.innermost(a, rec["root"]))
                if workload == "registry_headline" and not isinstance(res, Exception):
                    rec["plan_ms"] = wl.plan_ms(res)
            if isinstance(res, Exception):
                bad = [f"pass raised {res!r}"] * wl.ops_per_pass
            else:
                bad = wl.check(res)
                if workload == "diary_etl":
                    rec["store"] = _dir_stats(os.path.join(out_dir, "facts"))
            attempted += wl.ops_per_pass
            failed += len(bad)
            failures.extend(bad)
            shutil.rmtree(out_dir, ignore_errors=True)
            _log(f"pass {n_pass} ({'traced' if traced else 'untraced'}) "
                 f"{rec['run_s']:.2f} s, {len(bad)} failed")
            return rec

        # The memory sampler and the status-store reads serve the per-layer
        # metrics only; an untraced run leaves them out of its passes.
        sampler = engine.RssSampler(os.getpid())
        with sampler if trace else contextlib.nullcontext():
            for i in range(wl.warmup_passes):  # checked, not reported
                one_pass(traced=trace and i == wl.warmup_passes - 1)
            plain, traced = [], []
            while True:
                plain.append(one_pass(traced=False))
                if trace:
                    traced.append(one_pass(traced=True))
                if (sum(p["run_s"] for p in plain + traced) >= seconds
                        and len(plain) >= (1 if trace else MIN_TIMED_PASSES)):
                    break
    finally:
        session.close()

    run_s = _median([p["run_s"] for p in plain])
    if not trace:
        metrics = {
            "setup_s": _median(setups[1:]),
            "run_s": run_s,
            "records_per_s": wl.records / run_s,
        }
        units = END_TO_END_UNITS
    else:
        units = per_layer_units(ENTRIES)
        metrics = dict.fromkeys(units, 0.0)
        metrics["session.start_s"] = _median(starts[1:])
        metrics["session.warmup_s"] = _median(warmups[1:])
        metrics["peak_rss_mb"] = _median([p["peak_rss"] for p in plain]) / 2**20
        for key in plain[0]["engine"]:
            metrics[key] = _median([p["engine"][key] for p in plain])
        selfs = [tracer.self_times(t["root"]) for t in traced]
        for span, key in SPAN_METRICS.items():
            metrics[key] = _median([s.get(span, 0.0) for s in selfs])
        metrics["pipeline.self_s"] = _median([
            sum(v for k, v in s.items()
                if k.startswith("pipeline.") and k not in SPAN_METRICS) for s in selfs])
        for e in ENTRIES:
            metrics[f"plans.{e}.build_s"] = _median(
                [s.get(f"plans.{e}.build", 0.0) for s in selfs])
            metrics[f"plans.{e}.collect_s"] = _median(
                [s.get(f"plans.{e}.collect", 0.0) for s in selfs])
            metrics[f"plans.{e}.plan_ms"] = _median(
                [t.get("plan_ms", {}).get(e, 0.0) for t in traced])
        if "store" in plain[0]:
            size, files, parts = plain[0]["store"]
            metrics["pipeline.bytes_written"] = float(size)
            metrics["pipeline.files_written"] = float(files)
            metrics["pipeline.files_per_partition"] = files / max(parts, 1)
            metrics["pipeline.stored_bytes_ratio"] = size / wl.input_bytes
        traced_s = _median([t["run_s"] for t in traced])
        metrics["trace.run_s"] = traced_s
        metrics["trace.overhead_s"] = traced_s - run_s
        materialize = [s.get("trace.materialize", 0.0) for s in selfs]
        metrics["trace.materialize_s"] = _median(materialize)
        metrics["trace.coverage"] = _median([
            sum(v for k, v in s.items() if not k.startswith(NOT_A_LAYER))
            / (t["run_s"] - m) for s, t, m in zip(selfs, traced, materialize)])
        metrics["fail_ratio"] = failed / max(attempted, 1)
        os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
        tracer.write(os.path.join(WORK_ROOT, "traces", f"{workload}-seed{seed}.json"))

    for f in failures[:20]:
        print(f"FAILED {f}", file=sys.stderr)
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}", file=out)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), file=out)
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("diary_etl", "registry_headline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import training_datawarehouse_spark as pkg
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) != ROOT:
        print(f"perfbench: the package was imported from {pkg.__file__}, "
              f"not from the checkout at {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
