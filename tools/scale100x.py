"""100× measured-scaling spot-check (round-5 verdict task 6; extended
to the MinHash-LSH dedup family in round 6 per VERDICT r5 task 3).

Extends tools/scale10x.py's replica method by another decade for the
scan-agg (tpch_q1), exact-dedup (ns_dedup_exact), as-of-join
(op_jn_asof) families plus — r6 — the full MinHash-LSH cross-modal
pipeline (the registry entry's md5 family,
~500 k documents at 100×, near-dup density kept linear by the same
9-of-10 per-copy perturbation rule: text suffixes for documents,
vector rotations for embeddings, vec_id shifted by DOCUMENTS' row
count so the doc_id ≡ vec_id cross-modal prefix stays aligned), and a
bucket-size-distribution probe recording the hot-bucket cap behavior.
It SPLITS COMPUTE FROM DRIVER TRANSFER: each query is timed both
as ``collect()`` (what bench.py reports — includes transfer + Python
Row materialization of the full result on the driver) and as a
``noop``-format write (full executor-side materialization of every
output column, zero driver transfer). At 10× the as-of row's 4.3×
growth was suspected to be mostly result transfer (its OUTPUT grows
linearly with input); the noop column decides that.

Replica: one crossJoin with a 100-row copy index (a single codegen'd
plan, not a 100-way union), identity keys shifted per copy exactly as
scale10x does, documents' text suffixed per copy on a 9-of-10 slice so
exact-dup density stays ~10 % instead of collapsing 100 copies to 1.

Usage: python tools/scale100x.py [--rebuild]
Output: one table; paste into SCALE.md.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SRC = "/root/testdata/sf0.1"
DST = "/tmp/spark_graft_sf100x"
N_COPIES = 100

# only the tables the spot-check queries touch
TABLES = ["lineitem", "documents", "events", "embeddings"]
KEY_SHIFT = {
    "lineitem": ["l_orderkey"],
    "events": ["user_id", "event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
# vec_id must stay aligned with doc_id across copies (cross-modal
# joins on doc_id == vec_id over the shared prefix), so embeddings
# shift by DOCUMENTS' row count, not their own
SHIFT_SOURCE = {"embeddings": "documents"}
QUERIES_UNDER_TEST = ["tpch_q1_pricing_summary", "ns_dedup_exact", "op_jn_asof",
                      "ns_dedup_lsh_cross_modal"]


def build_replica(spark) -> None:
    from training_datawarehouse_spark.sources.tables import load_table

    if os.path.exists(DST):
        shutil.rmtree(DST)
    os.makedirs(DST)
    copies = F.col("__copy")
    shift_n = {
        t: load_table(spark, SRC, t).count() for t in TABLES
    }
    for t in TABLES:
        df = load_table(spark, SRC, t)
        n = shift_n[t]
        shift = shift_n[SHIFT_SOURCE.get(t, t)]
        out = df.crossJoin(
            spark.range(N_COPIES).select(F.col("id").alias("__copy"))
        )
        for k in KEY_SHIFT[t]:
            out = out.withColumn(
                k, (F.col(k) + copies * F.lit(shift + 1)).cast("long")
            )
        if t == "embeddings":
            # 9-of-10 slice per copy gets its vector ROTATED by the
            # copy index: cosine(x, rot_c(x)) ~ 0 for random vectors,
            # so cross-copy embedding near-dup density stays linear
            # (mirrors the documents text-suffix rule); the 1-of-10
            # identical slice keeps realistic dup groups
            dim = F.size("embedding")
            r = F.pmod(copies, dim).cast("int")
            out = out.withColumn(
                "embedding",
                F.when(
                    (copies > 0) & (F.col("vec_id") % 10 != 0),
                    F.concat(
                        F.slice("embedding", r + 1, dim - r),
                        F.slice("embedding", 1, r),
                    ),
                ).otherwise(F.col("embedding")),
            )
        if t == "documents":
            # Near-dup structure must stay LINEAR in corpus size: a
            # naive per-copy suffix changes only ~3 shingles, so ALL
            # 100 copies of a doc stay mutual near-dups and the true
            # pair count grows QUADRATICALLY in copies — a generator
            # artifact that would drown the engine measurement. Here
            # copies form per-decade clusters: every token gets a
            # decade suffix (d>0), so shingle sets across decades are
            # disjoint (J~0); within a decade, j=1..8 append a 1-token
            # variant mark (near-dups of the decade base), and j=9
            # repeats the base exactly (exact-dup pair per decade,
            # ~10% exact-dup rows like the r5 generator). Cluster
            # size is constant (10), cluster COUNT grows with the
            # data -> candidate pairs grow linearly.
            dec = F.floor(copies / F.lit(10)).cast("int")
            j = (copies % 10).cast("int")
            base = F.when(
                dec > 0,
                F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda tk: F.concat(
                            tk, F.lit("d"), dec.cast("string")
                        ),
                    ),
                    " ",
                ),
            ).otherwise(F.col("text"))
            varied = F.when(
                (j > 0) & (j < 9),
                F.concat(base, F.lit(" copymark"), j.cast("string")),
            ).otherwise(base)
            # ~1/41 of ALL rows collapse to one degenerate boilerplate
            # text: a single ~12k-member LSH bucket in every band —
            # far over the 10k hot-bucket cap, so the cap MUST engage
            # (without it this alone would be ~74M in-bucket pairs).
            # The bucket_stats probe records it.
            out = out.withColumn(
                "text",
                F.when(
                    F.col("doc_id") % 41 == 0,
                    F.lit("spam boilerplate spam boilerplate spam"),
                ).otherwise(varied),
            )
        out.drop("__copy").repartition(64).write.mode("overwrite").parquet(
            f"{DST}/{t}.parquet"
        )
        print(f"replica {t}: {n} -> {n * N_COPIES} rows", flush=True)


def time_both(q, spark, sf_dir: str) -> tuple[float, float, int]:
    """(collect_sec, noop_sec, n_rows) — best of 2 each, collect first.

    The compute-only probe is a ``noop``-format write, NOT ``count()``:
    count lets Catalyst prune every unused output expression (a
    grouped count keeps only the grouping keys), so it under-measures
    compute; a noop write must materialize every output column on the
    executors while transferring nothing to the driver."""
    coll = noop = float("inf")
    n_rows = 0
    for _ in range(2):
        t0 = time.time()
        rows = q.builder(spark, sf_dir).collect()
        coll = min(coll, time.time() - t0)
        n_rows = len(rows)
        del rows
        t0 = time.time()
        q.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        noop = min(noop, time.time() - t0)
    return round(coll, 2), round(noop, 2), n_rows


def main() -> None:
    from training_datawarehouse_spark.plans import QUERIES
    from training_datawarehouse_spark.session import get_spark

    spark = get_spark("scale100x")
    spark.sparkContext.setLogLevel("ERROR")
    if "--rebuild" in sys.argv or not os.path.exists(
        f"{DST}/lineitem.parquet"
    ):
        build_replica(spark)

    QUERIES["op_agg_3_weighted_mean"].builder(spark, SRC).collect()
    spark.range(1).groupBy("id").applyInPandas(
        lambda p: p, schema="id long"
    ).collect()

    hdr = (f"{'query':28s} {'0.1 coll':>9s} {'0.1 noop':>8s} "
           f"{'100x coll':>10s} {'100x noop':>9s} {'coll x':>7s} "
           f"{'noop x':>6s} {'rows@100x':>10s}")
    print(hdr)

    class _Q:  # bench-extra twin: not in the registry, timed the same
        def __init__(self, builder):
            self.builder = builder

    from training_datawarehouse_spark.plans.northstar import DSIR_TARGET_SOURCES
    from training_datawarehouse_spark.operators.classifier import (
        logreg_quality,
    )
    from training_datawarehouse_spark.operators.text import dsir_importance
    from training_datawarehouse_spark.sources.tables import load_table

    def _lrq(spark, sf_dir):
        # the r6 trained classifier, in isolation: fit (3 GD epochs,
        # eager) + the scored per-doc frame
        return logreg_quality(
            load_table(spark, sf_dir, "documents"), "doc_id", "text",
            label_flag=F.col("source").isin(*DSIR_TARGET_SOURCES),
            n_buckets=256, epochs=3, lr=0.5,
        )

    def _dsir(spark, sf_dir):
        # the r6 DSIR selection, in isolation: both models from one
        # feature scan + per-doc weights + per-domain rank selection
        return dsir_importance(
            load_table(spark, sf_dir, "documents"), "doc_id", "text",
            target_flag=F.col("source").isin(*DSIR_TARGET_SOURCES),
            n_buckets=256, select_frac=0.25, domain_col="source",
        )

    under_test = [(n, QUERIES[n]) for n in QUERIES_UNDER_TEST]
    under_test += [("lrq_fit_score", _Q(_lrq)), ("dsir_select", _Q(_dsir))]
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    if names:
        under_test = [(n, q) for n, q in under_test if n in names]
    for name, q in under_test:
        a_coll, a_cnt, _ = time_both(q, spark, SRC)
        b_coll, b_cnt, b_rows = time_both(q, spark, DST)
        print(
            f"{name:28s} {a_coll:9.2f} {a_cnt:8.2f} {b_coll:10.2f} "
            f"{b_cnt:9.2f} {b_coll / a_coll:7.1f} {b_cnt / a_cnt:6.1f} "
            f"{b_rows:10d}",
            flush=True,
        )

    if not names:  # the LSH probe belongs to the full sweep only
        bucket_stats(spark)
    if "--retrieval" in sys.argv:
        retrieval_probe(spark)
    if "--funnel" in sys.argv:
        funnel_probe(spark)
    if "--quant" in sys.argv:
        quant_probe(spark)
    if "--video" in sys.argv:
        video_probe(spark)
    if "--nnd-insert" in sys.argv:
        nnd_probe(spark)
    if "--graph" in sys.argv:
        graph_probe(spark)
    if "--cc" in sys.argv:
        cc_probe(spark)
    if "--qsk" in sys.argv:
        qsk_probe(spark)
    if "--ttl-event" in sys.argv:
        ttl_event_probe(spark)
    if "--ttl" in sys.argv:
        ttl_probe(spark)
    if "--ckstats" in sys.argv:
        ckstats_probe(spark)
    if ("--nnd-500k" in sys.argv or "--nnd-refine3" in sys.argv
            or "--nnd-1m" in sys.argv or "--nnd-smoke" in sys.argv):
        nnd_scale_probe(spark)


def qsk_probe(spark) -> None:
    """r13 (verdict #5): the quantile sketch's REALIZED accuracy curve
    at 100× events (10 M rows) for K ∈ {256, 2048, 16384} — so the
    documented ~8× accuracy-per-byte gap vs KLL is a measured table
    users can size K against, not an estimate. Per (K, type,
    quantile): the estimate's exact rank (the twin the registry
    carries), realized |rank/N − q|, and the 4σ prediction
    4·sqrt(q(1−q)/K). Also wall-clock per K — the prefilter keeps the
    sort ~8K rows, so build cost should move far less than K does."""
    from training_datawarehouse_spark.functions.caching import (
        release_local_checkpoint,
    )
    from training_datawarehouse_spark.plans.relational import _qsk_stages
    from training_datawarehouse_spark.sources.tables import load_table

    ev = load_table(spark, DST, "events")
    n_by_type = {r["event_type"]: r["n"] for r in
                 ev.groupBy("event_type").agg(
                     F.count(F.lit(1)).alias("n")).collect()}
    print(f"\n--- qsk probe: {sum(n_by_type.values())} events, "
          f"{len(n_by_type)} types", flush=True)
    print(f"{'K':>6s} {'build_s':>8s} {'q':>4s} "
          f"{'mean|err|':>10s} {'max|err|':>9s} {'4sigma':>8s} "
          f"{'in_band':>8s}", flush=True)
    qv = {"p50": 0.5, "p95": 0.95, "p99": 0.99}
    for k in (256, 2048, 16384):
        t0 = time.time()
        out = _qsk_stages(spark, ev, k=k)
        rows = [r for r in out.collect() if r["stage"] == "qsk"]
        t_build = time.time() - t0
        for lbl, q in sorted(qv.items()):
            errs = []
            n_in = 0
            for r in rows:
                t, l2 = r["k"].split("|")
                if l2 != lbl:
                    continue
                err = abs(r["n"] / n_by_type[t] - q)
                errs.append(err)
                n_in += bool(r["hll_in_band"])
            sig4 = 4.0 * (q * (1 - q) / k) ** 0.5
            print(f"{k:>6d} {t_build:8.1f} {lbl:>4s} "
                  f"{sum(errs) / len(errs):10.5f} {max(errs):9.5f} "
                  f"{sig4:8.5f} {n_in:>3d}/{len(errs)}", flush=True)
        release_local_checkpoint(out)


def _nnd_mixture(spark, n_members: int = 3125, dim: int = 64):
    """The graph family's target-regime corpus (see nnd_probe
    docstring): ``dim`` clusters x ``n_members`` members, intrinsic
    dimension 4 per cluster (member = center + 0.15-scale md5-uniform
    mix of 4 rotation components — an earlier cos(2*pi*c*p/n) scheme
    was EVEN in c, so members c and n-c were exact duplicates;
    md5 has no such symmetry). Returns (checkpointed frame, count);
    cluster identity = vec_id % 2000."""
    from training_datawarehouse_spark.sources.tables import load_table

    base = load_table(spark, SRC, "embeddings") \
        .orderBy("vec_id").limit(dim) \
        .select(F.col("vec_id").alias("__cid"), "embedding")
    copies = spark.range(n_members).select(F.col("id").alias("__c"))
    mix = base.crossJoin(copies)
    member = F.col("embedding")
    for j, shift in enumerate((16, 24, 40, 48)):
        s = F.concat(
            F.slice("embedding", shift + 1, dim - shift),
            F.slice("embedding", 1, shift),
        )
        g = (
            F.conv(F.substring(F.md5(F.concat_ws(
                "|", F.col("__c").cast("string"), F.lit(str(j)))),
                1, 15), 16, 10).cast("double")
            / F.lit(float(1 << 60)) - 0.5
        )
        member = F.zip_with(member, s, lambda a, b: a + g * b)
    emb = (
        mix.select(
            (F.col("__cid") + F.lit(2000) * F.col("__c")).alias("vec_id"),
            F.transform(member, lambda v: F.round(v, 6)).alias("embedding"),
        )
        .localCheckpoint(eager=True)
    )
    n = emb.count()
    print(f"mixture corpus: {dim} clusters x {n_members} members "
          f"(intrinsic dim 4) = {n} vectors", flush=True)
    return emb, n


def _cell_reps(nodes, cents):
    """IVF serving plumbing: one representative (min id) per trained
    cell, over whatever node set may legally enter the target graph
    (full corpus for the base graph; LAYER MEMBERS ONLY for a coarse
    layer — the r12 lesson: global entries strand descent in wrong
    clusters)."""
    from training_datawarehouse_spark.operators import similarity as sim

    return (
        nodes.select(
            F.col("vec_id").alias("nid"),
            sim.nearest_centroid_lists(
                sim._as_double(F.col("embedding")), cents, 1
            )[0]["list_id"].alias("list_id"),
        )
        .groupBy("list_id").agg(F.min("nid").alias("nid"))
        .localCheckpoint(eager=True)
    )


def _cell_entries(qdf, cents, reps, n_probe: int = 2):
    """Per-query entry nodes: reps of the query's n_probe nearest
    trained cells."""
    from training_datawarehouse_spark.operators import similarity as sim

    qassign = qdf.select(
        "query_id",
        F.explode(F.transform(
            sim.nearest_centroid_lists(
                sim._as_double(F.col("embedding")), cents, n_probe),
            lambda s: s["list_id"],
        )).alias("list_id"),
    )
    return qassign.join(F.broadcast(reps), "list_id") \
        .select("query_id", "nid")


def nnd_probe(spark) -> None:
    # Scoped iterative confs (r14 verdict #3): probe flags chain in
    # ONE session, so the relational probes that may follow must get
    # their runtime bloom filters back on exit.
    from training_datawarehouse_spark.session import iterative_tuning

    with iterative_tuning(spark):
        _nnd_probe_body(spark)


def _nnd_probe_body(spark) -> None:
    """r12 probes #2/#3: NN-descent CONVERGENCE, incremental insert,
    and the serving path, all at 200 k vectors.

    Corpus: a 64-cluster x 3 125-member mixture with intrinsic
    dimension 4 per cluster (member = center + 0.15 * sum of 4
    quasi-random rotation components) — the family's target regime.
    The two regime EXTREMES were measured first and recorded in
    SCALE.md as failure floors, not used as the instrument: the raw
    LSH replica (identical-copy cliques -> disconnection, insert
    recall 0.071) and its exact-collapse (mutually orthogonal
    rotations -> maximal intrinsic dimension, recall 0.034 even with
    IVF-entry seeds).

    Measurements (r13 — the convergence round):
    - BUILDS: IVF-seeded flat descent (8 rounds; the r12 verdict's
      named lever — converts coarse navigation but random in-cell
      seeds still start a cluster-diameter out) vs the RECURSIVE
      build (converged core + doubling-wave beam-seeded inserts —
      the recipe the r12 insert measurement implied: beam seeds are
      approximate top-k already). r12 ring baselines stay recorded
      in SCALE.md (k8/3r: recall 0.00; k8/10r: 131 s, recall 0.008).
    - SERVE: 2 000-query batch on the converged recursive graph —
      flat descent (3/8 hops, IVF entries; global entries) vs the
      2-layer hierarchical path at two hop budgets; r12's serve
      numbers were ceilinged by the unconverged base graph.
    """
    import numpy as np

    from training_datawarehouse_spark.functions.caching import (
        release_local_checkpoint,
    )
    from training_datawarehouse_spark.operators.nndescent import (
        nnd_graph_ivf, nnd_graph_recursive, nnd_sample_layer,
        nnd_search, nnd_search_hier,
    )

    from training_datawarehouse_spark.operators.similarity import cosine_topk

    dim = 64
    n_members = 3125
    emb, n = _nnd_mixture(spark, n_members=n_members, dim=dim)

    def exact_sets(sampled, k=8):
        # ground truth under the GRAPH'S total order (6-dp-rounded
        # cos DESC, id) — cosine_topk ranks by unrounded cosine, so
        # fetch extra rows and re-rank by the returned rounded values
        per = {}
        for r in cosine_topk(emb, sampled, "vec_id", "embedding",
                             k=4 * k).collect():
            per.setdefault(r["query_id"], []).append(
                (-r["cosine"], r["neighbor_id"]))
        return {q: {nid for _, nid in sorted(v)[:k]}
                for q, v in per.items()}

    def adj_recall(g, ex, ids, k=8):
        adj = {}
        for r in g.filter(F.col("src").isin(ids)).collect():
            adj.setdefault(r["src"], set()).add(r["dst"])
        return float(np.mean([
            len(adj.get(i, set()) & ex[i]) / k for i in ex
        ]))

    # ---- (k, rounds) sweep on the full corpus. Two-phase
    # convergence, measured: rounds to converge grow with corpus AND
    # cluster size (bootstrap: ~(2k)^2 candidates/node/round hit a
    # 3125/200k=1.6% in-cluster rate, then fine descent inside the
    # 3125-member cluster) — the bench-scale calibration (k=8,
    # iters=3) is nowhere near converged at 200 k. Instruments:
    # in-cluster edge fraction (phase 1), exact-set recall@8 (strict:
    # the exact 8 of 3125 siblings), and the similarity RATIO
    # (mean found-cos / mean exact-top-8-cos — what curation quality
    # actually depends on).
    sweep_ids = [int(r["vec_id"]) for r in
                 emb.filter(F.col("vec_id") % 997 == 0)
                 .limit(200).collect()]
    sampled = emb.filter(F.col("vec_id").isin(sweep_ids))
    ex_sweep = exact_sets(sampled)
    ex_cos = {}
    for r in cosine_topk(emb, sampled, "vec_id", "embedding",
                         k=8).collect():
        ex_cos.setdefault(r["query_id"], []).append(r["cosine"])

    def sim_ratio(g, ids):
        found = {}
        for r in g.filter(F.col("src").isin(ids)).collect():
            found.setdefault(r["src"], []).append(r["cos"])
        return float(np.mean([
            np.mean(found.get(i, [0.0])) / np.mean(ex_cos[i])
            for i in ex_cos
        ]))

    def in_cluster_frac(g):
        return float(g.select(
            (F.col("src") % 2000 == F.col("dst") % 2000)
            .cast("int").alias("i")).agg(F.avg("i")).first()[0])

    # ---- r13 builds: IVF-seeded flat descent (the r12 verdict's
    # named lever) vs the RECURSIVE build (core + doubling-wave beam
    # inserts — the recipe the r12 insert measurement implied). The
    # r12 baselines stay recorded in SCALE.md: ring k=8/3 rounds 49 s
    # recall 0.00; ring k=8/10 rounds 131 s recall 0.008.
    kk = 8
    g_full = None
    t0 = time.time()
    g_ivf, _ = nnd_graph_ivf(emb, k=kk, iters=8, n_lists=64,
                             kmeans_iters=4)
    t_ivf = time.time() - t0
    print(f"build[ivf-seeded k={kk}, 8 rounds, 200k]: {t_ivf:.1f}s "
          f"in_cluster={in_cluster_frac(g_ivf):.3f} "
          f"recall@8={adj_recall(g_ivf, ex_sweep, sweep_ids):.3f} "
          f"sim_ratio={sim_ratio(g_ivf, sweep_ids):.4f}", flush=True)
    release_local_checkpoint(g_ivf)

    t0 = time.time()
    g_full, cents = nnd_graph_recursive(
        emb, k=kk, core_frac=64, core_iters=8, refine_iters=2,
        n_lists=64, kmeans_iters=4)
    t_full = time.time() - t0
    print(f"build[recursive core64 k={kk}, 200k]: {t_full:.1f}s "
          f"in_cluster={in_cluster_frac(g_full):.3f} "
          f"recall@8={adj_recall(g_full, ex_sweep, sweep_ids):.3f} "
          f"sim_ratio={sim_ratio(g_full, sweep_ids):.4f}", flush=True)

    # IVF entry plumbing for serving (reps over the FULL corpus — any
    # member is a valid entry into the final graph)
    reps = _cell_reps(emb, cents)

    def entries_for(qdf):
        return _cell_entries(qdf, cents, reps)

    # ---- serve on the (finally) CONVERGED graph — re-pricing the r12
    # serve table, whose recall was ceilinged by the unconverged base
    qn = 2000
    qsrc = emb.filter(F.col("vec_id") % 101 == 0) \
        .limit(qn) \
        .select(
            F.col("vec_id").alias("query_id"),
            F.transform(
                "embedding", lambda x: F.round(x * 1.01 + 0.003, 6)
            ).alias("embedding"),
        ).localCheckpoint(eager=True)
    nq = qsrc.count()
    per_q = {}
    for r in cosine_topk(emb, qsrc.withColumnRenamed(
            "query_id", "vec_id"), "vec_id", "embedding", k=20).collect():
        per_q.setdefault(r["query_id"], []).append(
            (-r["cosine"], r["neighbor_id"]))
    ex_q = {q: {nid for _, nid in sorted(v)[:5]}
            for q, v in per_q.items()}

    def serve(label, fn):
        t0 = time.time()
        served = fn()
        t_serve = time.time() - t0
        sv = {}
        for r in served.collect():
            sv.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        release_local_checkpoint(served)
        rec5 = float(np.mean([
            len(sv.get(i, set()) & ex_q[i]) / 5 for i in ex_q
        ]))
        print(f"serve[{label}]: {nq} queries in {t_serve:.1f}s "
              f"({nq / t_serve:.0f} q/s batch) "
              f"recall@5={rec5:.3f}", flush=True)

    serve("flat ivf-entry 3hops", lambda: nnd_search(
        g_full, emb, qsrc, k=5, beam=8, hops=3,
        entry_df=entries_for(qsrc)))
    serve("flat ivf-entry 8hops", lambda: nnd_search(
        g_full, emb, qsrc, k=5, beam=8, hops=8,
        entry_df=entries_for(qsrc)))
    serve("flat ivf-entry 8hops beam16", lambda: nnd_search(
        g_full, emb, qsrc, k=5, beam=16, hops=8,
        entry_df=entries_for(qsrc)))
    serve("flat global 8hops", lambda: nnd_search(
        g_full, emb, qsrc, k=5, beam=8, hops=8))
    t0 = time.time()
    emb1 = nnd_sample_layer(emb, frac=64).localCheckpoint(eager=True)
    n1 = emb1.count()
    g1, _ = nnd_graph_ivf(emb1, k=kk, iters=8, n_lists=64,
                          kmeans_iters=4, centroids=cents)
    t_layer = time.time() - t0
    print(f"coarse layer: {n1} nodes, graph built in {t_layer:.1f}s",
          flush=True)
    # coarse-layer IVF reps: entries into the LAYER graph must be
    # layer members (the r12 lesson, applied at the layer: the coarse
    # graph is cluster-disconnected like any converged k-NN graph, so
    # global hash entries strand coarse descent in wrong clusters —
    # measured: hier w/ global coarse entries 0.050 vs flat-ivf 0.284)
    reps1 = _cell_reps(emb1, cents)

    def entries_for1(qdf):
        return _cell_entries(qdf, cents, reps1)

    serve("hier 6+6hops global", lambda: nnd_search_hier(
        g_full, emb, g1, emb1, qsrc, k=5, beam=8, hops0=6, hops1=6))
    serve("hier ivf 4+4hops", lambda: nnd_search_hier(
        g_full, emb, g1, emb1, qsrc, k=5, beam=8, hops0=4, hops1=4,
        entry_df1=entries_for1(qsrc)))
    serve("hier ivf 6+6hops", lambda: nnd_search_hier(
        g_full, emb, g1, emb1, qsrc, k=5, beam=8, hops0=6, hops1=6,
        entry_df1=entries_for1(qsrc)))
    serve("hier ivf 4+4hops beam16", lambda: nnd_search_hier(
        g_full, emb, g1, emb1, qsrc, k=5, beam=16, hops0=4, hops1=4,
        entry_df1=entries_for1(qsrc)))
    for df in (g_full, g1, emb1, qsrc, reps, reps1, emb):
        release_local_checkpoint(df)


def video_probe(spark) -> None:
    """r10: the video-fingerprint family at 100× docs (500 k docs →
    2 M frame signatures). Claims under test: (a) the codec+hash
    crossing stays CPU-sized via the parallelism knob and the batched
    einsum, (b) frame-grain banding scales like the image family at
    4× its rows, (c) 16-bit bucket occupancy at 2 M fid-grain rows —
    the known envelope edge of the 64-bit/4-band family — and (d)
    temporal-offset voting adds only a pair-grain groupBy + window."""
    from training_datawarehouse_spark.operators import video as vd
    from training_datawarehouse_spark.operators.phash import (
        DEFAULT_MAX_BUCKET, DEFAULT_PARAMS, PRODUCTION_PARAMS,
        scaled_max_hamming,
    )
    from training_datawarehouse_spark.sources.tables import load_table

    def occupancy(sig, params):
        comp = sig.select(
            (F.col("id") * vd.N_FRAMES + F.col("frame")).alias("id"),
            *params.band_cols)
        band_structs = F.array(*[
            F.struct(F.lit(k).alias("band"), F.col(f"b{k}").alias("val"))
            for k in range(params.n_bands)
        ])
        return (
            comp.select(F.explode(band_structs).alias("bs"))
            .groupBy("bs.band", "bs.val").count()
            .agg(
                F.max("count").alias("max_bucket"),
                F.expr("percentile_approx(count, 0.99)").alias("p99"),
                (F.sum(F.when(F.col("count") > DEFAULT_MAX_BUCKET,
                              F.col("count")).otherwise(0))
                 / F.sum("count")).alias("frac_rows_capped"),
            ).collect()[0]
        )

    def cap_grain_occupancy(sig, params):
        """r12 probe: the SAME doc-weight loss metric under both cap
        grains — what fraction of doc-weighted band rows land in
        buckets the cap would skip. Claim: under the rep-grain cap
        (exact-collapse production path) the doc-weight over-cap drops
        to ~the rep-grain shape, because the 8.4 % residual was
        identical-fingerprint mega-groups, not hash crowding."""
        comp = sig.select(
            (F.col("id") * vd.N_FRAMES + F.col("frame")).alias("id"),
            *params.band_cols)
        groups = comp.groupBy(*params.band_cols).agg(
            F.count(F.lit(1)).alias("gn"))
        band_structs = F.array(*[
            F.struct(F.lit(k).alias("band"), F.col(f"b{k}").alias("val"))
            for k in range(params.n_bands)
        ])
        buckets = (
            groups.select("gn", F.explode(band_structs).alias("bs"))
            .groupBy("bs.band", "bs.val")
            .agg(F.count(F.lit(1)).alias("n_rep"),
                 F.sum("gn").alias("w_doc"))
        )
        return buckets.agg(
            (F.sum(F.when(F.col("w_doc") > DEFAULT_MAX_BUCKET,
                          F.col("w_doc")).otherwise(0))
             / F.sum("w_doc")).alias("doc_over_doccap"),
            (F.sum(F.when(F.col("n_rep") > DEFAULT_MAX_BUCKET,
                          F.col("w_doc")).otherwise(0))
             / F.sum("w_doc")).alias("doc_over_repcap"),
            (F.sum(F.when(F.col("n_rep") > DEFAULT_MAX_BUCKET,
                          F.col("n_rep")).otherwise(0))
             / F.sum("n_rep")).alias("rep_over_repcap"),
        ).collect()[0]

    for sf_dir, label in ((SRC, "sf0.1"), (DST, "100x")):
        docs = load_table(spark, sf_dir, "documents")
        n = docs.count()
        t0 = time.time()
        sig = vd.video_phash_signatures(
            docs, "doc_id", "text",
            parallelism=spark.sparkContext.defaultParallelism,
        ).localCheckpoint(eager=True)
        n_sig = sig.count()
        sig_s = round(time.time() - t0, 2)
        occ = occupancy(sig, DEFAULT_PARAMS)
        t0 = time.time()
        pairs = vd.video_pair_matches(sig).localCheckpoint(eager=True)
        pair_s = round(time.time() - t0, 2)
        n_pairs = pairs.count()
        print(
            f"video[{label}] docs={n} frame_sigs={n_sig} "
            f"crossing+ckpt={sig_s}s pairs={n_pairs} match={pair_s}s "
            f"max_bucket={occ['max_bucket']} p99={occ['p99']} "
            f"frac_rows_capped={occ['frac_rows_capped']:.4f}",
            flush=True,
        )
        # r11: the PRODUCTION envelope (16x16 DCT -> 256-bit hash ->
        # 16 x 16-bit bands) on the SAME corpus — the prescribed fix
        # for the 64-bit family's measured 16.6 % over-cap band rows
        # at 2 M frame signatures. Same cap, 4x sparser buckets per
        # band; the claim under test is frac_rows_capped -> ~0.
        t0 = time.time()
        sig256 = vd.video_phash_signatures(
            docs, "doc_id", "text",
            parallelism=spark.sparkContext.defaultParallelism,
            params=PRODUCTION_PARAMS,
        ).localCheckpoint(eager=True)
        n_sig256 = sig256.count()
        sig256_s = round(time.time() - t0, 2)
        occ256 = occupancy(sig256, PRODUCTION_PARAMS)
        t0 = time.time()
        pairs256 = vd.video_pair_matches(
            sig256,
            max_hamming=scaled_max_hamming(PRODUCTION_PARAMS),
            params=PRODUCTION_PARAMS,
        ).localCheckpoint(eager=True)
        pair256_s = round(time.time() - t0, 2)
        n_pairs256 = pairs256.count()
        print(
            f"video256[{label}] docs={n} frame_sigs={n_sig256} "
            f"crossing+ckpt={sig256_s}s pairs={n_pairs256} "
            f"match={pair256_s}s max_bucket={occ256['max_bucket']} "
            f"p99={occ256['p99']} "
            f"frac_rows_capped={occ256['frac_rows_capped']:.4f}",
            flush=True,
        )
        # r12: the exact-collapse production path (cap_grain='rep') —
        # doc-weight over-cap must collapse to ~the rep-grain shape,
        # and the end-to-end rep-cap match run must stay pair-bounded
        cg = cap_grain_occupancy(sig256, PRODUCTION_PARAMS)
        t0 = time.time()
        pairs_rep = vd.video_pair_matches(
            sig256,
            max_hamming=scaled_max_hamming(PRODUCTION_PARAMS),
            params=PRODUCTION_PARAMS, cap_grain="rep",
        ).localCheckpoint(eager=True)
        pair_rep_s = round(time.time() - t0, 2)
        n_pairs_rep = pairs_rep.count()
        print(
            f"video256rep[{label}] doc_w_over_DOCcap={cg['doc_over_doccap']:.4f} "
            f"doc_w_over_REPcap={cg['doc_over_repcap']:.4f} "
            f"rep_over_REPcap={cg['rep_over_repcap']:.4f} "
            f"pairs_repcap={n_pairs_rep} match={pair_rep_s}s",
            flush=True,
        )


def quant_probe(spark) -> None:
    """r8: the two new embedding-model families at 100× vectors
    (200 k × 64-d) — PQ (fused codebook training + row-local encode +
    ADC top-k for 8 queries) and PCA whitening (distributed moments +
    driver power iteration + row-local projection). Claim under test:
    both are scan-agg-profile (training passes return model-sized
    rows; encode/projection are row-local; the ADC top-k is the only
    candidate-grain shuffle)."""
    from training_datawarehouse_spark.operators import pca
    from training_datawarehouse_spark.operators import quantization as pqz
    from training_datawarehouse_spark.operators.retrieval import (
        topk_per_query,
    )
    from training_datawarehouse_spark.sources.tables import load_table

    for sf_dir, label in ((SRC, "sf0.1"), (DST, "100x")):
        emb = load_table(spark, sf_dir, "embeddings")
        n = emb.count()
        t0 = time.time()
        books = pqz.pq_train(emb, "embedding", dim=64, m=4, ksub=8,
                             iters=4)
        train_s = round(time.time() - t0, 2)
        codes = pqz.pq_encode(emb, "embedding", books)
        enc_s = _time_noop(codes)
        queries = emb.filter(F.col("vec_id") < 8)
        adc = pqz.pq_adc_scores(codes, queries, books).withColumnRenamed(
            "adc_d2", "score"
        )
        # ADC is a distance: rank ascending by negating before the
        # descending two-level top-k
        adc = adc.withColumn("score", -F.col("score"))
        topk_s = _time_noop(topk_per_query(adc, 10))
        print(
            f"pq[{label}] n={n} train={train_s}s encode_noop={enc_s}s "
            f"adc_topk_noop={topk_s}s",
            flush=True,
        )

        # r10: 8-bit scalar quantization — train is ONE min/max agg,
        # encode/ADC row-local; claim: train cost ~ a corpus scan,
        # flat in everything but data volume
        t0 = time.time()
        mins, maxs = pqz.sq_train(emb, "embedding", dim=64)
        sq_train_s = round(time.time() - t0, 2)
        sq_codes = pqz.sq_encode(emb, "embedding", mins, maxs)
        sq_enc_s = _time_noop(sq_codes)
        sq = pqz.sq_adc_scores(sq_codes, queries, mins, maxs) \
            .withColumn("score", -F.col("sq_d2"))
        sq_topk_s = _time_noop(topk_per_query(sq, 10))
        print(
            f"sq8[{label}] n={n} train={sq_train_s}s "
            f"encode_noop={sq_enc_s}s adc_topk_noop={sq_topk_s}s",
            flush=True,
        )

        t0 = time.time()
        means, comps, eigs = pca.pca_whiten_fit(
            emb, "embedding", n_components=2, iters=12
        )
        fit_s = round(time.time() - t0, 2)
        proj_s = _time_noop(
            pca.whiten_project(emb, "embedding", means, comps, eigs)
        )
        print(
            f"pca[{label}] n={n} fit={fit_s}s project_noop={proj_s}s",
            flush=True,
        )




def graph_probe(spark) -> None:
    """r12: the bloom-decontamination and fixed-point-PageRank families
    at 100x docs (500 k). Claims under test: (a) the bloom probe is a
    pure scan — its cost tracks the corpus scan, far under the exact
    gram join, at a broadcast payload sized by M alone; (b) the
    registry-default M=65536 SATURATES at a real eval set (measured,
    not assumed) and the m_bits knob restores the fp floor at ~1 MB;
    (c) 5-iteration integer PageRank at 500 k nodes / ~660 k edges is
    join-agg bounded with mass conservation holding exactly."""
    from training_datawarehouse_spark.operators import dedup as dd
    from training_datawarehouse_spark.operators import graph as gr
    from training_datawarehouse_spark.operators import text as tx
    from training_datawarehouse_spark.sources.tables import load_table

    docs = load_table(spark, DST, "documents").localCheckpoint(eager=True)
    n_docs = docs.count()
    label = tx.train_val_test_split(F.col("doc_id"))
    ev = docs.filter(label != "train")
    tr = docs.filter(label == "train")
    n_ev_grams = (
        dd._gram_stream(ev, "doc_id", "text", 5)
        .select("__gram").distinct().count()
    )
    print(f"\n--- graph probe: {n_docs} docs, eval distinct 5-grams "
          f"{n_ev_grams}", flush=True)

    # r13: None = the AUTO default (sizes itself from the eval gram
    # count — the verdict-#2 fix; the saturated pinned-M rows stay as
    # the measured hazard the auto mode exists to prevent)
    for m_bits in (dd.BLOOM_M, 1 << 23, None):
        t0 = time.time()
        bloom = dd.bloom_build(ev, "doc_id", "text", n=5, m_bits=m_bits)
        row = bloom.collect()[0]
        t_build = time.time() - t0
        m_used = row["m_bits"]
        fill = row["fill"]
        bloomed = spark.createDataFrame([row], bloom.schema)
        probe = dd.bloom_probe(tr, "doc_id", "text", bloomed, n=5,
                               m_bits=m_used)
        t_probe = _time_noop(probe)
        lit = dd.bloom_probe_lit(tr, "doc_id", "text",
                                 list(row["words"]), n=5, m_bits=m_used,
                                 max_fill=1.0)
        t_lit = _time_noop(lit)
        flagged = probe.filter(F.col("n_bloom_hits") > 0).count()
        tag = "auto" if m_bits is None else "pin "
        print(f"bloom {tag} m={m_used:>9d} build {t_build:6.1f}s "
              f"fill {fill:6.3f} probe(noop) {t_probe:6.1f}s "
              f"lit(noop) {t_lit:6.1f}s "
              f"flagged {flagged}/{tr.count()}", flush=True)

    # the exact path at the same scale and the same output grain:
    # per-train-doc shared-distinct-gram count via broadcast gram join
    evg = (dd._gram_stream(ev, "doc_id", "text", 5)
           .select("__gram").distinct())
    exact = (
        dd._gram_stream(tr, "doc_id", "text", 5)
        .join(F.broadcast(evg), "__gram")
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_exact"))
    )
    t_exact = _time_noop(exact)
    n_exact_docs = exact.count()
    print(f"exact gram join: {t_exact:6.1f}s, {n_exact_docs} docs with "
          f"true overlap", flush=True)

    # PageRank: the lang_quality synthetic link graph at 500 k nodes
    edges = (
        docs.select("doc_id")
        .select(
            F.col("doc_id").alias("src"),
            F.explode(F.expr(
                "CASE WHEN doc_id % 4 = 0 THEN CAST(array() AS ARRAY<BIGINT>) "
                "ELSE transform(sequence(0, CAST(doc_id % 4 AS INT) - 1), "
                "j -> CAST(conv(substring(md5(concat(CAST(doc_id AS STRING),"
                " '#', CAST(j AS STRING))), 1, 8), 16, 10) AS BIGINT)"
                f" % {n_docs}) END"
            )).alias("dst"),
        )
    )
    for iters in (1, 5):
        t0 = time.time()
        pr = gr.pagerank_fixed(docs.select("doc_id"), edges,
                               node_col="doc_id", iterations=iters)
        stats = pr.agg(
            F.sum("pr_rank").alias("mass"), F.max("pr_rank").alias("mx"),
            F.count(F.lit(1)).alias("n")).collect()[0]
        t_pr = time.time() - t0
        print(f"pagerank iters={iters}: {t_pr:6.1f}s  nodes {stats['n']} "
              f"mass {stats['mass']/gr.PR_SCALE:.6f}  "
              f"max {stats['mx']/gr.PR_SCALE:.2e}", flush=True)

    # warm-start maintenance study: grow the graph 10 % (new nodes wire
    # by the same md5 rule against the GROWN N; old edges unchanged —
    # production graphs don't re-wire on ingest), then compare cold
    # restarts vs warm starts from the OLD graph's 5-iteration ranks
    # against a 20-iteration converged reference on the grown graph.
    n_new = n_docs // 10
    newnodes = spark.range(n_docs, n_docs + n_new).select(
        F.col("id").alias("doc_id"))
    allnodes = docs.select("doc_id").unionByName(newnodes)
    new_edges = newnodes.select(
        F.col("doc_id").alias("src"),
        F.explode(F.expr(
            "CASE WHEN doc_id % 4 = 0 THEN CAST(array() AS ARRAY<BIGINT>) "
            "ELSE transform(sequence(0, CAST(doc_id % 4 AS INT) - 1), "
            "j -> CAST(conv(substring(md5(concat(CAST(doc_id AS STRING),"
            " '#', CAST(j AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            f" % {n_docs + n_new}) END"
        )).alias("dst"),
    )
    grown = edges.unionByName(new_edges).localCheckpoint(eager=True)
    prev = gr.pagerank_fixed(docs.select("doc_id"), edges,
                             node_col="doc_id", iterations=5
                             ).localCheckpoint(eager=True)
    ref = gr.pagerank_fixed(allnodes, grown, node_col="doc_id",
                            iterations=20
                            ).select("doc_id", F.col("pr_rank").alias("ref")
                                     ).localCheckpoint(eager=True)

    def l1(pr_df):
        return (pr_df.join(ref, "doc_id")
                .agg(F.sum(F.abs(F.col("pr_rank") - F.col("ref"))))
                .collect()[0][0] / gr.PR_SCALE)

    cases = (("cold2", 2, None, False), ("cold5", 5, None, False),
             ("warm1", 1, prev, False), ("warm2", 2, prev, False),
             ("warm3", 3, prev, False),
             ("warm1n", 1, prev, True), ("warm2n", 2, prev, True),
             ("warm3n", 3, prev, True))
    for lbl, iters, init, renorm in cases:
        t0 = time.time()
        pr = gr.pagerank_fixed(allnodes, grown, node_col="doc_id",
                               iterations=iters, init_ranks=init,
                               renormalize_init=renorm)
        dist = l1(pr)
        print(f"pr-maint {lbl}: {time.time() - t0:6.1f}s  "
              f"L1-to-converged {dist:.6f}", flush=True)


def cc_probe(spark) -> None:
    """r12: incremental connected-components maintenance at probe
    scale — 500 k nodes / ~400 k base edges in power-law-ish clusters,
    then a 10 % ingest batch folded in. Claim under test: the
    incremental fold's iterative work runs on the BRIDGE CONTRACTION
    (batch-sized), so maintenance costs a fraction of the rebuild
    while being label-identical (equality asserted here, not assumed).
    """
    from training_datawarehouse_spark.operators import dedup as dd

    n = 500_000
    # chain-within-cluster wiring (the SCALE.md "boilerplate chain"
    # shape pointer-jumping exists for): id -> id+1 inside 1000-node
    # clusters, ~14 % of links dropped so clusters split into several
    # components of varying length
    base = spark.range(n).filter(
        "id % 1000 != 999 AND id % 7 != 0"
    ).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"),
    ).localCheckpoint(eager=True)
    batch = spark.range(n, n + n // 10).select(
        F.col("id").alias("id_a"),
        F.expr(
            f"CAST(conv(substring(md5(CAST(id AS STRING)), 1, 8), 16, 10)"
            f" AS BIGINT) % {n + n // 10}"
        ).alias("id_b"),
    ).filter("id_a != id_b").localCheckpoint(eager=True)

    t0 = time.time()
    old = dd.connected_components(base).localCheckpoint(eager=True)
    t_base = time.time() - t0
    t0 = time.time()
    full = dd.connected_components(
        base.unionByName(batch)).localCheckpoint(eager=True)
    t_full = time.time() - t0
    t0 = time.time()
    incr = dd.connected_components_incremental(old, batch)
    n_incr = incr.count()
    t_incr = time.time() - t0
    diff = (
        incr.withColumnRenamed("component", "ci")
        .join(full, "node").filter(F.col("ci") != F.col("component")).count()
    )
    print(f"cc base build {t_base:6.1f}s  full rebuild {t_full:6.1f}s  "
          f"incremental fold {t_incr:6.1f}s  rows {n_incr}  "
          f"label diffs vs rebuild {diff}", flush=True)


def nnd_scale_probe(spark) -> None:
    from training_datawarehouse_spark.session import iterative_tuning

    with iterative_tuning(spark):
        _nnd_scale_probe_body(spark)


def _nnd_scale_probe_body(spark) -> None:
    """r14: does the r13 recursive-build recipe HOLD at 2.5x — 500 k
    vectors with 2.5x bigger clusters (64 x 7 812, the harder
    direction: in-cluster convergence cost grows with cluster size)?
    Build-only (the 200 k serve matrix already prices serving; this
    probe answers whether the GRAPH is still converged when both the
    corpus and the per-cluster population grow), same instruments as
    nnd_probe: in-cluster fraction, strict exact-set recall@8 under
    the operator's total order, similarity ratio."""
    import numpy as np

    from training_datawarehouse_spark.functions.caching import (
        release_local_checkpoint,
    )
    from training_datawarehouse_spark.operators.nndescent import (
        nnd_graph_recursive,
    )
    from training_datawarehouse_spark.operators.similarity import cosine_topk

    kk = 8
    # --nnd-refine3: the 200 k corpus with refine_iters=3 — prices the
    # "buy recall back with one more wave-refine round" knob the 500 k
    # row names. Default (--nnd-500k): 2.5x corpus, refine_iters=2.
    # --nnd-1m (r15, verdict #5): the THIRD serve scale point — 64 x
    # 15 625 = 1 M vectors — pinning the log-hop law with 4+4 / 6+6 /
    # 8+8 rows and the heap-per-corpus-byte sizing (run with
    # SPARK_DRIVER_MEM sized ~3 bytes/corpus-byte per the 500 k row).
    refine3 = "--nnd-refine3" in sys.argv
    if "--nnd-1m" in sys.argv:
        # combined with --nnd-refine3 (r15): tests whether build
        # refinement moves the 1 M serve ceiling the hop budget
        # saturated at (SCALE.md r15, 0.644 at 6+6 = 8+8) — the
        # round's own "at saturation the lever is refine_iters"
        # claim, measured rather than inferred from 200 k.
        n_members, refine_iters = 15625, (3 if refine3 else 2)
    elif "--nnd-smoke" in sys.argv:
        # tiny end-to-end pass over every probe code path (incl. the
        # r16 --nnd-beam16 / --ivfpq-at-scale sections) — validates
        # the harness in minutes before committing an hour-long run;
        # numbers from this scale are NOT evidence
        n_members, refine_iters = 200, 2
    else:
        n_members, refine_iters = (3125, 3) if refine3 else (7812, 2)
    emb, n = _nnd_mixture(spark, n_members=n_members)
    sweep_ids = [int(r["vec_id"]) for r in
                 emb.filter(F.col("vec_id") % 2497 == 0)
                 .limit(200).collect()]
    sampled = emb.filter(F.col("vec_id").isin(sweep_ids))
    per = {}
    for r in cosine_topk(emb, sampled, "vec_id", "embedding",
                         k=4 * kk).collect():
        per.setdefault(r["query_id"], []).append(
            (-r["cosine"], r["neighbor_id"]))
    ex = {q: {nid for _, nid in sorted(v)[:kk]}
          for q, v in per.items()}
    ex_cos = {q: [-c for c, _ in sorted(v)[:kk]]
              for q, v in per.items()}

    t0 = time.time()
    g, cents = nnd_graph_recursive(
        emb, k=kk, core_frac=64, core_iters=8,
        refine_iters=refine_iters, n_lists=64, kmeans_iters=4)
    t_build = time.time() - t0
    in_cluster = float(g.select(
        (F.col("src") % 2000 == F.col("dst") % 2000)
        .cast("int").alias("i")).agg(F.avg("i")).first()[0])
    adj, found = {}, {}
    for r in g.filter(F.col("src").isin(sweep_ids)).collect():
        adj.setdefault(r["src"], set()).add(r["dst"])
        found.setdefault(r["src"], []).append(r["cos"])
    recall = float(np.mean([
        len(adj.get(i, set()) & ex[i]) / kk for i in ex]))
    sim_ratio = float(np.mean([
        np.mean(found.get(i, [0.0])) / np.mean(ex_cos[i])
        for i in ex_cos]))
    print(f"build[recursive core64 k={kk} refine{refine_iters}, {n}]: "
          f"{t_build:.1f}s in_cluster={in_cluster:.3f} "
          f"recall@8={recall:.3f} sim_ratio={sim_ratio:.4f}", flush=True)

    # ---- serving on this graph: the two 200 k-matrix headliners
    # (flat IVF-entry 8 hops; hier+IVF 4+4 — the measured winner), so
    # the serve story has a row at every build point, not just 200 k
    from training_datawarehouse_spark.operators.nndescent import (
        nnd_sample_layer, nnd_search, nnd_search_hier,
    )

    # the 1m axis probes trim the query batch: exact ground truth
    # over 1 M dominates probe wall-clock, and 500 queries bound the
    # recall@5 standard error at ~0.01 — plenty to read whether the
    # saturated 0.644 ceiling moved
    beam16 = "--nnd-beam16" in sys.argv
    ivfpq_probe = "--ivfpq-at-scale" in sys.argv
    nq_cap = (500 if ((refine3 or beam16 or ivfpq_probe)
                      and "--nnd-1m" in sys.argv) else 2000)
    if "--nnd-smoke" in sys.argv:
        nq_cap = 100
    qsrc = emb.filter(F.col("vec_id") % 101 == 0) \
        .limit(nq_cap) \
        .select(
            F.col("vec_id").alias("query_id"),
            F.transform(
                "embedding", lambda x: F.round(x * 1.01 + 0.003, 6)
            ).alias("embedding"),
        ).localCheckpoint(eager=True)
    nq = qsrc.count()
    per_q = {}
    for r in cosine_topk(emb, qsrc.withColumnRenamed(
            "query_id", "vec_id"), "vec_id", "embedding", k=20).collect():
        per_q.setdefault(r["query_id"], []).append(
            (-r["cosine"], r["neighbor_id"]))
    ex_q = {q: {nid for _, nid in sorted(v)[:5]}
            for q, v in per_q.items()}
    reps = _cell_reps(emb, cents)
    t0 = time.time()
    emb1 = nnd_sample_layer(emb, frac=64).localCheckpoint(eager=True)
    n1 = emb1.count()
    from training_datawarehouse_spark.operators.nndescent import (
        nnd_graph_ivf,
    )
    g1, _ = nnd_graph_ivf(emb1, k=kk, iters=8, n_lists=64,
                          kmeans_iters=4, centroids=cents)
    print(f"coarse layer: {n1} nodes, built in {time.time()-t0:.1f}s",
          flush=True)
    reps1 = _cell_reps(emb1, cents)

    def serve(label, fn):
        t0 = time.time()
        served = fn()
        t_serve = time.time() - t0
        sv = {}
        for r in served.collect():
            sv.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        release_local_checkpoint(served)
        rec5 = float(np.mean([
            len(sv.get(i, set()) & ex_q[i]) / 5 for i in ex_q]))
        print(f"serve[{label}]: {nq} queries in {t_serve:.1f}s "
              f"({nq / t_serve:.0f} q/s batch) recall@5={rec5:.3f}",
              flush=True)

    if nq_cap == 2000:  # the combo run reads the hier ceiling only
        serve("flat ivf-entry 8hops", lambda: nnd_search(
            g, emb, qsrc, k=5, beam=8, hops=8,
            entry_df=_cell_entries(qsrc, cents, reps)))
    serve("hier ivf 4+4hops", lambda: nnd_search_hier(
        g, emb, g1, emb1, qsrc, k=5, beam=8, hops0=4, hops1=4,
        entry_df1=_cell_entries(qsrc, cents, reps1)))
    serve("hier ivf 6+6hops", lambda: nnd_search_hier(
        g, emb, g1, emb1, qsrc, k=5, beam=8, hops0=6, hops1=6,
        entry_df1=_cell_entries(qsrc, cents, reps1)))
    serve("hier ivf 8+8hops", lambda: nnd_search_hier(
        g, emb, g1, emb1, qsrc, k=5, beam=8, hops0=8, hops1=8,
        entry_df1=_cell_entries(qsrc, cents, reps1)))
    if beam16:
        # r16 (r15 verdict #1): the one UNVARIED axis behind the
        # published ~0.65 serve-ceiling attribution — beam width.
        # Same build, same query set, same ground truth as the beam-8
        # rows above, so the pairing is exact. beam 16 doubles the
        # kept frontier per hop (and the per-hop candidate volume);
        # if the ceiling is descent structure, these rows price the
        # lift; if they read ~0.65 too, the attribution narrows to
        # k-list depth / entry coverage / cluster size.
        serve("hier ivf 4+4hops beam16", lambda: nnd_search_hier(
            g, emb, g1, emb1, qsrc, k=5, beam=16, hops0=4, hops1=4,
            n_entry=4, entry_df1=_cell_entries(qsrc, cents, reps1)))
        serve("hier ivf 6+6hops beam16", lambda: nnd_search_hier(
            g, emb, g1, emb1, qsrc, k=5, beam=16, hops0=6, hops1=6,
            n_entry=4, entry_df1=_cell_entries(qsrc, cents, reps1)))
        serve("hier ivf 8+8hops beam16", lambda: nnd_search_hier(
            g, emb, g1, emb1, qsrc, k=5, beam=16, hops0=8, hops1=8,
            n_entry=4, entry_df1=_cell_entries(qsrc, cents, reps1)))
    if ivfpq_probe:
        _ivfpq_at_scale(spark, emb, cents, qsrc, ex_q, nq)
    for df in (g, g1, emb1, qsrc, reps, reps1, emb):
        release_local_checkpoint(df)


def _ivfpq_at_scale(spark, emb, cents, qsrc, ex_q, nq) -> None:
    """r16 (r15 verdict #2): price IVFPQ at the graph family's scale
    point so the '>0.65-recall consumers belong on ivfpq' routing
    advice (SCALE.md r15) becomes a measured comparison, not a
    cross-scale inference. Runs inside the nnd scale probe on the
    SAME corpus, the SAME trained coarse quantizer (the recursive
    build's cents, 64 lists), and the SAME exact ground truth as the
    serve matrix printed above — recall@5 and q/s are directly
    comparable row-for-row.

    Production-grade PQ parameters, not the oracle-tractable registry
    m=4/ksub=8: m=8 subspaces x ksub=64 codes = 48-bit codes (10.7x
    compression of the 64-dim float64 embedding's 512 B). Codebooks
    train on a RE-INDEXED ~1/16 md5 sample (``pq_train``'s
    deterministic init needs ids 0..ksub-1 present; training PQ on a
    sample is the published recipe and prices what production does).
    Serving = the IVFADC composition at n_probe in {2, 4, 8} of 64
    lists, ADC rank alone AND with exact-cosine rerank of the ADC
    top-50 (the published rerank refinement); plus the residual-
    encoded variant (ivfpq_res) at the best probe setting, the
    quality point of the family."""
    import numpy as np

    from pyspark.sql import Window as W

    from training_datawarehouse_spark.functions.caching import (
        release_local_checkpoint,
    )
    from training_datawarehouse_spark.operators import quantization as pq
    from training_datawarehouse_spark.operators import similarity as sim

    dim, m, ksub, train_mod, rr = 64, 8, 64, 16, 50
    wq = F.col("query_id")

    def reindexed(df, col):
        return df.select(
            (F.row_number().over(W.orderBy("vec_id")) - 1)
            .alias("vec_id"), F.col(col).alias("embedding"),
        ).localCheckpoint(eager=True)

    samp = emb.filter(F.expr(
        "CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 15), 16,"
        f" 10) AS BIGINT) % {train_mod} = 0"))
    t0 = time.time()
    train = reindexed(samp, "embedding")
    n_train = train.count()
    books = pq.pq_train(train, "embedding", dim=dim, m=m, ksub=ksub,
                        iters=6)
    release_local_checkpoint(train)
    t_train = time.time() - t0
    t0 = time.time()
    codes = pq.pq_encode(emb, "embedding", books) \
        .localCheckpoint(eager=True)
    n_codes = codes.count()
    t_enc = time.time() - t0
    print(f"ivfpq[train {n_train} sampled, m={m} ksub={ksub}]: "
          f"codebooks {t_train:.1f}s  encode {n_codes} rows "
          f"{t_enc:.1f}s  (quantizer shared with the graph build)",
          flush=True)

    cassign = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        sim.nearest_centroid_lists(
            sim._as_double(F.col("embedding")), cents, 1
        )[0]["list_id"].alias("list_id"),
    ).localCheckpoint(eager=True)
    qv = qsrc.select("query_id",
                     sim._as_double(F.col("embedding")).alias("__qv"))
    nv = emb.select(F.col("vec_id").alias("neighbor_id"),
                    sim._as_double(F.col("embedding")).alias("__nv"))
    wiv = W.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    wcs = W.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                            "neighbor_id")

    def rec5(rows):
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return float(np.mean([
            len(got.get(i, set()) & ex_q[i]) / 5 for i in ex_q]))

    def q_probe(n_probe):
        return qsrc.select(
            "query_id",
            F.explode(F.transform(
                sim.nearest_centroid_lists(
                    sim._as_double(F.col("embedding")), cents, n_probe),
                lambda s: s["list_id"],
            )).alias("list_id"),
        )

    for n_probe in (2, 4, 8):
        pairs = cassign.join(F.broadcast(q_probe(n_probe)), "list_id") \
            .select("query_id", "neighbor_id")
        adc = pq.pq_adc_scores(
            codes, qsrc.select(F.col("query_id").alias("vec_id"),
                               "embedding"),
            books, pairs=pairs)
        t0 = time.time()
        a5 = adc.withColumn("rn", F.row_number().over(wiv)) \
            .filter(F.col("rn") <= 5).collect()
        t_adc = time.time() - t0
        print(f"ivfpq[probe {n_probe}/64, adc rank]: {nq} queries in "
              f"{t_adc:.1f}s ({nq / t_adc:.0f} q/s) "
              f"recall@5={rec5(a5):.3f}", flush=True)
        t0 = time.time()
        r5 = (
            adc.withColumn("rn", F.row_number().over(wiv))
            .filter(F.col("rn") <= rr)
            .join(nv, "neighbor_id")
            .join(F.broadcast(qv), "query_id")
            .select(wq, "neighbor_id",
                    F.round(sim.cosine(F.col("__qv"), F.col("__nv")),
                            6).alias("cos"))
            .withColumn("rk", F.row_number().over(wcs))
            .filter(F.col("rk") <= 5)
            .collect()
        )
        t_rr = time.time() - t0
        print(f"ivfpq[probe {n_probe}/64, rerank{rr}]: {nq} queries "
              f"in {t_rr:.1f}s ({nq / t_rr:.0f} q/s) "
              f"recall@5={rec5(r5):.3f}", flush=True)

    # residual IVFADC at the widest probe — the family's quality point
    t0 = time.time()
    res = pq.residual_frame(emb, "embedding", cents)
    res_train = reindexed(
        res.filter(F.expr(
            "CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 15),"
            f" 16, 10) AS BIGINT) % {train_mod} = 0")), "residual")
    res_books = pq.pq_train(res_train, "embedding", dim=dim, m=m,
                            ksub=ksub, iters=6)
    release_local_checkpoint(res_train)
    res_codes = pq.pq_encode(res, "residual", res_books,
                             keep_cols=("list_id",)) \
        .localCheckpoint(eager=True)
    res_codes.count()
    t_resbuild = time.time() - t0
    qres = (
        qsrc.select(
            "query_id",
            sim._as_double(F.col("embedding")).alias("__qv0"),
            F.explode(F.transform(
                sim.nearest_centroid_lists(
                    sim._as_double(F.col("embedding")), cents, 8),
                lambda s: s["list_id"],
            )).alias("list_id"),
        )
        .select("query_id", "list_id",
                F.zip_with(
                    F.col("__qv0"),
                    F.element_at(sim.mat_lit(cents), F.col("list_id") + 1),
                    lambda x, c: x - c,
                ).alias("qres"))
    )
    t0 = time.time()
    rr5 = (
        pq.pq_adc_scores_residual(res_codes, qres, res_books)
        .withColumn("rn", F.row_number().over(wiv))
        .filter(F.col("rn") <= rr)
        .join(nv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(wq, "neighbor_id",
                F.round(sim.cosine(F.col("__qv"), F.col("__nv")),
                        6).alias("cos"))
        .withColumn("rk", F.row_number().over(wcs))
        .filter(F.col("rk") <= 5)
        .collect()
    )
    t_res = time.time() - t0
    print(f"ivfpq_res[probe 8/64, rerank{rr}]: build {t_resbuild:.1f}s"
          f"  {nq} queries in {t_res:.1f}s ({nq / t_res:.0f} q/s) "
          f"recall@5={rec5(rr5):.3f}", flush=True)
    for df in (codes, cassign, res_codes):
        release_local_checkpoint(df)


def ckstats_probe(spark) -> None:
    """r14: the checkpoint-stats time bomb, QUANTIFIED (the measured
    companion to tests/test_caching.py's shape assertions and the r13
    commit-13b2295 diagnosis). One self-joining generation loop — the
    CC pointer-jump / descent local-join / PageRank double-read
    shape — run twice on identical 100 k-row data: plain
    ``localCheckpoint`` (origin-stats inheritance) vs
    ``eager_checkpoint`` (stat-less rewrap). Per generation: the
    DIGIT COUNT of Catalyst's size-in-bytes estimate for the next
    join (the compounding observable) and the full wall-clock of the
    generation (job + optimize). The plain path's estimate digits
    roughly double per generation — BigInteger arithmetic inside
    every stats-reading rule — while the helper's stay constant."""
    import sys as _sys

    from pyspark.sql import functions as FF

    from training_datawarehouse_spark.functions.caching import (
        eager_checkpoint, release_local_checkpoint,
    )

    # py4j BigInt round-trip needs a huge digit limit; restore the
    # process-wide quadratic-int-str guard after (ADVICE r14)
    _prev_digits = _sys.get_int_max_str_digits()
    _sys.set_int_max_str_digits(50_000_000)
    n_rows, gens = 100_000, 24

    def digits(df):
        # instrumentation only (read OUTSIDE the timed window): the
        # py4j BigInteger->int conversion is itself quadratic in
        # digits, so stop reading once the point is made
        return len(str(
            df._jdf.queryExecution().optimizedPlan().stats()
            .sizeInBytes()))

    def run(mode):
        base = spark.range(n_rows).select(
            "id", (FF.col("id") % 97).alias("v"))
        ck = (eager_checkpoint if mode == "rewrap"
              else lambda d: d.localCheckpoint(eager=True))
        g = ck(base)
        out = []
        prev = None
        read_digits = True
        for i in range(gens):
            t0 = time.time()
            j = (
                g.alias("l")
                .join(g.alias("r"), FF.col("l.id") == FF.col("r.id"))
                .select(FF.col("l.id").alias("id"),
                        (FF.col("l.v") + FF.col("r.v")).alias("v"))
            )
            g_next = ck(j)
            if prev is not None:
                release_local_checkpoint(prev)
            prev, g = g, g_next
            dt = round(time.time() - t0, 2)
            d = digits(j) if read_digits else -1
            if d > 100_000:
                read_digits = False
            out.append((i, d, dt))
            if dt > 120:
                print(f"  [{mode}] aborting at generation {i}: "
                      f"{dt:.0f}s/generation (the grind, "
                      f"demonstrated)", flush=True)
                break
        for f in (prev, g):
            if f is not None:
                release_local_checkpoint(f)
        return out

    print(f"\n--- ckstats probe: {n_rows} rows, {gens} self-joining "
          f"checkpointed generations, plain vs rewrap", flush=True)
    try:
        plain = run("plain")
        rewrap = run("rewrap")
    finally:
        _sys.set_int_max_str_digits(_prev_digits)
    print(f"{'gen':>4s} {'plain_digits':>12s} {'plain_s':>8s} "
          f"{'rewrap_digits':>13s} {'rewrap_s':>9s}", flush=True)
    for i in range(max(len(plain), len(rewrap))):
        dp, tp = (plain[i][1], plain[i][2]) if i < len(plain) else ("-", "-")
        dr, tr = (rewrap[i][1], rewrap[i][2]) if i < len(rewrap) else ("-", "-")
        print(f"{i:>4d} {dp!s:>12s} {tp!s:>8s} {dr!s:>13s} {tr!s:>9s}",
              flush=True)
    print(f"total: plain {sum(t for _, _, t in plain):.1f}s  "
          f"rewrap {sum(t for _, _, t in rewrap):.1f}s", flush=True)


def ttl_probe(spark) -> None:
    """r14 (r13 verdict #6, the missing half of r12 #3's "done" bar):
    TTL admission state-vs-horizon. A multi-wave replay through ONE
    long-lived processingTime-trigger admission gate with ``ttl_ms``
    set, measuring (a) the stateful operator's numRowsTotal after
    every wave vs the CUMULATIVE distinct-bucket count a no-TTL gate
    would hold — the boundedness claim — and (b) the decision rates
    per arrival class: fresh docs (expect admit), duplicates of the
    PREVIOUS wave (inside the horizon — expect reject), duplicates of
    THREE waves ago (idle past the horizon — expect state evicted and
    the doc RE-ADMITTED, the stated time-horizon trade).

    Wave cadence is wall-clock (sleep between waves) because
    ProcessingTimeTimeout is wall-clock; the measured cadence is
    printed so the horizon/idle arithmetic in SCALE.md is honest.
    """
    import hashlib
    import json as _json
    import shutil as _shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from training_datawarehouse_spark.operators import dedup as dd
    from training_datawarehouse_spark.streaming.stateful import (
        streaming_neardup_admission,
    )

    n_wave, n_waves = 2000, 6
    n_prev_dup, n_old_dup = 300, 300      # per wave (from wave 1 / 3 on)
    ttl_ms = 18_000
    gap_s = 6.0                           # idle sleep after each wave
    work = tempfile.mkdtemp(prefix="ttl_probe_")
    src = os.path.join(work, "src")
    os.makedirs(src)

    def fresh_text(w, i):
        return " ".join(
            hashlib.md5(f"{w}-{i}-{j}".encode()).hexdigest()[:8]
            for j in range(8))

    def wave_docs(w):
        docs = []
        n_fresh = n_wave
        if w >= 1:
            n_fresh -= n_prev_dup
        if w >= 3:
            n_fresh -= n_old_dup
        for i in range(n_fresh):
            docs.append((w * 1_000_000 + i, fresh_text(w, i), "fresh"))
        if w >= 1:   # dup of the PREVIOUS wave's fresh docs
            for i in range(n_prev_dup):
                docs.append((w * 1_000_000 + n_fresh + i,
                             fresh_text(w - 1, i), "prev_dup"))
        if w >= 3:   # dup of a wave idle 3 cadences — past the horizon
            for i in range(n_old_dup):
                docs.append((w * 1_000_000 + n_fresh + n_prev_dup + i,
                             fresh_text(w - 3, n_prev_dup + i),
                             "old_dup"))
        return docs

    def state_rows(q):
        lp = q.lastProgress
        ops = (_json.loads(lp.json)["stateOperators"]
               if lp is not None else [])
        return ops[0]["numRowsTotal"] if ops else None

    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
    raw = (
        spark.readStream
        .schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    bands = dd.minhash_band_rows_rowlocal(
        raw, "doc_id", "text", num_hashes=16, bands=4,
        rows_per_band=4, shingle_n=3)
    q = (
        streaming_neardup_admission(bands, ttl_ms=ttl_ms)
        .writeStream.format("memory").queryName("ttl_probe")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    print(f"\n--- ttl probe: {n_waves} waves x {n_wave} docs, "
          f"ttl={ttl_ms}ms, idle gap={gap_s}s "
          f"(state = (band,sig) buckets, 2 longs each)", flush=True)
    print(f"{'wave':>4s} {'cadence_s':>9s} {'state_rows':>10s} "
          f"{'cum_buckets':>11s} {'bound_x':>8s}", flush=True)
    classes = {}
    all_batch = []
    try:
        # warm-up wave (not measured, disjoint ids/text): absorbs the
        # JVM/python-worker cold start so wave CADENCE — which is the
        # horizon arithmetic's clock — is uniform across the replay
        # (first run: wave 1's 16.9 s warm-up cadence exceeded a 15 s
        # horizon and correctly re-admitted wave 2's "within-horizon"
        # dups — honest, but it measured the warm-up, not the gate)
        pq.write_table(
            pa.Table.from_pylist(
                [{"doc_id": 900_000_000 + i,
                  "text": fresh_text(999, i)} for i in range(100)],
                schema=schema),
            os.path.join(src, "warmup.parquet"))
        deadline = time.time() + 180
        while time.time() < deadline:
            if len(spark.table("ttl_probe").collect()) >= 100:
                break
            time.sleep(0.5)
        t_prev = time.time()
        for w in range(n_waves):
            docs = wave_docs(w)
            classes.update({d: c for d, _, c in docs})
            all_batch.extend(docs)
            pq.write_table(
                pa.Table.from_pylist(
                    [{"doc_id": d, "text": t} for d, t, _ in docs],
                    schema=schema),
                os.path.join(src, f"wave{w}.parquet"))
            want = {d for d, _, _ in docs}
            deadline = time.time() + 180
            while time.time() < deadline:
                got = {r["doc_id"]
                       for r in spark.table("ttl_probe").collect()
                       if r["doc_id"] in want}
                if got == want:
                    break
                time.sleep(0.5)
            else:
                raise RuntimeError(f"wave {w} never fully decided")
            time.sleep(gap_s)   # idle: ProcessingTimeTimeout clock runs
            cadence = time.time() - t_prev
            t_prev = time.time()
            # the no-TTL counterfactual: cumulative distinct buckets
            cum = (
                dd.minhash_band_rows_rowlocal(
                    spark.createDataFrame(
                        [(d, t) for d, t, _ in all_batch],
                        "doc_id long, text string"),
                    "doc_id", "text", num_hashes=16, bands=4,
                    rows_per_band=4, shingle_n=3)
                .select("band", "sig").distinct().count()
            )
            st = state_rows(q)
            print(f"{w:>4d} {cadence:9.1f} {st!s:>10s} {cum:>11d} "
                  f"{(st or 0) / cum:8.2f}", flush=True)
        # decision per doc: admit iff every band's match_id is NULL
        per_doc = {}
        for r in spark.table("ttl_probe").collect():
            per_doc.setdefault(r["doc_id"], []).append(r["match_id"])
        rates = {}
        for cls in ("fresh", "prev_dup", "old_dup"):
            ids = [d for d, c in classes.items() if c == cls]
            admitted = sum(
                all(m is None for m in per_doc[d]) for d in ids)
            rates[cls] = (admitted, len(ids))
            print(f"class {cls:9s}: {admitted}/{len(ids)} admitted "
                  f"({admitted / len(ids):.3f})", flush=True)
        print("expected: fresh ~1.0 admitted, prev_dup ~0.0 (inside "
              "horizon), old_dup ~1.0 (evicted -> re-admitted)",
              flush=True)
    finally:
        q.stop()
        _shutil.rmtree(work, ignore_errors=True)


def ttl_event_probe(spark) -> None:
    """r15 (r14 verdict #2): the EVENT-TIME admission horizon,
    state-vs-horizon. Same wave structure as ``ttl_probe`` — fresh /
    previous-wave dup / three-waves-old dup arrival classes — but the
    horizon is keyed to the DATA's timestamps (EventTimeTimeout +
    watermark), so the replay compresses a 6-minute event timeline
    into seconds of wall clock and the decisions must not change:
    fresh admit ~1.0, dup-of-60-event-seconds-ago ~0.0 (inside the
    90 s event horizon), dup-of-180-event-seconds-ago ~1.0 (bucket
    evicted once the watermark passed last-arrival + horizon). The
    r14 wall-clock probe's failure mode — trigger cadence exceeding
    the horizon — is impossible by construction; the printed wall
    cadence vs the fixed 60 s EVENT cadence is the evidence."""
    import hashlib
    import json as _json
    import shutil as _shutil
    import tempfile
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from training_datawarehouse_spark.operators import dedup as dd
    from training_datawarehouse_spark.streaming.stateful import (
        streaming_neardup_admission,
    )

    n_wave, n_waves = 2000, 6
    n_prev_dup, n_old_dup = 300, 300
    event_ttl_ms = 90_000           # event horizon
    wave_event_gap_s = 60           # event time between waves
    gap_s = 2.0                     # WALL clock between waves (tiny)
    t0 = datetime(2026, 1, 1, 0, 0, 0)
    work = tempfile.mkdtemp(prefix="ttl_event_probe_")
    src = os.path.join(work, "src")
    os.makedirs(src)

    def fresh_text(w, i):
        return " ".join(
            hashlib.md5(f"{w}-{i}-{j}".encode()).hexdigest()[:8]
            for j in range(8))

    def wave_docs(w):
        docs = []
        n_fresh = n_wave - (n_prev_dup if w >= 1 else 0) \
            - (n_old_dup if w >= 3 else 0)
        for i in range(n_fresh):
            docs.append((w * 1_000_000 + i, fresh_text(w, i), "fresh"))
        if w >= 1:
            for i in range(n_prev_dup):
                docs.append((w * 1_000_000 + n_fresh + i,
                             fresh_text(w - 1, i), "prev_dup"))
        if w >= 3:
            for i in range(n_old_dup):
                docs.append((w * 1_000_000 + n_fresh + n_prev_dup + i,
                             fresh_text(w - 3, n_prev_dup + i),
                             "old_dup"))
        return docs

    def state_rows(q):
        lp = q.lastProgress
        ops = (_json.loads(lp.json)["stateOperators"]
               if lp is not None else [])
        return ops[0]["numRowsTotal"] if ops else None

    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("ts", pa.timestamp("us"))])
    raw = (
        spark.readStream
        .schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "1 second")
    )
    bands = dd.minhash_band_rows_rowlocal(
        raw, "doc_id", "text", num_hashes=16, bands=4,
        rows_per_band=4, shingle_n=3, keep_cols=("ts",))
    q = (
        streaming_neardup_admission(bands, event_ttl_ms=event_ttl_ms)
        .writeStream.format("memory").queryName("ttl_event_probe")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    print(f"\n--- ttl-event probe: {n_waves} waves x {n_wave} docs, "
          f"event_ttl={event_ttl_ms}ms, event gap=60s, "
          f"wall gap={gap_s}s", flush=True)
    print(f"{'wave':>4s} {'wall_s':>7s} {'event_s':>8s} "
          f"{'state_rows':>10s} {'cum_buckets':>11s} {'bound_x':>8s}",
          flush=True)
    classes = {}
    all_batch = []
    try:
        pq.write_table(
            pa.Table.from_pylist(
                [{"doc_id": 900_000_000 + i, "text": fresh_text(999, i),
                  "ts": t0 - timedelta(seconds=600)}
                 for i in range(100)],
                schema=schema),
            os.path.join(src, "warmup.parquet"))
        deadline = time.time() + 180
        while time.time() < deadline:
            if len(spark.table("ttl_event_probe").collect()) >= 100:
                break
            time.sleep(0.5)
        t_prev = time.time()
        for w in range(n_waves):
            docs = wave_docs(w)
            classes.update({d: c for d, _, c in docs})
            all_batch.extend(docs)
            ts_w = t0 + timedelta(seconds=w * wave_event_gap_s)
            pq.write_table(
                pa.Table.from_pylist(
                    [{"doc_id": d, "text": t, "ts": ts_w}
                     for d, t, _ in docs],
                    schema=schema),
                os.path.join(src, f"wave{w}.parquet"))
            want = {d for d, _, _ in docs}
            deadline = time.time() + 180
            while time.time() < deadline:
                got = {r["doc_id"]
                       for r in spark.table("ttl_event_probe").collect()
                       if r["doc_id"] in want}
                if got == want:
                    break
                time.sleep(0.5)
            else:
                raise RuntimeError(f"wave {w} never fully decided")
            time.sleep(gap_s)   # a couple of timeout-check triggers
            cadence = time.time() - t_prev
            t_prev = time.time()
            cum = (
                dd.minhash_band_rows_rowlocal(
                    spark.createDataFrame(
                        [(d, t) for d, t, _ in all_batch],
                        "doc_id long, text string"),
                    "doc_id", "text", num_hashes=16, bands=4,
                    rows_per_band=4, shingle_n=3)
                .select("band", "sig").distinct().count()
            )
            st = state_rows(q)
            print(f"{w:>4d} {cadence:7.1f} {w * 60:>8d} "
                  f"{st!s:>10s} {cum:>11d} {(st or 0) / cum:8.2f}",
                  flush=True)
        per_doc = {}
        for r in spark.table("ttl_event_probe").collect():
            per_doc.setdefault(r["doc_id"], []).append(r["match_id"])
        for cls in ("fresh", "prev_dup", "old_dup"):
            ids = [d for d, c in classes.items() if c == cls]
            admitted = sum(
                all(m is None for m in per_doc[d]) for d in ids)
            print(f"class {cls:9s}: {admitted}/{len(ids)} admitted "
                  f"({admitted / len(ids):.3f})", flush=True)
        print("expected: fresh ~1.0, prev_dup ~0.0 (60 event-s < 90 s "
              "horizon), old_dup ~1.0 (180 event-s > horizon -> "
              "evicted, re-admitted); wall cadence is seconds — the "
              "horizon is data-defined", flush=True)

    finally:
        q.stop()
        _shutil.rmtree(work, ignore_errors=True)
    _ttl_event_clamp_phase(spark)


def _ttl_event_clamp_phase(spark) -> None:
    """r16 (r15 verdict #4): the late-data CLAMP path
    (``streaming/stateful.py``'s ``max(anchor + horizon, wm + 1)``)
    under a LIVE trigger — the one branch of the event-TTL gate the
    deterministic pytest replay covered but no probe had measured.

    Mechanics being exercised: Spark splits the watermark per batch —
    input rows are filtered against the LATE-EVENTS watermark (the
    previous batch's eviction value) while ``getCurrentWatermarkMs``
    and state eviction use the CURRENT one. A row stamped between the
    two passes the input gate yet already trails the eviction
    watermark; if it trails by more than the horizon, the bucket's
    natural timeout (anchor + horizon) would land AT or BELOW the
    watermark — which the engine rejects — so the operator clamps it
    to wm + 1 ms and the bucket evicts at the next opportunity
    instead of crashing the query.

    The one-batch watermark lag is only deterministic with NO-DATA
    micro-batches disabled (otherwise a timeout-check batch between
    two file triggers catches the late gate up to the eviction value
    and the late rows are dropped upstream instead), so this phase
    runs as its OWN query with
    ``spark.sql.streaming.noDataMicroBatches.enabled=false`` —
    restored after — and consecutive single-file triggers:

      anchor (T+300)        wm 0   -> 299 after
      A      (T+420 fresh)  late gate 299 / eviction 299; wm -> 419
      B      (T+310 LATE, new texts): passes the 299 late gate,
             anchors at 310; 310+90 = 400 <= eviction wm 419 ->
             CLAMP fires, timeout pinned to 419.001 s
      C      (T+440 fresh)  eviction 419: clamped buckets have data?
             no -> still alive (timeout 419001 > 419000); wm -> 439
      C2     (T+445 fresh)  eviction 439: clamped keys receive no
             data this batch -> EVICTED here
      D      (T+450): dups of B's texts -> ADMIT (clamp evicted
             them); dups of A's texts -> REJECT (inside 420+90
             horizon) — normal buckets' decisions unchanged."""
    import hashlib
    import shutil as _shutil
    import tempfile
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from training_datawarehouse_spark.operators import dedup as dd
    from training_datawarehouse_spark.streaming.stateful import (
        streaming_neardup_admission,
    )

    t0 = datetime(2026, 1, 1, 0, 0, 0)
    work = tempfile.mkdtemp(prefix="ttl_clamp_probe_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("ts", pa.timestamp("us"))])

    def fresh_text(w, i):
        return " ".join(
            hashlib.md5(f"{w}-{i}-{j}".encode()).hexdigest()[:8]
            for j in range(8))

    conf_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_conf = spark.conf.get(conf_key, "true")
    spark.conf.set(conf_key, "false")
    raw = (
        spark.readStream
        .schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "1 second")
    )
    bands = dd.minhash_band_rows_rowlocal(
        raw, "doc_id", "text", num_hashes=16, bands=4,
        rows_per_band=4, shingle_n=3, keep_cols=("ts",))
    q = (
        streaming_neardup_admission(bands, event_ttl_ms=90_000)
        .writeStream.format("memory").queryName("ttl_clamp_probe")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )

    def put_wave(name, rows_):
        pq.write_table(
            pa.Table.from_pylist(rows_, schema=schema),
            os.path.join(src, name))
        want_ = {r_["doc_id"] for r_ in rows_}
        deadline_ = time.time() + 180
        while time.time() < deadline_:
            got_ = {r["doc_id"]
                    for r in spark.table("ttl_clamp_probe").collect()
                    if r["doc_id"] in want_}
            if got_ == want_:
                return
            time.sleep(0.25)
        raise RuntimeError(f"{name} never fully decided")

    n_late = 300
    try:
        put_wave("w0_anchor.parquet", [
            {"doc_id": i, "text": fresh_text(700, i),
             "ts": t0 + timedelta(seconds=300)} for i in range(100)])
        put_wave("w1_adv.parquet", [
            {"doc_id": 810_000_000 + i, "text": fresh_text(778, i),
             "ts": t0 + timedelta(seconds=420)} for i in range(500)])
        put_wave("w2_late.parquet", [
            {"doc_id": 800_000_000 + i, "text": fresh_text(777, i),
             "ts": t0 + timedelta(seconds=310)} for i in range(n_late)])
        put_wave("w3_bump.parquet", [
            {"doc_id": 820_000_000 + i, "text": fresh_text(779, i),
             "ts": t0 + timedelta(seconds=440)} for i in range(100)])
        put_wave("w4_bump2.parquet", [
            {"doc_id": 825_000_000 + i, "text": fresh_text(780, i),
             "ts": t0 + timedelta(seconds=445)} for i in range(100)])
        put_wave("w5_verify.parquet", (
            [{"doc_id": 830_000_000 + i, "text": fresh_text(777, i),
              "ts": t0 + timedelta(seconds=450)} for i in range(n_late)]
            + [{"doc_id": 840_000_000 + i, "text": fresh_text(778, i),
                "ts": t0 + timedelta(seconds=450)}
               for i in range(200)]))
        per_doc = {}
        for r in spark.table("ttl_clamp_probe").collect():
            per_doc.setdefault(r["doc_id"], []).append(r["match_id"])
        b_adm = sum(all(m is None for m in per_doc[800_000_000 + i])
                    for i in range(n_late))
        d_late = sum(all(m is None for m in per_doc[830_000_000 + i])
                     for i in range(n_late))
        d_adv = sum(all(m is None for m in per_doc[840_000_000 + i])
                    for i in range(200))
        print(f"\n--- clamp phase (noDataMicroBatches=false): "
              f"late wave T+310 vs eviction wm 419 "
              f"(trails by 109 s > 90 s horizon)", flush=True)
        print(f"late rows admitted {b_adm}/{n_late} "
              f"({b_adm / n_late:.3f}, fresh-by-content; the query "
              f"survived the engine-illegal timeout the clamp "
              f"prevents)", flush=True)
        print(f"verify wave: dup-of-clamped ADMITTED {d_late}/{n_late} "
              f"({d_late / n_late:.3f} — clamped buckets evicted at "
              f"the first post-watermark trigger); dup-of-T+420 fresh "
              f"admitted {d_adv}/200 ({d_adv / 200:.3f}, expect ~0.0 "
              f"— normal buckets' decisions unchanged)", flush=True)
    finally:
        q.stop()
        spark.conf.set(conf_key, prev_conf)
        _shutil.rmtree(work, ignore_errors=True)


def _time_noop(df) -> float:
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    return round(best, 2)


def retrieval_probe(spark) -> None:
    """r8 (VERDICT r7 task 3): the BM25+RRF retrieval family at 100×
    docs under a decontamination-sized query set (10⁴ terms — the
    workload the prune='semijoin' path exists for; most terms miss,
    like real eval-set n-grams, the full corpus vocabulary is folded
    in so every query also matches). Records:

    - full-pipeline growth: registry ``ns_similarity_topk`` (BM25 +
      MLT + RRF + cosine stages) at sf0.1 vs 100×, collect vs noop;
    - the 10⁴-term sweep per prune path (semijoin at both scales;
      inlist too at sf0.1 — the multi-MB-expression path the auto
      threshold avoids at this query-set size);
    - hot-query top-k: one query whose terms match ~the whole corpus,
      two-level (n_shards=32) vs single-global-window (n_shards=1)
      top-k over the same checkpointed scored frame — the funnel-
      one-partition hazard the two-level design removes."""
    from training_datawarehouse_spark.functions.caching import (
        release_local_checkpoint,
    )
    from training_datawarehouse_spark.operators.retrieval import (
        bm25_scores, topk_per_query,
    )
    from training_datawarehouse_spark.plans import QUERIES
    from training_datawarehouse_spark.sources.tables import load_table

    n_terms, n_queries = 10_000, 100

    q = QUERIES["ns_similarity_topk"]
    a_coll, a_noop, _ = time_both(q, spark, SRC)
    b_coll, b_noop, b_rows = time_both(q, spark, DST)
    print(
        f"retrieval_pipeline ns_similarity_topk: sf0.1 coll={a_coll} "
        f"noop={a_noop} | 100x coll={b_coll} noop={b_noop} "
        f"(x{b_coll / a_coll:.1f}/x{b_noop / a_noop:.1f}) rows={b_rows}",
        flush=True,
    )

    for sf_dir, label in ((SRC, "sf0.1"), (DST, "100x")):
        docs = load_table(spark, sf_dir, "documents")
        tok = F.explode(F.split(F.lower(F.col("text")), " ")).alias("t")
        vocab = sorted(
            r["t"] for r in docs.select(tok).distinct().collect()
        )
        rows = [(i % n_queries, f"evalgram{i:05d}") for i in range(n_terms)]
        rows += [(j % n_queries, t) for j, t in enumerate(vocab)]
        qmap = spark.createDataFrame(rows, "query_id long, term string")
        prunes = ("semijoin", "inlist") if sf_dir == SRC else ("semijoin",)
        for prune in prunes:
            scored = bm25_scores(docs, qmap, prune=prune)
            sec = _time_noop(topk_per_query(scored, 10))
            print(
                f"retrieval_qset[{label}] prune={prune} "
                f"terms={n_terms + len(vocab)} vocab={len(vocab)} "
                f"bm25+topk noop={sec}s",
                flush=True,
            )

        # hot query: the top-10 most frequent tokens (covers the
        # per-decade variants of the dominant base token at 100×) —
        # nearly every document scores
        hot = [
            r["t"]
            for r in docs.select(tok).groupBy("t").count()
            .orderBy(F.desc("count"), "t").limit(10).collect()
        ]
        qhot = spark.createDataFrame(
            [(999, t) for t in hot], "query_id long, term string"
        )
        scored_hot = bm25_scores(docs, qhot, prune="inlist").localCheckpoint(
            eager=True
        )
        n_scored = scored_hot.count()
        n_docs = docs.count()
        one = _time_noop(topk_per_query(scored_hot, 10, n_shards=1))
        sharded = _time_noop(topk_per_query(scored_hot, 10, n_shards=32))
        release_local_checkpoint(scored_hot)
        print(
            f"retrieval_hot[{label}] scored={n_scored}/{n_docs} docs; "
            f"topk global-window={one}s two-level(32)={sharded}s",
            flush=True,
        )


def funnel_probe(spark) -> None:
    """r8 (VERDICT r7 task 4): the funnel min-chain at 100× events
    (10M rows / 150k users) — the claim under test is that it scales
    like the scan-agg family (per step: one pushdown-filtered scan +
    one user-grain join + one user-grain agg; nothing per-event
    stateful). Measured on the registry's 3-step funnel AND a 5-step
    funnel in both recompute (default) and persist_steps modes."""
    from training_datawarehouse_spark.operators.funnel import funnel_counts
    from training_datawarehouse_spark.plans.relational import (
        FUNNEL_STEPS, FUNNEL_WITHIN_DAYS,
    )
    from training_datawarehouse_spark.sources.tables import load_table

    five = ["signup", "view", "click", "purchase", "error"]
    for sf_dir, label in ((SRC, "sf0.1"), (DST, "100x")):
        ev = load_table(spark, sf_dir, "events")
        for steps, tag in ((FUNNEL_STEPS, "3step"), (five, "5step")):
            recompute = _time_noop(
                funnel_counts(ev, steps, within_days=FUNNEL_WITHIN_DAYS)
            )
            t0 = time.time()
            # persist mode does its work eagerly (one job populates
            # the caches and checkpoints the count table) — wall-clock
            # the call AND the noop drain of the returned frame
            pf = funnel_counts(
                ev, steps, within_days=FUNNEL_WITHIN_DAYS,
                persist_steps=True,
            )
            pf.write.format("noop").mode("overwrite").save()
            persist = round(time.time() - t0, 2)
            print(
                f"funnel[{label}] {tag} recompute={recompute}s "
                f"persist_steps={persist}s",
                flush=True,
            )


def bucket_stats(spark) -> None:
    """Hot-bucket cap behavior at both scales: the LSH in-bucket pair
    expansion is quadratic in bucket size, bounded by the max_bucket
    cap (operators/dedup.py lsh_candidate_pairs_portable). This probe
    builds the same band rows with ``lsh_band_index`` (md5 family, the
    registry entry's parameters: 32 hashes, 8 bands of 4 rows) and
    records the bucket-size distribution — the quantity the cap
    governs."""
    from training_datawarehouse_spark.operators import dedup as dd
    from training_datawarehouse_spark.sources.tables import load_table

    cap = 10_000
    for sf_dir, label in ((SRC, "sf0.1"), (DST, "100x")):
        docs = load_table(spark, sf_dir, "documents")
        sizes = (
            dd.lsh_band_index(docs, "doc_id", "text", num_hashes=32,
                              bands=8, rows_per_band=4)
            .groupBy("band", "sig")
            .agg(F.count(F.lit(1)).alias("sz"))
            .filter(F.col("sz") > 1)
        )
        row = sizes.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("sz").alias("max_sz"),
            F.sum(F.col("sz") * (F.col("sz") - 1) / 2).alias("pairs"),
            F.sum((F.col("sz") > cap).cast("int")).alias("over_cap"),
            F.sum(
                F.when(F.col("sz") > cap,
                       F.col("sz") * (F.col("sz") - 1) / 2).otherwise(0.0)
            ).alias("pairs_capped_away"),
        ).collect()[0]
        print(
            f"buckets[{label}]: n>1={row['n_buckets']} "
            f"max={row['max_sz']} pairs={int(row['pairs'])} "
            f"over_cap(10k)={row['over_cap']} "
            f"pairs_capped_away={int(row['pairs_capped_away'] or 0)}",
            flush=True,
        )


if __name__ == "__main__":
    main()
