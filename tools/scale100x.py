"""100× measured-scaling spot-check (round-5 verdict task 6; extended
to the MinHash-LSH dedup family in round 6 per VERDICT r5 task 3).

Extends tools/scale10x.py's replica method by another decade for the
scan-agg (tpch_q1), exact-dedup (ns_dedup_exact), as-of-join
(op_jn_asof) families plus — r6 — the full MinHash-LSH cross-modal
pipeline (the registry entry's md5 family,
~500 k documents at 100×, near-dup density kept linear by the same
9-of-10 per-copy perturbation rule: text suffixes for documents,
vector rotations for embeddings, vec_id shifted by DOCUMENTS' row
count so the doc_id ≡ vec_id cross-modal prefix stays aligned).
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

Usage: python tools/scale100x.py [--rebuild] [--retrieval] [--funnel]
           [--quant] [--graph] [--qsk] [--ckstats] [query ...]
  --rebuild  rebuild the 100× replica even if it exists
  --<probe>  after the sweep, run that family's probe (below)
  query      time only these sweep entries
An unknown flag is an error, raised before any Spark session starts.
Output: one table per probe; paste into SCALE.md.
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
    unknown = [a for a in sys.argv[1:]
               if a.startswith("-") and a != "--rebuild" and a not in PROBES]
    if unknown:
        sys.exit(f"unknown flag {', '.join(unknown)}; accepted: --rebuild "
                 + " ".join(PROBES))
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

    for flag, probe in PROBES.items():
        if flag in sys.argv:
            probe(spark)


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


#: flag -> the probe it runs after the sweep, in run order
PROBES = {
    "--retrieval": retrieval_probe,
    "--funnel": funnel_probe,
    "--quant": quant_probe,
    "--graph": graph_probe,
    "--qsk": qsk_probe,
    "--ckstats": ckstats_probe,
}


if __name__ == "__main__":
    main()
