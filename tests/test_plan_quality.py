"""Plan-quality gates: every registered query must keep the shapes the
engine promises (README design rules / SCALE.md).

These parse physical plans without executing them — cheap, and they
catch regressions like a rewrite silently introducing a row-at-a-time
Python UDF or losing a broadcast.
"""

from __future__ import annotations

import pytest

from training_datawarehouse_spark.plans import QUERIES

SF_DIR = "/root/testdata/sf0.001"

# The only queries allowed to cross into Python — and only via Arrow
# (FlatMapGroupsInPandas / MapInPandas / FlatMapGroupsInPandasWithState).
ARROW_ALLOWED = {
    "op_win_1_ewma_dual",       # sequential EWMA recurrence (pandas path)
    "ns_multimodal_meta",       # media decode (stub + real PNG/WAV codecs)
    # (ns_dedup_lsh_cross_modal's r9 pHash/audio codec crossings run at
    # BUILD time behind eager localCheckpoints — the final plan reads
    # the (id, 4×int) signature RDDs, so it needs no allowlisting here)
}


def _plan(spark, name: str) -> str:
    df = QUERIES[name].builder(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark):
    return {name: _plan(spark, name) for name in QUERIES}


def test_no_row_python_udfs_anywhere(plans):
    """Row-at-a-time Python UDFs (BatchEvalPython) are banned outright."""
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert offenders == []


def test_python_crossings_are_arrow_and_allowlisted(plans):
    """Any Python crossing must be Arrow-batched AND on the allowlist."""
    py_nodes = ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython")
    crossing = {n for n, p in plans.items() if any(k in p for k in py_nodes)}
    assert crossing <= ARROW_ALLOWED, f"unexpected Python crossing: {crossing - ARROW_ALLOWED}"


def test_dim_joins_broadcast_not_sortmerge(plans):
    """TPC-H-shaped dim joins must stay broadcast (no SortMergeJoin)."""
    for name in ("tpch_q3_shipping_priority", "tpch_q5_nation_revenue"):
        assert "SortMergeJoin" not in plans[name], name


def test_scans_prune_columns(plans):
    """q6 must read only its 4 needed lineitem columns."""
    p = plans["tpch_q6_forecast_revenue"]
    scan_line = next(l for l in p.splitlines() if "FileScan parquet" in l)
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_shipdate"):
        assert col in scan_line
    assert "l_partkey" not in scan_line and "l_comment" not in scan_line


def test_q19_or_blocks_push_into_both_scans(spark):
    """The disjunction-of-conjunctions must reach the parquet readers:
    quantity bands on the lineitem scan, brand/size bands on the part
    scan — not sit in a post-join Filter only."""
    from training_datawarehouse_spark.plans.tpch_deep import q19_discount_revenue

    p = q19_discount_revenue(spark, SF_DIR)._jdf.queryExecution() \
        .executedPlan().toString()
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("l_quantity" in l and "Or(" in l for l in pushed), pushed
    assert any("p_brand" in l and "Or(" in l for l in pushed), pushed


def test_salted_agg_is_two_level(plans):
    """op_skew_salted_agg must aggregate twice ((keys, salt) then keys),
    each with a partial/final split — and never join."""
    p = plans["op_skew_salted_agg"]
    assert p.count("HashAggregate") == 4, p.count("HashAggregate")
    assert "Join" not in p


def test_tpch_deep_dims_broadcast(plans):
    """Across the sixteen deep TPC-H subplans every dimension join must be
    broadcast; sort-merge is reserved for fact-fact and decorrelated
    subquery joins (q2/q16/q18/q22 machinery)."""
    p = plans["tpch_deep_shapes"]
    assert p.count("BroadcastHashJoin") >= 10


# SCALE.md's shuffle budget, EXECUTED: exact `Exchange hashpartitioning`
# node counts in the static physical plan at sf0.001, per operator-family
# representative. A rewrite that adds (or removes) a shuffle changes the
# count and fails here — updating this table is the conscious act that
# replaces "a judge's eye" as the regression catch. Two caveats baked
# into the numbers: (a) union-of-branches plans count each branch's
# exchanges statically even when AQE collapses them to ReusedExchange at
# runtime (lsh_cross_modal's 10 is 2 semantic shuffles × branches), and
# (b) broadcast exchanges are budgeted separately (dims must broadcast —
# asserted by the join-strategy tests above, not here).
SHUFFLE_BUDGET = {
    # family: scan-agg — 1 (partial agg → exchange → final agg)
    "tpch_q1_pricing_summary": 1,
    "tpch_q6_forecast_revenue": 0,      # single-row agg: SinglePartition only
    # family: multi-join — dims broadcast; 1 exchange for the final agg
    "tpch_q3_shipping_priority": 1,
    "tpch_q5_nation_revenue": 1,
    # family: cube — two-level lattice (cells, then Expand over cells)
    "op_agg_1_cube_lattice": 2,
    # family: rollup — day → week/month re-aggregations
    "op_agg_6_rollup_periodic": 4,
    # family: windows — 1 shuffle to the window key
    "op_win_2_monotony_strain": 1,
    "op_ts_2_interpolation": 1,
    # family: exact dedup — 1 shuffle on the content hash
    "ns_dedup_exact": 1,
    "op_dd_1_dedup_first": 2,           # + group-size profile branch
    # family: LSH near-dedup — 2 semantic (sig groupBy, band groupBy),
    # counted across the candidates ∪ cross-modal branches statically.
    # r9: +0 in the FINAL plan for the image_phash and audio_fp stages
    # — their semantic shuffles (hash-group groupBy, band groupBy,
    # rep-pair distinct, per stage) run at BUILD time behind eager
    # localCheckpoints of the signature and verified-pair frames; the
    # final plan unions two pair RDDs joined LEFT to the (broadcast at
    # this scale) embeddings. The codec crossings are row-local inside
    # the signature checkpoint.
    # r10: +0 again for the video_fp stage — frame-grain banding,
    # Hamming verify, AND the offset-voting window all run at build
    # time behind the same eager-checkpoint discipline; the final
    # plan gains only a third video-grain pair RDD branch.
    # r16: 10 → 0. The round's plan audit found the "2 semantic
    # shuffles × branches counted statically" caveat was REAL
    # EXECUTION, not double counting: the pushed-down τ=0.5 filter
    # de-canonicalizes the candidates branch, so zero ReusedExchange
    # fired and the whole md5 LSH pipeline ran twice per run. The
    # shared τ=0.3 candidate pass now materializes at build time
    # (lsh_candidate_pairs_portable materialize=True — signature
    # table internally checkpointed for its 3 consumers, pair frame
    # checkpointed, internal checkpoint released), so the FINAL plan
    # is a union of pair RDDs left-joined to broadcast embeddings:
    # the 2 semantic LSH shuffles are priced once at build, like the
    # modality stages' since r9.
    "ns_dedup_lsh_cross_modal": 0,
    # family: similarity/retrieval — corpus never shuffles for the
    # cosine stage (1: top-k window). r7: +9 for BM25 + RRF — the
    # shared scored candidate set materializes at build time behind a
    # localCheckpoint (tf/df/score exchanges priced once there; 0
    # corpus scans in this plan), leaving the two 2-level top-k window
    # pairs (bm25 k=5, more-like-this k=20), the RRF full join's two
    # repartitions, the fused top-k pair, and the depth-20 cosine
    # ranking's window — every one over candidate-set-sized rows.
    # r16: 10 → 8 — ONE shared k=20 cosine pass (materialized at
    # build, ≤160 rows) now serves both the 'cosine' stage (its
    # rank ≤ 5 prefix) and the RRF vector ranking, so the second
    # ranking's 2 window exchanges (and its corpus scan + broadcast
    # join) left the final plan.
    "ns_similarity_topk": 8,
    # family: text analysis — profile: fp dupe-group window + the r5
    # bigram-LM stage (bigram groupBy, unigram groupBy, per-doc score
    # groupBy; the model itself broadcasts, top-K select is
    # TakeOrdered); lang_quality gained the url_norm dedup window in r5
    # r6: +3 for the BPE stage — encode's groupBy(doc_id) partial agg,
    # and the doc-grain profile ⋈ doc-grain token-count merge join
    # (both sides corpus-sized, so a shuffle join is the correct shape
    # at scale; the encode side's groupBy partitioning is reused).
    # r6b: +5 — DSIR (256-row model groupBy [map-side combinable],
    # per-doc score groupBy, per-domain rank window, selection merge
    # join; the broadcast model join adds no hash exchange) and the
    # trained-classifier merge join of the localCheckpointed scored
    # frame back onto the doc-grain profile. The classifier FIT's own
    # per-epoch gradient exchanges run during the builder, before this
    # plan — row-local margins keep them out of the scoring plan.
    # r7: −4 — the advisor-flagged cache-release fix (bigram-LM unigram
    # counts and DSIR bucket counts now materialize behind vocab-sized
    # localCheckpoints before the scoring plan is built), so their
    # training exchanges run once at build time instead of appearing
    # in — and being re-derived by — the final plan.
    # r9: +1 for the unigram-LM stage — the per-doc groupBy over
    # exploded trainable words (ulm_nll/ulm_exp_tokens partial agg;
    # the vocabulary-sized word-stats table broadcasts, and the EM
    # training loop runs at build time, so this is the stage's only
    # exchange — same shape as the r6 BPE-encode groupBy).
    # r10: +1 for the WordPiece encode groupBy (trained words
    # broadcast; the merge-training pair/symbol-count jobs run at
    # build time on the driver fast path).
    "ns_text_profile": 10,
    # r12: +2 for the PageRank stage — the iteration chain itself is
    # checkpointed at build time (the KMV discipline), so the final
    # plan pays only the out/in-degree groupBys over the checkpointed
    # edge set; the rank join-back rides the doc_id sort-merge.
    # r15: +1 — the edge set now routes through eager_checkpoint
    # (stat-less leaf, the iterative-family consistency fix), so the
    # static planner no longer inherits the origin's small estimate
    # and plans the final rank⋈edges joins as SMJ instead of
    # broadcasting the edge set. That static default is the
    # 100 TB-correct one (an edge set is corpus-sized; broadcasting
    # it is only right when it happens to be small) and AQE converts
    # back to broadcast at runtime from REAL shuffle sizes when it
    # is. Measured at sf0.1: no wall-clock movement (~3.5 s warm).
    "ns_lang_quality": 4,
    # family: chunk/pack — two-level prefix scan, no global window
    "ns_chunk_pack": 5,
    # family: splits/sampling — threshold path scan-only; quota branch
    # 3; the r5 leakage stage adds the url-group window + the
    # per-group distinct-label aggs and per-split counts
    "ns_split_train_val": 8,
    # family: multimodal — one metadata agg per codec stage
    # (stub/png/wav + jpeg since r4)
    # r10: +1 — the avi container stage's groupBy(format)
    # one groupBy(format) per codec stage (r11: +1 for avi_mjpg)
    "ns_multimodal_meta": 7,
    # family: approx aggs — separate agg branches + sketch rollup.
    # r6: +4 in the FINAL plan for the Count-Min stages (per-path
    # probe-estimate and exact-count groupBys; probe/exact/total sides
    # broadcast, 0 SortMergeJoin). The sketch BUILDS (explode ->
    # 256-row map-side-combinable groupBy per path, daily partials +
    # elementwise merge) run at build time behind localCheckpoint —
    # their exchanges are priced in the builder, not re-derived per
    # consuming branch of the union (measured: the un-checkpointed
    # static plan re-counted them to 17)
    "op_approx_aggs": 11,
    # family: event profile — Expand kept out of the percentile sorts
    "op_agg_event_profile": 6,
    # family: fingerprints/signatures
    # r6: +2 for dup-span coverage — ONE corpus-wide window on the
    # 5-gram key (the count pass; replaces a groupBy+join-back pair)
    # and the per-doc interval-union lag window
    "ns_doc_signatures": 7,
    # family: ANN methods (r8) — six methods + recall + encode in one
    # plan: LSH (bucket-join distinct + rescore + rank window = 4),
    # IVF (list join + rank = 2), raw-ADC/rerank/IVFADC PQ rankings
    # (rank window + cosine join-backs = 8; codes are row-local, the
    # quantizer/codebook trainings run at BUILD time — their exchanges
    # never appear here), exact-top-k + recall + encode groupBys (4).
    # r9: +4 for the residual IVFADC ranking (its per-list ADC join is
    # broadcast — the 4 are the rank window + exact-cosine join-backs,
    # the same shape as the other PQ rankings; residual encode itself
    # is row-local literals, zero exchanges).
    # r10: +2 for the sq8 scalar-quantization ranking — the rank
    # window plus its exact-cosine join-back (the min/max training
    # agg runs at build time; encode and ADC are row-local literals)
    # — and +2 each for sq8l (list join broadcast, per-list bounds
    # literals) and sq8n (normalize-then-quantize) — every SQ variant
    # costs exactly its rank window + exact-cosine join-back.
    # The corpus embedding column itself shuffles ONLY doc-grain slim
    # rows — never as part of an all-pairs product.
    # r11: +0 for the NN-descent graph stage — the graph build and its
    # member-query top-k both materialize at BUILD time (the KMV
    # discipline); the final plan only scans the ≤ queries·k
    # checkpointed rows.
    # r15: +0 for the 'nnd_serve' hierarchical-serving stage — the
    # coarse-layer graph and both beam descents also materialize at
    # build time; the final plan scans the ≤ queries·k serve rows.
    "ns_similarity_ann": 28,
    # family: embedding model fit (r8) — ZERO hash exchanges in the
    # final plan: raw/whitened pair stages are subset-bounded BNL
    # joins, the projection is row-local literals, and the PCA
    # moments/power-iteration exchanges run at build time.
    "ns_dedup_embedding_cosine": 0,
}


def test_shuffle_counts_match_budget(plans):
    """Exact hash-exchange counts per family representative (SCALE.md
    budget): an accidental extra shuffle — or a silently dropped one —
    fails CI instead of waiting for a plan audit."""
    got = {
        name: plans[name].count("Exchange hashpartitioning")
        for name in SHUFFLE_BUDGET
    }
    assert got == SHUFFLE_BUDGET, {
        n: (got[n], SHUFFLE_BUDGET[n])
        for n in got if got[n] != SHUFFLE_BUDGET[n]
    }


def test_no_cartesian_and_nested_loops_only_where_bounded(plans):
    """CartesianProduct (both sides large, no broadcast — the all-pairs
    trap the banded/bucketed designs exist to avoid) is banned in every
    plan. BroadcastNestedLoopJoin is the DESIGNED shape for non-equi
    joins against a provably tiny build side, so it is allowlisted
    per entry; an accidental BNL anywhere else — which at 100 TB means
    a full corpus re-scan per build row — fails here."""
    assert [n for n, p in plans.items() if "CartesianProduct" in p] == []
    bnl_allowed = {
        "ns_similarity_topk",        # corpus ⋈ broadcast(queries), non-equi
        "ns_similarity_ann",         # same + recall join on tiny result
        "ns_dedup_embedding_cosine",  # subset-bounded exact oracle anchor
        "ns_doc_signatures",         # cross with 1-row winnowing params
        "op_jn_1_densify",           # date spine × 1-row min/max bounds
        "op_win_1_ewma_dual",        # block-summary range join (|blocks|)
        "op_jn_range",               # interval containment, non-equi
        "tpch_deep_shapes",          # q22 global-scalar 1-row broadcast
        "op_fn_scalar_breadth",      # scalar-literal cross, 1 row
        "op_approx_aggs",            # CMS N-total: 1-row broadcast cross
        "op_stream_windows_batch",   # funnel step-1 denominator: 1-row cross
        "op_stream_e2e",             # r9 sfunnel stage: same 1-row
                                     # step-1 denominator cross
        "ns_ngram_jaccard",          # r12 bloom stage: 1-row bitmap
                                     # broadcast cross (the map-only
                                     # probe's designed shape)
        "ns_lang_quality",           # r12 pagerank: 1-row n_docs +
                                     # per-iteration dangling-sum
                                     # broadcast crosses
    }
    offenders = [
        n for n, p in plans.items()
        if n not in bnl_allowed and "BroadcastNestedLoopJoin" in p
    ]
    assert offenders == []


def test_every_registry_entry_has_an_oracle():
    """r03 milestone, pinned: all 50 entries carry DuckDB oracle SQL —
    no rows-only rows left (even the approximate-aggregate entry is
    bounds-checked). A new entry without an oracle fails here first."""
    assert len(QUERIES) == 50
    missing = [n for n, q in QUERIES.items() if not q.oracle]
    assert missing == []


#: The only parameters a registry builder may take beyond (spark,
#: sf_dir): the headline's sketch-only production path, and the corpus
#: the clustered-vector recall eval injects into the ANN composite.
BUILDER_EXTRA_PARAMS = {
    "op_approx_aggs": ("sketch_only",),
    "ns_similarity_ann": ("emb",),
}


def test_registry_builders_take_only_spark_and_sf_dir():
    """Each registry builder is ONE production path: no stage or
    sub-plan flags, so no second, unmeasured plan can grow back."""
    import inspect

    offenders = {}
    for name, q in QUERIES.items():
        params = tuple(inspect.signature(q.builder).parameters)
        if params != ("spark", "sf_dir") + BUILDER_EXTRA_PARAMS.get(name, ()):
            offenders[name] = params
    assert offenders == {}


def test_new_deep_shapes_decorrelate_cleanly(spark):
    """The r4 subquery shapes (q13/q17/q20/q21) must decorrelate into
    broadcast-hash joins — never a cartesian product or nested loop
    (the composite's BNL allowance is for q22's scalar broadcast and
    must not hide a pathological new plan)."""
    from training_datawarehouse_spark.plans.tpch_deep import (
        q13_order_count_hist, q17_small_quantity_revenue,
        q20_excess_share_suppliers, q21_sole_late_supplier,
    )

    from training_datawarehouse_spark.plans.tpch_deep import (
        q11_important_stock, q12_late_shipping_priority, q15_top_supplier,
    )

    # q11 is join-free by design (aggregate + global scalar filter), so
    # it only owes the no-pathology half of the gate
    for fn, needs_bhj in (
        (q11_important_stock, False), (q12_late_shipping_priority, True),
        (q13_order_count_hist, True), (q15_top_supplier, True),
        (q17_small_quantity_revenue, True),
        (q20_excess_share_suppliers, True), (q21_sole_late_supplier, True),
    ):
        p = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in p, fn.__name__
        assert "BroadcastNestedLoopJoin" not in p, fn.__name__
        if needs_bhj:
            assert "BroadcastHashJoin" in p, fn.__name__


def test_tpch_deep_every_shape_nonempty(spark):
    """Each of the sixteen shapes inside the composite must contribute
    rows at the correctness scale factor — guards against a data
    regeneration silently emptying a constituent (q9/q22 shipped empty
    once: a LIKE pattern and a NOT EXISTS window that matched nothing)."""
    from training_datawarehouse_spark.plans.tpch_deep import tpch_deep_shapes

    counts = {
        r["shape"]: r["count"]
        for r in tpch_deep_shapes(spark, "/root/testdata/sf0.01")
        .groupBy("shape").count().collect()
    }
    expected = {
        "q2_min_cost_supplier", "q7_volume_shipping", "q8_market_share",
        "q9_product_profit", "q11_important_stock",
        "q12_late_shipping_priority", "q13_order_count_hist",
        "q14_promo_revenue", "q15_top_supplier",
        "q16_supplier_diversity", "q17_small_quantity_revenue",
        "q18_large_orders", "q19_discount_revenue",
        "q20_excess_share_suppliers", "q21_sole_late_supplier",
        "q22_idle_accounts",
    }
    assert set(counts) == expected
    assert all(v > 0 for v in counts.values()), counts


def test_runtime_bloom_filter_reduces_fact_scan(spark, tmp_path):
    """Runtime bloom-filter semi-join reduction (the other half of the
    100 TB fact⋈fact story next to bucketing/skew handling): when one
    side of a shuffle join carries a selective filter, Catalyst plants
    a bloom_filter_agg on it and pushes might_contain() into the OTHER
    side's scan — the fact side drops non-joining rows BEFORE the
    exchange instead of shuffling 100 TB to discard most of it at the
    join. Gates: the filter IS injected under shuffle-join conditions,
    it is NOT when the optimization is off, and answers are identical
    both ways."""
    from pyspark.sql import functions as F

    big = spark.range(200_000).select(
        F.col("id").alias("k"), (F.col("id") % 100).alias("v")
    )
    small = spark.range(2_000).select(
        (F.col("id") * 100).alias("k"), (F.col("id") % 7).alias("tag")
    )
    big.write.mode("overwrite").parquet(str(tmp_path / "big"))
    small.write.mode("overwrite").parquet(str(tmp_path / "small"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # the app-side size gate defaults to 10 GiB — drop it so the tiny
    # fixture qualifies; every other threshold stays at its default
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    try:
        b = spark.read.parquet(str(tmp_path / "big"))
        s = spark.read.parquet(str(tmp_path / "small")).where(F.col("tag") == 3)
        j = b.join(s, "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan          # pushed into the big scan
        assert "bloom_filter_agg" in plan       # planted on the filtered side
        with_bloom = sorted((r["k"], r["tag"]) for r in j.collect())

        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "false"
        )
        j2 = b.join(s, "k")
        plan2 = j2._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" not in plan2
        assert with_bloom == sorted((r["k"], r["tag"]) for r in j2.collect())
        assert len(with_bloom) == 2_000 // 7 + (1 if 2000 % 7 > 3 else 0)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")


# --------------------------------------------- build-time job budgets

#: r17 (r16 verdict #5 / "What's wrong" item 5): operators that adopt
#: ``materialize=True`` move their semantic shuffles into BUILD-TIME
#: eager jobs the final-plan SHUFFLE_BUDGET gate cannot see. This
#: budget keeps that priced: the number of Spark jobs a materialized
#: build may launch (AQE runs each query stage as its own job, so the
#: numbers carry headroom over the logical job count — measured 9/9/12
#: at sf0.001 on Spark 4.1.2). A regression that re-introduces a
#: duplicated-subplan execution or an extra eager barrier shows up as
#: a budget breach here.
BUILD_JOB_BUDGET = {
    "lsh_portable_materialized": 13,
    "phash_pairs_materialized": 13,
    "video_pairs_materialized": 17,
}


def test_materialized_builds_stay_within_job_budget(spark, jobs_of):
    from pyspark.sql import functions as F

    from training_datawarehouse_spark.functions.caching import (
        release_local_checkpoint,
    )
    from training_datawarehouse_spark.operators import (
        audiofp as afp,
        dedup as dd,
        phash as ph,
        video as vd,
    )
    from training_datawarehouse_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    docs.count()

    def build_jobs(fn):
        jobs, out = jobs_of(fn)
        release_local_checkpoint(out)
        return jobs

    got = {}
    got["lsh_portable_materialized"] = build_jobs(
        lambda: dd.lsh_candidate_pairs_portable(
            docs, "doc_id", "text", jaccard_threshold=0.3,
            materialize=True))
    sig = afp.fused_multimodal_signatures(
        docs, "doc_id", "text", include_video=True,
    ).localCheckpoint(eager=True)
    isig = sig.select(
        "id", *[F.col(f"ib{k}").alias(f"b{k}") for k in range(4)])
    got["phash_pairs_materialized"] = build_jobs(
        lambda: ph.phash_candidate_pairs(isig, materialize=True))
    vsig = sig.select(
        "id",
        F.explode(F.array(*[
            F.struct(F.lit(f).alias("frame"),
                     *[F.col(f"vf{f}b{k}").alias(f"b{k}")
                       for k in range(4)])
            for f in range(vd.N_FRAMES)
        ])).alias("s"),
    ).select("id", "s.frame",
             *[F.col(f"s.b{k}").alias(f"b{k}") for k in range(4)])
    got["video_pairs_materialized"] = build_jobs(
        lambda: vd.video_pair_matches(vsig, materialize=True))
    release_local_checkpoint(sig)

    over = {k: (got[k], BUILD_JOB_BUDGET[k])
            for k in got if got[k] > BUILD_JOB_BUDGET[k]}
    assert not over, f"build-time job budget exceeded: {over}"
    assert all(v > 0 for v in got.values()), got  # the counter works
