"""Streaming near-dup admission (r12 — the r11 verdict's top ask).

Three contracts:
1. the ROW-LOCAL signature kernel is bit-identical to the batch
   portable minhash family (same band keys -> the streaming decision
   and every batch LSH consumer agree on what "collides" means);
2. the streaming admission decision equals the batch first-writer rule
   (earliest smaller-id doc sharing any band bucket), including matches
   whose evidence lives in an EARLIER micro-batch's state;
3. state is bucket-grain and O(1) per bucket — a mega-bucket flood
   (many identical docs) leaves exactly one state row per touched
   bucket, never one per document.
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

import training_datawarehouse_spark.operators.dedup as dd
from training_datawarehouse_spark.streaming.events_stream import drain
from training_datawarehouse_spark.streaming.stateful import (
    streaming_neardup_admission,
)

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
SPARK_DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])


def _doc_tables(batches):
    return [
        pa.Table.from_pylist(
            [{"doc_id": d, "text": t} for d, t in docs], schema=DOC_SCHEMA,
        )
        for docs in batches
    ]


def _doc_stream(spark, src):
    return (
        spark.readStream.schema(SPARK_DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _drain_admission(spark, batches):
    """Stream each batch as one micro-batch, in order, through the
    admission operator; return (sink rows, per-batch progress)."""
    def query(src):
        bands = dd.minhash_band_rows_rowlocal(
            _doc_stream(spark, src), "doc_id", "text", num_hashes=16,
            bands=4, rows_per_band=4, shingle_n=3,
        )
        return streaming_neardup_admission(bands)

    sink, progress = drain(spark, _doc_tables(batches), query, "update")
    return sink.collect(), progress


def _batch_rule(spark, all_docs):
    """The batch twin: per (doc, band), min smaller-id doc sharing the
    bucket — computed from the SAME row-local band rows, in batch."""
    df = spark.createDataFrame(
        [(d, t) for d, t in all_docs], "doc_id long, text string"
    )
    b = dd.minhash_band_rows_rowlocal(
        df, "doc_id", "text", num_hashes=16, bands=4, rows_per_band=4,
        shingle_n=3,
    )
    joined = (
        b.alias("x")
        .join(
            b.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("y.doc_id") < F.col("x.doc_id")),
            "left",
        )
        .groupBy(F.col("x.doc_id").alias("doc_id"), F.col("x.band").alias("band"))
        .agg(F.min("y.doc_id").alias("match_id"))
    )
    return {(r["doc_id"], r["band"]): r["match_id"] for r in joined.collect()}


def test_rowlocal_bands_match_batch_portable(spark):
    """Kernel parity: the streaming-legal row-local fold produces the
    exact band keys of the batch shingle-explode -> groupBy -> k-min
    portable family (one formula, two plan shapes)."""
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "completely different content with many unique words here",
        "short text only",   # 3 tokens -> 1 shingle
        "ab cd",             # 2 tokens -> filtered out (no shingles)
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    sh = dd.hashed_shingles_portable(df, "doc_id", "text", 3)
    per = sh.groupBy("doc_id").agg(*dd._portable_min_exprs(16))
    batch = per.select("doc_id", F.explode(F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("|", *[
                F.col(f"h{b * 4 + j}").cast("string") for j in range(4)
            ]).alias("sig"),
        )
        for b in range(4)
    ])).alias("bs")).select("doc_id", "bs.band", "bs.sig")
    rl = dd.minhash_band_rows_rowlocal(df, "doc_id", "text", 16, 4, 4, 3)
    got = {(r["doc_id"], r["band"]): r["sig"] for r in rl.collect()}
    want = {(r["doc_id"], r["band"]): r["sig"] for r in batch.collect()}
    assert got == want
    # doc 4 (2 tokens) dropped by both kernels
    assert not any(k[0] == 4 for k in got)


def test_admission_matches_batch_rule_across_batches(spark):
    """The sequential streaming decision == the batch first-writer rule,
    with at least one reject whose ONLY evidence is state written by an
    earlier micro-batch (the filter-before-store path actually crossing
    a state read)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    batch0 = [
        (0, base),
        (1, "unrelated content about something else entirely here now"),
        (2, base + " extra"),  # near-dup of 0, same batch
    ]
    batch1 = [
        (10, base + " tail"),  # near-dup of 0 — CROSS-batch evidence
        (11, "fresh novel text with no overlap to anything prior ok"),
    ]
    rows, _ = _drain_admission(spark, [batch0, batch1])
    got = {(r["doc_id"], r["band"]): r["match_id"] for r in rows}
    want = _batch_rule(spark, batch0 + batch1)
    assert got == want
    # the planted cross-batch near-dup was rejected against doc 0
    m10 = {got[k] for k in got if k[0] == 10} - {None}
    assert 0 in m10
    # novel docs admitted (all bands NULL)
    for d in (0, 1, 11):
        assert {got[k] for k in got if k[0] == d} == {None}


def test_admission_state_is_bucket_grain(spark):
    """Mega-bucket flood: 40 identical docs touch 4 buckets total; the
    state store must hold ONE row per bucket (first_id, n), not one per
    doc — the hot-bucket problem vanishes by construction instead of
    needing a cap."""
    text = "identical boilerplate spam flood document body text here"
    flood0 = [(i, text) for i in range(20)]
    flood1 = [(i, text) for i in range(20, 40)]
    rows, progress = _drain_admission(spark, [flood0, flood1])
    got = {(r["doc_id"], r["band"]): r["match_id"] for r in rows}
    # every doc except the first matches doc 0 in all 4 bands
    for d in range(1, 40):
        assert {got[(d, b)] for b in range(4)} == {0}
    assert {got[(0, b)] for b in range(4)} == {None}
    # state rows == touched buckets (4), independent of 40 docs
    n_state = max(
        op["numRowsTotal"] for p in progress for op in p["stateOperators"]
    )
    assert n_state == 4


def test_admission_e2e_stage_matches_oracle(spark):
    """The registry 'admit' stage of op_stream_e2e against its DuckDB
    oracle at sf0.001 — doc-grain admission decisions as values."""
    duckdb = pytest.importorskip("duckdb")
    from training_datawarehouse_spark.plans.relational import (
        _neardup_admission_oracle, stream_neardup_e2e,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = {
        r["k1"]: (r["k2"], r["n"], r["v"])
        for r in stream_neardup_e2e(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    sql = f"""
WITH {_neardup_admission_oracle().strip()}
SELECT CAST(did AS VARCHAR) AS k1, CAST(min(bmid) AS VARCHAR) AS k2,
       count(bmid) AS n,
       CASE WHEN count(bmid) = 0 THEN 1.0 ELSE 0.0 END AS v
FROM adm_m GROUP BY did
"""
    want = {
        k1: (k2, n, float(v)) for k1, k2, n, v in con.execute(sql).fetchall()
    }
    assert got == want
    assert any(n > 0 for _, n, _ in got.values())  # rejects exist


def test_admission_serves_media_phash_bands(spark):
    """MEDIA signatures ride the SAME admission operator (the verdict
    ask covers 'documents/media'): in-stream pHash band rows (real PNG
    encode->decode->DCT inside mapInPandas — stateless, so legal
    upstream of the stateful op) align onto (band, sig) and the
    cross-batch near-dup is rejected against the first-seen image."""
    import training_datawarehouse_spark.operators.phash as ph

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    batch0 = [(0, base), (1, "utterly different pixels come from "
                             "utterly different token histograms ok")]
    batch1 = [(10, base)]  # identical content -> identical pHash

    def query(src):
        sig = ph.image_phash_signatures(
            _doc_stream(spark, src), "doc_id", "text")
        bands = sig.select(
            F.col("id").alias("doc_id"),
            F.explode(F.array(*[
                F.struct(F.lit(k).alias("band"),
                         F.col(f"b{k}").cast("string").alias("sig"))
                for k in range(ph.N_BANDS)
            ])).alias("bs"),
        ).select("doc_id", "bs.band", "bs.sig")
        return streaming_neardup_admission(bands)

    sink, _ = drain(spark, _doc_tables((batch0, batch1)), query, "update")
    got = {}
    for r in sink.collect():
        got.setdefault(r["doc_id"], set()).add(r["match_id"])
    # doc 10's image is pixel-identical to doc 0's -> all 4 bands
    # collide with the batch-0 state; docs 0 and 1 admitted
    assert got[10] == {0}
    assert got[0] == {None} and got[1] == {None}


def test_stream_bloomgate_matches_batch_probe(spark):
    """The streaming decontamination gate is stateless, so its
    decisions must equal the batch bloom probe on the same corpus —
    micro-batching can have no effect."""
    from pyspark.sql import functions as F

    from training_datawarehouse_spark.operators import dedup as dd
    from training_datawarehouse_spark.operators import text as tx
    from training_datawarehouse_spark.plans.relational import (
        stream_bloomgate_e2e,
    )
    from training_datawarehouse_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {r["k1"]: (r["k2"], r["n"])
           for r in stream_bloomgate_e2e(spark, sf).collect()}

    docs = load_table(spark, sf, "documents")
    label = tx.train_val_test_split(F.col("doc_id"))
    words = list(dd.bloom_build(docs.filter(label != "train"),
                                "doc_id", "text", n=5)
                 .collect()[0]["words"])
    batch = dd.bloom_probe_lit(docs.filter(label == "train"),
                               "doc_id", "text", words, n=5)
    want = {str(r["doc_id"]): ("reject" if r["n_bloom_hits"] > 0
                               else "admit", r["n_bloom_hits"])
            for r in batch.filter(F.col("n_grams") >= 1).collect()}
    assert got == want
    assert any(v[0] == "reject" for v in want.values())
    assert any(v[0] == "admit" for v in want.values())
