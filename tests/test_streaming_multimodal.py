"""Streaming (stream/batch parity) + multimodal plumbing tests."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from training_datawarehouse_spark.operators import multimodal as mm
from training_datawarehouse_spark.plans.relational import tumbling_window
from training_datawarehouse_spark.streaming.events_stream import (
    drain, stream_events, windowed_counts,
)

SF_DIR = "/root/testdata/sf0.001"


def test_stream_batch_parity(spark):
    """availableNow drain of the events stream == the batch F.window
    aggregation (Structured Streaming's own guarantee, asserted)."""
    import pyarrow.parquet as pq

    sink, _ = drain(
        spark, [pq.read_table(f"{SF_DIR}/events.parquet")],
        lambda src: windowed_counts(stream_events(spark, src)), "complete",
    )
    stream_rows = sink.collect()
    batch = tumbling_window(spark, SF_DIR).collect()
    key = lambda r: (r["window_start"], r["event_type"])  # noqa: E731
    s = {key(r): (r["n"], r["total_value"]) for r in stream_rows}
    b = {key(r): (r["n"], r["total_value"]) for r in batch}
    assert s == b


def _two_batch_drain(spark, op, mode):
    """Drain ``op`` over the sf0.001 events staged as TWO files, so
    maxFilesPerTrigger=1 yields two micro-batches — state must survive
    between them. Returns the sink table."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/events.parquet")
    half = t.num_rows // 2
    sink, _ = drain(
        spark, [t.slice(0, half), t.slice(half)],
        lambda src: op(stream_events(spark, src)), mode,
    )
    return sink


def test_stateful_running_totals_across_batches(spark):
    from training_datawarehouse_spark.streaming.stateful import running_user_totals
    from training_datawarehouse_spark.sources.tables import load_table

    sink = _two_batch_drain(spark, running_user_totals, "update")
    # update mode re-emits a user's row each batch it appears in — the
    # LAST emission per user must equal the batch-exact totals
    got = {}
    for r in sink.collect():
        got[r["user_id"]] = (r["n_events"], r["total_value"])
    exact = {
        r["user_id"]: (r["n"], r["tv"])
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("tv"))
        .collect()
    }
    assert got == exact


def test_multimodal_decode_plumbing(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "another doc")], "doc_id long, text string"
    )
    payloads = mm.attach_binary_payload(docs, "doc_id", "text")
    meta = mm.decode_metadata(payloads).collect()
    assert len(meta) == 2
    by_id = {r["id"]: r for r in meta}
    assert by_id[1]["n_bytes"] == 16  # md5 digest payload
    assert by_id[1]["format"] in ("png", "jpeg", "webp")
    assert len(by_id[1]["checksum"]) == 16
    # deterministic: same text → same checksum
    again = {r["id"]: r for r in mm.decode_metadata(payloads).collect()}
    assert again[1]["checksum"] == by_id[1]["checksum"]


def test_png_codec_roundtrip_all_filters():
    """The REAL PNG codec: every scanline filter type round-trips the
    exact pixel raster; CRC corruption and truncated rasters are
    rejected. This is the decoder the registry 'png' stage runs."""
    import hashlib

    w, h = 13, 7
    pixels = bytes((x * 31 + y * 17) % 256 for y in range(h) for x in range(w))
    for ftype in range(5):
        data = mm.encode_png(w, h, pixels, filter_type=ftype)
        assert data[:8] == b"\x89PNG\r\n\x1a\n"
        img = mm.decode_png(data)
        assert (img["width"], img["height"]) == (w, h)
        assert img["pixels"] == pixels, f"filter {ftype} corrupted pixels"
    # flip a byte inside the IDAT body: CRC validation must fire
    data = bytearray(mm.encode_png(w, h, pixels, filter_type=2))
    idat_at = bytes(data).index(b"IDAT") + 6
    data[idat_at] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        mm.decode_png(bytes(data))
    # adapter: n_bytes is the DECODED raster, checksum is of the pixels
    meta = mm.png_decode_meta(mm.encode_png(w, h, pixels, filter_type=4))
    assert meta["n_bytes"] == w * h
    assert meta["checksum"] == hashlib.sha256(pixels).hexdigest()[:16]


def test_wav_codec_roundtrip():
    """The REAL WAV codec: 16-bit PCM round-trips samples and rates."""
    import struct

    samples = [0, 1000, -1000, 32767, -32768] * 20
    data = mm.encode_wav(samples, framerate=11025)
    meta = mm.decode_wav(data)
    assert meta["framerate"] == 11025
    assert meta["n_frames"] == len(samples)
    assert list(struct.unpack(f"<{len(samples)}h", meta["pcm"])) == samples
    top = mm.wav_decode_meta(data)
    assert top["width"] == 11025 and top["n_bytes"] == 2 * len(samples)


def test_multimodal_real_decode_in_plan(spark):
    """End-to-end through Spark: synthesized REAL PNGs/WAVs decoded by
    the real codecs inside Arrow-batched mapInPandas; decoded dims must
    equal the md5-derived dims the synthesizer embedded."""
    import hashlib

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "jumps over"), (3, "the lazy dog")],
        "doc_id long, text string",
    )
    png = {r["id"]: r for r in mm.decode_metadata(
        mm.synthesize_png_payload(docs, "doc_id", "text"),
        decode_fn=mm.png_decode_meta,
    ).collect()}
    wav = {r["id"]: r for r in mm.decode_metadata(
        mm.synthesize_wav_payload(docs, "doc_id", "text"),
        decode_fn=mm.wav_decode_meta,
    ).collect()}
    for did, text in [(1, "the quick brown fox"), (2, "jumps over"),
                      (3, "the lazy dog")]:
        digest = hashlib.md5(text.encode()).digest()
        assert png[did]["width"] == 16 + digest[0] % 16
        assert png[did]["height"] == 16 + digest[1] % 16
        assert png[did]["n_bytes"] == png[did]["width"] * png[did]["height"]
        assert wav[did]["width"] == 8000 + (digest[2] % 8) * 1000
        assert wav[did]["n_bytes"] == (256 + digest[3]) * 2


def test_decode_stub_raises_on_empty():
    with pytest.raises(NotImplementedError):
        mm.deterministic_fake_decode(b"")


def test_stream_stream_join_parity(spark):
    """Watermarked stream-stream interval join == the batch range join
    over the same events (multi-micro-batch drain)."""
    from training_datawarehouse_spark.sources.tables import load_table
    from training_datawarehouse_spark.streaming.joins import clicks_purchases_stream_join

    sink = _two_batch_drain(spark, clicks_purchases_stream_join, "append")
    got = sorted(
        (r["click_id"], r["p_ts"], r["p_value"]) for r in sink.collect()
    )

    ev = load_table(spark, SF_DIR, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id"), F.col("ts").alias("c_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.round("value", 6).alias("p_value"),
    )
    batch = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts") - F.expr("interval 1 hour"))
        & (F.col("p_ts") < F.col("c_ts")),
    )
    want = sorted(
        (r["click_id"], r["p_ts"], r["p_value"])
        for r in batch.select("click_id", "p_ts", "p_value").collect()
    )
    assert got == want and len(got) > 0


def test_events_ts_unit_tolerance(spark, tmp_path):
    """The events loader and streaming source must read BOTH ts
    encodings the driver has shipped: native micro timestamps and
    INT64 TIMESTAMP(NANOS) (regression: a hard-coded nanos schema
    shifted every window to 1970 when the data switched to micros)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from training_datawarehouse_spark.sources.tables import load_table

    base_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    n = 24
    us = [base_us + i * 3_600_000_000 for i in range(n)]  # hourly
    cols = {
        "event_id": list(range(n)),
        "user_id": [i % 3 for i in range(n)],
        "event_type": ["click"] * n,
        "value": [float(i) for i in range(n)],
        "props": ["{}"] * n,
    }
    for unit, vals in (("us", us), ("ns", [u * 1000 for u in us])):
        d = tmp_path / unit
        d.mkdir()
        table = pa.table({
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": pa.array(vals, pa.timestamp(unit)),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"]),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array(cols["props"]),
        })
        pq.write_table(table, d / "events.parquet",
                       coerce_timestamps=None, version="2.6")
        batch = load_table(spark, str(d), "events").select("ts").collect()
        years = {r["ts"].year for r in batch}
        assert years == {2024}, (unit, years)
        # the drain stages the same table in the same (native) unit
        sink, _ = drain(
            spark, [table],
            lambda src: windowed_counts(stream_events(spark, src)), "complete",
        )
        rows = sink.collect()
        assert sum(r["n"] for r in rows) == n
        assert {r["window_start"].year for r in rows} == {2024}, unit


def test_codec_sniff_falls_back_to_stub_on_unsupported(spark):
    """Malformed media degrades a row, never the job. Through
    ``decode_metadata``: a payload that STARTS like a PNG but isn't a
    supported one, a RIFF container that isn't WebP-lossless, a WAV
    whose fmt chunk overruns the file, and a 1-byte payload each get
    the stub's metadata; an empty or null payload gets null metadata;
    a good payload in the same Arrow batch still decodes for real."""
    import struct

    from training_datawarehouse_spark.operators import vp8l

    bogus_png = mm._PNG_SIG + b"\x00" * 32          # signature, garbage body
    fake_webp = b"RIFF" + b"\x20\x00\x00\x00" + b"WEBPVP8 " + b"\x07" * 16
    bad_wav = bytearray(mm.encode_wav(list(range(-50, 50))))
    bad_wav[16:20] = struct.pack("<I", 1000)
    nulls = dict.fromkeys(mm.MEDIA_META_SCHEMA.names[1:])
    for decode_fn, bad, good in (
        (mm.png_decode_meta, bogus_png, mm.encode_png(3, 2, bytes(range(6)))),
        (mm.webp_decode_meta, fake_webp, vp8l.encode_vp8l(2, 2, bytes(range(16)))),
        (mm.wav_decode_meta, bytes(bad_wav), mm.encode_wav([0, 7, -7])),
    ):
        df = spark.createDataFrame(
            [(1, bytearray(bad)), (2, bytearray(b"\x89")), (3, bytearray()),
             (4, None), (5, bytearray(good))],
            "id long, payload binary",
        ).coalesce(1)
        got = {r["id"]: r.asDict() for r in
               mm.decode_metadata(df, decode_fn=decode_fn).collect()}
        assert got[1] == {"id": 1, **mm.deterministic_fake_decode(bad)}
        assert got[2] == {"id": 2, **mm.deterministic_fake_decode(b"\x89")}
        assert got[3] == {"id": 3, **nulls} and got[4] == {"id": 4, **nulls}
        assert got[5] == {"id": 5, **decode_fn(good)}


def test_watermark_filter_lag(spark):
    """PINS three empirically-observed Spark append-mode rules the
    'late' stage and its oracle depend on:

    1. The late-row FILTER uses the watermark committed one batch
       earlier than the progress-reported value: a late row arriving
       in the batch immediately after the watermark-setting data is
       NOT dropped (it re-creates state and its window is emitted) —
       which is why the production stage inserts a fresh-row batch
       before the planted-late batch.
    2. A late row arriving TWO batches after the watermark-setting
       data IS dropped, and numRowsDroppedByWatermark counts it.
    3. Emission boundary: a window whose end EQUALS the final
       watermark is emitted (window_end <= wm, non-strict) — the
       oracle SQL encodes exactly this.

    If a Spark upgrade changes any of these, this test fails before
    the driver gate does."""
    import pyarrow as pa

    from datetime import datetime as d

    schema = pa.schema([
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ])

    def ev(eid, ts):
        return {"event_id": eid, "ts": ts, "user_id": 1,
                "event_type": "click", "value": 1.0, "props": ""}

    batches = [
        # batch a: sets watermark = Jan 2 06:00 - 1 day = Jan 1 06:00,
        # which is EXACTLY the end of e1's [00:00, 06:00) window (rule 3)
        [ev(1, d(2024, 1, 1, 0, 30)), ev(2, d(2024, 1, 2, 6, 0))],
        # batch b: fresh row + a late row (window end Dec 31 00:00 < wm)
        # that the LAGGED filter watermark does not yet see (rule 1)
        [ev(3, d(2024, 1, 2, 6, 0)), ev(4, d(2023, 12, 30, 23, 45))],
        # batch c: the same late timestamp again — NOW dropped (rule 2)
        [ev(5, d(2023, 12, 30, 23, 45))],
    ]
    sink, progress = drain(
        spark, [pa.Table.from_pylist(b, schema=schema) for b in batches],
        lambda src: windowed_counts(stream_events(spark, src)), "append",
    )
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progress for op in p["stateOperators"]
    )
    rows = {(str(r["window_start"]), r["event_type"]): r["n"]
            for r in sink.collect()}
    # rule 2: exactly the batch-c row dropped
    assert dropped == 1
    # rule 1: the batch-b late row was accepted -> its window emitted;
    # rule 3: e1's window (end == final watermark) emitted
    assert rows == {
        ("2023-12-30 18:00:00", "click"): 1,
        ("2024-01-01 00:00:00", "click"): 1,
    }


def test_stream_dedup_drops_redelivered_keeps_new(spark):
    """dropDuplicatesWithinWatermark semantics on a crafted source:
    a re-delivered event_id vanishes, a NEW event_id arriving in the
    same later batch survives — i.e. the drop is keyed dedup state,
    not a batch-level discard."""
    import pyarrow as pa

    def tbl(rows):
        return pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        )

    import datetime as dt

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    h = dt.timedelta(hours=1)
    sink, _ = drain(
        spark,
        [tbl([(1, base), (2, base + h), (3, base + 2 * h)]),
         # batch 1: re-delivery of id 3 (same recent ts) + brand-new id 4
         tbl([(3, base + 2 * h), (4, base + 3 * h)])],
        lambda src: (
            stream_events(spark, src)
            .withWatermark("ts", "1 day")
            .dropDuplicatesWithinWatermark(["event_id"])
        ),
        "append",
    )
    got = sorted(r["event_id"] for r in sink.collect())
    assert got == [1, 2, 3, 4]


def test_stream_dedup_stage_matches_batch_and_pins_input(spark):
    """The 'dedup' e2e stage at sf0.001: per-type rows equal the batch
    cents aggregation over the original events, and the input-row pin
    proves the planted duplicates were read."""
    from training_datawarehouse_spark.plans.relational import (
        N_PLANTED_DUP, stream_dedup_e2e,
    )
    from training_datawarehouse_spark.sources.tables import load_table

    rows = stream_dedup_e2e(spark, SF_DIR).collect()
    ev = load_table(spark, SF_DIR, "events")
    n_events = ev.count()
    summary = [r for r in rows if r["k1"] == "__dedup_input"]
    assert len(summary) == 1
    assert summary[0]["n"] == n_events + N_PLANTED_DUP
    batch = {
        r["event_type"]: (r["n"], r["v"])
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100)).alias("v"),
        )
        .collect()
    }
    streamed = {
        r["k1"]: (r["n"], r["v"]) for r in rows if r["k1"] != "__dedup_input"
    }
    assert streamed == batch


def test_stream_late_stage_drops_planted_rows(spark):
    """The 'late' stage builder at sf0.001: planted rows never reach
    any window, the summary row carries exactly N_PLANTED_LATE, and
    emitted windows equal the batch recompute restricted to
    window_end <= max(ts) - 1 day."""
    from training_datawarehouse_spark.plans.relational import (
        N_PLANTED_LATE, stream_late_e2e, tumbling_window,
    )

    out = stream_late_e2e(spark, SF_DIR)
    rows = out.collect()
    summary = [r for r in rows if r["k1"] == "__late_dropped"]
    assert len(summary) == 1 and summary[0]["n"] == N_PLANTED_LATE

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    wm = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 1 DAY")).alias("wm")
    ).collect()[0]["wm"]
    batch = {
        (r["window_start"].strftime("%Y-%m-%d %H:%M:%S"), r["event_type"]):
            (r["n"], r["total_value"])
        for r in tumbling_window(spark, SF_DIR).collect()
        if r["window_start"].timestamp() + 6 * 3600 <= wm.timestamp()
    }
    streamed = {
        (r["k1"], r["k2"]): (r["n"], r["v"])
        for r in rows if r["k1"] != "__late_dropped"
    }
    assert streamed == batch


def test_stream_dedup_identical_under_rocksdb_provider(spark):
    """100 TB posture gate (r8): the RocksDB state-store provider must
    produce EXACTLY the default provider's results for the bounded-
    state dedup stage — provider is a storage engine, not semantics."""
    from training_datawarehouse_spark.plans.relational import stream_dedup_e2e

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = ("org.apache.spark.sql.execution.streaming.state."
               "RocksDBStateStoreProvider")
    before = spark.conf.get(conf_key, None)
    default_rows = sorted(map(tuple, stream_dedup_e2e(spark, SF_DIR).collect()))
    # the conf is read at each stream start, so setting it around the
    # builder scopes the provider to this run
    spark.conf.set(conf_key, rocksdb)
    try:
        rocks_rows = sorted(
            map(tuple, stream_dedup_e2e(spark, SF_DIR).collect())
        )
    finally:
        if before is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, before)
    assert rocks_rows == default_rows
    assert len(rocks_rows) > 1


# ------------------------------------------------ streaming funnel (r9)

def _drain_funnel(spark, batches, steps):
    """Streaming funnel progress drained over explicit row batches, one
    micro-batch each: (event_id, user_id, event_type, ts_string)."""
    import pyarrow as pa
    import pandas as pd

    from training_datawarehouse_spark.streaming.stateful import (
        streaming_funnel_progress,
    )

    tables = []
    for rows in batches:
        pdf = pd.DataFrame(
            rows, columns=["event_id", "user_id", "event_type", "ts"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        pdf["value"] = 1.0
        pdf["props"] = "{}"
        tables.append(pa.Table.from_pandas(pdf, preserve_index=False))
    sink, _ = drain(
        spark, tables,
        lambda src: streaming_funnel_progress(
            stream_events(spark, src), steps, within_days=7,
        ),
        "update",
    )
    final = sink.groupBy("user_id").agg(
        F.max_by("max_step", "nb").alias("max_step")
    )
    return {r["user_id"]: r["max_step"] for r in final.collect()}


def test_streaming_funnel_state_crosses_batches(spark):
    """User 1's view arrives in batch 0; click and purchase only in
    batch 1 — full credit requires the state store to carry the
    step-1 timestamp across micro-batches. User 2 stalls at click;
    user 3's purchase is outside the 7-day window."""
    steps = ["view", "click", "purchase"]
    got = _drain_funnel(spark, [
        [(1, 1, "view", "2024-01-01 00:00:00"),
         (2, 2, "view", "2024-01-01 00:00:00"),
         (3, 3, "view", "2024-01-01 00:00:00")],
        [(4, 1, "click", "2024-01-02 00:00:00"),
         (5, 1, "purchase", "2024-01-03 00:00:00"),
         (6, 2, "click", "2024-01-02 12:00:00"),
         (7, 3, "click", "2024-01-02 00:00:00"),
         (8, 3, "purchase", "2024-01-09 00:00:01")],  # > t1 + 7d
    ], steps)
    assert got == {1: 3, 2: 2, 3: 2}


def test_streaming_funnel_not_monotone_under_out_of_order(spark):
    """A LATER micro-batch delivers an EARLIER step-1 event: t1 drops,
    the attribution window tightens, and the user's reached step must
    legitimately DECREASE — the property that forces list-state +
    re-derivation (chain-only state cannot roll forward through this)
    and last-emission (max_by nb) final selection."""
    steps = ["view", "click", "purchase"]
    got = _drain_funnel(spark, [
        # initially: t1 = Jan 10, click Jan 11, purchase Jan 12 -> step 3
        [(1, 7, "view", "2024-01-10 00:00:00"),
         (2, 7, "click", "2024-01-11 00:00:00"),
         (3, 7, "purchase", "2024-01-12 00:00:00")],
        # out-of-order: view Jan 1 -> t1 = Jan 1, window ends Jan 8,
        # click/purchase (Jan 11/12) fall outside -> step drops to 1
        [(4, 7, "view", "2024-01-01 00:00:00")],
    ], steps)
    assert got == {7: 1}


def test_streaming_funnel_matches_batch_on_random_split(spark):
    """Stream/batch parity on the real corpus with the e2e split: the
    per-step counts derived from streaming progress must equal
    funnel_counts (the batch min-chain) on the same events."""
    from training_datawarehouse_spark.operators.funnel import funnel_counts
    from training_datawarehouse_spark.plans.relational import (
        FUNNEL_STEPS, FUNNEL_WITHIN_DAYS, stream_funnel_e2e,
    )
    from training_datawarehouse_spark.sources.tables import load_table

    got = {
        (r["step"], r["step_name"]): (r["n_users"], r["conversion"])
        for r in stream_funnel_e2e(spark, SF_DIR).collect()
    }
    exact = {
        (r["step"], r["step_name"]): (r["n_users"], r["conversion"])
        for r in funnel_counts(
            load_table(spark, SF_DIR, "events"), FUNNEL_STEPS,
            within_days=FUNNEL_WITHIN_DAYS,
        ).collect()
    }
    assert got == exact


def test_streaming_video_ingest_decodes_per_microbatch(spark):
    """Streaming × video composition: a file-source stream of
    documents synthesizes REAL AVI payloads and container-decodes
    their metadata inside the stream (two Arrow crossings per
    micro-batch, append mode, no state), and the drained rows equal
    the batch pipeline exactly — media ingest at 100 TB is a stream,
    not a table."""
    import pyarrow.parquet as pq

    from training_datawarehouse_spark.operators import video as vd
    from training_datawarehouse_spark.operators.multimodal import (
        decode_metadata,
    )

    t = pq.read_table(f"{SF_DIR}/documents.parquet",
                      columns=["doc_id", "text"])
    t = t.slice(0, 40)
    half = t.num_rows // 2

    def query(src):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return decode_metadata(
            vd.synthesize_avi_payload(stream, "doc_id", "text"),
            decode_fn=vd.avi_decode_meta,
        )

    sink, _ = drain(spark, [t.slice(0, half), t.slice(half)], query, "append")
    got = {r["id"]: (r["n_bytes"], r["width"], r["height"], r["checksum"])
           for r in sink.collect()}
    batch = spark.createDataFrame(t.to_pandas())
    want = {r["id"]: (r["n_bytes"], r["width"], r["height"], r["checksum"])
            for r in decode_metadata(
                vd.synthesize_avi_payload(batch, "doc_id", "text"),
                decode_fn=vd.avi_decode_meta).collect()}
    assert got == want and len(got) == 40


def test_streaming_kmv_sketch_bounded_state_and_batch_parity(spark):
    """r11: the streaming KMV sketch — (a) STATE BOUND: with 3·K
    distinct users in one type, every emission's sketch occupancy is
    exactly <= K (the state array is the emitted cnt by construction,
    so the bound is the bounded-state contract), and (b) PARITY: the
    final state equals the batch bottom-K sketch bit-for-bit however
    the rows were split into micro-batches (bottom-k insertion is a
    semilattice merge)."""
    import pyarrow as pa

    from training_datawarehouse_spark.streaming.stateful import (
        streaming_kmv_sketch,
    )

    K = 16
    # planted corpus: type 'big' has 3*K distinct users, 'tiny' has 5;
    # split so 'big' appears in BOTH batches (state must merge)
    rows = [("big", u) for u in range(3 * K)] + [("tiny", 1000 + u)
                                                for u in range(5)]
    half = len(rows) // 2
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10,
    ).cast("long")
    sink, _ = drain(
        spark,
        [pa.table({"event_type": [r[0] for r in chunk],
                   "user_id": [r[1] for r in chunk]})
         for chunk in (rows[:half], rows[half:])],
        lambda src: streaming_kmv_sketch(
            spark.readStream.schema("event_type string, user_id long")
            .option("maxFilesPerTrigger", 1).parquet(src)
            .select("event_type", h.alias("h")), K,
        ),
        "update",
    )
    emissions = sink.collect()
    # (a) every emission bounded by K — including the mid-stream one
    assert all(r["cnt"] <= K for r in emissions)
    big = sorted((r for r in emissions if r["event_type"] == "big"),
                 key=lambda r: r["nb"])
    assert len(big) == 2 and big[0]["cnt"] <= K  # state crossed batches
    # (b) final state == batch bottom-K sketch, bit-for-bit
    batch = spark.createDataFrame(rows, "event_type string, user_id long") \
        .select("event_type", h.alias("h")).distinct()
    from pyspark.sql import Window
    wk = Window.partitionBy("event_type").orderBy("h")
    exact = {
        r["event_type"]: (r["cnt"], r["hk"])
        for r in batch.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= K)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.max("h").alias("hk"))
        .collect()
    }
    final = {}
    for r in emissions:
        if r["event_type"] not in final or r["nb"] > final[r["event_type"]][0]:
            final[r["event_type"]] = (r["nb"], r["cnt"], r["hk"])
    got = {t: (c, hk) for t, (_, c, hk) in final.items()}
    assert got == exact
    assert got["big"][0] == K        # full sketch
    assert got["tiny"][0] == 5       # not full => exact distinct


def test_streaming_kmv_sketch_drops_null_users(spark):
    """A NULL user hashes to NULL in both engines (md5(NULL) is NULL)
    and belongs to no audience: the streaming sketch must skip it, not
    crash on int(None), and the surviving sketch must match the
    non-null distinct count."""
    import pyarrow as pa

    from training_datawarehouse_spark.streaming.stateful import (
        streaming_kmv_sketch,
    )

    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10,
    ).cast("long")
    sink, _ = drain(
        spark,
        [pa.table({"event_type": ["a"] * 6,
                   "user_id": pa.array([1, 2, None, 3, None, 2],
                                       type=pa.int64())})],
        lambda src: streaming_kmv_sketch(
            spark.readStream.schema("event_type string, user_id long")
            .parquet(src).select("event_type", h.alias("h")), 16,
        ),
        "update",
    )
    rows = sink.collect()
    assert len(rows) == 1
    assert rows[0]["cnt"] == 3   # users 1, 2, 3 — NULLs skipped
