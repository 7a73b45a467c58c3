"""DCT perceptual-hash (pHash) image dedup over REAL decoded pixels.

Classic pHash (the public method: Zauner 2010, "Implementation and
Benchmarking of Perceptual Image Hash Functions"; pHash.org):
grayscale -> downsample -> 2-D DCT-II -> keep the low-frequency block
-> threshold each coefficient against the median -> 64-bit
fingerprint. Near-duplicate images differ in few bits, so candidate
generation is Hamming-banded LSH (split the 64 bits into 4 x 16-bit
bands; a clean band => candidate) followed by exact Hamming
verification — the same band/verify shape as the MinHash pipeline in
``dedup.py``.

Two engine adaptations keep the whole thing differentially checkable
against a DuckDB oracle while still exercising the REAL image codec:

- FIXED-POINT DCT. The 8x8 DCT-II basis is integerized as
  ``round(cos((2x+1)·u·pi/16) * 1024)`` so every coefficient is an
  exact int64 in both engines (a float DCT would need bitwise-
  identical summation order across engines). The fingerprint is
  bit-for-bit reproducible from the pixel values alone.
- SIMILARITY-PRESERVING synthetic pixels. Image content is a 16x16
  token-histogram grid derived from document text (each token lands
  in cell ``md5_prefix(token) % 256``; pixel = min(255, 16·count)),
  ENCODED into a real PNG and DECODED back through the in-tree real
  codec (`multimodal.encode_png`/`decode_png`) inside the plan — the
  hash is computed from pixels the engine genuinely decoded, and
  near-dup texts share tokens => similar histograms => close pHashes.
  (md5-of-whole-text pixels, as `synthesize_png_payload` uses, would
  destroy similarity: one changed token flips every pixel.)

Reference parity: the reference engine has no image-content dedup —
this is the charter multimodal-dedup extension (SURVEY §2.2); the
published pHash method is implemented from its definition.

Scale shape (100 TB): synthesis + PNG encode + REAL decode + 64-int
DCT are ROW-LOCAL inside one Arrow crossing; nothing wider than
(id, 4 x int) survives it. Only the (band, 16-bit value) keys shuffle
for the band join — same banding shape and hot-bucket cap as MinHash
LSH — and Hamming verification touches candidate pairs only (AQE
broadcasts the capped candidate set when it is small and
shuffle-joins on the rep key when it is not — forcing the broadcast
OOM'd the driver at the 100× frame-grain scale, SCALE.md r10).
"""
from __future__ import annotations

import functools
import hashlib
import math

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.caching import release_local_checkpoint
from ..functions.crossing import map_batches
from .dedup import _pairs_expr
from .multimodal import decode_png, encode_png

def _self_incl_pairs_expr(ids: str):
    """All ordered pairs (a <= b, INCLUDING a == a self-pairs) from a
    sorted id array — `dedup._pairs_expr` with the slice start moved
    from i+2 to i+1. Self-pairs mark multi-doc hash groups whose
    within-group (Hamming-0) expansion is licensed by an under-cap
    bucket, mirroring the oracle's doc-grain semantics."""
    return F.flatten(
        F.transform(
            F.col(ids),
            lambda x, i: F.transform(
                F.slice(F.col(ids), (i + 1).cast("int"),
                        F.greatest(F.size(F.col(ids)) - i,
                                   F.lit(0)).cast("int")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


GRID = 16                 # synthesized image side (16x16 grayscale)
DCT_N = 8                 # DCT block side after 2x2 downsample
DCT_SCALE = 1024          # fixed-point scale for the cosine basis
N_BITS = DCT_N * DCT_N    # 64-bit fingerprint
BAND_BITS = 16
N_BANDS = N_BITS // BAND_BITS
PIXEL_GAIN = 16           # pixel = min(255, PIXEL_GAIN * token count)
BAND_COLS = [f"b{k}" for k in range(N_BANDS)]  # signature column names

# Calibrated on the synthetic corpus (sf0.001, full pairwise Hamming
# histogram over banded candidates): true text near-dups land at <= 6
# bits, while vocabulary-overlap-only pairs form a continuum from ~8
# bits up (short docs => sparse 256-cell histograms => a lower
# unrelated-pair baseline than photographic pHash's classic <= 10/64).
DEFAULT_MAX_HAMMING = 6
# Hot-bucket cap for 16-BIT band keys. This is deliberately far below
# the MinHash family's 10_000: minhash band keys are 4x32-bit concats
# (collisions are evidence of similarity), while a 16-bit band key has
# only 65 536 values, so bucket occupancy grows as n/2^16 with corpus
# size — at 500 k docs the 100x probe measured a 10 000 cap letting
# near-full buckets expand quadratically into a >1 GiB candidate
# broadcast. 512 is ~67x the expected occupancy at that scale: only
# degenerate-content buckets (near-constant fingerprints) hit it, and
# a skipped hot band still leaves a pair 3 other bands to surface in.
DEFAULT_MAX_BUCKET = 512


def dct_basis_int() -> list[list[int]]:
    """The integerized 8x8 DCT-II basis C[u][x] =
    round(cos((2x+1)·u·pi/16) · 1024). Single source of truth:
    the Spark-side numpy DCT and the generated oracle SQL both read
    THIS table, so the two engines cannot disagree on the basis."""
    return [
        [round(math.cos((2 * x + 1) * u * math.pi / (2 * DCT_N)) * DCT_SCALE)
         for x in range(DCT_N)]
        for u in range(DCT_N)
    ]


@functools.lru_cache(maxsize=1 << 16)
def _token_cell(tok: str) -> int:
    """Grid cell for one token (md5 once per distinct token per
    executor — corpus tokens repeat heavily)."""
    h = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
    return h % (GRID * GRID)


def token_grid_pixels(text: str) -> bytes:
    """grid x grid grayscale token-histogram image for one document:
    token -> cell ``int(md5(token)[:15 hex], 16) % grid²`` (the
    engine-portable md5-prefix integer convention of
    ``dedup.hashed_shingles_portable`` —
    `('0x' || substr(md5(t),1,15))::BIGINT` in the oracle), pixel =
    min(255, gain·count). Tokenization is a bare split on ' ' to match
    DuckDB's ``string_split(text, ' ')``."""
    ncells = GRID * GRID
    cells = np.fromiter(
        (_token_cell(tok) for tok in text.split(" ")),
        dtype=np.int64,
    )
    counts = np.bincount(cells, minlength=ncells)
    # min(255, gain·count) — exact integers, so the vectorized form is
    # bit-identical to the former per-cell Python loop (r16: the loop
    # was ~9 % of the fused-crossing CPU at 5 k docs)
    return np.minimum(255, PIXEL_GAIN * counts).astype(np.uint8).tobytes()


def phash_bands(pixels: bytes) -> list[int]:
    """64-bit pHash of a 16x16 grayscale raster, returned as
    4 x 16-bit band integers (band k holds bits [16k, 16(k+1)),
    LSB-first within the band). Exact integer math
    throughout:

    - 2x2 block SUM (not mean — no division, stays int) -> 8x8,
    - fixed-point DCT  F = C · S · C^T  (int64; |F| <= 1020·64·1024²
      ≈ 6.8e13, far inside int64),
    - threshold: bit_i = F_i > (32nd-smallest of the 64 coefficients)
      — the lower median, chosen over the averaged median so it is a
      k-th order statistic both engines compute identically on ints.
    """
    n = DCT_N
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(GRID, GRID)
    s = img.reshape(n, 2, n, 2).sum(axis=(1, 3)).astype(np.int64)
    c = np.array(dct_basis_int(), dtype=np.int64)
    f = (c @ s @ c.T).reshape(-1)          # f[u*n+v], row u = y-freq
    med = np.sort(f)[N_BITS // 2 - 1]      # lower median
    bits = f > med
    bands = []
    for k in range(N_BANDS):
        val = 0
        for j in range(BAND_BITS):
            if bits[k * BAND_BITS + j]:
                val |= 1 << j
        bands.append(val)
    return bands


def phash_bands_batch(rasters: np.ndarray) -> np.ndarray:
    """Vectorized `phash_bands` over a BATCH of rasters: (n, grid²)
    uint8 -> (n, 4) int64 band values, one stacked einsum
    instead of n small matmuls and n·n_bits Python bit-shifts.
    Bit-identical to the scalar path (same integer math;
    parity-tested) — the batch form exists because per-frame video
    hashing multiplies the call count by n_frames."""
    dn = DCT_N
    imgs = np.ascontiguousarray(rasters, dtype=np.int64)
    imgs = imgs.reshape(-1, GRID, GRID)
    s = imgs.reshape(-1, dn, 2, dn, 2).sum(axis=(2, 4))
    c = np.array(dct_basis_int(), dtype=np.int64)
    f = np.einsum("ur,nrc,vc->nuv", c, s, c).reshape(len(imgs), N_BITS)
    med = np.sort(f, axis=1)[:, N_BITS // 2 - 1]
    bits = f > med[:, None]
    weights = 1 << np.arange(BAND_BITS, dtype=np.int64)
    return (bits.reshape(-1, N_BANDS, BAND_BITS) * weights).sum(axis=2)


def image_phash_signatures(df: DataFrame, id_col: str, text_col: str,
                           parallelism: int | None = None) -> DataFrame:
    """(id, b0..b3) pHash signatures: synthesize the
    token-grid image,
    round-trip it through the REAL PNG codec (encode with a per-row
    scanline filter so all five filter paths run, then full decode —
    CRCs, inflate, un-filter), and pHash the DECODED raster. One
    ``map_batches`` crossing, row-local, no shuffle (with
    ``parallelism`` unset); ``parallelism`` is the crossing's
    repartition width (see `functions.crossing.map_batches`)."""
    schema = T.StructType(
        [T.StructField("id", T.LongType())]
        + [T.StructField(c, T.IntegerType()) for c in BAND_COLS]
    )

    def gen(ids: list, texts: list) -> list:
        rasters = []
        for text in texts:
            pix = token_grid_pixels(text)
            png = encode_png(GRID, GRID, pix, filter_type=len(text) % 5)
            rasters.append(decode_png(png)["pixels"])
        # r16: one stacked einsum hashes the whole Arrow batch
        # (phash_bands_batch is parity-tested bit-identical)
        bands = phash_bands_batch(
            np.frombuffer(b"".join(rasters), dtype=np.uint8))
        return [[did, *bands[j]] for j, did in enumerate(ids)]

    return map_batches(df, [id_col, text_col], schema, gen, parallelism)


def phash_candidate_pairs(
    sig: DataFrame, max_hamming: int = DEFAULT_MAX_HAMMING,
    materialize: bool = False,
) -> DataFrame:
    """Hamming-banded near-dup pairs from (id, b0..b3) signatures.
    Returns (id_a, id_b, hamming) with hamming <= max_hamming,
    id_a < id_b.

    The pipeline bands over DISTINCT FINGERPRINTS, not documents —
    the standard dedupe-before-LSH refinement, and on perceptual
    hashes it matters far more than on minhash signatures because
    fingerprints are heavily repeated (exact dups, near-constant
    low-content docs). Measured on the 100x replica (500 k docs,
    ~96 k distinct hashes): doc-grain banding expanded ~100 M raw
    in-bucket pairs in 361 s; hash-grain banding does the quadratic
    work at rep grain and only expands to doc pairs AFTER the
    Hamming <= tau filter (SCALE.md r9).

    Stages:
    1. group identical (b0..b3) -> one REP row per distinct hash
       carrying its member-id list and member count,
    2. band the reps; bucket weight = SUM of member counts, so the
       hot-bucket cap keeps the ORACLE's doc-grain semantics
       (a bucket is hot when it holds > DEFAULT_MAX_BUCKET DOCUMENTS,
       regardless of how the docs collapse into hashes),
    3. in-bucket rep-pair expansion INCLUDING self-pairs (gid_a ==
       gid_b: a multi-doc hash group pairs with itself at Hamming 0 —
       but only, like the oracle, when one of its band buckets is
       under the cap),
    4. exact Hamming on rep hashes, filter <= max_hamming at rep
       grain (before any doc-grain expansion),
    5. expand surviving rep pairs to doc pairs: C(g,2) within a
       group, full cross-product between groups; each doc pair
       belongs to exactly one group pair, so no post-expansion
       distinct is needed.

    Recall contract (multi-index hashing, Norouzi et al. 2012): with m
    bands, a pair is GUARANTEED a clean band when its distance < m
    (pigeonhole) — here m=4, so ham <= 3 is certain and 4..6 is
    probabilistic (errors must all avoid one band; the planted-pair
    test pins the behavior on this corpus). Scale sizing: 16-bit band
    keys give 65 536 buckets per band; occupancy grows with DISTINCT
    hashes, and the 100x probe measured 20 % of doc-grain band rows
    in over-cap buckets at 500 k docs (SCALE.md r9). The doc-weight
    cap suppresses identical-fingerprint mega-groups: they are exact
    dups, and their quadratic doc expansion is the thing the cap
    exists to prevent."""
    groups = sig.groupBy(*BAND_COLS).agg(
        F.min("id").alias("gid"),
        F.array_sort(F.collect_list("id")).alias("ids"),
        F.count(F.lit(1)).alias("gn"),
    )
    # ``materialize=True`` (r16): the rep-grain group table feeds THREE
    # consumers (band explode + both Hamming-verify sides) — without
    # materialization each consumer statically re-derives the whole
    # signature aggregation (3 upstream executions; the r16 plan audit
    # measured zero exchange reuse across them). Callers that keep the
    # default get the fully-lazy plan.
    if materialize:
        groups = groups.localCheckpoint(eager=True)

    band_structs = F.array(*[
        F.struct(F.lit(k).alias("band"), F.col(f"b{k}").alias("val"))
        for k in range(N_BANDS)
    ])
    banded = groups.select(
        "gid", "gn", F.explode(band_structs).alias("bs")
    ).select("gid", "gn", F.col("bs.band"), F.col("bs.val"))

    # bucket weight: documents in the bucket (the oracle's cap);
    # self-pair eligibility = any under-cap bucket containing the
    # group, which the a <= b expansion below covers with gn > 1
    rep_pairs = (
        banded.groupBy("band", "val")
        .agg(F.array_sort(F.collect_list("gid")).alias("gids"),
             F.sum("gn").alias("w"))
        .filter(F.col("w") <= DEFAULT_MAX_BUCKET)
        .select(F.explode(_self_incl_pairs_expr("gids")).alias("p"))
        .select(F.col("p.id_a").alias("ga"), F.col("p.id_b").alias("gb"))
        .distinct()
    )

    ra = groups.select(F.col("gid").alias("ga"),
                       F.col("ids").alias("ids_a"), F.col("gn").alias("gn_a"),
                       *[F.col(f"b{k}").alias(f"a{k}") for k in range(N_BANDS)])
    rb = groups.select(F.col("gid").alias("gb"),
                       F.col("ids").alias("ids_b"),
                       *[F.col(f"b{k}").alias(f"c{k}") for k in range(N_BANDS)])
    ham = sum(
        F.bit_count(F.col(f"a{k}").bitwiseXOR(F.col(f"c{k}")))
        for k in range(N_BANDS)
    )
    # NO forced broadcast of rep_pairs (r10 fix): its size is
    # data-dependent (candidate-grain — the r9 image probe measured
    # ~9 M pairs at 500 k docs, and the 4×-rows video family OOM'd
    # the driver building the broadcast table at the same corpus).
    # AQE broadcasts it when it is actually small (bench scale) and
    # shuffle-joins on the rep key when it is not — which is the
    # correct plan at either end.
    verified = (
        ra.join(rep_pairs, "ga")
        .join(rb, "gb")
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .filter((F.col("ga") != F.col("gb")) | (F.col("gn_a") > 1))
    )

    # r16: the within-group and across-group doc expansions are ONE
    # conditional pair-array explode instead of a two-branch union —
    # the union's branches each statically re-derived the whole
    # groups→band→verify subtree (the r16 plan audits found such
    # duplicated subplans EXECUTE twice: exchange reuse does not fire
    # across the diverging branch filters). Same pair multiset: the
    # within branch is exactly the old `_pairs_expr` expansion, the
    # across branch the old ia×ib least/greatest cross product.
    pair_arr = F.when(
        F.col("ga") == F.col("gb"), _pairs_expr("ids_a")
    ).otherwise(
        F.flatten(F.transform(
            F.col("ids_a"),
            lambda x: F.transform(
                F.col("ids_b"),
                lambda y: F.struct(
                    F.least(x, y).alias("id_a"),
                    F.greatest(x, y).alias("id_b"),
                ),
            ),
        ))
    )
    out = (
        verified.select(F.explode(pair_arr).alias("p"), "hamming")
        .select(F.col("p.id_a"), F.col("p.id_b"), "hamming")
    )
    if not materialize:
        return out
    try:
        out = out.localCheckpoint(eager=True)
    finally:
        release_local_checkpoint(groups)
    return out
