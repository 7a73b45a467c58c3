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
from typing import NamedTuple

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


class PhashParams(NamedTuple):
    """Perceptual-hash geometry. The bench/oracle default is the
    64-bit envelope (8x8 DCT, 4x16-bit bands); ``PRODUCTION_PARAMS``
    is the >=10^6-items-per-modality envelope: 256-bit hash (radius-15
    pigeonhole guarantee at 16 bands) WITH the scatter partition.
    NB the r10 prescription ("a wider hash re-sparsifies the
    buckets") was MEASURED in r11 and refuted: at 2 M frame
    signatures the 256-bit raster-order envelope read 18.6 % over-cap
    doc-weight band rows vs 64-bit's 16.6 % — occupancy concentration
    is DCT sign structure + repeated-content weight, not hash-space
    saturation, so width alone cannot fix it; the scatter partition
    (``bit_scatter``) is what does (SCALE.md r11 table). Fixed-point
    bound: |F| <= 255*4 * dct_n^2 * DCT_SCALE^2 = 2.7e14 at dct_n=16
    — inside int64."""
    grid: int = GRID            # synthesized raster side
    dct_n: int = DCT_N          # DCT block side (grid == 2*dct_n)
    band_bits: int = BAND_BITS
    pixel_gain: int = PIXEL_GAIN
    #: assign fingerprint bits to bands via a FIXED md5-derived
    #: permutation instead of DCT raster order. Any disjoint partition
    #: of the bits preserves the banding guarantees (total Hamming is
    #: permutation-invariant; ham < n_bands still pigeonholes a clean
    #: band) — but DCT sign structure makes raster-order band keys
    #: collide heavily (alternating patterns like 0x5555 dominate),
    #: and scattering correlated bits across bands re-sparsifies the
    #: buckets. Measured at 2 M frame signatures (SCALE.md r11):
    #: rep-grain over-cap band rows 2.24 % -> 0.66 %.
    bit_scatter: bool = False

    @property
    def n_bits(self) -> int:
        return self.dct_n * self.dct_n

    @property
    def n_bands(self) -> int:
        return self.n_bits // self.band_bits

    @property
    def band_cols(self) -> list[str]:
        return [f"b{k}" for k in range(self.n_bands)]

    def bit_order(self) -> list[int]:
        """Bit index consumed by packed position i. Identity in
        raster order; under ``bit_scatter`` the fixed md5-derived
        permutation (deterministic — no RNG, same everywhere)."""
        if not self.bit_scatter:
            return list(range(self.n_bits))
        return sorted(
            range(self.n_bits),
            key=lambda i: (
                hashlib.md5(f"phash-bit-{i}".encode()).hexdigest(), i),
        )


DEFAULT_PARAMS = PhashParams()
#: 32x32 raster -> 16x16 DCT -> 256-bit hash -> 16 x 16-bit bands,
#: scatter-partitioned into bands (see ``bit_scatter``)
PRODUCTION_PARAMS = PhashParams(grid=32, dct_n=16, bit_scatter=True)
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


def scaled_max_hamming(params: PhashParams) -> int:
    """The calibrated 64-bit threshold scaled proportionally to the
    envelope's bit width (6/64 -> 24/256): the bit-error RATE of a
    near-dup is geometry-independent, the absolute distance is not.
    Measured on the calibration corpus: the BASE/NEAR planted pair
    reads 4/64 and 18/256; the unrelated pair 16/64 and 68/256 — the
    proportional threshold separates both envelopes identically."""
    return _scaled_max_hamming_bits(params.n_bits)


def _scaled_max_hamming_bits(n_bits: int) -> int:
    """Single source of the default-threshold scaling for EVERY
    banding entry point. `phash_candidate_pairs` used to scale by band
    COUNT (n_bands/N_BANDS) while
    `scaled_max_hamming` (the video path) scales by bit WIDTH
    (n_bits/N_BITS); the two agree only while band_bits == 16, so a
    PhashParams with a different band width silently applied
    inconsistent thresholds between the image and video paths for the
    same geometry (r11 advice). Both now scale by total bit width."""
    return DEFAULT_MAX_HAMMING * n_bits // N_BITS


def dct_basis_int(dct_n: int = DCT_N) -> list[list[int]]:
    """The integerized dct_n x dct_n DCT-II basis C[u][x] =
    round(cos((2x+1)·u·pi/(2·dct_n)) · 1024). Single source of truth:
    the Spark-side numpy DCT and the generated oracle SQL both read
    THIS table, so the two engines cannot disagree on the basis."""
    return [
        [round(math.cos((2 * x + 1) * u * math.pi / (2 * dct_n)) * DCT_SCALE)
         for x in range(dct_n)]
        for u in range(dct_n)
    ]


@functools.lru_cache(maxsize=1 << 16)
def _token_cell(tok: str, ncells: int = GRID * GRID) -> int:
    """Grid cell for one token (md5 once per distinct token per
    executor — corpus tokens repeat heavily)."""
    h = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
    return h % ncells


def token_grid_pixels(text: str, params: PhashParams = DEFAULT_PARAMS) -> bytes:
    """grid x grid grayscale token-histogram image for one document:
    token -> cell ``int(md5(token)[:15 hex], 16) % grid²`` (the
    engine-portable md5-prefix integer convention of
    ``dedup.hashed_shingles_portable`` —
    `('0x' || substr(md5(t),1,15))::BIGINT` in the oracle), pixel =
    min(255, gain·count). Tokenization is a bare split on ' ' to match
    DuckDB's ``string_split(text, ' ')``."""
    ncells = params.grid * params.grid
    cells = np.fromiter(
        (_token_cell(tok, ncells) for tok in text.split(" ")),
        dtype=np.int64,
    )
    counts = np.bincount(cells, minlength=ncells)
    # min(255, gain·count) — exact integers, so the vectorized form is
    # bit-identical to the former per-cell Python loop (r16: the loop
    # was ~9 % of the fused-crossing CPU at 5 k docs)
    return np.minimum(255, params.pixel_gain * counts).astype(np.uint8).tobytes()


def phash_bands(
    pixels: bytes, params: PhashParams = DEFAULT_PARAMS
) -> list[int]:
    """n_bits-bit pHash of a grid x grid grayscale raster, returned as
    n_bands x band_bits band integers (band k holds bits
    [k·bb, (k+1)·bb), LSB-first within the band). Exact integer math
    throughout:

    - 2x2 block SUM (not mean — no division, stays int) -> 8x8,
    - fixed-point DCT  F = C · S · C^T  (int64; |F| <= 1020·64·1024²
      ≈ 6.8e13, far inside int64),
    - threshold: bit_i = F_i > (32nd-smallest of the 64 coefficients)
      — the lower median, chosen over the averaged median so it is a
      k-th order statistic both engines compute identically on ints.
    """
    g, n = params.grid, params.dct_n
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(g, g)
    s = img.reshape(n, 2, n, 2).sum(axis=(1, 3)).astype(np.int64)
    c = np.array(dct_basis_int(n), dtype=np.int64)
    f = (c @ s @ c.T).reshape(-1)          # f[u*n+v], row u = y-freq
    med = np.sort(f)[params.n_bits // 2 - 1]   # lower median
    bits = f > med
    order = params.bit_order()
    bands = []
    for k in range(params.n_bands):
        val = 0
        for j in range(params.band_bits):
            if bits[order[k * params.band_bits + j]]:
                val |= 1 << j
        bands.append(val)
    return bands


def phash_bands_batch(
    rasters: np.ndarray, params: PhashParams = DEFAULT_PARAMS
) -> np.ndarray:
    """Vectorized `phash_bands` over a BATCH of rasters: (n, grid²)
    uint8 -> (n, n_bands) int64 band values, one stacked einsum
    instead of n small matmuls and n·n_bits Python bit-shifts.
    Bit-identical to the scalar path (same integer math;
    parity-tested) — the batch form exists because per-frame video
    hashing multiplies the call count by n_frames."""
    g, dn = params.grid, params.dct_n
    imgs = np.ascontiguousarray(rasters, dtype=np.int64)
    imgs = imgs.reshape(-1, g, g)
    s = imgs.reshape(-1, dn, 2, dn, 2).sum(axis=(2, 4))
    c = np.array(dct_basis_int(dn), dtype=np.int64)
    f = np.einsum("ur,nrc,vc->nuv", c, s, c).reshape(
        len(imgs), params.n_bits)
    med = np.sort(f, axis=1)[:, params.n_bits // 2 - 1]
    bits = (f > med[:, None])[:, params.bit_order()]
    weights = 1 << np.arange(params.band_bits, dtype=np.int64)
    return (bits.reshape(-1, params.n_bands, params.band_bits)
            * weights).sum(axis=2)


def image_phash_signatures(df: DataFrame, id_col: str, text_col: str,
                           parallelism: int | None = None,
                           params: PhashParams = DEFAULT_PARAMS) -> DataFrame:
    """(id, b0..b{n_bands-1}) pHash signatures: synthesize the
    token-grid image,
    round-trip it through the REAL PNG codec (encode with a per-row
    scanline filter so all five filter paths run, then full decode —
    CRCs, inflate, un-filter), and pHash the DECODED raster. One
    ``map_batches`` crossing, row-local, no shuffle (with
    ``parallelism`` unset); ``parallelism`` is the crossing's
    repartition width (see `functions.crossing.map_batches`)."""
    schema = T.StructType(
        [T.StructField("id", T.LongType())]
        + [T.StructField(c, T.IntegerType()) for c in params.band_cols]
    )

    def gen(ids: list, texts: list) -> list:
        rasters = []
        for text in texts:
            pix = token_grid_pixels(text, params)
            png = encode_png(params.grid, params.grid, pix,
                             filter_type=len(text) % 5)
            rasters.append(decode_png(png)["pixels"])
        # r16: one stacked einsum hashes the whole Arrow batch
        # (phash_bands_batch is parity-tested bit-identical)
        bands = phash_bands_batch(
            np.frombuffer(b"".join(rasters), dtype=np.uint8), params)
        return [[did, *bands[j]] for j, did in enumerate(ids)]

    return map_batches(df, [id_col, text_col], schema, gen, parallelism)


def phash_candidate_pairs(
    sig: DataFrame, max_hamming: int | None = None,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    n_bands: int = N_BANDS,
    band_bits: int = BAND_BITS,
    cap_grain: str = "doc",
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
       (a bucket is hot when it holds > max_bucket DOCUMENTS,
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
    in over-cap buckets at 500 k docs. The production scale-up
    (r11, MEASURED — the r10 "wider hash" hypothesis was refuted at
    2 M signatures): keep the banding plan, scatter-partition the
    bits into bands (``PhashParams.bit_scatter`` — rep-grain over-cap
    2.24 % -> 0.66 %), widen to 256-bit for the radius-15 guarantee,
    and let the doc-weight cap keep suppressing identical-fingerprint
    mega-groups (they are exact dups; their quadratic doc expansion
    is the thing the cap exists to prevent). The banding/verify shape
    here is band-count-generic (see SCALE.md r9/r11)."""
    if max_hamming is None:
        # scale the calibrated 64-bit threshold to this geometry's
        # total BIT WIDTH (shared with scaled_max_hamming / the video
        # path): a fixed 6 against a 256-bit envelope would silently
        # drop true near-dups (measured 18/256 for the planted pair)
        max_hamming = _scaled_max_hamming_bits(n_bands * band_bits)
    if cap_grain not in ("doc", "rep"):
        raise ValueError(f"cap_grain must be 'doc' or 'rep', got {cap_grain!r}")
    # cap_grain (r12 — the r11 probe's residual finding): the r11
    # measurement attributed the remaining 8.4 % doc-weight over-cap
    # band rows (PRODUCTION_PARAMS, 2 M frame signatures) to
    # identical-fingerprint MEGA-GROUPS — exact dups whose member
    # count, not hash-space crowding, blows the doc-weight cap and
    # takes their whole buckets (including their DISTINCT near-dup
    # neighbors) out of the candidate set. 'rep' caps buckets by
    # DISTINCT-fingerprint count instead — the bucket stays usable for
    # the neighbors — and moves the quadratic-expansion guard to where
    # the quadratic actually lives: groups larger than ``max_bucket``
    # skip their OWN C(g,2)/cross doc expansion (they are exact dups;
    # production resolves them through the exact-collapse membership,
    # min-id rep, not through pair enumeration). 'doc' remains the
    # registry/oracle default.
    hash_cols = [f"b{k}" for k in range(n_bands)]
    groups = sig.groupBy(*hash_cols).agg(
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
        for k in range(n_bands)
    ])
    banded = groups.select(
        "gid", "gn", F.explode(band_structs).alias("bs")
    ).select("gid", "gn", F.col("bs.band"), F.col("bs.val"))

    # bucket weight: documents in the bucket ('doc', oracle cap
    # parity) or distinct fingerprints ('rep', production); self-pair
    # eligibility = any under-cap bucket containing the group, which
    # the a <= b expansion below covers with gn > 1
    weight = (F.sum("gn") if cap_grain == "doc"
              else F.count(F.lit(1)).cast("long"))
    rep_pairs = (
        banded.groupBy("band", "val")
        .agg(F.array_sort(F.collect_list("gid")).alias("gids"),
             weight.alias("w"))
        .filter(F.col("w") <= max_bucket)
        .select(F.explode(_self_incl_pairs_expr("gids")).alias("p"))
        .select(F.col("p.id_a").alias("ga"), F.col("p.id_b").alias("gb"))
        .distinct()
    )

    ra = groups.select(F.col("gid").alias("ga"),
                       F.col("ids").alias("ids_a"), F.col("gn").alias("gn_a"),
                       *[F.col(f"b{k}").alias(f"a{k}") for k in range(n_bands)])
    rb = groups.select(F.col("gid").alias("gb"),
                       F.col("ids").alias("ids_b"),
                       *[F.col(f"b{k}").alias(f"c{k}") for k in range(n_bands)])
    ham = sum(
        F.bit_count(F.col(f"a{k}").bitwiseXOR(F.col(f"c{k}")))
        for k in range(n_bands)
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

    ids_a_exp, ids_b_exp = F.col("ids_a"), F.col("ids_b")
    if cap_grain == "rep":
        # group-size guard: an over-cap IDENTICAL-fingerprint group
        # never enumerates its quadratic doc expansion — its members
        # resolve through the exact-collapse membership (gid = min id)
        # and only its REP pairs with distinct near-dup neighbors;
        # the self-pair (within) of such a group is dropped entirely
        # (all Hamming-0 — membership already encodes it)
        verified = verified.filter(
            (F.col("ga") != F.col("gb"))
            | (F.col("gn_a") <= max_bucket)
        )
        ids_a_exp = F.when(F.col("gn_a") <= max_bucket,
                           F.col("ids_a")).otherwise(F.array("ga"))
        ids_b_exp = F.when(F.size("ids_b") <= max_bucket,
                           F.col("ids_b")).otherwise(F.array("gb"))
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
            ids_a_exp,
            lambda x: F.transform(
                ids_b_exp,
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
