"""DCT perceptual-hash image dedup (`operators/phash.py`).

Covers the four claims the registry entry leans on:
- the PNG encode→decode round trip inside the plan is pixel-identity
  (that is the step the SQL oracle cannot re-derive — pinned here),
- the fixed-point DCT/threshold math matches an independent
  pure-Python reimplementation (different code path than the numpy
  matmul) and a direct DuckDB re-derivation,
- planted near-duplicate images hash within the Hamming threshold and
  are FOUND by the banded candidate join; unrelated ones are not,
- the signature computation stays row-local (one Arrow crossing, no
  exchange before banding).
"""
from __future__ import annotations

import hashlib
import math

import duckdb

from training_datawarehouse_spark.operators import phash as ph

BASE = ("the quick brown fox jumps over the lazy dog while the spark "
        "catalyst optimizer prunes columns and pushes filters into the "
        "parquet scan before the shuffle boundary every single time "
        "because declarative plans let the engine choose the strategy")
NEAR = BASE.replace("lazy dog", "lazy cat").replace("every single", "each")
FAR = ("completely unrelated content about sourdough hydration ratios "
       "and the maillard reaction temperature curve during the bake "
       "with steam injected for the first twenty minutes of oven time "
       "then vented to crisp the crust before the final cooling rack")


def _ref_phash(pixels: bytes) -> list[int]:
    """Independent O(n^4) loop reimplementation of the fixed-point
    pHash — no numpy, no shared code with `phash_bands` beyond the
    basis table (which is the deliberate single source of truth)."""
    c = ph.dct_basis_int()
    blk = [[0] * ph.DCT_N for _ in range(ph.DCT_N)]
    for y in range(ph.GRID):
        for x in range(ph.GRID):
            blk[y // 2][x // 2] += pixels[y * ph.GRID + x]
    f = [
        sum(blk[r][col] * c[u][r] * c[v][col]
            for r in range(ph.DCT_N) for col in range(ph.DCT_N))
        for u in range(ph.DCT_N) for v in range(ph.DCT_N)
    ]
    med = sorted(f)[ph.N_BITS // 2 - 1]
    bands = [0] * ph.N_BANDS
    for i, coef in enumerate(f):
        if coef > med:
            bands[i // ph.BAND_BITS] |= 1 << (i % ph.BAND_BITS)
    return bands


def _hamming(a: list[int], b: list[int]) -> int:
    return sum(bin(x ^ y).count("1") for x, y in zip(a, b))


def test_png_round_trip_is_pixel_identity():
    """Every scanline filter type must reproduce the exact raster —
    the oracle's license to skip the codec step."""
    pix = ph.token_grid_pixels(BASE)
    for ft in range(5):
        png = ph.encode_png(ph.GRID, ph.GRID, pix, filter_type=ft)
        assert ph.decode_png(png)["pixels"] == pix


def test_dct_basis_values():
    """Spot-check the integerized basis against its definition."""
    c = ph.dct_basis_int()
    assert c[0] == [ph.DCT_SCALE] * ph.DCT_N          # u=0: cos(0)=1
    assert c[4][0] == round(math.cos(math.pi / 4) * 1024) == 724
    assert all(len(r) == ph.DCT_N for r in c)


def test_phash_matches_independent_reference():
    for text in (BASE, NEAR, FAR, "", "one", "a b  c"):
        pix = ph.token_grid_pixels(text)
        assert ph.phash_bands(pix) == _ref_phash(pix)


def test_phash_matches_duckdb_rederivation():
    """The oracle's SQL block (pixels → blocks → DCT → median → bands)
    reproduces the Python hash bit-for-bit on the same texts."""
    texts = {1: BASE, 2: NEAR, 3: FAR}
    cos_rows = ",".join(
        f"({u},{x},{c})"
        for u, row in enumerate(ph.dct_basis_int()) for x, c in enumerate(row))
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ",".join(f"({k}, '{v}')" for k, v in texts.items())
        + ") t(doc_id, text)")
    n = ph.GRID * ph.GRID
    rows = con.execute(f"""
WITH cosq(u, x, c) AS (VALUES {cos_rows}),
ptok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
pcell AS (SELECT doc_id,
                 ('0x' || substr(md5(tok), 1, 15))::BIGINT % {n} AS cell
          FROM ptok),
pcnt AS (SELECT doc_id, cell, count(*) AS cnt FROM pcell GROUP BY 1, 2),
pgrid AS (
  SELECT d.doc_id, g.cell, coalesce(pc.cnt, 0) AS cnt
  FROM (SELECT DISTINCT doc_id FROM documents) d
  CROSS JOIN (SELECT unnest(range(0, {n})) AS cell) g
  LEFT JOIN pcnt pc ON pc.doc_id = d.doc_id AND pc.cell = g.cell),
ppix AS (SELECT doc_id, least(255, cnt * {ph.PIXEL_GAIN}) AS p,
                (cell // {ph.GRID}) // 2 AS by, (cell % {ph.GRID}) // 2 AS bx
         FROM pgrid),
pblk AS (SELECT doc_id, by, bx, sum(p)::BIGINT AS s FROM ppix GROUP BY 1, 2, 3),
pdct AS (SELECT b.doc_id, cu.u AS u, cv.u AS v,
                sum(b.s * cu.c * cv.c)::BIGINT AS f
         FROM pblk b JOIN cosq cu ON cu.x = b.by JOIN cosq cv ON cv.x = b.bx
         GROUP BY 1, 2, 3),
pmed AS (SELECT doc_id, list_sort(list(f))[{ph.N_BITS // 2}] AS med
         FROM pdct GROUP BY 1),
pbit AS (SELECT d.doc_id, (d.u * {ph.DCT_N} + d.v) AS i,
                (d.f > m.med)::BIGINT AS bit
         FROM pdct d JOIN pmed m ON m.doc_id = d.doc_id),
psig AS (SELECT doc_id, (i // {ph.BAND_BITS}) AS band,
                sum(bit << (i % {ph.BAND_BITS}))::BIGINT AS val
         FROM pbit GROUP BY 1, 2)
SELECT doc_id, band, val FROM psig ORDER BY doc_id, band
""").fetchall()
    got = {}
    for did, band, val in rows:
        got.setdefault(did, [0] * ph.N_BANDS)[band] = val
    for did, text in texts.items():
        assert got[did] == ph.phash_bands(ph.token_grid_pixels(text)), did


def test_similarity_preservation_and_threshold():
    """Near-dup text => <= DEFAULT_MAX_HAMMING bits; unrelated text
    lands well above it (the calibration the default encodes)."""
    hb = ph.phash_bands(ph.token_grid_pixels(BASE))
    hn = ph.phash_bands(ph.token_grid_pixels(NEAR))
    hf = ph.phash_bands(ph.token_grid_pixels(FAR))
    assert _hamming(hb, hn) <= ph.DEFAULT_MAX_HAMMING
    assert _hamming(hb, hf) > 2 * ph.DEFAULT_MAX_HAMMING
    assert ph.phash_bands(ph.token_grid_pixels(BASE)) == hb  # deterministic


def test_token_cell_convention_matches_dedup_family():
    """Cells use the exact md5-prefix integer convention of
    `dedup.hashed_shingles_portable` — the property the shared oracle
    depends on."""
    tok = "catalyst"
    h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
    pix = ph.token_grid_pixels(tok)
    assert pix[h % 256] == ph.PIXEL_GAIN
    assert sum(pix) == ph.PIXEL_GAIN


def test_phash_robust_across_lossy_codec():
    """The defining property of a PERCEPTUAL hash: the same image
    through a lossy codec (the in-tree REAL baseline JPEG at q=85,
    which perturbs pixels) must hash within the near-dup threshold of
    its lossless PNG twin — while a different image stays far. Exact
    hashes (md5-style) lose this the moment one pixel moves."""
    from training_datawarehouse_spark.operators import jpeg

    pix = ph.token_grid_pixels(BASE)
    png_pixels = ph.decode_png(
        ph.encode_png(ph.GRID, ph.GRID, pix, filter_type=2))["pixels"]
    jpg = jpeg.encode_jpeg(ph.GRID, ph.GRID, pix, quality=85,
                           subsample=False)
    jpg_pixels = jpeg.decode_jpeg(jpg)["pixels"]
    assert jpg_pixels != png_pixels          # lossy really perturbed it
    h_png = ph.phash_bands(png_pixels)
    h_jpg = ph.phash_bands(jpg_pixels)
    assert 0 < _hamming(h_png, h_jpg) <= ph.DEFAULT_MAX_HAMMING
    h_far = ph.phash_bands(ph.token_grid_pixels(FAR))
    # the unrelated image must stay ABOVE the dedup threshold even
    # against the codec-perturbed hash (it sits at 2x here — sparse
    # spike images are JPEG's worst case, which eats some margin)
    assert _hamming(h_jpg, h_far) > ph.DEFAULT_MAX_HAMMING


def test_planted_near_dup_found_by_banded_join(spark):
    """End-to-end on Spark: plant a near-dup pair and an unrelated doc
    among decoys; the banded candidate join must surface exactly the
    planted pair, with the codec round trip in the plan."""
    decoys = [
        f"decoy document number {i} with tokens drawn from vocabulary "
        f"slice {i % 7} plus padding words alpha beta gamma delta "
        f"epsilon zeta eta theta iota kappa row{i}"
        for i in range(20)
    ]
    rows = ([(1, BASE), (2, NEAR), (3, FAR)]
            + [(10 + i, t) for i, t in enumerate(decoys)])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = ph.image_phash_signatures(df, "doc_id", "text")
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in ph.phash_candidate_pairs(sig).collect()}
    assert (1, 2) in pairs
    assert pairs[(1, 2)] <= ph.DEFAULT_MAX_HAMMING
    assert all(3 not in p for p in pairs)

    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan
    assert "Exchange" not in plan  # signatures are row-local


def test_cap_grain_rep_small_groups_unchanged(spark):
    """Groups within the cap keep the full doc-grain expansion: the
    Hamming-0 group pairs within itself and with its near neighbor."""
    sig = spark.createDataFrame(
        [(1, 7, 7, 7, 7), (2, 7, 7, 7, 7), (3, 7, 7, 7, 5)],
        "id long, b0 int, b1 int, b2 int, b3 int",
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in ph.phash_candidate_pairs(sig).collect()}
    assert pairs == {(1, 2): 0, (1, 3): 1, (2, 3): 1}
