"""Deterministic synthetic world (FIXTURES.md): web pages, zones, sites,
raster tiles, relate squares.

Everything is a pure function of (seed, row id) via splitmix64 integer
mixing — identical output for any partitioning, parallelism level, or
platform (the scaling bench reruns the same input at local[8] vs
local[32] and the north rule demands identical results).

The web-pages table matches BASELINE.json input_hint exactly:
``(url string, warc_ts timestamp, html binary, text string, lang
string)``.  ~60% of rows embed one coordinate mention in ``text``; the
geocoder (operators/geocode.py) must recover it and the text bytes must
survive every pipeline stage unchanged (byte-identity invariant).

Generation is distributed: ``spark.range(n)`` → ``mapInPandas`` with
vectorized numpy — the 5M-row bench input is never materialized on the
driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..geometry import wkb

SEED = 42

# 8 Gaussian city clusters (hot tiles for the skew tests) — FIXTURES §1.
CLUSTERS = np.array(
    [
        (47.6097, -122.3331),  # Seattle
        (40.7128, -74.0060),  # New York
        (51.5074, -0.1278),  # London
        (48.8566, 2.3522),  # Paris
        (35.6762, 139.6503),  # Tokyo
        (-33.8688, 151.2093),  # Sydney
        (-23.5505, -46.6333),  # São Paulo
        (6.5244, 3.3792),  # Lagos
    ],
    dtype=np.float64,
)
CLUSTER_SIGMA = 0.5  # degrees
# Zipf-ish cluster weights: cluster 0 is the hot tile (skew mitigation test)
CLUSTER_W = np.array([0.35, 0.2, 0.12, 0.1, 0.08, 0.06, 0.05, 0.04])
_CLUSTER_CDF = np.cumsum(CLUSTER_W)

_WORDS = (
    "the of spatial raster vector tile index join point polygon web page "
    "crawl archive data lake stream batch shuffle partition skew salt "
    "cell ring buffer overlay sample zonal lineage resume metric"
).split()

LANG_CYCLE = ["en", "en", "en", "de", "fr", "es", "zh"]


# ---------------------------------------------------------------------------
# splitmix64 — deterministic per-row randomness, partitioning-invariant
# ---------------------------------------------------------------------------


def _mix(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64, copy=True)
    x += np.uint64(0x9E3779B97F4A7C15)
    z = x
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def u01(ids: np.ndarray, salt: int, seed: int = SEED) -> np.ndarray:
    """Uniform [0,1) float64, pure function of (seed, salt, id)."""
    ids = np.asarray(ids, dtype=np.uint64)
    h = _mix(ids ^ _mix(np.uint64(seed * 1_000_003 + salt) + np.zeros(1, np.uint64)))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def gauss(ids: np.ndarray, salt: int, seed: int = SEED) -> np.ndarray:
    """Standard normal via Box-Muller on two splitmix uniforms."""
    u1 = np.clip(u01(ids, salt, seed), 1e-12, 1.0)
    u2 = u01(ids, salt + 7777, seed)
    return np.sqrt(-2.0 * np.log(u1)) * np.cos(2 * np.pi * u2)


# ---------------------------------------------------------------------------
# Coordinates per document id (shared by generator, geocode oracle, tests)
# ---------------------------------------------------------------------------


def doc_coords(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(has_geo, lat, lon) for document ids.

    ~60% of docs mention a coordinate; of those 80% come from the 8
    Zipf-weighted city clusters, 20% uniform background
    (lat −60..70, lon −180..180).  Coordinates are rounded to 4
    decimals — exactly what the text embeds, so geocode output matches
    bit-for-bit.
    """
    ids = np.asarray(ids, dtype=np.int64)
    has_geo = u01(ids, 1) < 0.6
    from_cluster = u01(ids, 2) < 0.8
    ck = np.searchsorted(_CLUSTER_CDF, u01(ids, 3))
    ck = np.clip(ck, 0, len(CLUSTERS) - 1)
    lat_c = CLUSTERS[ck, 0] + gauss(ids, 4) * CLUSTER_SIGMA
    lon_c = CLUSTERS[ck, 1] + gauss(ids, 5) * CLUSTER_SIGMA
    lat_u = -60.0 + u01(ids, 6) * 130.0
    lon_u = -180.0 + u01(ids, 7) * 360.0
    lat = np.where(from_cluster, lat_c, lat_u)
    lon = np.where(from_cluster, lon_c, lon_u)
    lat = np.clip(lat, -89.9999, 89.9999)
    lon = ((lon + 180.0) % 360.0) - 180.0
    return has_geo, np.round(lat, 4), np.round(lon, 4)


def coord_mention(lat: np.ndarray, lon: np.ndarray) -> pd.Series:
    """The exact text fragment embedded in pages: ``12.3456°N 71.0000°W``."""
    alat = pd.Series(np.char.mod("%.4f", np.abs(lat)))
    alon = pd.Series(np.char.mod("%.4f", np.abs(lon)))
    ns = pd.Series(np.where(lat >= 0, "°N", "°S"))
    ew = pd.Series(np.where(lon >= 0, "°E", "°W"))
    return alat + ns + " " + alon + ew


def webpages_pdf(ids: np.ndarray) -> pd.DataFrame:
    """Vectorized page synthesis for a batch of ids (runs inside
    mapInPandas on executors and standalone for oracles)."""
    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)
    has_geo, lat, lon = doc_coords(ids)

    # deterministic word soup: 8 words chosen by id mixing
    wi = np.column_stack(
        [
            (_mix((ids + k * 97).astype(np.uint64)) % len(_WORDS)).astype(np.int64)
            for k in range(8)
        ]
    )
    words = np.array(_WORDS, dtype=object)[wi]
    base = pd.Series(words[:, 0])
    for k in range(1, 8):
        base = base + " " + pd.Series(words[:, k])

    mention = coord_mention(lat, lon)
    text = (base + " near " + mention + " " + base).where(has_geo, base + " " + base)

    url = (
        "https://site"
        + pd.Series(np.char.mod("%d", ids % 1000))
        + ".example/page/"
        + pd.Series(np.char.mod("%d", ids))
    )
    html = [b"<html><body>" + t.encode("utf-8") + b"</body></html>" for t in text]
    warc_ts = pd.Timestamp("2024-01-01T00:00:00Z").tz_localize(None) + pd.to_timedelta(
        ids * 137, unit="s"
    )
    lang = np.array(LANG_CYCLE, dtype=object)[ids % len(LANG_CYCLE)]
    return pd.DataFrame(
        {
            "url": url,
            "warc_ts": warc_ts,
            "html": html,
            "text": text,
            "lang": lang,
        }
    )


WEBPAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def webpages(spark, n: int, partitions: int | None = None):
    """Distributed web-pages table per input_hint (never driver-collected)."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)

    def gen(batches):
        for pdf in batches:
            yield webpages_pdf(pdf["id"].to_numpy())

    return spark.range(0, n, numPartitions=partitions).mapInPandas(
        gen, schema=WEBPAGES_SCHEMA
    )


# ---------------------------------------------------------------------------
# Zones (polygon layer) — FIXTURES §2
# ---------------------------------------------------------------------------


ZONES_SCHEMA = (
    "zone_id bigint, name string, labelrank bigint, pop_est double, geometry binary"
)


def _zone_rows(n_zones: int = 200) -> list[tuple]:
    """Driver-side zone synthesis (small layer, broadcast at join time).

    200 convex jittered n-gons over the city-cluster region, 5 giant
    background boxes, 3 MultiPolygons, 1 polygon with a hole.
    """
    rows = []
    ids = np.arange(n_zones, dtype=np.int64)
    ck = ids % len(CLUSTERS)
    r_base = 0.15 + u01(ids, 101) * 0.6
    cx = CLUSTERS[ck, 1] + (u01(ids, 102) - 0.5) * 2.5
    cy = CLUSTERS[ck, 0] + (u01(ids, 103) - 0.5) * 2.5
    for i in range(n_zones):
        k = 5 + int(u01(np.array([i]), 104)[0] * 5)  # 5..9-gon
        th = np.linspace(0, 2 * np.pi, k, endpoint=False) + u01(
            np.array([i]), 105
        )[0]
        rr = r_base[i] * (0.7 + 0.6 * u01(np.arange(i * 17, i * 17 + k), 106))
        ring = np.column_stack([cx[i] + rr * np.cos(th), cy[i] + rr * np.sin(th)])
        from ..geometry.kernels import convex_hull

        hull = convex_hull(ring)
        geom = wkb.polygon(hull)
        rows.append((int(i), f"zone_{i}", int(i % 10), _pop_est(i), wkb.dumps(geom)))

    nid = n_zones
    # 5 giant background boxes (multi-cell coverings)
    giants = [
        (-130.0, 20.0, -60.0, 55.0),
        (-15.0, 35.0, 30.0, 60.0),
        (100.0, 20.0, 150.0, 50.0),
        (110.0, -45.0, 160.0, -10.0),
        (-75.0, -40.0, -30.0, 0.0),
    ]
    for g in giants:
        rows.append(
            (nid, f"zone_{nid}", nid % 10, _pop_est(nid), wkb.dumps(wkb.box(*g)))
        )
        nid += 1
    # 3 MultiPolygons (two disjoint boxes each)
    for j in range(3):
        b1 = wkb.box(-122.6 - j, 47.0, -122.0 - j, 47.5)["coordinates"]
        b2 = wkb.box(2.0 + j, 48.5, 2.6 + j, 49.0)["coordinates"]
        mp = {"type": "MultiPolygon", "coordinates": [b1, b2]}
        rows.append((nid, f"zone_{nid}", nid % 10, _pop_est(nid), wkb.dumps(mp)))
        nid += 1
    # 1 polygon with a hole
    hole = wkb.polygon(
        [[139.0, 35.0], [140.4, 35.0], [140.4, 36.2], [139.0, 36.2]],
        holes=[[[139.5, 35.4], [139.9, 35.4], [139.9, 35.9], [139.5, 35.9]]],
    )
    rows.append((nid, f"zone_{nid}", nid % 10, _pop_est(nid), wkb.dumps(hole)))
    return rows


def _pop_est(zone_id: int) -> float:
    return float(np.exp(3 + (zone_id * 2654435761 % 997) / 200.0))


def zones(spark, n_zones: int = 200):
    # built from the pandas twin through Arrow: a local relation, so a
    # collect is a LocalTableScan, not a Python RDD job
    return spark.createDataFrame(zones_pdf(n_zones), schema=ZONES_SCHEMA)


def zones_pdf(n_zones: int = 200) -> pd.DataFrame:
    return pd.DataFrame(
        _zone_rows(n_zones),
        columns=["zone_id", "name", "labelrank", "pop_est", "geometry"],
    )


# ---------------------------------------------------------------------------
# Sites (point layer, kNN targets) — FIXTURES §3
# ---------------------------------------------------------------------------

SITES_SCHEMA = "site_id bigint, kind string, x double, y double, geometry binary"
_KINDS = ["poi", "station", "tower"]


def _site_rows(n: int = 2000) -> list[tuple]:
    ids = np.arange(n, dtype=np.int64)
    in_cluster = ids % 2 == 0
    ck = ids % len(CLUSTERS)
    lat_c = CLUSTERS[ck, 0] + gauss(ids, 201) * CLUSTER_SIGMA
    lon_c = CLUSTERS[ck, 1] + gauss(ids, 202) * CLUSTER_SIGMA
    lat_u = -60.0 + u01(ids, 203) * 130.0
    lon_u = -180.0 + u01(ids, 204) * 360.0
    lat = np.round(np.clip(np.where(in_cluster, lat_c, lat_u), -89.99, 89.99), 6)
    lon = np.round(((np.where(in_cluster, lon_c, lon_u) + 180) % 360) - 180, 6)
    return [
        (
            int(i),
            _KINDS[int(i) % 3],
            float(lon[i]),
            float(lat[i]),
            wkb.dumps(wkb.point(float(lon[i]), float(lat[i]))),
        )
        for i in ids
    ]


def sites(spark, n: int = 2000):
    # local relation via Arrow, as in zones()
    return spark.createDataFrame(sites_pdf(n), schema=SITES_SCHEMA)


def sites_pdf(n: int = 2000) -> pd.DataFrame:
    return pd.DataFrame(
        _site_rows(n), columns=["site_id", "kind", "x", "y", "geometry"]
    )


# ---------------------------------------------------------------------------
# Raster tile table — FIXTURES §4
# ---------------------------------------------------------------------------

# geotransform: (origin_x, pixel_w, 0, origin_y, 0, pixel_h) — GDAL layout,
# matching the reference's model (/root/reference/SpaRasters.py:113-116)
GEOTRANSFORM = (-10.0, 0.01, 0.0, 10.0, 0.0, -0.01)
TILE = 64
GRID = 4  # 4×4 tiles per raster
NODATA = -9999.0

RASTER_SCHEMA = (
    "raster_id string, band int, tile_y int, tile_x int, height int, width int,"
    " nodata double, pixels binary"
)


def dem_value(gx: np.ndarray, gy: np.ndarray, which: str = "dem_a") -> np.ndarray:
    """Pixel value at global pixel index (gx, gy) — FIXTURES §4 formula."""
    v = 100.0 * np.sin(gx / 17.0) + 50.0 * np.cos(gy / 13.0) + gx * 0.1
    if which == "dem_b":
        v = v * 0.5 + 10.0
    return v.astype(np.float32)


def _tile_rows() -> list[tuple]:
    rows = []
    for rid in ("dem_a", "dem_b"):
        for ty in range(GRID):
            for tx in range(GRID):
                gy, gx = np.mgrid[
                    ty * TILE : (ty + 1) * TILE, tx * TILE : (tx + 1) * TILE
                ]
                v = dem_value(gx.astype(np.float64), gy.astype(np.float64), rid)
                # ~2% nodata, deterministic on global pixel index
                flat = (gy.astype(np.int64) * 10_000 + gx).ravel()
                mask = (u01(flat, 301) < 0.02).reshape(v.shape)
                v = np.where(mask, np.float32(NODATA), v)
                rows.append(
                    (rid, 1, ty, tx, TILE, TILE, NODATA, v.astype("<f4").tobytes())
                )
    return rows


def raster_tiles(spark):
    return spark.createDataFrame(_tile_rows(), schema=RASTER_SCHEMA)


def raster_tiles_pdf() -> pd.DataFrame:
    return pd.DataFrame(
        _tile_rows(),
        columns=[
            "raster_id", "band", "tile_y", "tile_x", "height", "width",
            "nodata", "pixels",
        ],
    )


def untiled_array(which: str = "dem_a") -> np.ndarray:
    """Whole raster as one (256,256) array — the oracle's view."""
    gy, gx = np.mgrid[0 : GRID * TILE, 0 : GRID * TILE]
    v = dem_value(gx.astype(np.float64), gy.astype(np.float64), which)
    flat = (gy.astype(np.int64) * 10_000 + gx).ravel()
    mask = (u01(flat, 301) < 0.02).reshape(v.shape)
    return np.where(mask, np.float32(NODATA), v)


def alg_value(gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
    """Integer-exact raster formula for the DuckDB-oracle sampling query
    (value is an integer in [-200, 799] — exact in float32 AND SQL)."""
    return (((gx * 37 + gy * 91) % 1000) - 200.0).astype("<f4")


def alg_raster_tiles(spark, grid: int = GRID, tile: int = TILE):
    """Algebraic raster tile table (no nodata pixels hit).  ``grid`` ×
    ``grid`` tiles of ``tile``² pixels — non-default sizes serve the
    rational-resample oracle, whose dyadic weights need tile % q == 0
    shapes the 64-tile default cannot provide."""
    rows = []
    for ty in range(grid):
        for tx in range(grid):
            gy, gx = np.mgrid[
                ty * tile : (ty + 1) * tile, tx * tile : (tx + 1) * tile
            ]
            v = alg_value(gx.astype(np.int64), gy.astype(np.int64))
            rows.append(("alg", 1, ty, tx, tile, tile, NODATA, v.tobytes()))
    return spark.createDataFrame(rows, schema=RASTER_SCHEMA)


ALG2_NODATA = -5555.0


def alg2_value(gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
    """Second integer-exact algebraic raster (map-algebra oracle pair);
    ~1% nodata on its OWN nodata value (≠ alg's −9999) so the
    per-raster mask semantics (reference SpaRasters.py:2146-2156) are
    oracle-checked, not just unit-tested."""
    v = (((gx * 13 + gy * 7) % 500) - 100.0).astype("<f4")
    mask = (gx * 11 + gy * 29) % 101 == 0
    return np.where(mask, np.float32(ALG2_NODATA), v)


def alg2_raster_tiles(spark):
    rows = []
    for ty in range(GRID):
        for tx in range(GRID):
            gy, gx = np.mgrid[
                ty * TILE : (ty + 1) * TILE, tx * TILE : (tx + 1) * TILE
            ]
            v = alg2_value(gx.astype(np.int64), gy.astype(np.int64))
            rows.append(("alg2", 1, ty, tx, TILE, TILE, ALG2_NODATA, v.tobytes()))
    return spark.createDataFrame(rows, schema=RASTER_SCHEMA)


def quad_value(gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
    """Closed-form quadratic DEM for the terrain-oracle rows:

        z = ((2·gx − 255)² + 2·(2·gy − 255)²) / 4

    i.e. an elliptic paraboloid centered at the HALF-INTEGER pixel
    (127.5, 127.5).  Designed so every quantity the terrain kernels
    derive is SQL-recomputable:

    - values are exact quarters ≤ 48768.75 → bit-exact in float32;
    - the Horn / central-difference gradients are INTEGERS
      (dzdx = 2·gx − 255, dzdy = 2·(2·gy − 255) interior; closed-form
      constants on the linear-extrapolated raster boundary) and — key —
      NEVER ZERO, so atan2 never sees the ±0.0 argument pair on which
      numpy (−0.0 → π) and SQL engines (0−x → +0.0 → 0) diverge.
    """
    qx = 2.0 * gx - 255.0
    qy = 2.0 * gy - 255.0
    return ((qx * qx + 2.0 * qy * qy) / 4.0).astype("<f4")


def quad_raster_tiles(spark):
    rows = []
    for ty in range(GRID):
        for tx in range(GRID):
            gy, gx = np.mgrid[
                ty * TILE : (ty + 1) * TILE, tx * TILE : (tx + 1) * TILE
            ]
            v = quad_value(gx.astype(np.float64), gy.astype(np.float64))
            rows.append(("quad", 1, ty, tx, TILE, TILE, NODATA, v.tobytes()))
    return spark.createDataFrame(rows, schema=RASTER_SCHEMA)


def algc_value(gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
    """Integer-exact coarse raster (64² at 4× the alg resolution) for
    the resample_to_match oracle row."""
    return (((gx * 7 + gy * 3) % 400) - 100.0).astype("<f4")


# coarse twin of GEOTRANSFORM: same extent, 4× the pixel size
GEOTRANSFORM_C = (-10.0, 0.04, 0.0, 10.0, 0.0, -0.04)


def alg_coarse_tiles(spark):
    gy, gx = np.mgrid[0:TILE, 0:TILE]
    v = algc_value(gx.astype(np.int64), gy.astype(np.int64))
    return spark.createDataFrame(
        [("algc", 1, 0, 0, TILE, TILE, NODATA, v.tobytes())],
        schema=RASTER_SCHEMA,
    )


def block_value(gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
    """Dyadic block pattern for the polygonize-oracle row: 9×9 axis
    segments with boundaries at 16 + 32k (so every interior 64-px tile
    edge CUTS blocks — the cross-tile dissolve is genuinely exercised),
    value = (sx + 3·sy) mod 5.  Orthogonal neighbors always differ
    (Δ = 1 or 3 mod 5 ≠ 0), so each of the 81 blocks is exactly one
    4-connected component — counts/pixel sums are closed-form in SQL.
    """
    sx = np.clip((np.asarray(gx, np.int64) + 16) // 32, 0, 8)
    sy = np.clip((np.asarray(gy, np.int64) + 16) // 32, 0, 8)
    return ((sx + 3 * sy) % 5).astype("<f4")


def block_raster_tiles(spark):
    rows = []
    for ty in range(GRID):
        for tx in range(GRID):
            gy, gx = np.mgrid[
                ty * TILE : (ty + 1) * TILE, tx * TILE : (tx + 1) * TILE
            ]
            v = block_value(gx, gy)
            rows.append(("blocks", 1, ty, tx, TILE, TILE, NODATA, v.tobytes()))
    return spark.createDataFrame(rows, schema=RASTER_SCHEMA)


# ---------------------------------------------------------------------------
# Relate truth-table squares — FIXTURES §5 (reference golden)
# ---------------------------------------------------------------------------


def relate_squares_pdf() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "case_id": ["inside", "box2", "box3"],
            "geometry": [
                wkb.dumps(wkb.box(-10, -10, 10, 10)),
                wkb.dumps(wkb.box(-20, -20, 0, 0)),
                wkb.dumps(wkb.box(-200, -100, -100, -30)),
            ],
        }
    )
