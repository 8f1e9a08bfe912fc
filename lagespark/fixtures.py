"""Deterministic synthetic fixtures (FIXTURES.md, seed=42).

Generates, in pandas (converted to Spark by callers):

  images        — the graft input table (BASELINE.json:15 shape + x/y/lon/lat)
  baufeld       — construction polygons (rect, hexagon, L-shape)
  gruenflaeche  — compensatory polygons (incl. one with a hole; placed in
                  specific Lagefaktor bands per FIXTURES.md §3)
  biotope       — protected areas overlapping compensatory features
  factors       — zone → lagefaktor configuration

Coordinates: planar meters, domain [0, 10_000]²; lon/lat derived affinely
(lon = x/111_320 + 13, lat = y/111_320 + 52 — FIXTURES.md header). Image
points: 80% from 5 Gaussian urban clusters (σ=150 m) to force cell skew for
the salting tests (BASELINE.json:14), 20% uniform.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from lagespark.image import codecs

SEED = 42
M_PER_DEG = 111_320.0
LON0, LAT0 = 13.0, 52.0
DOMAIN = 10_000.0

CLUSTERS = [(2200.0, 2100.0), (6500.0, 6500.0), (7300.0, 2300.0), (3000.0, 3000.0), (8000.0, 8000.0)]
FMTS = ("raw", "ppm", "png", "qdct")


def xy_to_lonlat(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return x / M_PER_DEG + LON0, y / M_PER_DEG + LAT0


def lonlat_to_xy(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return (lon - LON0) * M_PER_DEG, (lat - LAT0) * M_PER_DEG


# ---------------------------------------------------------------------------
# images
# ---------------------------------------------------------------------------


def _splitmix64(v: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (uint64 → uint64), the standard
    counter-based hash: per-index deterministic, partitioning-independent."""
    v = v.astype(np.uint64)
    with np.errstate(over="ignore"):
        v = (v + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        v ^= v >> np.uint64(30)
        v = (v * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        v ^= v >> np.uint64(27)
        v = (v * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        v ^= v >> np.uint64(31)
    return v


def _hash_uniform(idx: np.ndarray, stream: int, seed: int) -> np.ndarray:
    """Uniform [0,1) per (index, stream), fully vectorized."""
    h = _splitmix64(idx.astype(np.uint64) * np.uint64(1_000_003) + np.uint64(seed * 7919 + stream))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def points_for_indices(idx: np.ndarray, seed: int = SEED) -> tuple[np.ndarray, np.ndarray]:
    """Skewed point field, PER-INDEX deterministic (counter-based splitmix64
    hashing): the same index yields the same point no matter how work is
    partitioned — required for distributed generation in mapInPandas, and
    vectorized so multi-million-row bench inputs generate at memory speed."""
    idx = np.asarray(idx, dtype=np.int64)
    u0 = _hash_uniform(idx, 0, seed)
    u1 = _hash_uniform(idx, 1, seed)
    u2 = _hash_uniform(idx, 2, seed)
    u3 = _hash_uniform(idx, 3, seed)
    clustered = (idx % 5) < 4  # 80% urban skew (BASELINE.json:14)
    ck = (idx % len(CLUSTERS)).astype(np.int64)
    cx = np.array([c[0] for c in CLUSTERS])[ck]
    cy = np.array([c[1] for c in CLUSTERS])[ck]
    r1 = np.sqrt(-2 * np.log(1 - u0))  # Box–Muller
    gx = np.clip(cx + 150.0 * r1 * np.cos(2 * np.pi * u1), 0, DOMAIN)
    gy = np.clip(cy + 150.0 * r1 * np.sin(2 * np.pi * u1), 0, DOMAIN)
    x = np.where(clustered, gx, u2 * DOMAIN)
    y = np.where(clustered, gy, u3 * DOMAIN)
    return x, y


def image_points(n: int, seed: int = SEED) -> tuple[np.ndarray, np.ndarray]:
    """The skewed point field only (no payloads) — cheap at bench scale."""
    return points_for_indices(np.arange(n), seed)


def images_pdf_for_indices(
    idx: np.ndarray, seed: int = SEED, with_payload: bool = True, keep_px: bool = False
) -> pd.DataFrame:
    """Graft-input-table rows for the given indices — per-index deterministic
    so it can generate distributed (one mapInPandas batch per index range).
    Schema: BASELINE.json:15 (image_id, bytes, w, h, fmt, caption, phash)
    + x/y/lon/lat. keep_px=True adds a `px_ref` column carrying the generated
    pixel arrays (Python-side consumers only — never ship it through Arrow):
    roundtrip checks need the pre-encode reference, and regenerating it costs
    as much as the procedural render itself (~0.35 ms/image, round 8)."""
    if keep_px and not with_payload:
        raise ValueError("keep_px=True needs with_payload=True: no pixels are rendered without it")
    idx = np.asarray(idx, dtype=np.int64)
    n = len(idx)
    x, y = points_for_indices(idx, seed)
    lon, lat = xy_to_lonlat(x, y)
    w = np.array([16, 32, 64], dtype=np.int32)[idx % 3]
    fmt = [FMTS[int(i) % 4] for i in idx]
    ids = [f"img{i:08d}" for i in idx]
    captions = [
        f"synthetic scene {i} near ({round(x[k])},{round(y[k])})"
        for k, i in enumerate(idx)
    ]
    pxs: list = []
    if with_payload:
        blobs = []
        phashes = np.empty(n, dtype=np.int64)
        for k, i in enumerate(idx):
            px = codecs.procedural_image(int(i), int(w[k]), int(w[k]))
            blobs.append(codecs.encode_image(px, fmt[k]))
            phashes[k] = codecs.phash64(px)
            if keep_px:
                pxs.append(px)
    else:
        blobs = [b""] * n
        phashes = np.zeros(n, dtype=np.int64)
    cols = {
        "image_id": ids,
        "bytes": blobs,
        "w": w,
        "h": w.copy(),
        "fmt": fmt,
        "caption": captions,
        "phash": phashes,
        "x": x,
        "y": y,
        "lon": lon,
        "lat": lat,
    }
    if keep_px:
        cols["px_ref"] = pxs
    return pd.DataFrame(cols)


# ---------------------------------------------------------------------------
# polygons
# ---------------------------------------------------------------------------


def _hexagon(cx: float, cy: float, r: float) -> list[list[float]]:
    ang = np.linspace(0, 2 * np.pi, 7)[:-1]
    return [[cx + r * np.cos(a), cy + r * np.sin(a)] for a in ang]


def _rect(x0, y0, x1, y1) -> list[list[float]]:
    return [[x0, y0], [x1, y0], [x1, y1], [x0, y1]]


def _wkt(rings: list[list[list[float]]]) -> str:
    parts = []
    for ring in rings:
        pts = ring + [ring[0]]
        parts.append("(" + ", ".join(f"{p[0]} {p[1]}" for p in pts) + ")")
    return "POLYGON " + "(" + ", ".join(parts) + ")"


def _poly_row(fid: str, rings: list, **attrs) -> dict:
    arr = np.array(rings[0])
    return {
        "feature_id": fid,
        "rings": [[{"x": float(p[0]), "y": float(p[1])} for p in r] for r in rings],
        "xmin": float(arr[:, 0].min()),
        "ymin": float(arr[:, 1].min()),
        "xmax": float(arr[:, 0].max()),
        "ymax": float(arr[:, 1].max()),
        "wkt": _wkt(rings),
        **attrs,
    }


def baufeld_pdf() -> pd.DataFrame:
    rows = [
        _poly_row("bf000", [_rect(2000, 2000, 2400, 2250)], construction_value=1.0),
        _poly_row("bf001", [_hexagon(6500, 6500, 300)], construction_value=1.5),
        _poly_row(
            "bf002",
            [
                [
                    [7000.0, 2000.0],
                    [7600.0, 2000.0],
                    [7600.0, 2200.0],
                    [7200.0, 2200.0],
                    [7200.0, 2600.0],
                    [7000.0, 2600.0],
                ]
            ],
            construction_value=2.0,
        ),
    ]
    return pd.DataFrame(rows)


def gruenflaeche_pdf() -> pd.DataFrame:
    vals = [0.5, 1.0, 1.5]
    specs = [
        # 2 partly within 100 m
        ("gf000", [_rect(2450, 2000, 2650, 2200)]),
        ("gf001", [_rect(7650, 2000, 7850, 2150)]),
        # 3 within 625 m
        ("gf002", [_rect(2700, 2100, 2950, 2350)]),
        ("gf003", [_rect(7000, 6400, 7300, 6700)]),
        ("gf004", [_rect(1700, 1500, 1950, 1750)]),
        # 2 beyond 625 m (gf005 carries a hole)
        ("gf005", [_rect(4500, 8500, 4900, 8900), _rect(4650, 8650, 4750, 8750)[::-1]]),
        ("gf006", [_rect(500, 5000, 900, 5400)]),
        # 1 straddling the 625 m boundary
        ("gf007", [_rect(2800, 2600, 3200, 3000)]),
    ]
    rows = [
        _poly_row(fid, rings, compensatory_value=vals[j % 3])
        for j, (fid, rings) in enumerate(specs)
    ]
    return pd.DataFrame(rows)


def biotope_pdf() -> pd.DataFrame:
    rows = [
        _poly_row(
            "bt000", [_rect(2500, 2050, 2700, 2250)], protection_type="biotope", bonus=1.25
        ),
        _poly_row(
            "bt001",
            [_rect(7200, 6500, 7400, 6800)],
            protection_type="naturschutz",
            bonus=1.5,
        ),
        _poly_row(
            "bt002",
            [[[4600.0, 8600.0], [4850.0, 8620.0], [4700.0, 8850.0]]],
            protection_type="biotope",
            bonus=1.25,
        ),
    ]
    return pd.DataFrame(rows)


def factors_pdf() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "zone": np.array([0, 1, 2], dtype=np.int32),
            "zone_label": ["<100", "<625", ">625"],
            "lagefaktor": [1.25, 1.0, 0.75],
        }
    )
