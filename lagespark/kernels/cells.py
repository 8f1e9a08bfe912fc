"""Cell-index kernels: S2-family sphere cells + planar grid cells.

Two indexes, both vectorized numpy (run inside scalar pandas UDFs):

1. ``s2_encode`` — S2-family cell id from (lat, lon) at a level: project to
   the unit sphere, pick a cube face, apply the S2 quadratic s/t projection,
   discretize to a 2^level × 2^level face grid, Morton-interleave. Level 15
   cells are ~0.08 km², the H3 res-9 equivalent demanded by BASELINE.json:6
   ("encoding each record's location to H3 res-9/S2 cells"). Decode and
   neighbor/ring functions are provided for cover + kNN ring expansion.
   Cell id layout (own format, NOT google-s2 wire format):
       id = (face << 60) | (level << 54) | morton(i, j)   — fits int64.

2. ``grid_encode`` — planar grid cell id from local-CRS meters (x, y):
       cell = (floor(x / cs) + OFF) * 2^21 + (floor(y / cs) + OFF)
   Exactly expressible in ANSI SQL, so spatial joins keyed on it are
   DuckDB-oracle-checkable end to end. Ring math is exact (Chebyshev).

Spatial joins use one or the other consistently on both sides; correctness
only needs side-consistency plus conservative covers.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# planar grid index (SQL-expressible)
# ---------------------------------------------------------------------------

GRID_OFF = 1 << 20  # shift so negative coords stay positive
GRID_SHIFT = 21  # j occupies 21 bits


def grid_encode(x: np.ndarray, y: np.ndarray, cell_size: float) -> np.ndarray:
    i = np.floor(np.asarray(x, dtype=np.float64) / cell_size).astype(np.int64)
    j = np.floor(np.asarray(y, dtype=np.float64) / cell_size).astype(np.int64)
    return (i + GRID_OFF) * (1 << GRID_SHIFT) + (j + GRID_OFF)


def grid_decode(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    i = cell // (1 << GRID_SHIFT) - GRID_OFF
    j = cell % (1 << GRID_SHIFT) - GRID_OFF
    return i, j


def grid_cell_sql(x_expr: str, y_expr: str, cell_size: float) -> str:
    """The identical encoding as ANSI SQL (DuckDB + Spark SQL)."""
    return (
        f"(CAST(FLOOR(({x_expr}) / {cell_size!r}) AS BIGINT) + {GRID_OFF}) "
        f"* {1 << GRID_SHIFT} "
        f"+ (CAST(FLOOR(({y_expr}) / {cell_size!r}) AS BIGINT) + {GRID_OFF})"
    )


def grid_cover_bbox(
    xmin: float, ymin: float, xmax: float, ymax: float, cell_size: float, pad: float = 0.0
) -> np.ndarray:
    """All grid cell ids intersecting the (padded) bbox — conservative cover."""
    i0 = int(np.floor((xmin - pad) / cell_size))
    i1 = int(np.floor((xmax + pad) / cell_size))
    j0 = int(np.floor((ymin - pad) / cell_size))
    j1 = int(np.floor((ymax + pad) / cell_size))
    ii, jj = np.meshgrid(np.arange(i0, i1 + 1), np.arange(j0, j1 + 1))
    return (ii.ravel() + GRID_OFF) * (1 << GRID_SHIFT) + (jj.ravel() + GRID_OFF)


# ---------------------------------------------------------------------------
# S2-family sphere cells
# ---------------------------------------------------------------------------

_FACE_SHIFT = 60
_LEVEL_SHIFT = 54
MAX_LEVEL = 26  # 2*26 = 52 morton bits < 54

# Lattice snap tolerance, in CELL units (fraction of one cell edge): a point
# whose scaled st value p = st·2^level lands within LATTICE_EPS of an integer
# lattice line is assigned to cell round(p) in EVERY engine (numpy, JVM,
# DuckDB), instead of floor(p). COS/SIN are the only non-correctly-rounded
# ops in the encode chain (±1 ulp by libm build), which perturbs p by
# ~1e-11 at level 15 — far inside this 1e-9 window — so a lattice-adjacent
# point can no longer floor to different cells across libm builds. 1e-9 of a
# level-15 cell is ~0.3 µm on the ground: semantically invisible, and the
# snap arithmetic itself (ABS/ROUND/FLOOR/CASE on doubles) is exact in all
# three engines.
LATTICE_EPS = 1e-9


def _st_to_i(s: np.ndarray, n: int) -> np.ndarray:
    """st → clamped cell index with the lattice snap (see LATTICE_EPS)."""
    p = s * n
    r = np.rint(p)  # half-mode differs from SQL ROUND only at .5 — outside EPS
    p = np.where(np.abs(p - r) < LATTICE_EPS, r, np.floor(p))
    return np.clip(p.astype(np.int64), 0, n - 1)


def _lonlat_to_xyz(lat: np.ndarray, lon: np.ndarray):
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64))
    cphi = np.cos(phi)
    return cphi * np.cos(lam), cphi * np.sin(lam), np.sin(phi)


def _xyz_to_face_uv(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(
        (ax >= ay) & (ax >= az),
        np.where(x >= 0, 0, 3),
        np.where(ay >= az, np.where(y >= 0, 1, 4), np.where(z >= 0, 2, 5)),
    ).astype(np.int64)
    u = np.empty_like(x)
    v = np.empty_like(x)
    for f, (num_u, num_v, den) in {
        0: (lambda: y, lambda: z, lambda: x),
        1: (lambda: -x, lambda: z, lambda: y),
        2: (lambda: -x, lambda: -y, lambda: z),
        3: (lambda: -z, lambda: -y, lambda: x),
        4: (lambda: -z, lambda: x, lambda: y),
        5: (lambda: y, lambda: x, lambda: z),
    }.items():
        m = face == f
        if m.any():
            d = den()[m]
            u[m] = num_u()[m] / d
            v[m] = num_v()[m] / d
    return face, u, v


_FACE_XYZ = {
    # face -> (xyz from u, v): inverse of _xyz_to_face_uv (unnormalized)
    0: lambda u, v: (np.ones_like(u), u, v),
    1: lambda u, v: (-u, np.ones_like(u), v),
    2: lambda u, v: (-u, -v, np.ones_like(u)),
    3: lambda u, v: (-np.ones_like(u), v, u),
    4: lambda u, v: (-v, -np.ones_like(u), u),
    5: lambda u, v: (-v, -u, -np.ones_like(u)),
}


def _uv_to_st(u):
    """S2 quadratic projection: equalizes cell areas across a face."""
    with np.errstate(invalid="ignore"):
        return np.where(
            u >= 0, 0.5 * np.sqrt(1 + 3 * u), 1 - 0.5 * np.sqrt(np.abs(1 - 3 * u))
        )


def _st_to_uv(s):
    return np.where(
        s >= 0.5, (1.0 / 3.0) * (4 * s * s - 1), (1.0 / 3.0) * (1 - 4 * (1 - s) * (1 - s))
    )


def _interleave(i: np.ndarray, j: np.ndarray, level: int) -> np.ndarray:
    m = np.zeros_like(i)
    for b in range(level):
        m |= ((i >> b) & 1) << (2 * b + 1)
        m |= ((j >> b) & 1) << (2 * b)
    return m


def _deinterleave(m: np.ndarray, level: int):
    i = np.zeros_like(m)
    j = np.zeros_like(m)
    for b in range(level):
        i |= ((m >> (2 * b + 1)) & 1) << b
        j |= ((m >> (2 * b)) & 1) << b
    return i, j


def s2_encode(lat: np.ndarray, lon: np.ndarray, level: int = 15) -> np.ndarray:
    """(lat, lon) → int64 cell id at `level` (level 15 ≈ H3 res 9 area)."""
    assert 0 < level <= MAX_LEVEL
    x, y, z = _lonlat_to_xyz(lat, lon)
    face, u, v = _xyz_to_face_uv(x, y, z)
    n = 1 << level
    i = _st_to_i(_uv_to_st(u), n)
    j = _st_to_i(_uv_to_st(v), n)
    return (face << _FACE_SHIFT) | (np.int64(level) << _LEVEL_SHIFT) | _interleave(i, j, level)


def s2_decode_ij(cell: np.ndarray):
    cell = np.asarray(cell, dtype=np.int64)
    face = cell >> _FACE_SHIFT
    level = (cell >> _LEVEL_SHIFT) & 0x3F
    lev = int(level[0]) if level.ndim else int(level)
    mask = (np.int64(1) << (2 * lev)) - 1
    i, j = _deinterleave(cell & mask, lev)
    return face, i, j, lev


def s2_from_ij(face: np.ndarray, i: np.ndarray, j: np.ndarray, level: int) -> np.ndarray:
    n = 1 << level
    i = np.clip(i, 0, n - 1)
    j = np.clip(j, 0, n - 1)
    return (
        (np.asarray(face, dtype=np.int64) << _FACE_SHIFT)
        | (np.int64(level) << _LEVEL_SHIFT)
        | _interleave(i.astype(np.int64), j.astype(np.int64), level)
    )


def s2_cell_center(cell: np.ndarray):
    """Cell id → (lat, lon) of the cell center."""
    face, i, j, level = s2_decode_ij(cell)
    n = 1 << level
    u = _st_to_uv((i.astype(np.float64) + 0.5) / n)
    v = _st_to_uv((j.astype(np.float64) + 0.5) / n)
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    for f, fn in _FACE_XYZ.items():
        m = face == f
        if m.any():
            xf, yf, zf = fn(u[m], v[m])
            x[m], y[m], z[m] = xf, yf, zf
    r = np.sqrt(x * x + y * y + z * z)
    lat = np.degrees(np.arcsin(z / r))
    lon = np.degrees(np.arctan2(y, x))
    return lat, lon


def s2_cell_corners(cell: np.ndarray):
    """Cell ids → (lat, lon) arrays of shape (N, 4): the four cell corners
    (i,j), (i+1,j), (i+1,j+1), (i,j+1) in st space mapped back to the sphere.
    Used by the exact polyfill to clip-test each candidate cell's footprint
    against the feature polygon."""
    face, i, j, level = s2_decode_ij(cell)
    n = 1 << level
    di = np.array([0, 1, 1, 0])
    dj = np.array([0, 0, 1, 1])
    u = _st_to_uv((i[:, None].astype(np.float64) + di[None, :]) / n)
    v = _st_to_uv((j[:, None].astype(np.float64) + dj[None, :]) / n)
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    facem = np.repeat(face[:, None], 4, axis=1)
    for f, fn in _FACE_XYZ.items():
        m = facem == f
        if m.any():
            xf, yf, zf = fn(u[m], v[m])
            x[m], y[m], z[m] = xf, yf, zf
    r = np.sqrt(x * x + y * y + z * z)
    lat = np.degrees(np.arcsin(z / r))
    lon = np.degrees(np.arctan2(y, x))
    return lat, lon


def s2_cell_boundary(cell: np.ndarray, samples_per_edge: int = 2):
    """Cell ids → (lat, lon) of shape (N, 4·samples_per_edge): points sampled
    uniformly (in st space) along the cell boundary, corners included.
    samples_per_edge=1 reproduces s2_cell_corners; =2 adds the four edge
    midpoints, which bounds the planar footprint of the CURVED cell edges
    ~4× tighter than corners alone — the exact polyfill uses this so its
    residual pad no longer has to absorb full edge curvature."""
    face, i, j, level = s2_decode_ij(cell)
    n = 1 << level
    fr = np.arange(samples_per_edge, dtype=np.float64) / samples_per_edge
    one = np.ones_like(fr)
    zero = np.zeros_like(fr)
    di = np.concatenate([fr, one, 1.0 - fr, zero])
    dj = np.concatenate([zero, fr, one, 1.0 - fr])
    u = _st_to_uv((i[:, None].astype(np.float64) + di[None, :]) / n)
    v = _st_to_uv((j[:, None].astype(np.float64) + dj[None, :]) / n)
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    facem = np.repeat(face[:, None], u.shape[1], axis=1)
    for f, fn in _FACE_XYZ.items():
        m = facem == f
        if m.any():
            xf, yf, zf = fn(u[m], v[m])
            x[m], y[m], z[m] = xf, yf, zf
    r = np.sqrt(x * x + y * y + z * z)
    lat = np.degrees(np.arcsin(z / r))
    lon = np.degrees(np.arctan2(y, x))
    return lat, lon


def s2_cover_bbox(
    lat_min: float, lon_min: float, lat_max: float, lon_max: float, level: int = 15
) -> np.ndarray:
    """Conservative S2 cell cover of a small geographic bbox: the ij-range
    spanned by the four corners on their (shared) face, padded by one cell.
    Valid for region-scale bboxes in a face interior (the engine's
    deployment regime — see s2_disk_cells for the cross-face caveat)."""
    lats = np.array([lat_min, lat_min, lat_max, lat_max])
    lons = np.array([lon_min, lon_max, lon_min, lon_max])
    c = s2_encode(lats, lons, level)
    face, i, j, _ = s2_decode_ij(c)
    if len(set(face.tolist())) != 1:
        raise ValueError("bbox spans multiple S2 faces — split it upstream")
    i0, i1 = int(i.min()) - 1, int(i.max()) + 1
    j0, j1 = int(j.min()) - 1, int(j.max()) + 1
    ii, jj = np.meshgrid(np.arange(i0, i1 + 1), np.arange(j0, j1 + 1))
    return s2_from_ij(
        np.full(ii.size, int(face[0]), dtype=np.int64), ii.ravel(), jj.ravel(), level
    )


def s2_disk_cells(cell: np.ndarray, k: int) -> np.ndarray:
    """(N, (2k+1)^2) face-local ij-neighborhood, clamped at face edges.

    Cross-face neighbors are NOT generated (documented limitation: covers and
    data in one regional deployment sit in a face interior; clamping keeps
    results conservative-correct there)."""
    face, i, j, level = s2_decode_ij(cell)
    d = np.arange(-k, k + 1)
    di, dj = np.meshgrid(d, d)
    di = di.ravel()[None, :]
    dj = dj.ravel()[None, :]
    return s2_from_ij(
        np.repeat(face[:, None], (2 * k + 1) ** 2, axis=1),
        i[:, None] + di,
        j[:, None] + dj,
        level,
    )


def s2_cell_sql_steps(
    lat_expr: str, lon_expr: str, level: int = 15, dialect: str = "spark"
) -> list[tuple[str, str]]:
    """Stepwise SQL mirror of s2_encode for BOTH dialects — the native
    (no-Python) encode path and its DuckDB oracle.

    Every floating-point operation replays the numpy kernel's op order
    exactly (multiply by the same radian literal, same division order, same
    quadratic-projection expression), so +,-,*,/ and SQRT — all IEEE
    correctly-rounded — produce bit-identical doubles across numpy, the
    JVM, and DuckDB. The only cross-engine wiggle is COS/SIN (±1 ulp by
    libm); the LATTICE_EPS snap (round-6) absorbs it: scaled st values
    within 1e-9 of a 1/2^level lattice line round to the line instead of
    flooring, identically in all three engines, so libm disagreement can no
    longer flip a lattice-adjacent point into a different cell.

    Returns [(column_name, sql_expr), ...]; the last entry is the cell id.
    Integer work (face/level header, bit interleave) is exact in both
    dialects: Spark uses shiftleft/shiftright functions, DuckDB the <</>>
    operators; & and | are common.
    """
    assert 0 < level <= MAX_LEVEL
    if dialect == "spark":
        shl = lambda a, b: f"shiftleft({a}, {b})"  # noqa: E731
        shr = lambda a, b: f"shiftright({a}, {b})"  # noqa: E731
    else:
        shl = lambda a, b: f"(({a}) << {b})"  # noqa: E731
        shr = lambda a, b: f"(({a}) >> {b})"  # noqa: E731
    rad = "CAST(0.017453292519943295 AS DOUBLE)"  # the numpy pi/180 double
    n = 1 << level
    st = (
        "CASE WHEN {u} >= 0 THEN 0.5 * SQRT(1 + 3 * {u}) "
        "ELSE 1 - 0.5 * SQRT(ABS(1 - 3 * {u})) END"
    )
    # lattice snap (see LATTICE_EPS): ROUND/FLOOR both yield exact
    # integer-valued doubles, so the BIGINT cast is exact in both dialects
    # (DuckDB's rounding cast and Spark's truncating cast agree on integers)
    ij = (
        f"LEAST({n - 1}, GREATEST(0, CAST("
        f"CASE WHEN ABS({{p}} - ROUND({{p}})) < {LATTICE_EPS!r} "
        f"THEN ROUND({{p}}) ELSE FLOOR({{p}}) END AS BIGINT)))"
    )
    steps = [
        ("_s2phi", f"({lat_expr}) * {rad}"),
        ("_s2lam", f"({lon_expr}) * {rad}"),
        ("_s2x", "COS(_s2phi) * COS(_s2lam)"),
        ("_s2y", "COS(_s2phi) * SIN(_s2lam)"),
        ("_s2z", "SIN(_s2phi)"),
        (
            "_s2face",
            "CAST(CASE WHEN ABS(_s2x) >= ABS(_s2y) AND ABS(_s2x) >= ABS(_s2z) "
            "THEN CASE WHEN _s2x >= 0 THEN 0 ELSE 3 END "
            "WHEN ABS(_s2y) >= ABS(_s2z) THEN CASE WHEN _s2y >= 0 THEN 1 ELSE 4 END "
            "ELSE CASE WHEN _s2z >= 0 THEN 2 ELSE 5 END END AS BIGINT)",
        ),
        (
            "_s2u",
            "CASE _s2face WHEN 0 THEN _s2y / _s2x WHEN 1 THEN (-_s2x) / _s2y "
            "WHEN 2 THEN (-_s2x) / _s2z WHEN 3 THEN (-_s2z) / _s2x "
            "WHEN 4 THEN (-_s2z) / _s2y ELSE _s2y / _s2z END",
        ),
        (
            "_s2v",
            "CASE _s2face WHEN 0 THEN _s2z / _s2x WHEN 1 THEN _s2z / _s2y "
            "WHEN 2 THEN (-_s2y) / _s2z WHEN 3 THEN (-_s2y) / _s2x "
            "WHEN 4 THEN _s2x / _s2y ELSE _s2x / _s2z END",
        ),
        ("_s2s", st.format(u="_s2u")),
        ("_s2t", st.format(u="_s2v")),
        ("_s2ps", f"_s2s * {n}"),
        ("_s2pt", f"_s2t * {n}"),
        ("_s2i", ij.format(p="_s2ps")),
        ("_s2j", ij.format(p="_s2pt")),
    ]
    morton = " | ".join(
        [shl(f"({shr('_s2i', b)} & 1)", 2 * b + 1) for b in range(level)]
        + [shl(f"({shr('_s2j', b)} & 1)", 2 * b) for b in range(level)]
    )
    steps.append(
        (
            "cell_s2",
            f"{shl('_s2face', _FACE_SHIFT)} | "
            f"{shl(f'CAST({level} AS BIGINT)', _LEVEL_SHIFT)} | ({morton})",
        )
    )
    return steps


def s2_nested_select_sql(
    inner_select: str, lat_expr: str, lon_expr: str, level: int = 15,
    dialect: str = "duckdb",
) -> str:
    """Wrap `inner_select` in one nested SELECT per s2_cell_sql_steps step,
    ending with a relation that carries every inner column plus `cell_s2`.
    (Textual folding into one scalar expression blows up exponentially —
    the step chain shares subexpressions by name instead.)"""
    q = f"SELECT * FROM ({inner_select})"
    for name, expr in s2_cell_sql_steps(lat_expr, lon_expr, level, dialect):
        q = f"SELECT *, {expr} AS {name} FROM ({q})"
    return q
