"""Planar geometry kernels (pure numpy, vectorized).

Coordinate convention: planar meters in a projected/local CRS (the 100 m /
625 m Lagefaktor thresholds of BASELINE.json:6 are metric). A polygon is a
list of rings; each ring is an (N, 2) float64 array of vertices, NOT closed
(first vertex is not repeated at the end). Ring 0 is the outer boundary
(stored CCW), rings 1.. are holes (orientation irrelevant — handled by
unsigned area subtraction).

Kernels:
  signed_area / ring_area           — shoelace
  ensure_ccw                        — normalize orientation
  ring_bbox / point_in_ring         — vectorized ray casting
  point_in_polygon                  — outer minus holes
  clip_convex                       — Sutherland–Hodgman vs convex CCW window
  triangulate                       — ear clipping (handles non-convex rings)
  intersection_area                 — exact polygon ∩ polygon area via
                                      triangulated clipping (non-convex OK)
  zone_band_strips                  — distance bands as raster strips,
                                      optionally only under a window
  point_segments_dist               — vectorized point→segment distances
  point_to_polygon_dist             — 0 inside, else min edge distance
  zone_of_points                    — Lagefaktor distance band per point

Reference parity: these reproduce the overlay / buffer-band / PIP semantics
of the reference GeoPandas pipeline (BASELINE.json:6: "construction-vs-
compensatory polygon overlay", "point-in-polygon", "distance-band buffers").
The reference checkout ships no source (see SURVEY.md §0), so semantics are
pinned by our committed golden fixtures instead of reference file:line.
"""

from __future__ import annotations

import numpy as np

Ring = np.ndarray  # (N, 2) float64, open (no repeated closing vertex)


def rings_from_flat(xs, ys, nv) -> list[Ring]:
    """Rebuild a ring list from FLAT coordinate arrays: `xs`/`ys` are the
    concatenated vertex coordinates of every ring, `nv` the per-ring vertex
    counts. This is the Arrow-friendly polygon wire format the distributed
    operators ship (array<double> columns convert to numpy in one C pass;
    array<array<struct<x,y>>> would unpack per-POINT through Python dicts)."""
    pts = np.stack(
        [np.asarray(xs, dtype=np.float64), np.asarray(ys, dtype=np.float64)], axis=1
    )
    nv = np.asarray(nv, dtype=np.int64)
    if len(nv) == 1:
        return [pts]
    return np.split(pts, np.cumsum(nv[:-1]))


# ---------------------------------------------------------------------------
# areas / orientation / bbox
# ---------------------------------------------------------------------------

def signed_area(ring: Ring) -> float:
    """Shoelace signed area; positive for CCW rings."""
    x = ring[:, 0]
    y = ring[:, 1]
    return 0.5 * float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def ring_area(ring: Ring) -> float:
    return abs(signed_area(ring))


def polygon_area(rings: list[Ring]) -> float:
    """Outer ring area minus hole areas."""
    if not rings:
        return 0.0
    a = ring_area(rings[0])
    for hole in rings[1:]:
        a -= ring_area(hole)
    return a


def ensure_ccw(ring: Ring) -> Ring:
    return ring if signed_area(ring) >= 0 else ring[::-1]


def ring_bbox(ring: Ring) -> tuple[float, float, float, float]:
    return (
        float(ring[:, 0].min()),
        float(ring[:, 1].min()),
        float(ring[:, 0].max()),
        float(ring[:, 1].max()),
    )


# ---------------------------------------------------------------------------
# point in polygon (vectorized ray casting)
# ---------------------------------------------------------------------------

def point_in_ring(xs: np.ndarray, ys: np.ndarray, ring: Ring) -> np.ndarray:
    """Boolean mask: which of the P points lie inside the ring.

    Vectorized over (P, E) point×edge pairs — one numpy pass, no Python loop
    over rows. Standard even-odd ray cast (ray toward +x). Points exactly on
    an edge may land on either side (float fixtures avoid on-edge points).
    """
    x1 = ring[:, 0]
    y1 = ring[:, 1]
    x2 = np.roll(x1, -1)
    y2 = np.roll(y1, -1)
    px = xs[:, None]
    py = ys[:, None]
    # edge straddles the horizontal line through the point
    cond = (y1[None, :] > py) != (y2[None, :] > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1[None, :] + (py - y1[None, :]) * (x2 - x1)[None, :] / (
            y2 - y1
        )[None, :]
    crossings = cond & (px < xint)
    return (np.count_nonzero(crossings, axis=1) % 2).astype(bool)


def point_in_polygon(xs: np.ndarray, ys: np.ndarray, rings: list[Ring]) -> np.ndarray:
    inside = point_in_ring(xs, ys, rings[0])
    for hole in rings[1:]:
        inside &= ~point_in_ring(xs, ys, hole)
    return inside


# ---------------------------------------------------------------------------
# clipping
# ---------------------------------------------------------------------------

def _clip_convex_small(subject: Ring, clip: Ring) -> Ring:
    """Pure-Python Sutherland–Hodgman for SMALL rings: tiny-array numpy calls
    cost ~2µs each in interpreter overhead, so scalar float arithmetic is
    ~20× faster below a few dozen vertices (the common polygon size)."""
    out = [(float(p[0]), float(p[1])) for p in subject]
    cl = [(float(p[0]), float(p[1])) for p in clip]
    n = len(cl)
    for i in range(n):
        if not out:
            break
        ax, ay = cl[i]
        bx, by = cl[(i + 1) % n]
        ex, ey = bx - ax, by - ay
        res = []
        qx, qy = out[-1]
        q_in = ex * (qy - ay) - ey * (qx - ax) >= 0.0
        for px, py in out:
            p_in = ex * (py - ay) - ey * (px - ax) >= 0.0
            if p_in != q_in:
                denom = ex * (py - qy) - ey * (px - qx)
                t = (ex * (ay - qy) - ey * (ax - qx)) / denom if denom else 0.0
                res.append((qx + t * (px - qx), qy + t * (py - qy)))
            if p_in:
                res.append((px, py))
            qx, qy, q_in = px, py, p_in
        out = res
    return np.asarray(out, dtype=np.float64) if out else np.zeros((0, 2))


def clip_convex(subject: Ring, clip: Ring) -> Ring:
    """Sutherland–Hodgman: clip an arbitrary simple ring against a CONVEX
    CCW clip ring. Returns the clipped ring ((0,2) if empty). The subject may
    be non-convex; the clip window must be convex — non-convex windows are
    handled upstream by triangulation (see intersection_area)."""
    out = np.asarray(subject, dtype=np.float64)
    clip = np.asarray(clip, dtype=np.float64)
    if len(clip) < 3 or abs(signed_area(clip)) < 1e-12:
        return np.zeros((0, 2))
    clip = ensure_ccw(clip)
    if len(out) + len(clip) < 64:
        return _clip_convex_small(out, clip)
    cx = clip[:, 0]
    cy = clip[:, 1]
    nxt = np.arange(1, len(clip) + 1) % len(clip)
    for i in range(len(clip)):
        if len(out) == 0:
            break
        ax, ay = cx[i], cy[i]
        bx, by = cx[nxt[i]], cy[nxt[i]]
        ex, ey = bx - ax, by - ay
        # inside = left of (or on) directed edge a->b for a CCW window
        px = out[:, 0]
        py = out[:, 1]
        side = ex * (py - ay) - ey * (px - ax)
        inside = side >= 0.0
        prev = np.roll(inside, 1)
        if inside.all():
            continue
        # vectorized intersection of every subject edge with the clip line
        qx = np.roll(px, 1)
        qy = np.roll(py, 1)
        denom = ex * (py - qy) - ey * (px - qx)
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (ex * (ay - qy) - ey * (ax - qx)) / denom
            ix = qx + t * (px - qx)
            iy = qy + t * (py - qy)
        verts: list[tuple[float, float]] = []
        for j in range(len(out)):
            if inside[j]:
                if not prev[j]:
                    verts.append((float(ix[j]), float(iy[j])))
                verts.append((float(px[j]), float(py[j])))
            elif prev[j]:
                verts.append((float(ix[j]), float(iy[j])))
        out = np.array(verts, dtype=np.float64) if verts else np.zeros((0, 2))
    return out


def clip_area(subject: Ring, clip: Ring) -> float:
    c = clip_convex(subject, clip)
    return ring_area(c) if len(c) >= 3 else 0.0


def rect_clip_area_batch(x0, y0, w, h, wx0: float, wy0: float, wx1: float, wy1: float):
    """Vectorized axis-rect × axis-window intersection areas: one numpy
    pass over coordinate arrays instead of one Sutherland–Hodgman call per
    row (round 8 — an axis rect clipped by an axis window IS the bbox
    overlap, the same arithmetic the overlay rect fast path uses).
    Per-element equality with clip_area on the equivalent 4-vertex rings is
    test-pinned (test_kernels_geom)."""
    import numpy as np

    x0 = np.asarray(x0, dtype=np.float64)
    y0 = np.asarray(y0, dtype=np.float64)
    ox = np.minimum(x0 + np.asarray(w, dtype=np.float64), wx1) - np.maximum(x0, wx0)
    oy = np.minimum(y0 + np.asarray(h, dtype=np.float64), wy1) - np.maximum(y0, wy0)
    return np.maximum(ox, 0.0) * np.maximum(oy, 0.0)


# ---------------------------------------------------------------------------
# ear-clipping triangulation (for non-convex clip windows)
# ---------------------------------------------------------------------------

def _is_ear(ring: Ring, idx: list[int], i: int) -> bool:
    n = len(idx)
    a = ring[idx[(i - 1) % n]]
    b = ring[idx[i]]
    c = ring[idx[(i + 1) % n]]
    cross = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
    if cross <= 1e-12:  # reflex or degenerate
        return False
    # no other vertex inside triangle abc
    others = [idx[j] for j in range(n) if j not in ((i - 1) % n, i, (i + 1) % n)]
    if not others:
        return True
    pts = ring[others]
    d1 = (b[0] - a[0]) * (pts[:, 1] - a[1]) - (b[1] - a[1]) * (pts[:, 0] - a[0])
    d2 = (c[0] - b[0]) * (pts[:, 1] - b[1]) - (c[1] - b[1]) * (pts[:, 0] - b[0])
    d3 = (a[0] - c[0]) * (pts[:, 1] - c[1]) - (a[1] - c[1]) * (pts[:, 0] - c[0])
    inside = (d1 > -1e-12) & (d2 > -1e-12) & (d3 > -1e-12)
    return not bool(inside.any())


def triangulate(ring: Ring) -> list[Ring]:
    """Ear-clipping triangulation of a simple ring (no holes). Returns CCW
    triangles that exactly partition the ring's interior. O(n²) — rings here
    are tiny (config polygons), never data-scale."""
    ring = ensure_ccw(np.asarray(ring, dtype=np.float64))
    idx = list(range(len(ring)))
    tris: list[Ring] = []
    guard = 0
    while len(idx) > 3 and guard < 10000:
        guard += 1
        found = False
        for i in range(len(idx)):
            if _is_ear(ring, idx, i):
                n = len(idx)
                tris.append(
                    np.array(
                        [ring[idx[(i - 1) % n]], ring[idx[i]], ring[idx[(i + 1) % n]]]
                    )
                )
                idx.pop(i)
                found = True
                break
        if not found:  # numeric fallback: drop the most-convex vertex
            idx.pop(0)
    if len(idx) == 3:
        tris.append(np.array([ring[idx[0]], ring[idx[1]], ring[idx[2]]]))
    return tris


def convex_decompose(rings: list[Ring]) -> list[tuple[Ring, float]]:
    """Polygon (outer + holes) → [(convex piece, sign)] where the signed
    pieces' areas sum to the polygon area. Outer triangles get +1, hole
    triangles −1."""
    pieces = [(t, 1.0) for t in triangulate(rings[0])]
    for hole in rings[1:]:
        pieces.extend((t, -1.0) for t in triangulate(hole))
    return pieces


def is_convex(ring: Ring) -> bool:
    """All cross products share a sign (scalar loop — rings are small)."""
    n = len(ring)
    if n < 4:
        return True
    sign = 0
    for i in range(n):
        ax, ay = ring[i]
        bx, by = ring[(i + 1) % n]
        cx, cy = ring[(i + 2) % n]
        cr = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
        if cr > 1e-12:
            if sign < 0:
                return False
            sign = 1
        elif cr < -1e-12:
            if sign > 0:
                return False
            sign = -1
    return True


def axis_rect_bounds(ring: Ring):
    """(x0, y0, x1, y1) if `ring` is an axis-aligned rectangle, else None.
    Scalar checks only — this runs per pair in the overlay hot loop."""
    if len(ring) != 4:
        return None
    xs = [float(p[0]) for p in ring]
    ys = [float(p[1]) for p in ring]
    for i in range(4):
        j = (i + 1) % 4
        if xs[i] != xs[j] and ys[i] != ys[j]:
            return None  # a slanted edge
    x0, x1 = min(xs), max(xs)
    y0, y1 = min(ys), max(ys)
    if len(set(xs)) != 2 or len(set(ys)) != 2:
        return None  # degenerate
    return x0, y0, x1, y1


def intersection_area(a_rings: list[Ring], b_rings: list[Ring]) -> float:
    """Exact area of A ∩ B for simple polygons with holes, via triangulated
    Sutherland–Hodgman: area = Σ_{tB,σB} σB · (clip(A.outer,tB) − Σ_h clip(A.hole,tB)).
    Triangles of B partition it, so the clipped areas add exactly. Convex B
    without holes skips triangulation (one clip per A ring). Axis-aligned
    rect ∩ rect (bboxes, tiles, crops — the overlay join's dominant case)
    short-circuits to the closed-form overlap product (~20× faster than the
    generic clip; exact same value — both are exact)."""
    if len(a_rings) == 1 and len(b_rings) == 1:
        ra = axis_rect_bounds(a_rings[0])
        if ra is not None:
            rb = axis_rect_bounds(b_rings[0])
            if rb is not None:
                w = min(ra[2], rb[2]) - max(ra[0], rb[0])
                h = min(ra[3], rb[3]) - max(ra[1], rb[1])
                return w * h if (w > 0.0 and h > 0.0) else 0.0
    if len(b_rings) == 1 and is_convex(b_rings[0]):
        piece = clip_area(a_rings[0], b_rings[0])
        for hole in a_rings[1:]:
            piece -= clip_area(hole, b_rings[0])
        return max(piece, 0.0)
    total = 0.0
    for tri, sign in convex_decompose(b_rings):
        piece = clip_area(a_rings[0], tri)
        for hole in a_rings[1:]:
            piece -= clip_area(hole, tri)
        total += sign * piece
    return max(total, 0.0)


# ---------------------------------------------------------------------------
# distances
# ---------------------------------------------------------------------------

def point_segments_dist(xs: np.ndarray, ys: np.ndarray, ring: Ring) -> np.ndarray:
    """(P,) min distance from each point to the ring's boundary segments.
    Vectorized over (P, E)."""
    x1 = ring[:, 0][None, :]
    y1 = ring[:, 1][None, :]
    x2 = np.roll(ring[:, 0], -1)[None, :]
    y2 = np.roll(ring[:, 1], -1)[None, :]
    px = xs[:, None]
    py = ys[:, None]
    dx = x2 - x1
    dy = y2 - y1
    seg2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((px - x1) * dx + (py - y1) * dy) / seg2
    t = np.where(seg2 == 0, 0.0, np.clip(t, 0.0, 1.0))
    cx = x1 + t * dx
    cy = y1 + t * dy
    d2 = (px - cx) ** 2 + (py - cy) ** 2
    return np.sqrt(d2.min(axis=1))


def point_to_polygon_dist(
    xs: np.ndarray, ys: np.ndarray, rings: list[Ring]
) -> np.ndarray:
    """0 for points inside the polygon, else distance to the boundary."""
    d = point_segments_dist(xs, ys, rings[0])
    for hole in rings[1:]:
        # inside a hole → distance to hole boundary
        dh = point_segments_dist(xs, ys, hole)
        in_hole = point_in_ring(xs, ys, hole)
        d = np.where(in_hole, dh, d)
    inside = point_in_polygon(xs, ys, rings)
    return np.where(inside, 0.0, d)


def min_dist_to_polygons(
    xs: np.ndarray, ys: np.ndarray, polys: list[list[Ring]]
) -> np.ndarray:
    d = np.full(len(xs), np.inf)
    for rings in polys:
        d = np.minimum(d, point_to_polygon_dist(xs, ys, rings))
    return d


def zone_of_points(
    xs: np.ndarray,
    ys: np.ndarray,
    polys: list[list[Ring]],
    thresholds: tuple[float, ...] = (100.0, 625.0),
) -> np.ndarray:
    """Lagefaktor zone per point: 0 if dist(point, nearest construction
    polygon) < thresholds[0], 1 if < thresholds[1], else 2 (BASELINE.json:6
    '<100m, <625m, >625m Lagefaktor zones'). Distance 0 (inside) → zone 0."""
    d = min_dist_to_polygons(xs, ys, polys)
    zone = np.full(len(xs), len(thresholds), dtype=np.int32)
    for z in range(len(thresholds) - 1, -1, -1):
        zone = np.where(d < thresholds[z], z, zone)
    return zone


# ---------------------------------------------------------------------------
# distance-band rasterization (buffer bands as rect strips)
# ---------------------------------------------------------------------------

def zone_band_strips(
    polys: list[list[Ring]],
    thresholds: tuple[float, ...] = (100.0, 625.0),
    resolution: float = 4.0,
    window: tuple[float, float, float, float] | None = None,
) -> np.ndarray:
    """Materialize the <thresholds[i] distance bands around construction
    polygons as horizontal rect strips on a raster of `resolution` meters.

    Semantics (engine-defined, pinned by goldens — SURVEY.md §7 hard part 1):
    a raster cell belongs to zone z if its CENTER is within thresholds[z] of
    the nearest polygon. Everything not covered is the outermost zone
    (>625 m) implicitly. Returns (K, 5) array [xmin, ymin, xmax, ymax, zone].

    This replaces explicit offset-polygon construction (arc-joined Minkowski
    buffers self-intersect on non-convex inputs); the rect strips are convex,
    so downstream overlay uses exact Sutherland–Hodgman clipping per strip.

    The raster origin and extent always come from the polygons' bboxes
    (padded by the widest band). `window=(x0, y0, x1, y1)` evaluates only
    the cells within one cell of the window, clamped to the raster. Cell
    centres and strip edges are computed from GLOBAL column/row indices, so
    every evaluated cell has the same zone as in the full raster and each
    windowed strip is a full strip cut at the window's outer cells — a cut
    end lies a cell beyond the window, never inside it.
    """
    bboxes = [ring_bbox(rings[0]) for rings in polys]
    pad = max(thresholds) + 2 * resolution
    xmin = min(b[0] for b in bboxes) - pad
    ymin = min(b[1] for b in bboxes) - pad
    xmax = max(b[2] for b in bboxes) + pad
    ymax = max(b[3] for b in bboxes) + pad
    nx = int(np.ceil((xmax - xmin) / resolution))
    ny = int(np.ceil((ymax - ymin) / resolution))
    c0, c1, r0, r1 = 0, nx, 0, ny
    if window is not None:
        wx0, wy0, wx1, wy1 = window
        c0 = max(c0, int(np.floor((wx0 - xmin) / resolution)) - 1)
        c1 = min(c1, int(np.ceil((wx1 - xmin) / resolution)) + 1)
        r0 = max(r0, int(np.floor((wy0 - ymin) / resolution)) - 1)
        r1 = min(r1, int(np.ceil((wy1 - ymin) / resolution)) + 1)
        if c0 >= c1 or r0 >= r1:
            return np.zeros((0, 5))
    ncols = c1 - c0
    cx = xmin + (np.arange(c0, c1) + 0.5) * resolution
    strips = []
    # row-chunked to bound memory: (chunk*ncols) points per distance pass
    chunk = max(1, int(2_000_000 / ncols))
    dmax = max(thresholds)
    for y0 in range(r0, r1, chunk):
        rows = np.arange(y0, min(y0 + chunk, r1))
        cy = ymin + (rows + 0.5) * resolution
        gx, gy = np.meshgrid(cx, cy)
        fx = gx.ravel()
        fy = gy.ravel()
        # cheap bbox-distance prefilter: cells provably beyond the widest
        # band for EVERY polygon skip the exact segment-distance pass
        near = np.zeros(fx.shape, dtype=bool)
        for bx0, by0, bx1, by1 in bboxes:
            ddx = np.maximum(np.maximum(bx0 - fx, fx - bx1), 0.0)
            ddy = np.maximum(np.maximum(by0 - fy, fy - by1), 0.0)
            near |= (ddx * ddx + ddy * ddy) < dmax * dmax
        d = np.full(fx.shape, np.inf)
        if near.any():
            d[near] = min_dist_to_polygons(fx[near], fy[near], polys)
        d = d.reshape(len(rows), ncols)
        zone = np.full(d.shape, len(thresholds), dtype=np.int32)
        for z in range(len(thresholds) - 1, -1, -1):
            zone = np.where(d < thresholds[z], z, zone)
        for ri, r in enumerate(rows):
            zrow = zone[ri]
            # merge horizontal runs of equal zone (skip outermost zone)
            change = np.flatnonzero(np.diff(zrow)) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [ncols]))
            for s, e in zip(starts, ends):
                z = int(zrow[s])
                if z == len(thresholds):
                    continue
                strips.append(
                    (
                        xmin + (c0 + s) * resolution,
                        ymin + r * resolution,
                        xmin + (c0 + e) * resolution,
                        ymin + (r + 1) * resolution,
                        float(z),
                    )
                )
    if not strips:
        return np.zeros((0, 5))
    return np.asarray(strips, dtype=np.float64)
