"""Minimal S2 cell index, from scratch (NumPy-vectorized).

Closes the north rule's "H3/S2 index" disjunction explicitly: 64-bit S2
cell ids built from the published id layout and Hilbert-curve constants
(s2geometry docs: 3 face bits, 2*level Hilbert position bits, one
trailing marker bit; kIJtoPos / kPosToOrientation lookup tables; the
quadratic ST<->UV transform). No S2 library exists in this environment —
everything below derives from the public spec, mirroring how kernel/geo
derives H3 from the public H3 spec.

Ops: latlng -> cell (any level 0-30), cell -> center latlng, level,
face, parent / descendant-range bit math, child ordering, tokens.
Validation: structural goldens (face-cell ids/tokens from the published
layout), roundtrip + containment + curve-continuity properties
(tests/test_s2.py).
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 30
_FACE_BITS = 3
_POS_BITS = 2 * MAX_LEVEL + 1  # 61

_SWAP = 1
_INVERT = 2
# published Hilbert lookup tables (s2geometry kPosToIJ / kPosToOrientation;
# kIJtoPos is each row's inverse permutation)
_POS_TO_IJ = np.array(
    [[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]], dtype=np.uint64
)
_IJ_TO_POS = np.array(
    [[0, 1, 3, 2], [0, 3, 1, 2], [2, 3, 1, 0], [2, 1, 3, 0]], dtype=np.uint64
)
_POS_TO_ORIENT = np.array([_SWAP, 0, 0, _INVERT | _SWAP], dtype=np.uint64)


def _asu64(a) -> np.ndarray:
    return np.atleast_1d(np.asarray(a)).astype(np.uint64)


# ---------------------------------------------------------------------------
# sphere <-> face/uv/st
# ---------------------------------------------------------------------------


def _latlng_to_xyz(lat: np.ndarray, lng: np.ndarray):
    phi = np.radians(lat)
    lam = np.radians(lng)
    cp = np.cos(phi)
    return cp * np.cos(lam), cp * np.sin(lam), np.sin(phi)


def _xyz_to_face_uv(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    axis = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2))
    comp = np.choose(axis, [x, y, z])
    face = np.where(comp >= 0, axis, axis + 3).astype(np.int64)
    # published face->(u,v) projection table
    u = np.empty_like(x)
    v = np.empty_like(x)
    with np.errstate(divide="ignore", invalid="ignore"):
        for f, (ue, ve) in enumerate(
            [
                (lambda: y / x, lambda: z / x),      # +x
                (lambda: -x / y, lambda: z / y),     # +y
                (lambda: -x / z, lambda: -y / z),    # +z
                (lambda: z / x, lambda: y / x),      # -x
                (lambda: z / y, lambda: -x / y),     # -y
                (lambda: -y / z, lambda: -x / z),    # -z
            ]
        ):
            m = face == f
            if m.any():
                u[m] = ue()[m]
                v[m] = ve()[m]
    return face, u, v


def _face_uv_to_xyz(face, u, v):
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    one = np.ones_like(u)
    # inverse of the projection table (unnormalized direction vectors)
    table = [
        (one, u, v),
        (-u, one, v),
        (-u, -v, one),
        (-one, -v, -u),
        (v, -one, -u),
        (v, u, -one),
    ]
    for f, (xe, ye, ze) in enumerate(table):
        m = face == f
        if m.any():
            x[m], y[m], z[m] = xe[m], ye[m], ze[m]
    n = np.sqrt(x * x + y * y + z * z)
    return x / n, y / n, z / n


def _uv_to_st(u: np.ndarray) -> np.ndarray:
    """Quadratic projection (published S2_QUADRATIC_PROJECTION)."""
    with np.errstate(invalid="ignore"):  # np.where evaluates both branches
        return np.where(
            u >= 0.0,
            0.5 * np.sqrt(1.0 + 3.0 * u),
            1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u),
        )


def _st_to_uv(s: np.ndarray) -> np.ndarray:
    return np.where(
        s >= 0.5,
        (1.0 / 3.0) * (4.0 * s * s - 1.0),
        (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)),
    )


# ---------------------------------------------------------------------------
# Hilbert curve: (face, i, j) <-> cell id
# ---------------------------------------------------------------------------


def _from_face_ij(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """(face, i, j) at level 30 -> level-30 cell id. Vectorized 30-step
    Hilbert walk (2 bits per level via the published lookup tables)."""
    face = face.astype(np.uint64)
    i = i.astype(np.uint64)
    j = j.astype(np.uint64)
    pos = np.zeros(len(face), dtype=np.uint64)
    orient = face & np.uint64(_SWAP)
    for k in range(MAX_LEVEL - 1, -1, -1):
        ib = (i >> np.uint64(k)) & np.uint64(1)
        jb = (j >> np.uint64(k)) & np.uint64(1)
        ij2 = (ib << np.uint64(1)) | jb
        p = _IJ_TO_POS[orient, ij2]
        pos = (pos << np.uint64(2)) | p
        orient = orient ^ _POS_TO_ORIENT[p]
    return (face << np.uint64(_POS_BITS)) | (pos << np.uint64(1)) | np.uint64(1)


def _to_face_ij(cell: np.ndarray):
    """cell id (any level) -> (face, i, j, level) with i/j at the cell's
    own level resolution."""
    cell = _asu64(cell)
    lev = get_level(cell)
    face = (cell >> np.uint64(_POS_BITS)).astype(np.int64)
    i = np.zeros(len(cell), dtype=np.uint64)
    j = np.zeros(len(cell), dtype=np.uint64)
    orient = (face.astype(np.uint64)) & np.uint64(_SWAP)
    maxlev = int(lev.max()) if len(lev) else 0
    for k in range(maxlev):
        active = lev > k
        # the k-th (coarsest-first) position pair always sits at bit
        # 59-2k regardless of the cell's level: 2*(30-lev)+1+2*(lev-1-k)
        p = (cell >> np.uint64(59 - 2 * k)) & np.uint64(3)
        ij2 = _POS_TO_IJ[orient, p]
        ni = (i << np.uint64(1)) | (ij2 >> np.uint64(1))
        nj = (j << np.uint64(1)) | (ij2 & np.uint64(1))
        no = orient ^ _POS_TO_ORIENT[p]
        i = np.where(active, ni, i)
        j = np.where(active, nj, j)
        orient = np.where(active, no, orient)
    return face, i, j, lev


# ---------------------------------------------------------------------------
# public ops
# ---------------------------------------------------------------------------


def latlng_to_cell(lat, lng, level: int) -> np.ndarray:
    """lat/lng degrees -> S2 cell id at `level` (uint64)."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be 0..{MAX_LEVEL}, got {level}")
    lat = np.atleast_1d(np.asarray(lat, dtype=np.float64))
    lng = np.atleast_1d(np.asarray(lng, dtype=np.float64))
    x, y, z = _latlng_to_xyz(lat, lng)
    face, u, v = _xyz_to_face_uv(x, y, z)
    lim = np.uint64((1 << MAX_LEVEL) - 1)
    i = np.clip(
        np.floor(_uv_to_st(u) * (1 << MAX_LEVEL)), 0, float(lim)
    ).astype(np.uint64)
    j = np.clip(
        np.floor(_uv_to_st(v) * (1 << MAX_LEVEL)), 0, float(lim)
    ).astype(np.uint64)
    leaf = _from_face_ij(face, i, j)
    # leaves are level 30 by construction — the public guard's
    # per-element level scan is pure overhead on this hot encode path
    return _parent_bits(leaf, level) if level < MAX_LEVEL else leaf


def cell_to_latlng(cell) -> tuple[np.ndarray, np.ndarray]:
    """S2 cell id -> center lat/lng degrees."""
    face, i, j, lev = _to_face_ij(cell)
    denom = np.power(2.0, lev.astype(np.float64))
    s = (i.astype(np.float64) + 0.5) / denom
    t = (j.astype(np.float64) + 0.5) / denom
    x, y, z = _face_uv_to_xyz(face, _st_to_uv(s), _st_to_uv(t))
    lat = np.degrees(np.arcsin(np.clip(z, -1.0, 1.0)))
    lng = np.degrees(np.arctan2(y, x))
    return lat, lng


def get_level(cell) -> np.ndarray:
    """Level from the trailing marker bit: 30 - tz/2."""
    cell = _asu64(cell)
    lsb = cell & (~cell + np.uint64(1))
    # integer log2 of lsb via float exponent (exact for powers of two)
    tz = np.log2(lsb.astype(np.float64) + (cell == 0)).astype(np.uint64)
    return np.uint64(MAX_LEVEL) - (tz >> np.uint64(1))


def get_face(cell) -> np.ndarray:
    return (_asu64(cell) >> np.uint64(_POS_BITS)).astype(np.int64)


def is_valid_cell(cell) -> np.ndarray:
    cell = _asu64(cell)
    face_ok = (cell >> np.uint64(_POS_BITS)) < np.uint64(6)
    lsb = cell & (~cell + np.uint64(1))
    # the trailing bit must sit on an even bit position (0,2,...,60)
    lsb_ok = (lsb & np.uint64(0x1555555555555555)) != 0
    return face_ok & (cell != 0) & lsb_ok


def cell_to_parent(cell, level: int) -> np.ndarray:
    """Ancestor at `level` — pure bit math (published lsb trick):
    (id & -newlsb... ) == (id & ~(2*newlsb - 1)) | newlsb.

    `level` must be coarser than (or equal to) every cell's own level —
    asking for a FINER "parent" would silently fabricate a valid-looking
    descendant-positioned id, so it raises instead (the reference S2
    ``parent(level)`` contract). The SQL-side ``s2_parent_int`` is raw
    JVM bit math and cannot raise; its docstring documents the same
    precondition."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be 0..{MAX_LEVEL}, got {level}")
    cell = _asu64(cell)
    lev = get_level(cell)
    if (lev < np.uint64(level)).any():
        raise ValueError(
            f"cell_to_parent: level {level} is finer than some input "
            f"cells' own level (min level present: {int(lev.min())})"
        )
    return _parent_bits(cell, level)


def _parent_bits(cell: np.ndarray, level: int) -> np.ndarray:
    """The unchecked ancestor bit math — internal hot-path form
    (callers guarantee level <= every cell's level)."""
    nl = np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))
    return (cell & ~(np.uint64(2) * nl - np.uint64(1))) | nl


def descendant_range(cell) -> tuple[np.ndarray, np.ndarray]:
    """[range_min, range_max] of all leaf descendants — the id-range
    pruning contract (min/max file stats prune by containment, exactly
    like the H3 manifest layer)."""
    cell = _asu64(cell)
    lsb = cell & (~cell + np.uint64(1))
    return cell - (lsb - np.uint64(1)), cell + (lsb - np.uint64(1))


def cell_to_children(cell) -> np.ndarray:
    """The 4 children of each cell, curve-ordered (flat, grouped by
    parent)."""
    cell = _asu64(cell)
    lsb = cell & (~cell + np.uint64(1))
    nl = lsb >> np.uint64(2)
    if (nl == 0).any():
        raise ValueError("cell is already at MAX_LEVEL")
    base = cell - lsb + nl
    out = np.empty(len(cell) * 4, dtype=np.uint64)
    for c in range(4):
        out[c::4] = base + np.uint64(2 * c) * nl
    return out.reshape(len(cell), 4).reshape(-1)


def cell_vertices_latlng(cell) -> tuple[np.ndarray, np.ndarray]:
    """The 4 corner vertices of each cell in degrees — (n,4) lat and
    (n,4) lng arrays, corner order (0,0),(1,0),(0,1),(1,1) in st space."""
    return _vertices_from_fij(*_to_face_ij(cell))


def _vertices_from_fij(
    face: np.ndarray, i: np.ndarray, j: np.ndarray, lev: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """cell_vertices_latlng on already-decoded (face, i, j, level) —
    the BFS coverers decode each frontier once and reuse it here (the
    30-step Hilbert walk dominates covering cost)."""
    denom = np.power(2.0, lev.astype(np.float64))
    lat = np.empty((len(face), 4), dtype=np.float64)
    lng = np.empty((len(face), 4), dtype=np.float64)
    for k, (di, dj) in enumerate(((0, 0), (1, 0), (0, 1), (1, 1))):
        s = (i.astype(np.float64) + di) / denom
        t = (j.astype(np.float64) + dj) / denom
        x, y, z = _face_uv_to_xyz(face, _st_to_uv(s), _st_to_uv(t))
        lat[:, k] = np.degrees(np.arcsin(np.clip(z, -1.0, 1.0)))
        lng[:, k] = np.degrees(np.arctan2(y, x))
    return lat, lng


_POLE_IJ = np.uint64(1 << (MAX_LEVEL - 1))  # (u,v)=(0,0): face center


def _cell_hull(cells: np.ndarray):
    """Conservative lat/lng hull of each cell: (lat_min, lat_max, c_lo,
    span, full). A cell is contained in the union of caps of angular
    radius D around its 4 vertices, where D bounds the cell diagonal at
    its level (published kMaxDiag metric; 180*2^-level deg is a safe
    upper bound incl. the level-0 faces), so the vertex hull expanded by
    D is a TRUE SUPERSET of the cell. Longitude is the circular interval
    [c_lo, c_lo + span]; ``full`` marks cells whose longitude must be
    treated as the whole circle (pole-touching / near-polar / wrapped)."""
    cells = _asu64(cells)
    face, i, j, lev = _to_face_ij(cells)
    vlat, vlng = _vertices_from_fij(face, i, j, lev)
    exp = 180.0 * np.power(2.0, -lev.astype(np.float64))

    lat_min = vlat.min(axis=1) - exp
    lat_max = vlat.max(axis=1) + exp
    # pole-touching cells (face 2 holds the north pole at its center,
    # face 5 the south): latitude extremum is the pole itself and the
    # longitude span is the full circle
    shift = np.uint64(MAX_LEVEL) - lev
    i_lo, i_hi = i << shift, (i + np.uint64(1)) << shift
    j_lo, j_hi = j << shift, (j + np.uint64(1)) << shift
    touches_ctr = (
        (i_lo <= _POLE_IJ) & (_POLE_IJ <= i_hi)
        & (j_lo <= _POLE_IJ) & (_POLE_IJ <= j_hi)
    )
    pole_n = (face == 2) & touches_ctr
    pole_s = (face == 5) & touches_ctr
    lat_max = np.where(pole_n, 90.0, lat_max)
    lat_min = np.where(pole_s, -90.0, lat_min)

    # longitude interval of the vertex hull, on the circle: deltas
    # relative to vertex 0, then expand by D / cos(extreme lat). The
    # expansion factor is only sound below the clamp latitude, so any
    # cell whose expanded lat interval reaches past it is treated as
    # full-circle in longitude — that keeps the never-false-negative
    # guarantee DERIVED (not asserted) all the way to the poles, at
    # negligible covering growth (only near-polar cells widen).
    ref = vlng[:, 0]
    d = np.mod(vlng - ref[:, None] + 180.0, 360.0) - 180.0
    extreme = np.maximum(np.abs(lat_min), np.abs(lat_max))
    near_pole = extreme >= 89.9
    exp_lng = exp / np.cos(np.radians(np.minimum(extreme, 89.9)))
    c_lo = ref + d.min(axis=1) - exp_lng
    span = d.max(axis=1) - d.min(axis=1) + 2.0 * exp_lng
    full = pole_n | pole_s | near_pole | (span >= 360.0)
    return lat_min, lat_max, c_lo, span, full


def _may_intersect_rect(
    cells: np.ndarray, lat_lo, lat_hi, lng_lo, lng_hi
) -> np.ndarray:
    """Conservative (never-false-negative) cell-vs-latlng-rect test:
    a rect disjoint from the cell's expanded vertex hull (`_cell_hull`,
    a true superset) is disjoint from the cell. Over-approximation only
    widens coverings; exactness comes from the caller's residual
    bbox filter."""
    lat_min, lat_max, c_lo, span, full = _cell_hull(cells)
    lat_ok = (lat_min <= lat_hi) & (lat_max >= lat_lo)
    # circular interval overlap: [0, span] vs [off, off + rect_w]
    off = np.mod(lng_lo - c_lo, 360.0)
    rect_w = lng_hi - lng_lo
    lng_ok = full | (off <= span) | (off + rect_w >= 360.0)
    return lat_ok & lng_ok


def rect_covering(
    lat_lo: float, lat_hi: float, lng_lo: float, lng_hi: float, level: int
) -> np.ndarray:
    """All cells at `level` that may intersect the lat/lng rect — a
    guaranteed superset of the cells actually intersecting it (the
    S2RegionCoverer contract for a fixed level, built as a BFS subdivide
    from the 6 face cells with the conservative hull test above).

    A rect crossing the antimeridian (lng_lo > lng_hi) splits into two
    non-wrapping coverings. Fixed-level output joins as a hash equi-join
    on `s2_parent_int` (the 100 TB shape); `merge_ranges` turns it into
    leaf id ranges for min/max manifest pruning."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be 0..{MAX_LEVEL}, got {level}")
    if not (-90.0 <= lat_lo <= lat_hi <= 90.0):
        raise ValueError("latitudes must satisfy -90 <= lo <= hi <= 90")
    if lng_lo > lng_hi:  # antimeridian wrap: split
        a = rect_covering(lat_lo, lat_hi, lng_lo, 180.0, level)
        b = rect_covering(lat_lo, lat_hi, -180.0, lng_hi, level)
        return np.unique(np.concatenate([a, b]))
    frontier = np.array(
        [(2 * f + 1) << 60 for f in range(6)], dtype=np.uint64
    )
    for _ in range(level):
        keep = frontier[
            _may_intersect_rect(frontier, lat_lo, lat_hi, lng_lo, lng_hi)
        ]
        frontier = cell_to_children(keep)
    return np.sort(
        frontier[_may_intersect_rect(frontier, lat_lo, lat_hi, lng_lo, lng_hi)]
    )


EARTH_RADIUS_KM = 6371.007180918475  # same authalic radius as joins.py


def _may_intersect_cap(
    cells: np.ndarray, clat: float, clng: float, radius_rad: float
) -> np.ndarray:
    """Conservative (never-false-negative) cell-vs-spherical-cap test:
    a cell lies inside the union of caps of angular radius D (the
    level's diagonal bound) around its 4 vertices, so
    min vertex-to-center distance <= cap radius + D is a true superset
    condition for intersection."""
    cells = _asu64(cells)
    lev = get_level(cells)
    vlat, vlng = cell_vertices_latlng(cells)
    d = np.radians(180.0) * np.power(2.0, -lev.astype(np.float64))
    # haversine angular distance vertex -> cap center
    dphi = np.radians(vlat - clat)
    dlmb = np.radians(vlng - clng)
    a = (
        np.sin(dphi / 2.0) ** 2
        + np.cos(np.radians(clat))
        * np.cos(np.radians(vlat))
        * np.sin(dlmb / 2.0) ** 2
    )
    ang = 2.0 * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))
    return ang.min(axis=1) <= radius_rad + d


def cap_covering(
    lat: float, lng: float, radius_km: float, level: int
) -> np.ndarray:
    """All cells at `level` that may intersect the spherical cap of
    `radius_km` around (lat, lng) — a guaranteed superset (same BFS
    subdivide + conservative-test contract as `rect_covering`; feeds the
    same `merge_ranges` -> manifest pruning path and `s2_parent_int`
    covering joins)."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be 0..{MAX_LEVEL}, got {level}")
    if radius_km <= 0:
        raise ValueError(f"radius_km must be positive, got {radius_km}")
    radius_rad = radius_km / EARTH_RADIUS_KM
    frontier = np.array(
        [(2 * f + 1) << 60 for f in range(6)], dtype=np.uint64
    )
    for _ in range(level):
        keep = frontier[_may_intersect_cap(frontier, lat, lng, radius_rad)]
        frontier = cell_to_children(keep)
    return np.sort(
        frontier[_may_intersect_cap(frontier, lat, lng, radius_rad)]
    )


def _point_in_ring(
    x: np.ndarray, y: np.ndarray, px: np.ndarray, py: np.ndarray
) -> np.ndarray:
    """Vectorized planar crossing-number test: (n,) points vs one closed
    ring (px[0] == px[-1]). Planar-in-lat/lng semantics — identical to a
    SQL ray-cast oracle on the same coordinates."""
    x1, y1 = px[:-1], py[:-1]
    x2, y2 = px[1:], py[1:]
    cond = (y1[None, :] > y[:, None]) != (y2[None, :] > y[:, None])
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1[None, :] + (y[:, None] - y1[None, :]) * (x2 - x1)[
            None, :
        ] / (y2 - y1)[None, :]
    crossings = (cond & (xint > x[:, None])).sum(axis=1)
    return (crossings % 2) == 1


def _edge_hits_rect(
    xlo: np.ndarray,
    xhi: np.ndarray,
    ylo: np.ndarray,
    yhi: np.ndarray,
    px: np.ndarray,
    py: np.ndarray,
) -> np.ndarray:
    """Which per-cell rects are touched by ANY edge of the closed ring —
    exact separating-axis test (segment and AABB are both convex, so
    the only candidate axes are the rect axes [bbox overlap] and the
    segment normal [corner side signs]). Shared by the intersection
    test and the interior-containment test so the SAT machinery exists
    exactly once."""
    x1, y1 = px[:-1], py[:-1]
    x2, y2 = px[1:], py[1:]
    bbox = (
        (np.maximum(x1, x2)[None, :] >= xlo[:, None])
        & (np.minimum(x1, x2)[None, :] <= xhi[:, None])
        & (np.maximum(y1, y2)[None, :] >= ylo[:, None])
        & (np.minimum(y1, y2)[None, :] <= yhi[:, None])
    )
    dx, dy = (x2 - x1)[None, :], (y2 - y1)[None, :]

    def side(cx, cy):
        return dx * (cy - y1[None, :]) - dy * (cx - x1[None, :])

    s1 = side(xlo[:, None], ylo[:, None])
    s2 = side(xhi[:, None], ylo[:, None])
    s3 = side(xlo[:, None], yhi[:, None])
    s4 = side(xhi[:, None], yhi[:, None])
    one_side = ((s1 > 0) & (s2 > 0) & (s3 > 0) & (s4 > 0)) | (
        (s1 < 0) & (s2 < 0) & (s3 < 0) & (s4 < 0)
    )
    return (bbox & ~one_side).any(axis=1)


def _rect_poly_intersect(
    xlo: np.ndarray,
    xhi: np.ndarray,
    ylo: np.ndarray,
    yhi: np.ndarray,
    px: np.ndarray,
    py: np.ndarray,
) -> np.ndarray:
    """Exact planar rect-vs-polygon intersection, vectorized over (n,)
    per-cell rects against one closed ring. Three exhaustive cases:
    a ring vertex inside the rect, a ring edge crossing the rect, or
    the rect fully inside the ring (center-point ray cast)."""
    vin = (
        (px[None, :] >= xlo[:, None])
        & (px[None, :] <= xhi[:, None])
        & (py[None, :] >= ylo[:, None])
        & (py[None, :] <= yhi[:, None])
    ).any(axis=1)
    edge_hit = _edge_hits_rect(xlo, xhi, ylo, yhi, px, py)
    cin = _point_in_ring((xlo + xhi) / 2.0, (ylo + yhi) / 2.0, px, py)
    return vin | edge_hit | cin


def _may_intersect_poly(
    cells: np.ndarray, plat: np.ndarray, plng: np.ndarray
) -> np.ndarray:
    """Conservative (never-false-negative) cell-vs-polygon test: the
    cell's expanded lat/lng hull rect (`_cell_hull`, a true superset of
    the cell) against the closed ring, at longitude offsets -360/0/+360
    so cells whose circular hull wraps the antimeridian still see the
    ring. ``full``-longitude cells degrade to a latitude-band test."""
    lat_min, lat_max, c_lo, span, full = _cell_hull(cells)
    hit = full & (lat_min <= plat.max()) & (lat_max >= plat.min())
    nf = ~full
    if nf.any():
        sub = np.flatnonzero(nf)
        got = np.zeros(len(sub), dtype=bool)
        for off in (-360.0, 0.0, 360.0):
            got |= _rect_poly_intersect(
                c_lo[sub],
                c_lo[sub] + span[sub],
                lat_min[sub],
                lat_max[sub],
                plng + off,
                plat,
            )
        hit[sub] = got
    return hit


def _parse_ring(ring) -> tuple[np.ndarray, np.ndarray]:
    """Validate + close a (lat, lng) vertex sequence ONCE — shared by
    the covering and its classified variant (a single materialization
    also keeps generator inputs safe)."""
    pts = list(ring)
    if len(pts) < 3:
        raise ValueError("polygon ring needs at least 3 vertices")
    plat = np.asarray([p[0] for p in pts], dtype=np.float64)
    plng = np.asarray([p[1] for p in pts], dtype=np.float64)
    if not (np.abs(plat) <= 90.0).all():
        raise ValueError("latitudes must be within [-90, 90]")
    if plat[0] != plat[-1] or plng[0] != plng[-1]:
        plat = np.append(plat, plat[0])
        plng = np.append(plng, plng[0])
    return plat, plng


def _polygon_covering_parsed(
    plat: np.ndarray, plng: np.ndarray, level: int, holes=()
) -> np.ndarray:
    """BFS-subdivide covering of the shell ring. ``holes`` prunes
    DURING the descent: a frontier cell whose expanded hull lies fully
    inside a hole contains no region point (the hull contains the cell;
    holes are non-nested), so neither it nor any descendant can enter
    the cover — without this, a large hole costs O(hole area) frontier
    work at fine levels instead of O(hole perimeter). Final-level hole
    handling (drop + boundary demotion) stays with the callers."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be 0..{MAX_LEVEL}, got {level}")
    frontier = np.array(
        [(2 * f + 1) << 60 for f in range(6)], dtype=np.uint64
    )
    for _ in range(level):
        keep = frontier[_may_intersect_poly(frontier, plat, plng)]
        if holes and len(keep):
            fully, _ = _hull_vs_holes(keep, holes)
            keep = keep[~fully]
        frontier = cell_to_children(keep)
    return np.sort(frontier[_may_intersect_poly(frontier, plat, plng)])


def _parse_region(rings) -> list[tuple[np.ndarray, np.ndarray]]:
    """Accept a bare ring (sequence of (lat, lng) points) OR a ring list
    ``[shell, hole1, ...]``; return [(plat, plng), ...] with the shell
    first. A bare ring materializes as an (n, 2) float array; anything
    else (ragged or 3-d) is a ring list.

    Ring lists follow the GeoJSON/shapely polygon contract: rings after
    the shell are holes INSIDE the shell, pairwise disjoint, not
    nested. Nesting (an island inside a hole) must be a separate
    MultiPolygon part — under nesting, 'fully inside a hole' would no
    longer prove a cell outside the region, so the covering's drop rule
    would break. Nested holes are rejected (first-vertex containment
    check — full nesting always puts every vertex inside, so this
    catches it; partially overlapping holes are invalid input and only
    best-effort detected)."""
    items = list(rings)
    if not items:
        raise ValueError("polygon needs at least one ring")
    is_bare = False
    try:
        arr = np.asarray(items, dtype=np.float64)
        is_bare = arr.ndim == 2 and arr.shape[1] == 2
    except (ValueError, TypeError):
        pass
    if is_bare:
        return [_parse_ring(items)]
    parsed = [_parse_ring(r) for r in items]
    holes = parsed[1:]
    for i, (alat, alng) in enumerate(holes):
        for j, (blat, blng) in enumerate(holes):
            if i == j:
                continue
            inside = False
            for off in (-360.0, 0.0, 360.0):
                inside |= bool(
                    _point_in_ring(
                        np.array([blng[0]]),
                        np.array([blat[0]]),
                        alng + off,
                        alat,
                    )[0]
                )
            if inside:
                raise ValueError(
                    f"nested rings: hole {j + 1}'s vertex lies inside "
                    f"hole {i + 1} — holes must be pairwise disjoint "
                    "(GeoJSON polygon contract); express "
                    "islands-in-holes as separate MultiPolygon parts"
                )
    return parsed


def _hull_vs_holes(
    cov: np.ndarray, holes, hull=None
) -> tuple[np.ndarray, np.ndarray]:
    """(fully_in_hole, touches_hole) masks of the cover cells' expanded
    hulls vs every hole ring, at the same ±360 longitude offsets the
    shell tests use. ``fully_in_hole`` is exact-on-a-superset: the hull
    contains the cell, so a hull inside a hole proves the CELL is inside
    it (droppable from the cover — sound because holes are non-nested
    per the _parse_region contract); ``touches_hole`` is conservative
    the other way (any contact demotes interior to boundary).
    Full-longitude (near-pole) hulls are never droppable and always
    count as touching if any hole exists — conservative on both sides.
    ``hull`` passes a precomputed ``_cell_hull(cov)`` tuple."""
    n = len(cov)
    fully = np.zeros(n, dtype=bool)
    touch = np.zeros(n, dtype=bool)
    if not holes or n == 0:
        return fully, touch
    lat_min, lat_max, c_lo, span, full = (
        hull if hull is not None else _cell_hull(cov)
    )
    touch[full] = True
    nf = np.flatnonzero(~full)
    for hlat, hlng in holes:
        f_h = np.zeros(len(nf), dtype=bool)
        t_h = np.zeros(len(nf), dtype=bool)
        for off in (-360.0, 0.0, 360.0):
            args = (
                c_lo[nf],
                c_lo[nf] + span[nf],
                lat_min[nf],
                lat_max[nf],
                hlng + off,
                hlat,
            )
            f_h |= _rect_inside_poly(*args)
            t_h |= _rect_poly_intersect(*args)
        fully[nf] |= f_h
        touch[nf] |= t_h
    return fully, touch


def polygon_covering(rings, level: int) -> np.ndarray:
    """All cells at `level` that may intersect the polygon ``rings`` —
    either a bare outer ring (sequence of (lat, lng) vertices, closed or
    open) or a ring list ``[shell, hole1, ...]`` (holes subtract;
    GeoJSON contract — holes inside the shell, pairwise disjoint,
    non-nested, enforced by ``_parse_region``; islands-in-holes are
    MultiPolygon parts) — a guaranteed superset of the cells
    intersecting the region, with the same fixed-level BFS-subdivide contract as
    ``rect_covering`` / ``cap_covering``. The polygon boundary is
    interpreted PLANARLY in lat/lng space (straight edges), matching a
    SQL ray-cast residual on the same coordinates — the covering
    prunes, the residual filter is what decides membership. Cells
    PROVEN fully inside a hole (exact planar test on the conservative
    hull, which contains the cell) cannot touch the region and are
    dropped; any other hole contact keeps the cell — still a superset.
    Antimeridian-crossing rings may be given in continuous longitude
    (e.g. 170..190).

    This closes the H3<->S2 asymmetry: the S2 analog of polyfill's
    candidate generation (reference h3pandas/util/shapely.py:12-34,
    hole case tests/util/test_shapely.py:50-53), feeding the same
    `s2_parent_int` covering joins and `merge_ranges` manifest pruning
    as the rect/cap coverers."""
    parsed = _parse_region(rings)
    plat, plng = parsed[0]
    cov = _polygon_covering_parsed(plat, plng, level, holes=parsed[1:])
    fully, _ = _hull_vs_holes(cov, parsed[1:])
    return cov[~fully]


def rect_covering_classified(
    lat_lo: float, lat_hi: float, lng_lo: float, lng_hi: float, level: int
) -> tuple[np.ndarray, np.ndarray]:
    """``rect_covering`` plus an interior mask: True for cells PROVEN
    fully inside the rect (their conservative hull — a superset of the
    cell — is contained in it). Callers skip the exact residual filter
    on interior cells; only boundary cells pay it. At scale the interior
    dominates a region's area, so the residual cost shrinks from
    O(all rows in region) to O(rows in boundary cells).

    Wrap rects (lng_lo > lng_hi) return an all-False mask (conservative:
    everything treated as boundary)."""
    cov = rect_covering(lat_lo, lat_hi, lng_lo, lng_hi, level)
    if lng_lo > lng_hi:
        return cov, np.zeros(len(cov), dtype=bool)
    lat_min, lat_max, c_lo, span, full = _cell_hull(cov)
    inside_lat = (lat_min >= lat_lo) & (lat_max <= lat_hi)
    off = np.mod(c_lo - lng_lo, 360.0)
    inside_lng = (~full) & (off + span <= (lng_hi - lng_lo))
    return cov, inside_lat & inside_lng


def _rect_inside_poly(
    xlo: np.ndarray,
    xhi: np.ndarray,
    ylo: np.ndarray,
    yhi: np.ndarray,
    px: np.ndarray,
    py: np.ndarray,
) -> np.ndarray:
    """Vectorized exact planar test: per-cell rect FULLY inside the
    closed ring — one corner inside AND no ring edge touches the rect
    (shared `_edge_hits_rect` SAT)."""
    corner_in = _point_in_ring(xlo, ylo, px, py)
    return corner_in & ~_edge_hits_rect(xlo, xhi, ylo, yhi, px, py)


def polygon_covering_classified(
    rings, level: int
) -> tuple[np.ndarray, np.ndarray]:
    """``polygon_covering`` plus an interior mask (cell's conservative
    hull proven fully inside the planar shell at some ±360 longitude
    offset AND disjoint from every hole) — same skip-the-residual
    contract as ``rect_covering_classified``. With holes: a cell fully
    inside a hole is dropped from the cover (it cannot touch the
    region); a cell its hull shows touching a hole at all is demoted to
    boundary (the residual ray cast, which ray-casts shell and holes
    together even-odd, decides its points)."""
    parsed = _parse_region(rings)
    plat, plng = parsed[0]
    cov = _polygon_covering_parsed(plat, plng, level, holes=parsed[1:])
    lat_min, lat_max, c_lo, span, full = _cell_hull(cov)
    interior = np.zeros(len(cov), dtype=bool)
    nf = np.flatnonzero(~full)
    for off in (-360.0, 0.0, 360.0):
        interior[nf] |= _rect_inside_poly(
            c_lo[nf],
            c_lo[nf] + span[nf],
            lat_min[nf],
            lat_max[nf],
            plng + off,
            plat,
        )
    fully, touch = _hull_vs_holes(
        cov, parsed[1:], hull=(lat_min, lat_max, c_lo, span, full)
    )
    interior &= ~touch
    keep = ~fully
    return cov[keep], interior[keep]


def merge_ranges(cells) -> tuple[np.ndarray, np.ndarray]:
    """Covering cells -> minimal sorted disjoint [leaf_min, leaf_max]
    id ranges (adjacent/overlapping ranges coalesced) — the containment
    intervals a manifest layer prunes files against."""
    cells = _asu64(cells)
    if len(cells) == 0:
        return cells.copy(), cells.copy()
    lo, hi = descendant_range(cells)
    order = np.argsort(lo)
    lo, hi = lo[order], hi[order]
    run = np.maximum.accumulate(hi)  # running max handles nested ranges
    # a new range starts where the running max + 2 < this min (leaf ids
    # step by 2: the trailing marker bit keeps them odd)
    starts = np.concatenate([[True], lo[1:] > run[:-1] + np.uint64(2)])
    idx = np.flatnonzero(starts)
    return lo[idx], np.maximum.reduceat(run, idx)


def cell_to_token(cell) -> np.ndarray:
    """Canonical token: 16-digit hex with trailing zeros stripped."""
    cell = _asu64(cell)
    return np.array(
        [format(int(c), "016x").rstrip("0") or "X" for c in cell], dtype=object
    )


def token_to_cell(tok) -> np.ndarray:
    toks = np.atleast_1d(np.asarray(tok, dtype=object))
    return np.array(
        [0 if t in ("", "X") else int(str(t).ljust(16, "0"), 16) for t in toks],
        dtype=np.uint64,
    )
