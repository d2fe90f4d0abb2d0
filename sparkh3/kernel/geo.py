"""Core H3 conversions: latlng_to_cell, cell_to_latlng, cell_to_boundary,
cell_area — vectorized NumPy implementations of the public H3 spec
algorithms (faceijk pipeline), validated against the reference golden
suite (/root/reference/tests/test_h3pandas.py:118-179,205-211,443-448).
"""

from __future__ import annotations

import numpy as np

from . import ijk as IJK
from . import index as ix
from . import proj
from .constants import (
    BASE_CELL_DATA,
    EARTH_RADIUS_KM,
    FACE_NEIGHBORS,
    IJ_QUADRANT,
    JK_QUADRANT,
    KI_QUADRANT,
    MAX_DIM_BY_CII_RES,
    UNIT_SCALE_BY_CII_RES,
)

_NO_OVERAGE = 0
_FACE_EDGE = 1
_NEW_FACE = 2

# cell boundary vertex offsets in the substrate grid (public spec):
# Class II (aperture 33r) and Class III (aperture 33r7r)
_VERTS_CII = np.array(
    [[2, 1, 0], [1, 2, 0], [0, 2, 1], [0, 1, 2], [1, 0, 2], [2, 0, 1]], dtype=np.int64
)
_VERTS_CIII = np.array(
    [[5, 4, 0], [1, 5, 0], [0, 5, 4], [0, 1, 5], [4, 0, 5], [5, 0, 1]], dtype=np.int64
)


def _adjust_overage_class2(face, ijk, res_arr, pent4, substrate, active):
    """Vectorized _adjustOverageClassII. Returns (overage, face, ijk)."""
    mult = 3 if substrate else 1
    max_dim = MAX_DIM_BY_CII_RES[res_arr] * mult
    s = ijk.sum(axis=-1)
    ov = np.where(s > max_dim, _NEW_FACE, np.where(s == max_dim, _FACE_EDGE, _NO_OVERAGE))
    ov = np.where(active, ov, _NO_OVERAGE)
    m = active & (s > max_dim)
    if not np.any(m):
        return ov, face, ijk
    k_pos = ijk[..., 2] > 0
    j_pos = ijk[..., 1] > 0
    quad = np.where(k_pos & j_pos, JK_QUADRANT, np.where(k_pos, KI_QUADRANT, IJ_QUADRANT))
    # pentagon "leading digit 4" adjustment in the KI quadrant
    fix = m & np.asarray(pent4, dtype=bool) & k_pos & ~j_pos
    if np.any(fix):
        origin = np.zeros_like(ijk)
        origin[..., 0] = max_dim
        t = IJK.rotate60cw(ijk - origin) + origin
        ijk = np.where(fix[..., None], t, ijk)
    orient = FACE_NEIGHBORS[face, quad]  # (..., 5)
    nface = orient[..., 0]
    rot = orient[..., 4]
    trans = orient[..., 1:4]
    out = ijk
    for n in range(1, 6):
        rmask = m & (rot >= n)
        if not np.any(rmask):
            break
        out = np.where(rmask[..., None], IJK.rotate60ccw(out), out)
    unit = (UNIT_SCALE_BY_CII_RES[res_arr] * mult)[..., None]
    out = IJK.normalize(out + trans * unit)
    ijk = np.where(m[..., None], out, ijk)
    face = np.where(m, nface, face)
    if substrate:
        s2 = ijk.sum(axis=-1)
        ov = np.where(m & (s2 == max_dim), _FACE_EDGE, ov)
    return ov, face, ijk


def cell_to_faceijk(h: np.ndarray):
    """H3 cells -> (face, ijk at cell res, res). Vectorized."""
    h = np.atleast_1d(np.asarray(h, dtype=np.uint64))
    res = ix.get_resolution(h)
    bc = ix.get_base_cell(h)
    pent = ix.is_pentagon_base(bc)
    h2 = h
    if np.any(pent):
        plead = ix.leading_non_zero_digit(h[pent])
        rot_idx = np.where(pent)[0][plead == ix.IK_AXES_DIGIT]
        if len(rot_idx):
            h2 = h.copy()
            h2[rot_idx] = ix.rotate60cw(h2[rot_idx])
    face = BASE_CELL_DATA[bc, 0].copy()
    ijk = BASE_CELL_DATA[bc, 1:4].copy()
    possible_overage = ~(
        (~pent) & ((res == 0) | np.all(ijk == 0, axis=-1))
    )
    max_res = int(res.max()) if res.size else 0
    for r in range(1, max_res + 1):
        act = r <= res
        if r % 2:  # Class III
            nxt = IJK.down_ap7(ijk)
        else:
            nxt = IJK.down_ap7r(ijk)
        nxt = IJK.neighbor(nxt, ix.get_digit(h2, r))
        ijk = np.where(act[..., None], nxt, ijk)

    if not np.any(possible_overage):
        return face, ijk, res

    orig = ijk.copy()
    cls3 = (res % 2) == 1
    sub_m = possible_overage & cls3
    ijk = np.where(sub_m[..., None], IJK.down_ap7r(ijk), ijk)
    adj_res = res + sub_m.astype(np.int64)
    pent4 = np.zeros(h.shape, dtype=bool)
    if np.any(pent):
        pent4[pent] = ix.leading_non_zero_digit(h2[pent]) == ix.I_AXES_DIGIT
    ov, face, ijk = _adjust_overage_class2(
        face, ijk, adj_res, pent4, substrate=False, active=possible_overage
    )
    first_ov = ov != _NO_OVERAGE
    # pentagon base cells may need multiple adjustments
    loop = pent & possible_overage & (ov == _NEW_FACE)
    guard = 0
    while np.any(loop) and guard < 8:
        ov2, face, ijk = _adjust_overage_class2(
            face, ijk, adj_res, np.zeros_like(pent4), substrate=False, active=loop
        )
        loop = loop & (ov2 == _NEW_FACE)
        guard += 1
    need_up = sub_m & first_ov
    ijk = np.where(need_up[..., None], IJK.up_ap7r(ijk), ijk)
    restore = sub_m & ~first_ov
    ijk = np.where(restore[..., None], orig, ijk)
    return face, ijk, res


def _cells_to_latlng_uniform(h: np.ndarray, res: int):
    face, ijk, _ = cell_to_faceijk(h)
    pt = IJK.ijk_to_hex2d(ijk)
    return proj.hex2d_to_geo(pt, face, res=res, substrate=False)


def cell_to_latlng(h) -> tuple[np.ndarray, np.ndarray]:
    """Cell centers in degrees (lat, lng). Mixed resolutions supported."""
    h = np.atleast_1d(np.asarray(h, dtype=np.uint64))
    res = ix.get_resolution(h)
    lat = np.empty(h.shape, dtype=np.float64)
    lng = np.empty(h.shape, dtype=np.float64)
    for r in np.unique(res):
        m = res == r
        la, lo = _cells_to_latlng_uniform(h[m], int(r))
        lat[m] = la
        lng[m] = lo
    return np.degrees(lat), np.degrees(lng)


def _latlng_to_cell_impl(lat, lng, res: int, tables, debug=False):
    """Radians in. `tables` = (bc_table, rot_table, pent_cw).
    Returns cells (and optionally (bc, face, lead))."""
    lat = np.atleast_1d(np.asarray(lat, dtype=np.float64))
    lng = np.atleast_1d(np.asarray(lng, dtype=np.float64))
    face, r_ang = proj.nearest_face(lat, lng)
    pt = proj.geo_to_hex2d_on_face(lat, lng, face, res, r_ang=r_ang)
    return faceijk_to_cell(face, IJK.hex2d_to_ijk(pt), res, tables, debug)


def faceijk_to_cell(face, ijk, res: int, tables=None, debug=False):
    """Lattice coords `ijk` (N, 3) at `res` in `face`'s frame -> cells:
    the digit ladder up to res 0, the base-cell lookup and the
    canonical-orientation rotations (public spec _faceIjkToH3). `tables`
    defaults to the cached (bc_table, rot_table, pent_cw); `debug` also
    returns (bc, face, leading digit)."""
    if tables is None:
        from .tables import face_ijk_tables

        tables = face_ijk_tables()
    bc_table, rot_table, pent_cw = tables
    face = np.asarray(face, dtype=np.int64)
    n = ijk.shape[0]
    digits = np.full((n, 15), ix.INVALID_DIGIT, dtype=np.int64)
    cur = ijk
    for r in range(res, 0, -1):
        last = cur
        if r % 2:  # Class III
            cur = IJK.up_ap7(last)
            center = IJK.down_ap7(cur)
        else:
            cur = IJK.up_ap7r(last)
            center = IJK.down_ap7r(cur)
        digits[:, r - 1] = IJK.unit_ijk_to_digit(IJK.normalize(last - center))

    i0 = np.clip(cur[:, 0], 0, 2)
    j0 = np.clip(cur[:, 1], 0, 2)
    k0 = np.clip(cur[:, 2], 0, 2)
    oob = (cur[:, 0] > 2) | (cur[:, 1] > 2) | (cur[:, 2] > 2)
    bc = bc_table[face, i0, j0, k0]
    rots = rot_table[face, i0, j0, k0]
    if np.any(oob) or np.any(bc < 0):
        bad = np.where(oob | (bc < 0))[0][:5]
        raise AssertionError(
            f"res-0 lattice lookup out of range for rows {bad}: "
            f"ijk={cur[bad]}, face={face[bad]}"
        )

    h = ix.build_cell(bc, res, digits)
    lead_dbg = ix.leading_non_zero_digit(h) if debug else None
    pent = ix.is_pentagon_base(bc)
    if np.any(pent):
        lead = ix.leading_non_zero_digit(h[pent])
        fix_idx = np.where(pent)[0][lead == ix.K_AXES_DIGIT]
        if len(fix_idx):
            cw = pent_cw[bc[fix_idx], face[fix_idx]]
            if np.any(cw):
                h[fix_idx[cw]] = ix.rotate60cw(h[fix_idx[cw]])
            if np.any(~cw):
                h[fix_idx[~cw]] = ix.rotate60ccw(h[fix_idx[~cw]])
        for nrot in range(1, 6):
            m = pent & (rots == nrot)
            if np.any(m):
                hh = h[m]
                for _ in range(nrot):
                    hh = ix.rotate_pent60ccw(hh)
                h[m] = hh
    # hexagons: apply `rots` ccw rotations, grouped by rotation count
    hexm = ~pent
    for nrot in range(1, 6):
        m = hexm & (rots == nrot)
        if np.any(m):
            hh = h[m]
            for _ in range(nrot):
                hh = ix.rotate60ccw(hh)
            h[m] = hh
    if debug:
        return h, bc, face, lead_dbg
    return h


def latlng_to_cell(lat, lng, res: int) -> np.ndarray:
    """(degrees lat, degrees lng) -> H3 cell at `res`. Vectorized.

    Goldens: reference tests/test_h3pandas.py:118-121 and the docstring
    ladder (res 1/8/9/10 for (50,14) and (51,15)).
    """
    from .tables import face_ijk_tables

    lat = np.radians(np.atleast_1d(np.asarray(lat, dtype=np.float64)))
    lng = np.radians(np.atleast_1d(np.asarray(lng, dtype=np.float64)))
    return _latlng_to_cell_impl(lat, lng, res, face_ijk_tables())


# ---------------------------------------------------------------------------
# boundary + area
# ---------------------------------------------------------------------------


def _boundary_verts_detail(hh: np.ndarray, res: int):
    """Boundary vertex detail for uniform-res cells: (verts (N,6,2) rad,
    vertex faces (N,6), pre-overage substrate ijk (N,6,3), center face
    (N,), adj_res)."""
    face, ijk, _ = cell_to_faceijk(hh)
    pent = ix.is_pentagon(hh)
    # center -> substrate grid
    center = IJK.down_ap3r(IJK.down_ap3(ijk))
    adj_res = res
    if res % 2:
        center = IJK.down_ap7r(center)
        adj_res = res + 1
    verts = _VERTS_CIII if res % 2 else _VERTS_CII
    n = len(hh)
    out = np.empty((n, 6, 2), dtype=np.float64)
    vfaces = np.empty((n, 6), dtype=np.int64)
    vijk_pre = np.empty((n, 6, 3), dtype=np.int64)
    vijk_post = np.empty((n, 6, 3), dtype=np.int64)
    adj_res_arr = np.full(n, adj_res, dtype=np.int64)
    for v in range(6):
        fv = IJK.normalize(center + verts[v])
        vijk_pre[:, v, :] = fv
        fcur = face.copy()
        vcur = fv
        act = np.ones(n, dtype=bool)
        guard = 0
        while np.any(act) and guard < 4:
            code, fcur, vcur = _adjust_overage_class2(
                fcur, vcur, adj_res_arr, np.zeros(n, bool), substrate=True, active=act
            )
            act = act & (code == _NEW_FACE) & pent  # only pentagons loop
            guard += 1
        la, lo = proj.hex2d_to_geo(
            IJK.ijk_to_hex2d(vcur), fcur, res=adj_res, substrate=True
        )
        out[:, v, 0] = la
        out[:, v, 1] = lo
        vfaces[:, v] = fcur
        vijk_post[:, v, :] = vcur
    return out, vfaces, vijk_pre, vijk_post, face, adj_res


def _boundary_verts_uniform(hh: np.ndarray, res: int) -> np.ndarray:
    """(N, 6, 2) boundary vertices in radians (lat, lng) for uniform-res
    cells. Pentagons yield 6 rows of which two coincide."""
    return _boundary_verts_detail(hh, res)[0]


def _unfold_to_face(
    ijk_post: np.ndarray,
    from_face: int,
    to_face: int,
    adj_res: int,
    substrate: bool = True,
):
    """Class II lattice coords on from_face -> to_face frame via the
    face-neighbor transform (the canonical icosahedron unfold)."""
    from .constants import FACE_NEIGHBORS, UNIT_SCALE_BY_CII_RES

    adj = _adjacent_face_dir()
    quad = int(adj[from_face, to_face])
    if quad < 0:
        return None
    orient = FACE_NEIGHBORS[from_face, quad]
    v = ijk_post[None, :].copy()
    for _ in range(int(orient[4])):
        v = IJK.rotate60ccw(v)
    unit = int(UNIT_SCALE_BY_CII_RES[adj_res]) * (3 if substrate else 1)
    v = IJK.normalize(v + orient[1:4] * unit)
    return v[0]


def cell_to_local_ijk(cell: int, frame_face: int):
    """Cell's lattice coords in `frame_face`'s coordinate system (the
    canonical unfold when the cell sits on an adjacent face). Returns
    None when no clean unfold exists (non-adjacent faces). Class III
    cells go through the aperture-7r substrate (clean integer map)."""
    arr = np.array([cell], dtype=np.uint64)
    face, ijk, res = cell_to_faceijk(arr)
    f, v, r = int(face[0]), ijk[0], int(res[0])
    cls3 = r % 2 == 1
    if cls3:
        v = IJK.down_ap7r(v[None, :])[0]
        adj_res = r + 1
    else:
        adj_res = r
    if f != frame_face:
        v = _unfold_to_face(v, f, frame_face, adj_res, substrate=False)
        if v is None:
            return None
    if cls3:
        v = IJK.up_ap7r(v[None, :])[0]
    return v


def owning_faceijk(face, ijk, res: int):
    """Lattice coords (N, 3) at `res` in `face`'s frame, possibly past
    the face's edges -> (face, ijk) on the face that owns each point.
    Class III rows go through the aperture-7r substrate (a clean integer
    map); the overage transform then walks the rows past an edge across
    it (pentagon corners may need more than one step)."""
    face = np.array(face, dtype=np.int64)
    v = np.array(ijk, dtype=np.int64)
    cls3 = res % 2 == 1
    if cls3:
        v = IJK.down_ap7r(v)
    adj_res = res + int(cls3)
    idx = np.flatnonzero(v.sum(axis=-1) > MAX_DIM_BY_CII_RES[adj_res])
    for _ in range(4):
        if len(idx) == 0:
            break
        m = len(idx)
        code, face[idx], v[idx] = _adjust_overage_class2(
            face[idx],
            v[idx],
            np.full(m, adj_res, dtype=np.int64),
            np.zeros(m, dtype=bool),
            substrate=False,
            active=np.ones(m, dtype=bool),
        )
        idx = idx[code == _NEW_FACE]
    if cls3:
        v = IJK.up_ap7r(v)
    return face, v


def local_ijk_to_cell(ijk: np.ndarray, frame_face: int, res: int):
    """Inverse of cell_to_local_ijk: lattice coords in `frame_face`'s
    frame -> cell id. Off-face coords walk the overage transform to the
    owning face (exact integer map), then encode there."""
    face, v = owning_faceijk([frame_face], ijk[None, :], res)
    return faceijk_to_cell(face, v, res)[0]


from functools import lru_cache


@lru_cache(maxsize=1)
def _adjacent_face_dir() -> np.ndarray:
    """(20,20) quadrant (IJ/KI/JK) of face b as seen from face a; -1 if
    not adjacent (derived from FACE_NEIGHBORS)."""
    out = np.full((20, 20), -1, dtype=np.int64)
    for f in range(20):
        for quad in (1, 2, 3):
            out[f, FACE_NEIGHBORS[f, quad, 0]] = quad
    return out


def _face_edge_2d(quad: int, max_dim: int) -> tuple[np.ndarray, np.ndarray]:
    """Endpoints (hex2d, substrate coords) of a face's icosahedron edge
    for the given overage quadrant. Face corners in substrate hex2d:
    I=(3m,0), J=(-1.5m, 3m*sin60), K=(-1.5m, -3m*sin60)."""
    from .constants import M_SIN60

    m = float(max_dim)
    corner_i = np.array([3.0 * m, 0.0])
    corner_j = np.array([-1.5 * m, 3.0 * m * M_SIN60])
    corner_k = np.array([-1.5 * m, -3.0 * m * M_SIN60])
    from .constants import IJ_QUADRANT, JK_QUADRANT

    if quad == IJ_QUADRANT:
        return corner_i, corner_j
    if quad == JK_QUADRANT:
        return corner_j, corner_k
    return corner_k, corner_i  # KI


def _seg_intersect(p0, p1, e0, e1):
    """Intersection of segment p0-p1 with line e0-e1 (2D), or None."""
    d = p1 - p0
    e = e1 - e0
    den = d[0] * e[1] - d[1] * e[0]
    if abs(den) < 1e-12:
        return None
    t = ((e0[0] - p0[0]) * e[1] - (e0[1] - p0[1]) * e[0]) / den
    if t <= 1e-9 or t >= 1 - 1e-9:
        return None
    return p0 + t * d


def cell_to_boundary(h) -> list[np.ndarray]:
    """Boundary vertices per cell as (n_verts, 2) arrays of (lat, lng)
    degrees, including the Class III "distortion vertices" where a cell
    edge crosses an icosahedron edge (public spec behavior).

    Goldens: reference tests/test_h3pandas.py:147-165.
    """
    h = np.atleast_1d(np.asarray(h, dtype=np.uint64))
    res_all = ix.get_resolution(h)
    out: list[np.ndarray | None] = [None] * len(h)
    adj_dir = _adjacent_face_dir()
    for r in np.unique(res_all):
        sel = np.where(res_all == r)[0]
        hh = h[sel]
        res = int(r)
        pent = ix.is_pentagon(hh)
        vv, vfaces, vijk, vijk_post, center_face, adj_res = _boundary_verts_detail(
            hh, res
        )
        class3 = res % 2 == 1
        max_dim = int(MAX_DIM_BY_CII_RES[adj_res])
        for row, gi in enumerate(sel):
            pts = vv[row]
            if class3 and len(set(vfaces[row].tolist())) > 1 and not pent[row]:
                # insert icosahedron-edge intersection points between
                # consecutive vertices that straddle faces
                pre2d = IJK.ijk_to_hex2d(vijk[row])  # pre-overage, center face
                pieces: list[np.ndarray] = []
                for v in range(6):
                    nxt = (v + 1) % 6
                    pieces.append(pts[v])
                    fa, fb = vfaces[row][v], vfaces[row][nxt]
                    if fa == fb:
                        continue
                    # the crossed edge: quadrant of the off-center face
                    cf = center_face[row]
                    other = fb if fb != cf else fa
                    quad = adj_dir[cf, other]
                    if quad < 0:
                        continue
                    e0, e1 = _face_edge_2d(int(quad), max_dim)
                    inter = _seg_intersect(pre2d[v], pre2d[nxt], e0, e1)
                    if inter is None:
                        continue
                    la, lo = proj.hex2d_to_geo(
                        inter[None, :], np.array([cf]), res=adj_res, substrate=True
                    )
                    pieces.append(np.array([la[0], lo[0]]))
                pts = np.stack(pieces)
            if pent[row]:
                _, uniq_idx = np.unique(pts.round(12), axis=0, return_index=True)
                keep = np.sort(uniq_idx)
                pts = pts[keep]
                if class3:
                    pts = _pent_distortion(
                        pts, vfaces[row][keep], vijk_post[row][keep], adj_res, adj_dir
                    )
            out[gi] = np.degrees(pts)
    return out  # type: ignore[return-value]


def _pent_distortion(pts, faces, post_ijk, adj_res, adj_dir):
    """Insert icosahedron-edge crossing vertices for Class III pentagon
    boundaries. Every pentagon edge spans two faces; the edge's two
    endpoints are projected into the first endpoint's face frame
    (gnomonic: straight lines there ARE the great-circle cell edges, so
    the crossing matches the hexagon neighbors' distortion vertices and
    the tiling closes)."""
    n = len(pts)
    max_dim = int(MAX_DIM_BY_CII_RES[adj_res])
    pieces = []
    for v in range(n):
        prev = (v - 1) % n
        fa, fb = int(faces[prev]), int(faces[v])
        if fa != fb:
            quad_ab = int(adj_dir[fa, fb])
            cur_in_fa = _unfold_to_face(post_ijk[v], fb, fa, adj_res)
            if quad_ab >= 0 and cur_in_fa is not None:
                p0 = IJK.ijk_to_hex2d(post_ijk[prev][None, :])[0]
                p1 = IJK.ijk_to_hex2d(cur_in_fa[None, :])[0]
                e0, e1 = _face_edge_2d(quad_ab, max_dim)
                inter = _seg_intersect(p0, p1, e0, e1)
                if inter is not None:
                    la, lo = proj.hex2d_to_geo(
                        inter[None, :], np.array([fa]), res=adj_res, substrate=True
                    )
                    pieces.append(np.array([la[0], lo[0]]))
        pieces.append(pts[v])
    return np.stack(pieces)


def _tri_area_rads2(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Spherical triangle area (steradians) via L'Huilier, from unit vectors."""

    def _ang(u, v):
        d = np.linalg.norm(u - v, axis=-1)
        return 2.0 * np.arcsin(np.clip(d / 2.0, -1.0, 1.0))

    ab = _ang(a, b)
    bc_ = _ang(b, c)
    ca = _ang(c, a)
    s = (ab + bc_ + ca) / 2.0
    t = (
        np.tan(s / 2.0)
        * np.tan((s - ab) / 2.0)
        * np.tan((s - bc_) / 2.0)
        * np.tan((s - ca) / 2.0)
    )
    return 4.0 * np.arctan(np.sqrt(np.maximum(t, 0.0)))


def cell_area(h, unit: str = "km^2") -> np.ndarray:
    """Cell area. Units: km^2, m^2, rads^2. Fully vectorized: boundary
    fan triangles computed as (N,6) batches (pentagons' duplicate vertex
    contributes a degenerate zero-area triangle).

    Golden: 0.09937867173389912 km^2 for 891e3097383ffff
    (reference tests/test_h3pandas.py:443-448).
    """
    h = np.atleast_1d(np.asarray(h, dtype=np.uint64))
    out = np.empty(len(h), dtype=np.float64)
    clat, clng = cell_to_latlng(h)
    cvec = proj.geo_to_vec3(np.radians(clat), np.radians(clng))  # (N,3)
    bounds = cell_to_boundary(h)
    # pad ragged boundaries (distortion vertices) with their last vertex:
    # degenerate fan triangles contribute zero area, keeping it batched
    nv = np.array([len(b) for b in bounds])
    max_v = int(nv.max())
    verts = np.empty((len(h), max_v, 2), dtype=np.float64)
    for i, b in enumerate(bounds):
        verts[i, : len(b)] = np.radians(b)
        verts[i, len(b):] = np.radians(b[-1])
    bv = proj.geo_to_vec3(verts[..., 0], verts[..., 1])  # (n,V,3)
    nxt = np.roll(bv, -1, axis=1)
    # fix the wrap for padded rows: last real vertex connects to vertex 0
    tri = _tri_area_rads2(bv, nxt, np.broadcast_to(cvec[:, None, :], bv.shape))
    out = tri.sum(axis=1)
    if unit == "rads^2":
        return out
    if unit == "km^2":
        return out * EARTH_RADIUS_KM * EARTH_RADIUS_KM
    if unit == "m^2":
        return out * EARTH_RADIUS_KM * EARTH_RADIUS_KM * 1e6
    raise ValueError(f"unknown unit: {unit}")
