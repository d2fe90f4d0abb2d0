"""Polygon coverage: point-in-polygon (even-odd ray cast, planar in
lat/lng like the public H3 polygon algorithms) and polygon_to_cells with
center-containment semantics ("cells whose centroid is inside"), holes
subtracting and MultiPolygon as union — matching the reference polyfill
behavior (reference h3pandas.py:357-407, tests/util/test_shapely.py:39-57).

Algorithm: densified edge trace -> candidate band (edge cells + 1-ring)
-> BFS interior fill through center-inside cells. Exact w.r.t.
center-containment; no bounding-box scans, so cost scales with the
polygon's cell count, not its bbox. `cover_bfs` runs that BFS for many
polygons of one resolution at once, each (owner, cell) pair tagged with
its polygon: one encode of all edge traces, then one neighbor call and
one center decode per BFS level, whatever the polygon count. The
single-polygon entry points call it with one polygon.
"""

from __future__ import annotations

import numpy as np

from . import geo
from . import traversal as tv

# ring: (M, 2) array of (lat, lng) degrees, closed or open
Rings = list[np.ndarray]


def _normalize_rings(rings: Rings) -> tuple[Rings, bool]:
    """Shift transmeridian polygons into a continuous lng frame (+360 on
    the negative side). The decision is per-POLYGON, the shift applied
    to EVERY ring: a hole that does not itself span >180 deg (e.g. a
    small hole at lng -179.5 inside a shell crossing the antimeridian)
    must still move into the shell's frame, or the ray cast would test
    it against shifted query points and silently ignore it. Returns
    (rings, shifted?)."""
    arrs = [np.asarray(r, dtype=np.float64) for r in rings]
    shifted = any(
        r[:, 1].max() - r[:, 1].min() > 180.0 for r in arrs if len(r)
    )
    if not shifted:
        return arrs, False
    out = []
    for r in arrs:
        r = r.copy()
        r[:, 1] = np.where(r[:, 1] < 0.0, r[:, 1] + 360.0, r[:, 1])
        out.append(r)
    return out, True


def points_in_rings(lat: np.ndarray, lng: np.ndarray, rings: Rings) -> np.ndarray:
    """Even-odd containment of points vs the union of ring boundaries
    (outer ring + holes together implement 'holes subtract')."""
    lat = np.asarray(lat, dtype=np.float64)
    lng = np.asarray(lng, dtype=np.float64)
    rings, shifted = _normalize_rings(rings)
    if shifted:
        lng = np.where(lng < 0.0, lng + 360.0, lng)
    inside = np.zeros(lat.shape, dtype=bool)
    for ring in rings:
        r = ring
        if not (r[0] == r[-1]).all():
            r = np.vstack([r, r[:1]])
        y1 = r[:-1, 0][None, :]
        x1 = r[:-1, 1][None, :]
        y2 = r[1:, 0][None, :]
        x2 = r[1:, 1][None, :]
        yp = lat[:, None]
        xp = lng[:, None]
        cross = (y1 > yp) != (y2 > yp)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (yp - y1) / (y2 - y1) + x1
        hit = cross & (xp < xint)
        inside ^= (hit.sum(axis=1) % 2).astype(bool)
    return inside


def _densify_edges(rings: Rings, step_deg: float) -> tuple[np.ndarray, np.ndarray]:
    """Sample points along every ring edge at ~step_deg spacing, in BOTH
    edge geometries: geodesic (3D lerp) AND planar lat/lng lerp. The
    containment semantics everywhere downstream (points_in_rings, the
    SQL oracles) are PLANAR, so the boundary band must contain every
    cell the planar edges cross — a geodesic-only trace bulges away
    from a long planar edge (e.g. a 20-deg lat=55 rect top deviates
    ~0.4 deg) and can leave planar-crossed cells out of the band, which
    would both break the cover's superset contract and falsely mark
    those cells interior. The geodesic samples are kept so the band
    also bounds the sphere-faithful interpretation."""
    from . import proj

    lats = []
    lngs = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if not (r[0] == r[-1]).all():
            r = np.vstack([r, r[:1]])
        a = r[:-1]
        b = r[1:]
        v1 = proj.geo_to_vec3(np.radians(a[:, 0]), np.radians(a[:, 1]))
        v2 = proj.geo_to_vec3(np.radians(b[:, 0]), np.radians(b[:, 1]))
        seg_len = np.degrees(
            2 * np.arcsin(np.clip(np.linalg.norm(v2 - v1, axis=1) / 2, 0, 1))
        )
        for i in range(len(a)):
            n = max(int(np.ceil(seg_len[i] / step_deg)), 1)
            t = np.linspace(0.0, 1.0, n + 1)[:, None]
            pts = v1[i][None, :] * (1 - t) + v2[i][None, :] * t
            nrm = np.linalg.norm(pts, axis=1, keepdims=True)
            pts = pts / np.maximum(nrm, 1e-300)
            la, lo = proj.vec3_to_geo(pts)
            lats.append(np.degrees(la))
            lngs.append(np.degrees(lo))
    # planar samples, in the normalized (non-wrapping) longitude frame;
    # trig in latlng_to_cell is periodic so lng > 180 needs no re-wrap
    nrings, _ = _normalize_rings(rings)
    for ring in nrings:
        r = np.asarray(ring, dtype=np.float64)
        if not (r[0] == r[-1]).all():
            r = np.vstack([r, r[:1]])
        a = r[:-1]
        b = r[1:]
        seg = np.maximum(
            np.abs(b[:, 0] - a[:, 0]), np.abs(b[:, 1] - a[:, 1])
        )
        for i in range(len(a)):
            n = max(int(np.ceil(seg[i] / step_deg)), 1)
            t = np.linspace(0.0, 1.0, n + 1)[:, None]
            p = a[i][None, :] * (1 - t) + b[i][None, :] * t
            lats.append(p[:, 0])
            lngs.append(p[:, 1])
    return np.concatenate(lats), np.concatenate(lngs)


# mean hexagon edge length in degrees by resolution (res-0 edge ~ 20.7 deg
# of arc / sqrt(7) per res); used only to pick a sampling density.
_EDGE_DEG_RES0 = 20.0


def polygon_to_cells(rings: Rings, res: int) -> np.ndarray:
    """Cells at `res` whose center falls inside the polygon (first ring =
    shell, remaining rings = holes, even-odd)."""
    _, cells, _ = cover_bfs([rings], res, cover=False)
    return cells


def polygon_cover_cells(rings: Rings, res: int) -> np.ndarray:
    """Superset cover: every cell that intersects the polygon (center
    inside OR boundary-crossing band). Candidate set for exact PIP joins —
    no point inside the polygon can fall outside these cells."""
    _, cells, _ = cover_bfs([rings], res, cover=True)
    return cells


def polygon_cover_cells_classified(
    rings: Rings, res: int
) -> tuple[np.ndarray, np.ndarray]:
    """(cover cells, interior mask): the cover plus a mask marking cells
    PROVEN fully inside the polygon. A cover cell outside the boundary
    band (densified edge trace + 1-ring — the same construction whose
    completeness the cover's superset guarantee already rests on) is
    never crossed by the polygon boundary, and its center is inside, so
    the WHOLE cell is inside. PIP joins skip the exact per-point ray
    cast for points landing in interior cells; only boundary-band cells
    pay it — at scale that is the region's perimeter, not its area."""
    _, cells, interior = cover_bfs([rings], res, cover=True)
    return cells, interior


def _centers_inside(owner, cells, polys: list[Rings]) -> np.ndarray:
    """Even-odd test of each pair's cell center against its owner's
    rings: one center decode for all pairs (sorted by owner), then one
    vectorized ray cast per owner."""
    uniq, inv = np.unique(cells, return_inverse=True)
    clat, clng = geo.cell_to_latlng(uniq)
    clat = clat[inv]
    clng = clng[inv]
    out = np.zeros(len(cells), dtype=bool)
    owners, starts = np.unique(owner, return_index=True)
    ends = np.append(starts[1:], len(owner))
    for o, a, b in zip(owners.tolist(), starts.tolist(), ends.tolist()):
        out[a:b] = points_in_rings(clat[a:b], clng[a:b], polys[o])
    return out


def cover_bfs(polys: list[Rings], res: int, cover: bool = True):
    """Cells of many polygons at one resolution from one owner-tagged
    BFS: (owner, cell, interior) sorted by (owner, cell), where owner
    indexes `polys`.

    Each polygon's densified edge trace encodes in one batch; its cells
    plus their 1-ring form the boundary band. Band cells whose center is
    inside seed the fill, and each BFS level then takes one neighbor call
    and one center decode over every polygon's frontier at once. With
    `cover`, the band joins the center-inside cells (the superset cover
    PIP joins probe); `interior` marks the cells outside the band, which
    are center-inside and never crossed by the boundary. A polygon with
    no ring of 3+ vertices owns no cells."""
    polys = [
        [np.asarray(r, dtype=np.float64) for r in rings if len(r) >= 3]
        for rings in polys
    ]
    step = max(_EDGE_DEG_RES0 / (7 ** (res / 2.0)) * 0.4, 1e-9)
    lats, lngs, owners = [], [], []
    for o, rings in enumerate(polys):
        if rings:
            elat, elng = _densify_edges(rings, step)
            lats.append(elat)
            lngs.append(elng)
            owners.append(np.full(len(elat), o, dtype=np.int64))
    if not owners:
        empty = np.array([], dtype=np.uint64)
        return np.array([], dtype=np.int64), empty, np.array([], dtype=bool)
    e_o, e_c = tv._unique_pairs(
        np.concatenate(owners),
        geo.latlng_to_cell(np.concatenate(lats), np.concatenate(lngs), res),
    )
    n_o, n_c = tv._expand(e_o, e_c)
    band_o, band_c = tv._unique_pairs(
        np.concatenate([e_o, n_o]), np.concatenate([e_c, n_c])
    )
    inside = _centers_inside(band_o, band_c, polys)
    seen_o, seen_c = band_o, band_c
    f_o, f_c = band_o[inside], band_c[inside]
    found_o, found_c = [f_o], [f_c]
    while len(f_o):
        n_o, n_c = tv._unique_pairs(*tv._expand(f_o, f_c))
        n_o, n_c = tv._setdiff_pairs(n_o, n_c, seen_o, seen_c)
        if len(n_o) == 0:
            break
        seen_o = np.concatenate([seen_o, n_o])
        seen_c = np.concatenate([seen_c, n_c])
        inside = _centers_inside(n_o, n_c, polys)
        f_o, f_c = n_o[inside], n_c[inside]
        found_o.append(f_o)
        found_c.append(f_c)
    if cover:
        found_o.append(band_o)
        found_c.append(band_c)
    out_o, out_c = tv._unique_pairs(
        np.concatenate(found_o), np.concatenate(found_c)
    )
    interior = ~tv._isin_pairs(out_o, out_c, band_o, band_c)
    return out_o, out_c, interior


def multipolygon_to_cells(polys: list[Rings], res: int) -> np.ndarray:
    """Union of polygon_to_cells over MultiPolygon parts."""
    _, cells, _ = cover_bfs(polys, res, cover=False)
    return np.unique(cells)
