"""Grid traversal: neighbors, grid_disk (k_ring), grid_ring (hex_ring),
grid_path (linetrace support).

Neighbors are lattice steps: each cell's face coords (cell_to_faceijk)
plus the six unit IJK vectors, moved to the owning face by the
icosahedron overage transform (Class III through the aperture-7r
substrate) and encoded in one faceijk_to_cell batch — integer math, no
trigonometry, pentagons and face crossings included. Disk and cover
BFS levels make one such call over every frontier cell of every owner.

The geometric edge probe (`_probe_neighbors`: snap a point just beyond
each boundary-edge midpoint with latlng_to_cell) stays only behind
`neighbors_ordered`, which needs boundary-edge order for directed
edges, and as the tests' reference for the lattice steps.

Goldens: reference tests/test_h3pandas.py:471-601 (k_ring / hex_ring),
:309-439 + tests/util/test_shapely.py:60-78 (linetrace paths).
"""

from __future__ import annotations

import numpy as np

from . import geo
from . import ijk as IJK
from . import index as ix
from . import proj

_EDGE_EPS = 0.10  # fraction of center->edge-midpoint distance beyond the edge


def _probe_neighbors(cells: np.ndarray, res: int) -> np.ndarray:
    """The shared edge-probe pass: for each cell, snap a point just
    beyond each boundary-edge midpoint. Returns the raw (N, 6) neighbor
    matrix in boundary-edge (vertex k -> k+1) order, un-deduped."""
    verts = geo._boundary_verts_uniform(cells, res)  # (N,6,2) radians
    clat, clng = geo.cell_to_latlng(cells)
    c3 = proj.geo_to_vec3(np.radians(clat), np.radians(clng))  # (N,3)
    v3 = proj.geo_to_vec3(verts[..., 0], verts[..., 1])  # (N,6,3)
    mid = 0.5 * (v3 + np.roll(v3, -1, axis=1))  # chord midpoints (N,6,3)
    probe = c3[:, None, :] + (mid - c3[:, None, :]) * (1.0 + _EDGE_EPS)
    probe = probe / np.linalg.norm(probe, axis=-1, keepdims=True)
    plat, plng = proj.vec3_to_geo(probe.reshape(-1, 3))
    nb = geo.latlng_to_cell(np.degrees(plat), np.degrees(plng), res)
    return nb.reshape(len(cells), 6)


def _neighbors_with_owner(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """All edge-adjacent neighbors of each cell: the six unit lattice
    steps from each cell's face coords, moved to their owning face and
    encoded in one batch.

    Returns (owner_idx, neighbor_cell) flat arrays sorted by (owner,
    neighbor) and deduped per owner (a pentagon's step into its deleted
    wedge repeats another neighbor). `cells` must be uniform resolution.
    """
    cells = np.atleast_1d(np.asarray(cells, dtype=np.uint64))
    n = len(cells)
    if n == 0:
        return np.array([], dtype=np.int64), np.array([], dtype=np.uint64)
    res = int(ix.get_resolution(cells[:1])[0])
    face, ijk, _ = geo.cell_to_faceijk(cells)
    steps = (ijk[:, None, :] + IJK.UNIT_VECS[None, 1:, :]).reshape(-1, 3)
    face, steps = geo.owning_faceijk(np.repeat(face, 6), IJK.normalize(steps), res)
    nb = geo.faceijk_to_cell(face, steps, res)
    return _unique_pairs(np.repeat(np.arange(n, dtype=np.int64), 6), nb)


def neighbors(cell) -> np.ndarray:
    """Edge neighbors of a single cell (6, or 5 for pentagons)."""
    _, nb = _neighbors_with_owner(np.array([cell], dtype=np.uint64))
    return nb


def _unique_pairs(owner: np.ndarray, cell: np.ndarray):
    """(owner, cell) pairs de-duplicated and sorted by (owner, cell)."""
    order = np.lexsort((cell, owner))
    owner = owner[order]
    cell = cell[order]
    keep = np.ones(len(owner), dtype=bool)
    keep[1:] = (owner[1:] != owner[:-1]) | (cell[1:] != cell[:-1])
    return owner[keep], cell[keep]


def _isin_pairs(owner, cell, b_owner, b_cell) -> np.ndarray:
    """Mask of the (owner, cell) pairs present in (b_owner, b_cell);
    pairs are unique within each side, so a shared pair shows up as one
    adjacent duplicate in the two-key sort of both sides."""
    n = len(owner)
    if n == 0 or len(b_owner) == 0:
        return np.zeros(n, dtype=bool)
    o = np.concatenate([owner, b_owner])
    c = np.concatenate([cell, b_cell])
    order = np.lexsort((c, o))
    o = o[order]
    c = c[order]
    dup = (o[1:] == o[:-1]) & (c[1:] == c[:-1])
    hit = np.zeros(len(o), dtype=bool)
    hit[order[1:][dup]] = True
    hit[order[:-1][dup]] = True
    return hit[:n]


def _setdiff_pairs(owner, cell, b_owner, b_cell):
    """The (owner, cell) pairs not present in (b_owner, b_cell)."""
    keep = ~_isin_pairs(owner, cell, b_owner, b_cell)
    return owner[keep], cell[keep]


def _expand(owner: np.ndarray, cells: np.ndarray):
    """Neighbors of owner-tagged cells, tagged with the same owners, from
    one neighbor call over the distinct cells (un-deduped)."""
    uniq, inv = np.unique(cells, return_inverse=True)
    nb_o, nb_c = _neighbors_with_owner(uniq)  # sorted by owner
    counts = np.bincount(nb_o, minlength=len(uniq))
    starts = np.cumsum(counts) - counts
    reps = counts[inv]
    total = int(reps.sum())
    offset = np.arange(total) - np.repeat(np.cumsum(reps) - reps, reps)
    return np.repeat(owner, reps), nb_c[np.repeat(starts[inv], reps) + offset]


def _disk_bfs(cells: np.ndarray, k: int):
    """One BFS to depth k over many origins: (owner, cell, grid
    distance) sorted by (owner, cell). The distance array is what lets
    disk, ring, and all-rings callers share a single expansion instead
    of re-running the BFS per ring."""
    cells = np.atleast_1d(np.asarray(cells, dtype=np.uint64))
    levels = [(np.arange(len(cells), dtype=np.int64), cells)]
    for _ in range(k):
        n_o, n_c = _unique_pairs(*_expand(*levels[-1]))
        # a cell adjacent to level s-1 sits at level s-2, s-1 or s, so
        # only the two levels before the new one can already hold it
        near = levels[-2:]
        n_o, n_c = _setdiff_pairs(
            n_o,
            n_c,
            np.concatenate([lv[0] for lv in near]),
            np.concatenate([lv[1] for lv in near]),
        )
        if len(n_o) == 0:
            break
        levels.append((n_o, n_c))
    o = np.concatenate([lv[0] for lv in levels])
    c = np.concatenate([lv[1] for lv in levels])
    dist = np.repeat(
        np.arange(len(levels), dtype=np.int64), [len(lv[0]) for lv in levels]
    )
    order = np.lexsort((c, o))
    return o[order], c[order], dist[order]


def grid_disk_grouped(cells: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """grid_disk(k) for many origins at once.

    Returns (owner_idx, cell) flat arrays; each owner's group is the full
    disk including the origin. Output size per owner: 1+3k(k+1) (less near
    pentagons).
    """
    owner, cell, _ = _disk_bfs(cells, k)
    return owner, cell


def grid_disk_distances_grouped(
    cells: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(owner_idx, cell, grid_distance) for the full disk(k) — every
    ring 0..k from ONE BFS (the shape the kNN/radius disk builders
    want: per-ring calls would redo the expansion per ring)."""
    return _disk_bfs(cells, k)


def grid_ring_grouped(cells: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Hollow ring at exactly distance k — the depth-k frontier of one
    BFS (no second disk(k-1) expansion)."""
    cells = np.atleast_1d(np.asarray(cells, dtype=np.uint64))
    if k == 0:
        return np.arange(len(cells), dtype=np.int64), cells.copy()
    owner, cell, dist = _disk_bfs(cells, k)
    m = dist == k
    return owner[m], cell[m]


def grid_disk(cell, k: int) -> np.ndarray:
    _, c = grid_disk_grouped(np.array([cell], dtype=np.uint64), k)
    return c


def grid_ring(cell, k: int) -> np.ndarray:
    _, c = grid_ring_grouped(np.array([cell], dtype=np.uint64), k)
    return c


# ---------------------------------------------------------------------------
# grid path (for linetrace)
# ---------------------------------------------------------------------------


def _base_anchor(bc: int, res: int) -> np.ndarray:
    """Lattice coords of base cell `bc`'s center at `res` in its home-face
    frame: the home ijk pushed down the aperture chain with center digits
    (the public H3 local-IJK frame anchors this point at {0,0,0})."""
    from .constants import BASE_CELL_DATA

    v = BASE_CELL_DATA[bc, 1:4].astype(np.int64)[None, :]
    for r in range(1, res + 1):
        v = IJK.down_ap7(v) if r % 2 else IJK.down_ap7r(v)
    return v[0]


def grid_path(a: int, b: int) -> np.ndarray:
    """Cell path from a to b (inclusive), matching the public H3
    grid_path_cells semantics: straight-line interpolation in the local
    hex lattice, one cell per grid step.

    Parity notes (public H3 gridPathCells, reference linetrace goldens
    tests/test_h3pandas.py:309-439): the interpolation frame is anchored
    at the ORIGIN's base-cell center (coords translated so that point is
    {0,0,0}) — rounding of exact-half lattice ties is anchor-dependent
    under round-half-away-from-zero, so the anchor is part of the
    contract. Interpolation uses start + n*(delta/dist) like the
    reference implementation, and cube rounding fixes the largest
    residual axis (i before j before k on exact ties).
    """
    a = np.uint64(a)
    b = np.uint64(b)
    if a == b:
        return np.array([a], dtype=np.uint64)
    res = int(ix.get_resolution(np.array([a]))[0])
    res_b = int(ix.get_resolution(np.array([b]))[0])
    if res != res_b:
        # public H3 errors on mixed resolutions; a silent answer would
        # interpolate across mismatched lattice scales
        raise ValueError(
            f"grid_path requires equal resolutions, got {res} and {res_b}"
        )
    # canonical local frame: the home face of the origin's base cell
    from .constants import BASE_CELL_DATA

    bc_a = int(ix.get_base_cell(np.array([a], dtype=np.uint64))[0])
    bc_b = int(ix.get_base_cell(np.array([b], dtype=np.uint64))[0])
    f = BASE_CELL_DATA[bc_a, 0]
    # exact lattice coords via the face unfold when available (canonical
    # rounding frame — matches the reference's origin-anchored ties)
    va = geo.cell_to_local_ijk(int(a), int(f))
    vb = geo.cell_to_local_ijk(int(b), int(f))
    unfolded = va is not None and vb is not None
    anchor = _base_anchor(bc_a, res)
    if not unfolded:
        # alternate exact frames: the cells' actual faces / b's home —
        # the reference implementation simply ERRORS for these pairs
        # (local IJK undefined), so any exact frame is parity-safe;
        # anchor at `a` itself (ties have no golden here)
        fijk_faces, _, _ = geo.cell_to_faceijk(
            np.array([a, b], dtype=np.uint64)
        )
        cand_faces = []
        for ff in (
            int(fijk_faces[0]),
            int(fijk_faces[1]),
            int(BASE_CELL_DATA[bc_b, 0]),
        ):
            if ff != int(f) and ff not in cand_faces:
                cand_faces.append(ff)
        for ff in cand_faces:
            va2 = geo.cell_to_local_ijk(int(a), ff)
            vb2 = geo.cell_to_local_ijk(int(b), ff)
            if va2 is not None and vb2 is not None:
                f = ff
                va, vb = va2, vb2
                anchor = va2.copy()
                unfolded = True
                break
    if unfolded:
        ijk2 = np.stack([va, vb]) - anchor[None, :]
    else:
        # long-range fallback: gnomonic extension of the home face
        # (paths here span non-adjacent faces; the reference errors)
        lat, lng = geo.cell_to_latlng(np.array([a, b], dtype=np.uint64))
        pts = proj.geo_to_hex2d_on_face(
            np.radians(lat), np.radians(lng), np.full(2, f), res
        )
        ijk2 = IJK.hex2d_to_ijk(pts) - anchor[None, :]
    cube = IJK.ijk_to_cube(ijk2).astype(np.float64)
    n = int(IJK.ijk_distance(ijk2[0], ijk2[1]))
    if n == 0:
        return np.array([a, b], dtype=np.uint64)
    step = (cube[1] - cube[0]) / float(n)
    interp = cube[0][None, :] + step[None, :] * np.arange(n + 1)[:, None]
    cells_ijk = IJK.cube_to_ijk(IJK.cube_round(interp))
    # translate back out of the origin-anchored frame
    cells_ijk = IJK.normalize(cells_ijk + anchor[None, :])
    if unfolded:
        # exact integer path: each lattice point maps through the
        # overage transform to its owning face
        out = np.array(
            [geo.local_ijk_to_cell(cells_ijk[i], int(f), res) for i in range(len(cells_ijk))],
            dtype=np.uint64,
        )
    else:
        # long-range fallback: snap via the gnomonic extension
        xy = IJK.ijk_to_hex2d(cells_ijk)
        plat, plng = proj.hex2d_to_geo(xy, np.full(len(xy), f), res, substrate=False)
        out = geo.latlng_to_cell(np.degrees(plat), np.degrees(plng), res)
    out[0] = a
    out[-1] = b
    # sequential dedup (snapping may repeat a cell)
    keep = np.ones(len(out), dtype=bool)
    keep[1:] = out[1:] != out[:-1]
    return out[keep]


def grid_distance(a: int, b: int) -> int:
    """Hex grid distance (public H3 gridDistance semantics): the number
    of grid steps on a minimal path — `grid_path` is built by stepping
    exactly one cell per lattice unit, so its length - 1 IS the
    distance (and inherits grid_path's cross-face frames where the
    reference implementation errors)."""
    return len(grid_path(a, b)) - 1


def neighbors_ordered(cells: np.ndarray) -> np.ndarray:
    """(N, 6) neighbor matrix in boundary-edge order (edge k runs from
    boundary vertex k to k+1). 0 marks a missing edge (pentagon slots
    and probe-degenerate duplicates). Raises on mixed resolutions (a
    silent first-row res would snap every other row's neighbors at the
    wrong scale)."""
    cells = np.atleast_1d(np.asarray(cells, dtype=np.uint64))
    n = len(cells)
    if n == 0:
        return np.zeros((0, 6), dtype=np.uint64)
    rs = ix.get_resolution(cells)
    res = int(rs[0])
    if (rs != res).any():
        raise ValueError("neighbors_ordered requires uniform resolution")
    nb = _probe_neighbors(cells, res)
    nb[nb == cells[:, None]] = np.uint64(0)
    # a pentagon's degenerate vertex yields the same neighbor twice:
    # keep the first occurrence per row only
    for k in range(1, 6):
        dup = (nb[:, k][:, None] == nb[:, :k]).any(axis=1)
        nb[dup, k] = np.uint64(0)
    return nb


_EDGE_MODE_MASK = np.uint64(0xF) << np.uint64(59)
_EDGE_IDX_MASK = np.uint64(0x7) << np.uint64(56)
_EDGE_CLEAR = ~(_EDGE_MODE_MASK | _EDGE_IDX_MASK)
_MODE_CELL = np.uint64(1) << np.uint64(59)
_MODE_EDGE = np.uint64(2) << np.uint64(59)


def cells_to_directed_edge(origin, dest) -> np.ndarray:
    """Directed-edge ids for adjacent (origin, dest) pairs: the public
    H3 edge-id LAYOUT (mode 2 in bits 59-62, edge index 1-6 in bits
    56-58, cell bits elsewhere), with the edge index defined by this
    kernel's boundary-edge ordinal (deterministic and self-consistent;
    bit-identical layout to the H3 spec, numbering internal to this
    engine — no h3 lib exists here to golden against). Raises on
    non-adjacent pairs."""
    origin = np.atleast_1d(np.asarray(origin, dtype=np.uint64))
    dest = np.atleast_1d(np.asarray(dest, dtype=np.uint64))
    nb = neighbors_ordered(origin)
    k = np.argmax(nb == dest[:, None], axis=1).astype(np.uint64)
    # dest==0 would match a pentagon's deleted-slot sentinel
    ok = (dest != 0) & (nb[np.arange(len(origin)), k.astype(np.int64)] == dest)
    if not ok.all():
        bad = origin[~ok][:1]
        raise ValueError(f"cells not adjacent (origin {bad})")
    return (origin & _EDGE_CLEAR) | _MODE_EDGE | (
        (k + np.uint64(1)) << np.uint64(56)
    )


def edge_origin(edge) -> np.ndarray:
    """Origin cell of directed edges (pure bit math)."""
    edge = np.atleast_1d(np.asarray(edge, dtype=np.uint64))
    return (edge & _EDGE_CLEAR) | _MODE_CELL


def edge_direction(edge) -> np.ndarray:
    """Edge index 1-6 (bits 56-58)."""
    edge = np.atleast_1d(np.asarray(edge, dtype=np.uint64))
    return (edge & _EDGE_IDX_MASK) >> np.uint64(56)


def edge_destination(edge) -> np.ndarray:
    """Destination cell of directed edges (origin's k-th neighbor)."""
    edge = np.atleast_1d(np.asarray(edge, dtype=np.uint64))
    org = edge_origin(edge)
    k = edge_direction(edge).astype(np.int64) - 1
    nb = neighbors_ordered(org)
    out = nb[np.arange(len(org)), k]
    if (out == 0).any():
        raise ValueError("edge index points at a deleted pentagon slot")
    return out


def is_valid_directed_edge(edge) -> np.ndarray:
    """Mode 2, index in 1..6, valid origin, existing neighbor slot."""
    edge = np.atleast_1d(np.asarray(edge, dtype=np.uint64))
    mode_ok = (edge & _EDGE_MODE_MASK) == _MODE_EDGE
    k = edge_direction(edge)
    k_ok = (k >= 1) & (k <= 6)
    out = np.zeros(len(edge), dtype=bool)
    cand = mode_ok & k_ok
    if cand.any():
        org = edge_origin(edge[cand])
        org_ok = ix.is_valid_cell(org)
        sub = np.zeros(int(cand.sum()), dtype=bool)
        if org_ok.any():
            good = org[org_ok]
            kk = (k[cand][org_ok] - np.uint64(1)).astype(np.int64)
            exists = np.zeros(len(good), dtype=bool)
            for res in np.unique(ix.get_resolution(good)):
                m = ix.get_resolution(good) == res
                nb = neighbors_ordered(good[m])
                exists[m] = nb[np.arange(int(m.sum())), kk[m]] != 0
            sub[org_ok] = exists
        out[cand] = sub
    return out


def origin_to_directed_edges(cell) -> np.ndarray:
    """All directed edges leaving a cell (6, or 5 for pentagons)."""
    cell = np.uint64(cell)
    nb = neighbors_ordered(np.array([cell]))[0]
    ks = np.flatnonzero(nb != 0).astype(np.uint64)
    return (np.uint64(cell) & _EDGE_CLEAR) | _MODE_EDGE | (
        (ks + np.uint64(1)) << np.uint64(56)
    )


def directed_edge_boundary(edge) -> np.ndarray:
    """The shared-edge endpoints: boundary vertices k and k+1 of the
    origin, degrees (2, 2) (lat, lng)."""
    e = np.uint64(np.atleast_1d(np.asarray(edge, dtype=np.uint64))[0])
    org = edge_origin(e)[0]
    k = int(edge_direction(e)[0]) - 1
    res = int(ix.get_resolution(np.array([org]))[0])
    verts = geo._boundary_verts_uniform(np.array([org]), res)[0]
    out = np.degrees(verts[[k, (k + 1) % len(verts)]])
    return out
