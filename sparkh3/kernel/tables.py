"""Derived base-cell lookup tables, bootstrapped geometrically.

The public H3 spec's face+ijk -> base-cell lookup (and the per-face
orientation rotations) are large generated tables. Rather than
hand-maintaining 540 entries, we reconstruct them at import time from the
geometric anchors in constants.py:

* base-cell centers: project each base cell's home FaceIJK to geo;
* face/ijk -> base cell: match each face's res-0 lattice points to the
  nearest base-cell center projected onto that face;
* orientation (ccwRot60): measure the angle between the home face's grid
  frame and the target face's grid frame at the shared cell center, and
  snap to the lattice rotation step (60 deg for hexagons, 72 deg for the
  pentagon disclination).

Correctness is enforced by the full-sphere roundtrip test
(tests/test_kernel_roundtrip.py) and the reference golden suite.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from . import ijk as IJK
from . import proj
from .constants import BASE_CELL_DATA, NUM_ICOSA_FACES
from .index import PENTAGON_BASE_CELLS


@lru_cache(maxsize=1)
def base_cell_centers() -> np.ndarray:
    """(122, 2) array of (lat, lng) radians of each base cell center."""
    faces = BASE_CELL_DATA[:, 0]
    home_ijk = BASE_CELL_DATA[:, 1:4]
    pts = IJK.ijk_to_hex2d(home_ijk)
    lat, lng = proj.hex2d_to_geo(pts, faces, res=0, substrate=False)
    return np.stack([lat, lng], axis=-1)


@lru_cache(maxsize=1)
def _geometric_tables() -> tuple[np.ndarray, np.ndarray]:
    """(20,3,3,3) base-cell lookup and (20,3,3,3) ccwRot60 lookup.

    Entries that no valid projection can reach hold -1. Pentagon-entry
    rotations from the geometric measurement are provisional; the
    empirical solver below replaces them.
    """
    centers = base_cell_centers()
    c_lat = centers[:, 0]
    c_lng = centers[:, 1]

    bc_table = np.full((NUM_ICOSA_FACES, 3, 3, 3), -1, dtype=np.int64)
    rot_table = np.full((NUM_ICOSA_FACES, 3, 3, 3), -1, dtype=np.int64)

    # candidate lattice coords on each face (normalized res-0 ijk, each 0..2)
    cand = np.array(
        [(i, j, k) for i in range(3) for j in range(3) for k in range(3)],
        dtype=np.int64,
    )
    cand_xy = IJK.ijk_to_hex2d(cand)  # (27, 2)

    is_pent = np.zeros(122, dtype=bool)
    for b in PENTAGON_BASE_CELLS:
        is_pent[b] = True

    # probe step for frame-orientation measurement
    delta = 1e-3

    for f in range(NUM_ICOSA_FACES):
        # project all 122 centers onto face f's res-0 class II plane
        faces = np.full(122, f, dtype=np.int64)
        proj_xy = proj.geo_to_hex2d_on_face(c_lat, c_lng, faces, res=0)
        # angular distance gate: ignore far-side cells (gnomonic blowup)
        v = proj.geo_to_vec3(c_lat, c_lng)
        from .constants import FACE_CENTER_POINT

        dots = v @ FACE_CENTER_POINT[f]
        near = dots > 0.3  # < ~72.5 degrees from face center
        d2 = np.where(
            near[:, None].repeat(27, axis=1),
            np.linalg.norm(proj_xy[:, None, :] - cand_xy[None, :, :], axis=-1),
            np.inf,
        )  # (122, 27)
        best_bc = np.argmin(d2, axis=0)  # (27,)
        best_d = d2[best_bc, np.arange(27)]
        for ci in range(27):
            if best_d[ci] > 0.35:  # no base cell center at this lattice point
                continue
            i, j, k = cand[ci]
            b = int(best_bc[ci])
            bc_table[f, i, j, k] = b
            home_f = int(BASE_CELL_DATA[b, 0])
            home_ijk = BASE_CELL_DATA[b, 1:4]
            if home_f == f:
                rot_table[f, i, j, k] = 0
                continue
            # measure the grid-frame rotation between home face and face f
            # at the shared center: probe a small +x step in the home frame.
            p0 = IJK.ijk_to_hex2d(home_ijk).astype(np.float64)
            p1 = p0 + np.array([delta, 0.0])
            plat, plng = proj.hex2d_to_geo(p1, np.int64(home_f), res=0)
            g_lat = c_lat[b]
            g_lng = c_lng[b]
            q = proj.geo_to_hex2d_on_face(
                np.array([g_lat, plat]), np.array([g_lng, plng]), np.int64(f), res=0
            )
            theta = float(np.arctan2(q[1, 1] - q[0, 1], q[1, 0] - q[0, 0]))
            if is_pent[b]:
                step = 2.0 * np.pi / 5.0
                rot = int(np.rint(-theta / step)) % 5
            else:
                step = np.pi / 3.0
                rot = int(np.rint(-theta / step)) % 6
            rot_table[f, i, j, k] = rot
    return bc_table, rot_table


_CACHE_FILE = __file__.replace("tables.py", "_tables_cache.npz")


@lru_cache(maxsize=1)
def face_ijk_tables() -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Final lookup tables (bc_table, rot_table, pent_cw), loaded from the
    checked-in cache when present (skips the ~0.6s geometric bootstrap on
    every Spark python worker); regenerated and verified by
    tests/test_tables_cache.py."""
    import os

    if os.path.exists(_CACHE_FILE):
        z = np.load(_CACHE_FILE)
        return z["bc"], z["rot"], z["cw"]
    return _solve_tables()


def write_tables_cache() -> None:
    """Regenerate ``_tables_cache.npz``: the only writer of the committed cache."""
    bc, rot, cw = _solve_tables()
    np.savez_compressed(_CACHE_FILE, bc=bc, rot=rot, cw=cw)


@lru_cache(maxsize=1)
def _solve_tables() -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Bootstrap: (bc_table, rot_table, pent_cw).

    bc_table/rot_table are (20,3,3,3); pent_cw is (122,20) bool marking
    the pentagon 'clockwise offset' faces. Hexagon entries come from the
    geometric derivation; pentagon rotations and cw offsets are solved
    empirically by requiring center-roundtrip consistency for every
    pentagon-descendant cell (the canonical values are exactly the unique
    solution of that constraint system).
    """
    from . import geo
    from . import index as ixm

    bc_table, rot_table = _geometric_tables()
    bc_table = bc_table.copy()
    rot_table = rot_table.copy()
    pent_cw = np.zeros((122, 20), dtype=bool)

    pent_bases = sorted(PENTAGON_BASE_CELLS)
    base_cells = ixm.build_cell(
        np.array(pent_bases, dtype=np.uint64),
        0,
        np.full((len(pent_bases), 15), 7, dtype=np.int64),
    )
    cells = ixm.cell_to_children(base_cells, 3)
    lat_d, lng_d = geo.cell_to_latlng(cells)
    lat = np.radians(lat_d)
    lng = np.radians(lng_d)

    # which (face, ijk0) entry each test point hits is independent of the
    # pentagon rotation/offset values, so solve each entry independently.
    _, bc_hit, face_hit, _ = geo._latlng_to_cell_impl(
        lat, lng, 3, (bc_table, rot_table, pent_cw), debug=True
    )
    is_p = ixm.is_pentagon_base(bc_hit)
    pairs = sorted(set(zip(bc_hit[is_p].tolist(), face_hit[is_p].tolist())))
    for b, f in pairs:
        m = (bc_hit == b) & (face_hit == f)
        sub_cells = cells[m]
        sub_lat = lat[m]
        sub_lng = lng[m]
        # locate the lattice entry (slots in rot_table for face f with bc b)
        slots = np.argwhere(bc_table[f] == b)
        home_face = int(BASE_CELL_DATA[b, 0])
        solved = False
        for rot in range(6):
            for cw in (False, True):
                if f == home_face and rot != 0:
                    continue
                for i, j, k in slots:
                    rot_table[f, i, j, k] = rot
                pent_cw[b, f] = cw
                back = geo._latlng_to_cell_impl(
                    sub_lat, sub_lng, 3, (bc_table, rot_table, pent_cw)
                )
                if np.array_equal(back, sub_cells):
                    solved = True
                    break
            if solved:
                break
        if not solved:
            raise AssertionError(
                f"pentagon table solver failed for base cell {b} face {f}"
            )

    # final full-sphere sanity at res 3 for pentagon descendants
    back = geo._latlng_to_cell_impl(lat, lng, 3, (bc_table, rot_table, pent_cw))
    nbad = int((back != cells).sum())
    if nbad:
        raise AssertionError(f"pentagon solver left {nbad} roundtrip failures")
    return bc_table, rot_table, pent_cw
