"""Traversal + polygon kernel goldens (reference tests/test_h3pandas.py:
214-306,471-601; tests/util/test_shapely.py:39-78)."""

import numpy as np
import pytest

from sparkh3.kernel import geo
from sparkh3.kernel import index as ix
from sparkh3.kernel import polygon as pg
from sparkh3.kernel import traversal as tv

INDEXED = ["891e3097383ffff", "891e2659c2fffff"]
K1_SETS = [
    {
        "891e3097383ffff",
        "891e3097387ffff",
        "891e309738bffff",
        "891e309738fffff",
        "891e3097393ffff",
        "891e3097397ffff",
        "891e309739bffff",
    },
    {
        "891e2659893ffff",
        "891e2659897ffff",
        "891e2659c23ffff",
        "891e2659c27ffff",
        "891e2659c2bffff",
        "891e2659c2fffff",
        "891e2659d5bffff",
    },
]


def box(x0, y0, x1, y1):
    return np.array(
        [(y0, x0), (y0, x1), (y1, x1), (y1, x0), (y0, x0)], dtype=float
    )


class TestKRing:
    def test_k_ring_goldens(self):
        cells = ix.str_to_int(INDEXED)
        o, c = tv.grid_disk_grouped(cells, 1)
        assert set(ix.int_to_str(c[o == 0])) == K1_SETS[0]
        assert set(ix.int_to_str(c[o == 1])) == K1_SETS[1]

    def test_k0_identity(self):
        cells = ix.str_to_int(INDEXED)
        o, c = tv.grid_disk_grouped(cells, 0)
        assert np.array_equal(c, cells)

    def test_disk_sizes(self):
        cells = ix.str_to_int(INDEXED)
        for k in (1, 2, 3):
            o, c = tv.grid_disk_grouped(cells, k)
            assert (o == 0).sum() == 1 + 3 * k * (k + 1)

    def test_hex_ring_goldens(self):
        cells = ix.str_to_int(INDEXED)
        o, c = tv.grid_ring_grouped(cells, 1)
        assert set(ix.int_to_str(c[o == 0])) == K1_SETS[0] - {INDEXED[0]}
        assert set(ix.int_to_str(c[o == 1])) == K1_SETS[1] - {INDEXED[1]}
        for k in (1, 2, 3):
            o, c = tv.grid_ring_grouped(cells, k)
            assert (o == 0).sum() == 6 * k

    def test_pentagon_disk(self):
        pent = ix.build_cell(
            np.array([4], dtype=np.uint64),
            1,
            np.hstack([np.zeros((1, 1)), np.full((1, 14), 7)]).astype(np.int64),
        )
        o, c = tv.grid_disk_grouped(pent, 1)
        assert len(c) == 6  # pentagon has 5 neighbors + itself


class TestGridPath:
    def test_nz_linetrace_path(self):
        a = geo.latlng_to_cell([-37.005372], [174.793092], 3)[0]
        b = geo.latlng_to_cell([-40.323142], [175.621138], 3)[0]
        got = list(ix.int_to_str(tv.grid_path(int(a), int(b))))
        assert got == [
            "83bb50fffffffff",
            "83bb54fffffffff",
            "83bb72fffffffff",
            "83bb0dfffffffff",
            "83bb2bfffffffff",
        ]

    def test_antimeridian_multiline_exact(self):
        """Full 12/12 parity with the reference antimeridian multiline
        (tests/test_h3pandas.py:370-387): cross-base-cell rounding ties
        resolve identically now that interpolation is anchored at the
        origin's base-cell center (the public H3 local-IJK frame)."""
        segs = [
            ((-45.79817, 168.222656), (-34.307144, 171.914063)),
            ((-34.307144, 171.914063), (-37.926868, 178.769531)),
            ((-37.926868, 178.769531), (-43.992815, 183.515625)),
        ]
        seq: list[str] = []
        for a, b in segs:
            ca = geo.latlng_to_cell([a[0]], [a[1]], 2)[0]
            cb = geo.latlng_to_cell([b[0]], [b[1]], 2)[0]
            for s in ix.int_to_str(tv.grid_path(int(ca), int(cb))):
                if not seq or seq[-1] != s:
                    seq.append(s)
        assert seq == [
            "82da87fffffffff",
            "82da97fffffffff",
            "82bb67fffffffff",
            "82bb47fffffffff",
            "82bb5ffffffffff",
            "82bb57fffffffff",
            "82ba27fffffffff",
            "82bb1ffffffffff",
            "82bb07fffffffff",
            "82bb37fffffffff",
        ]

    def test_antimeridian_multiline_near_parity(self):
        """Current state: 9+/10 of the golden part-2 cells, exact count."""
        segs = [
            ((-45.79817, 168.222656), (-34.307144, 171.914063)),
            ((-34.307144, 171.914063), (-37.926868, 178.769531)),
            ((-37.926868, 178.769531), (-43.992815, 183.515625)),
        ]
        seq: list[str] = []
        for a, b in segs:
            ca = geo.latlng_to_cell([a[0]], [a[1]], 2)[0]
            cb = geo.latlng_to_cell([b[0]], [b[1]], 2)[0]
            for s in ix.int_to_str(tv.grid_path(int(ca), int(cb))):
                if not seq or seq[-1] != s:
                    seq.append(s)
        golden = {
            "82da87fffffffff",
            "82da97fffffffff",
            "82bb67fffffffff",
            "82bb47fffffffff",
            "82bb5ffffffffff",
            "82bb57fffffffff",
            "82ba27fffffffff",
            "82bb1ffffffffff",
            "82bb07fffffffff",
            "82bb37fffffffff",
        }
        assert len(seq) == 10
        assert len(set(seq) & golden) >= 9

    def test_path_endpoints_and_connectivity(self):
        rng = np.random.default_rng(3)
        for _ in range(20):
            lat = rng.uniform(-60, 60, 2)
            lng = rng.uniform(-170, 170, 2)
            lat[1] = lat[0] + rng.uniform(-2, 2)
            lng[1] = lng[0] + rng.uniform(-2, 2)
            cells = geo.latlng_to_cell(lat, lng, 5)
            p = tv.grid_path(int(cells[0]), int(cells[1]))
            assert p[0] == cells[0] and p[-1] == cells[1]
            # consecutive cells are neighbors
            for x, y in zip(p[:-1], p[1:]):
                assert y in set(tv.neighbors(x).tolist())


class TestPolygonToCells:
    def test_small_polygon_res1(self):
        got = set(ix.int_to_str(pg.polygon_to_cells([box(18, 48, 19, 49)], 1)))
        assert got == {"811e3ffffffffff"}

    def test_multipolygon_union(self):
        got = set(
            ix.int_to_str(
                pg.multipolygon_to_cells(
                    [[box(18, 48, 19, 49)], [box(11, 54, 12, 56)]], 1
                )
            )
        )
        assert got == {"811e3ffffffffff", "811f3ffffffffff"}

    def test_hole_subtracts(self):
        got = pg.polygon_to_cells(
            [box(18, 48, 19, 49), box(18.2, 48.4, 18.6, 48.8)], 1
        )
        assert len(got) == 0

    def test_boxes_res3_explode_count(self):
        r1 = pg.polygon_to_cells([box(0, 0, 1, 1)], 3)
        r2 = pg.polygon_to_cells([box(0, 0, 2, 2)], 3)
        assert len(r1) + len(r2) == 5
        expected = {
            "83754efffffffff",
            "83756afffffffff",
            "837541fffffffff",
            "83754cfffffffff",
        }
        assert set(ix.int_to_str(r1)) | set(ix.int_to_str(r2)) == expected

    def test_hex_boundary_sevens(self):
        for cell, exp in [
            (
                "891f1d48177ffff",
                {
                    "8a1f1d481747fff",
                    "8a1f1d48174ffff",
                    "8a1f1d481757fff",
                    "8a1f1d48175ffff",
                    "8a1f1d481767fff",
                    "8a1f1d48176ffff",
                    "8a1f1d481777fff",
                },
            ),
            (
                "891f1d48167ffff",
                {
                    "8a1f1d481647fff",
                    "8a1f1d48164ffff",
                    "8a1f1d481657fff",
                    "8a1f1d48165ffff",
                    "8a1f1d481667fff",
                    "8a1f1d48166ffff",
                    "8a1f1d481677fff",
                },
            ),
        ]:
            b = geo.cell_to_boundary(ix.str_to_int([cell]))[0]
            assert set(ix.int_to_str(pg.polygon_to_cells([b], 10))) == exp
            assert len(pg.polygon_to_cells([b], 1)) == 0  # empty at res 1


class TestClassifiedCover:
    def test_interior_cells_fully_inside(self):
        """polygon_cover_cells_classified: every boundary vertex of every
        interior-marked cell lies inside the polygon, and counting via
        interior-bypass + band-ray-cast equals the direct ray cast."""
        ring = np.array(
            [(0.0, 0.0), (0.0, 4.0), (3.0, 4.0), (3.0, 0.0)], dtype=np.float64
        )
        cells, interior = pg.polygon_cover_cells_classified([ring], 6)
        assert interior.any() and (~interior).any()
        # full containment: all boundary vertices of interior cells inside
        rings_b = geo.cell_to_boundary(cells[interior])
        for b in rings_b:
            ins = pg.points_in_rings(b[:, 0], b[:, 1], [ring])
            assert ins.all()
        # equivalence on random points
        rng = np.random.default_rng(31)
        la = rng.uniform(-0.5, 3.5, 20000)
        lo = rng.uniform(-0.5, 4.5, 20000)
        par = geo.latlng_to_cell(la, lo, 6)
        direct = pg.points_in_rings(la, lo, [ring])
        via = np.isin(par, cells[interior]) | (
            np.isin(par, cells[~interior]) & direct
        )
        assert (via == direct).all()

    def test_hole_band_never_interior(self):
        shell = np.array(
            [(0.0, 0.0), (0.0, 4.0), (4.0, 4.0), (4.0, 0.0)], dtype=np.float64
        )
        hole = np.array(
            [(1.5, 1.5), (1.5, 2.5), (2.5, 2.5), (2.5, 1.5)], dtype=np.float64
        )
        cells, interior = pg.polygon_cover_cells_classified([shell, hole], 7)
        # no interior cell's center is inside the hole
        clat, clng = geo.cell_to_latlng(cells[interior])
        in_hole = pg.points_in_rings(clat, clng, [hole])
        assert not in_hole.any()
        # and vertices of interior cells are inside the holed polygon
        for b in geo.cell_to_boundary(cells[interior]):
            assert pg.points_in_rings(b[:, 0], b[:, 1], [shell, hole]).all()

    def test_planar_boundary_cells_never_interior(self):
        """Regression: the boundary band is densified along geodesic
        edges AND planar lat/lng edges — a long planar edge (lat=55
        across 20 deg of longitude) diverges ~0.4 deg from its geodesic,
        and cells crossed by the PLANAR boundary (the ray-cast/oracle
        semantics) must never be marked interior."""
        for y0, y1, x0, x1 in [(45.0, 55.0, -5.0, 15.0), (-40.0, -20.0, -60.0, -40.0)]:
            ring = np.array(
                [(y0, x0), (y0, x1), (y1, x1), (y1, x0)], dtype=np.float64
            )
            cells, interior = pg.polygon_cover_cells_classified([ring], 4)
            for b in geo.cell_to_boundary(cells[interior]):
                assert pg.points_in_rings(b[:, 0], b[:, 1], [ring]).all()


class TestTransmeridianHole:
    def test_hole_in_transmeridian_shell_subtracts(self):
        """A hole that does not itself span >180 deg must still shift
        into the transmeridian shell's longitude frame — per-ring
        shifting left it in the wrong frame and silently ignored it."""
        import numpy as np

        from sparkh3.kernel import polygon as pg

        shell = np.array(
            [(-5.0, 170.0), (-5.0, -170.0), (5.0, -170.0), (5.0, 170.0)]
        )
        hole = np.array(
            [(-1.0, -179.8), (-1.0, -179.0), (1.0, -179.0), (1.0, -179.8)]
        )
        lat = np.array([0.0, 0.0, 0.0])
        lng = np.array([-179.4, -175.0, 175.0])
        got = pg.points_in_rings(lat, lng, [shell, hole])
        # first point is inside the hole -> OUTSIDE the polygon
        assert got.tolist() == [False, True, True]

    def test_ring_matches_bfs_frontier(self):
        """grid_ring == the depth-k frontier of the single-BFS disk."""
        import numpy as np

        from sparkh3.kernel import geo as kgeo
        from sparkh3.kernel import traversal as tv

        cells = kgeo.latlng_to_cell(
            np.array([40.7, -33.9, 0.1]), np.array([-74.0, 151.2, 0.1]), 7
        )
        for k in (1, 2, 4):
            o_d, c_d, dist = tv.grid_disk_distances_grouped(cells, k)
            o_r, c_r = tv.grid_ring_grouped(cells, k)
            ring_from_disk = {
                (int(o), int(c))
                for o, c, d in zip(o_d, c_d, dist)
                if d == k
            }
            assert {(int(o), int(c)) for o, c in zip(o_r, c_r)} == ring_from_disk
            # disk sizes still the hexagonal closed form (no pentagons here)
            per_owner = np.bincount(o_d)
            assert all(int(x) == 1 + 3 * k * (k + 1) for x in per_owner)


def _sphere_cells(rng, n, res):
    """n uniform-on-the-sphere points encoded at res (deduped)."""
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
    lng = rng.uniform(-180.0, 180.0, n)
    return np.unique(geo.latlng_to_cell(lat, lng, res))


def _pentagons(res):
    base = ix.build_cell(
        np.array(sorted(ix.PENTAGON_BASE_CELLS), dtype=np.uint64),
        0,
        np.full((12, 15), 7, dtype=np.int64),
    )
    return ix.cell_to_center_child(base, res) if res else base


class TestLatticeNeighbors:
    @pytest.mark.parametrize("res", range(16))
    def test_lattice_steps_equal_edge_probe(self, res):
        """The lattice neighbor step (face coords + unit vectors, moved
        to the owning face, one encode) finds exactly the cells the
        geometric edge probe snaps to, de-duplicated and self-excluded:
        a seeded full-sphere sample plus every pentagon and the cells
        around it (icosahedron vertices, where faces and the deleted
        pentagon wedge meet)."""
        rng = np.random.default_rng(1000 + res)
        pent = _pentagons(res)
        assert ix.is_pentagon(pent).all()
        _, near = tv.grid_disk_grouped(pent, 2)
        cells = np.unique(
            np.concatenate([_sphere_cells(rng, 400, res), pent, near])
        )
        probe = tv._probe_neighbors(cells, res)
        want = {
            (i, int(c))
            for i in range(len(cells))
            for c in probe[i]
            if c != cells[i]
        }
        owner, nb = tv._neighbors_with_owner(cells)
        got = list(zip(owner.tolist(), nb.tolist()))
        assert len(got) == len(set(got))
        assert set(got) == want
        # sorted by (owner, neighbor), like every grouped traversal output
        assert got == sorted(got)
        counts = np.bincount(owner, minlength=len(cells))
        assert (counts == np.where(ix.is_pentagon(cells), 5, 6)).all()


class TestLatticeDisks:
    """The one-pass lattice disks and rings equal the BFS's. A lattice
    disk holding a pentagon, or wrapping past its faces, is wrong; those
    owners must take the BFS."""

    @staticmethod
    def _assert_equals_bfs(cells, k):
        got = tv.grid_disk_distances_grouped(cells, k)
        want = tv._disk_bfs(cells, k)
        for g, w in zip(got, want):
            assert np.array_equal(g, w)
        ring = want[2] == k
        o, c = tv.grid_ring_grouped(cells, k)
        assert np.array_equal(o, want[0][ring])
        assert np.array_equal(c, want[1][ring])

    @pytest.mark.parametrize("res", range(16))
    def test_full_sphere_sample(self, res):
        rng = np.random.default_rng(2000 + res)
        cells = _sphere_cells(rng, 100, res)
        for k in (0, 1, 2, 4, 8):
            self._assert_equals_bfs(cells, k)

    @pytest.mark.parametrize("res", range(16))
    def test_every_center_near_a_pentagon(self, res):
        """Every center within k+3 of each pentagon. The deleted wedge
        bends the lattice alike at every resolution of one class (odd
        or even) once a disk reaches no second pentagon, so the larger
        disks run at the coarse resolutions only: k = 4 at res 0-5 and
        k = 8 (the kNN certificate's disk) at res 0-1, where disks
        also wrap past their faces."""
        for k in (0, 1, 2, 4, 8):
            if k == 4 and res > 5 or k == 8 and res > 1:
                continue
            _, near = tv.grid_disk_grouped(_pentagons(res), k + 3)
            self._assert_equals_bfs(np.unique(near), k)


def _star(lat, lng, r_out, r_in, n=10):
    ang = np.arange(n) * 2 * np.pi / n + 0.3
    rad = np.where(np.arange(n) % 2 == 0, r_out, r_in)
    return np.stack([lat + rad * np.sin(ang), lng + rad * np.cos(ang)], axis=1)


class TestBatchedCover:
    # rectangles, a concave star, a transmeridian shell with a hole, a
    # polygon too small to hold a cell center and a degenerate ring
    POLYS = [
        [box(10.0, 45.0, 12.0, 46.5)],
        [box(-60.2, -30.0, -59.0, -29.1)],
        [_star(35.2, 138.3, 1.2, 0.5)],
        [
            np.array([(-3.0, 176.0), (-3.0, -176.0), (3.0, -176.0), (3.0, 176.0)]),
            np.array([(-1.0, 179.0), (-1.0, -179.0), (1.0, -179.0), (1.0, 179.0)]),
        ],
        [box(2.0, 2.0, 2.001, 2.001)],
        [np.array([(0.0, 0.0), (1.0, 1.0)])],
    ]

    @pytest.mark.parametrize("res", [3, 4, 6])
    def test_one_bfs_equals_one_call_per_polygon(self, res):
        for cover in (True, False):
            owner, cells, interior = pg.cover_bfs(self.POLYS, res, cover=cover)
            assert np.array_equal(np.lexsort((cells, owner)), np.arange(len(cells)))
            for o, rings in enumerate(self.POLYS):
                m = owner == o
                if cover:
                    want, want_int = pg.polygon_cover_cells_classified(rings, res)
                    assert np.array_equal(interior[m], want_int)
                else:
                    want = pg.polygon_to_cells(rings, res)
                assert np.array_equal(cells[m], want)
        # the tiny box holds no cell center; the degenerate ring owns nothing
        assert len(pg.polygon_to_cells(self.POLYS[4], res)) == 0
        assert len(pg.polygon_cover_cells(self.POLYS[4], res)) > 0
        assert len(pg.polygon_cover_cells(self.POLYS[5], res)) == 0
        # the hole subtracts: no center-inside cell has its center in it
        fill = pg.polygon_to_cells(self.POLYS[3], res)
        clat, clng = geo.cell_to_latlng(fill)
        assert len(fill) and not pg.points_in_rings(clat, clng, [self.POLYS[3][1]]).any()

    def test_multipolygon_is_union_of_parts(self):
        parts = [self.POLYS[0], self.POLYS[2], self.POLYS[5]]
        want = np.unique(
            np.concatenate([pg.polygon_to_cells(p, 4) for p in parts])
        )
        assert np.array_equal(pg.multipolygon_to_cells(parts, 4), want)
        assert len(pg.multipolygon_to_cells([], 4)) == 0
