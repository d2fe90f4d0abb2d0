"""S2 cell index: structural goldens from the published id layout,
roundtrip/containment/continuity properties, and the Spark surface.

Goldens that are published facts of the S2 scheme:
* face cells are ids (2k+1) << 60 with tokens '1','3','5','7','9','b';
* the leaf cell containing (0, 0) is 0x1000000000000001 (center of
  face 0);
* Manhattan-area leaf tokens start with '89c2' (the documented S2
  covering prefix for New York).
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkh3.kernel import s2


class TestGoldens:
    def test_face_cells(self):
        fc = np.array([(2 * k + 1) << 60 for k in range(6)], dtype=np.uint64)
        assert (s2.get_level(fc) == 0).all()
        assert list(s2.get_face(fc)) == [0, 1, 2, 3, 4, 5]
        assert list(s2.cell_to_token(fc)) == ["1", "3", "5", "7", "9", "b"]
        assert s2.is_valid_cell(fc).all()

    def test_origin_leaf(self):
        c = s2.latlng_to_cell(0.0, 0.0, 30)
        assert int(c[0]) == 0x1000000000000001

    def test_nyc_token_prefix(self):
        c = s2.latlng_to_cell(40.7580, -73.9855, 30)  # Times Square
        assert s2.cell_to_token(c)[0].startswith("89c2")

    def test_invalid_cells(self):
        bad = np.array(
            [0, 6 << 61, (1 << 63), 2 << 61], dtype=np.uint64
        )  # zero, face 6, face-bit-only ids
        assert not s2.is_valid_cell(bad).any()


class TestProperties:
    @settings(max_examples=150, deadline=None)
    @given(
        st.floats(min_value=-89.9, max_value=89.9),
        st.floats(min_value=-179.9, max_value=179.9),
        st.integers(min_value=0, max_value=30),
    )
    def test_roundtrip_and_containment(self, lat, lng, level):
        c = s2.latlng_to_cell(lat, lng, level)
        assert s2.is_valid_cell(c).all()
        assert int(s2.get_level(c)[0]) == level
        # center decodes back into the SAME cell
        la, lo = s2.cell_to_latlng(c)
        assert int(s2.latlng_to_cell(la, lo, level)[0]) == int(c[0])
        # ancestor bit math == direct coarse encode
        leaf = s2.latlng_to_cell(lat, lng, 30)
        assert int(s2.cell_to_parent(leaf, level)[0]) == int(c[0])
        # leaf sits inside the ancestor's descendant range
        lo_r, hi_r = s2.descendant_range(c)
        assert lo_r[0] <= leaf[0] <= hi_r[0]

    def test_children_partition_parent(self):
        lat = np.array([40.75, -33.86, 0.01, 71.0])
        lng = np.array([-73.99, 151.2, 0.01, -42.0])
        par = s2.latlng_to_cell(lat, lng, 12)
        ch = s2.cell_to_children(par).reshape(-1, 4)
        assert (s2.get_level(ch.ravel()) == 13).all()
        lo, hi = s2.descendant_range(par)
        for r in range(len(par)):
            clo, chi = s2.descendant_range(ch[r])
            # children's leaf ranges tile the parent's exactly
            assert clo.min() == lo[r] and chi.max() == hi[r]
            order = np.argsort(ch[r])
            # consecutive leaf ids differ by 2 (odd trailing bit)
            assert (chi[order][:-1] + 2 == clo[order][1:]).all()

    def test_curve_continuity(self):
        """Consecutive leaf ids map to spatially adjacent points — the
        Hilbert locality property that makes id-range pruning work."""
        base = s2.latlng_to_cell(np.array([10.0]), np.array([20.0]), 30)
        seq = base[0] + np.arange(0, 4000, 2).astype(np.uint64) * np.uint64(2)
        la, lo = s2.cell_to_latlng(seq)
        step = np.hypot(np.diff(la), np.diff(lo))
        assert step.max() < 1e-5


class TestCovering:
    def test_fixed_level_and_sorted(self):
        cov = s2.rect_covering(38.0, 43.0, -77.0, -71.0, 7)
        assert (s2.get_level(cov) == 7).all()
        assert (np.diff(cov.view(np.uint64).astype(object)) > 0).all()

    @settings(max_examples=60, deadline=None)
    @given(
        st.floats(min_value=-85.0, max_value=80.0),
        st.floats(min_value=-180.0, max_value=175.0),
        st.floats(min_value=0.5, max_value=12.0),
        st.floats(min_value=0.5, max_value=15.0),
        st.integers(min_value=2, max_value=9),
        st.integers(min_value=0, max_value=2**32),
    )
    def test_covering_is_superset(self, y0, dx_lat, dy, dx, level, seed):
        """The coverer's one hard contract: EVERY point inside the rect
        has its level-L ancestor in the covering (no false negatives —
        over-approximation is allowed, misses are not)."""
        y1 = min(y0 + dy, 90.0)
        x0 = dx_lat * 29.0 - 180.0  # spread rect starts over the globe
        x0 = max(-180.0, min(x0, 179.0))
        x1 = min(x0 + dx, 180.0)
        cov = s2.rect_covering(y0, y1, x0, x1, level)
        rng = np.random.default_rng(seed)
        la = rng.uniform(y0, y1, 400)
        lo = rng.uniform(x0, x1, 400)
        par = s2.cell_to_parent(s2.latlng_to_cell(la, lo, 30), level)
        assert np.isin(par, cov).all()

    def test_antimeridian_wrap_and_pole(self):
        wrap = s2.rect_covering(-10.0, 10.0, 170.0, -170.0, 6)
        rng = np.random.default_rng(3)
        la = rng.uniform(-10, 10, 1000)
        lo = np.where(rng.random(1000) < 0.5, 1, -1) * rng.uniform(170, 180, 1000)
        par = s2.cell_to_parent(s2.latlng_to_cell(la, lo, 30), 6)
        assert np.isin(par, wrap).all()
        pole = s2.rect_covering(85.0, 90.0, -180.0, 180.0, 5)
        la2 = rng.uniform(85, 89.99, 1000)
        lo2 = rng.uniform(-180, 180, 1000)
        par2 = s2.cell_to_parent(s2.latlng_to_cell(la2, lo2, 30), 5)
        assert np.isin(par2, pole).all()

    @settings(max_examples=40, deadline=None)
    @given(
        st.floats(min_value=-88.0, max_value=88.0),
        st.floats(min_value=-180.0, max_value=180.0),
        st.floats(min_value=5.0, max_value=1500.0),
        st.integers(min_value=2, max_value=9),
        st.integers(min_value=0, max_value=2**32),
    )
    def test_cap_covering_is_superset(self, clat, clng, rkm, level, seed):
        cov = s2.cap_covering(clat, clng, rkm, level)
        rng = np.random.default_rng(seed)
        # sample points inside the cap: random bearing + radius
        br = rng.uniform(0, 2 * np.pi, 300)
        rr = rkm / s2.EARTH_RADIUS_KM * np.sqrt(rng.random(300))
        la1 = np.radians(clat)
        la2 = np.arcsin(
            np.sin(la1) * np.cos(rr) + np.cos(la1) * np.sin(rr) * np.cos(br)
        )
        lo2 = np.radians(clng) + np.arctan2(
            np.sin(br) * np.sin(rr) * np.cos(la1),
            np.cos(rr) - np.sin(la1) * np.sin(la2),
        )
        la = np.degrees(la2)
        lo = (np.degrees(lo2) + 180.0) % 360.0 - 180.0
        par = s2.cell_to_parent(s2.latlng_to_cell(la, lo, 30), level)
        assert np.isin(par, cov).all()

    def test_cap_bad_inputs(self):
        with pytest.raises(ValueError):
            s2.cap_covering(0.0, 0.0, -1.0, 7)
        with pytest.raises(ValueError):
            s2.cap_covering(0.0, 0.0, 10.0, 31)

    def test_merge_ranges(self):
        cov = s2.rect_covering(38.0, 43.0, -77.0, -71.0, 7)
        lo, hi = s2.merge_ranges(cov)
        # disjoint, sorted, and strictly fewer intervals than cells
        assert (lo <= hi).all() and (lo[1:] > hi[:-1]).all()
        assert len(lo) < len(cov)
        # every covering cell's leaf range is inside some merged range
        clo, chi = s2.descendant_range(cov)
        idx = np.searchsorted(lo, clo, side="right") - 1
        assert (clo >= lo[idx]).all() and (chi <= hi[idx]).all()

    def test_merge_ranges_nested_input(self):
        """A parent plus its own children must collapse to the parent's
        single range (running-max merge, not adjacent-only)."""
        parent = s2.latlng_to_cell(40.0, -73.0, 6)
        mixed = np.concatenate([parent, s2.cell_to_children(parent)])
        lo, hi = s2.merge_ranges(mixed)
        plo, phi = s2.descendant_range(parent)
        assert len(lo) == 1 and lo[0] == plo[0] and hi[0] == phi[0]

    def test_polygon_covering_is_superset_concave(self):
        """polygon_covering's one hard contract (same as rect/cap):
        every point inside the planar polygon has its level-L ancestor in
        the covering — including a CONCAVE ring."""
        arrow = [(0.0, 0.0), (10.0, 0.0), (5.0, 4.0), (10.0, 8.0), (0.0, 8.0)]
        cov = s2.polygon_covering(arrow, 8)
        assert (s2.get_level(cov) == 8).all()
        plat = np.array([p[0] for p in arrow] + [arrow[0][0]])
        plng = np.array([p[1] for p in arrow] + [arrow[0][1]])
        rng = np.random.default_rng(7)
        la = rng.uniform(0, 10, 30000)
        lo = rng.uniform(0, 8, 30000)
        ins = s2._point_in_ring(lo, la, plng, plat)
        par = s2.cell_to_parent(s2.latlng_to_cell(la[ins], lo[ins], 30), 8)
        assert np.isin(par, cov).all()

    def test_polygon_covering_rect_parity(self):
        """A rect given as a 4-vertex ring must cover at least every cell
        the dedicated rect coverer returns (same hull test, same BFS)."""
        cov_p = s2.polygon_covering(
            [(38.0, -77.0), (38.0, -71.0), (43.0, -71.0), (43.0, -77.0)], 7
        )
        cov_r = s2.rect_covering(38.0, 43.0, -77.0, -71.0, 7)
        assert np.isin(cov_r, cov_p).all()

    def test_polygon_covering_antimeridian(self):
        """Ring in continuous longitude (170..190) covers points on both
        sides of the wrap."""
        quad = [(-15.0, 170.0), (-15.0, 190.0), (5.0, 190.0), (5.0, 170.0)]
        cov = s2.polygon_covering(quad, 6)
        rng = np.random.default_rng(9)
        la = rng.uniform(-15, 5, 4000)
        lo = rng.uniform(170, 190, 4000)
        lo = np.where(lo > 180, lo - 360, lo)
        par = s2.cell_to_parent(s2.latlng_to_cell(la, lo, 30), 6)
        assert np.isin(par, cov).all()

    def test_polygon_covering_bad_inputs(self):
        with pytest.raises(ValueError, match="3 vertices"):
            s2.polygon_covering([(0.0, 0.0), (1.0, 1.0)], 5)
        with pytest.raises(ValueError, match="level"):
            s2.polygon_covering([(0.0, 0.0), (1.0, 0.0), (0.0, 1.0)], 31)
        with pytest.raises(ValueError, match="latitudes"):
            s2.polygon_covering([(95.0, 0.0), (1.0, 0.0), (0.0, 1.0)], 5)

    def test_classified_rect_interior(self):
        """Interior cells (hull proven inside) really are inside: every
        vertex of every interior cell lies in the rect, and counting via
        interior-bypass + boundary-residual equals the direct count."""
        rect = (38.0, 43.0, -77.0, -71.0)
        cov, interior = s2.rect_covering_classified(*rect, 8)
        assert interior.any() and (~interior).any()
        vlat, vlng = s2.cell_vertices_latlng(cov[interior])
        assert (vlat >= rect[0]).all() and (vlat <= rect[1]).all()
        assert (vlng >= rect[2]).all() and (vlng <= rect[3]).all()
        rng = np.random.default_rng(21)
        la = rng.uniform(37.0, 44.0, 20000)
        lo = rng.uniform(-78.0, -70.0, 20000)
        par = s2.cell_to_parent(s2.latlng_to_cell(la, lo, 30), 8)
        in_rect = (
            (la >= rect[0]) & (la <= rect[1])
            & (lo >= rect[2]) & (lo <= rect[3])
        )
        via = np.isin(par, cov[interior]) | (
            np.isin(par, cov[~interior]) & in_rect
        )
        assert (via == in_rect).all()

    def test_classified_polygon_interior(self):
        tri = [(38.0, -76.0), (40.5, -70.5), (43.0, -75.0)]
        cov, interior = s2.polygon_covering_classified(tri, 8)
        assert interior.any() and (~interior).any()
        plat = np.array([p[0] for p in tri] + [tri[0][0]])
        plng = np.array([p[1] for p in tri] + [tri[0][1]])
        # every vertex of every interior cell is inside the ring
        vlat, vlng = s2.cell_vertices_latlng(cov[interior])
        ins = s2._point_in_ring(
            vlng.ravel(), vlat.ravel(), plng, plat
        )
        assert ins.all()
        # equivalence: interior-bypass + boundary-residual == direct PIP
        rng = np.random.default_rng(23)
        la = rng.uniform(37.0, 44.0, 20000)
        lo = rng.uniform(-77.0, -70.0, 20000)
        par = s2.cell_to_parent(s2.latlng_to_cell(la, lo, 30), 8)
        in_poly = s2._point_in_ring(lo, la, plng, plat)
        via = np.isin(par, cov[interior]) | (
            np.isin(par, cov[~interior]) & in_poly
        )
        assert (via == in_poly).all()

    def test_polygon_covering_hole(self):
        """Holed covering ([shell, hole] ring list): still a superset of
        the even-odd region; cells PROVEN fully inside the hole are
        dropped; interior-bypass + boundary-residual reproduces the
        exact even-odd membership for every sampled point."""
        from sparkh3.kernel import polygon as kpoly

        shell = [(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0)]
        hole = [(3.0, 3.0), (3.0, 7.0), (7.0, 7.0), (7.0, 3.0)]
        cov_s = s2.polygon_covering(shell, 8)
        cov_h = s2.polygon_covering([shell, hole], 8)
        assert np.isin(cov_h, cov_s).all()
        assert len(cov_h) < len(cov_s)  # the hole really drops cells
        rng = np.random.default_rng(31)
        la = rng.uniform(-1.0, 11.0, 30000)
        lo = rng.uniform(-1.0, 11.0, 30000)
        ins = kpoly.points_in_rings(la, lo, [shell, hole])
        par = s2.cell_to_parent(s2.latlng_to_cell(la[ins], lo[ins], 30), 8)
        assert np.isin(par, cov_h).all()  # superset survives the drop
        cov, interior = s2.polygon_covering_classified([shell, hole], 8)
        assert set(cov.tolist()) == set(cov_h.tolist())
        assert interior.any() and (~interior).any()
        par_all = s2.cell_to_parent(s2.latlng_to_cell(la, lo, 30), 8)
        via = np.isin(par_all, cov[interior]) | (
            np.isin(par_all, cov[~interior]) & ins
        )
        assert (via == ins).all()

    def test_nested_holes_rejected(self):
        """Islands-in-holes violate the GeoJSON polygon contract the
        drop rule relies on ('fully inside a hole' must prove a cell is
        outside the region) — nested rings raise instead of silently
        under-covering."""
        shell = [(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0)]
        hole = [(2.0, 2.0), (2.0, 8.0), (8.0, 8.0), (8.0, 2.0)]
        island = [(4.0, 4.0), (4.0, 6.0), (6.0, 6.0), (6.0, 4.0)]
        with pytest.raises(ValueError, match="MultiPolygon"):
            s2.polygon_covering([shell, hole, island], 8)
        with pytest.raises(ValueError, match="MultiPolygon"):
            s2.polygon_covering_classified([shell, hole, island], 8)
        # disjoint holes stay fine
        h2 = [(1.0, 8.5), (1.0, 9.5), (2.0, 9.5), (2.0, 8.5)]
        assert len(s2.polygon_covering([shell, hole, h2], 8)) > 0

    def test_parent_level_guard(self):
        """Asking for a 'parent' FINER than the cell's own level must
        raise, not fabricate a descendant-positioned id."""
        c10 = s2.latlng_to_cell(40.0, -73.0, 10)
        with pytest.raises(ValueError, match="finer"):
            s2.cell_to_parent(c10, 11)
        # equal level is the identity, coarser is fine
        assert int(s2.cell_to_parent(c10, 10)[0]) == int(c10[0])
        assert int(s2.get_level(s2.cell_to_parent(c10, 3))[0]) == 3
        with pytest.raises(ValueError, match="level"):
            s2.cell_to_parent(c10, 31)

    def test_near_pole_band_covering(self):
        """A sub-pole band (touching neither pole pixel) exercises the
        near-pole full-longitude fallback: cells whose expanded lat hull
        crosses 89.9 deg go full-circle instead of trusting the clamped
        cosine expansion."""
        rng = np.random.default_rng(11)
        cov = s2.rect_covering(89.3, 89.95, -180.0, 180.0, 6)
        la = rng.uniform(89.3, 89.95, 2000)
        lo = rng.uniform(-180, 180, 2000)
        par = s2.cell_to_parent(s2.latlng_to_cell(la, lo, 30), 6)
        assert np.isin(par, cov).all()

    def test_bad_inputs(self):
        with pytest.raises(ValueError):
            s2.rect_covering(10.0, 5.0, 0.0, 1.0, 7)
        with pytest.raises(ValueError):
            s2.rect_covering(0.0, 1.0, 0.0, 1.0, 31)
        lo, hi = s2.merge_ranges(np.array([], dtype=np.uint64))
        assert len(lo) == 0 and len(hi) == 0


class TestSparkSurface:
    def test_udfs_match_kernel(self, spark):
        from pyspark.sql import functions as F

        from sparkh3 import functions as H3F

        pts = [(i, 40.0 + i * 0.37, -73.0 + i * 1.13) for i in range(50)]
        df = spark.createDataFrame(pts, ["id", "lat", "lng"])
        out = (
            df.withColumn("c12", H3F.latlng_to_s2_udf(12)("lat", "lng"))
            .withColumn("p6", H3F.s2_parent_int(F.col("c12"), 6))
            .withColumn("tok", H3F.s2_token_udf()(F.col("c12")))
            .withColumn("ctr", H3F.s2_to_latlng_udf()(F.col("c12")))
            .collect()
        )
        la = np.array([p[1] for p in pts])
        lo = np.array([p[2] for p in pts])
        want12 = s2.latlng_to_cell(la, lo, 12).view(np.int64)
        want6 = s2.cell_to_parent(want12.view(np.uint64), 6).view(np.int64)
        toks = s2.cell_to_token(want12.view(np.uint64))
        cla, clo = s2.cell_to_latlng(want12.view(np.uint64))
        for r, w12, w6, t, wl, wo in zip(out, want12, want6, toks, cla, clo):
            assert r.c12 == w12 and r.p6 == w6 and r.tok == t
            assert abs(r.ctr.lat - wl) < 1e-12 and abs(r.ctr.lng - wo) < 1e-12

    def test_decode_udf_preserves_fine_levels(self, spark):
        """Regression: routing int64 ids through float64 keeps only 52
        mantissa bits, so level>=26 cells (every id >= 2^60 with live
        low bits) silently decoded as a coarser shifted cell. The decode
        UDF must round-trip leaf (level-30) cells exactly, nulls intact."""
        from pyspark.sql import functions as F

        from sparkh3 import functions as H3F

        pts = [(i, 40.0 + i * 0.003, -73.0 + i * 0.007) for i in range(20)]
        df = spark.createDataFrame(pts, ["id", "lat", "lng"]).withColumn(
            "c30",
            F.when(
                F.col("id") != 7, H3F.latlng_to_s2_udf(30)("lat", "lng")
            ),
        )
        out = df.withColumn(
            "ctr", H3F.s2_to_latlng_udf()(F.col("c30"))
        ).collect()
        for r in out:
            if r.id == 7:
                assert r.c30 is None and r.ctr is None
                continue
            leaf = np.uint64(np.int64(r.c30).view(np.uint64))
            wl, wo = s2.cell_to_latlng(np.array([leaf]))
            assert abs(r.ctr.lat - wl[0]) < 1e-12
            assert abs(r.ctr.lng - wo[0]) < 1e-12
            # decoded center re-encodes to the SAME leaf id
            back = s2.latlng_to_cell(r.ctr.lat, r.ctr.lng, 30)
            assert int(back[0]) == int(leaf)

    def test_token_roundtrip_and_native_level(self, spark):
        from pyspark.sql import functions as F

        from sparkh3 import functions as H3F

        pts = [(i, 40.0 + i * 0.37, -73.0 + i * 1.13) for i in range(30)]
        df = spark.createDataFrame(pts, ["id", "lat", "lng"]).withColumn(
            "c", F.when(F.col("id") != 3, H3F.latlng_to_s2_udf(12)("lat", "lng"))
        )
        out = (
            df.withColumn("tok", H3F.s2_token_udf()(F.col("c")))
            .withColumn("back", H3F.s2_token_to_cell_udf()(F.col("tok")))
            .withColumn("lvl", H3F.s2_level_int(F.col("c")))
            .collect()
        )
        for r in out:
            if r.id == 3:
                assert r.c is None and r.back is None and r.lvl is None
                continue
            assert r.back == r.c  # token round-trip exact
            assert r.lvl == 12  # native level == encode level

    def test_level_int_all_levels(self, spark):
        """s2_level_int at EVERY level 0..30: the log2-based ctz must
        round (not truncate) so a sub-ulp-low libm log2 can never slip
        one level — this sweeps every lsb position the math can see."""
        from pyspark.sql import functions as F

        from sparkh3 import functions as H3F
        from sparkh3.kernel import s2

        rows = []
        for lvl in range(31):
            cell = s2.latlng_to_cell(
                np.array([37.7 + lvl * 0.3]), np.array([-122.4 + lvl * 0.7]), lvl
            )
            rows.append((lvl, int(np.int64(cell[0].view(np.int64)))))
        df = spark.createDataFrame(rows, "expected: int, c: long")
        got = df.withColumn("lvl", H3F.s2_level_int(F.col("c"))).collect()
        for r in got:
            assert r.lvl == r.expected, (r.expected, r.lvl)

    def test_parent_null_safe(self, spark):
        from pyspark.sql import functions as F

        from sparkh3 import functions as H3F

        df = spark.createDataFrame([(None,), (1 << 60,)], "c: long")
        got = df.select(H3F.s2_parent_int(F.col("c"), 0).alias("p")).collect()
        assert got[0].p is None and got[1].p == (1 << 60)
