"""Bit-math kernel goldens from the reference test suite
(/root/reference/tests/test_h3pandas.py:183-211,451-468,604-609)."""

import numpy as np
import pytest

from sparkh3.kernel import index as ix


def s2i(*cells):
    return ix.str_to_int(list(cells))


def i2s(arr):
    return list(ix.int_to_str(arr))


H3_CELLS_RES9 = ["891f1d48177ffff", "891f1d48167ffff", "891f1d4810fffff"]
INDEXED_RES9 = ["891e3097383ffff", "891e2659c2fffff"]


class TestResolutionBaseCell:
    def test_resolution(self):
        assert list(ix.get_resolution(s2i(*H3_CELLS_RES9))) == [9, 9, 9]

    def test_base_cell(self):
        # test_h3pandas.py:466 — base cell 15 for both indexed cells
        assert list(ix.get_base_cell(s2i(*INDEXED_RES9))) == [15, 15]


class TestParent:
    def test_parent_res1(self):
        got = i2s(ix.cell_to_parent(s2i(*H3_CELLS_RES9), 1))
        assert got == ["811f3ffffffffff"] * 3

    def test_direct_parent(self):
        got = i2s(ix.cell_to_parent(s2i(*H3_CELLS_RES9), 8))
        assert got == ["881f1d4817fffff", "881f1d4817fffff", "881f1d4811fffff"]

    def test_parent_res0(self):
        got = i2s(ix.cell_to_parent(s2i(*H3_CELLS_RES9), 0))
        assert got == ["801ffffffffffff"] * 3

    def test_parent_res_above_child_raises(self):
        with pytest.raises(ValueError):
            ix.cell_to_parent(s2i(*H3_CELLS_RES9), 10)


class TestCenterChild:
    def test_center_child(self):
        # test_h3pandas.py:205-211 (res 9 -> default next res 10)
        got = i2s(ix.cell_to_center_child(s2i(*INDEXED_RES9), 10))
        assert got == ["8a1e30973807fff", "8a1e2659c2c7fff"]


class TestValidity:
    def test_valid(self):
        assert ix.is_valid_cell(s2i(*INDEXED_RES9)).all()

    def test_invalid_string(self):
        v = ix.str_to_int(["891e3097383ffff", "invalid"])
        assert list(ix.is_valid_cell(v)) == [True, False]

    def test_invalid_trailing_digit(self):
        # decorator test golden: '891f1d48177fff1' is invalid (digit < 7 past res)
        v = ix.str_to_int(["891f1d48177fff1"])
        assert not ix.is_valid_cell(v)[0]

    def test_res0_valid(self):
        assert ix.is_valid_cell(s2i("801ffffffffffff", "8001fffffffffff")).all()

    def test_bad_base_cell(self):
        # base cell 122 is out of range
        h = ix.set_resolution(np.uint64(0), 0)
        h = (np.uint64(1) << np.uint64(59)) | (np.uint64(122) << np.uint64(45))
        h = h | np.uint64((1 << 45) - 1)
        assert not ix.is_valid_cell(np.array([h]))[0]


class TestLadder:
    """Multi-resolution ladder from reference docstrings/README:
    (50,14): res1 811e3ffffffffff, res8 881e309739fffff, res9 891e3097383ffff,
    res10 8a1e30973807fff."""

    def test_parent_chain(self):
        r10 = s2i("8a1e30973807fff")
        assert i2s(ix.cell_to_parent(r10, 9)) == ["891e3097383ffff"]
        assert i2s(ix.cell_to_parent(r10, 8)) == ["881e309739fffff"]
        assert i2s(ix.cell_to_parent(r10, 1)) == ["811e3ffffffffff"]


class TestChildrenCompact:
    def test_children_roundtrip(self):
        h = s2i("881f1d4817fffff")
        kids = ix.cell_to_children(h, 9)
        assert len(kids) == 7
        assert set(i2s(ix.cell_to_parent(kids, 8))) == {"881f1d4817fffff"}
        assert "891f1d48177ffff" in i2s(kids)
        assert "891f1d48167ffff" in i2s(kids)

    def test_compact_uncompact_roundtrip(self):
        h = s2i("811f3ffffffffff")
        kids = ix.uncompact_cells(h, 4)
        assert len(kids) == 7**3
        packed = ix.compact_cells(kids)
        assert i2s(packed) == ["811f3ffffffffff"]

    def test_compact_partial(self):
        h = s2i("811f3ffffffffff")
        kids = ix.uncompact_cells(h, 2)
        sub = kids[1:]  # drop one child -> cannot fully compact
        packed = ix.compact_cells(sub)
        assert len(packed) == 6
        assert set(i2s(packed)) == set(i2s(sub))

    def test_pentagon_children(self):
        # base cell 4 is a pentagon: res0 cell has 6 children at res 1
        pent = ix.build_cell(4, 0, np.full((1, 15), 7, dtype=np.int64))
        assert ix.is_pentagon(pent).all()
        kids = ix.cell_to_children(pent, 1)
        assert len(kids) == 6
        assert len(ix.cell_to_children(pent, 2)) == 1 + 5 * (49 - 1) // 6


class TestRotations:
    def test_rotate_inverse(self):
        h = s2i(*H3_CELLS_RES9)
        assert np.array_equal(ix.rotate60cw(ix.rotate60ccw(h)), h)

    def test_leading_digit(self):
        h = s2i("891e3097383ffff")
        lead = ix.leading_non_zero_digit(h)
        assert 1 <= int(lead[0]) <= 6


class TestGridDistance:
    def test_ring_membership_is_distance(self):
        import numpy as np

        from sparkh3.kernel import geo as kgeo
        from sparkh3.kernel import traversal as tv

        origin = int(kgeo.latlng_to_cell(np.array([40.75]), np.array([-73.99]), 8)[0])
        for k in (0, 1, 2, 4):
            ring = tv.grid_ring(origin, k)
            for c in ring.tolist()[:6]:
                assert tv.grid_distance(origin, int(c)) == k
                assert tv.grid_distance(int(c), origin) == k

    def test_identity(self):
        import numpy as np

        from sparkh3.kernel import geo as kgeo
        from sparkh3.kernel import traversal as tv

        c = int(kgeo.latlng_to_cell(np.array([10.0]), np.array([10.0]), 9)[0])
        assert tv.grid_distance(c, c) == 0


class TestDirectedEdges:
    def test_roundtrip_and_ring(self):
        import numpy as np

        from sparkh3.kernel import geo as kgeo
        from sparkh3.kernel import traversal as tv

        c = kgeo.latlng_to_cell(np.array([40.75]), np.array([-73.99]), 8)[0]
        edges = tv.origin_to_directed_edges(c)
        assert len(edges) == 6
        assert tv.is_valid_directed_edge(edges).all()
        assert (tv.edge_origin(edges) == c).all()
        dests = tv.edge_destination(edges)
        assert set(dests.tolist()) == set(tv.grid_ring(int(c), 1).tolist())
        back = tv.cells_to_directed_edge(
            np.full(len(dests), c, dtype=np.uint64), dests
        )
        assert set(back.tolist()) == set(edges.tolist())

    def test_pentagon_has_five(self):
        import numpy as np

        from sparkh3.kernel import traversal as tv

        # base cell 4 is a pentagon (kernel/constants.py:112); its res-0
        # id = mode 1, res 0, bc 4, all digits 7
        cell = np.uint64((1 << 59) | (4 << 45) | ((1 << 45) - 1))
        edges = tv.origin_to_directed_edges(cell)
        assert len(edges) == 5
        assert tv.is_valid_directed_edge(edges).all()

    def test_invalid_edges_and_nonadjacent(self):
        import numpy as np

        from sparkh3.kernel import geo as kgeo
        from sparkh3.kernel import traversal as tv

        a = kgeo.latlng_to_cell(np.array([10.0]), np.array([10.0]), 7)[0]
        far = kgeo.latlng_to_cell(np.array([50.0]), np.array([50.0]), 7)[0]
        with pytest.raises(ValueError):
            tv.cells_to_directed_edge(np.array([a]), np.array([far]))
        # a plain cell id is not a valid edge (mode 1); index 7 invalid
        bad = np.array([a, (a & ~np.uint64(0xF << 59)) | np.uint64(2 << 59)
                        | np.uint64(7 << 56)], dtype=np.uint64)
        assert not tv.is_valid_directed_edge(bad).any()

    def test_boundary_is_shared_segment(self):
        import numpy as np

        from sparkh3.kernel import geo as kgeo
        from sparkh3.kernel import traversal as tv

        c = kgeo.latlng_to_cell(np.array([48.0]), np.array([2.0]), 7)[0]
        e = tv.origin_to_directed_edges(c)[2]
        seg = tv.directed_edge_boundary(e)
        dest = tv.edge_destination(np.array([e], dtype=np.uint64))[0]
        # both endpoints lie on the destination's boundary too
        dverts = np.degrees(
            kgeo._boundary_verts_uniform(np.array([dest], dtype=np.uint64), 7)[0]
        )
        for pt in seg:
            d = np.abs(dverts - pt[None, :]).sum(axis=1)
            assert d.min() < 1e-9

    def test_spark_surface_roundtrip(self, spark):
        import numpy as np

        from pyspark.sql import functions as F

        from sparkh3 import functions as H3F
        from sparkh3.kernel import geo as kgeo
        from sparkh3.kernel import traversal as tv

        c = kgeo.latlng_to_cell(np.array([35.0]), np.array([139.0]), 7)[0]
        dests = tv.edge_destination(tv.origin_to_directed_edges(c))
        df = spark.createDataFrame(
            [(int(np.int64(c)), int(np.int64(d))) for d in dests],
            "o long, d long",
        )
        out = (
            df.withColumn("edge", H3F.cells_to_edge_udf()(F.col("o"), F.col("d")))
            .withColumn("o2", H3F.edge_origin_int(F.col("edge")))
            .withColumn("d2", H3F.edge_destination_udf()(F.col("edge")))
            .withColumn("k", H3F.edge_direction_int(F.col("edge")))
        ).collect()
        for r in out:
            assert r.o2 == r.o and r.d2 == r.d and 1 <= r.k <= 6
        # non-adjacent -> null edge
        far = int(np.int64(kgeo.latlng_to_cell(np.array([0.0]), np.array([0.0]), 7)[0]))
        row = spark.createDataFrame(
            [(int(np.int64(c)), far)], "o long, d long"
        ).select(H3F.cells_to_edge_udf()(F.col("o"), F.col("d")).alias("e")).collect()
        assert row[0].e is None

    def test_od_flow_rollup_composition(self, spark):
        """Directed edges as OD-flow join keys: synthetic movements
        between adjacent cells -> ONE int64 edge id each -> groupBy edge
        -> flow counts, with origin/direction re-derived by native bit
        math (no Python in the rollup)."""
        import numpy as np

        from pyspark.sql import functions as F

        from sparkh3 import functions as H3F
        from sparkh3.kernel import geo as kgeo
        from sparkh3.kernel import traversal as tv

        c = kgeo.latlng_to_cell(np.array([40.75]), np.array([-73.99]), 7)[0]
        dests = tv.edge_destination(tv.origin_to_directed_edges(c))
        moves = [
            (int(np.int64(c)), int(np.int64(dests[i % len(dests)])))
            for i in range(60)
        ]
        df = spark.createDataFrame(moves, "o long, d long")
        flows = (
            df.withColumn("edge", H3F.cells_to_edge_udf()(F.col("o"), F.col("d")))
            .groupBy("edge")
            .agg(F.count("*").alias("n"))
            .withColumn("origin", H3F.edge_origin_int(F.col("edge")))
            .withColumn("dir", H3F.edge_direction_int(F.col("edge")))
        )
        rows = flows.collect()
        assert len(rows) == 6 and all(r.n == 10 for r in rows)
        assert all(r.origin == int(np.int64(c)) for r in rows)
        assert sorted(r.dir for r in rows) == [1, 2, 3, 4, 5, 6]
        # the post-encode rollup plan is pure JVM (one Python eval node
        # for the encode, none after)
        plan = flows._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]  # AQE prints both
        assert final.count("ArrowEvalPython") <= 1
