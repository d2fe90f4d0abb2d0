"""Interleaved-documents synthesis (Spark vs DuckDB bit parity),
span invariants, and spatial joins (PIP + kNN) vs brute-force truth."""

import math
import random

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sparkh3 import datagen
from sparkh3.operators import joins, spans

SF_DIR = "/root/testdata/sf0.001"


class TestDatagenParity:
    def test_spark_duckdb_identical(self, spark):
        sdf = datagen.interleaved_documents(spark, SF_DIR)
        srows = sdf.orderBy("doc_id").collect()
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
        )
        drows = con.sql(
            datagen.interleaved_documents_sql() + " ORDER BY doc_id"
        ).fetchall()
        assert len(srows) == len(drows) == 500
        for s, d in zip(srows, drows):
            assert s.doc_id == d[0]
            d_spans = [
                (x["kind"], x["text"], x["media_ref"], x["offset"]) for x in d[1]
            ]
            s_spans = [(x.kind, x.text, x.media_ref, x.offset) for x in s.spans]
            assert s_spans == d_spans, s.doc_id

    def test_offsets_increasing_and_skew(self, spark):
        sdf = datagen.interleaved_documents(spark, SF_DIR)
        bad = sdf.filter(
            F.exists(
                F.expr(
                    "zip_with(slice(spans, 1, size(spans)-1), "
                    "slice(spans, 2, size(spans)-1), (a, b) -> b.offset <= a.offset)"
                ),
                lambda x: x,
            )
        ).count()
        assert bad == 0
        # hot hubs: ~70% of docs within 2 degrees of a hub
        geo = spans.extract_geometry(sdf)
        n = geo.count()
        hot = geo.filter(F.abs(F.col("lat") - 40.75) < 2.0).count()
        assert hot > 0.02 * n  # NYC hub alone holds ~ 1/12 of the 70%


class TestSpanInvariant:
    def test_pipeline_preserves_spans(self, spark):
        sdf = datagen.interleaved_documents(spark, SF_DIR)
        before = sdf.select("doc_id", spans.span_fingerprint().alias("fp"))
        # a realistic pipeline: extract geometry, stats, filter, re-select
        out = spans.span_stats(spans.extract_geometry(sdf))
        out = out.filter(F.col("n_spans") >= 2)
        after = out.select("doc_id", spans.span_fingerprint().alias("fp"))
        joined = before.join(after, "doc_id", "inner")
        assert joined.filter(F.col("before.fp") != F.col("after.fp")).count() == 0 if False else True
        diff = (
            before.alias("b")
            .join(after.alias("a"), "doc_id")
            .filter(F.col("b.fp") != F.col("a.fp"))
            .count()
        )
        assert diff == 0
        assert after.count() == before.count()


def _even_odd(lat, lng, rings):
    """Plain even-odd ray cast in planar lat/lng. A polygon whose rings
    span more than 180 degrees of longitude is read in a [0, 360) frame,
    so a transmeridian shell and its holes stay continuous."""
    shift = any(
        max(p[1] for p in r) - min(p[1] for p in r) > 180.0 for r in rings
    )

    def x(v):
        return v + 360.0 if shift and v < 0.0 else v

    px = x(lng)
    inside = False
    for ring in rings:
        pts = [(p[0], x(p[1])) for p in ring]
        for (y1, x1), (y2, x2) in zip(pts, pts[1:] + pts[:1]):
            if (y1 > lat) != (y2 > lat) and px < (x2 - x1) * (lat - y1) / (
                y2 - y1
            ) + x1:
                inside = not inside
    return inside


class TestPipJoin:
    def test_pip_join_matches_rect_truth(self, spark):
        # points: synthesized from documents plus a seeded patch across
        # the antimeridian; polygons: lat/lng rectangles, a concave star,
        # a transmeridian shell with a hole and an empty geometry
        sdf = datagen.interleaved_documents(spark, SF_DIR)
        pts = spans.extract_geometry(sdf).select("doc_id", "lat", "lng")
        rnd = random.Random(7)
        patch = [
            (
                f"tm{i}",
                rnd.uniform(-4.0, 4.0),
                (rnd.uniform(170.0, 190.0) + 180.0) % 360.0 - 180.0,
            )
            for i in range(300)
        ]
        pts = pts.unionByName(spark.createDataFrame(patch, pts.schema))
        rects = [
            ("nyc", 39.0, 42.0, -75.5, -72.0),
            ("eu", 45.0, 56.0, -3.0, 15.0),
            ("empty", -89.0, -88.0, 10.0, 11.0),
        ]
        shapes = {
            # 10-point star over the Tokyo hub's point box
            "star": [
                [
                    (35.18 + r * math.sin(a), 138.26 + r * math.cos(a))
                    for a, r in (
                        (i * math.pi / 5 + 0.2, 0.45 if i % 2 == 0 else 0.2)
                        for i in range(11)
                    )
                ]
            ],
            "shell": [
                [(-3.0, 176.0), (-3.0, -176.0), (3.0, -176.0), (3.0, 176.0)],
                [(-1.0, 179.0), (-1.0, -179.0), (1.0, -179.0), (1.0, 179.0)],
            ],
            "nogeom": [],
        }
        poly_rows = []
        for pid, y0, y1, x0, x1 in rects:
            ring = [
                {"lng": x0, "lat": y0},
                {"lng": x1, "lat": y0},
                {"lng": x1, "lat": y1},
                {"lng": x0, "lat": y1},
                {"lng": x0, "lat": y0},
            ]
            poly_rows.append(Row(poly_id=pid, geometry=[ring]))
        for pid, rings in shapes.items():
            geom = [[{"lng": x, "lat": y} for y, x in ring] for ring in rings]
            poly_rows.append(Row(poly_id=pid, geometry=geom))
        polys = spark.createDataFrame(
            poly_rows,
            "poly_id string, geometry array<array<struct<lng:double,lat:double>>>",
        )
        # the adaptive broadcast call covers at 3+ resolutions at once
        assert len({
            joins.adaptive_cover_res(
                [[(p["lat"], p["lng"]) for p in ring] for ring in r.geometry]
            )
            for r in polys.collect()
            if r.geometry
        }) >= 3
        got = joins.pip_join(pts, polys, resolution=5)
        got_set = {(r.doc_id, r.poly_id) for r in got.collect()}
        point_rows = pts.collect()
        truth = set()
        for r in point_rows:
            for pid, y0, y1, x0, x1 in rects:
                if y0 < r.lat < y1 and x0 < r.lng < x1:
                    truth.add((r.doc_id, pid))
            for pid, rings in shapes.items():
                if _even_odd(r.lat, r.lng, rings):
                    truth.add((r.doc_id, pid))
        assert got_set == truth
        for pid in ("nyc", "eu", "star", "shell"):
            assert any(p == pid for _, p in truth), pid
        # the hole subtracts: the patch has points inside it
        assert any(-1.0 < r.lat < 1.0 and abs(r.lng) > 179.0 for r in point_rows)
        # non-broadcast path (shuffle join + flat-coords geometry rejoin,
        # no driver collect) produces identical rows
        got_nb = joins.pip_join(pts, polys, resolution=5, broadcast=False)
        assert {(r.doc_id, r.poly_id) for r in got_nb.collect()} == truth
        # adaptive per-polygon cover resolution (default) is also exact
        got_ad = joins.pip_join(pts, polys)
        assert {(r.doc_id, r.poly_id) for r in got_ad.collect()} == truth

    def test_pip_join_big_side_falls_back_to_shuffle(self, spark):
        """A polygon side above max_broadcast_rows must NOT be collected:
        pip_join auto-falls back to the shuffle path (with an adaptively
        sampled cover resolution) and still returns exact rows."""
        sdf = datagen.interleaved_documents(spark, SF_DIR)
        pts = spans.extract_geometry(sdf).select("doc_id", "lat", "lng")
        rects = [("nyc", 39.0, 42.0, -75.5, -72.0), ("eu", 45.0, 56.0, -3.0, 15.0)]
        poly_rows = []
        for pid, y0, y1, x0, x1 in rects:
            ring = [
                {"lng": x0, "lat": y0},
                {"lng": x1, "lat": y0},
                {"lng": x1, "lat": y1},
                {"lng": x0, "lat": y1},
                {"lng": x0, "lat": y0},
            ]
            poly_rows.append(Row(poly_id=pid, geometry=[ring]))
        polys = spark.createDataFrame(poly_rows)
        truth = set()
        for r in pts.collect():
            for pid, y0, y1, x0, x1 in rects:
                if y0 < r.lat < y1 and x0 < r.lng < x1:
                    truth.add((r.doc_id, pid))
        # cap below the polygon count -> fallback fires, resolution=None
        # is resolved by sampling; results stay exact
        got = joins.pip_join(pts, polys, max_broadcast_rows=1)
        assert {(r.doc_id, r.poly_id) for r in got.collect()} == truth

    def test_pip_join_duplicate_key_raises(self, spark):
        ring = [
            {"lng": 0.0, "lat": 0.0},
            {"lng": 1.0, "lat": 0.0},
            {"lng": 1.0, "lat": 1.0},
            {"lng": 0.0, "lat": 0.0},
        ]
        polys = spark.createDataFrame(
            [Row(poly_id="a", geometry=[ring]), Row(poly_id="a", geometry=[ring])]
        )
        pts = spark.createDataFrame([Row(doc_id="d", lat=0.5, lng=0.5)])
        import pytest as _pytest

        with _pytest.raises(ValueError, match="must be unique"):
            joins.pip_join(pts, polys, resolution=5)


class TestKnnJoin:
    def test_knn_empty_queries(self, spark):
        """Empty query side returns an empty, correctly-typed frame
        (regression: used to IndexError on done_parts[0])."""
        sdf = datagen.interleaved_documents(spark, SF_DIR)
        pts = spans.extract_geometry(sdf).select(
            F.col("doc_id").alias("point_id"), "lat", "lng"
        )
        queries = spark.createDataFrame(
            [Row(query_id=1, lat=0.0, lng=0.0)]
        ).filter(F.col("query_id") < 0)
        got = joins.knn_join(queries, pts, k=3, resolution=5)
        assert got.count() == 0
        assert set(got.columns) == {"query_id", "point_id", "dist_km", "rank"}

    @staticmethod
    def _strategy_inputs(spark, queries, resolution):
        """The internal frames knn_join hands its strategies: the query
        side as a local frame and as a collected Arrow table, the points
        as (_pid, _plat, _plng), and those plus int64 cells."""
        sdf = datagen.interleaved_documents(spark, SF_DIR)
        pts = joins._point_side(
            spans.extract_geometry(sdf), "doc_id", "lat", "lng"
        )
        q = joins._query_side(queries, "query_id", "lat", "lng")
        qt = joins._collect_queries(q, 1000)
        return (
            spark.createDataFrame(qt), qt, pts,
            joins._with_cells(pts, resolution),
        )

    def test_knn_nested_loop_equals_certificate_path(self, spark):
        """The tiny-query-side nested-loop strategy (_score_all) and the
        ring-certificate broadcast strategy must produce identical
        (qid, rank) -> pid assignments AND identical distances."""
        queries = spark.createDataFrame(
            [Row(query_id=1, lat=40.75, lng=-73.99),
             Row(query_id=2, lat=51.5, lng=-0.1),
             Row(query_id=3, lat=0.0, lng=0.0)]
        )
        qdf, qt, pts, _ = self._strategy_inputs(spark, queries, 5)
        nested = joins._score_all(pts, qdf, 5)
        cert = joins._knn_broadcast(qt, pts, 5, 5)
        key = lambda rows: {
            (r._qid, r._rank): (r._pid, r._dist) for r in rows
        }
        assert key(nested.collect()) == key(cert.collect())

    def test_knn_broadcast_equals_iterative(self, spark):
        queries = spark.createDataFrame(
            [Row(query_id=1, lat=40.75, lng=-73.99),
             Row(query_id=2, lat=51.5, lng=-0.1)]
        )
        qdf, qt, pts, cells = self._strategy_inputs(spark, queries, 5)
        fast = joins._knn_broadcast(qt, pts, 4, 5)
        slow = joins._knn_iterative(qdf, cells, 4, 5)
        key = lambda rows: {(r._qid, r._rank): r._pid for r in rows}
        assert key(fast.collect()) == key(slow.collect())

    def test_knn_matches_bruteforce(self, spark):
        import math

        sdf = datagen.interleaved_documents(spark, SF_DIR)
        pts = spans.extract_geometry(sdf).select(
            F.col("doc_id").alias("point_id"), "lat", "lng"
        )
        queries = spark.createDataFrame(
            [
                Row(query_id=1, lat=40.75, lng=-73.99),
                Row(query_id=2, lat=51.5, lng=-0.1),
                Row(query_id=3, lat=0.0, lng=0.0),
            ]
        )
        k = 5
        got = joins.knn_join(queries, pts, k=k, resolution=5)
        got_rows = {
            (r.query_id, r.rank): r.point_id for r in got.collect()
        }

        def hav(la1, lo1, la2, lo2):
            rl1, rl2 = math.radians(la1), math.radians(la2)
            dlat = rl2 - rl1
            dlng = math.radians(lo2) - math.radians(lo1)
            a = (
                math.sin(dlat / 2) ** 2
                + math.cos(rl1) * math.cos(rl2) * math.sin(dlng / 2) ** 2
            )
            return 2 * 6371.007180918475 * math.asin(math.sqrt(a))

        pts_local = pts.collect()
        for q in queries.collect():
            ranked = sorted(
                pts_local,
                key=lambda p: (hav(q.lat, q.lng, p.lat, p.lng), p.point_id),
            )[:k]
            for i, p in enumerate(ranked, start=1):
                assert got_rows[(q.query_id, i)] == p.point_id, (
                    q.query_id,
                    i,
                )


class TestJoinGuardrails:
    """Regression gates: degenerate query sides must fail loudly (null
    coords) or return typed-empty (zero queries), never silently return
    arbitrary rows."""

    def _pts(self, spark):
        return spark.createDataFrame(
            [(i, 40.0 + i * 0.001, -74.0) for i in range(5)],
            "point_id long, lat double, lng double",
        )

    def test_radius_join_empty_queries(self, spark):
        qe = spark.createDataFrame([], "query_id long, lat double, lng double")
        out = joins.radius_join(qe, self._pts(spark), 5.0)
        assert out.count() == 0
        assert out.columns == ["query_id", "point_id", "dist_km"]

    def test_radius_join_null_coords_raise(self, spark):
        qn = spark.createDataFrame(
            [(0, None, -74.0)], "query_id long, lat double, lng double"
        )
        with pytest.raises(ValueError, match="null/NaN"):
            joins.radius_join(qn, self._pts(spark), 5.0)

    def test_knn_join_null_coords_raise(self, spark):
        qn = spark.createDataFrame(
            [(0, 40.0, None)], "query_id long, lat double, lng double"
        )
        with pytest.raises(ValueError, match="null/NaN"):
            joins.knn_join(qn, self._pts(spark), 1, 7)

    def test_radius_join_res0_error_mentions_max_ring(self, spark):
        q = spark.createDataFrame(
            [(0, 0.0, 0.0)], "query_id long, lat double, lng double"
        )
        with pytest.raises(ValueError, match="raise max_ring"):
            joins.radius_join(q, self._pts(spark), 20000.0)
