"""kNN strategy boundaries and join-layer concurrency.

knn_join picks one of two strategies by the size of its query side
(<= 1024: one broadcast certificate round, whose <= 32 uncertified
queries score every point; more: iterative ring rounds). The answers
must not depend on that choice, so they are checked against DuckDB haversine SQL with the same
(dist_km, point_id) tie-break on both sides of each threshold, over
points at the poles, across the antimeridian, at a pentagon center and
with duplicate coordinates under different ids. The join guard must
also stay one job and leave the session conf alone when many threads
share one SparkSession.
"""

import concurrent.futures as cf
import sys
import time

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparkh3.kernel import geo
from sparkh3.kernel import index as ix
from sparkh3.operators import driver, joins

RES = 3
K = 3
EARTH_RADIUS_KM = 6371.007180918475
HAV_SQL = (
    f"2.0 * {EARTH_RADIUS_KM} * asin(sqrt("
    "sin((radians(p.lat) - radians(q.lat)) / 2) * "
    "sin((radians(p.lat) - radians(q.lat)) / 2) + "
    "cos(radians(q.lat)) * cos(radians(p.lat)) * "
    "sin((radians(p.lng) - radians(q.lng)) / 2) * "
    "sin((radians(p.lng) - radians(q.lng)) / 2)))"
)


def _pentagon_center(res: int, base_cell: int) -> tuple[float, float]:
    """Center of the pentagon at ``res`` on a pentagon base cell: every
    digit 0 (the center child chain), finer digits 7."""
    cell = (1 << 59) | (res << 52) | (base_cell << 45)
    cell |= (1 << (3 * (15 - res))) - 1
    arr = np.array([cell], dtype=np.uint64)
    assert ix.is_pentagon(arr)[0]
    lat, lng = geo.cell_to_latlng(arr)
    return float(lat[0]), float(lng[0])


PENT = _pentagon_center(RES, 4)
PENT_FINE = _pentagon_center(9, 38)
DUP = (40.0, -74.0)

ADVERSARIAL_POINTS = [
    # near both poles
    (89.99, 10.0), (89.95, -120.0), (89.9, 170.0), (89.999, 0.5),
    (-89.99, 45.0), (-89.93, -100.0), (-89.97, 179.5), (-89.9995, -3.0),
    # across the antimeridian
    (10.0, 179.999), (10.0, -179.999), (10.001, 180.0), (9.999, -180.0),
    (-35.0, -179.9995), (-35.0005, 179.9995),
    # pentagon centers
    PENT, PENT, PENT_FINE,
    # duplicate coordinates under different ids (exact distance ties)
    DUP, DUP, DUP, DUP, DUP, (89.99, 10.0),
]
ADVERSARIAL_QUERIES = [
    (90.0, 0.0), (-90.0, 0.0), (89.98, 10.0), (-89.95, 170.0),
    (10.0, 180.0), (10.0, -180.0), (-35.0, 179.99),
    PENT, PENT_FINE, DUP,
]


def _points() -> pd.DataFrame:
    rng = np.random.default_rng(20261017)
    n = 1500
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
    lng = rng.uniform(-180.0, 180.0, n)
    adv = np.array(ADVERSARIAL_POINTS)
    lat = np.concatenate([lat, adv[:, 0]])
    lng = np.concatenate([lng, adv[:, 1]])
    # shuffled ids, so a duplicate's tie-break order is not its position
    ids = rng.permutation(len(lat)).astype(np.int64) * 7 + 3
    return pd.DataFrame({"point_id": ids, "lat": lat, "lng": lng})


def _query_pool() -> pd.DataFrame:
    rng = np.random.default_rng(1017)
    n = 1025 - len(ADVERSARIAL_QUERIES)
    adv = np.array(ADVERSARIAL_QUERIES)
    lat = np.concatenate(
        [adv[:, 0], np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))]
    )
    lng = np.concatenate([adv[:, 1], rng.uniform(-180.0, 180.0, n)])
    ids = np.arange(len(lat), dtype=np.int64) * 5 + 11
    return pd.DataFrame({"query_id": ids, "lat": lat, "lng": lng})


def _duck_knn(points: pd.DataFrame, queries: pd.DataFrame, k: int) -> dict:
    """query_id -> [(point_id, dist_km)] of its k nearest points, ordered
    by (dist_km, point_id)."""
    con = duckdb.connect()
    try:
        con.register("p", points)
        con.register("q", queries)
        rows = con.execute(
            f"SELECT query_id, point_id, dist FROM ("
            f"SELECT q.query_id, p.point_id, {HAV_SQL} AS dist, "
            f"row_number() OVER (PARTITION BY q.query_id "
            f"ORDER BY {HAV_SQL}, p.point_id) AS rk FROM q, p) "
            f"WHERE rk <= {k} ORDER BY query_id, rk"
        ).fetchall()
    finally:
        con.close()
    out: dict = {}
    for q, p, d in rows:
        out.setdefault(int(q), []).append((int(p), float(d)))
    return out


def _assert_knn(got_rows, points: pd.DataFrame, want: dict) -> None:
    """Spark's (query_id, point_id, dist_km, rank) rows give DuckDB's
    answer: the same ranks 1..n per query and the same distances. Ids
    may differ only between points at different coordinates whose
    distances tie within float noise; a tie between duplicate
    coordinates is exact in both engines, so it must break by
    point_id."""
    coords = {
        int(i): (a, b)
        for i, a, b in zip(points["point_id"], points["lat"], points["lng"])
    }
    got: dict = {}
    for r in sorted(got_rows, key=lambda r: (r[0], r[3])):
        got.setdefault(int(r[0]), []).append((int(r[1]), float(r[2]), r[3]))
    assert got.keys() == want.keys()
    for q, w in want.items():
        g = got[q]
        assert [x[2] for x in g] == list(range(1, len(w) + 1)), q
        for (gp, gd, _), (wp, wd) in zip(g, w):
            assert abs(gd - wd) <= 1e-9 * max(1.0, wd), (q, gp, gd, wp, wd)
            if gp != wp:
                assert coords[gp] != coords[wp], (q, gp, wp, "tie-break")
                assert gp in {p for p, _ in w}, (q, gp, wp)


@pytest.fixture(scope="module")
def data(spark):
    pts = _points()
    pool = _query_pool()
    return pts, pool, spark.createDataFrame(pts)


def _knn_rows(spark, pts_df, queries: pd.DataFrame):
    q = spark.createDataFrame(queries, "query_id long, lat double, lng double")
    out = joins.knn_join(q, pts_df, k=K, resolution=RES)
    return [tuple(r) for r in out.select(
        "query_id", "point_id", "dist_km", "rank").collect()]


@pytest.mark.parametrize("n", [31, 32, 33, 1023, 1024, 1025])
def test_knn_threshold_sides_match_duckdb(spark, data, n):
    pts, pool, pts_df = data
    queries = pool.iloc[:n]
    _assert_knn(
        _knn_rows(spark, pts_df, queries), pts, _duck_knn(pts, queries, K)
    )


def test_each_strategy_matches_duckdb(spark, data):
    """Both strategies and the exhaustive pass, called directly on one
    33-query side."""
    pts, pool, pts_df = data
    queries = pool.iloc[:33]
    want = _duck_knn(pts, queries, K)
    q = joins._query_side(spark.createDataFrame(queries), "query_id", "lat", "lng")
    qt = joins._collect_queries(q, 1000)
    p = joins._point_side(pts_df, "point_id", "lat", "lng")
    cells = joins._with_cells(p, RES)
    for out in (
        joins._score_all(p, q, K),
        joins._knn_broadcast(qt, cells, K, RES),
        joins._knn_iterative(q, cells, K, RES),
    ):
        rows = [tuple(r) for r in out.select(*joins._OUT).collect()]
        _assert_knn(rows, pts, want)


@pytest.mark.parametrize("n", [0, 8, 40, 1025])
def test_knn_empty_point_side(spark, data, n):
    _, pool, pts_df = data
    empty = pts_df.limit(0)
    assert _knn_rows(spark, empty, pool.iloc[:n]) == []


def test_knn_empty_query_side(spark, data):
    pts, pool, pts_df = data
    none = pool.iloc[:0]
    assert _knn_rows(spark, pts_df, none) == []
    assert _duck_knn(pts, none, K) == {}


def test_knn_zero_queries_touch_no_point(spark, data, jobs_in):
    """An empty query side ends at the bounded query collect: one job in
    the call, none to collect the typed empty frame, over 20k points."""
    pts = spark.range(20_000).select(
        F.col("id").alias("point_id"),
        (F.col("id") % 170 - 85.0).alias("lat"),
        (F.col("id") % 359 - 179.0).alias("lng"),
    )
    _, pool, _ = data
    q = spark.createDataFrame(pool.iloc[:5]).limit(0)
    out, call_jobs = jobs_in(lambda: joins.knn_join(q, pts, k=K, resolution=RES))
    rows, collect_jobs = jobs_in(out.collect)
    assert (rows, call_jobs, collect_jobs) == ([], 1, 0)
    one = joins.knn_join(spark.createDataFrame(pool.iloc[:1]), pts, k=K, resolution=RES)
    assert out.dtypes == one.dtypes


def test_bounded_collect_is_one_job_and_bounded(spark):
    sc = spark.sparkContext
    df = spark.range(0, 10_000, 1, 64)
    sc.setJobGroup("bounded-collect-probe", "probe")
    try:
        t = driver.bounded_collect(df, 100)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert t.num_rows == 100
    assert len(sc.statusTracker().getJobIdsForGroup("bounded-collect-probe")) == 1


def test_joins_concurrent_callers_share_one_session(spark, data):
    """8 threads run every join on one session: results equal the
    serial ones, and the session conf never changes, not even while the
    calls run."""
    pts, pool, pts_df = data
    key = "spark.sql.limit.initialNumPartitions"
    sentinel = "7"
    polys = spark.createDataFrame(
        [
            (f"r{i}", [[
                {"lat": y0, "lng": x0}, {"lat": y0, "lng": x0 + 40.0},
                {"lat": y0 + 30.0, "lng": x0 + 40.0},
                {"lat": y0 + 30.0, "lng": x0}, {"lat": y0, "lng": x0},
            ]])
            for i, (y0, x0) in enumerate([(-60.0, -170.0), (0.0, 0.0), (20.0, 100.0)])
        ],
        "poly_id string, geometry array<array<struct<lat:double,lng:double>>>",
    )
    rq = spark.createDataFrame(pool.iloc[:10])
    ops = {
        "pip": lambda: joins.pip_join(pts_df, polys).select("point_id", "poly_id"),
        "radius": lambda: joins.radius_join(rq, pts_df, radius_km=800.0),
        "knn8": lambda: joins.knn_join(
            spark.createDataFrame(pool.iloc[:8]), pts_df, k=K, resolution=RES),
        "knn40": lambda: joins.knn_join(
            spark.createDataFrame(pool.iloc[:40]), pts_df, k=K, resolution=RES),
    }
    names = list(ops)
    spark.conf.set(key, sentinel)
    old_switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        serial = {name: sorted(op().collect()) for name, op in ops.items()}

        def run(i):
            order = names[i % 4:] + names[:i % 4]
            return {name: sorted(ops[name]().collect()) for name in order}

        seen = set()
        with cf.ThreadPoolExecutor(max_workers=8) as pool_ex:
            futures = [pool_ex.submit(run, i) for i in range(8)]
            deadline = time.monotonic() + 600
            while not all(f.done() for f in futures):
                assert time.monotonic() < deadline, "concurrent joins hung"
                seen.add(spark.conf.get(key))
                time.sleep(0.005)
            results = [f.result(timeout=1) for f in futures]
        seen.add(spark.conf.get(key))
    finally:
        sys.setswitchinterval(old_switch)
        spark.conf.unset(key)
    assert seen == {sentinel}
    assert all(r == serial for r in results)
    assert all(serial[name] for name in names)
