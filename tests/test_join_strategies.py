"""kNN strategy boundaries and join-layer concurrency.

knn_join picks one of two strategies by the size of its query side
(<= 1024: one broadcast probe pass, which scores every point for <= 32
queries and otherwise runs a certificate round whose <= 32 uncertified
queries score every point; more: iterative ring rounds). The answers
must not depend on that choice, so they are checked against DuckDB haversine SQL with the same
(dist_km, point_id) tie-break on both sides of each threshold, over
points at the poles, across the antimeridian, at a pentagon center and
with duplicate coordinates under different ids. The certificate
round's fused pass is also checked directly, against _knn_iterative and
DuckDB, on sides built to stress its NumPy prune, its certificate and
its driver-row bound, and its job count is gated. The DuckDB checks at
the strategy thresholds and of radius_join, the driver-row bound and
the job gate run under both point-side placements (the probe pass on
the driver, and the distributed mapInArrow pass). The join guard must
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
from sparkh3.operators import driver, joins, udfs

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


def _placements(monkeypatch):
    """Yield "driver", then "distributed", with every point side's probe
    pass forced to that placement: the default byte bound (the small
    frames here probe on the driver), then -1, which no size passes
    (the mapInArrow pass)."""
    default = joins.DRIVER_POINT_BYTES
    for name, bound in (("driver", default), ("distributed", -1)):
        monkeypatch.setattr(joins, "DRIVER_POINT_BYTES", bound)
        yield name
    monkeypatch.setattr(joins, "DRIVER_POINT_BYTES", default)


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
def test_knn_threshold_sides_match_duckdb(spark, data, n, monkeypatch):
    pts, pool, pts_df = data
    queries = pool.iloc[:n]
    want = _duck_knn(pts, queries, K)
    for _ in _placements(monkeypatch):
        _assert_knn(_knn_rows(spark, pts_df, queries), pts, want)


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
        joins._knn_broadcast(qt, p, K, RES),
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


# -- the broadcast strategy's probe passes (_knn_broadcast) ---------------


def test_match_sorted_equals_brute_force():
    rng = np.random.default_rng(3)
    for _ in range(20):
        sorted_keys = np.sort(rng.integers(0, 40, rng.integers(0, 60)))
        keys = rng.integers(-5, 45, rng.integers(0, 30))
        ri, fi = udfs.match_sorted(sorted_keys, keys)
        want = [
            (i, j)
            for i in range(len(keys))
            for j in range(len(sorted_keys))
            if keys[i] == sorted_keys[j]
        ]
        assert list(zip(ri.tolist(), fi.tolist())) == want


def _jvm_haversine(spark, la1, lo1, la2, lo2) -> np.ndarray:
    df = spark.createDataFrame(pd.DataFrame(
        {"a": la1, "b": lo1, "c": la2, "d": lo2}
    ))
    return np.array([r[0] for r in df.select(joins.haversine_km(
        F.col("a"), F.col("b"), F.col("c"), F.col("d"))).collect()])


def test_numpy_haversine_within_half_slack(spark):
    """The NumPy distances that prune the certificate round's candidates
    stay within SLACK_KM / 2 of the JVM's haversine: on random pairs,
    near-antipodal pairs, and every cell center of res-0 and res-2
    CERT_RINGS disks (the res-0 disk reaches the antipode)."""
    from sparkh3.kernel import traversal as tv

    rng = np.random.default_rng(11)
    n = 20_000
    la1 = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
    lo1 = rng.uniform(-180.0, 180.0, n)
    off = 10.0 ** rng.uniform(-9.0, 0.0, n)
    ang = rng.uniform(0.0, 2.0 * np.pi, n)
    anti_la = np.clip(-la1 + off * np.sin(ang), -90.0, 90.0)
    anti_lo = np.where(lo1 > 0, lo1 - 180.0, lo1 + 180.0) + off * np.cos(ang)
    rnd_la = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
    rnd_lo = rng.uniform(-180.0, 180.0, n)
    qla, qlo, pla, plo = [la1, la1], [lo1, lo1], [anti_la, rnd_la], [anti_lo, rnd_lo]
    for res in (0, 2):
        qc = geo.latlng_to_cell(la1[:40], lo1[:40], res)
        owner, cells = tv.grid_disk_grouped(qc, joins.CERT_RINGS)
        cla, clo = geo.cell_to_latlng(cells)
        qla.append(la1[:40][owner])
        qlo.append(lo1[:40][owner])
        pla.append(cla)
        plo.append(clo)
    qla, qlo, pla, plo = map(np.concatenate, (qla, qlo, pla, plo))
    jvm = _jvm_haversine(spark, qla, qlo, pla, plo)
    npd = joins._np_haversine_km(qla, qlo, pla, plo)
    assert not np.isnan(npd).any()
    ok = ~np.isnan(jvm)
    assert np.abs(jvm[ok] - npd[ok]).max() < joins.SLACK_KM / 2
    assert (npd[~ok] == np.pi * EARTH_RADIUS_KM).all()


def _fused_vs_reference(
    spark, points: pd.DataFrame, queries: pd.DataFrame, k: int, res: int,
    pid_type: str = "long",
):
    """The fused certificate strategy, _knn_iterative and DuckDB give the
    same answer; fused and iterative agree row for row, distances bit
    for bit. Points with a null/NaN coordinate are left out of DuckDB's
    side (neither strategy can rank them)."""
    pdf = spark.createDataFrame(
        points, f"point_id {pid_type}, lat double, lng double"
    )
    q = joins._query_side(
        spark.createDataFrame(queries, "query_id long, lat double, lng double"),
        "query_id", "lat", "lng",
    )
    qt = joins._collect_queries(q, 1000)
    p = joins._point_side(pdf, "point_id", "lat", "lng")
    fused, slow = (
        sorted(out.select(*joins._OUT).collect())
        for out in (
            joins._knn_broadcast(qt, p, k, res),
            joins._knn_iterative(q, joins._with_cells(p, res), k, res),
        )
    )
    assert fused == slow
    located = points.dropna().astype({"point_id": np.int64})
    rows = [(r[0], int(r[1]), r[2], r[3]) for r in fused]
    _assert_knn(rows, located, _duck_knn(located, queries, k))
    return fused


def _queries(coords) -> pd.DataFrame:
    coords = np.asarray(coords, dtype=np.float64).reshape(-1, 2)
    return pd.DataFrame({
        "query_id": np.arange(len(coords), dtype=np.int64) * 3 + 1,
        "lat": coords[:, 0], "lng": coords[:, 1],
    })


# points with a null or NaN coordinate: never a join candidate
_BAD_POINTS = pd.DataFrame({
    "point_id": np.arange(4, dtype=np.int64) + 10**9,
    "lat": [None, np.nan, 40.0, 0.0],
    "lng": [-74.0, -74.0, None, np.nan],
})


def _calls(monkeypatch, name: str) -> list:
    """Record the calls of joins.<name>, still running it."""
    seen = []
    real = getattr(joins, name)

    def spy(*args):
        seen.append(args)
        return real(*args)

    monkeypatch.setattr(joins, name, spy)
    return seen


def test_fused_duplicates_straddle_kth_rank(spark, monkeypatch):
    """Five points share one spot. A query there ties all five at
    distance 0, so k = 3 and 4 cut through the tie (broken by point_id)
    and k = 6 takes them all; a query 55 m away ties them at a non-zero
    distance. Both passes rank them: the every-point pass, and the
    certificate round (forced with STRAGGLER_QUERIES = 0), where neither
    query is left for the iterative rounds."""
    rng = np.random.default_rng(5)
    base = [(40.0, -74.0)] * 5 + [(40.001, -74.0), (40.0, -74.3)]
    rest = np.column_stack(
        [rng.uniform(39.0, 41.0, 300), rng.uniform(-75.0, -73.0, 300)]
    )
    coords = np.vstack([base, rest])
    ids = rng.permutation(len(coords)).astype(np.int64) * 11 + 2
    points = pd.DataFrame({"point_id": ids, "lat": coords[:, 0], "lng": coords[:, 1]})
    stragglers = _calls(monkeypatch, "_iterate")
    for cut in (joins.STRAGGLER_QUERIES, 0):
        monkeypatch.setattr(joins, "STRAGGLER_QUERIES", cut)
        for k in (3, 4, 6):
            _fused_vs_reference(
                spark, points, _queries([(40.0005, -74.0), (40.0, -74.0)]),
                k, 6,
            )
    assert stragglers == []


def test_fused_duplicate_query_ids(spark, data):
    """Copies of one query id (same or other coordinates) rank their
    candidates together, as DuckDB's window over the cross product and
    the iterative rounds' window do; certified and straggler copies
    alike."""
    pts, pool, _ = data
    q = pool.iloc[:40].copy()
    q.loc[q.index[1], "query_id"] = q["query_id"].iloc[0]
    q.loc[q.index[3], ["query_id", "lat", "lng"]] = q.iloc[2].to_numpy()
    q.loc[q.index[5], "query_id"] = q["query_id"].iloc[4]
    _fused_vs_reference(spark, pts, q, K, RES)


@pytest.mark.parametrize("side", [-1.0, 1.0])
def test_fused_kth_at_the_margin(spark, monkeypatch, side):
    """A query whose k-th distance sits SLACK_KM / 2 inside the disk's
    margin is certified by the certificate round (forced with
    STRAGGLER_QUERIES = 0); SLACK_KM / 2 outside, it is a straggler,
    which then takes the iterative rounds. The answer is exact on both
    sides."""
    res, k = 5, 3
    margin = (joins.CERT_RINGS - 1) * joins.min_cell_width_km(res)
    lat0, lng0 = 10.0, 20.0
    dists = [0.5, 1.0, margin + side * joins.SLACK_KM / 2, margin + 40.0]
    lats = [lat0 + np.degrees(d / EARTH_RADIUS_KM) for d in dists]
    points = pd.DataFrame({
        "point_id": np.arange(4, dtype=np.int64) + 100,
        "lat": lats, "lng": [lng0] * 4,
    })
    monkeypatch.setattr(joins, "STRAGGLER_QUERIES", 0)
    stragglers = _calls(monkeypatch, "_iterate")
    fused = _fused_vs_reference(spark, points, _queries([(lat0, lng0)]), k, res)
    assert [r[1] for r in fused] == [100, 101, 102]
    assert len(stragglers) == (0 if side < 0 else 1)


@pytest.mark.parametrize("pair_chunk", [joins.PAIR_CHUNK, 7])
def test_fused_near_antipodal_candidates_res0(spark, monkeypatch, pair_chunk):
    """At res 0 the CERT_RINGS disk covers the globe, as the every-point
    pass's cells do: candidates include points within a few meters of
    the query's antipode, in both passes (the certificate round forced
    with STRAGGLER_QUERIES = 0). Every point matches all 3 queries, so
    a PAIR_CHUNK of 7 scores 2-row slices."""
    monkeypatch.setattr(joins, "PAIR_CHUNK", pair_chunk)
    rng = np.random.default_rng(9)
    qs = [(12.5, 30.0), (-45.0, -170.0), (89.9, 0.0)]
    pts = []
    for la, lo in qs:
        anti_lo = lo - 180.0 if lo > 0 else lo + 180.0
        for eps in (0.0, 1e-7, 1e-5, 1e-3):
            pts.append((-la + eps, anti_lo))
            pts.append((-la, anti_lo - eps))
    coords = np.vstack([pts, np.column_stack([
        np.degrees(np.arcsin(rng.uniform(-1, 1, 60))), rng.uniform(-180, 180, 60)
    ])])
    points = pd.DataFrame({
        "point_id": np.arange(len(coords), dtype=np.int64),
        "lat": coords[:, 0], "lng": coords[:, 1],
    })
    # k past the random points: the antipodal ones rank
    for cut in (joins.STRAGGLER_QUERIES, 0):
        monkeypatch.setattr(joins, "STRAGGLER_QUERIES", cut)
        _fused_vs_reference(spark, points, _queries(qs), 70, 0)


def test_fused_string_point_ids(spark, data):
    """String ids tie-break in Spark's order, which is DuckDB's on these
    zero-padded ids."""
    pts, pool, _ = data
    spts = pts.assign(point_id=[f"{i:08d}" for i in pts["point_id"]])
    _fused_vs_reference(spark, spts, pool.iloc[:33], K, RES, "string")


def test_fused_null_nan_point_coordinates(spark, data, monkeypatch):
    """Points with a null or NaN coordinate are never neighbors, neither
    for certified queries nor for the every-point straggler pass."""
    pts, pool, _ = data
    mixed = pd.concat([pts, _BAD_POINTS], ignore_index=True)
    stragglers = _calls(monkeypatch, "_globe_level")
    _fused_vs_reference(spark, mixed, pool.iloc[:33], K, RES)
    assert stragglers, "some of these queries are stragglers"


@pytest.mark.parametrize(
    "n, path, arg", [(8, "_globe_level", 0), (40, "_iterate", 0)]
)
def test_fused_all_straggler_sides(spark, monkeypatch, n, path, arg):
    """Points in one cluster, n queries an ocean away: none certifies.
    Beside 32 queries in the cluster, which all certify, 8 stragglers
    take one every-point pass; 40 take the iterative rounds."""
    rng = np.random.default_rng(n)
    points = pd.DataFrame({
        "point_id": np.arange(400, dtype=np.int64),
        "lat": rng.uniform(39.0, 41.0, 400),
        "lng": rng.uniform(-75.0, -73.0, 400),
    })
    queries = _queries(np.vstack([
        np.column_stack([rng.uniform(39.5, 40.5, 32), rng.uniform(-74.5, -73.5, 32)]),
        np.column_stack([rng.uniform(-50.0, -40.0, n), rng.uniform(-30.0, 30.0, n)]),
    ]))
    seen = _calls(monkeypatch, path)
    _fused_vs_reference(spark, points, queries, K, RES)
    # _globe_level takes the straggler count, _iterate the query frame
    left = [c[arg] if path == "_globe_level" else c[arg].count() for c in seen]
    assert left == [n]


def test_fused_driver_row_bound(spark, data, monkeypatch):
    """At most DRIVER_PASS_ROWS candidate rows reach the driver, from
    the driver pass or the distributed one's bounded collect: a call
    that would bring one more takes the iterative rounds, with the same
    answer, on both placements."""
    pts, pool, pts_df = data
    queries = pool.iloc[:33]
    q = joins._query_side(spark.createDataFrame(queries), "query_id", "lat", "lng")
    qt = joins._collect_queries(q, 1000)
    p = joins._point_side(pts_df, "point_id", "lat", "lng")
    level = joins._disk_level(qt, RES, joins.CERT_RINGS)
    want = _duck_knn(pts, queries, K)
    default = joins.DRIVER_PASS_ROWS
    for placement in _placements(monkeypatch):
        monkeypatch.setattr(joins, "DRIVER_PASS_ROWS", default)
        local = joins._driver_points(p)
        assert (local is None) == (placement == "distributed")
        n = joins._knn_candidates(p, qt, K, level, local).num_rows
        for bound, iterated in ((n, 0), (n - 1, 1)):
            monkeypatch.setattr(joins, "DRIVER_PASS_ROWS", bound)
            seen = _calls(monkeypatch, "_iterate")
            _assert_knn(_knn_rows(spark, pts_df, queries), pts, want)
            assert len(seen) == iterated, (placement, bound)


def _cached_ids(spark) -> set:
    """Ids of the RDDs the session holds persisted."""
    ids = spark.sparkContext._jsc.sc().getPersistentRDDs().keys().mkString(",")
    return {int(i) for i in ids.split(",") if i}


def test_knn_certificate_round_jobs(spark, jobs_in, monkeypatch):
    """40 hub queries over 20k points: the certificate round is the
    query collect and one bounded collect, of the point side on the
    driver placement or of the fused pass on the distributed one (no
    persist, no checkpoint, no exchange), and its answer is a local
    relation, so collecting it runs no job."""
    rng = np.random.default_rng(40)
    hubs = np.array([(40.7, -74.0), (51.5, -0.1), (35.7, 139.7), (-33.9, 151.2)])
    h = rng.integers(0, 4, 20_000)
    points = pd.DataFrame({
        "point_id": np.arange(20_000, dtype=np.int64),
        "lat": hubs[h, 0] + rng.normal(0.0, 0.3, 20_000),
        "lng": hubs[h, 1] + rng.normal(0.0, 0.3, 20_000),
    })
    qh = rng.integers(0, 4, 40)
    queries = _queries(hubs[qh] + rng.normal(0.0, 0.1, (40, 2)))
    pts_df = spark.createDataFrame(points)
    q = spark.createDataFrame(queries)
    cached = _cached_ids(spark)
    want = _duck_knn(points, queries, 5)
    for placement in _placements(monkeypatch):
        mapped = _calls(monkeypatch, "_probe_mapped")
        out, call_jobs = jobs_in(
            lambda: joins.knn_join(q, pts_df, k=5, resolution=6)
        )
        rows, collect_jobs = jobs_in(out.collect)
        assert (call_jobs, collect_jobs) == (2, 0), placement
        assert len(mapped) == (placement == "distributed"), placement
        # nothing the call persisted stays; the ContextCleaner may
        # meanwhile reclaim what earlier tests left
        assert _cached_ids(spark) <= cached, placement
        _assert_knn([tuple(r) for r in rows], points, want)


# -- radius_join: the NumPy prune never drops a row the JVM filter keeps --


def _duck_radius(points: pd.DataFrame, queries: pd.DataFrame, r: float) -> set:
    """(query_id, point_id, dist_km) of every pair with round(haversine,
    6) <= r; DuckDB leaves out the points with a null/NaN coordinate."""
    con = duckdb.connect()
    try:
        con.register("p", points)
        con.register("q", queries)
        rows = con.execute(
            f"SELECT q.query_id, p.point_id, round({HAV_SQL}, 6) AS d "
            f"FROM q, p WHERE round({HAV_SQL}, 6) <= {r!r}"
        ).fetchall()
    finally:
        con.close()
    return {(int(q), int(p), float(d)) for q, p, d in rows}


def _radius_rows(spark, points: pd.DataFrame, queries: pd.DataFrame, r, **kw):
    out = joins.radius_join(
        spark.createDataFrame(queries, "query_id long, lat double, lng double"),
        spark.createDataFrame(points, "point_id long, lat double, lng double"),
        radius_km=r, **kw,
    )
    return {tuple(row) for row in out.collect()}


def test_radius_boundary_matches_duckdb(spark, monkeypatch):
    """Points north of the query whose JVM distance rounds (down) to
    exactly r, and up to r + 1e-6: the first are in the answer, the
    second are not, as in DuckDB. A NumPy prune at r instead of
    r + SLACK_KM would drop the first."""
    lat0, lng0 = 10.0, 20.0
    base = lat0 + np.degrees(25.0 / EARTH_RADIUS_KM)
    lats = base + np.arange(400) * 2e-9
    d = _jvm_haversine(spark, np.full(400, lat0), np.full(400, lng0), lats, np.full(400, lng0))
    # the first point that rounds down to 6 decimals sets r
    i = int(np.flatnonzero(np.round(d, 6) < d)[0])
    r = float(np.round(d[i], 6))
    at = np.flatnonzero(np.round(d, 6) == r)
    past = np.flatnonzero(np.round(d, 6) == np.round(r + 1e-6, 6))
    assert len(at) and len(past)
    points = pd.DataFrame({
        "point_id": np.arange(400, dtype=np.int64),
        "lat": lats, "lng": np.full(400, lng0),
    })
    queries = _queries([(lat0, lng0)])
    want = _duck_radius(points, queries, r)
    for placement in _placements(monkeypatch):
        got = _radius_rows(spark, points, queries, r)
        assert got == want, placement
    ids = {p for _, p, _ in want}
    assert i in ids and set(at.tolist()) <= ids
    assert not ids & set(past.tolist())


@pytest.mark.parametrize("r, max_ring", [(5000.0, 8), (20015.0, 16)])
def test_radius_res0_near_antipodal_matches_duckdb(spark, r, max_ring, monkeypatch):
    """Radii of thousands of km take res-0 disks, whose candidates reach
    points within meters of each query's antipode; at 20,015 km (just
    under pi * R) some of those are in the answer and some are not."""
    # too many rings at res 1, so radius_join picks res 0
    assert r > joins.min_cell_width_km(1) * (max_ring - 1)
    rng = np.random.default_rng(13)
    qs = [(12.5, 30.0), (-45.0, -170.0), (89.9, 0.0)]
    pts = []
    for la, lo in qs:
        anti_lo = lo - 180.0 if lo > 0 else lo + 180.0
        for eps in (0.0, 1e-7, 1e-5, 1e-4, 1e-3, 1e-2):
            pts.append((-la + eps, anti_lo))
            pts.append((-la, anti_lo - eps))
    coords = np.vstack([pts, np.column_stack([
        np.degrees(np.arcsin(rng.uniform(-1, 1, 300))), rng.uniform(-180, 180, 300)
    ])])
    points = pd.DataFrame({
        "point_id": np.arange(len(coords), dtype=np.int64),
        "lat": coords[:, 0], "lng": coords[:, 1],
    })
    queries = _queries(qs)
    want = _duck_radius(points, queries, r)
    for placement in _placements(monkeypatch):
        got = _radius_rows(spark, points, queries, r, max_ring=max_ring)
        assert got == want, placement
    assert len(want) > 3


def test_radius_null_nan_point_coordinates(spark, data, monkeypatch):
    """Points with a null or NaN coordinate give no row, on either
    placement."""
    pts, pool, _ = data
    mixed = pd.concat([pts, _BAD_POINTS], ignore_index=True)
    queries = pd.concat([pool.iloc[:10], _queries([(40.0, -74.0), (0.0, 0.0)])])
    want = _duck_radius(mixed.dropna(), queries, 900.0)
    assert not {p for _, p, _ in want} & set(_BAD_POINTS["point_id"])
    for placement in _placements(monkeypatch):
        got = _radius_rows(spark, mixed, queries, 900.0)
        assert got == want, placement


def test_radius_empty_query_side(spark, data, jobs_in):
    """An empty query side returns the typed empty frame: collecting it
    runs no job."""
    _, pool, pts_df = data
    q = spark.createDataFrame(pool.iloc[:5]).limit(0)
    out, _ = jobs_in(lambda: joins.radius_join(q, pts_df, radius_km=50.0))
    rows, collect_jobs = jobs_in(out.collect)
    assert (rows, collect_jobs) == ([], 0)
    one = joins.radius_join(spark.createDataFrame(pool.iloc[:1]), pts_df, 50.0)
    assert out.dtypes == one.dtypes


# -- placement: a small point side probes on the driver ---------------------

def _placement_ops(spark, pdf, pool):
    """pip, radius and kNN (an every-point side of 8 queries and a
    certificate side of 33) over the point frame ``pdf``; the polygons
    and radius queries include some across the antimeridian."""
    ring = lambda y0, x0, y1, x1: [  # noqa: E731
        {"lat": y0, "lng": x0}, {"lat": y0, "lng": x1},
        {"lat": y1, "lng": x1}, {"lat": y1, "lng": x0}, {"lat": y0, "lng": x0},
    ]
    polys = spark.createDataFrame(
        [
            ("r0", [ring(-60.0, -170.0, -30.0, -130.0)]),
            ("r1", [ring(0.0, 0.0, 30.0, 40.0)]),
            ("am", [ring(-20.0, 170.0, 20.0, -170.0)]),
        ],
        "poly_id string, geometry array<array<struct<lat:double,lng:double>>>",
    )
    rq = spark.createDataFrame(pd.concat([
        pool.iloc[:10], _queries([(10.0, 180.0), (-35.0, -179.99), (40.0, -74.0)]),
    ]))
    return {
        "pip": lambda: joins.pip_join(pdf, polys).select("point_id", "poly_id"),
        "radius": lambda: joins.radius_join(rq, pdf, radius_km=800.0),
        "knn8": lambda: joins.knn_join(
            spark.createDataFrame(pool.iloc[:8]), pdf, k=K, resolution=RES),
        "knn33": lambda: joins.knn_join(
            spark.createDataFrame(pool.iloc[:33]), pdf, k=K, resolution=RES),
    }


def test_placement_rows_equal_at_the_row_bound(spark, data, monkeypatch):
    """With DRIVER_POINT_ROWS at n - 1 the n points (null/NaN,
    antimeridian and pole points among them) run the distributed pass;
    at n and n + 1 they run on the driver. Every join's rows, dtypes and
    point order are the same, and the kNN rows are DuckDB's."""
    pts, pool, _ = data
    mixed = pd.concat([pts, _BAD_POINTS], ignore_index=True)
    n = len(mixed)
    pdf = spark.createDataFrame(mixed, "point_id long, lat double, lng double")
    ops = _placement_ops(spark, pdf, pool)
    got = {}
    for bound in (n - 1, n, n + 1):
        monkeypatch.setattr(joins, "DRIVER_POINT_ROWS", bound)
        mapped = _calls(monkeypatch, "_probe_mapped")
        outs = {name: op() for name, op in ops.items()}
        got[bound] = (
            {name: [tuple(r) for r in out.collect()] for name, out in outs.items()},
            {name: out.dtypes for name, out in outs.items()},
        )
        # 4 joins, the 33-query kNN with its straggler round
        assert len(mapped) == (5 if bound < n else 0), bound
    assert got[n - 1] == got[n] == got[n + 1]
    rows = got[n][0]
    # pip keeps the points' order
    assert rows["pip"] == sorted(rows["pip"], key=lambda r: mixed.index[
        mixed["point_id"] == r[0]][0])
    assert all(rows[name] for name in rows)
    assert not {r[1] for r in rows["radius"]} & set(_BAD_POINTS["point_id"])
    located = mixed.dropna()
    _assert_knn(rows["knn33"], located, _duck_knn(located, pool.iloc[:33], K))


def test_placement_empty_and_unsized_point_sides(spark, data, monkeypatch):
    """An empty point side answers the same typed empty rows on the
    driver as in the distributed pass; a frame built from Python rows
    reports Long.MaxValue bytes, so it is never collected."""
    pts, pool, _ = data
    empty = spark.createDataFrame(
        pts, "point_id long, lat double, lng double"
    ).limit(0)
    ops = _placement_ops(spark, empty, pool)
    got = {}
    for byte_bound in (joins.DRIVER_POINT_BYTES, -1):
        monkeypatch.setattr(joins, "DRIVER_POINT_BYTES", byte_bound)
        assert (joins._driver_points(empty) is None) == (byte_bound < 0)
        outs = {name: op() for name, op in ops.items()}
        got[byte_bound] = {
            name: (out.collect(), out.dtypes) for name, out in outs.items()
        }
    assert got[-1] == got[joins.DRIVER_POINT_BYTES]
    assert all(rows == [] for rows, _ in got[-1].values())
    monkeypatch.setattr(joins, "DRIVER_POINT_BYTES", 1 << 62)
    rows = spark.createDataFrame([(1, 40.0, -74.0)], ["point_id", "lat", "lng"])
    assert joins._driver_points(rows) is None


def test_placement_pass_output_bound(spark, monkeypatch):
    """A driver pass holds at most DRIVER_PASS_ROWS output rows: a dense
    radius join (every point within the radius of every query) and a
    PIP join of overlapping polygons whose output would pass the bound
    stop one slice past it, drop their driver rows and run the
    distributed pass, with the same rows as at the bound. PAIR_CHUNK is
    cut to 120 so that each pass yields slices of 120 rows."""
    rng = np.random.default_rng(18)
    points = pd.DataFrame({
        "point_id": np.arange(400, dtype=np.int64),
        "lat": rng.uniform(40.0, 41.0, 400),
        "lng": rng.uniform(-74.5, -73.5, 400),
    })
    queries = _queries(np.column_stack([
        rng.uniform(40.2, 40.8, 12), rng.uniform(-74.3, -73.7, 12)
    ]))
    box = [
        {"lat": 39.5, "lng": -75.0}, {"lat": 39.5, "lng": -73.0},
        {"lat": 41.5, "lng": -73.0}, {"lat": 41.5, "lng": -75.0},
        {"lat": 39.5, "lng": -75.0},
    ]
    polys = spark.createDataFrame(
        [(f"p{i}", [box]) for i in range(3)],
        "poly_id string, geometry array<array<struct<lat:double,lng:double>>>",
    )
    pdf = spark.createDataFrame(points)
    q = spark.createDataFrame(queries)
    ops = {
        "radius": (
            lambda: joins.radius_join(q, pdf, radius_km=400.0), 12 * 400,
        ),
        "pip": (
            lambda: joins.pip_join(pdf, polys).select("point_id", "poly_id"),
            3 * 400,
        ),
    }
    monkeypatch.setattr(joins, "PAIR_CHUNK", 120)
    real = joins._probe_local
    held = []

    def spy(*args):
        out = real(*args)
        held.append(out.num_rows)
        return out

    monkeypatch.setattr(joins, "_probe_local", spy)
    for name, (op, n) in ops.items():
        got = {}
        for bound in (n, n - 1, n // 2):
            monkeypatch.setattr(joins, "DRIVER_PASS_ROWS", bound)
            mapped = _calls(monkeypatch, "_probe_mapped")
            got[bound] = sorted(tuple(r) for r in op().collect())
            assert len(mapped) == (bound < n), (name, bound)
            assert held[-1] == min(n, (bound // 120 + 1) * 120), (name, bound)
        assert len(got[n]) == n, name
        assert got[n] == got[n - 1] == got[n // 2], name
    assert {r[:2] for r in got[n]} == {
        (p, f"p{i}") for p in points["point_id"] for i in range(3)
    }


def test_knn_stragglers_reuse_the_collected_points(spark, jobs_in, monkeypatch):
    """32 hub queries certify and 8 an ocean away take the every-point
    round, which reuses the point table the first round collected: the
    call runs 2 jobs (the query and point collects), its answer, one
    local relation, none."""
    rng = np.random.default_rng(8)
    points = pd.DataFrame({
        "point_id": np.arange(400, dtype=np.int64),
        "lat": rng.uniform(39.0, 41.0, 400),
        "lng": rng.uniform(-75.0, -73.0, 400),
    })
    queries = _queries(np.vstack([
        np.column_stack([rng.uniform(39.5, 40.5, 32), rng.uniform(-74.5, -73.5, 32)]),
        np.column_stack([rng.uniform(-50.0, -40.0, 8), rng.uniform(-30.0, 30.0, 8)]),
    ]))
    pdf = spark.createDataFrame(points)
    q = spark.createDataFrame(queries)
    stragglers = _calls(monkeypatch, "_globe_level")
    out, call_jobs = jobs_in(lambda: joins.knn_join(q, pdf, k=K, resolution=RES))
    rows, collect_jobs = jobs_in(out.collect)
    assert [c[0] for c in stragglers] == [8]
    assert (call_jobs, collect_jobs) == (2, 0)
    _assert_knn([tuple(r) for r in rows], points, _duck_knn(points, queries, K))
