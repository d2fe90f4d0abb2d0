"""kNN strategy boundaries and join-layer concurrency.

knn_join picks one of two strategies by the size of its query side
(<= 1024: one broadcast certificate round, whose <= 32 uncertified
queries score every point; more: iterative ring rounds). The answers
must not depend on that choice, so they are checked against DuckDB haversine SQL with the same
(dist_km, point_id) tie-break on both sides of each threshold, over
points at the poles, across the antimeridian, at a pentagon center and
with duplicate coordinates under different ids. The certificate
round's fused pass is also checked directly, against _knn_iterative and
DuckDB, on sides built to stress its NumPy prune, its certificate and
its driver-row bound, and its job count is gated. The join guard must
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


# -- the certificate round's fused pass (_knn_broadcast) ----------------


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


def _calls(monkeypatch, name: str) -> list:
    """Record the calls of joins.<name>, still running it. The calls
    of _score_all that _knn_iterative makes (its points carry _cell0)
    are not recorded: only the certificate round's straggler pass."""
    seen = []
    real = getattr(joins, name)

    def spy(*args):
        if not (name == "_score_all" and "_cell0" in args[0].columns):
            seen.append(args)
        return real(*args)

    monkeypatch.setattr(joins, name, spy)
    return seen


def test_fused_duplicates_straddle_kth_rank(spark, monkeypatch):
    """Five points share one spot. A query there ties all five at
    distance 0, so k = 3 and 4 cut through the tie (broken by point_id)
    and k = 6 takes them all; a query 55 m away ties them at a non-zero
    distance. Neither leaves a straggler."""
    rng = np.random.default_rng(5)
    base = [(40.0, -74.0)] * 5 + [(40.001, -74.0), (40.0, -74.3)]
    rest = np.column_stack(
        [rng.uniform(39.0, 41.0, 300), rng.uniform(-75.0, -73.0, 300)]
    )
    coords = np.vstack([base, rest])
    ids = rng.permutation(len(coords)).astype(np.int64) * 11 + 2
    points = pd.DataFrame({"point_id": ids, "lat": coords[:, 0], "lng": coords[:, 1]})
    stragglers = _calls(monkeypatch, "_score_all")
    for k in (3, 4, 6):
        _fused_vs_reference(
            spark, points, _queries([(40.0005, -74.0), (40.0, -74.0)]), k, 6
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
    margin is certified by the fused pass; SLACK_KM / 2 outside, it is
    a straggler. The answer is exact on both sides."""
    res, k = 5, 3
    margin = (joins.CERT_RINGS - 1) * joins.min_cell_width_km(res)
    lat0, lng0 = 10.0, 20.0
    dists = [0.5, 1.0, margin + side * joins.SLACK_KM / 2, margin + 40.0]
    lats = [lat0 + np.degrees(d / EARTH_RADIUS_KM) for d in dists]
    points = pd.DataFrame({
        "point_id": np.arange(4, dtype=np.int64) + 100,
        "lat": lats, "lng": [lng0] * 4,
    })
    stragglers = _calls(monkeypatch, "_score_all")
    fused = _fused_vs_reference(spark, points, _queries([(lat0, lng0)]), k, res)
    assert [r[1] for r in fused] == [100, 101, 102]
    assert len(stragglers) == (0 if side < 0 else 1)


@pytest.mark.parametrize("pair_chunk", [joins.PAIR_CHUNK, 7])
def test_fused_near_antipodal_candidates_res0(spark, monkeypatch, pair_chunk):
    """At res 0 the CERT_RINGS disk covers the globe: candidates include
    points within a few meters of the query's antipode. Every point
    matches all 3 disks, so a PAIR_CHUNK of 7 scores 2-row slices."""
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
    _fused_vs_reference(spark, points, _queries(qs), 70, 0)


def test_fused_string_point_ids(spark, data):
    """String ids tie-break in Spark's order, which is DuckDB's on these
    zero-padded ids."""
    pts, pool, _ = data
    spts = pts.assign(point_id=[f"{i:08d}" for i in pts["point_id"]])
    _fused_vs_reference(spark, spts, pool.iloc[:33], K, RES, "string")


def test_fused_null_nan_point_coordinates(spark, data, monkeypatch):
    """Points with a null or NaN coordinate are never neighbors, neither
    for certified queries nor for the straggler pass."""
    pts, pool, _ = data
    bad = pd.DataFrame({
        "point_id": np.arange(4, dtype=np.int64) + 10**9,
        "lat": [None, np.nan, 40.0, 0.0],
        "lng": [-74.0, -74.0, None, np.nan],
    })
    mixed = pd.concat([pts, bad], ignore_index=True)
    stragglers = _calls(monkeypatch, "_score_all")
    _fused_vs_reference(spark, mixed, pool.iloc[:33], K, RES)
    assert stragglers, "some of these queries are stragglers"


@pytest.mark.parametrize(
    "n, path, arg", [(8, "_score_all", 1), (40, "_iterate", 0)]
)
def test_fused_all_straggler_sides(spark, monkeypatch, n, path, arg):
    """Points in one cluster, queries an ocean away: no query certifies.
    8 stragglers take _score_all, 40 the iterative rounds."""
    rng = np.random.default_rng(n)
    points = pd.DataFrame({
        "point_id": np.arange(400, dtype=np.int64),
        "lat": rng.uniform(39.0, 41.0, 400),
        "lng": rng.uniform(-75.0, -73.0, 400),
    })
    queries = _queries(np.column_stack(
        [rng.uniform(-50.0, -40.0, n), rng.uniform(-30.0, 30.0, n)]
    ))
    seen = _calls(monkeypatch, path)
    _fused_vs_reference(spark, points, queries, K, RES)
    assert [c[arg].count() for c in seen] == [n]


def test_fused_driver_row_bound(spark, data, monkeypatch):
    """At most DRIVER_KNN_ROWS candidate rows reach the driver: a call
    that would bring one more takes the iterative rounds, with the same
    answer."""
    pts, pool, pts_df = data
    queries = pool.iloc[:33]
    q = joins._query_side(spark.createDataFrame(queries), "query_id", "lat", "lng")
    qt = joins._collect_queries(q, 1000)
    p = joins._point_side(pts_df, "point_id", "lat", "lng")
    n = driver.bounded_collect(joins._cert_candidates(p, qt, K, RES), 10**6).num_rows
    want = _duck_knn(pts, queries, K)
    for bound, iterated in ((n, 0), (n - 1, 1)):
        monkeypatch.setattr(joins, "DRIVER_KNN_ROWS", bound)
        seen = _calls(monkeypatch, "_iterate")
        _assert_knn(_knn_rows(spark, pts_df, queries), pts, want)
        assert len(seen) == iterated, bound


def test_knn_certificate_round_jobs(spark, jobs_in):
    """40 hub queries over 20k points: the certificate round is the
    query collect and one bounded collect of the fused pass (no persist,
    no checkpoint, no exchange), and its answer is a local relation, so
    collecting it runs no job."""
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
    cached = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    out, call_jobs = jobs_in(lambda: joins.knn_join(q, pts_df, k=5, resolution=6))
    rows, collect_jobs = jobs_in(out.collect)
    assert (call_jobs, collect_jobs) == (2, 0)
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == cached
    _assert_knn([tuple(r) for r in rows], points, _duck_knn(points, queries, 5))
