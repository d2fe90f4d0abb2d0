"""Reference answers the benchmark checks sparkh3's outputs against,
computed outside every timed region: NumPy recounts, H3 bit math done
here rather than through sparkh3, and DuckDB SQL over the same inputs.
"""

from __future__ import annotations

import re

import numpy as np

EARTH_RADIUS_KM = 6371.007180918475
_RES_MASK = 0xF << 52


def h3_parent(cells: np.ndarray, res: int) -> np.ndarray:
    """Parent cells at ``res``: resolution field set, finer digits 7."""
    c = cells.astype(np.uint64)
    fill = np.uint64((1 << (3 * (15 - res))) - 1)
    return (c & np.uint64(~_RES_MASK & (2**64 - 1))) | np.uint64(res << 52) | fill


def descendant_range(cell: int, res: int, storage_res: int) -> tuple[int, int]:
    """[lo, hi] index range of every descendant of ``cell`` (at ``res``)
    at ``storage_res``: digits res+1..storage_res all 0 (lo) / all 6 (hi)."""
    base = (cell & ~_RES_MASK) | (storage_res << 52)
    lo, hi = base, base
    for d in range(res + 1, storage_res + 1):
        shift = 3 * (15 - d)
        lo &= ~(7 << shift)
        hi &= ~(1 << shift)
    return lo, hi


def tile_counts(lat_e6: np.ndarray, lng_e6: np.ndarray, res: int):
    """(sorted unique cells, counts) of the points at ``res``, encoded with
    the Spark-free kernel on exactly the doubles Spark parses."""
    from sparkh3.kernel import geo

    cells = geo.latlng_to_cell(lat_e6 / 1e6, lng_e6 / 1e6, res)
    return np.unique(cells.astype(np.uint64), return_counts=True)


def haversine_sql(qlat: str, qlng: str, plat: str, plng: str) -> str:
    """The great-circle distance in DuckDB SQL, term for term the
    closed form sparkh3 documents for its joins."""
    return (
        f"2.0 * {EARTH_RADIUS_KM} * asin(sqrt("
        f"sin((radians({plat}) - radians({qlat})) / 2) * "
        f"sin((radians({plat}) - radians({qlat})) / 2) + "
        f"cos(radians({qlat})) * cos(radians({plat})) * "
        f"sin((radians({plng}) - radians({qlng})) / 2) * "
        f"sin((radians({plng}) - radians({qlng})) / 2)))"
    )


def connect(points):
    """In-memory DuckDB holding the (point_id, lat, lng) pandas frame as
    table ``pts``."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.register("pts_src", points)
    con.execute("CREATE TABLE pts AS SELECT * FROM pts_src")
    con.unregister("pts_src")
    return con


def pip_digest(con, polygons) -> dict[str, tuple[int, int]]:
    """poly_id -> (points inside, sum of their point_id). Rectangles (the
    ``hub*`` polygons) by box predicates; the others by an even-odd ray
    cast over their edges."""
    out = {}
    for pid, ring in polygons:
        ys = [p[0] for p in ring]
        xs = [p[1] for p in ring]
        if pid.startswith("hub"):
            sql = (
                f"SELECT count(*), coalesce(sum(point_id), 0) FROM pts "
                f"WHERE lat > {min(ys)!r} AND lat < {max(ys)!r} "
                f"AND lng > {min(xs)!r} AND lng < {max(xs)!r}"
            )
        else:
            edges = " UNION ALL ".join(
                f"SELECT {ring[i][0]!r} AS y1, {ring[i][1]!r} AS x1, "
                f"{ring[i + 1][0]!r} AS y2, {ring[i + 1][1]!r} AS x2"
                for i in range(len(ring) - 1)
            )
            sql = (
                f"WITH e AS ({edges}), c AS ("
                f"SELECT p.point_id FROM pts p, e "
                f"WHERE p.lat BETWEEN {min(ys)!r} AND {max(ys)!r} "
                f"AND p.lng BETWEEN {min(xs)!r} AND {max(xs)!r} "
                f"AND ((e.y1 > p.lat) != (e.y2 > p.lat)) "
                f"AND p.lng < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1 "
                f"GROUP BY p.point_id HAVING count(*) % 2 = 1) "
                f"SELECT count(*), coalesce(sum(point_id), 0) FROM c"
            )
        n, s = con.execute(sql).fetchone()
        if n:
            out[pid] = (int(n), int(s))
    return out


def radius_digest(con, queries, radius_km: float) -> dict[int, tuple[int, int]]:
    """query_id -> (points within radius_km, sum of their point_id), the
    distance rounded to 6 decimals before the comparison."""
    con.register("rq", queries)
    d = haversine_sql("q.lat", "q.lng", "p.lat", "p.lng")
    rows = con.execute(
        f"SELECT q.query_id, count(*), sum(p.point_id) FROM rq q, pts p "
        f"WHERE round({d}, 6) <= {radius_km!r} GROUP BY q.query_id"
    ).fetchall()
    con.unregister("rq")
    return {int(q): (int(n), int(s)) for q, n, s in rows}


def knn_answer(con, queries, k: int) -> dict[int, list[tuple[int, float]]]:
    """query_id -> [(point_id, dist_km)] of the k nearest points, ordered
    by (dist_km, point_id)."""
    con.register("kq", queries)
    d = haversine_sql("q.lat", "q.lng", "p.lat", "p.lng")
    rows = con.execute(
        f"SELECT query_id, point_id, dist FROM ("
        f"SELECT q.query_id, p.point_id, {d} AS dist, row_number() OVER ("
        f"PARTITION BY q.query_id ORDER BY {d}, p.point_id) AS rk "
        f"FROM kq q, pts p) WHERE rk <= {k} ORDER BY query_id, rk"
    ).fetchall()
    con.unregister("kq")
    out: dict[int, list] = {}
    for q, p, dist in rows:
        out.setdefault(int(q), []).append((int(p), float(dist)))
    return out


def knn_matches(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Same neighbours in the same order; where ids differ, only an exact
    distance tie (within float noise) may explain it."""
    if len(got) != len(want):
        return False
    for (gp, gd), (wp, wd) in zip(got, want):
        if abs(gd - wd) > 1e-9 * max(1.0, wd):
            return False
        if gp != wp and not any(abs(gd - d) <= 1e-9 * max(1.0, d) and p == gp for p, d in want):
            return False
    return True


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams of a text split on runs of spaces."""
    toks = re.split(" +", text.strip())
    return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))}


def jaccard(a: str, b: str, n: int = 3) -> float:
    sa, sb = shingles(a, n), shingles(b, n)
    return len(sa & sb) / len(sa | sb)


def components(pairs) -> dict[int, int]:
    """node -> smallest node id of its connected component, over the
    (a, b, ...) edges."""
    root: dict[int, int] = {}

    def find(x: int) -> int:
        while root[x] != x:
            root[x] = root[root[x]]
            x = root[x]
        return x

    for a, b, *_ in pairs:
        root.setdefault(a, a)
        root.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            root[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in root}
