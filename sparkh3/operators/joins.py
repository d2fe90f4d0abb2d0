"""Spatial joins (north-rule ops, SURVEY §2.3/§2.4).

The three point joins share one probe pass (``probe_pass``): it
encodes each located point at each level's resolution, matches its cell
against sorted int64 cells with their owners, and hands the matches to
the join's own refine step. The point side never shuffles, and no
BroadcastHashJoin or per-column UDF sits around the pass.

Placement. A point side the optimizer sizes under
``DRIVER_POINT_BYTES`` (its ``sizeInBytes``, read with no job) is
collected once, bounded at ``DRIVER_POINT_ROWS`` + 1 rows, and the same
per-batch body runs over its Arrow batches on the driver: the result is
a local relation and no Python worker task starts, so small ``pip_join``
and ``radius_join`` calls are eager. A larger side, a side past the row
bound, and any frame the optimizer cannot size (one built from Python
rows reports Long.MaxValue) runs the body as one ``mapInArrow`` pass
whose cells ship in a broadcast, and so does a driver pass whose output
grows past ``DRIVER_PASS_ROWS`` rows.

* ``pip_join``: exact point-in-polygon join. The levels are the H3
  polyfill **cover** cells (centroid-inside ∪ boundary band, a lossless
  candidate superset), one level per cover resolution, each cell
  flagged when it is proven interior. The refine passes interior
  candidates and ray-casts the boundary band. A polygon side too large
  to broadcast joins by shuffle instead.

* ``knn_join``: exact k-nearest-neighbors. Up to 1024 queries, one
  probe pass scores candidates in NumPy and prunes them per task. They
  end on the driver (the driver placement, or one bounded collect of
  the distributed pass), where exact distances and ranks come from the
  JVM's ``haversine_km`` over a local relation.
  Above ``STRAGGLER_QUERIES`` queries the level is each query's int64
  H3 disk, and a query is certified once its k-th neighbor lies within
  the disk's margin. A side of at most ``STRAGGLER_QUERIES``, and
  whatever the disks left uncertified, owns every res-0 cell instead:
  every point is then a candidate. Larger query sides run
  ``_ring_round`` joins at coarsening resolutions.

* ``radius_join``: the level is each query's ring-certificate disk, the
  refine a NumPy haversine prune, and the JVM's
  ``round(haversine_km, 6) <= r`` filter over the pass's rows the exact
  answer.
"""

from __future__ import annotations

import math
from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import functions as H3F
from .driver import bounded_collect, collect_if_small

EARTH_RADIUS_KM = 6371.007180918475

# knn_join strategy threshold on the query side's size: up to
# BROADCAST_QUERIES queries take the broadcast certificate round; more
# run the iterative rounds
BROADCAST_QUERIES = 1024
# a query side of at most this many, and at most this many queries the
# certificate round left open, are scored against every point (each
# owns every res-0 cell) instead of by a certificate or the iterative
# rounds
STRAGGLER_QUERIES = 32
# disk radius of the broadcast certificate round
CERT_RINGS = 8
# rows a probe pass may hold on the driver: the kNN certificate round's
# candidates (each task keeps about k per query; a call that would bring
# more takes the iterative rounds instead), and the output of a
# driver-placed pass (past it the pass runs distributed instead)
DRIVER_PASS_ROWS = 1 << 18
# NumPy distances prune kNN and radius candidates only within this slack
# of a k-th distance or of the radius; it must exceed twice the worst
# difference between _np_haversine_km and the JVM's haversine_km
SLACK_KM = 1e-2
# (point, cell) matches one slice of a probe_pass scores at once: bounds
# a task's Python memory when cells overlap heavily (coarse resolutions,
# many queries or polygons)
PAIR_CHUNK = 1 << 20
# a point side probe_pass runs on the driver: optimizer estimate under
# DRIVER_POINT_BYTES (read with no job), then one bounded collect of at
# most DRIVER_POINT_ROWS rows (more rows drop the collect). The row
# bound is the measured crossover: on 4 cores spatial_join's three joins
# ran faster on the driver at 2^15 parquet points (one file or four),
# even at 2^16 in one file, and slower at 2^16 in four files and from
# 2^17; 2^15 three-column rows estimate at 0.8 MiB (parquet) and 1 MiB
# (in memory)
DRIVER_POINT_BYTES = 1 << 20
DRIVER_POINT_ROWS = 1 << 15
_OUT = ("_qid", "_pid", "_dist", "_rank")


def haversine_km(lat1: Column, lng1: Column, lat2: Column, lng2: Column) -> Column:
    """Great-circle distance — native Column algebra (JVM codegen)."""
    rl1 = F.radians(lat1)
    rl2 = F.radians(lat2)
    dlat = rl2 - rl1
    dlng = F.radians(lng2) - F.radians(lng1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(rl1) * F.cos(rl2) * F.sin(dlng / 2) * F.sin(dlng / 2)
    )
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def _hav() -> Column:
    """``haversine_km`` over the joins' internal (_qlat, _qlng, _plat,
    _plng) columns."""
    return haversine_km(
        F.col("_qlat"), F.col("_qlng"), F.col("_plat"), F.col("_plng")
    )


def _avg_hex_area_km2(res: int) -> float:
    n_cells = 2 + 120 * 7**res
    return 4.0 * math.pi * EARTH_RADIUS_KM**2 / n_cells


def min_cell_width_km(res: int) -> float:
    """Conservative lower bound on cell width at `res` (min hex area is
    ~0.45x the mean near icosahedron vertices)."""
    inr = math.sqrt(0.45 * _avg_hex_area_km2(res) / (2.0 * math.sqrt(3.0)))
    return 2.0 * inr


def adaptive_cover_res(
    rings, target_cells: int = 120, max_res: int = 9
) -> int:
    """Cover resolution sized to a polygon: the coarsest res whose mean
    hex area keeps the cover around `target_cells` cells (bbox estimate).
    Big polygons get coarse covers, small polygons fine cells — neither
    a huge broadcast table nor a fat-cell candidate explosion."""
    lats = [p[0] for ring in rings for p in ring]
    lngs = [p[1] for ring in rings for p in ring]
    dlat = max(max(lats) - min(lats), 1e-6)
    dlng = max(max(lngs) - min(lngs), 1e-6)
    mid = math.radians((max(lats) + min(lats)) / 2.0)
    area = dlat * 111.19 * dlng * 111.19 * max(math.cos(mid), 0.05)
    for r in range(max_res + 1):
        if _avg_hex_area_km2(r) <= area / target_cells:
            return r
    return max_res


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    resolution: int | None = None,
    lat_col: str = "lat",
    lng_col: str = "lng",
    geometry_col: str = "geometry",
    broadcast: bool = True,
    validate_key: bool = True,
    max_broadcast_rows: int = 100_000,
) -> DataFrame:
    """Exact point-in-polygon join. Returns points columns + all polygon
    columns except its geometry.

    Scale shape: with ``broadcast=True`` (default — the polygon side is
    the declared-small dim side) the whole join runs as ONE fused
    vectorized pass over the points (encode + broadcast cover match +
    exact ray cast; the 100 TB point side never shuffles), and
    ``resolution=None`` (default) sizes each polygon's cover resolution
    adaptively to its footprint. A small point side runs that pass on
    the driver (see ``probe_pass``), so the call is then eager and
    returns a local relation. With ``broadcast=False`` NOTHING is
    ever collected to the driver: the cover joins by shuffle and
    refinement geometry joins back by key as flat coord arrays, so
    arbitrarily large polygon sides work (an explicit ``resolution`` is
    required there). The polygon key (first non-geometry column) must be
    unique — a duplicate key would mis-multiply candidates, so we
    validate it (``validate_key=False`` skips the one-job check when the
    caller already guarantees uniqueness, e.g. keys from a groupBy).
    """
    from pyspark.sql.conversion import ArrowTableToRowsConversion

    from . import udfs

    poly_key = [c for c in polygons.columns if c != geometry_col][0]
    attr_cols = [c for c in polygons.columns if c != geometry_col]
    if broadcast:
        # broadcast path: the polygon side is the declared-small dim
        # side, so one collect powers EVERYTHING — key validation, cover
        # cells computed in-process by the kernel (Spark builds broadcast
        # relations on the driver the same way), and the fused
        # encode+join+refine single-pass map (see _pip_broadcast).
        # Guardrail: the collect is bounded at max_broadcast_rows + 1 —
        # a misdeclared huge polygon side falls back to the shuffle path
        # instead of OOMing the driver.
        rows = ArrowTableToRowsConversion.convert(
            bounded_collect(polygons, max_broadcast_rows + 1),
            polygons.schema,
        )
        if len(rows) > max_broadcast_rows:
            if resolution is None:
                # the shuffle path needs one explicit cover resolution:
                # size it to the sampled polygons' footprints (median)
                sampled = sorted(
                    adaptive_cover_res(
                        [
                            [(p["lat"], p["lng"]) for p in ring]
                            for ring in r[geometry_col]
                        ]
                    )
                    for r in rows[:64]
                    if r[geometry_col]
                )
                resolution = sampled[len(sampled) // 2] if sampled else 4
            broadcast = False
            rows = None
    if broadcast:
        keys = [r[poly_key] for r in rows]
        if validate_key and len(set(keys)) != len(keys):
            raise ValueError(
                f"pip_join: polygon key column '{poly_key}' must be unique "
                f"({len(keys)} rows, {len(set(keys))} distinct keys)"
            )
        key_field = next(
            f for f in polygons.schema.fields if f.name == poly_key
        )
        out = _pip_broadcast(
            points, rows, poly_key, key_field, geometry_col,
            resolution, lat_col, lng_col,
        )
        extra = [c for c in attr_cols if c != poly_key]
        if extra:
            out = out.join(
                F.broadcast(polygons.select(*attr_cols)), poly_key
            )
        return out
    if resolution is None:
        raise ValueError(
            "pip_join(broadcast=False) needs an explicit cover resolution"
        )
    if validate_key:
        stats = polygons.agg(
            F.count("*").alias("n"), F.countDistinct(poly_key).alias("nd")
        ).first()
        if stats["n"] != stats["nd"]:
            raise ValueError(
                f"pip_join: polygon key column '{poly_key}' must be unique "
                f"({stats['n']} rows, {stats['nd']} distinct keys)"
            )
    # asNondeterministic on both UDFs: the cell equi-join infers
    # IsNotNull(_cell) and the cover explode infers size(_cov) > 0;
    # either filter, pushed below its projection, would re-evaluate the
    # UDF once per row/polygon on top of the original evaluation
    # (guide §4.4 double-BatchEvalPython pattern)
    pts = points.withColumn(
        "_cell",
        H3F.latlng_to_cell_udf(resolution)
        .asNondeterministic()(F.col(lat_col), F.col(lng_col)),
    )
    cover = udfs.polyfill_cover_classified_udf(resolution).asNondeterministic()
    # spread the polygon side by key so each cover computation gets its
    # own task — the UDF cost is per-polygon, not per-row-count
    spread = polygons.repartition(F.col(poly_key))
    poly_cells = (
        spread.withColumn("_cov", cover(F.col(geometry_col)))
        .select(*attr_cols, F.explode("_cov").alias("_cv"))
        .select(
            *attr_cols,
            F.col("_cv.cell").alias("_cell"),
            F.col("_cv.interior").alias("_interior"),
        )
    )
    # materialize the cover once: broadcast construction over a plan that
    # still contains the Python UDF re-evaluates it (measured ~5x cost).
    # localCheckpoint, not persist: a persisted Dataset lives in the
    # CacheManager until explicitly unpersisted (which the caller can't
    # do — the result still references it), i.e. one leaked cache entry
    # per call; checkpoint blocks are GC-cleaned once unreferenced
    poly_cells = poly_cells.localCheckpoint(eager=True)
    cand = pts.join(poly_cells, "_cell", "inner")
    # interior-cell candidates are matches by construction (the whole
    # cover cell is proven inside) — they go straight to the output and
    # never touch the geometry join or the ray cast; only the boundary
    # band pays both. (A when()-style OR would not save the work: Spark
    # extracts Python UDFs into an unconditional projection node.)
    cand_int = cand.filter(F.col("_interior"))
    # non-broadcast path (arbitrarily large polygon sides): geometry
    # joins back to BOUNDARY candidate rows only, flattened to
    # array<double> + ring lengths (Arrow moves flat doubles ~100x
    # cheaper than nested struct rows); the ray cast parses once per
    # (batch, key) group.
    poly_geom = polygons.select(
        poly_key,
        F.flatten(
            F.transform(
                F.col(geometry_col),
                lambda ring: F.flatten(
                    F.transform(ring, lambda p: F.array(p["lat"], p["lng"]))
                ),
            )
        ).alias("_pcoords"),
        F.transform(F.col(geometry_col), lambda ring: F.size(ring)).alias(
            "_prlens"
        ),
    )
    cand_bnd = cand.filter(~F.col("_interior")).join(poly_geom, poly_key)
    refined_bnd = cand_bnd.filter(
        udfs.point_in_flat_polygon_udf()(
            F.col(lat_col), F.col(lng_col), F.col(poly_key),
            F.col("_pcoords"), F.col("_prlens"),
        )
    ).drop("_pcoords", "_prlens")
    return cand_int.unionByName(refined_bnd).drop("_cell", "_interior")


def probe_pass(
    points: DataFrame, lat: str, lng: str, levels: list, data, refine,
    schema,
) -> DataFrame:
    """One pass over ``points`` that probes sorted cells: the shared
    shape of the broadcast ``pip_join``, the ``knn_join`` rounds and
    ``radius_join``.

    ``levels`` holds ``_level`` tuples ``(resolution, sorted int64
    cells, owners, *payload)``. Each Arrow batch is sliced so that a
    slice matches at most ``PAIR_CHUNK`` cells; in each slice the points
    with a located (non-null, non-NaN) ``lat``/``lng`` encode at each
    level's resolution and probe its cells (``udfs.match_sorted``).
    ``refine(data, matches)`` runs once per task. ``matches`` yields,
    per slice with a match, ``(slice, rows, lat, lng, owners,
    *payload)``: each match's row in the slice, that point's
    coordinates, and its cell's owner and payload. ``refine`` yields
    Arrow batches of ``schema`` and may keep state across a task's
    slices.

    Placement: a point side ``_driver_points`` brings up runs the same
    body over its Arrow batches on the driver, as one task, and the
    result is a local relation: the call is eager and starts no Python
    worker. Any other runs as one ``mapInArrow`` pass whose ``levels``
    and ``data`` ship in one broadcast, captured by the returned frame's
    closure: the ContextCleaner reclaims it once the caller drops the
    frame. So does a driver pass whose output passes
    ``DRIVER_PASS_ROWS`` rows (a wide radius over dense points): its
    rows are dropped and the output streams from the tasks instead."""
    local = _driver_points(points)
    if local is not None:
        out = _probe_local(local, lat, lng, levels, data, refine, schema)
        if out.num_rows <= DRIVER_PASS_ROWS:
            return points.sparkSession.createDataFrame(out, schema)
    return _probe_mapped(points, lat, lng, levels, data, refine, schema)


def _driver_points(points: DataFrame) -> pa.Table | None:
    """``points`` as one Arrow table when it is small enough to probe on
    the driver (``driver.collect_if_small`` under ``DRIVER_POINT_BYTES``
    and ``DRIVER_POINT_ROWS``), else None."""
    return collect_if_small(points, DRIVER_POINT_BYTES, DRIVER_POINT_ROWS)


def _prober(lat: str, lng: str, levels: list, refine):
    """``probe_pass``'s per-task body: ``fn(levels, data, batches)``
    yields ``refine``'s batches."""
    import numpy as np

    from ..kernel import geo as kgeo
    from .udfs import match_sorted

    # a point matches at most `most` cells, so a slice of
    # PAIR_CHUNK // most rows matches at most PAIR_CHUNK
    most = sum(int(_runs(lv[1])[1].max(initial=0)) for lv in levels)
    step = max(1, PAIR_CHUNK // max(most, 1))

    def fn(lvls, dat, batches):
        def matches():
            for b in (
                batch.slice(at, step)
                for batch in batches
                for at in range(0, batch.num_rows, step)
            ):
                la, lo = (
                    pc.fill_null(b.column(c).cast(pa.float64()), math.nan)
                    .to_numpy()
                    for c in (lat, lng)
                )
                vi = np.flatnonzero(~(np.isnan(la) | np.isnan(lo)))
                if len(vi) == 0 or not lvls:
                    continue
                found = []
                for res, cells, *tail in lvls:
                    ri, fi = match_sorted(
                        cells, kgeo.latlng_to_cell(la[vi], lo[vi], res)
                    )
                    found.append((vi[ri], *(t[fi] for t in tail)))
                rows, *tail = map(np.concatenate, zip(*found))
                if len(rows):
                    yield (b, rows, la[rows], lo[rows], *tail)

        yield from refine(dat, matches())

    return fn


def _probe_local(
    table: pa.Table, lat: str, lng: str, levels: list, data, refine, schema
) -> pa.Table:
    """``probe_pass``'s body over a collected point ``table`` on the
    driver: the pass's rows as one Arrow table of ``schema``. It stops
    once it holds more than ``DRIVER_PASS_ROWS`` rows, as a bounded
    collect would, so the driver never holds the output of a pass that
    does not fit."""
    from pyspark.sql.pandas.types import to_arrow_schema

    fn = _prober(lat, lng, levels, refine)
    out, n = [], 0
    for b in fn(levels, data, table.to_batches()):
        out.append(b)
        n += b.num_rows
        if n > DRIVER_PASS_ROWS:
            break
    return (
        pa.Table.from_batches(out) if out
        else to_arrow_schema(schema).empty_table()
    )


def _probe_mapped(
    points: DataFrame, lat: str, lng: str, levels: list, data, refine,
    schema,
) -> DataFrame:
    """``probe_pass``'s body as one ``mapInArrow`` pass over ``points``."""
    fn = _prober(lat, lng, levels, refine)
    bc = points.sparkSession.sparkContext.broadcast((levels, data))
    return points.mapInArrow(lambda batches: fn(*bc.value, batches), schema)


def _level(res: int, cells, owners, *payload) -> tuple:
    """A ``probe_pass`` level: ``cells`` at ``res`` sorted, with their
    owners (and any payload arrays) in the same order."""
    import numpy as np

    order = np.argsort(cells, kind="stable")
    return (
        res, cells[order], owners[order].astype(np.int32),
        *(p[order] for p in payload),
    )


def _pip_broadcast(
    points: DataFrame,
    poly_rows: list,
    poly_key: str,
    key_field,
    geometry_col: str,
    resolution: int | None,
    lat_col: str,
    lng_col: str,
) -> DataFrame:
    """Broadcast PIP as one ``probe_pass`` over the points. Each of the
    collected ``poly_rows`` covers at ``resolution``, or with None at
    the resolution ``adaptive_cover_res`` sizes to its own footprint.
    One classified-cover BFS per resolution gives one level, whose
    payload flags the cells proven fully inside. Their candidates are
    matches by construction, so only boundary-band candidates pay the
    exact ray cast. Points encode directly at each level's resolution:
    aperture-7 bit-ancestors do not geometrically contain their
    descendants (~6.5% of points sit in protrusions outside the
    ancestor hexagon), so ancestor matching would break the interior
    flag's "point is inside this cell" premise and could miss
    candidates. Returns the points' columns + ``poly_key``, in point
    order."""
    import numpy as np
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructType

    from ..functions import _rings_from_raw
    from ..kernel import polygon as pg

    polys = [r for r in poly_rows if r[geometry_col]]
    rings = [_rings_from_raw(r[geometry_col]) for r in polys]
    res_arr = np.asarray(
        [
            adaptive_cover_res(
                [[(p["lat"], p["lng"]) for p in ring] for ring in r[geometry_col]]
            )
            if resolution is None
            else resolution
            for r in polys
        ],
        dtype=np.int64,
    )
    levels = []
    for res in sorted(set(res_arr.tolist())):
        idx = np.flatnonzero(res_arr == res)
        owner, cells, interior = pg.cover_bfs([rings[i] for i in idx], res)
        levels.append(_level(res, cells, idx[owner], interior))
    keys = pa.array(
        [r[poly_key] for r in polys], type=to_arrow_type(key_field.dataType)
    )

    def refine(data, matches):
        keys, rings = data
        for b, rows, la, lo, poly, interior in matches:
            keep = interior.copy()
            for g in np.unique(poly[~interior]):
                m = ~interior & (poly == g)
                keep[m] = pg.points_in_rings(la[m], lo[m], rings[g])
            order = np.argsort(rows[keep], kind="stable")
            hit = b.take(pa.array(rows[keep][order]))
            yield pa.RecordBatch.from_arrays(
                [*hit.columns, keys.take(pa.array(poly[keep][order]))],
                names=[*hit.schema.names, poly_key],
            )

    return probe_pass(
        points, lat_col, lng_col, levels, (keys, rings), refine,
        StructType(list(points.schema.fields) + [key_field]),
    )


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    resolution: int,
    query_id: str = "query_id",
    point_id: str = "point_id",
    q_lat: str = "lat",
    q_lng: str = "lng",
    p_lat: str = "lat",
    p_lng: str = "lng",
) -> DataFrame:
    """Exact kNN join. Output: (query_id, point_id, dist_km, rank).
    Deterministic tie-break: (dist_km, point_id) ascending.

    Two strategies, chosen by the query side's size:

    * <= ``BROADCAST_QUERIES`` (1024) queries, however few
      (``_knn_broadcast``): the query collect and one ``probe_pass``
      body over the points (no exchange, persist or checkpoint), on the
      driver over one bounded collect of a small point side, else as a
      ``mapInArrow`` pass read by one bounded collect. Its answer is a
      local relation, so collecting it runs no job. A side of at most
      ``STRAGGLER_QUERIES`` (32) is scored against every point; a
      larger one is certified per query over the points in int64 H3
      disks around the queries. Queries the disks cannot certify
      (sparse regions) take one more every-point pass when at most
      ``STRAGGLER_QUERIES`` remain, else the iterative rounds. perfbench
      ``spatial_join`` (40 hub queries over 20k parquet points, k=5,
      res 6) runs the call as 2 jobs (the two collects) and no Python
      worker.
    * larger query sides (``_knn_iterative``): ring rounds at
      ``resolution`` and every 3 resolutions coarser, ``_score_all`` for
      whatever is left at res <= 0. The open-query set stays a
      DataFrame; only counts reach the driver.

    The query side is read once, by a bounded one-job collect that is
    both the size probe and the broadcast input, and so is a
    driver-placed point side; neither writes session conf, so
    concurrent callers on one session do not interfere.
    """
    q = _query_side(queries, query_id, q_lat, q_lng)
    qt = _collect_queries(q, BROADCAST_QUERIES + 1)
    pts = _point_side(points, point_id, p_lat, p_lng)
    if qt.num_rows == 0:
        return _no_rows(
            q, pts, query_id, point_id, dist_km="double", rank="int"
        )
    if qt.num_rows <= BROADCAST_QUERIES:
        out = _knn_broadcast(qt, pts, k, resolution, _driver_points(pts))
    else:
        out = _iterate(q, pts, k, resolution)
    return out.select(
        F.col("_qid").alias(query_id),
        F.col("_pid").alias(point_id),
        F.col("_dist").alias("dist_km"),
        F.col("_rank").alias("rank"),
    )


def _query_side(
    queries: DataFrame, query_id: str, q_lat: str, q_lng: str
) -> DataFrame:
    return queries.select(
        F.col(query_id).alias("_qid"),
        F.col(q_lat).cast("double").alias("_qlat"),
        F.col(q_lng).cast("double").alias("_qlng"),
    )


def _point_side(
    points: DataFrame, point_id: str, p_lat: str, p_lng: str
) -> DataFrame:
    return points.select(
        F.col(point_id).alias("_pid"),
        F.col(p_lat).cast("double").alias("_plat"),
        F.col(p_lng).cast("double").alias("_plng"),
    )


def _no_rows(
    q: DataFrame, pts: DataFrame, query_id: str, point_id: str, **cols: str
) -> DataFrame:
    """The typed empty answer of a join called with no query: the query
    id, the point id and ``cols`` (name -> Spark type). limit(0) plans
    as an empty local relation, so collecting it runs no job."""
    return q.select(
        F.col("_qid").alias(query_id),
        F.lit(None).cast(pts.schema["_pid"].dataType).alias(point_id),
        *(F.lit(None).cast(t).alias(c) for c, t in cols.items()),
    ).limit(0)


def _collect_queries(q: DataFrame, n: int) -> pa.Table:
    """At most ``n`` rows of a (_qid, _qlat, _qlng) query side. Null/NaN
    coordinates raise: they would encode to garbage cells (or poison
    every haversine) and the join would silently return arbitrary rows
    instead of failing."""
    qt = bounded_collect(q, n)
    bad = pc.or_(
        pc.is_nan(pc.fill_null(qt["_qlat"], math.nan)),
        pc.is_nan(pc.fill_null(qt["_qlng"], math.nan)),
    )
    if pc.any(bad).as_py():
        ids = qt["_qid"].filter(bad).to_pylist()
        raise ValueError(
            f"null/NaN query coordinates (ids {ids[:5]}...) — they would "
            "encode to garbage cells and return arbitrary neighbors"
        )
    return qt


def _with_cells(pts: DataFrame, resolution: int) -> DataFrame:
    """(_pid, _plat, _plng) points plus their int64 cell ``_cell0`` at
    ``resolution``: the projection every ring round joins through."""
    cell = H3F.latlng_to_cell_long_udf(resolution)
    return pts.withColumn("_cell0", cell(F.col("_plat"), F.col("_plng")))


def _top_k(cand: DataFrame, k: int) -> DataFrame:
    """Each query's k nearest candidate rows: haversine ``_dist`` and
    ``_rank`` in the (dist_km, point_id) order every strategy shares."""
    w = Window.partitionBy("_qid").orderBy(
        F.col("_dist").asc(), F.col("_pid").asc()
    )
    return (
        cand.withColumn("_dist", _hav())
        .withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= k)
    )


def _score_all(pts: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Exact top-k by scoring every point against every query: the
    (_qid, _qlat, _qlng) queries are broadcast and crossed with the
    (_pid, _plat, _plng) points in one codegen pass. The rank-limit
    pushdown (WindowGroupLimit) keeps each task's top k per query, so
    the exchange after the |Q|-fold row inflation moves O(tasks·|Q|·k)
    rows, not the inflated scan. Serves ``_knn_iterative``'s
    coarsest-resolution fallback. Points with a null or NaN coordinate
    are skipped, as on the ring-round path (a null distance would sort
    first)."""
    located = reduce(
        Column.__and__,
        [F.col(c).isNotNull() & ~F.isnan(c) for c in ("_plat", "_plng")],
    )
    return _top_k(
        pts.filter(located).crossJoin(F.broadcast(queries)), k
    ).select(*_OUT)


def _ring_round(
    pts: DataFrame, disks: DataFrame, k: int, res: int, rings: int
) -> DataFrame:
    """One ring round. ``disks`` holds (_qid, _qlat, _qlng, _cell): the
    int64 cells at ``res`` of each query's ``rings``-disk; the points
    join it through the parent at ``res`` of their ``_cell0``. Every
    point outside a disk is at least (rings - 1) min cell widths away,
    so a query is certified (``_ok``) once it has k candidates and its
    k-th lies within that margin. Count and k-th distance come out of
    the ranking's own window pass. The result is materialised once,
    since both the certified-set read and the output scan it
    (localCheckpoint, not persist: its blocks are GC-cleaned once the
    caller drops the frame)."""
    margin = (rings - 1) * min_cell_width_km(res)
    per_q = Window.partitionBy("_qid")
    cand = pts.withColumn(
        "_cell", H3F.h3_parent_int(F.col("_cell0"), res)
    ).join(disks, "_cell")
    return (
        _top_k(cand, k)
        .withColumn(
            "_ok",
            (F.count("*").over(per_q) >= k)
            & (F.max("_dist").over(per_q) <= F.lit(margin)),
        )
        .select(*_OUT, "_ok")
        .localCheckpoint(eager=True)
    )


def _certified(ranked: DataFrame) -> DataFrame:
    """The ids a ring round certified, one row each."""
    return ranked.filter(F.col("_ok") & (F.col("_rank") == 1)).select("_qid")


def _disk_level(qt: pa.Table, resolution: int, rings: int) -> tuple:
    """The ``probe_pass`` level of the ``rings``-disk at ``resolution``
    around each (_qlat, _qlng) query of ``qt``, owned by its position."""
    from ..kernel import geo as kgeo
    from ..kernel import traversal as tv

    owner, cells = tv.grid_disk_grouped(
        kgeo.latlng_to_cell(
            qt["_qlat"].to_numpy(), qt["_qlng"].to_numpy(), resolution
        ),
        rings,
    )
    return _level(resolution, cells, owner)


def _globe_level(n: int) -> tuple:
    """The ``probe_pass`` level in which each of ``n`` queries owns all
    122 res-0 cells: every located point is a candidate of every
    query."""
    import numpy as np

    from ..kernel import index as ix

    base = ix.build_cell(np.arange(122), 0, np.full((122, 15), 7))
    return _level(0, np.tile(base, n), np.repeat(np.arange(n), len(base)))


def _np_haversine_km(lat1, lng1, lat2, lng2):
    """``haversine_km``'s formula in NumPy, with ``a`` clamped to 1 so a
    near-antipodal pair scores pi * R instead of NaN. It only prunes the
    certificate round's candidates, so it need not match the JVM's
    value bit for bit, only stay within ``SLACK_KM / 2`` of it. The two
    agree to 1e-10 km on random pairs; the difference peaks near
    antipodes, where asin's slope diverges: one ulp of ``sqrt(a)`` just
    below 1 moves the distance by 2R * sqrt(2 * 2**-53) = 1.9e-4 km, and
    m ulps by sqrt(m) times that. Measured worst: 1.9e-4 km over 200k
    near-antipodal pairs, so ``SLACK_KM`` = 0.01 km holds for up to ~690
    ulps (tests/test_join_strategies.py checks the bound)."""
    import numpy as np

    rl1 = np.radians(lat1)
    rl2 = np.radians(lat2)
    sdlat = np.sin((rl2 - rl1) / 2)
    sdlng = np.sin((np.radians(lng2) - np.radians(lng1)) / 2)
    a = sdlat * sdlat + np.cos(rl1) * np.cos(rl2) * sdlng * sdlng
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def _runs(sorted_keys):
    """Start and length of each run of equal values in ``sorted_keys``."""
    import numpy as np

    starts = np.flatnonzero(
        np.r_[True, sorted_keys[1:] != sorted_keys[:-1]]
    )[: len(sorted_keys)]
    return starts, np.diff(np.r_[starts, len(sorted_keys)])


def _prune(qi, d, k: int):
    """Mask of the rows within ``SLACK_KM`` of their query's k-th
    smallest distance ``d`` (all rows of a query with fewer than k).
    The exact top k, and every row tied with its k-th, survive: a row
    dropped here trails k rows by more than ``SLACK_KM``, i.e. by more
    than twice the worst NumPy/JVM difference, so it trails them in
    the JVM's distances too."""
    import numpy as np

    order = np.lexsort((d, qi))
    ds = d[order]
    starts, counts = _runs(qi[order])
    kth = np.full(len(starts), np.inf)
    full = counts >= k
    kth[full] = ds[starts[full] + k - 1]
    keep = np.empty(len(d), dtype=bool)
    keep[order] = ds <= np.repeat(kth, counts) + SLACK_KM
    return keep


def _knn_candidates(
    pts: DataFrame, qt: pa.Table, k: int, level: tuple,
    local: pa.Table | None = None,
) -> pa.Table:
    """A kNN round's candidates on the driver: one ``probe_pass`` body
    over the (_pid, _plat, _plng) points against ``level``, whose owners
    are positions in ``qt``, run over ``local`` (the point side
    ``_driver_points`` brought up) or else as a ``mapInArrow`` pass
    read by one bounded collect; either way at most ``DRIVER_PASS_ROWS``
    + 1 rows come back. Each slice's matches are scored with
    ``_np_haversine_km``; each task keeps, per query, the rows
    ``_prune`` keeps. Rows: (_qi, the
    query's position in ``qt``; _pid, _plat, _plng; _d, the NumPy
    distance)."""
    from pyspark.sql.types import (
        DoubleType, IntegerType, StructField, StructType,
    )

    schema = StructType([
        StructField("_qi", IntegerType()),
        *pts.schema.fields,
        StructField("_d", DoubleType()),
    ])

    def refine(data, matches):
        qla, qlo = data
        kept = None
        for b, rows, la, lo, qi in matches:
            d = _np_haversine_km(qla[qi], qlo[qi], la, lo)
            hit = b.take(pa.array(rows))
            part = pa.table(
                [qi, *hit.columns, d], names=["_qi", *hit.schema.names, "_d"]
            )
            kept = part if kept is None else pa.concat_tables([kept, part])
            kept = kept.filter(_prune(
                kept["_qi"].to_numpy(), kept["_d"].to_numpy(), k
            ))
        if kept is not None:
            yield from kept.combine_chunks().to_batches()

    args = (
        "_plat", "_plng", [level],
        (qt["_qlat"].to_numpy(), qt["_qlng"].to_numpy()), refine, schema,
    )
    if local is not None:
        return _probe_local(local, *args)
    return bounded_collect(_probe_mapped(pts, *args), DRIVER_PASS_ROWS + 1)


def _knn_broadcast(
    qt: pa.Table, pts: DataFrame, k: int, resolution: int,
    local: pa.Table | None = None,
) -> DataFrame:
    """Broadcast strategy for a collected query side ``qt`` over the
    (_pid, _plat, _plng) points, ``local`` when ``_driver_points``
    brought them up. Each round is one ``_knn_candidates`` pass, whose
    kept rows are on the driver (past ``DRIVER_PASS_ROWS`` the round's
    queries take the iterative rounds instead), ranked by ``_knn_rank``.

    A side of at most ``STRAGGLER_QUERIES`` owns every res-0 cell
    (``_globe_level``): every point is a candidate, so every query is
    answered exactly with no certificate. A larger side probes the
    queries' ``CERT_RINGS``-disks at ``resolution``; a query is
    certified when it has k candidates and its k-th lies within the
    disk's margin, as in ``_ring_round``. The uncertified rest takes
    the every-cell round when at most ``STRAGGLER_QUERIES`` remain (one
    pass beats several ring rounds that each rescan the points; it
    reuses ``local``, so a driver-placed point side is read once), else
    the iterative rounds. The rounds' answers form one local relation,
    so collecting it runs no job."""
    spark = pts.sparkSession
    parts, rest = [], None
    while qt.num_rows:
        exhaustive = qt.num_rows <= STRAGGLER_QUERIES
        if not exhaustive and parts:
            # too many stragglers for one every-point round
            rest = qt
            break
        level = (
            _globe_level(qt.num_rows) if exhaustive
            else _disk_level(qt, resolution, CERT_RINGS)
        )
        kept = _knn_candidates(pts, qt, k, level, local)
        if kept.num_rows > DRIVER_PASS_ROWS:
            rest = qt
            break
        done, qt = _knn_rank(spark, qt, kept, k, resolution, exhaustive)
        parts.append(done)
    out = spark.createDataFrame(pa.concat_tables(parts)) if parts else None
    if rest is None:
        return out
    rest = _iterate(spark.createDataFrame(rest), pts, k, resolution)
    return rest if out is None else out.unionByName(rest)


def _knn_rank(
    spark, qt: pa.Table, kept: pa.Table, k: int, resolution: int,
    exhaustive: bool,
) -> tuple[pa.Table, pa.Table]:
    """One broadcast round's answer from its candidates ``kept``: they
    are pruned once more across tasks and scored exactly by the JVM's
    ``haversine_km`` over a local relation (folded into the relation on
    the driver, so that read runs no job); ranks follow (dist_km,
    point_id). Returns the (_qid, _pid, _dist, _rank) rows of the
    queries answered (all of them when ``exhaustive``, else those
    certified) and the queries of ``qt`` left open."""
    import numpy as np

    kept = kept.filter(
        _prune(kept["_qi"].to_numpy(), kept["_d"].to_numpy(), k)
    )
    qi = kept["_qi"].to_numpy()
    exact = spark.createDataFrame(pa.table({
        "_qlat": qt["_qlat"].take(qi), "_qlng": qt["_qlng"].take(qi),
        "_plat": kept["_plat"], "_plng": kept["_plng"],
    })).select(_hav())
    dist = np.array([r[0] for r in exact.collect()], dtype=np.float64)
    # rows rank per query id, so copies of one id rank together as in
    # the ring round's window: each id maps to its first position in qt
    first = pc.index_in(
        qt["_qid"], value_set=qt["_qid"].combine_chunks()
    ).to_numpy()
    # Spark's ascending order: NaN after every distance, null ids first
    order = pc.sort_indices(
        pa.table({
            "q": first[qi],
            "d": np.where(np.isnan(dist), np.inf, dist),
            "p": kept["_pid"],
        }),
        sort_keys=[(c, "ascending") for c in ("q", "d", "p")],
        null_placement="at_start",
    ).to_numpy()
    qs, ds = first[qi][order], dist[order]
    starts, counts = _runs(qs)
    rank = np.arange(len(qs)) - np.repeat(starts, counts) + 1
    ok_q = np.full(qt.num_rows, exhaustive)
    if not exhaustive:
        full = counts >= k
        ok_q[qs[starts[full]]] = ds[starts[full] + k - 1] <= (
            (CERT_RINGS - 1) * min_cell_width_km(resolution)
        )
    top = ok_q[qs] & (rank <= k)
    sel = order[top]
    done = pa.table({
        "_qid": qt["_qid"].take(qs[top]),
        "_pid": kept["_pid"].take(sel),
        "_dist": dist[sel],
        "_rank": rank[top].astype(np.int32),
    })
    return done, qt.filter(pa.array(~ok_q[first]))


def _iterate(
    q: DataFrame, pts: DataFrame, k: int, resolution: int
) -> DataFrame:
    """``_knn_iterative`` over the (_pid, _plat, _plng) points, whose
    int64 cells are cached for the call so no round re-runs the
    caller's point pipeline or the encode (the result reads only
    checkpoints, never the cache)."""
    cells = _with_cells(pts, resolution).persist()
    try:
        return _knn_iterative(q, cells, k, resolution)
    finally:
        cells.unpersist()


def _knn_iterative(
    q: DataFrame, pts: DataFrame, k: int, resolution: int
) -> DataFrame:
    """Iterative strategy for a non-empty (_qid, _qlat, _qlng) query
    side of any size: ring rounds of 2, then 8 rings at ``resolution``,
    then every 3 resolutions coarser; queries still open at res <= 0
    take ``_score_all``. The open set stays a DataFrame (broadcast
    anti-joins against each round's certified ids); only counts reach
    the driver. ``pts`` carries ``_cell0`` (``_with_cells``)."""
    from . import udfs

    cell = H3F.latlng_to_cell_long_udf(resolution)
    # every round rescans the open queries
    left = q.withColumn(
        "_qcell0", cell(F.col("_qlat"), F.col("_qlng"))
    ).localCheckpoint(eager=True)
    n_left = left.count()
    parts: list[DataFrame] = []
    res = resolution
    while n_left and res > 0:
        for rings in (2, 8):
            disk = udfs.k_ring_udf_int(rings)(
                H3F.h3_parent_int(F.col("_qcell0"), res)
            )
            disks = left.withColumn("_cell", F.explode(disk)).drop("_qcell0")
            ranked = _ring_round(pts, disks, k, res, rings)
            ok = _certified(ranked)
            n_ok = ok.count()
            if n_ok:
                parts.append(ranked.filter(F.col("_ok")).select(*_OUT))
                left = left.join(F.broadcast(ok), "_qid", "anti")
                n_left -= n_ok
            if not n_left:
                break
        res -= 3
    if n_left:
        parts.append(
            _score_all(pts, left.drop("_qcell0"), k).localCheckpoint(eager=True)
        )
    return reduce(DataFrame.unionByName, parts)


def radius_join(
    queries: DataFrame,
    points: DataFrame,
    radius_km: float,
    resolution: int | None = None,
    query_id: str = "query_id",
    point_id: str = "point_id",
    q_lat: str = "lat",
    q_lng: str = "lng",
    p_lat: str = "lat",
    p_lng: str = "lng",
    max_queries: int = 4096,
    max_ring: int = 8,
) -> DataFrame:
    """Within-distance join: every (query, point) pair with haversine
    distance <= radius_km. Output (query_id, point_id, dist_km), dist
    rounded to 6 decimals (both the filter and the value, so an oracle
    computing the same closed form agrees at the boundary).

    Exact by the ring certificate (same geometry as knn_join): a point
    whose res-cell lies outside the k-ring disk of the query cell is at
    least (k-1) * min_cell_width away, so k = floor(R/width)+2 makes the
    disk a guaranteed superset of the R-ball. `resolution=None` picks
    the finest resolution whose disk needs <= max_ring rings (tightest
    candidate set that still broadcasts small).

    100 TB shape: one ``probe_pass`` over the points against the
    broadcast disks, whose refine keeps the pairs within NumPy
    haversine ``radius_km + SLACK_KM`` (a prune only: it never drops a
    pair the exact filter keeps), then the JVM's rounded ``haversine_km
    <= radius_km`` filter over the pass's rows. No point-side shuffle
    and no BroadcastHashJoin; output streams straight from the pass. A
    small point side runs that pass on the driver (see ``probe_pass``),
    so the call is then eager and its output, at most
    ``DRIVER_PASS_ROWS`` candidate pairs, is a local relation; a pass
    that would make more runs distributed instead. The query side is
    declared-small (<= max_queries, enforced by a bounded limit-collect,
    same guardrail discipline as pip_join).
    """
    from pyspark.sql.types import StructType

    if radius_km <= 0:
        raise ValueError(f"radius_km must be positive, got {radius_km}")
    if resolution is None:
        resolution = 0
        for res in range(15, -1, -1):
            if int(radius_km / min_cell_width_km(res)) + 2 <= max_ring:
                resolution = res
                break
    k_rings = int(radius_km / min_cell_width_km(resolution)) + 2
    if k_rings > max_ring:
        raise ValueError(
            f"radius {radius_km} km needs {k_rings} rings at res "
            f"{resolution} (max {max_ring}); "
            + (
                "raise max_ring (the disk cannot get coarser than res 0)"
                if resolution == 0
                else "use a coarser resolution or raise max_ring"
            )
        )
    q = _query_side(queries, query_id, q_lat, q_lng)
    qt = _collect_queries(q, max_queries + 1)
    if qt.num_rows > max_queries:
        raise ValueError(
            f"radius_join broadcasts the query side; got > {max_queries} "
            "rows — pre-aggregate or raise max_queries explicitly"
        )
    pts = _point_side(points, point_id, p_lat, p_lng)
    if qt.num_rows == 0:
        return _no_rows(q, pts, query_id, point_id, dist_km="double")

    def refine(data, matches):
        qid, qla, qlo = data
        for b, rows, la, lo, qi in matches:
            near = _np_haversine_km(qla[qi], qlo[qi], la, lo) <= (
                radius_km + SLACK_KM
            )
            qi = qi[near]
            hit = b.take(pa.array(rows[near]))
            yield pa.RecordBatch.from_arrays(
                [
                    qid.take(pa.array(qi)), pa.array(qla[qi]),
                    pa.array(qlo[qi]), *hit.columns,
                ],
                names=["_qid", "_qlat", "_qlng", *hit.schema.names],
            )

    cand = probe_pass(
        pts, "_plat", "_plng", [_disk_level(qt, resolution, k_rings)],
        (
            qt["_qid"].combine_chunks(),
            qt["_qlat"].to_numpy(), qt["_qlng"].to_numpy(),
        ),
        refine,
        StructType(q.schema.fields + pts.schema.fields),
    )
    return (
        cand.select(
            "_qid", "_pid", F.round(_hav(), 6).alias("_dist")
        )
        .filter(F.col("_dist") <= F.lit(float(radius_km)))
        .select(
            F.col("_qid").alias(query_id),
            F.col("_pid").alias(point_id),
            F.col("_dist").alias("dist_km"),
        )
    )
