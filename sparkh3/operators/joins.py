"""Spatial joins (north-rule ops, SURVEY §2.3/§2.4).

* ``pip_join``: exact point-in-polygon join. H3 polyfill **cover** cells
  (centroid-inside ∪ boundary band — a lossless candidate superset) are
  exploded on the polygon side and equi-joined against the points' cells,
  then refined with an exact even-odd ray cast. The H3 stage only prunes;
  the refinement restores exact PIP semantics, so results match a naive
  theta-join while shuffling only co-located cells. Small polygon sides
  are broadcast (no shuffle of the points at all).

* ``knn_join``: exact k-nearest-neighbors. Two strategies, chosen by
  the query side's size, share two primitives: ``_score_all`` scores a
  few queries against every point, and ``_ring_round`` scores the points
  inside int64 H3 disks around the queries and certifies each query
  whose k-th neighbor lies within the disk's margin.
"""

from __future__ import annotations

import math
from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import functions as H3F
from .driver import bounded_collect

EARTH_RADIUS_KM = 6371.007180918475

# knn_join strategy threshold on the query side's size: up to
# BROADCAST_QUERIES queries take the broadcast certificate round; more
# run the iterative rounds
BROADCAST_QUERIES = 1024
# at most this many queries the certificate round left open are scored
# against every point (_score_all) instead of taking the iterative rounds
STRAGGLER_QUERIES = 32
# disk radius of the broadcast certificate round
CERT_RINGS = 8
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
    adaptively to its footprint. With ``broadcast=False`` NOTHING is
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
        # encode+join+refine single-pass map (see pip_broadcast_fused).
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
        if resolution is None:
            # adaptive covers: size each polygon's cover resolution to
            # its own footprint (resolution=None is the default path)
            res_list = [
                adaptive_cover_res(
                    [[(p["lat"], p["lng"]) for p in ring] for ring in r[geometry_col]]
                )
                if r[geometry_col]
                else 0
                for r in rows
            ]
        else:
            res_list = [resolution] * len(rows)
        out = udfs.pip_broadcast_fused(
            points, rows, poly_key, key_field, geometry_col,
            res_list, lat_col, lng_col,
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


def write_bucketed(
    df: DataFrame, table: str, cell_col: str, n_buckets: int = 64
) -> None:
    """Persist a table bucketed + sorted by its H3 cell column — the
    co-location contract for repeated cell joins at 100 TB: every join
    between two tables bucketed (same column, same bucket count) plans
    with NO Exchange and NO Sort on either side."""
    (
        df.write.bucketBy(n_buckets, cell_col)
        .sortBy(cell_col)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )


def bucketed_cell_join(
    spark,
    left_table: str,
    right_table: str,
    cell_col: str,
    how: str = "inner",
) -> DataFrame:
    """Join two pre-bucketed tables on their shared cell column —
    shuffle-free by construction (verify: no `Exchange` in the plan)."""
    return spark.table(left_table).join(
        spark.table(right_table), cell_col, how
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

    Two strategies, chosen by the query side's size and built on two
    shared primitives (``_score_all``: every point against a few
    broadcast queries; ``_ring_round``: the points in int64 H3 disks
    around the queries, with a per-query exactness certificate):

    * <= ``BROADCAST_QUERIES`` (1024) queries, however few
      (``_knn_broadcast``): one ring round against disks computed
      in-process by the kernel and broadcast. Queries it cannot certify
      (sparse regions) take ``_score_all`` when at most
      ``STRAGGLER_QUERIES`` (32) remain, else the iterative rounds.
    * larger query sides (``_knn_iterative``): ring rounds at
      ``resolution`` and every 3 resolutions coarser, ``_score_all`` for
      whatever is left at res <= 0. The open-query set stays a
      DataFrame; only counts reach the driver.

    ``_score_all`` is not a strategy of its own for small query sides:
    each task sorts all of its |points| x |queries| rows, so its cost
    grows with the point count. Measured on 4 cores (k=5, res 6, hub
    queries), it took 3.0-3.2 s for 32 queries on 20k points against
    1.4-1.6 s for the certificate round, and 9.0-9.3 s for 8 queries on
    200k points against 2.0-2.4 s. It was faster for 8 queries on 20k
    points (1.0-1.5 s against 1.4-1.8 s) and on a 500-point input.

    The query side is read once, by a bounded one-job collect that is
    both the size probe and the broadcast input; it writes no session
    conf, so concurrent callers on one session do not interfere.
    """
    q = _query_side(queries, query_id, q_lat, q_lng)
    qt = _collect_queries(q, BROADCAST_QUERIES + 1)
    if qt.num_rows == 0:
        # no query: nothing to encode, persist or certify. limit(0)
        # plans as an empty local relation, so collecting it runs no job
        pid = _point_side(points, point_id, p_lat, p_lng).schema["_pid"]
        return q.select(
            F.col("_qid").alias(query_id),
            F.lit(None).cast(pid.dataType).alias(point_id),
            F.lit(None).cast("double").alias("dist_km"),
            F.lit(None).cast("int").alias("rank"),
        ).limit(0)
    # the int64 cell projection is shared by every ring round and the
    # straggler pass; cached for the call so none of them re-runs the
    # caller's point pipeline or the encode (the strategies return only
    # frames that no longer read it)
    pts = _with_cells(
        _point_side(points, point_id, p_lat, p_lng), resolution
    ).persist()
    try:
        if qt.num_rows <= BROADCAST_QUERIES:
            out = _knn_broadcast(qt, pts, k, resolution)
        else:
            out = _knn_iterative(q, pts, k, resolution)
    finally:
        pts.unpersist()
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
        F.col(p_lat).alias("_plat"),
        F.col(p_lng).alias("_plng"),
    )


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
        cand.withColumn(
            "_dist",
            haversine_km(
                F.col("_qlat"), F.col("_qlng"), F.col("_plat"), F.col("_plng")
            ),
        )
        .withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= k)
    )


def _score_all(pts: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Exact top-k by scoring every point against every query: the
    (_qid, _qlat, _qlng) queries are broadcast and crossed with the
    (_pid, _plat, _plng) points in one codegen pass. The rank-limit
    pushdown (WindowGroupLimit) keeps each task's top k per query, so
    the exchange after the |Q|-fold row inflation moves O(tasks·|Q|·k)
    rows, not the inflated scan. Serves the straggler pass and the
    coarsest-resolution fallback."""
    return _top_k(pts.crossJoin(F.broadcast(queries)), k).select(*_OUT)


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


def _query_disks(
    spark, qt: pa.Table, resolution: int, n_rings: int
) -> DataFrame:
    """(_qid, _qlat, _qlng, _cell) rows: every cell of each collected
    query's ``n_rings``-disk at ``resolution``, computed in-process by
    the kernel. Cells ride as int64, so the equi-join probes a long
    column instead of allocating a hex string per point row; they are
    dropped before any result surfaces. Built from Arrow, so the frame
    is a local relation (no per-row pickling through py4j)."""
    import numpy as np

    from ..kernel import geo as kgeo
    from ..kernel import traversal as tv

    qcells = kgeo.latlng_to_cell(
        qt["_qlat"].to_numpy(), qt["_qlng"].to_numpy(), resolution
    )
    owner, cells = tv.grid_disk_grouped(qcells, n_rings)
    disks = qt.take(owner).append_column(
        "_cell", pa.array(cells.view(np.int64))
    )
    return spark.createDataFrame(disks)


def _knn_broadcast(
    qt: pa.Table, pts: DataFrame, k: int, resolution: int
) -> DataFrame:
    """Certificate strategy for a collected query side ``qt``: one ring
    round of ``CERT_RINGS`` rings against broadcast disks. Only the
    certified ids (<= |Q| rows) reach the driver; the rest take
    ``_score_all`` when at most ``STRAGGLER_QUERIES`` remain (one pass
    beats several ring rounds that each rescan the points), else the
    iterative rounds. ``pts`` carries ``_cell0`` (``_with_cells``)."""
    spark = pts.sparkSession
    disks = _query_disks(spark, qt, resolution, CERT_RINGS)
    ranked = _ring_round(pts, F.broadcast(disks), k, resolution, CERT_RINGS)
    ok = _certified(ranked).toArrow()["_qid"].combine_chunks()
    left = qt.filter(pc.invert(pc.is_in(qt["_qid"], value_set=ok)))
    done = ranked.filter(F.col("_ok")).select(*_OUT)
    if left.num_rows == 0:
        return done
    sq = spark.createDataFrame(left)
    if left.num_rows <= STRAGGLER_QUERIES:
        rest = _score_all(pts, sq, k).localCheckpoint(eager=True)
    else:
        rest = _knn_iterative(sq, pts, k, resolution)
    return done.unionByName(rest)


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
    broadcast disk a guaranteed superset of the R-ball; the haversine
    residual filter makes it exact. `resolution=None` picks the finest
    resolution whose disk needs <= max_ring rings (tightest candidate
    set that still broadcasts small).

    100 TB shape: the point side is ONE narrow projection + equi-join
    against a broadcast cell list + a native filter — no point-side
    shuffle at all; output streams straight from the join. The query
    side is declared-small (<= max_queries, enforced by a bounded
    limit-collect, same guardrail discipline as pip_join).
    """
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
    qt = _collect_queries(
        _query_side(queries, query_id, q_lat, q_lng), max_queries + 1
    )
    if qt.num_rows > max_queries:
        raise ValueError(
            f"radius_join broadcasts the query side; got > {max_queries} "
            "rows — pre-aggregate or raise max_queries explicitly"
        )
    qdf = _query_disks(points.sparkSession, qt, resolution, k_rings)
    # asNondeterministic: the equi-join infers IsNotNull(_cell), and
    # pushing that filter below the projection makes the optimizer
    # evaluate the encode UDF TWICE per point (guide §4.4 — the before
    # plan carried two ArrowEvalPython nodes for one call site)
    cell = H3F.latlng_to_cell_long_udf(resolution).asNondeterministic()
    pts = _point_side(points, point_id, p_lat, p_lng).withColumn(
        "_cell", cell(F.col("_plat"), F.col("_plng"))
    )
    dist = F.round(
        haversine_km(
            F.col("_qlat"), F.col("_qlng"), F.col("_plat"), F.col("_plng")
        ),
        6,
    )
    return (
        pts.join(F.broadcast(qdf), "_cell")
        .withColumn("_dist", dist)
        .filter(F.col("_dist") <= F.lit(float(radius_km)))
        .select(
            F.col("_qid").alias(query_id),
            F.col("_pid").alias(point_id),
            F.col("_dist").alias("dist_km"),
        )
    )
