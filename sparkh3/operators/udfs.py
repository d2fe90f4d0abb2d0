"""Operator-support pandas UDFs (Arrow-vectorized)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType, LongType, StringType


def polyfill_cover_udf(res: int):
    """Polygon -> lossless candidate cell cover (centroid-inside +
    boundary band) for PIP pre-joins."""

    @F.pandas_udf(ArrayType(StringType()))
    def f(poly: pd.Series) -> pd.Series:
        from ..functions import _rings_from_raw
        from ..kernel import index as ix
        from ..kernel import polygon as pg

        out = []
        for raw in poly:
            if raw is None or len(raw) == 0:
                out.append([])
                continue
            rings = _rings_from_raw(raw)
            cells = pg.polygon_cover_cells(rings, res)
            out.append(list(ix.int_to_str(cells)) if len(cells) else [])
        return pd.Series(out)

    return f


def polyfill_cover_classified_udf(res: int):
    """Polygon -> array<struct<cell, interior>>: the candidate cover
    plus the proven-interior flag (kernel
    polygon_cover_cells_classified) — the shuffle PIP path routes
    interior candidates straight to the output and joins geometry /
    ray-casts only the boundary band."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    t = ArrayType(
        StructType(
            [
                StructField("cell", StringType()),
                StructField("interior", BooleanType()),
            ]
        )
    )

    @F.pandas_udf(t)
    def f(poly: pd.Series) -> pd.Series:
        from ..functions import _rings_from_raw
        from ..kernel import index as ix
        from ..kernel import polygon as pg

        out = []
        for raw in poly:
            if raw is None or len(raw) == 0:
                out.append([])
                continue
            cells, interior = pg.polygon_cover_cells_classified(
                _rings_from_raw(raw), res
            )
            out.append(
                [
                    {"cell": c, "interior": bool(i)}
                    for c, i in zip(ix.int_to_str(cells), interior)
                ]
            )
        return pd.Series(out)

    return f


def point_in_flat_polygon_udf():
    """(lat, lng, poly_key, flat_coords, ring_lens) -> bool.

    The polygon rides each candidate row as a FLAT array<double>
    ([lat0,lng0,lat1,lng1,...] + per-ring lengths) — Arrow moves flat
    doubles ~100x cheaper than nested array<array<struct>> rows, and the
    even-odd ray cast parses each polygon once per (batch, key) group,
    then runs vectorized over all of that group's points. Used by the
    non-broadcast (shuffle) PIP path, where no driver collect is
    allowed.
    """

    @F.pandas_udf(BooleanType())
    def f(
        lat: pd.Series,
        lng: pd.Series,
        key: pd.Series,
        flat: pd.Series,
        rlens: pd.Series,
    ) -> pd.Series:
        import numpy as np

        from ..kernel import polygon as pg

        la = lat.to_numpy(dtype=np.float64)
        lo = lng.to_numpy(dtype=np.float64)
        out = np.zeros(len(la), dtype=bool)
        codes, uniques = pd.factorize(key, use_na_sentinel=True)
        for g in range(len(uniques)):
            ii = np.where(codes == g)[0]
            raw = flat.iloc[ii[0]]
            if raw is None or len(raw) == 0:
                continue
            coords = np.asarray(raw, dtype=np.float64).reshape(-1, 2)
            rl = np.asarray(rlens.iloc[ii[0]], dtype=np.int64)
            rings = np.split(coords, np.cumsum(rl)[:-1])
            out[ii] = pg.points_in_rings(la[ii], lo[ii], rings)
        return pd.Series(out)

    return f


def pip_broadcast_fused(
    points,
    poly_rows: list,
    poly_key: str,
    key_field,
    geometry_col: str,
    resolutions: list,
    lat_col: str,
    lng_col: str,
):
    """Fused broadcast PIP: encode + cover-cell hash join + exact
    ray-cast refine in ONE mapInPandas pass over the points.

    The polygon side (per-resolution sorted cover-cell arrays for
    searchsorted matching, ring arrays) ships once per executor as a
    Spark broadcast — the same data movement as a BroadcastHashJoin, but
    with a single Python eval node instead of two UDF stages around a
    JVM join, so each Arrow batch is touched exactly once.

    `resolutions` gives the cover resolution PER polygon (adaptive
    covers: big polygons use coarse cells, small ones fine cells without
    blowing up either side). Points encode once at the finest level;
    coarser levels match on the point cell's ancestor (vectorized bit
    math). Returns points columns + `poly_key`.
    """
    import numpy as np
    from pyspark.sql.types import StructType

    from ..functions import _rings_from_raw
    from ..kernel import geo as kgeo
    from ..kernel import polygon as pg

    keys: list = []
    rings_list: list = []
    res_list: list = []
    for r, res_p in zip(poly_rows, resolutions):
        raw = r[geometry_col]
        if raw is None or len(raw) == 0:
            continue
        keys.append(r[poly_key])
        rings_list.append(_rings_from_raw(raw))
        res_list.append(res_p)
    # one classified-cover BFS per cover resolution: interior cells
    # (proven fully inside) let their points skip the exact ray cast
    # entirely — only boundary-band candidates pay it
    res_arr = np.asarray(res_list, dtype=np.int64)
    levels = []
    for lvl in sorted(set(res_list)):
        idx = np.flatnonzero(res_arr == lvl)
        owner, cc, ci = pg.cover_bfs([rings_list[i] for i in idx], lvl)
        order = np.argsort(cc, kind="stable")
        levels.append((lvl, cc[order], idx[owner][order], ci[order]))
    res_fine = max(res_list) if res_list else 0
    # lifetime note: the broadcast is captured by the returned frame's
    # UDF closure, so Spark's ContextCleaner reclaims it once the caller
    # drops the DataFrame (broadcasts, unlike cache entries, are
    # GC-tracked) — no explicit destroy() needed or safe here
    bc = points.sparkSession.sparkContext.broadcast(
        (levels, res_fine, keys, rings_list)
    )
    out_schema = StructType(list(points.schema.fields) + [key_field])
    in_cols = [f.name for f in points.schema.fields]

    def fn(batches):
        lvls, rf, ks, rl = bc.value
        karr = np.asarray(ks, dtype=object)
        for pdf in batches:
            la = pdf[lat_col].to_numpy(dtype=np.float64, na_value=np.nan)
            lo = pdf[lng_col].to_numpy(dtype=np.float64, na_value=np.nan)
            valid = ~(np.isnan(la) | np.isnan(lo))
            rows_parts = []
            poly_parts = []
            int_parts = []
            if valid.any() and lvls:
                cells = kgeo.latlng_to_cell(la[valid], lo[valid], rf)
                vidx = np.where(valid)[0]
                for lvl, cc, cp, ci in lvls:
                    # DIRECT encode at each cover level: aperture-7
                    # bit-ancestors do not geometrically contain their
                    # descendants (~6.5% of points sit in protrusions
                    # outside the ancestor hexagon), so ancestor
                    # matching would break the interior bypass's
                    # "point is inside this cell" premise and could
                    # miss candidates whose true coarse cell differs
                    # from the ancestor
                    anc = (
                        cells
                        if lvl == rf
                        else kgeo.latlng_to_cell(la[valid], lo[valid], lvl)
                    )
                    left = np.searchsorted(cc, anc, side="left")
                    right = np.searchsorted(cc, anc, side="right")
                    counts = right - left
                    total = int(counts.sum())
                    if total == 0:
                        continue
                    ridx = np.repeat(np.arange(len(anc)), counts)
                    base = np.repeat(np.cumsum(counts) - counts, counts)
                    flat = np.repeat(left, counts) + (np.arange(total) - base)
                    rows_parts.append(vidx[ridx])
                    poly_parts.append(cp[flat])
                    int_parts.append(ci[flat])
            if not rows_parts:
                yield pdf.iloc[:0].assign(**{poly_key: []})[
                    in_cols + [poly_key]
                ]
                continue
            rows_idx = np.concatenate(rows_parts)
            poly_idx = np.concatenate(poly_parts)
            # interior-cell candidates are matches by construction (the
            # whole cell is inside) — ray-cast only the boundary band
            keep = np.concatenate(int_parts).copy()
            todo = ~keep
            pla = la[rows_idx]
            plo = lo[rows_idx]
            for g in np.unique(poly_idx[todo]):
                m = todo & (poly_idx == g)
                keep[m] = pg.points_in_rings(pla[m], plo[m], rl[g])
            rows_idx = rows_idx[keep]
            poly_idx = poly_idx[keep]
            order = np.argsort(rows_idx, kind="stable")
            rows_idx = rows_idx[order]
            poly_idx = poly_idx[order]
            out = pdf.iloc[rows_idx].copy()
            out[poly_key] = karr[poly_idx]
            yield out[in_cols + [poly_key]]

    return points.mapInPandas(fn, out_schema)


def k_ring_udf_int(k: int):
    """int64 cell -> array<bigint> disk (internal: kNN ring rounds).
    Nulls are gated JVM-side (``functions._null_safe_int_udf``), so the
    Arrow batch stays exact int64. grid_disk takes a batch's resolution
    from its first cell, so cells are grouped by resolution first: the
    res-0 null sentinel must not set the resolution of the real cells."""
    from ..functions import _H3_CELL_SENTINEL, _null_safe_int_udf

    @F.pandas_udf(ArrayType(LongType()))
    def f(cell: pd.Series) -> pd.Series:
        import numpy as np

        from ..kernel import index as ix
        from ..kernel import traversal as tv

        cells = cell.to_numpy(dtype=np.int64).view(np.uint64)
        res = ix.get_resolution(cells)
        out = np.empty(len(cells), dtype=object)
        for r in np.unique(res):
            sel = np.flatnonzero(res == r)
            o, c = tv.grid_disk_grouped(cells[sel], k)
            bounds = np.cumsum(np.bincount(o, minlength=len(sel)))[:-1]
            for gi, disk in zip(sel, np.split(c.view(np.int64), bounds)):
                out[gi] = disk
        return pd.Series(out)

    # the disk column always feeds a non-outer explode, whose inferred
    # size(...) > 0 filter would otherwise push below the projection and
    # double-evaluate the UDF (guide §4.4)
    return _null_safe_int_udf(f.asNondeterministic(), _H3_CELL_SENTINEL)
