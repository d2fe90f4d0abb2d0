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


def match_sorted(sorted_keys, keys):
    """Every ``(i, j)`` with ``keys[i] == sorted_keys[j]``, as two index
    arrays ordered by ``i``: the probe side of a broadcast join against
    a sorted int64 cell array (``joins.probe_pass``). Two
    ``searchsorted`` bounds per key give its run of matches; ``repeat``
    expands the runs into flat pairs."""
    import numpy as np

    left = np.searchsorted(sorted_keys, keys, side="left")
    counts = np.searchsorted(sorted_keys, keys, side="right") - left
    ridx = np.repeat(np.arange(len(keys)), counts)
    base = np.repeat(np.cumsum(counts) - counts, counts)
    flat = np.repeat(left, counts) + (np.arange(len(ridx)) - base)
    return ridx, flat


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
