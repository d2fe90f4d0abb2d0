"""Spark column-level H3 functions.

Two tiers, chosen per the SURVEY §4 optimization table:

* **Native bit-math expressions** (resolution, base cell, parent, center
  child): pure Catalyst ``Column`` algebra over int64 —
  run inside WholeStageCodegen on the JVM, no Python in the hot path.
* **Arrow-vectorized pandas UDFs** for the geometric kernels
  (latlng_to_cell, centroids, boundaries, rings, polyfill, linetrace):
  batched NumPy, one Python crossing per ~10k-row Arrow batch (the
  reference crosses per row: reference h3pandas.py:94-96).

H3 addresses travel as 15-char lowercase hex strings (parity with the
reference), with ``h3_str_to_int``/``h3_int_to_str`` for the int64 fast
path used by joins, rollups and storage clustering.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# native (JVM / codegen) bit-math tier
# ---------------------------------------------------------------------------


def h3_str_to_int(col: Column | str) -> Column:
    """Hex-string H3 address -> int64 (native, codegen)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(c, 16, 10).cast(LongType())


def h3_int_to_str(col: Column | str) -> Column:
    """int64 -> lowercase 15-char hex H3 address (native)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.hex(c))


def h3_resolution_int(v: Column) -> Column:
    return F.shiftrightunsigned(v, 52).bitwiseAND(F.lit(15)).cast(IntegerType())


def h3_resolution(col: Column | str) -> Column:
    return h3_resolution_int(h3_str_to_int(col))


def h3_base_cell_int(v: Column) -> Column:
    return F.shiftrightunsigned(v, 45).bitwiseAND(F.lit(127)).cast(IntegerType())


def h3_base_cell(col: Column | str) -> Column:
    return h3_base_cell_int(h3_str_to_int(col))


def h3_parent_int(v: Column, res: int) -> Column:
    """Parent at `res` — pure bit math, no UDF (SURVEY §2.2 op 9)."""
    fill = (1 << (3 * (15 - res))) - 1
    return (
        v.bitwiseAND(F.lit(~(15 << 52)))
        .bitwiseOR(F.lit(res << 52))
        .bitwiseOR(F.lit(fill))
    )


def h3_parent(col: Column | str, res: int) -> Column:
    return h3_int_to_str(h3_parent_int(h3_str_to_int(col), res))


def h3_center_child_int(v: Column, res: int) -> Column:
    """Center child at `res` (current res taken from the value) — native.

    Clears digits between the current res and `res`, then sets res bits.
    Built from Column ops only (no SQL-text round trip through
    ``Column._jc.toString()`` + ``F.expr``, which mis-renders names
    needing backticks and has no Spark Connect analog); the
    variable-width fill mask — Spark's ``shiftleft`` only takes a
    literal shift — comes from a 16-entry array literal indexed by the
    value's own resolution bits.
    """
    cur_res = F.shiftrightunsigned(v, 52).bitwiseAND(F.lit(15)).cast("int")
    # fill mask for every possible current res: (1 << 3*(15-r)) - 1
    fills = F.array(
        *[F.lit((1 << (3 * (15 - r))) - 1).cast("long") for r in range(16)]
    )
    cur_fill = F.element_at(fills, cur_res + F.lit(1))
    keep_fill = F.lit((1 << (3 * (15 - res))) - 1)
    return (
        v.bitwiseAND(F.bitwise_not(cur_fill))
        .bitwiseAND(F.lit(~(15 << 52)))
        .bitwiseOR(F.lit(res << 52))
        .bitwiseOR(keep_fill)
    )


def h3_center_child(col: Column | str, res: int) -> Column:
    return h3_int_to_str(h3_center_child_int(h3_str_to_int(col), res))


# ---------------------------------------------------------------------------
# Arrow-vectorized kernel tier (pandas UDFs)
# ---------------------------------------------------------------------------


def _np_str_cells(s: pd.Series):
    """pd.Series of hex strings -> (uint64 array, null mask)."""
    import numpy as np

    from .kernel import index as ix

    vals = s.to_numpy(dtype=object)
    null = pd.isna(vals)
    safe = np.where(null, "0", vals)
    return ix.str_to_int(safe), null


def _validate_cells(cells, null, ctx: str):
    """Raise ValueError on invalid addresses (reference parity:
    util/decorator.py:5-33 maps bad addresses to ValueError)."""
    import numpy as np

    from .kernel import index as ix

    bad = ~ix.is_valid_cell(cells) & ~null
    if np.any(bad):
        first = ix.int_to_str(cells[bad])[0]
        raise ValueError(f"{ctx}: invalid H3 address (e.g. {first!r})")


def latlng_to_cell_udf(res: int):
    @F.pandas_udf(StringType())
    def f(lat: pd.Series, lng: pd.Series) -> pd.Series:
        import numpy as np

        from .kernel import geo
        from .kernel import index as ix

        la = lat.to_numpy(dtype=np.float64, na_value=np.nan)
        lo = lng.to_numpy(dtype=np.float64, na_value=np.nan)
        null = np.isnan(la) | np.isnan(lo)
        cells = geo.latlng_to_cell(np.where(null, 0.0, la), np.where(null, 0.0, lo), res)
        out = ix.int_to_str(cells)
        out[null] = None
        return pd.Series(out)

    return f


def latlng_to_cell_long_udf(res: int):
    """Int64 cell ids — the at-scale storage form: no hex-string object
    arrays, so Arrow batches stay flat numeric buffers (first-touch page
    faults on per-row string allocation are the measured scaling ceiling
    of this host; int64 avoids them). Pair with h3_parent_int for fully
    JVM-native rollups."""

    @F.pandas_udf(LongType())
    def f(lat: pd.Series, lng: pd.Series) -> pd.Series:
        import numpy as np

        from .kernel import geo

        la = lat.to_numpy(dtype=np.float64, na_value=np.nan)
        lo = lng.to_numpy(dtype=np.float64, na_value=np.nan)
        null = np.isnan(la) | np.isnan(lo)
        cells = geo.latlng_to_cell(
            np.where(null, 0.0, la), np.where(null, 0.0, lo), res
        )
        out = pd.Series(cells.view(np.int64))
        if null.any():
            out = out.astype("Int64")
            out[null] = None
        return out

    return f


_LATLNG_STRUCT = StructType(
    [StructField("lat", DoubleType()), StructField("lng", DoubleType())]
)


def cell_to_latlng_udf():
    @F.pandas_udf(_LATLNG_STRUCT)
    def f(cell: pd.Series) -> pd.DataFrame:
        from .kernel import geo

        cells, null = _np_str_cells(cell)
        _validate_cells(cells, null, "h3_to_geo")
        lat, lng = geo.cell_to_latlng(cells)
        df = pd.DataFrame({"lat": lat, "lng": lng})
        df.loc[null, :] = None
        return df

    return f


# valid H3 res-0 cell (mode 1, base cell 0, all digits 7) — the
# null-substitution sentinel for int64 H3 UDF inputs (see
# _null_safe_int_udf: one null would float64 the whole Arrow batch and
# corrupt the low digit bits of every other id in it)
_H3_CELL_SENTINEL = 0x08001FFFFFFFFFFF


def cell_to_latlng_long_udf():
    """Centroid from int64 cell ids (no hex decode, flat numeric Arrow;
    exact integer path, null-safe JVM-side)."""

    @F.pandas_udf(_LATLNG_STRUCT)
    def f(cell: pd.Series) -> pd.DataFrame:
        import numpy as np

        from .kernel import geo

        vals = cell.to_numpy(dtype=np.int64).view(np.uint64)
        lat, lng = geo.cell_to_latlng(vals)
        return pd.DataFrame({"lat": lat, "lng": lng})

    return _null_safe_int_udf(f, _H3_CELL_SENTINEL)


_RING_TYPE = ArrayType(
    StructType([StructField("lng", DoubleType()), StructField("lat", DoubleType())])
)


def cell_to_boundary_udf():
    @F.pandas_udf(_RING_TYPE)
    def f(cell: pd.Series) -> pd.Series:
        from .kernel import geo

        cells, null = _np_str_cells(cell)
        _validate_cells(cells, null, "h3_to_geo_boundary")
        rings = geo.cell_to_boundary(cells)
        out = []
        for i, ring in enumerate(rings):
            if null[i]:
                out.append(None)
                continue
            pts = [(float(p[1]), float(p[0])) for p in ring]
            pts.append(pts[0])  # closed ring (golden rings are closed)
            out.append(pts)
        return pd.Series(out)

    return f


def cell_area_udf(unit: str = "km^2"):
    @F.pandas_udf(DoubleType())
    def f(cell: pd.Series) -> pd.Series:
        from .kernel import geo

        cells, null = _np_str_cells(cell)
        _validate_cells(cells, null, "cell_area")
        area = geo.cell_area(cells, unit)
        s = pd.Series(area)
        s[null] = None
        return s

    return f


def is_valid_udf():
    @F.pandas_udf(BooleanType())
    def f(cell: pd.Series) -> pd.Series:
        from .kernel import index as ix

        cells, null = _np_str_cells(cell)
        ok = ix.is_valid_cell(cells) & ~null
        return pd.Series(ok)

    return f


def _grouped_to_lists(owner, cells, n):
    """(owner, cell) pairs (owner-sorted) -> list of string lists."""
    import numpy as np

    from .kernel import index as ix

    strs = ix.int_to_str(cells)
    counts = np.bincount(owner, minlength=n)
    bounds = np.cumsum(counts)[:-1]
    return [list(x) for x in np.split(strs, bounds)]


def _ring_udf(k: int, ring_only: bool):
    @F.pandas_udf(ArrayType(StringType()))
    def f(cell: pd.Series) -> pd.Series:
        import numpy as np

        from .kernel import index as ix
        from .kernel import traversal as tv

        cells, null = _np_str_cells(cell)
        ctx = "hex_ring" if ring_only else "k_ring"
        _validate_cells(cells, null, ctx)
        n = len(cells)
        out: list = [None] * n
        # group by resolution (traversal requires uniform res)
        res = ix.get_resolution(cells)
        for r in np.unique(res[~null]) if null.any() else np.unique(res):
            sel = np.where((res == r) & ~null)[0]
            fn = tv.grid_ring_grouped if ring_only else tv.grid_disk_grouped
            o, c = fn(cells[sel], k)
            lists = _grouped_to_lists(o, c, len(sel))
            for li, gi in enumerate(sel):
                out[gi] = lists[li]
        return pd.Series(out)

    return f


def k_ring_udf(k: int):
    return _ring_udf(k, ring_only=False)


def hex_ring_udf(k: int):
    return _ring_udf(k, ring_only=True)


def _rings_from_raw(raw) -> list:
    """Arrow nested value -> list of (M,2) lat,lng arrays."""
    import numpy as np

    rings = []
    for ring in raw:
        pts = np.array([(p["lat"], p["lng"]) for p in ring], dtype=np.float64)
        rings.append(pts)
    return rings


def polyfill_udf(res: int):
    """Polygon column array<array<struct<lng,lat>>> -> array<string> cells
    whose centroid is inside (ring 0 shell, rings 1.. holes)."""

    @F.pandas_udf(ArrayType(StringType()))
    def f(poly: pd.Series) -> pd.Series:
        from .kernel import index as ix
        from .kernel import polygon as pg

        out = []
        for raw in poly:
            if raw is None or len(raw) == 0:
                out.append([])
                continue
            rings = _rings_from_raw(raw)
            cells = pg.polygon_to_cells(rings, res)
            out.append(list(ix.int_to_str(cells)) if len(cells) else [])
        return pd.Series(out)

    return f


def multipolyfill_udf(res: int):
    """MultiPolygon column array<array<array<struct<lng,lat>>>> -> cells."""

    @F.pandas_udf(ArrayType(StringType()))
    def f(poly: pd.Series) -> pd.Series:
        from .kernel import index as ix
        from .kernel import polygon as pg

        out = []
        for raw in poly:
            if raw is None or len(raw) == 0:
                out.append([])
                continue
            polys = [_rings_from_raw(p) for p in raw]
            cells = pg.multipolygon_to_cells(polys, res)
            out.append(list(ix.int_to_str(cells)) if len(cells) else [])
        return pd.Series(out)

    return f


def linetrace_udf(res: int):
    """(Multi)LineString column array<array<struct<lng,lat>>> ->
    array<string>: cells along the line, sequentially deduplicated
    across segments and parts (reference h3pandas.py:760-804 +
    util/decorator.py:36-58)."""

    @F.pandas_udf(ArrayType(StringType()))
    def f(line: pd.Series) -> pd.Series:
        import numpy as np

        from .kernel import geo
        from .kernel import index as ix
        from .kernel import traversal as tv

        out = []
        for raw in line:
            if raw is None:
                out.append([])
                continue
            seq: list[str] = []
            for part in raw:
                pts = np.array(
                    [(p["lat"], p["lng"]) for p in part], dtype=np.float64
                )
                if len(pts) < 2:
                    continue
                cells = geo.latlng_to_cell(pts[:, 0], pts[:, 1], res)
                for i in range(len(cells) - 1):
                    path = tv.grid_path(int(cells[i]), int(cells[i + 1]))
                    seq.extend(ix.int_to_str(path))
            # sequential dedup (repeats allowed non-sequentially)
            deduped: list[str] = []
            for s in seq:
                if not deduped or deduped[-1] != s:
                    deduped.append(s)
            out.append(deduped)
        return pd.Series(out)

    return f


def compact_udf():
    @F.pandas_udf(ArrayType(StringType()))
    def f(cells: pd.Series) -> pd.Series:
        import numpy as np

        from .kernel import index as ix

        out = []
        for raw in cells:
            if raw is None or len(raw) == 0:
                out.append([])
                continue
            arr = ix.str_to_int(list(raw))
            # same ValueError contract as every other string-cell UDF:
            # an invalid address must not silently compact as cell 0
            _validate_cells(arr, np.zeros(len(arr), dtype=bool), "compact")
            out.append(list(ix.int_to_str(ix.compact_cells(arr))))
        return pd.Series(out)

    # compacted lists habitually feed a non-outer explode next (bench
    # q5, compact_tiles): the inferred size(...) > 0 filter would push
    # below this projection and re-run the whole polyfill+compact UDF
    # chain — on the pre-repartition single partition (guide §4.4)
    return f.asNondeterministic()


def uncompact_udf(res: int):
    @F.pandas_udf(ArrayType(StringType()))
    def f(cells: pd.Series) -> pd.Series:
        import numpy as np

        from .kernel import index as ix

        out = []
        for raw in cells:
            if raw is None or len(raw) == 0:
                out.append([])
                continue
            arr = ix.str_to_int(list(raw))
            _validate_cells(
                arr, np.zeros(len(arr), dtype=bool), "uncompact"
            )
            out.append(list(ix.int_to_str(ix.uncompact_cells(arr, res))))
        return pd.Series(out)

    # same explode-filter double-evaluation guard as compact_udf
    return f.asNondeterministic()


# ---------------------------------------------------------------------------
# S2 tier (kernel/s2.py) — the north rule's "H3/S2" disjunction, both
# sides: same two-tier shape (native bit math for level ops, Arrow UDFs
# for the geometric encode/decode)
# ---------------------------------------------------------------------------


def s2_parent_int(v: Column, level: int) -> Column:
    """S2 ancestor at `level` — pure bit math (published lsb trick),
    JVM codegen, no UDF: (id & ~(2*lsb - 1)) | lsb.

    Precondition (documented, not checked — this is raw JVM bit math):
    `level` must be <= every cell's own level; a finer `level` would
    fabricate a descendant-positioned id. The kernel-side
    ``kernel.s2.cell_to_parent`` raises on violation."""
    lsb = 1 << (2 * (30 - level))
    return v.bitwiseAND(F.lit(~(2 * lsb - 1))).bitwiseOR(F.lit(lsb))


def s2_level_int(v: Column) -> Column:
    """S2 level from the trailing marker bit — native JVM math, no UDF:
    level = 30 - ctz(id)/2, with ctz via log2 of the isolated lsb.
    Doubles represent the lsb exactly, but Spark's Log2 is
    log(x)/log(2) — libm error can land a sub-ulp LOW (e.g.
    47.999999999999996), so the half-level is ROUNDED to nearest, never
    truncated (the true value is an exact integer, so nearest-rounding
    absorbs any ulp-scale error)."""
    lsb = v.bitwiseAND(-v)
    return (
        F.lit(30)
        - F.round(F.log2(lsb.cast("double")) / F.lit(2.0)).cast("int")
    )


def latlng_to_s2_udf(level: int):
    """lat/lng -> int64 S2 cell id at `level` (Arrow-vectorized)."""

    @F.pandas_udf(LongType())
    def f(lat: pd.Series, lng: pd.Series) -> pd.Series:
        import numpy as np

        from .kernel import s2

        la = lat.to_numpy(dtype=np.float64, na_value=np.nan)
        lo = lng.to_numpy(dtype=np.float64, na_value=np.nan)
        null = np.isnan(la) | np.isnan(lo)
        cells = s2.latlng_to_cell(
            np.where(null, 0.0, la), np.where(null, 0.0, lo), level
        )
        out = pd.Series(cells.view(np.int64))
        if null.any():
            out = out.astype("Int64")
            out[null] = None
        return out

    return f


# Null handling for int64-cell-input UDFs must happen JVM-SIDE: one null
# in an Arrow batch makes the pandas conversion deliver the WHOLE batch
# as float64 (only 52 mantissa bits), silently corrupting the low bits of
# every id >= 2^53 — i.e. any S2 cell at level >= 26. So the input is
# coalesced to a sentinel (the face-0 face cell, always valid to decode)
# before the UDF and nulls are restored after; the UDF body then runs a
# pure int64 path with no null branch at all.
_S2_NULL_SENTINEL = 1 << 60


def _null_safe_int_udf(udf, sentinel=_S2_NULL_SENTINEL):
    """Wrap an int64-input pandas UDF so its batches are never nullable:
    udf(coalesce(c, sentinel)) gated by when(all inputs not null, ...).
    The sentinel must be a valid id for the udf's domain (decode output
    is discarded by the when-gate)."""

    def apply(*cols):
        cs = [F.col(c) if isinstance(c, str) else c for c in cols]
        cond = cs[0].isNotNull()
        for c in cs[1:]:
            cond = cond & c.isNotNull()
        return F.when(
            cond, udf(*[F.coalesce(c, F.lit(sentinel)) for c in cs])
        )

    return apply


def s2_to_latlng_udf():
    """int64 S2 cell id -> struct<lat,lng> center (Arrow-vectorized,
    exact integer path for all levels 0-30; null-safe JVM-side)."""

    @F.pandas_udf(
        StructType(
            [StructField("lat", DoubleType()), StructField("lng", DoubleType())]
        )
    )
    def f(cell: pd.Series) -> pd.DataFrame:
        import numpy as np

        from .kernel import s2

        vals = cell.to_numpy(dtype=np.int64).view(np.uint64)
        lat, lng = s2.cell_to_latlng(vals)
        return pd.DataFrame({"lat": lat, "lng": lng})

    return _null_safe_int_udf(f)


def s2_token_udf():
    """int64 S2 cell id -> canonical token (hex, trailing zeros
    stripped; exact integer path, null-safe JVM-side)."""

    @F.pandas_udf(StringType())
    def f(cell: pd.Series) -> pd.Series:
        import numpy as np

        from .kernel import s2

        vals = cell.to_numpy(dtype=np.int64).view(np.uint64)
        return pd.Series(s2.cell_to_token(vals), dtype=object)

    return _null_safe_int_udf(f)


def s2_token_to_cell_udf():
    """Canonical S2 token (hex, trailing zeros stripped) -> int64 cell
    id. String input — object-dtype Arrow batches carry nulls without
    the int64 float64-degradation hazard."""

    @F.pandas_udf(LongType())
    def f(tok: pd.Series) -> pd.Series:
        import numpy as np

        from .kernel import s2

        vals = tok.to_numpy(dtype=object)
        null = pd.isna(vals)
        safe = np.where(null, "1", vals)
        cells = s2.token_to_cell(safe).view(np.int64)
        out = pd.Series(cells)
        if null.any():
            out = out.astype("Int64")
            out[null] = None
        return out

    return f


# ---------------------------------------------------------------------------
# directed edges (mode-2 ids; kernel/traversal.py edge ops)
# ---------------------------------------------------------------------------

_EDGE_CLEAR_SQL = ~((0xF << 59) | (0x7 << 56))


def edge_origin_int(v: Column) -> Column:
    """Origin cell (int64, mode flipped back to 1) of a directed edge —
    pure bit math; the join key for OD-flow rollups."""
    return (
        v.bitwiseAND(F.lit(_EDGE_CLEAR_SQL)).bitwiseOR(F.lit(1 << 59))
    )


def edge_direction_int(v: Column) -> Column:
    """Edge index 1-6 (bits 56-58) — pure bit math."""
    return F.shiftrightunsigned(
        v.bitwiseAND(F.lit(0x7 << 56)), 56
    )


def cells_to_edge_udf():
    """(origin int64, dest int64) -> directed-edge int64 (null when not
    adjacent) — Arrow batch over the kernel's boundary-edge ordinal."""

    @F.pandas_udf(LongType())
    def f(origin: pd.Series, dest: pd.Series) -> pd.Series:
        import numpy as np

        from .kernel import index as ixk
        from .kernel import traversal as tv

        o = origin.to_numpy(dtype=np.int64).view(np.uint64)
        d = dest.to_numpy(dtype=np.int64).view(np.uint64)
        if len(o) == 0:
            return pd.Series([], dtype="Int64")
        out = np.zeros(len(o), dtype=np.int64)
        ok_all = np.zeros(len(o), dtype=bool)
        # per-resolution groups: the neighbor probe snaps at ONE res
        for res in np.unique(ixk.get_resolution(o)):
            m = ixk.get_resolution(o) == res
            nb = tv.neighbors_ordered(o[m])
            dm = d[m]
            k = np.argmax(nb == dm[:, None], axis=1)
            ok = (dm != 0) & (nb[np.arange(len(dm)), k] == dm)
            # edge id is pure bit math once k is known — no second probe
            edge = (
                (o[m][ok] & tv._EDGE_CLEAR)
                | tv._MODE_EDGE
                | ((k[ok].astype(np.uint64) + np.uint64(1)) << np.uint64(56))
            )
            idx = np.flatnonzero(m)
            out[idx[ok]] = edge.view(np.int64)
            ok_all[idx[ok]] = True
        s = pd.Series(out).astype("Int64")
        s[~ok_all] = pd.NA
        return s

    # sentinel pair (cell, cell) is self-non-adjacent -> kernel returns
    # NA for it anyway; the when-gate restores input nulls regardless
    return _null_safe_int_udf(f, _H3_CELL_SENTINEL)


def edge_destination_udf():
    """Directed-edge int64 -> destination cell int64."""

    @F.pandas_udf(LongType())
    def f(edge: pd.Series) -> pd.Series:
        import numpy as np

        from .kernel import index as ixk
        from .kernel import traversal as tv

        e = edge.to_numpy(dtype=np.int64).view(np.uint64)
        if len(e) == 0:
            return pd.Series([], dtype="int64")
        out = np.zeros(len(e), dtype=np.int64)
        org = tv.edge_origin(e)
        for res in np.unique(ixk.get_resolution(org)):
            m = ixk.get_resolution(org) == res
            out[m] = tv.edge_destination(e[m]).view(np.int64)
        return pd.Series(out)

    # a valid mode-2 edge over the cell sentinel (edge index 1)
    edge_sentinel = (
        (_H3_CELL_SENTINEL & ~((0xF << 59) | (0x7 << 56)))
        | (0x2 << 59)
        | (1 << 56)
    )
    return _null_safe_int_udf(f, edge_sentinel)
