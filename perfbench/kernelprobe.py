"""Spark-free, single-thread throughput of the NumPy H3 kernel on a
workload's own arrays (the kernel layer of the traced run)."""

from __future__ import annotations

import time

import numpy as np


def _rate(fn, items: int, budget_s: float) -> float:
    """items per second of fn(), the median of repeats filling budget_s
    (at least three)."""
    times = []
    t_end = time.perf_counter() + budget_s
    while len(times) < 3 or time.perf_counter() < t_end:
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return items / float(np.median(times))


FILL_RES = 6


def kernel_rates(lat, lng, polygons, budget_s: float = 0.2) -> dict[str, float]:
    """cells (or point-in-polygon tests) per second of each kernel entry
    point: encode/decode of the first 20k points, PIP of those points
    against each polygon, polyfill of every third polygon at FILL_RES,
    compact of that fill at res 8, and 2-rings around 500 of the points'
    cells."""
    from sparkh3.kernel import geo, index, polygon, traversal

    lat, lng = lat[:20_000], lng[:20_000]
    rings = [np.asarray(r, dtype=np.float64) for _, r in polygons]
    fill_rings = rings[::3]
    cells = geo.latlng_to_cell(lat, lng, 8)
    filled = [polygon.polygon_to_cells([r], FILL_RES) for r in fill_rings]
    n_filled = int(sum(len(c) for c in filled))
    fine = np.unique(np.concatenate([index.uncompact_cells(c, 8) for c in filled]))
    seeds = np.unique(cells)[:500]
    n_disk = len(traversal.grid_disk_grouped(seeds, 2)[1])
    return {
        "kernel.latlng_to_cell.cells_per_s": _rate(
            lambda: geo.latlng_to_cell(lat, lng, 8), len(lat), budget_s),
        "kernel.cell_to_latlng.cells_per_s": _rate(
            lambda: geo.cell_to_latlng(cells), len(cells), budget_s),
        "kernel.points_in_rings.points_per_s": _rate(
            lambda: [polygon.points_in_rings(lat, lng, [r]) for r in rings],
            len(lat) * len(rings), budget_s),
        "kernel.polygon_to_cells.cells_per_s": _rate(
            lambda: [polygon.polygon_to_cells([r], FILL_RES) for r in fill_rings],
            n_filled, budget_s),
        "kernel.compact_cells.cells_per_s": _rate(
            lambda: index.compact_cells(fine), len(fine), budget_s),
        "kernel.grid_disk.cells_per_s": _rate(
            lambda: traversal.grid_disk_grouped(seeds, 2), n_disk, budget_s),
    }
