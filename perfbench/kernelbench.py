"""In-process timing of the ``sparkh3.kernel`` public functions on the
same seeded coordinates and polygons a workload hands to Spark. No
Spark runs here, so a kernel change shows apart from a change at the
Python boundary."""

from __future__ import annotations

import statistics
import time

import numpy as np

PASSES = 3
PASS_S = 0.1


def _rate(fn, units: int) -> float:
    """Median over PASSES of units per second, each pass repeating `fn`
    for at least PASS_S seconds after one untimed call."""
    fn()
    rates = []
    for _ in range(PASSES):
        reps, t0 = 0, time.perf_counter()
        while True:
            fn()
            reps += 1
            dt = time.perf_counter() - t0
            if dt >= PASS_S:
                break
        rates.append(units * reps / dt)
    return statistics.median(rates)


def run(points, polys, n_points: int = 50_000) -> dict[str, float]:
    from sparkh3.kernel import geo, index, polygon, traversal

    lat = points["lat"].to_numpy()[:n_points]
    lng = points["lng"].to_numpy()[:n_points]
    rings_all = [rings for _, rings in polys]
    m = min(len(lat), 5_000)
    covers = [polygon.polygon_to_cells(r, 6) for r in rings_all]
    n_cover = int(sum(len(c) for c in covers))
    origins = np.unique(geo.latlng_to_cell(lat[:2_000], lng[:2_000], 5))
    n_disk = len(traversal.grid_disk_grouped(origins, 2)[1])

    def pip():
        for r in rings_all:
            polygon.points_in_rings(lat[:m], lng[:m], r)

    def fill():
        for r in rings_all:
            polygon.polygon_to_cells(r, 6)

    def compact():
        for c in covers:
            if len(c):
                index.compact_cells(c)

    return {
        "kernel.latlng_to_cell.rows_per_s": _rate(lambda: geo.latlng_to_cell(lat, lng, 8), len(lat)),
        "kernel.points_in_rings.rows_per_s": _rate(pip, m * len(rings_all)),
        "kernel.polygon_to_cells.cells_per_s": _rate(fill, max(1, n_cover)),
        "kernel.grid_disk.cells_per_s": _rate(lambda: traversal.grid_disk_grouped(origins, 2), n_disk),
        "kernel.compact_cells.cells_per_s": _rate(compact, max(1, n_cover)),
    }
