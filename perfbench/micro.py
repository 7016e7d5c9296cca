"""Driver-side kernel rates measured on the workload's own inputs.

These are the per-layer numbers for the NumPy kernels the Spark plans
call through Arrow UDFs (or the driver calls directly).  Each call is
timed three times on at most `CAP` rows and the median rate reported.
"""

from __future__ import annotations

import time

import numpy as np

from perfbench import gen, stats

CAP = 200_000
REPS = 3


def _seconds(fn) -> float:
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return stats.median(times)


def _rate(fn, units: int) -> float:
    return units / _seconds(fn)


def kernel_metrics(seed: int, keys: np.ndarray, xyz: np.ndarray,
                   query_cells: np.ndarray, query_xyz: np.ndarray,
                   knn_level: int) -> dict[str, float]:
    from s2spark.kernels import cellid
    from s2spark.kernels.loops import Loop
    from s2spark.ops import cells, pip, raster
    from s2spark.sources import geo
    keys = keys[:CAP]
    xyz = xyz[:CAP]
    out = {
        "sources.geo.cell_np.rows_per_s":
            _rate(lambda: geo.cell_np(keys), len(keys)),
        "sources.geo.xyz_np.rows_per_s":
            _rate(lambda: geo.xyz_np(keys), len(keys)),
        "kernels.cellid.from_xyz.rows_per_s":
            _rate(lambda: cellid.from_xyz(xyz[:, 0], xyz[:, 1], xyz[:, 2]),
                  len(xyz)),
    }
    rows, ring = cellid.disk_cells_batch(query_cells, knn_level, 2)
    out["kernels.cellid.disk_cells_batch.cells_per_s"] = _rate(
        lambda: cellid.disk_cells_batch(query_cells, knn_level, 2),
        len(ring))
    p = query_xyz[rows]
    ring_i64 = cellid.as_i64(ring)
    out["ops.cells.point_cell_chord2.pairs_per_s"] = _rate(
        lambda: cells.point_cell_chord2(p, ring_i64), len(ring))
    rng = gen.rng_for(seed, "micro.raster")
    du = rng.uniform(-2e-4, 2e-4, len(xyz))
    dv = rng.uniform(-2e-4, 2e-4, len(xyz))
    out["ops.raster.tangent_offset_cells.rows_per_s"] = _rate(
        lambda: raster.tangent_offset_cells(xyz[:, 0], xyz[:, 1], xyz[:, 2],
                                            du, dv, 14), len(xyz))
    loops = {i: Loop(v) for i, v in
             gen.hotspot_loops(seed, gen.hotspot_centers(seed)).items()}
    out["ops.pip.build_edge_index.s"] = _seconds(
        lambda: pip.build_edge_index(loops))
    return out
