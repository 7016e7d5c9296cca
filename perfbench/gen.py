"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of the seed: the same seed gives
byte-identical tables.  Generation is NumPy/Arrow on the driver; the
program under test only ever receives the finished tables (parquet
under the run's output directory), never the seed.

The s2spark kernels are called here only where the workload definition
says the *program* derives the column (the image table is geotagged
through `sources.geo`, hotspot cell ids come from
`kernels.cellid.from_xyz`), so that work is part of `setup_s`.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# Seed reserved for re-checking a performance claim after the change
# is written: never use it while tuning or developing a change.
HELD_OUT_SEED = 7919

# Input sizes (see perfbench/README.md for how they were chosen).
TILE_JOIN = dict(points=100_000, queries=5_000, knn_queries=125,
                 regions=500, region_level=8, disc_radius=0.003)
INGEST = dict(rows=30_000, min_blob=32, max_blob=160)
HOTSPOT = dict(points=60_000, knn_queries=20, dim_cells=400_000,
               tag_len=192, key_level=10, loops=3, loop_sigmas=1.0,
               # (share of points, sigma in radians); the first cluster
               # is the dominant one.  The background gets the rest.
               clusters=((0.15, 0.0005), (0.05, 0.003), (0.05, 0.006)))


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per (seed, table) so adding a table never
    shifts the values of another."""
    tag = int.from_bytes(stream.encode(), "little") % (1 << 32)
    return np.random.default_rng([int(seed), tag])


def unit_points(rng: np.random.Generator, n: int) -> np.ndarray:
    p = rng.standard_normal((n, 3))
    p /= np.linalg.norm(p, axis=1, keepdims=True)
    return p


def cluster_points(rng: np.random.Generator, center: np.ndarray,
                   sigma: float, n: int) -> np.ndarray:
    p = center[None, :] + sigma * rng.standard_normal((n, 3))
    p /= np.linalg.norm(p, axis=1, keepdims=True)
    return p


def random_strings(rng: np.random.Generator, n: int,
                   width: int) -> pa.StringArray:
    """n strings of `width` random letters a-p (incompressible payload)."""
    letters = rng.integers(0, 16, n * width, dtype=np.uint8) + ord("a")
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(np.arange(0, width * (n + 1), width,
                                  dtype=np.int32)),
        pa.py_buffer(letters.tobytes()))


def _ids(prefix: str, ids: np.ndarray) -> pa.Array:
    s = pc.utf8_lpad(pa.array(ids).cast(pa.string()), 12, "0")
    return pc.binary_join_element_wise(prefix, s, "")


def _geotag(keys: np.ndarray):
    from s2spark.sources import geo
    x, y, z = geo.xyz_np(keys)
    return geo.cell_np(keys), x, y, z


def _image_meta(rng: np.random.Generator, n: int) -> dict:
    pid = np.arange(n, dtype=np.int64)
    # < 2^61 keeps every intermediate of the geo mix below 2^62
    phash = rng.integers(0, 1 << 61, n, dtype=np.int64)
    return {
        "image_id": _ids("img", pid),
        "w": (256 + rng.integers(0, 768, n)).astype(np.int32),
        "h": (256 + rng.integers(0, 768, n)).astype(np.int32),
        "fmt": pa.array(np.where(rng.integers(0, 2, n) == 0, "png",
                                 "jpeg")),
        "caption": _ids("synthetic caption ", pid),
        "phash": phash,
        "pid": pid,
    }


def _sorted_table(cols: dict) -> pa.Table:
    """Arrow table sorted by cell_id (the engine's Hilbert storage
    order, signed int64 like Spark's sort)."""
    t = pa.table(cols)
    return t.take(pa.array(np.argsort(cols["cell_id"], kind="stable")))


def tile_join(seed: int) -> dict[str, pa.Table]:
    """Uniform geotagged image table + query table + level-8 regions."""
    p = TILE_JOIN
    rng = rng_for(seed, "tile_join.images")
    meta = _image_meta(rng, p["points"])
    cell, x, y, z = _geotag(meta["phash"])
    images = _sorted_table({**meta, "cell_id": cell, "x": x, "y": y,
                            "z": z})
    rq = rng_for(seed, "tile_join.queries")
    qkeys = rq.integers(0, 1 << 61, p["queries"], dtype=np.int64)
    qcell, qx, qy, qz = _geotag(qkeys)
    queries = pa.table({"qid": np.arange(p["queries"], dtype=np.int64),
                        "cell_id": qcell, "x": qx, "y": qy, "z": qz})
    rr = rng_for(seed, "tile_join.regions")
    from perfbench.check import parent_np
    rcells = np.unique(parent_np(
        cell[rr.integers(0, p["points"], 4 * p["regions"])],
        p["region_level"]))
    rcells = rr.permutation(rcells)[:p["regions"]]
    regions = pa.table({"rid": np.arange(rcells.size, dtype=np.int64),
                        "rcell": rcells})
    return {"images": images, "queries": queries, "regions": regions}


def ingest(seed: int) -> dict[str, pa.Table]:
    """Raw input_hint rows (image_id, bytes, w, h, fmt, caption, phash)
    with small seeded payload blobs; no geo columns yet."""
    p = INGEST
    rng = rng_for(seed, "ingest.raw")
    meta = _image_meta(rng, p["rows"])
    n = p["rows"]
    lens = rng.integers(p["min_blob"], p["max_blob"] + 1, n)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    data = rng.integers(0, 256, int(offsets[-1]), dtype=np.uint8)
    blobs = pa.BinaryArray.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets),
                         pa.py_buffer(data.tobytes())])
    raw = pa.table({"image_id": meta["image_id"], "bytes": blobs,
                    "w": meta["w"], "h": meta["h"], "fmt": meta["fmt"],
                    "caption": meta["caption"], "phash": meta["phash"]})
    return {"raw": raw}


def hotspot_centers(seed: int) -> np.ndarray:
    rng = rng_for(seed, "hotspot.centers")
    return unit_points(rng, len(HOTSPOT["clusters"]))


def _mixture(rng: np.random.Generator, centers: np.ndarray,
             n: int) -> np.ndarray:
    parts = []
    used = 0
    for c, (share, sigma) in zip(centers, HOTSPOT["clusters"]):
        m = int(round(share * n))
        parts.append(cluster_points(rng, c, sigma, m))
        used += m
    parts.append(unit_points(rng, n - used))
    pts = np.concatenate(parts)
    return pts[rng.permutation(n)]


def hotspot(seed: int) -> dict:
    """Skewed points + queries (uniform background plus dense clusters,
    one dominant), a per-cell dimension table larger than the
    broadcast threshold, and seeded loops (some over the clusters)."""
    from s2spark.kernels import cellid
    p = HOTSPOT
    centers = hotspot_centers(seed)
    rng = rng_for(seed, "hotspot.points")
    pts = _mixture(rng, centers, p["points"])
    cell = cellid.as_i64(cellid.from_xyz(pts[:, 0], pts[:, 1], pts[:, 2]))
    # `tag`: a per-point payload that the lookup joins carry, so the
    # probe side too stays above the broadcast threshold
    tag = random_strings(rng_for(seed, "hotspot.tags"), p["points"],
                         p["tag_len"])
    points = _sorted_table({
        "pid": np.arange(p["points"], dtype=np.int64), "cell_id": cell,
        "x": pts[:, 0], "y": pts[:, 1], "z": pts[:, 2], "tag": tag})
    rq = rng_for(seed, "hotspot.queries")
    q = _mixture(rq, centers, p["knn_queries"])
    qcell = cellid.as_i64(cellid.from_xyz(q[:, 0], q[:, 1], q[:, 2]))
    queries = pa.table({"qid": np.arange(len(q), dtype=np.int64),
                        "cell_id": qcell, "x": q[:, 0], "y": q[:, 1],
                        "z": q[:, 2]})
    # dimension table: one attribute row per key-level cell, covering
    # every point's cell (each point finds its label) plus uniform
    # filler cells; the random `note` payload keeps the stored table
    # above the 10 MB broadcast threshold even after column pruning
    from perfbench.check import parent_np
    rd = rng_for(seed, "hotspot.dim")
    lv = p["key_level"]
    own = np.unique(parent_np(cell, lv))
    filler = unit_points(rd, p["dim_cells"])
    fcell = parent_np(cellid.as_i64(cellid.from_xyz(
        filler[:, 0], filler[:, 1], filler[:, 2])), lv)
    fcell = np.setdiff1d(np.unique(fcell), own)
    dcells = rd.permutation(np.concatenate([
        own, rd.permutation(fcell)[:max(p["dim_cells"] - own.size, 0)]]))
    n = dcells.size
    note = random_strings(rd, n, 32)
    dim = pa.table({"dcell": dcells,
                    "label": rd.integers(0, 1000, n), "note": note})
    return {"points": points, "queries": queries, "dim": dim,
            "loops": hotspot_loops(seed, centers)}


def hotspot_loops(seed: int, centers: np.ndarray) -> dict[int, np.ndarray]:
    """Seeded K-gon vertex rings: one per cluster (radius `loop_sigmas`
    cluster sigmas) plus uniform ones."""
    rng = rng_for(seed, "hotspot.loops")
    out = {}
    n = HOTSPOT["loops"]
    sigmas = [s for _, s in HOTSPOT["clusters"]]
    for i in range(n):
        if i < len(centers):
            c, radius = centers[i], HOTSPOT["loop_sigmas"] * sigmas[i]
        else:
            c, radius = unit_points(rng, 1)[0], rng.uniform(0.01, 0.05)
        nv = int(rng.integers(8, 17))
        ref = np.array([0.0, 0.0, 1.0]) if abs(c[2]) < 0.9 \
            else np.array([1.0, 0.0, 0.0])
        u = np.cross(c, ref)
        u /= np.linalg.norm(u)
        v = np.cross(c, u)
        ang = 2 * np.pi * np.arange(nv) / nv
        r = radius * rng.uniform(0.6, 1.0, nv)
        verts = (np.cos(r)[:, None] * c[None, :]
                 + np.sin(r)[:, None] * (np.cos(ang)[:, None] * u
                                         + np.sin(ang)[:, None] * v))
        verts /= np.linalg.norm(verts, axis=1, keepdims=True)
        out[i] = verts
    return out
