"""The three workloads: inputs, timed operations and their checks.

A workload is set up from the seed (`setup`), then `open` binds its
stored tables to a live session and returns the operations.  Each
operation is a call into one public s2spark function whose result is
fully consumed inside the timed region; its check runs afterwards,
untimed, against the references in `perfbench.check`.
"""

from __future__ import annotations

import functools
import math
import os
import shutil
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import check, gen

FILES_PER_TABLE = 8  # contiguous Hilbert ranges: one scan split each
KNN_K = 5
SAMPLE = 48          # queries brute-forced per disc / kNN check


@dataclass
class Op:
    name: str                       # operation name, e.g. "tile"
    layer: str                      # per-layer metric prefix
    run: Callable[[], object]       # timed; returns the consumed result
    check: Callable[[object], bool]  # untimed output check
    prepare: Callable[[], None] | None = None  # untimed, before run


def write_table(table: pa.Table, path: str) -> None:
    """Materialize as FILES_PER_TABLE parquet files of contiguous rows."""
    os.makedirs(path)
    n = table.num_rows
    step = max(1, math.ceil(n / FILES_PER_TABLE))
    for i, lo in enumerate(range(0, n, step)):
        pq.write_table(table.slice(lo, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in names)
    return total


def _col(t: pa.Table, name: str) -> np.ndarray:
    return t.column(name).to_numpy()


def _sample(seed: int, n: int, k: int, stream: str) -> np.ndarray:
    return np.sort(gen.rng_for(seed, stream).choice(n, k, replace=False))


class Workload:
    name = ""

    def __init__(self, seed: int, root: str):
        self.seed = seed
        self.root = root
        self.tables: dict = {}
        self.input_bytes = 0  # parquet bytes of the stored inputs
        self._refs = None

    def setup(self) -> None:
        """Generate the inputs from the seed and materialize them."""
        if os.path.exists(self.root):
            shutil.rmtree(self.root)
        os.makedirs(self.root)
        self.tables = self.generate()
        self._refs = None
        for name, t in self.tables.items():
            if isinstance(t, pa.Table):
                write_table(t, os.path.join(self.root, name))
        self.input_bytes = dir_bytes(self.root)

    def generate(self) -> dict:
        raise NotImplementedError

    def input_rows(self) -> int:
        raise NotImplementedError

    def open(self, spark) -> list[Op]:
        raise NotImplementedError

    def read(self, spark, name: str):
        return spark.read.parquet(os.path.join(self.root, name))

    def micro_inputs(self) -> dict:
        """Arguments of `micro.kernel_metrics` from this workload's data."""
        raise NotImplementedError

    def references(self, fn: Callable[[], dict]) -> Callable[[], dict]:
        """Check references, computed once per setup, on first use."""
        if self._refs is None:
            self._refs = functools.cache(fn)
        return self._refs


def _points_xyz(t: pa.Table) -> np.ndarray:
    return np.column_stack([_col(t, "x"), _col(t, "y"), _col(t, "z")])


def _grouped(result: pa.Table, key: str, *cols: str) -> dict:
    return check.group_rows(_col(result, key),
                            *[_col(result, c) for c in cols])


def _knn_ok(result: pa.Table, qids: np.ndarray, want: list, n_q: int) -> bool:
    if result.num_rows != n_q * KNN_K:
        return False
    got = _grouped(result, "qid", "rank", "pid", "dist2")
    got = {q: (v[1], v[2]) for q, v in got.items()}
    return check.same_groups(got, want, qids)


class TileJoin(Workload):
    """Uniform image table: tiling, broadcast joins, disc and kNN."""

    name = "tile_join"

    def generate(self) -> dict:
        return gen.tile_join(self.seed)

    def input_rows(self) -> int:
        return gen.TILE_JOIN["points"]

    def micro_inputs(self) -> dict:
        from s2spark.ops import knn
        img, q = self.tables["images"], self.tables["queries"]
        n = gen.TILE_JOIN["knn_queries"]
        return dict(keys=_col(img, "phash"), xyz=_points_xyz(img),
                    query_cells=_col(q, "cell_id")[:n],
                    query_xyz=_points_xyz(q)[:n],
                    knn_level=knn.pick_level(self.input_rows(), KNN_K))

    def open(self, spark) -> list[Op]:
        from pyspark.sql import functions as F

        from s2spark.ops import joins, knn, tiles
        p = gen.TILE_JOIN
        img = self.tables["images"]
        qt = self.tables["queries"]
        rt = self.tables["regions"]
        cell = _col(img, "cell_id")
        pid = _col(img, "pid")
        pxyz = _points_xyz(img)
        images = self.read(spark, "images")
        queries = self.read(spark, "queries")
        regions = self.read(spark, "regions")
        pts = images.select("pid", "cell_id", "x", "y", "z")
        n_knn = p["knn_queries"]
        knn_q = queries.where(F.col("qid") < n_knn)
        knn_level = knn.pick_level(p["points"], KNN_K)
        radius = p["disc_radius"]
        r2 = (2.0 * math.sin(0.5 * radius)) ** 2

        qxyz = _points_xyz(qt)
        disc_q = _sample(self.seed, p["queries"], SAMPLE, "check.disc")
        knn_qs = _sample(self.seed, n_knn, SAMPLE, "check.knn")
        want = self.references(lambda: {
            "l8": check.tile_counts(cell, 8),
            "roll": {lv: check.tile_counts(cell, lv) for lv in (4, 8, 12)},
            "pairs": check.equi_pairs(cell, _col(qt, "cell_id"), 6),
            "cont": check.containment_pairs(pid, cell, _col(rt, "rid"),
                                            _col(rt, "rcell")),
            "disc": check.disc_reference(pxyz, pid, qxyz[disc_q], r2),
            "knn": check.knn_reference(pxyz, pid, qxyz[knn_qs], KNN_K)})

        def tile():
            return (tiles.tile_counts(images, 8).toArrow(),
                    tiles.tile_rollup(images, [4, 8, 12]).toArrow())

        def tile_ok(res) -> bool:
            l8, roll = res
            want_l8, want_roll = want()["l8"], want()["roll"]
            o = np.argsort(_col(l8, "tile"))
            if not (np.array_equal(_col(l8, "tile")[o], want_l8[0])
                    and np.array_equal(_col(l8, "n")[o], want_l8[1])):
                return False
            lvs = _col(roll, "level")
            for lv, (t, n) in want_roll.items():
                m = lvs == lv
                tt, nn = _col(roll, "tile")[m], _col(roll, "n")[m]
                o = np.argsort(tt)
                if not (np.array_equal(tt[o], t)
                        and np.array_equal(nn[o], n)):
                    return False
            return roll.num_rows == sum(len(t) for t, _ in
                                        want_roll.values())

        def equi():
            return joins.cell_equi_join(
                images.select("cell_id"),
                F.broadcast(queries.select("cell_id")), 6).count()

        def containment():
            return joins.containment_join(
                images.select("pid", "cell_id"), regions) \
                .select("pid", "rid").toArrow()

        def cont_ok(res) -> bool:
            got = check.sort_pairs(_col(res, "pid"), _col(res, "rid"))
            return np.array_equal(got, want()["cont"])

        def disc():
            return joins.disc_join(pts, queries, radius, "qid",
                                   "pid").toArrow()

        def disc_ok(res) -> bool:
            if not (_col(res, "dist2") <= r2).all():
                return False
            got = _grouped(res, "qid", "pid", "dist2")
            return check.same_groups(got, want()["disc"], disc_q)

        def knn_op():
            return knn.knn_join(pts, knn_q, KNN_K, "qid", "pid",
                                level=knn_level).toArrow()

        return [
            Op("tile", "ops.tiles.tile", tile, tile_ok),
            Op("equi_join", "ops.joins.equi_join", equi,
               lambda n: n == want()["pairs"]),
            Op("containment", "ops.joins.containment", containment,
               cont_ok),
            Op("disc_join", "ops.joins.disc_join", disc, disc_ok),
            Op("knn", "ops.knn.knn", knn_op,
               lambda r: _knn_ok(r, knn_qs, want()["knn"], n_knn)),
        ]


class Hotspot(Workload):
    """Clustered points: shuffle joins, salting, skewed kNN, PIP."""

    name = "hotspot"

    def generate(self) -> dict:
        return gen.hotspot(self.seed)

    def input_rows(self) -> int:
        return gen.HOTSPOT["points"]

    def micro_inputs(self) -> dict:
        from s2spark.ops import knn
        pt, q = self.tables["points"], self.tables["queries"]
        return dict(keys=_col(pt, "pid"), xyz=_points_xyz(pt),
                    query_cells=_col(q, "cell_id"),
                    query_xyz=_points_xyz(q),
                    knn_level=knn.pick_level(self.input_rows(), KNN_K))

    def open(self, spark) -> list[Op]:
        from s2spark import functions as s2f
        from s2spark.kernels.loops import Loop
        from s2spark.ops import joins, knn, pip
        from pyspark.sql import functions as F
        p = gen.HOTSPOT
        lv = p["key_level"]
        pt = self.tables["points"]
        qt = self.tables["queries"]
        cell = _col(pt, "cell_id")
        pid = _col(pt, "pid")
        pxyz = _points_xyz(pt)
        points = self.read(spark, "points")
        pts = points.select("pid", "cell_id", "x", "y", "z")
        queries = self.read(spark, "queries")
        dim = self.read(spark, "dim")
        loops = {i: Loop(v) for i, v in self.tables["loops"].items()}
        knn_level = knn.pick_level(p["points"], KNN_K)
        hot_threshold = p["points"] // 50

        n_q = qt.num_rows
        knn_qs = _sample(self.seed, n_q, min(SAMPLE, n_q), "check.knn")
        pip_s = _sample(self.seed, len(pid), 4096, "check.pip")
        want = self.references(lambda: {
            "lookup": lookup_summary(pt, self.tables["dim"], lv),
            "knn": check.knn_reference(pxyz, pid, _points_xyz(qt)[knn_qs],
                                       KNN_K),
            "pip": check.sort_pairs(*_pip_reference(loops, pxyz[pip_s],
                                                    pid[pip_s]))})

        def knn_op():
            return knn.knn_join(pts, queries, KNN_K, "qid", "pid",
                                level=knn_level).toArrow()

        def pip_op():
            return pip.pip_join(pts, spark, loops,
                                point_id="pid").toArrow()

        def pip_ok(res) -> bool:
            got_pid = _col(res, "pid")
            m = np.isin(got_pid, pid[pip_s])
            got = check.sort_pairs(got_pid[m], _col(res, "poly_id")[m])
            return np.array_equal(got, want()["pip"])

        def summary(joined) -> tuple:
            # payload columns of both sides must cross the join (as in a
            # label lookup), which keeps both sides above the broadcast
            # threshold so the plan shuffles
            row = joined.agg(F.count(F.lit(1)), F.sum("label"),
                             F.sum("pid"), F.max("note"), F.max("tag"),
                             F.max("x"), F.max("y")).collect()[0]
            return tuple(row)

        def equi():
            return summary(joins.cell_equi_join(
                points.select("pid", "cell_id", "tag", "x", "y"), dim, lv,
                cell_right="dcell"))

        def salted():
            probe = points.select(
                "pid", s2f.prefix_col(F.col("cell_id"), lv).alias("k"),
                "tag", "x", "y")
            build = dim.select(
                s2f.prefix_col(F.col("dcell"), lv).alias("k"),
                "label", "note")
            ps, bs, _ = joins.salt_hot_cells(
                probe, build, "k", "pid", factor=8,
                hot_threshold=hot_threshold)
            return summary(ps.join(bs, ["k", "_salt"]))

        return [
            Op("knn", "ops.knn.knn", knn_op,
               lambda r: _knn_ok(r, knn_qs, want()["knn"], n_q)),
            Op("pip", "ops.pip.pip", pip_op, pip_ok),
            Op("equi_join", "ops.joins.equi_join", equi,
               lambda r: r == want()["lookup"]),
            Op("salted_join", "ops.joins.salted_join", salted,
               lambda r: r == want()["lookup"]),
        ]


def lookup_summary(points: pa.Table, dim: pa.Table, level: int) -> tuple:
    """(pairs, sum label, sum pid, max note, max tag, max x, max y) of
    points joined to the per-cell dimension rows on the level-`level`
    prefix."""
    cell = _col(points, "cell_id")
    dkey = check.prefix_np(_col(dim, "dcell"), level)
    order = np.argsort(dkey)
    pos = np.searchsorted(dkey[order], check.prefix_np(cell, level))
    pos = np.clip(pos, 0, len(order) - 1)
    hit = dkey[order][pos] == check.prefix_np(cell, level)
    rows = order[pos[hit]]
    labels = _col(dim, "label")[rows]
    note = pc.max(dim.column("note").take(pa.array(np.unique(rows))))
    tag = pc.max(points.column("tag").filter(pa.array(hit)))
    return (int(hit.sum()), int(labels.sum()),
            int(_col(points, "pid")[hit].sum()), note.as_py(), tag.as_py(),
            float(_col(points, "x")[hit].max()),
            float(_col(points, "y")[hit].max()))


def _pip_reference(loops: dict, xyz: np.ndarray, pid: np.ndarray):
    a, b = [], []
    for poly, loop in loops.items():
        inside = loop.contains_points(xyz)
        a.append(pid[inside])
        b.append(np.full(int(inside.sum()), poly, dtype=np.int64))
    return np.concatenate(a), np.concatenate(b)


class Ingest(Workload):
    """Write path: geotag + bucketed lineage write, crash-resume, raster."""

    name = "ingest"
    N_BUCKETS = 2
    LEVELS = (4, 8, 12)
    RASTER_GRID = 4
    RASTER_LEVEL = 14
    RASTER_EXTENT = 2e-4  # raster_cell_map's default footprint

    def generate(self) -> dict:
        return gen.ingest(self.seed)

    def input_rows(self) -> int:
        return gen.INGEST["rows"]

    def micro_inputs(self) -> dict:
        from s2spark.ops import knn
        from s2spark.sources import geo
        keys = _col(self.tables["raw"], "phash")
        xyz = np.column_stack(geo.xyz_np(keys))
        n = gen.TILE_JOIN["knn_queries"]
        return dict(keys=keys, xyz=xyz, query_cells=geo.cell_np(keys[:n]),
                    query_xyz=xyz[:n],
                    knn_level=knn.pick_level(self.input_rows(), KNN_K))

    def open(self, spark) -> list[Op]:
        from pyspark.sql import functions as F

        from s2spark import dataset, functions as s2f, lineage
        from s2spark.ops import raster
        n = self.input_rows()
        raw_path = os.path.join(self.root, "raw")
        state = {"cycle": 0}
        levels = self.LEVELS
        want = self.references(lambda: geotag_reference(self.tables["raw"]))

        def assign(bucket_df):
            out = bucket_df.select("image_id", "cell_id", "x", "y", "z", *[
                s2f.parent_col(F.col("cell_id"), lv).alias(f"tile_l{lv}")
                for lv in levels])
            return out.sortWithinPartitions("cell_id")

        def run_job():
            df = dataset.geotag(spark.read.parquet(raw_path), "phash",
                                "images")
            return lineage.run_partitioned(
                spark, df, assign, state["job"], state["state_dir"],
                state["out_dir"], n_buckets=self.N_BUCKETS)

        def prepare_ingest():
            state["cycle"] += 1
            job_root = os.path.join(self.root, "job")
            if os.path.exists(job_root):
                shutil.rmtree(job_root)
            state["state_dir"] = os.path.join(job_root, "state")
            state["out_dir"] = os.path.join(job_root, "out")
            state["job"] = f"bench{self.seed}c{state['cycle']}"

        def ingest_ok(summary) -> bool:
            if summary["failed"] or summary["skipped"] \
                    or sorted(summary["ran"]) != list(range(self.N_BUCKETS)):
                return False
            return self._output_ok(state, want())

        def prepare_resume():
            rng = gen.rng_for(self.seed, f"resume.{state['cycle']}")
            lost = sorted(int(b) for b in rng.choice(
                self.N_BUCKETS, self.N_BUCKETS // 2, replace=False))
            state["lost"] = lost
            for b in lost:
                shutil.rmtree(os.path.join(state["out_dir"], f"bucket={b}"))
            lin = os.path.join(state["state_dir"], "lineage")
            for f in os.listdir(lin):
                if not f.endswith(".parquet"):
                    continue
                path = os.path.join(lin, f)
                if int(pq.read_table(path).column("bucket")[0].as_py()) \
                        in lost:
                    os.remove(path)
                    crc = os.path.join(lin, f".{f}.crc")
                    if os.path.exists(crc):
                        os.remove(crc)

        def resume_ok(summary) -> bool:
            lost = state["lost"]
            kept = sorted(set(range(self.N_BUCKETS)) - set(lost))
            return (not summary["failed"]
                    and sorted(summary["ran"]) == lost
                    and sorted(summary["skipped"]) == kept
                    and self._output_ok(state, want()))

        def raster_op():
            m = raster.raster_cell_map(spark.read.parquet(state["out_dir"]),
                                       grid=self.RASTER_GRID,
                                       level=self.RASTER_LEVEL)
            return raster.cells_to_raster_tiles(m).toArrow()

        def raster_ok(res) -> bool:
            return self._raster_ok(res, state, n)

        return [
            Op("ingest", "lineage.ingest", run_job, ingest_ok,
               prepare_ingest),
            Op("resume", "lineage.resume", run_job, resume_ok,
               prepare_resume),
            Op("raster", "ops.raster.raster", raster_op, raster_ok),
        ]

    def _output_ok(self, state: dict, want: dict) -> bool:
        """Every bucket recorded ok; exactly the input image ids, each
        with the reference geotag (cell_id, x, y, z, bit-equal) and tile
        columns equal to the NumPy parents of that cell."""
        out = pq.read_table(state["out_dir"])
        lin = pq.read_table(os.path.join(state["state_dir"], "lineage"))
        mine = lin.filter(pc.equal(lin.column("job_id"),
                                           state["job"]))
        ok = mine.filter(pc.equal(mine.column("status"), "ok"))
        if sorted(set(_col(ok, "bucket").tolist())) != \
                list(range(self.N_BUCKETS)):
            return False
        if out.num_rows != len(want["image_id"]):
            return False
        out = out.take(pc.sort_indices(out, [("image_id", "ascending")]))
        if out.column("image_id").to_pylist() != want["image_id"]:
            return False
        if not all(np.array_equal(_col(out, c), want[c])
                   for c in ("cell_id", "x", "y", "z")):
            return False
        return all(np.array_equal(_col(out, f"tile_l{lv}"),
                                  check.parent_np(want["cell_id"], lv))
                   for lv in self.LEVELS)

    def _raster_ok(self, res: pa.Table, state: dict, n: int) -> bool:
        g = self.RASTER_GRID
        n_tiles = _col(res, "n_tiles")
        rcell = _col(res, "rcell")
        if int(n_tiles.sum()) != n * g * g:
            return False
        if not (check.level_np(rcell) == self.RASTER_LEVEL).all():
            return False
        # every sampled image's tile cells must be present with at
        # least the multiplicity that image alone contributes
        out = pq.read_table(state["out_dir"], columns=["x", "y", "z"])
        s = _sample(self.seed, out.num_rows, 256, "check.raster")
        want = raster_reference(_points_xyz(out)[s], g,
                                self.RASTER_EXTENT, self.RASTER_LEVEL)
        have = dict(zip(rcell.tolist(), n_tiles.tolist()))
        cells, counts = np.unique(want, return_counts=True)
        return all(have.get(int(c), 0) >= m
                   for c, m in zip(cells.tolist(), counts.tolist()))


def geotag_reference(raw: pa.Table) -> dict:
    """(image_id, cell_id, x, y, z) per raw row, sorted by image_id,
    from the driver-side NumPy geo kernels on the offset phash key."""
    from s2spark import dataset
    from s2spark.sources import geo
    raw = raw.take(pc.sort_indices(raw, [("image_id", "ascending")]))
    key = _col(raw, "phash") + np.int64(dataset.OFFSETS.get("images", 0))
    x, y, z = geo.xyz_np(key)
    return {"image_id": raw.column("image_id").to_pylist(),
            "cell_id": geo.cell_np(key), "x": x, "y": y, "z": z}


def raster_reference(xyz: np.ndarray, grid: int, extent: float,
                     level: int) -> np.ndarray:
    """Level-`level` cells of each image's grid x grid tile centers:
    offsets along the tangent frame (ref +z, or +x within 0.9 of a
    pole), leaf id from `kernels.cellid.from_xyz`."""
    from s2spark.kernels import cellid
    step = 2.0 * extent / grid
    off = -extent + step / 2.0 + step * np.arange(grid)
    du = np.repeat(off, grid)
    dv = np.tile(off, grid)
    c = np.repeat(xyz, grid * grid, axis=0)
    ref = np.where((np.abs(c[:, 2]) < 0.9)[:, None],
                   np.array([0.0, 0.0, 1.0]), np.array([1.0, 0.0, 0.0]))
    e1 = np.cross(c, ref)
    e1 /= np.linalg.norm(e1, axis=1, keepdims=True)
    e2 = np.cross(c, e1)
    k = len(xyz)
    p = c + np.tile(du, k)[:, None] * e1 + np.tile(dv, k)[:, None] * e2
    p /= np.linalg.norm(p, axis=1, keepdims=True)
    leaf = cellid.as_i64(cellid.from_xyz(p[:, 0], p[:, 1], p[:, 2]))
    return check.parent_np(leaf, level)


WORKLOADS = {w.name: w for w in (TileJoin, Ingest, Hotspot)}
