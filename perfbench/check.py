"""Independent NumPy references for every benchmark operation.

Nothing here calls s2spark: cell hierarchy math is re-derived with
shift-based Hilbert prefixes, distances with the plain chord² formula,
and joins by sorting.  The one exception is the point-in-polygon
verdict, which uses the scalar-robust `kernels.loops.Loop` kernel as
the reference for the distributed join.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 30


def _shift(level: int) -> np.uint64:
    return np.uint64(2 * (MAX_LEVEL - level) + 1)


def prefix_np(cell: np.ndarray, level: int) -> np.ndarray:
    """Hilbert prefix of a leaf id at `level`: id >>> (2*(30-level)+1)."""
    return np.asarray(cell, dtype=np.int64).view(np.uint64) >> _shift(level)


def parent_np(cell: np.ndarray, level: int) -> np.ndarray:
    """Level-`level` ancestor id (int64) rebuilt from the prefix: the
    prefix bits shifted back into place plus the level's marker bit."""
    lsb = np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))
    return ((prefix_np(cell, level) << _shift(level)) | lsb).view(np.int64)


def level_np(cell: np.ndarray) -> np.ndarray:
    """Level of each id from its lowest set bit."""
    u = np.asarray(cell, dtype=np.int64).view(np.uint64)
    low = u & (~u + np.uint64(1))
    tz = np.log2(low.astype(np.float64)).astype(np.int64)
    return MAX_LEVEL - tz // 2


def tile_counts(cell: np.ndarray, level: int) -> tuple[np.ndarray, np.ndarray]:
    """-> (sorted tile ids, row count per tile)."""
    return np.unique(parent_np(cell, level), return_counts=True)


def equi_pairs(a_cell: np.ndarray, b_cell: np.ndarray, level: int) -> int:
    """Pair count of the level-`level` equi-join: sum over shared
    prefixes of count_a * count_b."""
    ka, na = np.unique(prefix_np(a_cell, level), return_counts=True)
    kb, nb = np.unique(prefix_np(b_cell, level), return_counts=True)
    _, ia, ib = np.intersect1d(ka, kb, assume_unique=True,
                               return_indices=True)
    return int(np.dot(na[ia].astype(np.int64), nb[ib].astype(np.int64)))


def containment_pairs(pid: np.ndarray, cell: np.ndarray, rid: np.ndarray,
                      rcell: np.ndarray) -> np.ndarray:
    """(pid, rid) pairs, sorted, for distinct same-level region cells."""
    lv = int(level_np(rcell[:1])[0])
    if not (level_np(rcell) == lv).all():
        raise ValueError("regions must share one level")
    order = np.argsort(rcell)
    rs, rids = rcell[order], rid[order]
    par = parent_np(cell, lv)
    pos = np.clip(np.searchsorted(rs, par), 0, len(rs) - 1)
    hit = rs[pos] == par
    return sort_pairs(pid[hit], rids[pos[hit]])


def sort_pairs(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    out = np.stack([np.asarray(a, dtype=np.int64),
                    np.asarray(b, dtype=np.int64)], axis=1)
    return out[np.lexsort((out[:, 1], out[:, 0]))]


def chord2(q: np.ndarray, p: np.ndarray) -> np.ndarray:
    """|q - p|² with the same operation order as the SQL filter."""
    dx = q[0] - p[:, 0]
    dy = q[1] - p[:, 1]
    dz = q[2] - p[:, 2]
    return dx * dx + dy * dy + dz * dz


def disc_reference(points_xyz: np.ndarray, pid: np.ndarray,
                   q_xyz: np.ndarray, r2: float) -> list[tuple]:
    """Per query: sorted (pid, dist2) arrays of points within chord² r2."""
    out = []
    for q in q_xyz:
        d2 = chord2(q, points_xyz)
        m = d2 <= r2
        o = np.argsort(pid[m])
        out.append((pid[m][o], d2[m][o]))
    return out


def knn_reference(points_xyz: np.ndarray, pid: np.ndarray,
                  q_xyz: np.ndarray, k: int) -> list[tuple]:
    """Per query: the k nearest (pid, dist2) in exact (dist2, pid) order."""
    out = []
    for q in q_xyz:
        d2 = chord2(q, points_xyz)
        cut = np.argpartition(d2, k)[:k + 1] if len(d2) > k + 1 \
            else np.arange(len(d2))
        # widen to every point tied with the (k+1)-th distance so the
        # id tie-break sees all candidates
        kth = np.sort(d2[cut])[min(k, len(cut) - 1)]
        cand = np.nonzero(d2 <= kth)[0]
        o = np.lexsort((pid[cand], d2[cand]))[:k]
        out.append((pid[cand][o], d2[cand][o]))
    return out


def group_rows(keys: np.ndarray, *cols: np.ndarray) -> dict:
    """{key: tuple of column slices} for rows sorted by (key, cols[0])."""
    order = np.lexsort(tuple(reversed((keys,) + cols[:1])))
    keys = keys[order]
    cols = [c[order] for c in cols]
    bounds = np.flatnonzero(np.diff(keys)) + 1
    starts = np.concatenate([[0], bounds])
    ends = np.concatenate([bounds, [len(keys)]])
    return {int(keys[s]): tuple(c[s:e] for c in cols)
            for s, e in zip(starts, ends)}


def same_groups(got: dict, want: list[tuple], qids: np.ndarray) -> bool:
    """Every sampled query's rows equal the reference exactly."""
    empty = (np.zeros(0, dtype=np.int64), np.zeros(0))
    for q, (wp, wd) in zip(qids, want):
        gp, gd = got.get(int(q), empty)
        if not (np.array_equal(gp, wp) and np.array_equal(gd, wd)):
            return False
    return True
