import numpy as np

from perfbench import check, gen


def test_shift_prefix_parents_match_the_cellid_kernel():
    from s2spark.kernels import cellid
    rng = gen.rng_for(0, "test.cells")
    p = gen.unit_points(rng, 2000)
    leaf = cellid.as_i64(cellid.from_xyz(p[:, 0], p[:, 1], p[:, 2]))
    for lv in (0, 1, 4, 8, 12, 29, 30):
        want = cellid.as_i64(cellid.parent(leaf, lv))
        assert np.array_equal(check.parent_np(leaf, lv), want)
        assert (check.level_np(want) == lv).all()


def test_equi_pairs_counts_cross_products():
    rng = gen.rng_for(0, "test.equi")
    a = check.parent_np(rng.integers(1, 1 << 62, 300), 30)
    b = np.concatenate([a[:50], a[:10]])
    want = sum(int((check.prefix_np(a, 3) == k).sum())
               for k in check.prefix_np(b, 3))
    assert check.equi_pairs(a, b, 3) == want


def test_knn_reference_breaks_ties_by_id():
    pts = np.array([[1.0, 0.0, 0.0]] * 3 + [[0.0, 1.0, 0.0]])
    pid = np.array([7, 3, 5, 1])
    (ids, d2), = check.knn_reference(pts, pid, np.array([[1.0, 0, 0]]), 2)
    assert ids.tolist() == [3, 5]
    assert d2.tolist() == [0.0, 0.0]


def test_containment_pairs():
    cells = check.parent_np(np.array([1 << 40, (1 << 40) + 2, 1 << 61]), 30)
    r = check.parent_np(cells[:1], 5)
    got = check.containment_pairs(np.array([10, 11, 12]), cells,
                                  np.array([0]), r)
    assert got.tolist() == [[10, 0], [11, 0]]
