import numpy as np
import pytest

from perfbench import check, gen


@pytest.fixture
def small(monkeypatch):
    monkeypatch.setitem(gen.TILE_JOIN, "points", 3000)
    monkeypatch.setitem(gen.TILE_JOIN, "queries", 300)
    monkeypatch.setitem(gen.TILE_JOIN, "regions", 50)
    monkeypatch.setitem(gen.INGEST, "rows", 500)
    monkeypatch.setitem(gen.HOTSPOT, "points", 4000)
    monkeypatch.setitem(gen.HOTSPOT, "knn_queries", 40)
    monkeypatch.setitem(gen.HOTSPOT, "dim_cells", 500)


def _same(a: dict, b: dict) -> bool:
    assert a.keys() == b.keys()
    for k in a:
        if isinstance(a[k], dict):
            if a[k].keys() != b[k].keys() or not all(
                    np.array_equal(a[k][i], b[k][i]) for i in a[k]):
                return False
        elif not a[k].equals(b[k]):
            return False
    return True


@pytest.mark.parametrize("name", ["tile_join", "ingest", "hotspot"])
def test_same_seed_same_inputs(small, name):
    make = getattr(gen, name)
    assert _same(make(5), make(5))
    assert not _same(make(5), make(6))


def test_tables_are_hilbert_sorted_and_sized(small):
    t = gen.tile_join(1)
    cell = t["images"].column("cell_id").to_numpy()
    assert (np.diff(cell) >= 0).all()
    assert t["images"].num_rows == 3000
    assert (check.level_np(t["regions"].column("rcell").to_numpy())
            == gen.TILE_JOIN["region_level"]).all()
    h = gen.hotspot(1)
    assert (np.diff(h["points"].column("cell_id").to_numpy()) >= 0).all()
    assert len(h["loops"]) == gen.HOTSPOT["loops"]


def test_hotspot_is_skewed(small):
    """The dominant cluster's share of points lands in few key cells."""
    h = gen.hotspot(3)
    cell = h["points"].column("cell_id").to_numpy()
    _, counts = check.tile_counts(cell, gen.HOTSPOT["key_level"])
    share = gen.HOTSPOT["clusters"][0][0]
    assert counts.max() >= 0.2 * share * len(cell)


def test_streams_are_independent():
    a = gen.rng_for(1, "x").integers(0, 1 << 30, 4)
    b = gen.rng_for(1, "y").integers(0, 1 << 30, 4)
    assert not np.array_equal(a, b)
    assert np.array_equal(a, gen.rng_for(1, "x").integers(0, 1 << 30, 4))
