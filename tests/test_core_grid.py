"""Core grid/layout invariants (mirrors reference partitioner/layout tests:
geotrellis-common Z3Test.scala, DataCubeSupportSpec.scala, and the
grid-alignment asserts of OpenEOProcessesSpec.scala:581-600)."""

import numpy as np
import pytest

from openeo_geotrellis_extensions_spark.core.grid import (
    Extent,
    GlobalGrid,
    LayoutDefinition,
    WORLD_EXTENT,
    floating_layout,
    zindex,
)


def test_key_for_point_row0_at_top():
    ld = LayoutDefinition(Extent(0, 0, 4, 4), 4, 4, tile_cols=16, tile_rows=16)
    assert ld.key_for_point(0.5, 3.5) == (0, 0)  # NW corner
    assert ld.key_for_point(3.5, 0.5) == (3, 3)  # SE corner
    assert ld.key_for_point(0.5, 0.5) == (0, 3)


def test_key_extent_roundtrip():
    ld = LayoutDefinition(Extent(-10, 20, 30, 60), 8, 8)
    for col, row in [(0, 0), (3, 5), (7, 7)]:
        e = ld.extent_for_key(col, row)
        cx, cy = (e.xmin + e.xmax) / 2, (e.ymin + e.ymax) / 2
        assert ld.key_for_point(cx, cy) == (col, row)


def test_keys_for_extent_half_open():
    ld = LayoutDefinition(Extent(0, 0, 4, 4), 4, 4)
    keys = list(ld.keys_for_extent(Extent(0.5, 0.5, 1.0, 1.0)))
    # touches tile boundary at x=1,y=1 exactly -> only the one tile
    assert keys == [(0, 3)]
    keys = list(ld.keys_for_extent(Extent(0.5, 0.5, 1.5, 1.5)))
    assert set(keys) == {(0, 3), (1, 3), (0, 2), (1, 2)}


def test_vectorized_keys_match_scalar():
    ld = LayoutDefinition(Extent(-180, -90, 180, 90), 16, 8)
    rng = np.random.default_rng(42)
    xs = rng.uniform(-179.9, 179.9, 200)
    ys = rng.uniform(-89.9, 89.9, 200)
    cols, rows = ld.keys_for_points(xs, ys)
    for i in range(200):
        assert (cols[i], rows[i]) == ld.key_for_point(xs[i], ys[i])


def test_pixel_centers_north_to_south():
    ld = LayoutDefinition(Extent(0, 0, 1, 1), 1, 1, tile_cols=4, tile_rows=4)
    xs, ys = ld.pixel_centers_for_key(0, 0)
    assert xs[0] == pytest.approx(0.125)
    assert ys[0] == pytest.approx(0.875)  # first row = northmost
    assert ys[-1] == pytest.approx(0.125)


def test_floating_layout_no_negative_keys():
    # mirrors filterNegativeSpatialKeys expectation (OpenEOProcesses.scala:804-830)
    ld = floating_layout(Extent(3.9, 50.5, 4.7, 51.1), 16, 16, cell_size=0.01)
    assert ld.key_for_point(3.95, 51.05) == (0, 0)
    assert ld.extent.contains(Extent(3.9, 50.5, 4.7, 51.1))


def test_zindex_orders_locality():
    z = zindex([0, 1, 0, 1], [0, 0, 1, 1])
    assert list(z) == [0, 1, 2, 3]
    # interleave is monotone in each axis
    assert zindex([5], [0])[0] < zindex([5], [8])[0]


def test_global_grid_encode_decode_roundtrip():
    for res, x, y in [(0, 0, 0), (0, 1, 0), (5, 63, 31), (12, 8191, 4095)]:
        cid = int(GlobalGrid.encode(res, x, y))
        r, xx, yy = (int(v) for v in GlobalGrid.decode(cid))
        assert (r, xx, yy) == (res, x, y)


def test_cell_for_point_and_extent_agree():
    rng = np.random.default_rng(7)
    xs = rng.uniform(-179, 179, 50)
    ys = rng.uniform(-89, 89, 50)
    cells = GlobalGrid.cell_for_point(8, xs, ys)
    for i in range(50):
        e = GlobalGrid.cell_extent(int(cells[i]))
        assert e.xmin <= xs[i] <= e.xmax
        assert e.ymin <= ys[i] <= e.ymax


def test_k_ring():
    cid = int(GlobalGrid.encode(4, 10, 5))
    ring = GlobalGrid.k_ring(cid, 1)
    assert len(ring) == 9
    assert cid in ring


def test_global_grid_layout_keys_are_cells():
    """Key (x, ny - 1 - y) of GlobalGrid.layout(res) has cell (x, y)'s extent."""
    for res in (0, 4, 9):
        layout = GlobalGrid.layout(res)
        ny = GlobalGrid.n_cells(res)[1]
        for x, y in [(0, 0), (1, ny - 1), (2 * ny - 1, ny // 2)]:
            cell = int(GlobalGrid.encode(res, x, y))
            assert layout.extent_for_key(x, ny - 1 - y) == GlobalGrid.cell_extent(cell)


def test_world_extent():
    assert WORLD_EXTENT == Extent(-180.0, -90.0, 180.0, 90.0)
