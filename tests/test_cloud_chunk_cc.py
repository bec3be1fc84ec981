"""SCL dilation mask, chunk_polygon, pixel crop, connected components,
array_find/array_modify."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from openeo_geotrellis_extensions_spark.core.grid import Extent, LayoutDefinition
from openeo_geotrellis_extensions_spark.core.tiles import decode_tile_float
from openeo_geotrellis_extensions_spark.functions.process_compiler import (
    compile_process_graph,
)
from openeo_geotrellis_extensions_spark.operators.cloud import (
    chunk_polygon,
    to_scl_dilation_mask,
)
from openeo_geotrellis_extensions_spark.operators.filters import crop
from openeo_geotrellis_extensions_spark.operators.mask import mask as mask_op
from openeo_geotrellis_extensions_spark.pipeline.dedup import connected_components
from openeo_geotrellis_extensions_spark.sources.datacube import (
    arithmetic_cube,
    constant_cube,
)
from openeo_geotrellis_extensions_spark.sources.interleaved import DATES

LAYOUT = LayoutDefinition(Extent(0.0, 0.0, 2.0, 2.0), 2, 2, 8, 8)


def test_scl_dilation_mask(spark):
    """A single cloud pixel dilates into a (2k+1)^2 neighborhood, across tile
    boundaries."""
    def scl_fn(d, b, c, r, py, px):
        # one cloud pixel (value 9) at global (7,7) = tile (0,0) px (7,7)
        v = np.full(np.broadcast(px, py).shape, 4.0)  # vegetation class
        if c == 0 and r == 0:
            v = v.copy()
            v[(py == 7) & (px == 7)] = 9.0
        return v

    scl = arithmetic_cube(spark, LAYOUT, dates=DATES[:1], n_bands=1,
                          cell_type="uint8ud255", value_fn=scl_fn)
    m = to_scl_dilation_mask(scl, dilation_px=2)
    full = np.zeros((16, 16))
    for r in m.df.collect():
        full[r.row * 8:(r.row + 1) * 8, r.col * 8:(r.col + 1) * 8] = \
            decode_tile_float(list(r.bands), m.meta.cell_type, (8, 8))[0]
    exp = np.zeros((16, 16))
    exp[5:10, 5:10] = 1.0  # 5x5 dilation around (7,7), crossing tile borders
    np.testing.assert_array_equal(full, exp)
    # plugs into mask(): data cube masked at dilated pixels
    data = constant_cube(spark, LAYOUT, dates=DATES[:1], band_values=[10],
                         cell_type="uint8ud255")
    masked = mask_op(data, m, prune_keys=False)
    got = np.zeros((16, 16))
    for r in masked.df.collect():
        got[r.row * 8:(r.row + 1) * 8, r.col * 8:(r.col + 1) * 8] = \
            decode_tile_float(list(r.bands), masked.meta.cell_type, (8, 8))[0]
    assert np.isnan(got[exp == 1]).all()
    assert (got[exp == 0] == 10).all()


def test_scl_dilation_mask_fft_path_exact(spark):
    """dilation_px=5 -> an 11x11 box kernel, which takes the FFT path: one
    cloud pixel must mask exactly its 11x11 square clipped to the plane —
    FFT round-off on clear pixels must not leak into the mask."""
    def scl_fn(d, b, c, r, py, px):
        v = np.full(np.broadcast(px, py).shape, 4.0)
        if c == 1 and r == 0:
            v = v.copy()
            v[(py == 2) & (px == 4)] = 9.0  # global (row 2, col 12)
        return v

    scl = arithmetic_cube(spark, LAYOUT, dates=DATES[:1], n_bands=1,
                          cell_type="uint8ud255", value_fn=scl_fn)
    m = to_scl_dilation_mask(scl, dilation_px=5)
    full = np.full((16, 16), -1.0)
    for r in m.df.collect():
        full[r.row * 8:(r.row + 1) * 8, r.col * 8:(r.col + 1) * 8] = \
            decode_tile_float(list(r.bands), m.meta.cell_type, (8, 8))[0]
    exp = np.zeros((16, 16))
    exp[0:8, 7:16] = 1.0  # rows -3..7, cols 7..17 clipped to the plane
    np.testing.assert_array_equal(full, exp)


def test_chunk_polygon_scales_inside(spark):
    cube = constant_cube(spark, LAYOUT, band_values=[10], cell_type="uint8ud255")
    feats = spark.createDataFrame(
        [(0, json.dumps({"type": "Polygon", "coordinates":
                         [[[0.2, 0.2], [1.3, 0.2], [1.3, 1.3], [0.2, 1.3], [0.2, 0.2]]]}))],
        ["feature_index", "geojson"],
    )
    out = chunk_polygon(cube, feats, lambda stack, fi: stack * 2)
    rows = out.df.collect()
    assert len(rows) > 0
    for r in rows:
        arr = decode_tile_float(list(r.bands), out.meta.cell_type, (8, 8))[0]
        vals = arr[~np.isnan(arr)]
        assert (vals == 20).all()  # inside doubled; outside nodata


def test_crop_masks_outside_pixels(spark):
    cube = constant_cube(spark, LAYOUT, band_values=[10], cell_type="uint8ud255")
    box = Extent(0.3, 0.3, 1.1, 1.1)
    out = crop(cube, box)
    for r in out.df.collect():
        arr = decode_tile_float(list(r.bands), out.meta.cell_type, (8, 8))[0]
        xs, ys = LAYOUT.pixel_centers_for_key(r.col, r.row)
        inside = ((xs[None, :] > 0.3) & (xs[None, :] < 1.1)
                  & (ys[:, None] > 0.3) & (ys[:, None] < 1.1))
        assert (arr[inside] == 10).all()
        assert np.isnan(arr[~inside]).all()


def test_connected_components_vs_unionfind(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (3, 10)],
        ["id_a", "id_b"],
    )
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    # union-find oracle
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (3, 10)]:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    exp = {x: find(x) for x in parent}
    assert got == exp
    # {1,2,3,8,9,10} one component, {5,6} another
    assert got[10] == 1 and got[6] == 5


def test_connected_components_raises_when_unconverged(spark):
    """A 60-node chain needs more label-propagation rounds than the default
    limit; returning the partial labels (39 'components') would be silently
    wrong, so it must raise instead."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="max_iters=20"):
        connected_components(pairs).collect()


def test_array_find_modify():
    g = {"n": {"process_id": "array_find",
               "arguments": {"data": {"from_parameter": "data"}, "value": 7},
               "result": True}}
    c = compile_process_graph(g)
    assert c.fn({"data": np.array([3.0, 7.0, 9.0])}) == 1.0
    assert np.isnan(c.fn({"data": np.array([3.0, 4.0])}))
    g2 = {"n": {"process_id": "array_modify",
                "arguments": {"data": {"from_parameter": "data"},
                              "values": [99.0], "index": 1, "length": 1},
                "result": True}}
    out = compile_process_graph(g2).fn({"data": np.array([1.0, 2.0, 3.0])})
    np.testing.assert_array_equal(out, [1.0, 99.0, 3.0])
