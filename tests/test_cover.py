"""The feature cover (operators/cover.py): one pixel rule for every polygon
operator. A point marks the one pixel that contains it, in zonal stats,
rasterize, mask_polygon and chunk_polygon alike."""

import json

import numpy as np
import pytest

from openeo_geotrellis_extensions_spark.core.grid import Extent, LayoutDefinition
from openeo_geotrellis_extensions_spark.core.tiles import decode_tiles
from openeo_geotrellis_extensions_spark.operators.cloud import chunk_polygon
from openeo_geotrellis_extensions_spark.operators.cover import pixel_masks
from openeo_geotrellis_extensions_spark.operators.mask import mask_polygon
from openeo_geotrellis_extensions_spark.operators.rasterize import rasterize_features
from openeo_geotrellis_extensions_spark.operators.zonal import aggregate_spatial
from openeo_geotrellis_extensions_spark.sources.datacube import constant_cube

LAYOUT = LayoutDefinition(Extent(0.0, 0.0, 4.0, 4.0), 4, 4, 16, 16)
POINT = json.dumps({"type": "Point", "coordinates": [1.05, 1.05]})
SQUARE = json.dumps({"type": "Polygon", "coordinates": [[[0.5, 0.5], [1.5, 0.5], [1.5, 1.5], [0.5, 1.5], [0.5, 0.5]]]})
# x = 1.05 is pixel 0 of tile column 1; y = 1.05 is pixel row 15 of tile row 2
POINT_PIXEL = (1, 2, 15, 0)


def test_pixel_masks_point_and_polygon_rules():
    mask_of = pixel_masks({0: POINT, 1: SQUARE}, LAYOUT)
    m = mask_of(0, 1, 2, False)
    assert m.shape == (16, 16) and m.sum() == 1 and m[15, 0]
    assert not mask_of(0, 1, 1, False).any()
    assert mask_of(1, 0, 0, True).all()  # a contained tile is all True
    # polygon: pixel-centre rule; tile (0, 2) spans x 0..1, y 1..2
    xs, ys = LAYOUT.pixel_centers_for_key(0, 2)
    want = (xs[None, :] > 0.5) & (ys[:, None] < 1.5)
    np.testing.assert_array_equal(mask_of(1, 0, 2, False), want)
    assert mask_of(1, 0, 2, False) is mask_of(1, 0, 2, False)  # cached


def _valid_pixels(cube):
    """{(col, row, y, x)} of band-0 pixels that hold data, over all dates."""
    rows = cube.df.select("col", "row", "bands").collect()
    stacks = decode_tiles([r.bands for r in rows], cube.meta.cell_type, cube.meta.tile_shape, 1)
    return {
        (r.col, r.row, int(y), int(x))
        for r, s in zip(rows, stacks)
        for y, x in zip(*np.nonzero(~np.isnan(s[0])))
    }


@pytest.mark.parametrize("op", ["rasterize_features", "mask_polygon", "chunk_polygon"])
def test_point_marks_the_pixel_that_contains_it(spark, op):
    """Each operator covers exactly the one pixel that aggregate_spatial
    counts for the same point."""
    feats = spark.createDataFrame([(0, POINT)], ["feature_index", "geojson"])
    cube = constant_cube(spark, LAYOUT, band_values=[10])
    zonal = aggregate_spatial(cube, feats).collect()
    assert {r["count"] for r in zonal} == {1}
    if op == "rasterize_features":
        out = rasterize_features(feats, LAYOUT)
    elif op == "mask_polygon":
        out = mask_polygon(cube, feats)
    else:
        out = chunk_polygon(cube, feats, lambda stack, fi: stack)
    assert _valid_pixels(out) == {POINT_PIXEL}
