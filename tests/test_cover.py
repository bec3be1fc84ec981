"""The feature cover (operators/cover.py): which tiles a feature covers, as
quadtree blocks of keys, and one pixel rule for every polygon operator. A
point marks the one pixel that contains it, in zonal stats, rasterize,
mask_polygon and chunk_polygon alike."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from openeo_geotrellis_extensions_spark.core.geom import from_geojson, rectangle_extent
from openeo_geotrellis_extensions_spark.core.grid import Extent, LayoutDefinition
from openeo_geotrellis_extensions_spark.core.tiles import decode_tiles
from openeo_geotrellis_extensions_spark.operators.cloud import chunk_polygon
from openeo_geotrellis_extensions_spark.operators.cover import (
    cover_blocks,
    feature_tile_keys,
    pixel_masks,
)
from openeo_geotrellis_extensions_spark.operators.mask import mask_polygon
from openeo_geotrellis_extensions_spark.operators.rasterize import rasterize_features
from openeo_geotrellis_extensions_spark.operators.zonal import aggregate_spatial
from openeo_geotrellis_extensions_spark.sources.datacube import constant_cube
from openeo_geotrellis_extensions_spark.sources.interleaved import media_layout

LAYOUT = LayoutDefinition(Extent(0.0, 0.0, 4.0, 4.0), 4, 4, 16, 16)
POINT = json.dumps({"type": "Point", "coordinates": [1.05, 1.05]})
SQUARE = json.dumps({"type": "Polygon", "coordinates": [[[0.5, 0.5], [1.5, 0.5], [1.5, 1.5], [0.5, 1.5], [0.5, 0.5]]]})
LAYOUT8 = LayoutDefinition(Extent(0.0, 0.0, 8.0, 8.0), 8, 8, 4, 4)


def _poly(*rings):
    return json.dumps({"type": "Polygon", "coordinates": [[list(p) for p in r] for r in rings]})


ALIGNED = _poly([(1, 1), (3, 1), (3, 3), (1, 3), (1, 1)])
WORLD = _poly([(-180, -90), (180, -90), (180, 90), (-180, 90), (-180, -90)])
BOWTIE = _poly([(1, 1), (7, 7), (7, 1), (1, 7), (1, 1)])
LSHAPE = _poly([(1, 1), (7, 1), (7, 4), (4, 4), (4, 7), (1, 7), (1, 1)])
HOLE = _poly(
    [(0.5, 0.5), (7.5, 0.5), (7.5, 7.5), (0.5, 7.5), (0.5, 0.5)],
    [(3, 3), (5, 3), (5, 5), (3, 5), (3, 3)],
)


def _keys(blocks):
    """Sorted (col, row, contained) of the keys a list of blocks covers."""
    return sorted(
        (c, r, k)
        for c0, c1, r0, r1, k in blocks
        for c in range(c0, c1 + 1)
        for r in range(r0, r1 + 1)
    )


def _flags(contained_keys, keys):
    return [(c, r, int((c, r) in contained_keys)) for c, r in keys]


def _grid(cols, rows):
    return [(c, r) for c in cols for r in rows]


# The covers of non-rectangles are those of the classify_rect quadtree the
# rectangle rule was added beside (tiles touching an edge are boundary).
NON_RECTANGLES = {
    "bowtie": (
        BOWTIE,
        _flags(set(), _grid((1, 2, 5, 6), range(1, 7)) + _grid((3, 4), range(2, 6))),
    ),
    "lshape": (
        LSHAPE,
        _flags(
            {(2, 2), (2, 3), (2, 4), (2, 5), (3, 5), (4, 5), (5, 5)},
            _grid((1, 2), range(1, 7)) + _grid((3, 4), range(1, 7)) + _grid((5, 6), range(3, 7)),
        ),
    ),
    "hole": (
        HOLE,
        _flags(
            set(_grid((1, 6), range(1, 7)) + _grid(range(2, 6), (1, 6))),
            _grid(range(8), range(8)),
        ),
    ),
}


def test_rectangle_extent_is_exact():
    assert rectangle_extent(from_geojson(ALIGNED)) == Extent(1, 1, 3, 3)
    open_cw = _poly([(3, 1), (1, 1), (1, 3), (3, 3)])  # clockwise, unclosed
    assert rectangle_extent(from_geojson(open_cw)) == Extent(1, 1, 3, 3)
    collinear = _poly([(1, 1), (2, 1), (3, 1), (3, 3), (1, 3), (1, 1)])
    multi = json.dumps({"type": "MultiPolygon", "coordinates": [[[[1, 1], [3, 1], [3, 3], [1, 3], [1, 1]]]]})
    for gj in (BOWTIE, LSHAPE, HOLE, collinear, multi, POINT):
        assert rectangle_extent(from_geojson(gj)) is None


def test_grid_aligned_rectangle_tiles_are_contained(spark):
    """Tiles whose edges lie on the rectangle's edges are wholly inside it."""
    feats = spark.createDataFrame([(0, ALIGNED)], ["feature_index", "geojson"])
    rows = sorted((r.col, r.row, r.contained) for r in feature_tile_keys(feats, LAYOUT).collect())
    assert rows == [(1, 1, 1), (1, 2, 1), (2, 1, 1), (2, 2, 1)]


def test_world_zone_is_a_few_blocks(spark):
    layout = media_layout(16)
    assert len(cover_blocks(from_geojson(WORLD), layout)) <= 16
    feats = spark.createDataFrame([(0, WORLD)], ["feature_index", "geojson"])
    keys = feature_tile_keys(feats, layout)
    counts = keys.agg(
        F.count("*").alias("n"),
        F.countDistinct("col", "row").alias("distinct"),
        F.sum("contained").alias("contained"),
    ).first()
    assert tuple(counts) == (131_072, 131_072, 131_072)


@pytest.mark.parametrize("name", sorted(NON_RECTANGLES))
def test_non_rectangle_cover_keeps_classify_rect(name):
    gj, want = NON_RECTANGLES[name]
    assert _keys(cover_blocks(from_geojson(gj), LAYOUT8)) == sorted(want)


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
