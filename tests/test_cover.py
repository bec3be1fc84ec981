"""The feature cover (operators/cover.py): which tiles (and spatial join
cells) a feature covers, as quadtree blocks of keys, and one pixel rule for
every polygon operator. A point marks the one pixel that contains it, in
zonal stats, rasterize, mask_polygon and chunk_polygon alike."""

import hashlib
import json

import numpy as np
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from openeo_geotrellis_extensions_spark.core import geom
from openeo_geotrellis_extensions_spark.core.geom import from_geojson
from openeo_geotrellis_extensions_spark.core.grid import Extent, GlobalGrid, LayoutDefinition
from openeo_geotrellis_extensions_spark.core.tiles import decode_tiles
from openeo_geotrellis_extensions_spark.operators.cloud import chunk_polygon
from openeo_geotrellis_extensions_spark.operators.cover import (
    cover_blocks,
    feature_tile_keys,
    pixel_masks,
)
from openeo_geotrellis_extensions_spark.operators.mask import mask_polygon
from openeo_geotrellis_extensions_spark.operators.rasterize import rasterize_features
from openeo_geotrellis_extensions_spark.operators.spatial_join import cell_blocks
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


# Exact covers of lattice polygons: a tile that no edge crosses is contained
# when it lies in the closed polygon (even with its edges on the polygon's)
# and dropped when its open interior misses it — the hole's four tiles too.
LSHAPE_KEYS = _grid((1, 2, 3), range(1, 7)) + _grid((4, 5, 6), range(4, 7))
HOLE_KEYS = [k for k in _grid(range(8), range(8)) if k not in _grid((3, 4), (3, 4))]
NON_RECTANGLES = {
    "bowtie": (
        BOWTIE,
        _flags(
            set(_grid((1, 6), range(2, 6)) + _grid((2, 5), (3, 4))),
            _grid((1, 6), range(1, 7)) + _grid((2, 5), range(2, 6)) + _grid((3, 4), (3, 4)),
        ),
    ),
    "lshape": (LSHAPE, _flags(set(LSHAPE_KEYS), LSHAPE_KEYS)),
    "hole": (HOLE, _flags({(c, r) for c, r in HOLE_KEYS if 0 < c < 7 and 0 < r < 7}, HOLE_KEYS)),
}


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
def test_non_rectangle_cover_is_exact(name):
    gj, want = NON_RECTANGLES[name]
    assert _keys(cover_blocks(from_geojson(gj), LAYOUT8)) == sorted(want)


def test_classify_chunks_give_the_same_cover(monkeypatch):
    """A 4,096-vertex circle classified one block per step (blocks x edges
    capped at 64) gives the same blocks, and on every tile of the layout the
    cover agrees with its raster: contained tiles all True, absent tiles
    all False."""
    t = np.linspace(0.0, 2 * np.pi, 4096, endpoint=False)
    ring = np.column_stack([4 + 3.3 * np.cos(t), 4 + 3.3 * np.sin(t)]).tolist()
    gj = _poly(ring + ring[:1])
    g = from_geojson(gj)
    want = cover_blocks(g, LAYOUT8)
    monkeypatch.setattr(geom, "MAX_CLASSIFY_VALUES", 64)
    assert cover_blocks(g, LAYOUT8) == want
    keys = {(c, r): k for c, r, k in _keys(want)}
    assert 0 < sum(keys.values()) < len(keys) < 64
    mask_of = pixel_masks({0: gj}, LAYOUT8)
    for c, r in _grid(range(8), range(8)):
        m = mask_of(0, c, r, False)
        if (c, r) not in keys:
            assert not m.any()
        elif keys[(c, r)]:
            assert m.all()


# Spatial join cells: features on the world grid, off the cell edges unless
# named "aligned"; the multipoint has points on a horizontal cell edge and
# outside the world, which cell_for_point clamps into border cells.
JOIN_FEATURES = {
    "lshape": _poly([(-40.3, -20.7), (25.1, -20.7), (25.1, 5.3), (-10.9, 5.3), (-10.9, 35.6), (-40.3, 35.6), (-40.3, -20.7)]),
    "lshape_aligned": _poly([(-45, -22.5), (22.5, -22.5), (22.5, 0), (-11.25, 0), (-11.25, 33.75), (-45, 33.75), (-45, -22.5)]),
    "hole": _poly(
        [(60.2, -50.4), (120.7, -50.4), (120.7, 10.1), (60.2, 10.1), (60.2, -50.4)],
        [(80.3, -30.6), (100.9, -30.6), (100.9, -10.2), (80.3, -10.2), (80.3, -30.6)],
    ),
    "triangle": _poly([(-150.3, -60.2), (-90.7, -60.2), (-120.1, 20.9), (-150.3, -60.2)]),
    "multipolygon": json.dumps({"type": "MultiPolygon", "coordinates": [
        [[[130.2, 20.3], [170.6, 25.1], [165.3, 60.7], [140.1, 55.2], [130.2, 20.3]]],
        [[[-170.2, 60.3], [-160.1, 60.3], [-160.1, 70.4], [-170.2, 70.4], [-170.2, 60.3]]],
    ]}),
    "multipoint": json.dumps({"type": "MultiPoint", "coordinates": [
        [195.0, 0.0], [180.0, 0.0], [0.0, 90.0], [10.3, 45.0], [-180.0, -90.0], [10.31, 45.0],
    ]}),
    **{f"rect{fi}": entry._rect_geojson(*bounds) for fi, *bounds in entry.RECT_FEATURES},
}

# (cells, contained cells, digest) of each feature's sorted (cell, contained)
# list, as the spatial join's GlobalGrid quadtree gave them before the cover
# moved to cover_blocks, except for the cell-aligned L-shape: its cells along
# the polygon's edges are now contained, and the cells it only touches are
# gone.
JOIN_COVERS = {
    ("lshape", 4): (33, 11, "833f3f9cc9e4ac42"),
    ("lshape", 6): (372, 286, "d661b6ae3c12bf61"),
    ("lshape", 7): (1377, 1205, "57ac34a0042071e8"),
    ("lshape_aligned", 4): (21, 21, "f272024912242a14"),
    ("lshape_aligned", 6): (336, 336, "0f5c910466ab1f1b"),
    ("lshape_aligned", 7): (1344, 1344, "0b98a37fd830a73c"),
    ("hole", 4): (36, 10, "7d6a1f821fc879a4"),
    ("hole", 6): (448, 336, "fb39ebf3d80fa062"),
    ("hole", 7): (1767, 1539, "9e01ecf2e2f36b25"),
    ("triangle", 4): (32, 9, "b2b28c65f4d80eb5"),
    ("triangle", 6): (357, 258, "628e16daa732c680"),
    ("triangle", 7): (1308, 1111, "ae55206f602cb305"),
    ("multipolygon", 4): (23, 3, "47c22405c3f6d3da"),
    ("multipolygon", 6): (199, 127, "37d2224a90db871a"),
    ("multipolygon", 7): (718, 570, "a83bc6db0dcd3e78"),
    ("multipoint", 4): (4, 0, "31d3bd7876731bdd"),
    ("multipoint", 6): (4, 0, "910977b03d264f4b"),
    ("multipoint", 7): (4, 0, "31ba43c003a2976c"),
    ("rect0", 4): (1, 0, "070731b51076bbd3"),
    ("rect0", 6): (2, 0, "aed72d32daa890b8"),
    ("rect0", 7): (4, 0, "87765e6ea018581e"),
    ("rect1", 4): (56, 30, "a1d32eef9beed62e"),
    ("rect1", 6): (754, 648, "799725e8a8f3a1e8"),
    ("rect1", 7): (2958, 2744, "14404948e28bd77c"),
    ("rect2", 4): (24, 8, "ac29de1ec2252676"),
    ("rect2", 6): (252, 190, "e1d67c82973b2ba4"),
    ("rect2", 7): (902, 780, "c81986dd39aca8fa"),
    ("rect3", 4): (1, 0, "9cd34731ce607633"),
    ("rect3", 6): (1, 0, "f84d41e1d002cac5"),
    ("rect3", 7): (2, 0, "bc044faf2eca1c44"),
}


@pytest.mark.parametrize("name, res", sorted(JOIN_COVERS))
def test_join_cell_cover_is_unchanged(name, res):
    ny = GlobalGrid.n_cells(res)[1]
    cover = sorted(
        (int(GlobalGrid.encode(res, c, ny - 1 - r)), bool(k))
        for c, r, k in _keys(cell_blocks(from_geojson(JOIN_FEATURES[name]), res))
    )
    digest = hashlib.sha256(repr(cover).encode()).hexdigest()[:16]
    assert (len(cover), sum(k for _, k in cover), digest) == JOIN_COVERS[(name, res)]


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
