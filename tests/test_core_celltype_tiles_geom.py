"""Cell-type promotion (mirrors cellTypeUnion expectations incl. the
MergeCubesSpec.scala:274-281 uint8+uint16 -> uint16 assert), tile codec
round-trips, and pure-numpy geometry vs analytic oracles."""

import json

import numpy as np
import pytest

from openeo_geotrellis_extensions_spark.core.celltype import (
    CellType,
    cell_type_union,
    parse_cell_type,
)
from openeo_geotrellis_extensions_spark.core.geom import (
    CONTAINS,
    DISJOINT,
    INTERSECTS,
    classify_blocks,
    distance_to_geometry,
    from_geojson,
    from_wkt,
    parse_geometry,
    points_in_geometry,
    rasterize,
    rect_geometry,
)
from openeo_geotrellis_extensions_spark.core.grid import Extent
from openeo_geotrellis_extensions_spark.core.tiles import (
    EMPTY,
    MAX_CHUNK_VALUES,
    decode_band,
    decode_tile_float,
    decode_tiles,
    encode_band,
    encode_tiles,
    tile_chunks,
)


# -- cell types -------------------------------------------------------------

def test_parse_names():
    assert parse_cell_type("uint8ud255") == CellType("uint8", 255.0)
    assert parse_cell_type("uint8raw").nodata is None
    assert np.isnan(parse_cell_type("float32").nodata)
    assert parse_cell_type("int16").nodata == -32768


def test_union_uint8_uint16_is_uint16():
    # MergeCubesSpec.scala:274-281: merged cube dtype = union = uint16
    assert cell_type_union("uint8", "uint16").base == "uint16"


def test_union_float_wins():
    assert cell_type_union("int16", "float32").base == "float32"
    assert cell_type_union("int32", "float32").base == "float64"
    assert cell_type_union("float32", "float64").base == "float64"


def test_union_signed_wins_same_width():
    assert cell_type_union("uint8", "int8").base == "int16"
    assert cell_type_union("int16", "uint16").base == "int32"


def test_union_raw_vs_nodata():
    assert cell_type_union("uint8raw", "uint8raw").has_nodata is False
    assert cell_type_union("uint8raw", "uint8ud255").has_nodata is True


def test_name_roundtrip():
    for n in ["uint8", "uint8raw", "uint8ud255", "int16", "float32", "float64"]:
        assert parse_cell_type(n).name == n


# -- tiles ------------------------------------------------------------------

def test_band_roundtrip():
    ct = parse_cell_type("int16")
    a = np.arange(12, dtype=np.int16).reshape(3, 4)
    buf = encode_band(a, ct)
    b = decode_band(buf, ct, (3, 4))
    np.testing.assert_array_equal(a, b)


def test_all_nodata_band_is_empty_marker():
    ct = parse_cell_type("uint8ud255")
    a = np.full((4, 4), 255, dtype=np.uint8)
    assert encode_band(a, ct) == EMPTY
    back = decode_band(EMPTY, ct, (4, 4))
    assert (back == 255).all()


def test_decode_tile_float_nan():
    ct = parse_cell_type("uint8ud255")
    a = np.array([[1, 255], [3, 4]], dtype=np.uint8)
    stack = decode_tile_float([encode_band(a, ct), EMPTY], ct, (2, 2))
    assert np.isnan(stack[0, 0, 1])
    assert stack[0, 1, 1] == 4
    assert np.isnan(stack[1]).all()


CODEC_CTS = ["uint8", "uint8raw", "uint8ud255", "int16", "int32", "float32",
             "float32raw", "float32ud-9999", "float64"]


@pytest.mark.parametrize("name", CODEC_CTS)
def test_batch_codec_matches_band_codec(name):
    """encode_tiles == encode_band band by band (EMPTY rule included), and
    decode_tiles inverts it; EMPTY bands and None rows decode as nodata."""
    ct = parse_cell_type(name)
    rng = np.random.default_rng(7)
    stack = rng.integers(1, 100, size=(4, 3, 5, 6)).astype(np.float64)
    stack[0, 0, 2, 3] = np.nan  # one nodata pixel
    stack[1, 2] = np.nan  # one all-nodata band
    bands = encode_tiles(stack, name)
    assert bands == [[encode_band(ct.from_float_nan(b), ct) for b in t] for t in stack]
    assert (bands[1][2] == EMPTY) == ct.has_nodata
    back = decode_tiles(bands + [None], name, (5, 6), 3)
    assert back.shape == (5, 3, 5, 6)
    # raw integer types store NaN as 0; raw float types keep NaN pixels
    want = np.where(np.isnan(stack), np.nan if ct.has_nodata or ct.is_float else 0.0, stack)
    fill = np.nan if ct.has_nodata else 0.0  # an EMPTY band
    np.testing.assert_array_equal(back[:4], want)
    assert np.isnan(back[4]).all()  # a missing tile is nodata for every type
    for i in range(4):
        np.testing.assert_array_equal(decode_tile_float(bands[i], name, (5, 6)), want[i])
    # short band lists and explicit EMPTY/None bands decode as EMPTY
    short = decode_tiles([[bands[0][0]], [EMPTY, None, bands[0][2]]], name, (5, 6), 3)
    np.testing.assert_array_equal(short[0, 0], want[0, 0])
    assert np.array_equal(short[0, 1:], np.full((2, 5, 6), fill), equal_nan=True)
    assert np.array_equal(short[1, :2], np.full((2, 5, 6), fill), equal_nan=True)


def test_tile_chunks_cap_and_cover():
    import pandas as pd

    pdf = pd.DataFrame({"i": np.arange(1000)})
    for n_bands, shape in [(1, (8, 8)), (3, (256, 256)), (2, (2048, 2048))]:
        chunks = list(tile_chunks(pdf, n_bands, shape))
        per_row = n_bands * shape[0] * shape[1]
        assert all(len(c) >= 1 for c in chunks)
        assert all(len(c) * per_row <= max(MAX_CHUNK_VALUES, per_row) for c in chunks)
        assert np.concatenate([c["i"].to_numpy() for c in chunks]).tolist() == list(range(1000))
    assert list(tile_chunks(pdf.iloc[:0], 1, (8, 8))) == []
    # driver-side sinks chunk a collected list of rows the same way
    rows = list(range(1000))
    chunks = list(tile_chunks(rows, 3, (256, 256)))
    assert max(map(len, chunks)) * 3 * 256 * 256 <= MAX_CHUNK_VALUES
    assert sum(chunks, []) == rows


# -- geometry ---------------------------------------------------------------

SQUARE = {"type": "Polygon", "coordinates": [[[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]]}
DONUT = {
    "type": "Polygon",
    "coordinates": [
        [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
        [[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]],
    ],
}


def test_pip_square():
    g = from_geojson(SQUARE)
    xs = np.array([5.0, -1.0, 9.99, 10.5])
    ys = np.array([5.0, 5.0, 9.99, 5.0])
    np.testing.assert_array_equal(points_in_geometry(g, xs, ys), [True, False, True, False])


def test_pip_hole():
    g = from_geojson(DONUT)
    assert points_in_geometry(g, np.array([5.0]), np.array([5.0]))[0] == False  # noqa: E712
    assert points_in_geometry(g, np.array([2.0]), np.array([2.0]))[0] == True  # noqa: E712


def test_pip_matches_bbox_oracle_random():
    g = from_geojson(SQUARE)
    rng = np.random.default_rng(1)
    xs = rng.uniform(-2, 12, 500)
    ys = rng.uniform(-2, 12, 500)
    got = points_in_geometry(g, xs, ys)
    exp = (xs > 0) & (xs < 10) & (ys > 0) & (ys < 10)
    np.testing.assert_array_equal(got, exp)


def test_wkt_polygon():
    g = from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    assert g.kind == "Polygon"
    assert points_in_geometry(g, np.array([5.0]), np.array([5.0]))[0]


def test_wkt_multipolygon():
    g = from_wkt("MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((6 6, 8 6, 8 8, 6 8, 6 6)))")
    assert g.kind == "MultiPolygon"
    r = points_in_geometry(g, np.array([2.0, 7.0, 5.0]), np.array([2.0, 7.0, 5.0]))
    np.testing.assert_array_equal(r, [True, True, False])


def test_parse_geometry_dispatch():
    assert parse_geometry(json.dumps(SQUARE)).kind == "Polygon"
    assert parse_geometry("POINT (3 4)").kind == "Point"
    assert parse_geometry("just some text") is None
    assert parse_geometry('{"not": "geojson"}') is None


def _classify_one(g, x0, y0, x1, y1):
    return int(classify_blocks(g, [x0], [y0], [x1], [y1])[0])


SQUARE_BLOCKS = {
    (2, 2, 3, 3): CONTAINS,
    (-5, -5, 1, 1): INTERSECTS,
    (11, 11, 12, 12): DISJOINT,
    (-5, -5, 15, 15): INTERSECTS,  # the block contains the whole polygon
    (10, 10, 11, 11): DISJOINT,  # touches the polygon only at a corner
    (-1, -1, 0, 0): DISJOINT,
    (0, 2, 1, 3): CONTAINS,  # lies along an edge, inside
    (9, 0, 10, 10): CONTAINS,
    (10, 2, 11, 3): DISJOINT,  # lies along an edge, outside
}
DONUT_BLOCKS = {
    (4.5, 4.5, 5.5, 5.5): DISJOINT,  # hole interior
    (4, 4, 6, 6): DISJOINT,  # the hole itself
    (3.5, 3.5, 5.5, 5.5): INTERSECTS,
    (3, 4, 4, 5): CONTAINS,  # along the hole's edge, outside the hole
    (6, 6, 7, 7): CONTAINS,  # touches the hole only at a corner
}


def test_classify_blocks():
    for gj, blocks in ((SQUARE, SQUARE_BLOCKS), (DONUT, DONUT_BLOCKS)):
        g = from_geojson(gj)
        for e, want in blocks.items():
            assert _classify_one(g, *e) == want, e
        # several blocks in one call: the answers of one call per block
        got = classify_blocks(g, *np.asarray(list(blocks), dtype=np.float64).T)
        assert got.tolist() == list(blocks.values())


def test_rasterize_matches_center_oracle():
    g = from_geojson(SQUARE)
    xs = np.arange(16) * 1.0 - 2.5  # centers -2.5..12.5
    ys = (np.arange(16) * 1.0 - 2.5)[::-1]
    m = rasterize(g, xs, ys)
    exp = ((xs[None, :] > 0) & (xs[None, :] < 10)) & ((ys[:, None] > 0) & (ys[:, None] < 10))
    np.testing.assert_array_equal(m, exp)


def test_distance():
    g = from_geojson(SQUARE)
    d = distance_to_geometry(g, np.array([5.0, 13.0, 13.0]), np.array([5.0, 5.0, 14.0]))
    assert d[0] == 0.0
    assert d[1] == pytest.approx(3.0)
    assert d[2] == pytest.approx(5.0)


def test_rect_geometry():
    g = rect_geometry(Extent(0, 0, 2, 2))
    assert points_in_geometry(g, np.array([1.0]), np.array([1.0]))[0]


def test_reproject_geometry_vertices_and_densify():
    """ProjectedPolygons.reproject parity: vertices map through the CRS
    engine (round-trip identity), area of a UTM-projected polygon matches
    the geodesic expectation, and densify inserts edge points that follow
    the warped edge."""
    import numpy as np

    from openeo_geotrellis_extensions_spark.core.geom import (
        from_geojson,
        reproject_geometry,
    )
    from openeo_geotrellis_extensions_spark.core.proj import point_transform

    sq = from_geojson(
        '{"type": "Polygon", "coordinates": [[[3.0, 50.0], [3.1, 50.0],'
        ' [3.1, 50.1], [3.0, 50.1], [3.0, 50.0]]]}'
    )
    utm = reproject_geometry(sq, "EPSG:4326", "EPSG:32631")
    back = reproject_geometry(utm, "EPSG:32631", "EPSG:4326")
    np.testing.assert_allclose(
        back.polygons[0][0], sq.polygons[0][0], atol=1e-8
    )
    # shoelace area of the projected ring ~ 0.1 deg x 0.1 deg at 50N
    r = utm.polygons[0][0]
    x, y = r[:, 0], r[:, 1]
    area = 0.5 * abs(
        np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))
    )
    expect = (0.1 * 111_320 * np.cos(np.radians(50.05))) * (0.1 * 111_132)
    assert abs(area / expect - 1.0) < 0.01

    dense = reproject_geometry(sq, "EPSG:4326", "EPSG:32631", densify=8)
    ring = dense.polygons[0][0]
    assert len(ring) == 4 * 9  # 8 inserted per edge + original vertices
    # densified points lie on the true warped edge (each inserted vertex
    # is the projection of the source-space lerp, t = k/9 along the edge)
    pt = point_transform("EPSG:4326", "EPSG:32631")
    ex, ey = pt(np.array([3.0 + 0.1 * 4 / 9]), np.array([50.0]))
    d = np.hypot(ring[:, 0] - ex[0], ring[:, 1] - ey[0]).min()
    assert d < 1e-6

    p = from_geojson('{"type": "Point", "coordinates": [10.0, 52.0]}')
    laea = reproject_geometry(p, "EPSG:4326", "EPSG:3035")
    assert abs(laea.points[0, 0] - 4321000.0) < 1e-6
