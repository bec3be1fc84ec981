"""Property-based invariants (hypothesis) for the core math the whole engine
rests on: grid key round-trips, cell encode/decode, cell-type promotion
algebra, PIP consistency, tile codec, rectangle feature covers."""

import numpy as np
from hypothesis import assume, given, settings
from hypothesis import strategies as st

from openeo_geotrellis_extensions_spark.core.celltype import (
    cell_type_union,
    parse_cell_type,
)
from openeo_geotrellis_extensions_spark.core.geom import (
    from_geojson,
    points_in_geometry,
)
from openeo_geotrellis_extensions_spark.core.grid import (
    Extent,
    GlobalGrid,
    LayoutDefinition,
)
from openeo_geotrellis_extensions_spark.core.geom import rectangle_extent
from openeo_geotrellis_extensions_spark.core.tiles import (
    MAX_CHUNK_VALUES,
    decode_band,
    decode_tiles,
    encode_band,
    encode_tiles,
    tile_chunks,
)

CT_NAMES = ["uint8", "uint8raw", "uint8ud255", "int8", "uint16", "int16",
            "int32", "float32", "float64"]


@given(
    st.floats(-179.99, 179.99, allow_nan=False),
    st.floats(-89.99, 89.99, allow_nan=False),
    st.integers(0, 12),
)
@settings(max_examples=200, deadline=None)
def test_cell_contains_its_point(x, y, res):
    # tolerance: a point within 1 ULP of a cell boundary may land either
    # side (inherent float grid math, same as Geotrellis mapToGrid)
    cid = int(GlobalGrid.cell_for_point(res, np.array([x]), np.array([y]))[0])
    e = GlobalGrid.cell_extent(cid)
    eps = GlobalGrid.cell_size(res) * 1e-12
    assert e.xmin - eps <= x <= e.xmax + eps
    assert e.ymin - eps <= y <= e.ymax + eps


@given(
    st.floats(-179.99, 179.99, allow_nan=False),
    st.floats(-89.99, 89.99, allow_nan=False),
)
@settings(max_examples=200, deadline=None)
def test_layout_key_roundtrip(x, y):
    ld = LayoutDefinition(Extent(-180, -90, 180, 90), 36, 18, 16, 16)
    c, r = ld.key_for_point(x, y)
    e = ld.extent_for_key(c, r)
    eps = ld.tile_width * 1e-12  # 1-ULP boundary tolerance (see above)
    assert e.xmin - eps <= x <= e.xmax + eps
    assert e.ymin - eps <= y <= e.ymax + eps


@given(st.sampled_from(CT_NAMES), st.sampled_from(CT_NAMES))
@settings(max_examples=100, deadline=None)
def test_celltype_union_commutative_idempotent(a, b):
    u1 = cell_type_union(a, b)
    u2 = cell_type_union(b, a)
    assert u1 == u2
    assert cell_type_union(a, a).base == parse_cell_type(a).base
    # union absorbs both inputs (re-union is a no-op)
    assert cell_type_union(u1.name, a).base == u1.base
    assert cell_type_union(u1.name, b).base == u1.base


@given(st.sampled_from(CT_NAMES),
       st.integers(0, 250), st.integers(1, 12), st.integers(1, 12))
@settings(max_examples=100, deadline=None)
def test_tile_codec_roundtrip(ct_name, fill, h, w):
    ct = parse_cell_type(ct_name)
    arr = np.full((h, w), fill % 120, dtype=ct.dtype)
    back = decode_band(encode_band(arr, ct), ct, (h, w))
    np.testing.assert_array_equal(arr, back)


@given(st.sampled_from(CT_NAMES + ["float32raw"]), st.integers(0, 2**32 - 1),
       st.integers(0, 5), st.integers(1, 3), st.integers(1, 6), st.integers(1, 6))
@settings(max_examples=100, deadline=None)
def test_batch_codec_roundtrip(ct_name, seed, n, nb, h, w):
    """decode_tiles(encode_tiles(x)) == x on representable values, with
    random nodata pixels, all-nodata bands and missing (None) rows."""
    ct = parse_cell_type(ct_name)
    rng = np.random.default_rng(seed)
    stack = rng.integers(1, 120, size=(n, nb, h, w)).astype(np.float64)
    stack[rng.random(stack.shape) < 0.2] = np.nan
    stack[rng.random((n, nb)) < 0.3] = np.nan
    bands = encode_tiles(stack, ct)
    assert bands == [[encode_band(ct.from_float_nan(b), ct) for b in t] for t in stack]
    missing = rng.random(n) < 0.3
    rows = [None if m else b for m, b in zip(missing, bands)]
    back = decode_tiles(rows, ct_name, (h, w), nb)
    want = np.where(np.isnan(stack), np.nan if ct.has_nodata or ct.is_float else 0.0, stack)
    want[missing] = np.nan
    np.testing.assert_array_equal(back, want)


@given(st.integers(0, 3000), st.integers(1, 4), st.integers(1, 3000), st.integers(1, 3000))
@settings(max_examples=100, deadline=None)
def test_tile_chunks_bounded_and_exhaustive(n, nb, h, w):
    import pandas as pd

    pdf = pd.DataFrame({"i": np.arange(n)})
    chunks = list(tile_chunks(pdf, nb, (h, w)))
    per_row = nb * h * w
    assert all(1 <= len(c) and len(c) * per_row <= max(MAX_CHUNK_VALUES, per_row)
               for c in chunks)
    got = np.concatenate([c["i"].to_numpy() for c in chunks]) if chunks else np.array([])
    assert got.tolist() == list(range(n))


@given(
    st.lists(
        st.tuples(st.floats(-50, 50, allow_nan=False),
                  st.floats(-50, 50, allow_nan=False)),
        min_size=3, max_size=8,
    ),
    st.floats(-60, 60, allow_nan=False),
    st.floats(-60, 60, allow_nan=False),
)
@settings(max_examples=200, deadline=None)
def test_pip_convex_hull_consistency(pts, qx, qy):
    """A point inside a polygon is inside its bbox (PIP => bbox test)."""
    ring = pts + [pts[0]]
    g = from_geojson({"type": "Polygon", "coordinates": [[list(p) for p in ring]]})
    inside = points_in_geometry(g, np.array([qx]), np.array([qy]))[0]
    if inside:
        bb = g.bbox()
        assert bb.xmin <= qx <= bb.xmax and bb.ymin <= qy <= bb.ymax


@given(st.integers(0, 10), st.integers(0, 2**20))
@settings(max_examples=100, deadline=None)
def test_cell_encode_decode(res, seed):
    nx, ny = GlobalGrid.n_cells(res)
    x, y = seed % nx, (seed * 7) % ny
    cid = int(GlobalGrid.encode(res, x, y))
    rr, xx, yy = (int(v) for v in GlobalGrid.decode(cid))
    assert (rr, xx, yy) == (res, x, y)


@given(
    st.integers(1, 400),
    st.integers(2, 64),
    st.integers(0, 40),
    st.integers(0, 10_000),
)
@settings(max_examples=150, deadline=None)
def test_chunking_window_algebra(n_words, chunk, overlap, seed):
    """Pure window math of chunk_documents, replicated in numpy: windows
    start at multiples of (chunk - overlap); the union of windows covers
    every token; consecutive windows share exactly `overlap` tokens except
    the ragged tail; a short doc yields exactly one window."""
    if overlap >= chunk:
        return
    step = chunk - overlap
    n_chunks = max(1, -(-(max(n_words - overlap, 0)) // step))
    starts = [i * step for i in range(n_chunks)]
    ends = [min(s + chunk, n_words) for s in starts]
    # coverage: every token index is inside some window
    covered = np.zeros(n_words, dtype=bool)
    for s, e in zip(starts, ends):
        covered[s:e] = True
    assert covered.all()
    # window starts stay inside the doc (no fully-empty windows)
    assert all(s < n_words for s in starts)
    # overlap between consecutive full windows
    for (s1, e1), (s2, e2) in zip(zip(starts, ends), zip(starts[1:], ends[1:])):
        assert s2 == e1 - overlap or e1 < s1 + chunk  # ragged tail exempt
    if n_words <= chunk:
        assert n_chunks == 1


@given(
    st.integers(0, (1 << 21) - 1),
    st.integers(0, (1 << 21) - 1),
    st.integers(0, (1 << 21) - 1),
)
@settings(max_examples=300, deadline=None)
def test_zindex3_bit_exact_and_ordering(c, r, t):
    """zindex3 == per-bit interleave for arbitrary 21-bit inputs, and
    incrementing one axis (others fixed) strictly increases the key."""
    from openeo_geotrellis_extensions_spark.core.grid import zindex3

    z = int(zindex3([c], [r], [t])[0])
    want = 0
    for b in range(21):
        want |= ((c >> b) & 1) << (3 * b)
        want |= ((r >> b) & 1) << (3 * b + 1)
        want |= ((t >> b) & 1) << (3 * b + 2)
    assert z == want
    if c + 1 < (1 << 21):
        assert int(zindex3([c + 1], [r], [t])[0]) > z
    if t + 1 < (1 << 21):
        assert int(zindex3([c], [r], [t + 1])[0]) > z


def _tile_units(n):
    """A coordinate in tile units: on the tile lattice or off it, reaching
    up to two tiles past either side of an ``n``-tile axis."""
    return st.one_of(
        st.integers(-2, n + 2).map(float),
        st.floats(-2, n + 2, allow_nan=False, allow_infinity=False),
    )


@st.composite
def _rect_on_layout(draw):
    cols, rows = draw(st.integers(1, 6)), draw(st.integers(1, 6))
    ox, oy = draw(st.integers(-5, 5)), draw(st.integers(-5, 5))
    tw, th = draw(st.sampled_from([0.5, 1.0, 1.5, 3.0])), draw(st.sampled_from([0.5, 1.0, 2.0]))
    px = draw(st.sampled_from([1, 2, 5]))
    layout = LayoutDefinition(Extent(ox, oy, ox + cols * tw, oy + rows * th), cols, rows, px, px)
    us = sorted(draw(st.lists(_tile_units(cols), min_size=2, max_size=2, unique=True)))
    vs = sorted(draw(st.lists(_tile_units(rows), min_size=2, max_size=2, unique=True)))
    e = layout.extent
    x0, x1 = (e.xmin + u * layout.tile_width for u in us)
    y0, y1 = (e.ymin + v * layout.tile_height for v in vs)
    assume(x0 < x1 and y0 < y1)
    ring = [[x0, y0], [x1, y0], [x1, y1], [x0, y1]]
    start = draw(st.integers(0, 3))
    ring = ring[start:] + ring[:start]
    if draw(st.booleans()):
        ring = ring[::-1]
    return layout, ring + [ring[0]]


@given(_rect_on_layout())
@settings(max_examples=300, deadline=None)
def test_rectangle_cover_is_exact(case):
    """A rectangle covers exactly the layout tiles it overlaps with positive
    area, and every tile it calls contained is wholly inside it, with every
    pixel centre in its mask."""
    import json

    from openeo_geotrellis_extensions_spark.operators.cover import cover_blocks, pixel_masks

    layout, ring = case
    gj = json.dumps({"type": "Polygon", "coordinates": [ring]})
    g = from_geojson(gj)
    rect = rectangle_extent(g)
    assert rect is not None
    assert rect.width > 0 and rect.height > 0
    keys = {
        (c, r): k
        for c0, c1, r0, r1, k in cover_blocks(g, layout)
        for c in range(c0, c1 + 1)
        for r in range(r0, r1 + 1)
    }
    want = {
        (c, r)
        for c in range(layout.layout_cols)
        for r in range(layout.layout_rows)
        if rect.intersects(layout.extent_for_key(c, r))
    }
    assert set(keys) == want
    mask_of = pixel_masks({0: gj}, layout)
    for (c, r), k in keys.items():
        if k:
            assert rect.contains(layout.extent_for_key(c, r))
            assert mask_of(0, c, r, False).all()
