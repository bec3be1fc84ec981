"""Property-based invariants (hypothesis) for the core math the whole engine
rests on: grid key round-trips, cell encode/decode, cell-type promotion
algebra, PIP consistency, tile codec, feature and spatial join covers."""

import json
from fractions import Fraction

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
from openeo_geotrellis_extensions_spark.core.tiles import (
    MAX_CHUNK_VALUES,
    decode_band,
    decode_tiles,
    encode_band,
    encode_tiles,
    tile_chunks,
)
from openeo_geotrellis_extensions_spark.operators.cover import cover_blocks, pixel_masks
from openeo_geotrellis_extensions_spark.operators.spatial_join import cell_blocks

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
    layout, ring = case
    gj = json.dumps({"type": "Polygon", "coordinates": [ring]})
    g = from_geojson(gj)
    rect = g.bbox()
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


def _units(lo, hi, lattice):
    """A coordinate in lattice units: on the lattice, on its quarter
    lattice, or (unless ``lattice``) off it."""
    on = st.one_of(st.integers(lo, hi).map(float), st.integers(4 * lo, 4 * hi).map(lambda k: k / 4))
    return on if lattice else st.one_of(on, st.floats(lo, hi, allow_nan=False, allow_infinity=False))


@st.composite
def _polygon_units(draw, w, h, margin, lattice=False):
    """The rings, in lattice units, of a random polygon over ``[-margin, w +
    margin] x [-margin, h + margin]``:

      - a rectilinear skyline (columns of random heights on one base),
        maybe with a rectangular hole, maybe with a sliver column or a
        sliver height 1e-12 or 2^-40 units thick;
      - or a star of 3 to 8 random vertices (maybe self-intersecting);

    maybe turned by 45° (every edge diagonal) within a ``w == h`` square.
    With ``lattice``, every vertex lies on a dyadic lattice (no free
    coordinates and no slivers)."""
    coord_x, coord_y = _units(-margin, w + margin, lattice), _units(-margin, h + margin, lattice)
    if draw(st.booleans()):
        ring = [(draw(coord_x), draw(coord_y)) for _ in range(draw(st.integers(3, 8)))]
        rings = [ring]
    else:
        xs = sorted(set(draw(st.lists(coord_x, min_size=2, max_size=5))))
        assume(len(xs) >= 2)
        yb = draw(coord_y)
        hs = draw(st.lists(coord_y, min_size=len(xs) - 1, max_size=len(xs) - 1))
        eps = 0.0 if lattice else draw(st.sampled_from([0.0, 1e-12, 2.0**-40]))
        if eps and draw(st.booleans()):
            xs, hs = [xs[0] - eps] + xs, [hs[0]] + hs  # a sliver column
        elif eps:
            hs[0] = yb + eps  # a sliver height
        assume(all(y > yb for y in hs))
        ring = [(xs[0], yb), (xs[-1], yb)]
        for i in reversed(range(len(hs))):
            ring += [(xs[i + 1], hs[i]), (xs[i], hs[i])]
        rings = [ring]
        if draw(st.booleans()):
            f = st.sampled_from([0.25, 0.5, 0.75])
            if not lattice:
                f = st.one_of(f, st.floats(0.01, 0.99))
            fx, fy = (sorted(draw(st.lists(f, min_size=2, max_size=2))) for _ in "xy")
            hx = [xs[0] + t * (xs[-1] - xs[0]) for t in fx]
            hy = [yb + t * (min(hs) - yb) for t in fy]
            assume(xs[0] < hx[0] < hx[1] < xs[-1] and yb < hy[0] < hy[1] < min(hs))
            rings.append([(hx[0], hy[0]), (hx[1], hy[0]), (hx[1], hy[1]), (hx[0], hy[1])])
    if w == h and draw(st.booleans()):
        rings = [[((x - y) / 2 + h / 2, (x + y) / 2) for x, y in r] for r in rings]
    return rings


def _to_geojson(rings, x0, y0, sx, sy):
    """A GeoJSON Polygon of lattice-unit ``rings`` on the lattice with
    origin ``(x0, y0)`` and spacing ``(sx, sy)``."""
    return json.dumps({"type": "Polygon", "coordinates": [
        [[x0 + u * sx, y0 + v * sy] for u, v in r + r[:1]] for r in rings
    ]})


@st.composite
def _polygon_on_layout(draw):
    cols, rows = draw(st.integers(1, 6)), draw(st.integers(1, 6))
    ox, oy = draw(st.integers(-5, 5)), draw(st.integers(-5, 5))
    tw, th = draw(st.sampled_from([0.5, 1.0, 1.5, 3.0])), draw(st.sampled_from([0.5, 1.0, 2.0]))
    px = draw(st.sampled_from([1, 2, 5]))
    layout = LayoutDefinition(Extent(ox, oy, ox + cols * tw, oy + rows * th), cols, rows, px, px)
    rings = draw(_polygon_units(cols, rows, 2))
    return layout, _to_geojson(rings, ox, oy, tw, th)


def _meets_open_box(p, q, e):
    """Exact, in rationals: does segment ``p``-``q`` meet the open box ``e``?"""
    t0, t1 = Fraction(0), Fraction(1)
    for a, b, lo, hi in ((p[0], q[0], e.xmin, e.xmax), (p[1], q[1], e.ymin, e.ymax)):
        a, b, lo, hi = map(Fraction, (a, b, lo, hi))
        if a == b:
            if not lo < a < hi:
                return False
            continue
        ta, tb = (lo - a) / (b - a), (hi - a) / (b - a)
        t0, t1 = max(t0, min(ta, tb)), min(t1, max(ta, tb))
    return t0 < t1


@given(_polygon_on_layout())
@settings(max_examples=300, deadline=None)
def test_polygon_cover_is_exact(case):
    """Over rectilinear polygons with and without holes, 45° diagonals,
    stars and slivers, on and off the tile lattice: a contained tile's
    pixel centres all lie in the polygon, an absent tile's lie all outside
    it, and every boundary tile has an edge crossing its open interior."""
    layout, gj = case
    g = from_geojson(gj)
    keys = {
        (c, r): k
        for c0, c1, r0, r1, k in cover_blocks(g, layout)
        for c in range(c0, c1 + 1)
        for r in range(r0, r1 + 1)
    }
    edges = [(a, b) for poly in g.polygons for ring in poly for a, b in zip(ring[:-1], ring[1:])]
    mask_of = pixel_masks({0: gj}, layout)
    for c in range(layout.layout_cols):
        for r in range(layout.layout_rows):
            m = mask_of(0, c, r, False)
            if (c, r) not in keys:
                assert not m.any()
            elif keys[(c, r)]:
                assert m.all()
            else:
                e = layout.extent_for_key(c, r)
                assert any(_meets_open_box(p, q, e) for p, q in edges)


@given(st.integers(2, 4), st.data())
@settings(max_examples=100, deadline=None)
def test_join_cover_agrees_with_points_in_geometry(res, data):
    """The spatial join's cells are half-open: a point on a cell's west or
    south edge lies in it. Random points, and for polygons on the lattice
    also quarter-cell lattice points, in a contained non-border cell lie in
    the polygon, and those in an absent cell lie outside it, by
    ``points_in_geometry`` (which counts a point on the polygon's boundary
    as if nudged up and right, into the open part of its cell; its float
    ray cast is exact there only for lattice polygons)."""
    nx, ny = GlobalGrid.n_cells(res)
    size = GlobalGrid.cell_size(res)
    lattice = data.draw(st.booleans())
    rings = data.draw(_polygon_units(ny, ny, 0, lattice))
    shift = data.draw(st.integers(0, nx - ny))
    g = from_geojson(_to_geojson(rings, -180.0 + shift * size, -90.0, size, size))
    state = np.full((ny, nx), -1)  # by layout (row, col): absent, boundary, contained
    for c0, c1, r0, r1, k in cell_blocks(g, res):
        state[r0 : r1 + 1, c0 : c1 + 1] = k
    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1)))
    xs, ys = rng.uniform(-180, 180, 500), rng.uniform(-90, 90, 500)
    if lattice:
        gx, gy = np.meshgrid(np.arange(4 * nx + 1) * size / 4 - 180, np.arange(4 * ny + 1) * size / 4 - 90)
        xs, ys = np.concatenate([gx.ravel(), xs]), np.concatenate([gy.ravel(), ys])
    _, cx, cy = GlobalGrid.decode(GlobalGrid.cell_for_point(res, xs, ys))
    row = ny - 1 - cy
    k = state[row, cx]
    inner = (cx > 0) & (cx < nx - 1) & (row > 0) & (row < ny - 1)
    pip = points_in_geometry(g, xs, ys)
    assert pip[(k == 1) & inner].all()
    assert not pip[k == -1].any()
