"""resample/retile grid alignment (F7 / OpenEOProcessesSpec.scala:580-600)
and apply_kernel halo correctness at tile boundaries (SURVEY §7.3)."""

import numpy as np
import pytest

from openeo_geotrellis_extensions_spark.core.grid import Extent, LayoutDefinition
from openeo_geotrellis_extensions_spark.core.tiles import decode_tile_float
from openeo_geotrellis_extensions_spark.operators.kernel import (
    _convolve2d_same,
    apply_kernel,
)
from openeo_geotrellis_extensions_spark.operators.resample import (
    resample_spatial,
    retile,
)
from openeo_geotrellis_extensions_spark.sources.datacube import (
    arithmetic_cube,
    constant_cube,
)
from openeo_geotrellis_extensions_spark.sources.interleaved import DATES

LAYOUT = LayoutDefinition(Extent(0.0, 0.0, 2.0, 2.0), 2, 2, 8, 8)


def _world_pixels(cube, date=DATES[0]):
    """Assemble the full pixel plane for one date from a cube (oracle view)."""
    ld = cube.meta.layout
    H = ld.layout_rows * ld.tile_rows
    W = ld.layout_cols * ld.tile_cols
    out = np.full((H, W), np.nan)
    for r in cube.df.collect():
        if r.time.strftime("%Y-%m-%d") != date:
            continue
        stack = decode_tile_float(
            list(r.bands), cube.meta.cell_type, cube.meta.tile_shape
        )
        out[
            r.row * ld.tile_rows : (r.row + 1) * ld.tile_rows,
            r.col * ld.tile_cols : (r.col + 1) * ld.tile_cols,
        ] = stack[0]
    return out


def test_resample_noop_when_aligned(spark):
    cube = constant_cube(spark, LAYOUT)
    assert resample_spatial(cube, LAYOUT) is cube  # :833-835 short-circuit


def test_retile_preserves_pixels(spark):
    """Re-chunk 8x8 tiles -> 4x4 tiles: same world pixel plane, 4x the keys,
    min key (0,0) (F7: no negative keys)."""
    cube = arithmetic_cube(spark, LAYOUT, n_bands=1)
    before = _world_pixels(cube)
    out = retile(cube, 4, 4)
    assert out.meta.layout.layout_cols == 4
    keys = [(r.col, r.row) for r in out.df.select("col", "row").distinct().collect()]
    assert min(keys) == (0, 0) and len(keys) == 16
    after = _world_pixels(out)
    np.testing.assert_allclose(before, after, equal_nan=True)


def test_resample_2x_upsample(spark):
    """Half the cell size: each source pixel becomes a 2x2 block."""
    cube = arithmetic_cube(spark, LAYOUT, n_bands=1)
    target = LayoutDefinition(LAYOUT.extent, 4, 4, 8, 8)  # 2x resolution
    out = resample_spatial(cube, target)
    before = _world_pixels(cube)
    after = _world_pixels(out)
    np.testing.assert_allclose(after, np.kron(before, np.ones((2, 2))), equal_nan=True)


def test_resample_shifted_extent_no_negative_keys(spark):
    """Target extent shifted: out-of-grid keys filtered
    (filterNegativeSpatialKeys, OpenEOProcesses.scala:804-830)."""
    cube = arithmetic_cube(spark, LAYOUT, n_bands=1)
    target = LayoutDefinition(Extent(-1.0, -1.0, 3.0, 3.0), 4, 4, 8, 8)
    out = resample_spatial(cube, target)
    keys = [(r.col, r.row) for r in out.df.select("col", "row").distinct().collect()]
    assert all(0 <= c < 4 and 0 <= r < 4 for c, r in keys)


def test_convolve2d_matches_manual():
    rng = np.random.default_rng(3)
    a = rng.random((8, 8))
    k = np.array([[0.0, 1.0, 0.0], [1.0, 2.0, 1.0], [0.0, 1.0, 0.0]])
    got = _convolve2d_same(a, k)
    # manual correlation with symmetric kernel at an interior pixel
    exp = (
        2 * a[3, 3] + a[2, 3] + a[4, 3] + a[3, 2] + a[3, 4]
    )
    assert got[3, 3] == pytest.approx(exp)


def test_convolve_fft_matches_direct():
    rng = np.random.default_rng(4)
    a = rng.random((24, 24))
    k_small = rng.random((3, 3))
    k_big = np.zeros((11, 11))
    k_big[4:7, 4:7] = k_small  # big (FFT path) kernel embedding the small one
    direct = _convolve2d_same(a, k_small)
    fft = _convolve2d_same(a, k_big)
    np.testing.assert_allclose(direct[4:-4, 4:-4], fft[4:-4, 4:-4], atol=1e-9)


@pytest.mark.parametrize(
    "k",
    [
        np.full((3, 3), 1.0 / 9),
        np.array([[1.0, 2.0, 3.0, 4.0, 5.0]]),  # non-square: no vertical halo
        np.arange(16.0).reshape(4, 4) / 10,  # even: asymmetric halo use
    ],
    ids=["mean3x3", "1x5", "4x4"],
)
def test_apply_kernel_cross_tile_halo(spark, k):
    """Kernel across the whole plane == per-tile conv with halos: values at
    tile boundaries must match the global convolution."""
    cube = arithmetic_cube(
        spark, LAYOUT, dates=DATES[:1], n_bands=1,
        value_fn=lambda d, b, c, r, py, px: ((px * 3 + py * 5 + c * 13 + r * 7) % 17).astype(np.float64),
    )  # no nodata for a clean oracle
    out = apply_kernel(cube, k)
    got = _world_pixels(out)
    plane = _world_pixels(cube)
    exp = _convolve2d_same(plane, k)
    np.testing.assert_allclose(got, exp, rtol=1e-5)


def test_apply_kernel_nodata_center_preserved(spark):
    cube = arithmetic_cube(spark, LAYOUT, dates=DATES[:1], n_bands=1)
    out = apply_kernel(cube, np.full((3, 3), 1.0 / 9))
    src = _world_pixels(cube)
    res = _world_pixels(out)
    np.testing.assert_array_equal(np.isnan(src), np.isnan(res))


# ---------------------------------------------------------------------------
# CRS reprojection (TileRDDReproject.scala:40-419 parity via core/proj.py)
# ---------------------------------------------------------------------------


def test_reproject_layout_negotiation():
    from openeo_geotrellis_extensions_spark.core.proj import (
        EARTH_RADIUS,
        reproject_layout,
    )

    t = reproject_layout(LAYOUT, "EPSG:3857")
    assert t.crs == "EPSG:3857"
    assert (t.layout_cols, t.layout_rows, t.tile_cols, t.tile_rows) == (2, 2, 8, 8)
    assert t.extent.xmin == 0.0 and t.extent.ymin == 0.0
    np.testing.assert_allclose(t.extent.xmax, EARTH_RADIUS * np.radians(2.0))


def test_reproject_4326_to_3857_values_exact(spark):
    """Warp parity: every target pixel equals the source pixel its
    inverse-projected center lands in (nearest neighbor), and all keys stay
    in [0, layout) (grid-alignment invariant, OpenEOProcessesSpec.scala:581-600)."""
    from openeo_geotrellis_extensions_spark.core.proj import (
        reproject_layout,
        transform_fns,
    )

    cube = arithmetic_cube(spark, LAYOUT, n_bands=1, cell_type="float64")
    target = reproject_layout(LAYOUT, "EPSG:3857")
    out = resample_spatial(cube, target)

    keys = [(r.col, r.row) for r in out.df.select("col", "row").distinct().collect()]
    assert min(keys) >= (0, 0)
    assert max(k[0] for k in keys) < target.layout_cols
    assert max(k[1] for k in keys) < target.layout_rows

    src_plane = _world_pixels(cube)
    got = _world_pixels(out)
    inv_x, inv_y = transform_fns("EPSG:3857", "EPSG:4326")
    W = target.layout_cols * target.tile_cols
    H = target.layout_rows * target.tile_rows
    xs = target.extent.xmin + (np.arange(W) + 0.5) * target.cell_width
    ys = target.extent.ymax - (np.arange(H) + 0.5) * target.cell_height
    lon, lat = inv_x(xs), inv_y(ys)
    gx = np.floor((lon - LAYOUT.extent.xmin) / LAYOUT.cell_width).astype(int)
    gy = np.floor((LAYOUT.extent.ymax - lat) / LAYOUT.cell_height).astype(int)
    expected = src_plane[np.ix_(gy, gx)]
    np.testing.assert_allclose(got, expected, equal_nan=True)


def test_reproject_3857_to_4326_roundtrip_keys(spark):
    """Reverse direction drives the same fragment path."""
    from openeo_geotrellis_extensions_spark.core.proj import reproject_layout

    merc = reproject_layout(LAYOUT, "EPSG:3857")
    cube = arithmetic_cube(spark, merc, n_bands=1, cell_type="float64")
    out = resample_spatial(cube, reproject_layout(merc, "EPSG:4326"))
    assert out.df.count() == cube.df.count()
    assert out.meta.layout.crs == "EPSG:4326"


def test_reproject_unsupported_pair_raises(spark):
    # UTM/LAEA/polar-stereo/LCC are supported families now; a CRS the
    # engine has no math for (EPSG:2056 Swiss oblique Mercator — datum
    # CH1903+ besides) must still fail fast, driver-side
    cube = constant_cube(spark, LAYOUT)
    bad = LayoutDefinition(Extent(0.0, 0.0, 2.0, 2.0), 2, 2, 8, 8, "EPSG:2056")
    with pytest.raises(NotImplementedError):
        resample_spatial(cube, bad)


def test_resample_cube_spatial_matches_target_layout(spark):
    from openeo_geotrellis_extensions_spark.operators.resample import (
        resample_cube_spatial,
    )

    fine = LayoutDefinition(Extent(0.0, 0.0, 2.0, 2.0), 4, 4, 8, 8)
    a = arithmetic_cube(spark, LAYOUT, n_bands=1)
    b = constant_cube(spark, fine)
    out = resample_cube_spatial(a, b)
    assert out.meta.layout == fine
    np.testing.assert_allclose(
        _world_pixels(out), _world_pixels(a).repeat(2, 0).repeat(2, 1),
        equal_nan=True,
    )


def test_resample_spatial_resolution_signature(spark):
    """openEO (resolution, projection) signature: exact cell size, in-grid
    keys, same-CRS downsample == zoom-style block pick."""
    from openeo_geotrellis_extensions_spark.operators.resample import (
        resample_spatial_resolution,
    )

    cube = arithmetic_cube(spark, LAYOUT, n_bands=1, cell_type="float64")
    out = resample_spatial_resolution(cube, 0.25)  # 2x coarser than 0.125
    ld = out.meta.layout
    assert abs(ld.cell_width - 0.25) < 1e-12
    keys = [(r.col, r.row) for r in out.df.select("col", "row").distinct().collect()]
    assert min(keys) >= (0, 0)

    warped = resample_spatial_resolution(cube, 30000.0, projection="EPSG:3857")
    assert warped.meta.layout.crs == "EPSG:3857"
    assert warped.df.count() > 0


def test_reproject_polar_clamp():
    """Mercator y clamps at +-MAX_MERCATOR_LAT: world extents stay finite
    and monotone."""
    import numpy as np

    from openeo_geotrellis_extensions_spark.core.proj import (
        MAX_MERCATOR_LAT,
        transform_extent,
        transform_fns,
    )
    from openeo_geotrellis_extensions_spark.core.grid import Extent

    world = Extent(-180.0, -90.0, 180.0, 90.0)
    merc = transform_extent(world, "EPSG:4326", "EPSG:3857")
    assert np.isfinite([merc.xmin, merc.ymin, merc.xmax, merc.ymax]).all()
    fx, fy = transform_fns("EPSG:4326", "EPSG:3857")
    ys = fy(np.array([-90.0, -MAX_MERCATOR_LAT, 0.0, MAX_MERCATOR_LAT, 90.0]))
    assert ys[0] == ys[1] and ys[3] == ys[4]  # clamped at the poles
    assert (np.diff(ys) >= 0).all()


def test_resample_resolution_non_square_tiles(spark):
    """Non-square tiles: vertical grid sized by tile_rows (review finding —
    tile_cols in the row denominator silently dropped the cube's bottom)."""
    from openeo_geotrellis_extensions_spark.operators.resample import (
        resample_spatial_resolution,
    )

    tall = LayoutDefinition(Extent(0.0, 0.0, 2.0, 2.0), 1, 2, 16, 8)
    cube = arithmetic_cube(spark, tall, n_bands=1, cell_type="float64")
    out = resample_spatial_resolution(cube, 0.125)  # same cell size
    ld = out.meta.layout
    assert ld.layout_rows * ld.tile_rows * 0.125 >= 2.0  # full height covered
    before = _world_pixels(cube)
    after = _world_pixels(out)
    np.testing.assert_allclose(after[:16, :16], before, equal_nan=True)
