"""Datacube operators vs reference fixture expectations:
merge_cubes (MergeCubesSpec.scala:232-312 / FIXTURES F5), mask (F6),
apply/reduce (TestOpenEOProcesses patterns), aggregate_temporal dense fill
(OpenEOProcesses.scala:541-547 / F8), filters."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from openeo_geotrellis_extensions_spark.core.grid import Extent, LayoutDefinition
from openeo_geotrellis_extensions_spark.core.tiles import decode_tile_float
from openeo_geotrellis_extensions_spark.operators.apply_process import (
    apply_process,
    apply_time,
    reduce_bands,
    reduce_time,
)
from openeo_geotrellis_extensions_spark.operators.filters import (
    filter_bands,
    filter_bbox,
    filter_empty_tiles,
    filter_temporal,
)
from openeo_geotrellis_extensions_spark.operators.mask import mask, mask_polygon
from openeo_geotrellis_extensions_spark.operators.merge import merge_cubes
from openeo_geotrellis_extensions_spark.operators.temporal import (
    aggregate_temporal,
    aggregate_temporal_period,
)
from openeo_geotrellis_extensions_spark.sources.datacube import (
    arithmetic_cube,
    constant_cube,
)
from openeo_geotrellis_extensions_spark.sources.interleaved import DATES

LAYOUT = LayoutDefinition(Extent(0.0, 0.0, 2.0, 2.0), 2, 2, 8, 8)
SHAPE = (8, 8)


def tiles_of(cube, band=0):
    """{(date, col, row): float array} decode helper."""
    out = {}
    for r in cube.df.collect():
        key = (r.time.strftime("%Y-%m-%d") if "time" in r.__fields__ else None,
               r.col, r.row)
        out[key] = decode_tile_float(list(r.bands), cube.meta.cell_type, SHAPE)[band]
    return out


# -- merge_cubes (F5) -------------------------------------------------------

def test_merge_concat_band_order_and_celltype(spark):
    """MergeCubesSpec.scala:274-281: A(2,3 uint8) ++ B(5,5,5 uint16) ->
    5 bands [2,3,5,5,5], dtype = union = uint16."""
    a = constant_cube(spark, LAYOUT, dates=DATES[:2], band_values=[2, 3], cell_type="uint8")
    b = constant_cube(spark, LAYOUT, dates=DATES[:2], band_values=[5, 5, 5], cell_type="uint16")
    m = merge_cubes(a, b)
    assert m.meta.cell_type.startswith("uint16")
    assert m.meta.n_bands == 5
    row = m.df.limit(1).collect()[0]
    stack = decode_tile_float(list(row.bands), m.meta.cell_type, SHAPE)
    np.testing.assert_array_equal(stack[:, 0, 0], [2, 3, 5, 5, 5])


def test_merge_sum_resolver_doubles(spark):
    """MergeCubesSpec.scala:247-259: merge(A, A, 'sum') doubles values;
    nodata stays nodata."""
    a = constant_cube(spark, LAYOUT, dates=DATES[:1], band_values=[2, None], cell_type="uint8ud255")
    m = merge_cubes(a, a, "sum")
    row = m.df.limit(1).collect()[0]
    stack = decode_tile_float(list(row.bands), m.meta.cell_type, SHAPE)
    assert stack[0, 0, 0] == 4.0
    assert np.isnan(stack[1]).all()


def test_merge_temporal_disjoint_pads_missing(spark):
    """MergeCubesSpec.scala:285-312: disjoint dates -> union of keys, missing
    side = nodata bands."""
    a = constant_cube(spark, LAYOUT, dates=DATES[:2], band_values=[2], cell_type="uint8ud255")
    b = constant_cube(spark, LAYOUT, dates=DATES[2:], band_values=[5], cell_type="uint8ud255")
    m = merge_cubes(a, b)
    assert m.df.count() == 4 * 4  # 4 dates x 4 keys
    t = tiles_of(m, band=0)
    assert t[(DATES[0], 0, 0)][0, 0] == 2
    assert np.isnan(tiles_of(m, band=1)[(DATES[0], 0, 0)]).all()
    assert tiles_of(m, band=1)[(DATES[2], 0, 0)][0, 0] == 5
    assert np.isnan(t[(DATES[2], 0, 0)]).all()


def test_merge_recode_missing_side_is_nodata(spark):
    """Different cell types take the decode + re-encode path: a key present
    on one side only gets nodata for the other side's bands."""
    a = constant_cube(spark, LAYOUT, dates=DATES[:2], band_values=[2], cell_type="uint8ud255")
    b = constant_cube(spark, LAYOUT, dates=DATES[1:3], band_values=[5, 7], cell_type="int16")
    m = merge_cubes(a, b)
    assert m.meta.cell_type == "int16" and m.meta.n_bands == 3
    assert m.df.count() == 3 * 4  # dates 0..2 x 4 keys
    t = [tiles_of(m, band=i) for i in range(3)]
    assert (t[0][(DATES[0], 1, 0)] == 2).all()
    assert np.isnan(t[1][(DATES[0], 1, 0)]).all() and np.isnan(t[2][(DATES[0], 1, 0)]).all()
    assert np.isnan(t[0][(DATES[2], 1, 0)]).all()
    assert (t[1][(DATES[2], 1, 0)] == 5).all() and (t[2][(DATES[2], 1, 0)] == 7).all()
    assert [t[i][(DATES[1], 1, 0)][0, 0] for i in range(3)] == [2, 5, 7]


# -- apply / reduce ---------------------------------------------------------

_CONSTANT = {"c": {"process_id": "add", "arguments": {"x": 1, "y": 2}, "result": True}}


@pytest.mark.parametrize("op", [apply_process, reduce_bands, reduce_time])
def test_constant_callback_fills_tile(spark, op):
    """A callback that ignores its input and returns a constant yields a
    full tile of that constant (not a one-value band)."""
    cube = constant_cube(spark, LAYOUT, dates=DATES[:2], band_values=[4, 6], cell_type="float32")
    out = op(cube, _CONSTANT)
    rows = out.df.collect()
    assert rows
    for r in rows:
        stack = decode_tile_float(list(r.bands), out.meta.cell_type, SHAPE)
        assert stack.shape[1:] == SHAPE
        assert (stack == 3).all()

def test_apply_add_constant(spark):
    cube = constant_cube(spark, LAYOUT, band_values=[10, None])
    graph = {"a": {"process_id": "add", "arguments": {"x": {"from_parameter": "x"}, "y": 1}, "result": True}}
    out = apply_process(cube, graph)
    row = out.df.limit(1).collect()[0]
    stack = decode_tile_float(list(row.bands), out.meta.cell_type, SHAPE)
    assert stack[0, 0, 0] == 11.0
    assert np.isnan(stack[1]).all()  # nodata in -> nodata out


def test_reduce_bands_ndvi(spark):
    cube = constant_cube(spark, LAYOUT, dates=DATES[:1], band_values=[2, 6], cell_type="int16")
    graph = {
        "b0": {"process_id": "array_element", "arguments": {"data": {"from_parameter": "data"}, "index": 0}},
        "b1": {"process_id": "array_element", "arguments": {"data": {"from_parameter": "data"}, "index": 1}},
        "nd": {"process_id": "normalized_difference",
               "arguments": {"x": {"from_node": "b1"}, "y": {"from_node": "b0"}}, "result": True},
    }
    out = reduce_bands(cube, graph)
    assert out.meta.n_bands == 1
    row = out.df.limit(1).collect()[0]
    stack = decode_tile_float(list(row.bands), out.meta.cell_type, SHAPE)
    np.testing.assert_allclose(stack[0], 0.5, rtol=1e-6)


def test_reduce_time_mean_matches_numpy(spark):
    cube = arithmetic_cube(spark, LAYOUT, n_bands=1)
    out = reduce_time(cube, "mean")
    assert "time" not in out.df.columns
    rows = {(r.col, r.row): r for r in out.df.collect()}
    assert len(rows) == 4
    px = np.arange(8)[None, :]
    py = np.arange(8)[:, None]
    for (c, r), row in rows.items():
        stacks = []
        for d in range(len(DATES)):
            v = (px * 3 + py * 5 + c * 13 + r * 7 + d * 11) % 97
            v = v.astype(np.float64)
            v[(px + py + c + r + d) % 13 == 0] = np.nan
            stacks.append(v)
        exp = np.nanmean(np.stack(stacks), axis=0)
        got = decode_tile_float(list(row.bands), out.meta.cell_type, SHAPE)[0]
        np.testing.assert_allclose(got, exp, rtol=1e-6, equal_nan=True)


def test_apply_time_interpolate(spark):
    """Gap-fill: nodata pixels interpolated along t (array_interpolate_linear
    over applyTimeDimension)."""
    cube = arithmetic_cube(spark, LAYOUT, n_bands=1)
    graph = {"i": {"process_id": "array_interpolate_linear",
                   "arguments": {"data": {"from_parameter": "data"}}, "result": True}}
    out = apply_time(cube, graph)
    assert out.df.count() == cube.df.count()
    # middle-date nodata pixels that have neighbors on both sides got filled
    before = sum(np.isnan(v).sum() for v in tiles_of(cube).values())
    after = sum(np.isnan(v).sum() for v in tiles_of(out).values())
    assert after < before


# -- mask (F6) --------------------------------------------------------------

def _mask_cube(spark):
    """mask band: 1 (hide) where px < 4 else 0 (keep)."""
    def fn(d, b, c, r, py, px):
        return ((px + 0 * py) < 4).astype(np.float64)

    return arithmetic_cube(spark, LAYOUT, n_bands=1, cell_type="uint8ud255", value_fn=fn)


def test_mask_hides_pixels(spark):
    cube = constant_cube(spark, LAYOUT, band_values=[10], cell_type="uint8ud255")
    mc = _mask_cube(spark)
    out = mask(cube, mc)
    t = tiles_of(out)
    arr = t[(DATES[0], 0, 0)]
    assert np.isnan(arr[:, :4]).all()
    assert (arr[:, 4:] == 10).all()


def test_mask_replacement_value(spark):
    cube = constant_cube(spark, LAYOUT, band_values=[10], cell_type="uint8ud255")
    out = mask(cube, _mask_cube(spark), replacement=7)
    arr = tiles_of(out)[(DATES[0], 0, 0)]
    assert (arr[:, :4] == 7).all() and (arr[:, 4:] == 10).all()


def test_mask_prunes_fully_masked_keys(spark):
    """applySpatialMask analog: keys whose mask tile has no keep-pixel are
    dropped before decode (DatacubeSupport.scala:288-295)."""
    cube = constant_cube(spark, LAYOUT, band_values=[10], cell_type="uint8ud255")

    def fn(d, b, c, r, py, px):
        # tile (0,0) fully masked; others keep everything
        return np.ones(np.broadcast(px, py).shape, dtype=np.float64) if (c == 0 and r == 0) else np.zeros(np.broadcast(px, py).shape)

    mc = arithmetic_cube(spark, LAYOUT, n_bands=1, cell_type="uint8ud255", value_fn=fn)
    out = mask(cube, mc)
    keys = {(r.col, r.row) for r in out.df.select("col", "row").distinct().collect()}
    assert (0, 0) not in keys
    assert len(keys) == 3


def test_mask_polygon(spark):
    cube = constant_cube(spark, LAYOUT, band_values=[10], cell_type="uint8ud255")
    import json
    feats = spark.createDataFrame(
        [(0, json.dumps({"type": "Polygon", "coordinates":
                         [[[0.2, 0.2], [1.3, 0.2], [1.3, 1.3], [0.2, 1.3], [0.2, 0.2]]]}))],
        ["feature_index", "geojson"],
    )
    out = mask_polygon(cube, feats)
    t = tiles_of(out)
    # tile (0,1) covers x in [0,1), y in [0,1): pixels inside polygon keep 10
    arr = t[(DATES[0], 0, 1)]
    xs, ys = LAYOUT.pixel_centers_for_key(0, 1)
    inside = ((xs[None, :] > 0.2) & (xs[None, :] < 1.3)) & ((ys[:, None] > 0.2) & (ys[:, None] < 1.3))
    assert (arr[inside] == 10).all()
    assert np.isnan(arr[~inside]).all()


# -- aggregate_temporal (F8) ------------------------------------------------

def test_aggregate_temporal_dense_fill_and_half_open(spark):
    cube = constant_cube(spark, LAYOUT, band_values=[10], cell_type="uint8ud255")
    intervals = [
        ("2017-01-01", "2017-02-01"),  # contains 2017-01-01 (incl) + 01-15; excl 02-01
        ("2017-02-01", "2017-03-01"),  # contains 02-01
        ("2019-01-01", "2019-02-01"),  # empty -> dense nodata tiles
    ]
    labels = ["2017-01-01", "2017-02-01", "2019-01-01"]
    out = aggregate_temporal(cube, intervals, labels, reducer="mean")
    assert out.df.count() == 3 * 4  # 3 labels x 4 keys (dense)
    t = tiles_of(out)
    assert t[("2017-01-01", 0, 0)][0, 0] == 10.0
    assert t[("2017-02-01", 0, 0)][0, 0] == 10.0
    assert np.isnan(t[("2019-01-01", 0, 0)]).all()


def test_aggregate_temporal_rejects_non_timestamp_labels(spark):
    """A label or interval bound that is not an ISO timestamp fails at the
    call, not later inside a Spark job."""
    cube = constant_cube(spark, LAYOUT, band_values=[10], cell_type="uint8ud255")
    with pytest.raises(ValueError, match="'x'"):
        aggregate_temporal(cube, [("2017-01-01", "2017-02-01")], labels=["x"])
    with pytest.raises(ValueError, match="'later'"):
        aggregate_temporal(cube, [("2017-01-01", "later")], labels=["2017-01-01"])


def test_aggregate_temporal_period_month(spark):
    cube = arithmetic_cube(spark, LAYOUT, n_bands=1)
    out = aggregate_temporal_period(cube, "month", reducer="max")
    # dates 2017-01-01, 2017-01-15 -> one 2017-01 label; 2017-02; 2018-01
    months = {r.time.strftime("%Y-%m") for r in out.df.select("time").distinct().collect()}
    assert months == {"2017-01", "2017-02", "2018-01"}
    got = tiles_of(out)[("2017-01-01", 0, 0)]
    px = np.arange(8)[None, :]
    py = np.arange(8)[:, None]
    stacks = []
    for d in (0, 1):
        v = ((px * 3 + py * 5 + d * 11) % 97).astype(np.float64)
        v[(px + py + d) % 13 == 0] = np.nan
        stacks.append(v)
    exp = np.nanmax(np.stack(stacks), axis=0)
    np.testing.assert_allclose(got, exp, equal_nan=True)


# -- filters ----------------------------------------------------------------

def test_filters(spark):
    cube = constant_cube(spark, LAYOUT, band_values=[10, 20], cell_type="uint8ud255")
    assert filter_temporal(cube, "2017-01-01", "2017-02-01").df.count() == 2 * 4
    fb = filter_bbox(cube, Extent(0.1, 1.1, 0.9, 1.9))
    keys = {(r.col, r.row) for r in fb.df.select("col", "row").distinct().collect()}
    assert keys == {(0, 0)}
    sel = filter_bands(cube, [1])
    assert sel.meta.band_names == ("band1",)
    row = sel.df.limit(1).collect()[0]
    assert decode_tile_float(list(row.bands), "uint8ud255", SHAPE)[0][0, 0] == 20


def test_filter_empty_tiles(spark):
    cube = constant_cube(spark, LAYOUT, band_values=[None, None], cell_type="uint8ud255")
    assert filter_empty_tiles(cube).df.count() == 0
    cube2 = constant_cube(spark, LAYOUT, band_values=[1, None], cell_type="uint8ud255")
    assert filter_empty_tiles(cube2).df.count() == cube2.df.count()


def test_mask_absent_tile_keeps_data_even_with_pruning(spark):
    """Review regression: a cube key with NO mask tile must survive
    prune_keys=True unchanged (left-join semantics + anti-join pruning)."""
    cube = constant_cube(spark, LAYOUT, band_values=[10], cell_type="uint8ud255")
    # mask cube covering ONLY tile (0,0), fully masked there
    import pandas as _pd
    from datetime import datetime as _dt
    from openeo_geotrellis_extensions_spark.core.tiles import encode_band as _enc
    from openeo_geotrellis_extensions_spark.core.celltype import parse_cell_type as _pct
    from openeo_geotrellis_extensions_spark.sources.datacube import DataCube as _DC, cube_schema as _cs

    ones = _enc(np.ones((8, 8)), _pct("uint8ud255"))
    rows = [(_dt.fromisoformat(d), 0, 0, [ones]) for d in DATES]
    mdf = spark.createDataFrame(rows, schema=_cs(True))
    mc = _DC(mdf, cube.meta).with_meta(band_names=("mask",))
    out = mask(cube, mc, prune_keys=True)
    keys = {(r.col, r.row) for r in out.df.select("col", "row").distinct().collect()}
    assert (0, 0) not in keys          # fully-masked key pruned
    assert len(keys) == 3              # unmasked keys kept, data unchanged
    arr = tiles_of(out)[(DATES[0], 1, 1)]
    assert (arr == 10).all()


def test_chunk_polygon_sees_full_time_stack(spark):
    """Review regression: the chunk callback receives (T, bands, h, w) with
    T = all dates, and output keeps every timestep."""
    from openeo_geotrellis_extensions_spark.operators.cloud import chunk_polygon
    import json as _json

    cube = constant_cube(spark, LAYOUT, band_values=[10], cell_type="uint8ud255")
    feats = spark.createDataFrame(
        [(0, _json.dumps({"type": "Polygon", "coordinates":
                          [[[0.2, 0.2], [1.3, 0.2], [1.3, 1.3], [0.2, 1.3], [0.2, 0.2]]]}))],
        ["feature_index", "geojson"],
    )
    seen_T = []

    def fn(stack, fi):
        seen_T.append(stack.shape[0])
        return stack * 3

    out = chunk_polygon(cube, feats, fn)
    per_key_dates = (
        out.df.groupBy("col", "row").count().select("count").distinct().collect()
    )
    assert [r["count"] for r in per_key_dates] == [len(DATES)]
    vals = tiles_of(out)[(DATES[1], 0, 1)]
    v = vals[~np.isnan(vals)]
    assert (v == 30).all()
