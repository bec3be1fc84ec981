"""run_udf chunking (Udf.scala dims contract), apply_neighborhood halo
exactness, pyramid downsampling, Spark-ML random forest hooks."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from openeo_geotrellis_extensions_spark.core.grid import Extent, LayoutDefinition
from openeo_geotrellis_extensions_spark.core.tiles import decode_tile_float
from openeo_geotrellis_extensions_spark.functions.udf import XDataCube, run_udf
from openeo_geotrellis_extensions_spark.operators.kernel import _convolve2d_same
from openeo_geotrellis_extensions_spark.operators.neighborhood import (
    apply_neighborhood,
    build_pyramid,
    zoom_out,
)
from openeo_geotrellis_extensions_spark.pipeline.ml import (
    fit_class_random_forest,
    predict_catboost,
    predict_probabilities,
    predict_random_forest,
)
from openeo_geotrellis_extensions_spark.sources.datacube import (
    arithmetic_cube,
    constant_cube,
)
from openeo_geotrellis_extensions_spark.sources.interleaved import DATES

LAYOUT = LayoutDefinition(Extent(0.0, 0.0, 2.0, 2.0), 2, 2, 8, 8)


UDF_CODE = """
def apply_datacube(cube, context):
    # cube.values: (t, bands, y, x) — reduce time by max, scale by context
    import numpy as np
    out = np.nanmax(cube.values, axis=0) * context.get("factor", 1)
    return out  # (bands, y, x)
"""


def test_run_udf_time_reduce(spark):
    cube = arithmetic_cube(spark, LAYOUT, n_bands=2, cell_type="float64")
    out = run_udf(cube, UDF_CODE, context={"factor": 2})
    rows = out.df.collect()
    assert len(rows) == 4  # one row per spatial key (time reduced)
    got = {
        (r.col, r.row): decode_tile_float(list(r.bands), out.meta.cell_type, (8, 8))
        for r in rows
    }
    px = np.arange(8)[None, :]
    py = np.arange(8)[:, None]
    for (c, r), stack in got.items():
        exp = []
        for d in range(4):
            v = ((px * 3 + py * 5 + c * 13 + r * 7 + d * 11) % 97).astype(np.float64)
            v[(px + py + c + r + d) % 13 == 0] = np.nan
            exp.append(v)
        np.testing.assert_allclose(
            stack[0], np.nanmax(np.stack(exp), axis=0) * 2, equal_nan=True
        )


def test_run_udf_identity_keeps_time(spark):
    cube = constant_cube(spark, LAYOUT, band_values=[5], cell_type="uint8ud255")
    code = "def apply_datacube(cube, context):\n    return cube.values\n"
    out = run_udf(cube, code)
    assert out.df.count() == cube.df.count()


def test_run_udf_requires_entry_point(spark):
    cube = constant_cube(spark, LAYOUT, band_values=[5])
    with pytest.raises(ValueError):
        run_udf(cube, "x = 1\n")


def test_xdatacube_band_access():
    xc = XDataCube(np.arange(16).reshape(2, 2, 2, 2).astype(float),
                   coords={"t": ["a", "b"], "bands": ["B0", "B1"]})
    np.testing.assert_array_equal(xc.band("B1"), xc.values[:, 1])


def test_apply_neighborhood_equals_global_conv(spark):
    """3x3 mean via apply_neighborhood(overlap=1) == global convolution —
    the halo-at-tile-boundary correctness gate."""
    cube = arithmetic_cube(
        spark, LAYOUT, dates=DATES[:1], n_bands=1, cell_type="float64",
        value_fn=lambda d, b, c, r, py, px: ((px * 7 + py * 11 + c * 3 + r * 5) % 23).astype(np.float64),
    )
    k = np.full((3, 3), 1.0 / 9)

    def fn(win):
        return np.stack([_convolve2d_same(np.nan_to_num(win[b]), k) for b in range(win.shape[0])])

    out = apply_neighborhood(cube, fn, overlap=1)
    ld = cube.meta.layout
    full = np.full((16, 16), np.nan)
    for r in cube.df.collect():
        full[r.row * 8:(r.row + 1) * 8, r.col * 8:(r.col + 1) * 8] = \
            decode_tile_float(list(r.bands), cube.meta.cell_type, (8, 8))[0]
    exp = _convolve2d_same(full, k)
    got = np.full((16, 16), np.nan)
    for r in out.df.collect():
        got[r.row * 8:(r.row + 1) * 8, r.col * 8:(r.col + 1) * 8] = \
            decode_tile_float(list(r.bands), out.meta.cell_type, (8, 8))[0]
    # interior (away from the GLOBAL edge, where zero-padding differs) matches
    np.testing.assert_allclose(got[1:-1, 1:-1], exp[1:-1, 1:-1], rtol=1e-5)


def test_apply_neighborhood_overlap2_missing_tile(spark):
    """overlap=2 on a 3x3 layout with the middle tile dropped: a fn that
    shifts the window by the overlap (band 0 down-right, band 1 up-left)
    must reproduce the global mosaic shifted the same way — neighbors read
    NaN where the dropped tile was, and the dropped key stays absent."""
    o = 2
    layout = LayoutDefinition(Extent(0.0, 0.0, 3.0, 3.0), 3, 3, 8, 8)
    cube = arithmetic_cube(
        spark, layout, dates=DATES[:1], n_bands=2, cell_type="float64",
        value_fn=lambda d, b, c, r, py, px: (px * 3 + py * 5 + c * 13 + r * 7 + b * 17).astype(np.float64),
    )
    cube = cube.with_df(cube.df.where(~((F.col("col") == 1) & (F.col("row") == 1))))

    def fn(win):
        res = np.full_like(win, np.nan)
        res[0, o:, o:] = win[0, :-o, :-o]
        res[1, :-o, :-o] = win[1, o:, o:]
        return res

    out = apply_neighborhood(cube, fn, overlap=o)

    def mosaic(c):
        full = np.full((2, 24, 24), np.nan)
        for r in c.df.collect():
            full[:, r.row * 8:(r.row + 1) * 8, r.col * 8:(r.col + 1) * 8] = \
                decode_tile_float(list(r.bands), c.meta.cell_type, (8, 8))
        return full

    src = mosaic(cube)
    exp = np.full_like(src, np.nan)
    exp[0, o:, o:] = src[0, :-o, :-o]
    exp[1, :-o, :-o] = src[1, o:, o:]
    exp[:, 8:16, 8:16] = np.nan  # no output tile for the dropped key
    assert (1, 1) not in {(r.col, r.row) for r in out.df.select("col", "row").collect()}
    np.testing.assert_array_equal(mosaic(out), exp)


def test_zoom_out_block_means(spark):
    cube = constant_cube(spark, LAYOUT, band_values=[40], cell_type="uint8ud255")
    up = zoom_out(cube)
    assert up.meta.layout.layout_cols == 1 and up.meta.layout.layout_rows == 1
    assert up.df.count() == len(DATES)
    row = up.df.limit(1).collect()[0]
    arr = decode_tile_float(list(row.bands), up.meta.cell_type, (8, 8))[0]
    assert (arr == 40).all()  # constant stays constant under block mean


def test_build_pyramid_levels(spark):
    cube = constant_cube(spark, LAYOUT, band_values=[8], cell_type="uint8ud255")
    pyr = build_pyramid(cube, 1)
    assert len(pyr) == 2
    assert pyr[1].meta.layout.layout_cols == 1


def test_random_forest_train_predict(spark):
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    model = fit_class_random_forest(emb, num_trees=10, max_depth=5)
    pred = predict_random_forest(emb, model)
    assert "prediction" in pred.columns
    # training-set accuracy beats the majority-class baseline
    n = pred.count()
    correct = pred.where(F.col("prediction") == F.col("label").cast("double")).count()
    majority = (
        emb.groupBy("label").count().agg(F.max("count")).collect()[0][0]
    )
    assert correct / n > majority / n
    probs = predict_probabilities(emb, model)
    first = probs.limit(1).collect()[0]
    assert abs(sum(first.probabilities) - 1.0) < 1e-6


def test_predict_catboost_oblivious_trees(spark):
    """CatBoost JSON-dump evaluation without the runtime: a hand-built
    2-tree oblivious model checked against per-row manual evaluation,
    raw and sigmoid outputs, Arrow-vectorized plan."""
    from openeo_geotrellis_extensions_spark.pipeline.ml import (
        eval_catboost,
        parse_catboost_json,
        predict_catboost,
    )

    model = {
        "oblivious_trees": [
            {
                "splits": [
                    {"float_feature_index": 0, "border": 0.5},
                    {"float_feature_index": 2, "border": -1.0},
                ],
                "leaf_values": [0.1, -0.2, 0.3, 0.7],
            },
            {
                "splits": [{"float_feature_index": 1, "border": 2.0}],
                "leaf_values": [-1.0, 1.5],
            },
        ],
        "scale_and_bias": [2.0, [0.25]],
    }
    rows = [
        (0, [0.0, 0.0, 0.0]),   # t1: f0>0.5 F, f2>-1 T -> idx 2 -> 0.3 ; t2: idx0 -> -1.0
        (1, [1.0, 3.0, -2.0]),  # t1: T, F -> idx 1 -> -0.2 ; t2: T -> 1.5
        (2, [0.6, 2.5, 5.0]),   # t1: T, T -> idx 3 -> 0.7 ; t2: T -> 1.5
    ]
    want = {0: 2.0 * (0.3 - 1.0) + 0.25,
            1: 2.0 * (-0.2 + 1.5) + 0.25,
            2: 2.0 * (0.7 + 1.5) + 0.25}
    df = spark.createDataFrame(rows, ["id", "embedding"])
    got = {r.id: r.prediction for r in predict_catboost(df, model).collect()}
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-12, (k, got[k], v)
    prob = {r.id: r.prediction
            for r in predict_catboost(df, model, output="probability").collect()}
    for k, v in want.items():
        assert abs(prob[k] - 1.0 / (1.0 + np.exp(-v))) < 1e-12
    parsed = parse_catboost_json(model)
    X = np.array([r[1] for r in rows])
    np.testing.assert_allclose(eval_catboost(parsed, X), [want[0], want[1], want[2]])
    plan = predict_catboost(df, model)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan  # vectorized, not row-at-a-time


def test_process_graph_ml_inference_dispatch(spark):
    """predict_random_forest / predict_catboost / predict_probabilities
    dispatch from a process graph per pixel
    (OpenEOProcessScriptBuilder.scala:1211-1213 parity): the RF numpy dump
    evaluated through reduce_bands matches pyspark.ml's own transform on the
    same feature vectors."""
    from openeo_geotrellis_extensions_spark.functions.process_compiler import (
        compile_process_graph,
    )
    from openeo_geotrellis_extensions_spark.pipeline.ml import (
        eval_random_forest,
        fit_class_random_forest,
        predict_random_forest,
        rf_to_arrays,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    train = emb.withColumn("label", (F.col("vec_id") % 3).cast("double"))
    model = fit_class_random_forest(train, num_trees=5, max_depth=4)
    parsed = rf_to_arrays(model)

    rows = predict_random_forest(emb, model).collect()
    X = np.stack([np.array(r.embedding, dtype=np.float64) for r in rows])
    want = {r.vec_id: r.prediction for r in rows}

    graph = {
        "p": {
            "process_id": "predict_random_forest",
            "arguments": {
                "data": {"from_parameter": "data"},
                "model": {"from_parameter": "context"},
            },
            "result": True,
        }
    }
    comp = compile_process_graph(graph, "float64")
    # band-stack shape (features, pixels): each column is one vector
    out = comp.fn({"data": X.T, "context": parsed})
    got = np.asarray(out)
    assert got.shape == (X.shape[0],)
    np.testing.assert_array_equal(got, [want[r.vec_id] for r in rows])

    probs_graph = {
        "p": {
            "process_id": "predict_probabilities",
            "arguments": {
                "data": {"from_parameter": "data"},
                "model": {"from_parameter": "context"},
            },
            "result": True,
        }
    }
    probs = np.asarray(compile_process_graph(probs_graph, "float64").fn(
        {"data": X.T, "context": parsed}
    ))
    assert probs.shape == (3, X.shape[0])
    np.testing.assert_allclose(probs.sum(axis=0), 1.0, atol=1e-12)
    _, want_probs = eval_random_forest(parsed, X)
    np.testing.assert_allclose(probs.T, want_probs)

    cb_graph = {
        "p": {
            "process_id": "predict_catboost",
            "arguments": {
                "data": {"from_parameter": "data"},
                "model": {"from_parameter": "context"},
            },
            "result": True,
        }
    }
    cb_model = {
        "oblivious_trees": [
            {"splits": [{"float_feature_index": 0, "border": 0.0}],
             "leaf_values": [-1.0, 2.0]},
        ],
        "scale_and_bias": [1.0, [0.5]],
    }
    cb = np.asarray(compile_process_graph(cb_graph, "float64").fn(
        {"data": X.T, "context": cb_model}
    ))
    want_cb = np.where(X[:, 0] > 0.0, 2.0, -1.0) + 0.5
    np.testing.assert_allclose(cb, want_cb)
