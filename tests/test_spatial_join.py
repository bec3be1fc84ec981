"""Spatial join (cell-cover + PIP refine) vs a brute-force single-node
oracle — the row-for-row join-output gate (BASELINE north_rule)."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from openeo_geotrellis_extensions_spark.core.geom import (
    parse_geometry,
    points_in_geometry,
)
from openeo_geotrellis_extensions_spark.operators.spatial_join import (
    cell_for_point_col,
    cover_cells_for_features,
    spatial_join_points,
)
from openeo_geotrellis_extensions_spark.core.grid import GlobalGrid
from openeo_geotrellis_extensions_spark.sources.interleaved import (
    extract_geometries,
    synth_docs,
)

FEATURES = [
    # (feature_index, geojson) — chosen to overlap the hot cell + world spread
    (0, json.dumps({"type": "Polygon", "coordinates": [[[3.8, 50.5], [4.8, 50.5], [4.8, 51.5], [3.8, 51.5], [3.8, 50.5]]]})),
    (1, json.dumps({"type": "Polygon", "coordinates": [[[-50.0, -30.0], [30.0, -30.0], [30.0, 40.0], [-50.0, 40.0], [-50.0, -30.0]]]})),
    # overlaps feature 0 partially — a point in both yields 2 rows
    (2, json.dumps({"type": "Polygon", "coordinates": [[[4.0, 50.0], [60.0, 50.0], [60.0, 80.0], [4.0, 80.0], [4.0, 50.0]]]})),
    # degenerate-small polygon far away
    (3, json.dumps({"type": "Polygon", "coordinates": [[[170.0, -80.0], [171.0, -80.0], [171.0, -79.0], [170.0, -79.0], [170.0, -80.0]]]})),
]


@pytest.fixture(scope="module")
def features_df(spark):
    return spark.createDataFrame(FEATURES, ["feature_index", "geojson"])


@pytest.fixture(scope="module")
def points(spark):
    docs = synth_docs(spark, 300)
    return (
        extract_geometries(docs)
        .where("geom_kind = 'Point'")
        .select("doc_id", "span_idx", "rep_x", "rep_y")
        .cache()
    )


def test_cell_for_point_col_matches_numpy(spark):
    df = spark.range(100).selectExpr(
        "CAST(id AS DOUBLE) * 3.1 - 160 AS x", "CAST(id AS DOUBLE) * 1.7 - 85 AS y"
    )
    got = df.select("x", "y", cell_for_point_col(7, F.col("x"), F.col("y"))).collect()
    for r in got:
        assert r.cell == int(GlobalGrid.cell_for_point(7, np.array([r.x]), np.array([r.y]))[0])


def test_cover_cells_contain_all_feature_area(spark, features_df):
    cover = cover_cells_for_features(features_df, res=6).collect()
    by_f = {}
    for r in cover:
        by_f.setdefault(r.feature_index, []).append(r)
    # every feature produces cells; contained flags only on truly interior cells
    for fi, gj in FEATURES:
        assert fi in by_f, f"feature {fi} has no cover"
        g = parse_geometry(gj)
        for r in by_f[fi]:
            e = GlobalGrid.cell_extent(r.cell)
            if r.contained:
                corners = points_in_geometry(
                    g,
                    np.array([e.xmin, e.xmax, e.xmax, e.xmin]),
                    np.array([e.ymin, e.ymin, e.ymax, e.ymax]),
                )
                assert corners.all()


def _rect(x0, y0, x1, y1):
    return json.dumps({"type": "Polygon", "coordinates": [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]]})


def test_cell_aligned_rectangle_cells_are_contained(spark):
    """Cells wholly inside a rectangle are contained, also where their edges
    lie on its edges: 64 x 64 cells at res 9, none left to the PIP refine."""
    size = GlobalGrid.cell_size(9)
    feats = spark.createDataFrame([(0, _rect(0.0, 0.0, 64 * size, 64 * size))], ["feature_index", "geojson"])
    cover = cover_cells_for_features(feats, res=9)
    assert cover.count() == 4096
    assert cover.where(~F.col("contained")).count() == 0


def test_border_cells_refine_clamped_points(spark):
    """cell_for_point clamps points outside the world into the border cells,
    so a border cell is never contained: its points still get the PIP test."""
    feats = spark.createDataFrame(
        [(0, _rect(170.0, -10.0, 190.0, 10.0)), (1, _rect(-180.0, -90.0, 180.0, 90.0))],
        ["feature_index", "geojson"],
    )
    xy = [(195.0, 0.0), (180.0, 0.0), (0.0, 90.0), (179.5, 0.5), (175.0, -5.0), (0.0, 0.0), (-180.0, -90.0)]
    points = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)], ["pid", "rep_x", "rep_y"]
    )
    got = {(r.pid, r.feature_index) for r in spatial_join_points(points, feats, res=7).collect()}
    exp = {
        (i, fi)
        for fi, gj in feats.collect()
        for i, (x, y) in enumerate(xy)
        if points_in_geometry(parse_geometry(gj), np.array([x]), np.array([y]))[0]
    }
    assert (0, 0) not in exp and got == exp


@pytest.mark.parametrize("res", [4, 7])
def test_join_matches_bruteforce_oracle(spark, features_df, points, res):
    got = (
        spatial_join_points(points, features_df, res=res)
        .select("doc_id", "span_idx", "feature_index")
        .collect()
    )
    got_set = {(r.doc_id, r.span_idx, r.feature_index) for r in got}
    assert len(got) == len(got_set), "duplicate join rows"

    pts = points.collect()
    geoms = {fi: parse_geometry(gj) for fi, gj in FEATURES}
    exp = set()
    for p in pts:
        for fi, g in geoms.items():
            if points_in_geometry(g, np.array([p.rep_x]), np.array([p.rep_y]))[0]:
                exp.add((p.doc_id, p.span_idx, fi))
    assert got_set == exp


def test_multi_feature_point_yields_k_rows(spark, features_df, points):
    """A point inside overlapping features appears once per feature
    (reference multi-zone emit, AggregatePolygonProcess.scala:287-306)."""
    got = spatial_join_points(points, features_df, res=6)
    multi = (
        got.groupBy("doc_id", "span_idx")
        .agg(F.countDistinct("feature_index").alias("k"))
        .where("k >= 2")
        .count()
    )
    # hot-cell points (4.0-4.7 E, 50.7-51.4 N) are inside features 0 AND 2
    assert multi > 0


def test_spatial_join_non_broadcast_path_matches(spark):
    """broadcast_features=False (the 10M-feature path where the dim no
    longer fits a broadcast): identical results via shuffle join."""
    import __spark_entry__ as m
    from openeo_geotrellis_extensions_spark.operators.spatial_join import (
        spatial_join_points,
    )
    from openeo_geotrellis_extensions_spark.sources.interleaved import (
        extract_geometries,
        synth_docs,
    )
    from pyspark.sql import functions as F

    docs = synth_docs(spark, 500)
    geo = extract_geometries(docs).select(
        "doc_id",
        "span_idx",
        ((F.col("xmin") + F.col("xmax")) / 2).alias("rep_x"),
        ((F.col("ymin") + F.col("ymax")) / 2).alias("rep_y"),
    )
    feats = m._features_df(spark, m.RECT_FEATURES)
    a = spatial_join_points(geo, feats, res=7)
    b = spatial_join_points(geo, feats, res=7, broadcast_features=False)
    rows_a = sorted((r.doc_id, r.span_idx, r.feature_index) for r in a.collect())
    rows_b = sorted((r.doc_id, r.span_idx, r.feature_index) for r in b.collect())
    assert rows_a == rows_b and rows_a
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan or "SortMergeJoin" in plan


def test_clip_ring_area_general_polygons():
    """Sutherland-Hodgman clipped areas: rect∩rect closed form, a concave
    L-shape, a polygon with a hole, containment both ways, disjoint."""
    import numpy as np

    from openeo_geotrellis_extensions_spark.core.geom import (
        Geometry,
        clipped_area,
        rect_geometry,
    )
    from openeo_geotrellis_extensions_spark.core.grid import Extent

    # rect ∩ rect
    r = rect_geometry(Extent(0.0, 0.0, 4.0, 4.0))
    assert abs(clipped_area(r, Extent(2.0, 1.0, 6.0, 3.0)) - 4.0) < 1e-12
    # clip window contains the geometry
    assert abs(clipped_area(r, Extent(-1.0, -1.0, 9.0, 9.0)) - 16.0) < 1e-12
    # disjoint
    assert clipped_area(r, Extent(10.0, 10.0, 12.0, 12.0)) == 0.0
    # concave L-shape: [0,4]x[0,4] minus [2,4]x[2,4] quadrant (area 12)
    L = Geometry("Polygon", polygons=[[np.array(
        [[0, 0], [4, 0], [4, 2], [2, 2], [2, 4], [0, 4]], dtype=float)]])
    assert abs(clipped_area(L, Extent(0.0, 0.0, 4.0, 4.0)) - 12.0) < 1e-12
    # clipping the concave notch region: only [1,2]x[1,2] of it is filled
    assert abs(clipped_area(L, Extent(1.0, 1.0, 3.0, 3.0)) - 3.0) < 1e-12
    # hole: outer [0,4]^2 with hole [1,3]^2 -> area 12; clip right half
    H = Geometry("Polygon", polygons=[[
        np.array([[0, 0], [4, 0], [4, 4], [0, 4]], dtype=float),
        np.array([[1, 1], [3, 1], [3, 3], [1, 3]], dtype=float),
    ]])
    assert abs(clipped_area(H, Extent(0.0, 0.0, 4.0, 4.0)) - 12.0) < 1e-12
    assert abs(clipped_area(H, Extent(2.0, 0.0, 4.0, 4.0)) - 6.0) < 1e-12

    # convex (non-rect) clip windows: analytic anchors
    from openeo_geotrellis_extensions_spark.core.geom import (
        clipped_area_convex,
        is_convex_ring,
    )

    tri = np.array([[0.0, 0.0], [4.0, 0.0], [0.0, 4.0]])
    # triangle window fully containing a 1x1 square -> square area
    sq = rect_geometry(Extent(0.5, 0.5, 1.5, 1.5))
    assert abs(clipped_area_convex(sq, tri) - 1.0) < 1e-12
    # square [0,4]^2 clipped by the triangle -> the triangle's area 8
    assert abs(clipped_area_convex(r, tri) - 8.0) < 1e-12
    # CW-wound clip ring gives the same result (orientation normalized)
    assert abs(clipped_area_convex(r, tri[::-1]) - 8.0) < 1e-12
    # concave L-shape subject against the triangle window: area of
    # L ∩ tri = tri_area - area(tri ∩ notch [2,4]x[2,4]) = 8 - 0 ... the
    # notch only touches the hypotenuse; analytic: tri ∩ [2,4]x[2,4] = 0
    assert abs(clipped_area_convex(L, tri) - 8.0) < 1e-9
    assert is_convex_ring(tri) and not is_convex_ring(
        np.array([[0, 0], [4, 0], [4, 2], [2, 2], [2, 4], [0, 4]], dtype=float)
    )


def test_polygon_overlap_join_matches_bruteforce(spark):
    """Distributed overlap join == per-pair clipped_area brute force on the
    doc-geometry fixture; non-rect clip features raise."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    import __spark_entry__ as m
    from openeo_geotrellis_extensions_spark.core.geom import (
        clipped_area,
        parse_geometry,
    )
    from openeo_geotrellis_extensions_spark.core.grid import Extent
    from openeo_geotrellis_extensions_spark.operators.spatial_join import (
        polygon_overlap_join,
    )
    from openeo_geotrellis_extensions_spark.sources.interleaved import (
        extract_geometries,
        synth_docs,
    )

    docs = synth_docs(spark, 120)
    geoms = extract_geometries(docs).select(
        "doc_id", "span_idx", F.col("geojson").alias("text"),
        "xmin", "ymin", "xmax", "ymax",
    )
    feats = m._features_df(spark, m.RECT_FEATURES)
    got = {
        (r.doc_id, r.span_idx, r.feature_index): r.overlap_area
        for r in polygon_overlap_join(
            geoms, feats, pair_cols=["doc_id", "span_idx"]
        ).collect()
    }
    rects = {fi: Extent(x0, y0, x1, y1) for fi, x0, y0, x1, y1 in m.RECT_FEATURES}
    want = {}
    for g in geoms.collect():
        geom = parse_geometry(g.text)
        for fi, e in rects.items():
            a = clipped_area(geom, e)
            if a > 0:
                want[(g.doc_id, g.span_idx, fi)] = a
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-12, k

    # CONVEX non-rect windows work: a triangle over the hot-doc region,
    # checked against per-pair brute force through the same convex kernel
    from openeo_geotrellis_extensions_spark.core.geom import (
        clipped_area_convex,
    )

    tri_ring = [[4.0, 50.6], [4.8, 50.6], [4.4, 51.5]]
    tri = spark.createDataFrame(
        [(0, '{"type": "Polygon", "coordinates": [['
             '[4.0, 50.6], [4.8, 50.6], [4.4, 51.5], [4.0, 50.6]]]}')],
        ["feature_index", "geojson"],
    )
    tgot = {
        (r.doc_id, r.span_idx): r.overlap_area
        for r in polygon_overlap_join(
            geoms, tri, pair_cols=["doc_id", "span_idx"]
        ).collect()
    }
    import numpy as np

    twant = {}
    for g in geoms.collect():
        a = clipped_area_convex(parse_geometry(g.text), np.array(tri_ring))
        if a > 0:
            twant[(g.doc_id, g.span_idx)] = a
    assert set(tgot) == set(twant) and twant
    for k, v in twant.items():
        assert abs(tgot[k] - v) < 1e-12

    # L-shape (non-convex) placed over the hot-doc region so candidate
    # pairs exist and the refine stage actually runs the convexity check
    bad = spark.createDataFrame(
        [(0, '{"type": "Polygon", "coordinates": '
             '[[[4.0, 50.6], [4.8, 50.6], [4.8, 51.0], [4.4, 51.0], '
             '[4.4, 51.5], [4.0, 51.5], [4.0, 50.6]]]}')],
        ["feature_index", "geojson"],
    )
    with _pytest.raises(Exception, match="CONVEX single-ring"):
        polygon_overlap_join(
            geoms, bad, pair_cols=["doc_id", "span_idx"]
        ).collect()
