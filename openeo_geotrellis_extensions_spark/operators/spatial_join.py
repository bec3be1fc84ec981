"""Spatial join on hierarchical cell keys — the engine's replacement for the
reference's clipToGrid / VectorJoin / SpatialToSpacetimeJoinRdd machinery
(FileLayerProvider.scala:386,921-922,1060-1093; SpatialToSpacetimeJoinRdd.scala:15-76).

Pattern (BASELINE north_star):
  1. features -> cells at a fixed join resolution: the feature cover's
     quadtree blocks (``operators/cover.py``, one ``mapInPandas``),
     expanded in the JVM; each cell carries a ``contained`` flag so
     fully-interior cells skip the point-in-polygon refine;
  2. points -> cell id at the same resolution (vectorized arithmetic);
  3. equi-join on ``cell`` — Catalyst picks broadcast-hash when the cover
     side is small, AQE splits skewed hot cells otherwise;
  4. refine: Arrow-batched vectorized point-in-polygon, with a per-batch
     geometry parse cache (one parse per feature per batch, not per row).

No custom partitioner, no RDDs: the cell id is an ordinary int64 column, so
partition pruning / AQE / broadcast all apply natively (SURVEY §4).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..core.geom import (
    Geometry,
    clipped_area,
    fills_bbox,
    parse_geometry,
    points_in_geometry,
)
from ..core.grid import GlobalGrid
from .cover import cover_blocks, feature_block_keys, feature_geometries


def cell_for_point_col(res: int, x: Column, y: Column) -> Column:
    """Cell id as a pure Column expression (whole-stage codegen, no UDF):
    mirrors GlobalGrid.cell_for_point."""
    size = GlobalGrid.cell_size(res)
    nx, ny = GlobalGrid.n_cells(res)
    cx = F.greatest(
        F.lit(0),
        F.least(F.lit(nx - 1), F.floor((x - GlobalGrid.extent.xmin) / F.lit(size))),
    ).cast("long")
    cy = F.greatest(
        F.lit(0),
        F.least(F.lit(ny - 1), F.floor((y - GlobalGrid.extent.ymin) / F.lit(size))),
    ).cast("long")
    return (
        F.shiftleft(F.lit(res).cast("long"), 56)
        .bitwiseOR(F.shiftleft(cx, 28))
        .bitwiseOR(cy)
        .alias("cell")
    )


_MORTON_MASKS = (
    0x5555555555555555,
    0x3333333333333333,
    0x0F0F0F0F0F0F0F0F,
    0x00FF00FF00FF00FF,
    0x0000FFFF0000FFFF,
)


def _part1by1_col(v: Column) -> Column:
    """Spread the low 32 bits of ``v`` into even bit positions — the Column
    mirror of core.grid._part1by1 (pure shifts/masks, whole-stage codegen)."""
    m = _MORTON_MASKS
    v = v.bitwiseAND(F.lit(0xFFFFFFFF))
    v = (v.bitwiseOR(F.shiftleft(v, 16))).bitwiseAND(F.lit(m[4]))
    v = (v.bitwiseOR(F.shiftleft(v, 8))).bitwiseAND(F.lit(m[3]))
    v = (v.bitwiseOR(F.shiftleft(v, 4))).bitwiseAND(F.lit(m[2]))
    v = (v.bitwiseOR(F.shiftleft(v, 2))).bitwiseAND(F.lit(m[1]))
    v = (v.bitwiseOR(F.shiftleft(v, 1))).bitwiseAND(F.lit(m[0]))
    return v


def zindex_col(col: Column, row: Column) -> Column:
    """Morton (Z-curve) interleave of (col, row) as a pure Column expression
    — the clustering key for sortWithinPartitions before a partitioned
    write: rows land in Z-order inside each file, so parquet row-group
    min/max stats on col/row stay tight and downstream range scans prune
    (the reference's Z-curve PartitionerIndex re-expressed as a sort key,
    geotrellis-common package.scala:38-49; numpy mirror core/grid.py:zindex)."""
    c = col.cast("long")
    r = row.cast("long")
    return _part1by1_col(c).bitwiseOR(
        F.shiftleft(_part1by1_col(r), 1)
    ).cast("long")


#: Morton-3 spreading masks (core.grid._B3 mirror)
_MORTON3_MASKS = (
    0x1249249249249249,
    0x10C30C30C30C30C3,
    0x100F00F00F00F00F,
    0x1F0000FF0000FF,
    0x1F00000000FFFF,
)


def _part1by2_col(v: Column) -> Column:
    """Spread the low 21 bits of ``v`` into every 3rd bit — the Column
    mirror of core.grid._part1by2 (pure shifts/masks, codegen-friendly)."""
    m = _MORTON3_MASKS
    v = v.bitwiseAND(F.lit(0x1FFFFF))
    v = (v.bitwiseOR(F.shiftleft(v, 32))).bitwiseAND(F.lit(m[4]))
    v = (v.bitwiseOR(F.shiftleft(v, 16))).bitwiseAND(F.lit(m[3]))
    v = (v.bitwiseOR(F.shiftleft(v, 8))).bitwiseAND(F.lit(m[2]))
    v = (v.bitwiseOR(F.shiftleft(v, 4))).bitwiseAND(F.lit(m[1]))
    v = (v.bitwiseOR(F.shiftleft(v, 2))).bitwiseAND(F.lit(m[0]))
    return v


def zindex3_col(col: Column, row: Column, time_index: Column) -> Column:
    """Morton-3 (x, y, day-index) interleave as a pure Column expression —
    the reference's space-time Z-curve (SfCurveZSpaceTimeKeyIndex.byDay)
    as a clustering key: sortWithinPartitions on it before a partitioned
    write keeps parquet min/max stats tight in x, y AND time
    (numpy mirror: core/grid.py:zindex3, bit-for-bit)."""
    c = col.cast("long")
    r = row.cast("long")
    t = time_index.cast("long")
    return (
        _part1by2_col(c)
        .bitwiseOR(F.shiftleft(_part1by2_col(r), 1))
        .bitwiseOR(F.shiftleft(_part1by2_col(t), 2))
        .cast("long")
    )


def cell_blocks(g: Geometry, res: int) -> list[tuple[int, int, int, int, int]]:
    """``(c0, c1, r0, r1, contained)`` blocks of the ``GlobalGrid.layout(res)``
    keys that cover ``g``: :func:`operators.cover.cover_blocks` for
    polygons. A point takes its cell from ``GlobalGrid.cell_for_point``, the
    rule of the points side of the join (clamped into the border cells; a
    point on a horizontal cell edge lies in the cell north of it)."""
    if g.kind in ("Point", "MultiPoint"):
        cells = GlobalGrid.cell_for_point(res, g.points[:, 0], g.points[:, 1])
        _, xs, ys = GlobalGrid.decode(cells)
        rows = GlobalGrid.n_cells(res)[1] - 1 - ys
        return [(c, c, r, r, 0) for c, r in dict.fromkeys(zip(xs.tolist(), rows.tolist()))]
    return cover_blocks(g, GlobalGrid.layout(res))


def cover_cells_for_features(features: DataFrame, res: int) -> DataFrame:
    """(feature_index, geojson) -> (feature_index, cell, contained) at
    resolution ``res``: the :func:`cell_blocks` of each feature, expanded in
    the JVM. ``contained`` cells are fully inside the feature (refine can be
    skipped — the H3 polyfill 'full cells' optimization). A border cell is
    never contained: ``cell_for_point`` clamps points outside the world
    into it, so its extent does not bound its points."""
    nx, ny = GlobalGrid.n_cells(res)
    col, row = F.col("col").cast("long"), F.col("row").cast("long")
    inner = (col > 0) & (col < nx - 1) & (row > 0) & (row < ny - 1)
    return feature_block_keys(features, lambda g: cell_blocks(g, res)).select(
        "feature_index",
        F.shiftleft(F.lit(res).cast("long"), 56)
        .bitwiseOR(F.shiftleft(col, 28))
        .bitwiseOR(F.lit(ny - 1) - row)
        .alias("cell"),
        ((F.col("contained") == 1) & inner).alias("contained"),
    )


def spatial_join_points(
    points: DataFrame,
    features: DataFrame,
    res: int = 7,
    x_col: str = "rep_x",
    y_col: str = "rep_y",
    broadcast_features: bool = True,
) -> DataFrame:
    """Join a point table (any schema + x/y columns) with a feature table
    (feature_index, geojson): returns point rows + ``feature_index`` for each
    containing feature (inner; a point in k features yields k rows, matching
    the reference's per-covering-polygon emit, AggregatePolygonProcess.scala:287-306).
    """
    cover = cover_cells_for_features(features, res)
    if broadcast_features:
        cover = F.broadcast(cover)
        # features are small by contract on this path (they already fit a
        # broadcast): the geometry text is closed over, not joined onto
        # every candidate row
        feat_map = feature_geometries(features)
    else:
        feat_map = None
        feat = features
    pts = points.withColumn("cell", cell_for_point_col(res, F.col(x_col), F.col(y_col)))
    # single pipeline: candidates keep the contained flag; PIP runs only on
    # boundary-cell rows (interior 'contained' rows short-circuit in the UDF,
    # avoiding a union of two branches that would re-execute the upstream DAG)
    cand = pts.join(cover, "cell", "inner").drop("cell")
    if feat_map is None:
        cand = cand.join(feat, "feature_index", "inner")

    out_schema = StructType(
        [f for f in cand.schema.fields if f.name not in ("geojson", "contained")]
    )
    names = [f.name for f in out_schema.fields]

    def refine(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[int, object] = {}
        for pdf in it:
            if len(pdf) == 0:
                continue
            keep = pdf["contained"].to_numpy(dtype=bool).copy()
            todo = ~keep
            xs = pdf[x_col].to_numpy(dtype=np.float64)
            ys = pdf[y_col].to_numpy(dtype=np.float64)
            fis = pdf["feature_index"].to_numpy()
            for fi in np.unique(fis[todo]):
                g = cache.get(int(fi))
                if g is None:
                    if feat_map is not None:
                        gj = feat_map[int(fi)]
                    else:
                        gj = pdf.loc[pdf["feature_index"] == fi, "geojson"].iloc[0]
                    g = parse_geometry(gj)
                    cache[int(fi)] = g
                m = todo & (fis == fi)
                keep[m] = points_in_geometry(g, xs[m], ys[m])
            yield pdf.loc[keep, names]

    return cand.mapInPandas(refine, schema=out_schema)


def bbox_cells_col(
    res: int, xmin: Column, ymin: Column, xmax: Column, ymax: Column
) -> Column:
    """Array of cell ids covering an axis-aligned bbox at ``res`` — a pure
    Column expression (two clamped sequences crossed with transform +
    flatten; whole-stage codegen, no UDF)."""
    size = GlobalGrid.cell_size(res)
    nx, ny = GlobalGrid.n_cells(res)

    def axis(v: Column, origin: float, n: int) -> Column:
        return F.greatest(
            F.lit(0),
            F.least(F.lit(n - 1), F.floor((v - origin) / F.lit(size))),
        ).cast("long")

    x0 = axis(xmin, GlobalGrid.extent.xmin, nx)
    x1 = axis(xmax, GlobalGrid.extent.xmin, nx)
    y0 = axis(ymin, GlobalGrid.extent.ymin, ny)
    y1 = axis(ymax, GlobalGrid.extent.ymin, ny)
    base = F.shiftleft(F.lit(res).cast("long"), 56)
    return F.flatten(
        F.transform(
            F.sequence(x0, x1),
            lambda cx: F.transform(
                F.sequence(y0, y1),
                lambda cy: base.bitwiseOR(F.shiftleft(cx, 28)).bitwiseOR(cy),
            ),
        )
    )


def polygon_overlap_join(
    geoms: DataFrame,
    features: DataFrame,
    pair_cols: list[str],
    res: int = 7,
    geom_col: str = "text",
    bbox_cols: tuple = ("xmin", "ymin", "xmax", "ymax"),
    broadcast_features: bool = True,
) -> DataFrame:
    """Polygon x polygon OVERLAP join with exact intersection areas — the
    area-weighted splitting the plain containment join cannot express
    (openEO's fractional-pixel zonal weighting): every geometry row pairs
    with every feature it overlaps, annotated with ``overlap_area``.

    Scale shape mirrors spatial_join_points: candidates come from an
    EQUI-join of the geometry's bbox cover cells (bbox_cells_col, pure
    Columns) against the features' cell cover, deduped per
    (pair_cols, feature_index) — never a geometry theta join. The exact
    area then runs per candidate pair in Arrow batches: the geometry
    (arbitrary rings, holes, multipolygons) is Sutherland-Hodgman-clipped
    against the feature. Features must be CONVEX single-ring polygons (the
    clip window; verified per feature, non-convex features raise);
    axis-aligned rectangles take the cheaper 4-half-plane path."""
    cover = cover_cells_for_features(features, res).select(
        "feature_index", "cell"
    )
    feat = features
    if broadcast_features:
        cover = F.broadcast(cover)
        feat = F.broadcast(features)
    xm, ym, xx, yx = (F.col(c) for c in bbox_cols)
    cand = (
        geoms.withColumn("cell", F.explode(bbox_cells_col(res, xm, ym, xx, yx)))
        .join(cover, "cell")
        .drop("cell")
        .dropDuplicates([*pair_cols, "feature_index"])
        .join(feat, "feature_index")
    )
    out_schema = StructType(
        [f for f in cand.schema.fields if f.name != "geojson"]
        + [StructField("overlap_area", DoubleType())]
    )
    names = [f.name for f in out_schema.fields]

    def refine(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.geom import clipped_area_convex, is_convex_ring

        windows: dict[int, tuple] = {}  # fi -> ('rect', Extent)|('convex', ring)
        gcache: dict[str, object] = {}
        for pdf in it:
            if len(pdf) == 0:
                continue
            areas = np.zeros(len(pdf))
            for i, (txt, fi, fgj) in enumerate(
                zip(pdf[geom_col], pdf["feature_index"], pdf["geojson"])
            ):
                win = windows.get(int(fi))
                if win is None:
                    fg = parse_geometry(fgj)
                    if fills_bbox(fg):
                        win = ("rect", fg.bbox())
                    else:
                        if (
                            fg.kind != "Polygon"
                            or len(fg.polygons[0]) != 1
                            or not is_convex_ring(fg.polygons[0][0])
                        ):
                            raise NotImplementedError(
                                "polygon_overlap_join clip windows must be "
                                f"CONVEX single-ring polygons; feature {fi}"
                                " is not"
                            )
                        win = ("convex", fg.polygons[0][0])
                    windows[int(fi)] = win
                g = gcache.get(txt)
                if g is None:
                    g = parse_geometry(txt)
                    gcache[txt] = g
                if g is not None:
                    kind, w = win
                    areas[i] = (
                        clipped_area(g, w)
                        if kind == "rect"
                        else clipped_area_convex(g, w)
                    )
            pdf = pdf.assign(overlap_area=areas)
            yield pdf.loc[areas > 0.0, names]

    return cand.mapInPandas(refine, schema=out_schema)
