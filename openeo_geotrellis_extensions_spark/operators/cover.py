"""Feature cover — which layout tiles and which pixels a feature covers.

The reference takes both answers from one place for every polygon
operator: ``clipToGrid`` (FileLayerProvider.scala:1060-1093) gives the
tiles a feature touches, and one Geotrellis rasterizer gives the pixels —
``LayerProvider.createMaskLayer`` for zonal statistics and ``RasterizeRDD``
for rasterize (VectorCubeMethods.scala:110-186). This module is that one
place here; zonal, mask_polygon, chunk_polygon, rasterize, the spatial
join, the catalog source and the sample sinks all use it:

  - :func:`feature_tile_keys` — the tiles: ``(feature_index, col, row,
    contained)`` rows, ``contained = 1`` when the tile lies wholly inside
    the feature (:func:`feature_tiles` adds each feature's key bounds).
    Python emits quadtree blocks of keys (:func:`cover_blocks`) and the
    JVM expands them. Every polygon is classified by one open/closed rule
    (:func:`core.geom.classify_blocks`): a tile that no polygon edge
    crosses is contained when it lies in the CLOSED polygon (its edges
    may lie on the polygon's: its pixel centres lie strictly inside, and
    every pixel has area weight 1) and not covered when its OPEN interior
    misses the polygon; a tile that an edge crosses is boundary;
  - the spatial join's cells: ``GlobalGrid`` at resolution ``res`` is the
    layout :meth:`core.grid.GlobalGrid.layout` of 1x1-pixel tiles, so a
    feature's cells are the same blocks, expanded by the same
    :func:`feature_block_keys` (``operators/spatial_join.py``);
  - :func:`feature_geometries` — the one ``collect()`` of
    ``{feature_index: geojson}``; features are broadcast-small on every
    path that uses it, so geometry text is closed over instead of joined
    onto every tile row;
  - :func:`pixel_masks` — the pixels, one rule for every operator:
      * a contained tile is all True;
      * a polygon covers the pixels whose CENTRE lies inside it
        (``core.geom.rasterize``, Geotrellis' default rasterizer option);
      * each point of a Point or MultiPoint marks the one pixel that
        contains it (Geotrellis' point rasterization).
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.geom import (
    CONTAINS,
    INTERSECTS,
    Geometry,
    classify_blocks,
    parse_geometry,
    rasterize,
)
from ..core.grid import LayoutDefinition


def cover_blocks(g: Geometry, layout: LayoutDefinition) -> list[tuple[int, int, int, int, int]]:
    """``(c0, c1, r0, r1, contained)`` inclusive key blocks that together
    cover geometry ``g`` on ``layout`` — a quadtree over the key range of
    the bbox, classified one level at a time by
    :func:`core.geom.classify_blocks`, so a feature covering K tiles costs
    O(perimeter + log K) block classifies and emits O(perimeter) blocks,
    not K keys. Contained blocks and single boundary keys are emitted;
    dropped blocks end; other boundary blocks split in four. Each key of a
    point is a 1x1 boundary block."""
    if g.kind in ("Point", "MultiPoint"):
        keys = dict.fromkeys(layout.key_for_point(x, y) for x, y in g.points)
        return [
            (c, c, r, r, 0)
            for c, r in keys
            if 0 <= c < layout.layout_cols and 0 <= r < layout.layout_rows
        ]
    c0, r0, c1, r1 = layout.key_bounds_for_extent(g.bbox())
    # one key of margin: the bounds' float division can round away a
    # sliver that the exact rule keeps
    c0, r0 = max(c0 - 1, 0), max(r0 - 1, 0)
    c1 = min(c1 + 1, layout.layout_cols - 1)
    r1 = min(r1 + 1, layout.layout_rows - 1)
    live = np.array([(c0, c1, r0, r1)] if c0 <= c1 and r0 <= r1 else [], dtype=np.int64)
    e, tw, th = layout.extent, layout.tile_width, layout.tile_height
    out = []
    while len(live):
        c0, c1, r0, r1 = live.T
        # the same float arithmetic as layout.extent_for_key of the corners
        cls = classify_blocks(
            g, e.xmin + c0 * tw, (e.ymax - r1 * th) - th, (e.xmin + c1 * tw) + tw, e.ymax - r0 * th
        )
        leaf = (cls == CONTAINS) | ((cls == INTERSECTS) & (c0 == c1) & (r0 == r1))
        out += [(*b, int(k == CONTAINS)) for b, k in zip(live[leaf].tolist(), cls[leaf])]
        live = _quarters(live[(cls == INTERSECTS) & ~leaf])
    return out


def _quarters(blocks: np.ndarray) -> np.ndarray:
    """The (up to four) non-empty halves-by-halves of each ``(c0, c1, r0,
    r1)`` block; a one-key-wide side is not split."""
    c0, c1, r0, r1 = blocks.T
    cm, rm = (c0 + c1) // 2, (r0 + r1) // 2
    q = np.concatenate([
        np.column_stack(b)
        for b in (
            (c0, cm, r0, rm), (c0, cm, rm + 1, r1),
            (cm + 1, c1, r0, rm), (cm + 1, c1, rm + 1, r1),
        )
    ])
    return q[(q[:, 0] <= q[:, 1]) & (q[:, 2] <= q[:, 3])]


def feature_block_keys(
    features: DataFrame, blocks_of: Callable[[Geometry], list[tuple[int, int, int, int, int]]]
) -> DataFrame:
    """(feature_index, geojson) -> (feature_index, col, row, contained) for
    the ``(c0, c1, r0, r1, contained)`` key blocks ``blocks_of`` gives each
    parsed feature. Python emits one row per block; the JVM expands the
    blocks to keys."""

    def blocks(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for fi, gj in zip(pdf["feature_index"], pdf["geojson"]):
                g = parse_geometry(gj)
                if g is not None:
                    rows.extend((int(fi), *b) for b in blocks_of(g))
            yield pd.DataFrame(rows, columns=["feature_index", "c0", "c1", "r0", "r1", "contained"])

    return (
        features.mapInPandas(
            blocks,
            schema="feature_index int, c0 int, c1 int, r0 int, r1 int, contained int",
        )
        .withColumn("col", F.explode(F.sequence("c0", "c1")))
        .withColumn("row", F.explode(F.sequence("r0", "r1")))
        .select("feature_index", "col", "row", "contained")
    )


def feature_tile_keys(features: DataFrame, layout: LayoutDefinition) -> DataFrame:
    """(feature_index, geojson) -> (feature_index, col, row, contained)
    candidate layout tile keys, the clipToGrid analog
    (FileLayerProvider.scala:1060-1093). Pure key metadata — no pixels
    touched — so downstream joins prune cube partitions before any decode
    (the reference's 'required keys before read' pushdown, SURVEY §4).
    The :func:`cover_blocks` blocks, expanded by
    :func:`feature_block_keys`."""
    return feature_block_keys(features, lambda g: cover_blocks(g, layout))


def feature_tiles(tiles: DataFrame, features: DataFrame, layout: LayoutDefinition) -> DataFrame:
    """Cube rows joined to the features covering them, with the key bounds
    ``_fc0, _fc1, _fr0, _fr1`` of each feature's FULL key cover: tiles
    missing from the cube leave nodata holes and never shrink a sample."""
    fkeys = feature_tile_keys(features, layout)
    fbounds = fkeys.groupBy("feature_index").agg(
        F.min("col").alias("_fc0"), F.max("col").alias("_fc1"),
        F.min("row").alias("_fr0"), F.max("row").alias("_fr1"),
    )
    return tiles.join(F.broadcast(fkeys), ["col", "row"], "inner").join(
        F.broadcast(fbounds), "feature_index"
    )


def feature_geometries(features: DataFrame) -> dict[int, str]:
    """``{feature_index: geojson}``, collected once for UDFs to
    close over (pass only the columns a function needs: the polygon text
    stays out of the tile rows)."""
    return {
        int(r["feature_index"]): r["geojson"]
        for r in features.select("feature_index", "geojson").collect()
    }


def pixel_masks(
    geoms: dict[int, str], layout: LayoutDefinition
) -> Callable[[int, int, int, bool], np.ndarray]:
    """``mask(feature_index, col, row, contained) -> bool (h, w)``: the
    pixels of tile (col, row) that the feature covers, by the module's one
    rule. Geometry parses and masks are cached in the returned function,
    which Spark unpickles once per task; callers must not write into the
    returned arrays."""
    shape = (layout.tile_rows, layout.tile_cols)
    full = np.ones(shape, dtype=bool)
    parsed: dict[int, object] = {}
    masks: dict[tuple[int, int, int], np.ndarray] = {}

    def mask(fi: int, col: int, row: int, contained: bool) -> np.ndarray:
        if contained:
            return full
        key = (fi, col, row)
        m = masks.get(key)
        if m is not None:
            return m
        g = parsed.get(fi)
        if g is None:
            g = parsed[fi] = parse_geometry(geoms[fi])
        xs, ys = layout.pixel_centers_for_key(col, row)
        if g.kind in ("Point", "MultiPoint"):
            m = np.zeros(shape, dtype=bool)
            for px_, py_ in g.points:
                if layout.key_for_point(px_, py_) == (col, row):
                    ix = int((px_ - xs[0] + layout.cell_width / 2) // layout.cell_width)
                    iy = int((ys[0] - py_ + layout.cell_height / 2) // layout.cell_height)
                    if 0 <= iy < shape[0] and 0 <= ix < shape[1]:
                        m[iy, ix] = True
        else:
            m = rasterize(g, xs, ys)
        masks[key] = m
        return m

    return mask
