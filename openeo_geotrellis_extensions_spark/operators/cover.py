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
    the feature (:func:`feature_tiles` adds each feature's key bounds);
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
from pyspark.sql.types import IntegerType, StructField, StructType

from ..core.geom import classify_rect, parse_geometry, rasterize
from ..core.grid import LayoutDefinition

_KEYS_SCHEMA = StructType(
    [
        StructField("feature_index", IntegerType()),
        StructField("col", IntegerType()),
        StructField("row", IntegerType()),
        StructField("contained", IntegerType()),  # 1 = tile fully inside feature
    ]
)


def feature_tile_keys(features: DataFrame, layout: LayoutDefinition) -> DataFrame:
    """(feature_index, geojson) -> candidate layout tile keys, the clipToGrid
    analog (FileLayerProvider.scala:1060-1093). Pure key metadata — no pixels
    touched — so downstream joins prune cube partitions before any decode
    (the reference's 'required keys before read' pushdown, SURVEY §4)."""

    def block_keys(g, c0: int, c1: int, r0: int, r1: int, out: list) -> None:
        """Quadtree subdivision over the key grid: one classify per block, so
        a feature covering K tiles costs O(perimeter + log K) classifies
        instead of K (the compact-cover idea applied to layout keys)."""
        w0 = layout.extent_for_key(c0, r0)
        w1 = layout.extent_for_key(c1, r1)
        block = type(w0)(w0.xmin, w1.ymin, w1.xmax, w0.ymax)
        cls = classify_rect(g, block)
        if cls == 0:
            return
        if cls == 2:
            out.append((c0, c1, r0, r1, 1))
            return
        if c0 == c1 and r0 == r1:
            out.append((c0, c1, r0, r1, 0))
            return
        cm = (c0 + c1) // 2
        rm = (r0 + r1) // 2
        for cc0, cc1 in ((c0, cm), (cm + 1, c1)) if c1 > c0 else ((c0, c1),):
            for rr0, rr1 in ((r0, rm), (rm + 1, r1)) if r1 > r0 else ((r0, r1),):
                block_keys(g, cc0, cc1, rr0, rr1, out)

    # stage 1: split each feature's key range into <=4x4 sub-ranges so huge
    # features parallelize across tasks (one-task-per-feature was the serial
    # bottleneck; same idea as cover_cells_for_features)
    def split(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for fi, gj in zip(pdf["feature_index"], pdf["geojson"]):
                g = parse_geometry(gj)
                if g is None:
                    continue
                if g.kind in ("Point", "MultiPoint"):
                    rows.append((int(fi), gj, -1, -1, -1, -1))
                    continue
                ks = list(layout.keys_for_extent(g.bbox()))
                if not ks:
                    continue
                c0 = min(k[0] for k in ks); c1 = max(k[0] for k in ks)
                r0 = min(k[1] for k in ks); r1 = max(k[1] for k in ks)
                nsc = min(4, c1 - c0 + 1)
                nsr = min(4, r1 - r0 + 1)
                cw = -(-(c1 - c0 + 1) // nsc)
                rw = -(-(r1 - r0 + 1) // nsr)
                for sc in range(nsc):
                    for sr in range(nsr):
                        bc0 = c0 + sc * cw
                        br0 = r0 + sr * rw
                        if bc0 > c1 or br0 > r1:
                            continue
                        rows.append(
                            (int(fi), gj, bc0, min(bc0 + cw - 1, c1),
                             br0, min(br0 + rw - 1, r1))
                        )
            yield pd.DataFrame(
                rows, columns=["feature_index", "geojson", "c0", "c1", "r0", "r1"]
            )

    exploded = features.mapInPandas(
        split,
        schema="feature_index int, geojson string, c0 int, c1 int, r0 int, r1 int",
    )

    def keys(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        geom_cache: dict[int, object] = {}
        for pdf in it:
            fis, cols, rows_, conts = [], [], [], []
            for fi, gj, c0, c1, r0, r1 in zip(
                pdf["feature_index"], pdf["geojson"],
                pdf["c0"], pdf["c1"], pdf["r0"], pdf["r1"],
            ):
                g = geom_cache.get(int(fi))
                if g is None:
                    g = parse_geometry(gj)
                    geom_cache[int(fi)] = g
                if g.kind in ("Point", "MultiPoint"):
                    seen = set()
                    for px_, py_ in g.points:
                        k = layout.key_for_point(px_, py_)
                        if (
                            k not in seen
                            and 0 <= k[0] < layout.layout_cols
                            and 0 <= k[1] < layout.layout_rows
                        ):
                            seen.add(k)
                            fis.append(int(fi)); cols.append(k[0])
                            rows_.append(k[1]); conts.append(0)
                    continue
                blocks: list[tuple[int, int, int, int, int]] = []
                block_keys(g, int(c0), int(c1), int(r0), int(r1), blocks)
                for bc0, bc1, br0, br1, cont in blocks:
                    cc, rr = np.meshgrid(
                        np.arange(bc0, bc1 + 1), np.arange(br0, br1 + 1)
                    )
                    n = cc.size
                    fis.extend([int(fi)] * n)
                    cols.extend(cc.ravel().tolist())
                    rows_.extend(rr.ravel().tolist())
                    conts.extend([cont] * n)
            yield pd.DataFrame(
                {"feature_index": fis, "col": cols, "row": rows_, "contained": conts}
            )

    return exploded.mapInPandas(keys, schema=_KEYS_SCHEMA)


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
