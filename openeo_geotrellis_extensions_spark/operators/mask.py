"""mask / mask_polygon — per-pixel masking by a mask cube or polygons.

Reference: ``rasterMaskGeneric`` (DatacubeSupport.scala:191-243) = join cube
with mask + per-pixel replace (mask != 0 -> replacement/nodata); spatial-mask
key pruning drops whole keys whose mask tile has no valid pixel before any
decode (DatacubeSupport.scala:279-296, applySpatialMask
FileLayerProvider.scala:435-458). Polygon mask: groupAndMaskByGeometry
(OpenEOProcesses.scala:324-386) / TiledRasterLayer.scala:86-126.

Ours: left join on key columns (mask side broadcast when small via AQE),
np.where inside one mapInPandas; the key-pruning pushdown is a left-semi join
on the mask's non-empty keys — pure DataFrame, runs before tile decode.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..core.tiles import decode_tiles, encode_tiles, tile_chunks
from ..sources.datacube import DataCube
from .cover import feature_geometries, feature_tile_keys, pixel_masks


def mask(
    cube: DataCube,
    mask_cube: DataCube,
    replacement: float | None = None,
    prune_keys: bool = True,
) -> DataCube:
    """Pixels where mask band0 != 0 (or mask is nodata) become
    ``replacement`` (None = nodata). Mask tile absent -> data unchanged
    (left join, rasterMaskGeneric semantics).

    ``prune_keys``: additionally drop cube keys whose mask tile exists and is
    ENTIRELY masked — the reference's applySpatialMask pushdown — via an
    anti-join on keys, before any data-tile decode. Keys with no mask tile
    are unaffected by pruning."""
    if mask_cube.meta.layout != cube.meta.layout:
        raise ValueError("mask requires identical layouts (resample the mask first)")
    keys = [k for k in cube.key_cols if k in mask_cube.df.columns]
    ct = cube.meta.cell_type
    mct = mask_cube.meta.cell_type
    shape = cube.meta.tile_shape
    n_bands = cube.meta.n_bands

    m = mask_cube.df.select(*keys, F.col("bands").alias("mask_bands"))
    joined = cube.df
    if prune_keys:
        # pushdown: drop cube keys whose mask tile is FULLY masked (no zero
        # pixel) via anti-join — keys with no mask tile at all are kept, so
        # the reference's "mask absent -> data unchanged" left-join semantics
        # (DatacubeSupport.scala:191-243) still hold after pruning
        def fully_masked(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in (p for batch in it for p in tile_chunks(batch, 1, shape)):
                m0 = decode_tiles(pdf["mask_bands"].tolist(), mct, shape, 1)
                dead = ~(np.nan_to_num(m0, nan=1.0) == 0).any(axis=(1, 2, 3))
                yield pdf[dead][[*keys]]

        dead = m.mapInPandas(
            fully_masked, schema=m.select(*keys).schema
        )
        joined = joined.join(dead, keys, "left_anti")

    joined = joined.join(m, keys, "left")
    out_schema = cube.df.schema

    def apply_mask(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        repl = np.nan if replacement is None else float(replacement)
        for pdf in (p for batch in it for p in tile_chunks(batch, n_bands + 1, shape)):
            # tiles without a mask tile pass through untouched
            out = pdf["bands"].tolist()
            rows = [i for i, mb in enumerate(pdf["mask_bands"]) if mb is not None]
            sub = pdf.iloc[rows]
            m0 = decode_tiles(sub["mask_bands"].tolist(), mct, shape, 1)
            hide = ~(np.nan_to_num(m0, nan=1.0) == 0)
            stack = decode_tiles(sub["bands"].tolist(), ct, shape, n_bands)
            enc = encode_tiles(np.where(hide, repl, stack), ct)
            for i, bands in zip(rows, enc):
                out[i] = bands
            yield pdf.drop(columns=["mask_bands"]).assign(bands=out)

    return cube.with_df(joined.mapInPandas(apply_mask, schema=out_schema))


def mask_polygon(
    cube: DataCube,
    features,
    replacement: float | None = None,
    inside: bool = False,
) -> DataCube:
    """Pixels OUTSIDE the union of polygons -> replacement/nodata (openEO
    mask_polygon; ``inside=True`` inverts). Keys fully outside are dropped
    (clip semantics of groupAndMaskByGeometry's stitch+crop)."""
    layout = cube.meta.layout
    ct = cube.meta.cell_type
    shape = cube.meta.tile_shape
    n_bands = cube.meta.n_bands

    fkeys = feature_tile_keys(features, layout)
    # union over features per key: contained if any feature contains the tile
    key_info = fkeys.groupBy("col", "row").agg(
        F.max("contained").alias("contained"),
        F.collect_set("feature_index").alias("fis"),
    )
    joined = cube.df.join(F.broadcast(key_info), ["col", "row"], "inner")
    mask_of = pixel_masks(feature_geometries(features), layout)
    out_schema = cube.df.schema

    def apply_mask(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        repl = np.nan if replacement is None else float(replacement)
        for pdf in (p for batch in it for p in tile_chunks(batch, n_bands, shape)):
            covered = np.array([
                np.logical_or.reduce(
                    [mask_of(int(fi), int(c), int(r), bool(k)) for fi in fis]
                )
                for c, r, k, fis in zip(pdf["col"], pdf["row"], pdf["contained"], pdf["fis"])
            ])
            hide = covered if inside else ~covered
            stack = decode_tiles(pdf["bands"].tolist(), ct, shape, n_bands)
            masked = np.where(hide[:, None], repl, stack)
            yield pdf.drop(columns=["contained", "fis"]).assign(
                bands=encode_tiles(masked, ct)
            )

    return cube.with_df(joined.mapInPandas(apply_mask, schema=out_schema))
