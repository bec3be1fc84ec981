"""SCL dilation cloud mask + chunk_polygon.

Reference:
  - ``toSclDilationMask`` (OpenEOProcesses.scala:1200-1212;
    geotrellis-common/.../CloudFilterStrategy.scala:54-300): build a binary
    mask from SCL classification values, then morphologically dilate it with
    two kernels so cloud shadows/edges are masked too.
  - ``chunk_polygon`` (groupAndMaskByGeometry + mergeGroupedByGeometry,
    OpenEOProcesses.scala:324-399): cube -> per-polygon chunks -> user fn ->
    back to cube.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..core.celltype import parse_cell_type
from ..core.tiles import decode_tiles, encode_tiles, tile_chunks
from ..sources.datacube import DataCube
from .kernel import apply_kernel
from .cover import feature_geometries, feature_tile_keys, pixel_masks


def to_scl_dilation_mask(
    scl_cube: DataCube,
    mask_values: tuple[int, ...] = (3, 8, 9, 10, 11),
    dilation_px: int = 2,
) -> DataCube:
    """SCL band -> binary mask (1 = masked) dilated by ``dilation_px``.
    Dilation = (binary mask convolved with a box kernel) >= 1 — the
    convolution-based morphology of CloudFilterStrategy. The result plugs
    straight into operators.mask.mask()."""
    # membership test per pixel: 1 if scl in mask_values else 0
    # (bind plain values — closures must not capture the cube/df)
    mask_values = tuple(mask_values)
    shape = scl_cube.meta.tile_shape
    src_ct = scl_cube.meta.cell_type
    out_ct = parse_cell_type("uint8ud255")

    def binarize(it):
        for pdf in (p for batch in it for p in tile_chunks(batch, 1, shape)):
            stack = decode_tiles(pdf["bands"].tolist(), src_ct, shape, 1)
            m = np.isin(stack, mask_values).astype(np.float64)
            yield pdf.assign(bands=encode_tiles(m, out_ct))

    bin_cube = DataCube(
        scl_cube.df.mapInPandas(binarize, schema=scl_cube.df.schema),
        scl_cube.meta,
    ).with_meta(cell_type="uint8ud255", band_names=("mask",))

    k = 2 * dilation_px + 1
    kernel = np.ones((k, k))
    conv = apply_kernel(bin_cube, kernel)
    conv_ct = conv.meta.cell_type

    def threshold(it):
        for pdf in (p for batch in it for p in tile_chunks(batch, 1, shape)):
            stack = decode_tiles(pdf["bands"].tolist(), conv_ct, shape, 1)
            # box counts of a 0/1 mask are whole numbers; 0.5 (not 0)
            # rejects the FFT path's ~1e-15 round-off on clear pixels
            m = (np.nan_to_num(stack, nan=0.0) > 0.5).astype(np.float64)
            yield pdf.assign(bands=encode_tiles(m, out_ct))

    df = conv.df.mapInPandas(threshold, schema=conv.df.schema)
    return DataCube(df, conv.meta).with_meta(cell_type="uint8ud255", band_names=("mask",))


def chunk_polygon(
    cube: DataCube,
    features,
    fn,
    mask_outside: bool = True,
) -> DataCube:
    """Apply ``fn(stack: (t, bands, h, w), feature_index) -> same shape`` per
    polygon chunk: tiles covered by each feature are grouped, masked to the
    polygon, transformed, and re-emitted as cube rows (duplicate keys across
    overlapping polygons merge by first-non-nodata, mergeTiles
    OpenEOProcesses.scala:1214-1216)."""
    layout = cube.meta.layout
    ct = parse_cell_type(cube.meta.cell_type)
    shape = cube.meta.tile_shape
    n_bands = cube.meta.n_bands
    fkeys = F.broadcast(feature_tile_keys(features, layout))
    joined = cube.df.join(fkeys, ["col", "row"], "inner")
    mask_of = pixel_masks(feature_geometries(features), layout)

    def per_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        fi = int(pdf["feature_index"].iloc[0])
        rows = []
        # the callback sees the FULL time stack per tile (t, bands, h, w) —
        # the xarray chunk contract of runChunkPolygonUserCode
        for (c, r), grp in pdf.groupby(["col", "row"]):
            grp = grp.sort_values("time")
            stack = decode_tiles(grp["bands"].tolist(), ct, shape, n_bands)  # (T, bands, h, w)
            if mask_outside and not grp["contained"].iloc[0]:
                inside = mask_of(fi, int(c), int(r), False)
                stack = np.where(inside[None, None], stack, np.nan)
            res = np.asarray(fn(stack, fi), dtype=np.float64)
            if res.shape != stack.shape:
                raise ValueError(
                    f"chunk fn must preserve shape {stack.shape}, got {res.shape}"
                )
            for t, bands in zip(grp["time"], encode_tiles(res, ct)):
                rows.append((t, int(c), int(r), bands))
        return pd.DataFrame(rows, columns=["time", "col", "row", "bands"])

    chunked = joined.groupBy("feature_index").applyInPandas(
        per_chunk, schema=cube.df.schema
    )

    # merge duplicate keys from overlapping polygons: first non-nodata wins
    def merge_tiles(pdf: pd.DataFrame) -> pd.DataFrame:
        first = pdf.iloc[0]
        stacks = decode_tiles(pdf["bands"].tolist(), ct, shape, n_bands)
        acc = stacks[0]
        for stack in stacks[1:]:
            acc = np.where(np.isnan(acc), stack, acc)
        bands = encode_tiles(acc[None], ct)[0]
        return pd.DataFrame(
            [(first["time"], int(first["col"]), int(first["row"]), bands)],
            columns=["time", "col", "row", "bands"],
        )

    df = chunked.groupBy("time", "col", "row").applyInPandas(
        merge_tiles, schema=cube.df.schema
    )
    return cube.with_df(df)
