"""apply_kernel — focal convolution with tile halos — and ``halo_map``, the
one halo exchange behind apply_kernel, apply_neighborhood and bilinear
resample_spatial.

Reference: ``apply_kernel`` (OpenEOProcesses.scala:1101-1130) buffers tiles
(focal/MultibandFocalOperation.scala:30-57, the bufferTiles all three use)
and convolves per band, with an FFT path for kernels > 10 px
(geotrellis-common/.../FFTConvolve.scala).

Ours: the halo is an 8-neighbor self-join expressed as a 9-way offset explode
(pure column ops — each tile row emits one row per neighbor key it
contributes to) followed by ``groupBy(key).applyInPandas`` that writes each
neighbor's edge slice into a padded window. Shuffle volume = 9x tiles, the
same cost shape as the reference's bufferTiles.

Nodata semantics: NaN inputs contribute 0 to neighbor sums, and output pixels
whose center input was NaN stay NaN (Geotrellis focal nodata convention).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.celltype import parse_cell_type
from ..core.tiles import decode_tiles, encode_tiles
from ..sources.datacube import DataCube


def _convolve2d_same(arr: np.ndarray, kernel: np.ndarray) -> np.ndarray:
    kh, kw = kernel.shape
    if max(kh, kw) > 10:  # FFT path threshold, FFTConvolve.scala
        H = np.fft.rfft2(arr, s=(arr.shape[0] + kh - 1, arr.shape[1] + kw - 1))
        K = np.fft.rfft2(kernel, s=(arr.shape[0] + kh - 1, arr.shape[1] + kw - 1))
        full = np.fft.irfft2(H * K, s=(arr.shape[0] + kh - 1, arr.shape[1] + kw - 1))
        y0, x0 = (kh - 1) // 2, (kw - 1) // 2
        return full[y0 : y0 + arr.shape[0], x0 : x0 + arr.shape[1]]
    pad_y, pad_x = kh // 2, kw // 2
    padded = np.pad(arr, ((pad_y, kh - 1 - pad_y), (pad_x, kw - 1 - pad_x)))
    win = np.lib.stride_tricks.sliding_window_view(padded, (kh, kw))
    # correlation with flipped kernel = convolution
    return np.einsum("ijkl,kl->ij", win, kernel[::-1, ::-1])


def _halo_span(d: int, n: int, p: int) -> tuple[slice, slice]:
    """(source, window) slices along one axis for the neighbor at offset
    ``d`` of a tile of length ``n`` inside a window with halo ``p``."""
    lo = p + d * n  # window index of the neighbor's first pixel
    w0, w1 = max(lo, 0), min(lo + n, n + 2 * p)
    return slice(w0 - lo, w1 - lo), slice(w0, w1)


def halo_map(
    cube: DataCube,
    halo: tuple[int, int],
    fn: Callable[[np.ndarray], list[bytes]],
) -> DataFrame:
    """Per tile, call ``fn(window)`` on a float64 ``(bands, h+2py, w+2px)``
    window: the tile in the middle, ``halo=(py, px)`` pixels of its 8
    neighbors around it, NaN where a neighbor is missing or off the layout.
    ``fn`` returns the tile's encoded band list. -> the cube's keys + bands,
    in the cube's schema; keys without a tile produce no row."""
    py, px = halo
    h, w = cube.meta.tile_shape
    if py > h or px > w:
        raise ValueError(f"halo {halo} exceeds tile size {(h, w)}")
    ct = cube.meta.cell_type
    n_bands = cube.meta.n_bands
    keys = cube.key_cols
    time_keys = [k for k in keys if k not in ("col", "row")]
    layout = cube.meta.layout

    # 9-way offset explode: each tile contributes to itself + 8 neighbors
    offsets = F.expr(
        "explode(array(" + ", ".join(
            f"struct({dc} as dc, {dr} as dr)" for dr in (-1, 0, 1) for dc in (-1, 0, 1)
        ) + "))"
    )
    exploded = cube.df.select(
        *time_keys, "col", "row", "bands", offsets.alias("o")
    ).select(
        *time_keys,
        (F.col("col") + F.col("o.dc")).alias("col"),
        (F.col("row") + F.col("o.dr")).alias("row"),
        (-F.col("o.dc")).alias("dc"),  # position of the contributor rel. to target
        (-F.col("o.dr")).alias("dr"),
        "bands",
    ).where(
        (F.col("col") >= 0) & (F.col("row") >= 0)
        & (F.col("col") < layout.layout_cols)
        & (F.col("row") < layout.layout_rows)
    )
    out_schema = cube.df.schema

    def window_group(pdf: pd.DataFrame) -> pd.DataFrame:
        if not ((pdf["dc"] == 0) & (pdf["dr"] == 0)).any():
            return pd.DataFrame(columns=list(out_schema.fieldNames()))
        win = np.full((n_bands, h + 2 * py, w + 2 * px), np.nan)
        tiles = decode_tiles(pdf["bands"].tolist(), ct, (h, w), n_bands)
        for dr, dc, tile in zip(pdf["dr"], pdf["dc"], tiles):
            sy, wy = _halo_span(int(dr), h, py)
            sx, wx = _halo_span(int(dc), w, px)
            win[:, wy, wx] = tile[:, sy, sx]
        first = pdf.iloc[0]
        row = [first[k] for k in time_keys] + [int(first["col"]), int(first["row"]), fn(win)]
        return pd.DataFrame([row], columns=time_keys + ["col", "row", "bands"])

    return exploded.groupBy(*keys).applyInPandas(window_group, schema=out_schema)


def apply_kernel(cube: DataCube, kernel, factor: float = 1.0) -> DataCube:
    kernel = np.asarray(kernel, dtype=np.float64)
    kh, kw = kernel.shape
    py, px = kh // 2, kw // 2
    h, w = cube.meta.tile_shape
    out_ct = parse_cell_type(
        "float32" if parse_cell_type(cube.meta.cell_type).base != "float64" else "float64"
    )

    def convolve(win: np.ndarray) -> list[bytes]:
        centers = []
        for plane in win:
            nanmask = np.isnan(plane)
            conv = _convolve2d_same(np.where(nanmask, 0.0, plane), kernel) * factor
            center = conv[py : py + h, px : px + w]
            # center-nodata stays nodata
            center[nanmask[py : py + h, px : px + w]] = np.nan
            centers.append(center)
        return encode_tiles([centers], out_ct)[0]

    df = halo_map(cube, (py, px), convolve)
    return DataCube(df, cube.meta).with_meta(cell_type=out_ct.name)
