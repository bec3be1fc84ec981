"""The tile format and its one codec.

The reference's ``MultibandTile`` becomes a DataFrame column
``bands: array<binary>`` where each element is the raw C-order bytes of one
(h, w) band; dtype/shape/nodata live in cube-level metadata (see
sources/datacube.py), mirroring how ``TileLayerMetadata`` is a driver-side
record in the reference (DatacubeSupport.scala:110-120).

An all-nodata band is encoded as the EMPTY marker b"" — the analog of
``EmptyMultibandTile`` (openeo-geotrellis/.../EmptyMultibandTile.scala), so
empty tiles cost ~0 bytes in shuffle/storage.

This module is the only place that knows the format. Operators, sources and
sinks work on float64 ``(n, bands, h, w)`` stacks with nodata as NaN:
:func:`decode_tiles` turns a batch of band lists into one stack,
:func:`encode_tiles` turns a stack back into band lists, and
:func:`tile_chunks` bounds how many rows one decode materializes.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from .celltype import CellType, parse_cell_type

EMPTY = b""  # zero-storage all-nodata band marker

#: pixel values one decoded chunk may hold (~64 MB per float64 temporary);
#: an Arrow batch of 4,096 256x256 tiles would otherwise need several GB
MAX_CHUNK_VALUES = 8_000_000


def _cell_type(cell_type: CellType | str) -> CellType:
    return parse_cell_type(cell_type) if isinstance(cell_type, str) else cell_type


def encode_band(arr: np.ndarray | None, cell_type: CellType | str) -> bytes:
    cell_type = _cell_type(cell_type)
    if arr is None:
        return EMPTY
    a = np.ascontiguousarray(arr, dtype=cell_type.dtype)
    if cell_type.has_nodata and not cell_type.valid_mask(a).any():
        return EMPTY
    return a.tobytes()


def decode_band(
    buf: bytes | None, cell_type: CellType | str, shape: tuple[int, int]
) -> np.ndarray:
    """Decode one band in its own dtype; EMPTY/None -> all-nodata array."""
    cell_type = _cell_type(cell_type)
    if is_empty_band(buf):
        nd = cell_type.nodata if cell_type.nodata is not None else 0
        return np.full(shape, nd, dtype=cell_type.dtype)
    return np.frombuffer(buf, dtype=cell_type.dtype).reshape(shape)


def is_empty_band(buf: bytes | None) -> bool:
    return buf is None or len(buf) == 0


def decode_tiles(
    band_lists, cell_type: CellType | str, shape: tuple[int, int], n_bands: int
) -> np.ndarray:
    """Decode a batch of band lists -> (n, n_bands, h, w) float64 with nodata
    as NaN, in one ``b"".join`` + ``frombuffer`` + nodata mask.

    An EMPTY band decodes to NaN (0 for raw cell types); a ``None`` row — a
    missing tile, e.g. one side of an outer join — decodes to all-NaN for
    every cell type."""
    ct = _cell_type(cell_type)
    zero = bytes(shape[0] * shape[1] * ct.dtype.itemsize)
    flat: list[bytes] = []
    empties: list[tuple[int, int]] = []
    missing: list[int] = []
    for i, bl in enumerate(band_lists):
        if bl is None:
            missing.append(i)
            flat.extend([zero] * n_bands)
            continue
        for b in range(n_bands):
            buf = bl[b] if b < len(bl) else None
            if is_empty_band(buf):
                empties.append((i, b))
                buf = zero
            flat.append(buf)
    arr = np.frombuffer(b"".join(flat), dtype=ct.dtype)
    out = ct.to_float_nan(arr.reshape(len(band_lists), n_bands, *shape))
    fill = np.nan if ct.has_nodata else 0.0
    for i, b in empties:
        out[i, b] = fill
    out[missing] = np.nan
    return out


def as_tile(values, shape: tuple[int, ...]) -> np.ndarray:
    """``values`` as float64 broadcast to ``shape``: a callback that returns a
    constant yields a full tile of it."""
    return np.broadcast_to(np.asarray(values, dtype=np.float64), shape)


def encode_tiles(stack, cell_type: CellType | str) -> list[list[bytes]]:
    """(n, bands, h, w) float64 with NaN nodata (or a sequence of
    (bands, h, w) arrays) -> one band list per tile; all-nodata bands become
    EMPTY. Converts band by band: a whole-batch conversion falls out of
    cache and is slower."""
    ct = _cell_type(cell_type)
    return [[encode_band(ct.from_float_nan(band), ct) for band in tile] for tile in stack]


def tile_chunks(rows, n_bands: int, shape: tuple[int, int]) -> Iterator:
    """Slices of ``rows`` (a DataFrame or a list of tile rows) whose decoded
    stacks hold at most ``MAX_CHUNK_VALUES`` pixel values (at least one row
    per slice)."""
    step = max(1, MAX_CHUNK_VALUES // max(1, n_bands * shape[0] * shape[1]))
    take = rows.iloc if isinstance(rows, pd.DataFrame) else rows
    for lo in range(0, len(rows), step):
        yield take[lo : lo + step]


def decode_tile_float(
    bufs: list[bytes | None], cell_type: CellType | str, shape: tuple[int, int]
) -> np.ndarray:
    """One tile's band list -> (bands, h, w) float64 with nodata as NaN."""
    return decode_tiles([bufs], cell_type, shape, len(bufs))[0]
