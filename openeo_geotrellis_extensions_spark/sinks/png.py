"""PNG sink — pure-stdlib (zlib + struct) grayscale/RGB PNG writer.

Reference: png/package.scala:15-110 (stitch + render PNG). Ours stitches one
date on the driver (PNGs are small previews by definition) and encodes with
zlib — no imaging library required.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from ..core.celltype import parse_cell_type
from ..core.tiles import decode_tiles, tile_chunks
from ..sources.datacube import DataCube


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


#: Adam7 interlace pass grid: (x_start, y_start, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _adam7_pass_dims(w: int, h: int) -> list[tuple[int, int, int, int, int, int]]:
    """Non-empty Adam7 passes as (x0, y0, dx, dy, pass_w, pass_h)."""
    out = []
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            out.append((x0, y0, dx, dy, pw, ph))
    return out


def encode_png_bytes(img: np.ndarray, interlace: bool = False) -> bytes:
    """Encode (h, w) grayscale or (h, w, 3) RGB uint8 -> PNG bytes
    (8-bit, filter type 0 per scanline; Adam7 interlaced when asked)."""
    if img.ndim == 2:
        color_type = 0
        data = img[:, :, None]
    else:
        color_type = 2
        data = img
    h, w = data.shape[:2]
    if interlace:
        raw = b"".join(
            b"\x00" + data[y0 + py * dy, x0::dx].astype(np.uint8).tobytes()
            for x0, y0, dx, dy, _pw, ph in _adam7_pass_dims(w, h)
            for py in range(ph)
        )
    else:
        raw = b"".join(
            b"\x00" + data[y].astype(np.uint8).tobytes() for y in range(h)
        )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, int(interlace))
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def write_png(path: str, img: np.ndarray) -> None:
    """img: (h, w) grayscale or (h, w, 3) RGB uint8."""
    with open(path, "wb") as f:
        f.write(encode_png_bytes(img))


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png_bytes(buf: bytes) -> np.ndarray:
    """Decode 8-bit grayscale/RGB PNG bytes -> (h, w) or (h, w, 3) uint8.
    Full scanline unfiltering (types 0 None / 1 Sub / 2 Up / 3 Average /
    4 Paeth), so externally-produced non-interlaced 8-bit PNGs decode too,
    not just this module's own filter-0 output."""
    if buf[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos = 8
    w = h = ctype = bitd = interlace = None
    idat = b""
    while pos < len(buf):
        (ln,) = struct.unpack_from(">I", buf, pos)
        tag = buf[pos + 4 : pos + 8]
        payload = buf[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w, h, bitd, ctype, _, _, interlace = struct.unpack(">IIBBBBB", payload)
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if bitd != 8 or ctype not in (0, 2) or interlace not in (0, 1):
        raise NotImplementedError(
            f"PNG bit depth {bitd} / color type {ctype} / interlace {interlace} "
            "unsupported (8-bit gray/RGB only)"
        )
    nch = 1 if ctype == 0 else 3
    raw = zlib.decompress(idat)
    if interlace:  # Adam7: each pass is an independently-filtered sub-image
        img = np.zeros((h, w, nch), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy, pw, ph in _adam7_pass_dims(w, h):
            span = ph * (pw * nch + 1)
            sub = _unfilter(raw[pos : pos + span], pw, ph, nch)
            pos += span
            img[y0::dy, x0::dx] = sub.reshape(ph, pw, nch)
        return img[:, :, 0] if nch == 1 else img
    out = _unfilter(raw, w, h, nch)
    img = out.reshape(h, w, nch)
    return img[:, :, 0] if nch == 1 else img


def _unfilter(raw: bytes, w: int, h: int, nch: int) -> np.ndarray:
    """Undo per-scanline filtering over a (1+stride)*h byte region ->
    (h, w*nch) uint8 (types 0 None / 1 Sub / 2 Up / 3 Average / 4 Paeth)."""
    stride = w * nch
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)], dtype=np.uint8
        ).astype(np.int64)
        if f == 0:
            cur = line
        elif f == 2:  # Up
            cur = (line + prev) & 0xFF
        elif f == 3:  # Average
            cur = line.copy()
            for i in range(stride):
                left = cur[i - nch] if i >= nch else 0
                cur[i] = (line[i] + (left + prev[i]) // 2) & 0xFF
        elif f == 1:  # Sub: per-channel prefix sum mod 256 (vectorized)
            cur = line.copy()
            for ch in range(nch):
                cur[ch::nch] = np.cumsum(line[ch::nch]) & 0xFF
        elif f == 4:  # Paeth (sequential left-dependency)
            cur = line.copy()
            for i in range(stride):
                left = cur[i - nch] if i >= nch else 0
                up = prev[i]
                ul = prev[i - nch] if i >= nch else 0
                cur[i] = (line[i] + _paeth(int(left), int(up), int(ul))) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = cur
        prev = cur
    return out


def read_png(path: str) -> np.ndarray:
    """Parse a PNG file (see decode_png_bytes for supported subset)."""
    return decode_png_bytes(open(path, "rb").read())


def save_png(cube: DataCube, path: str, date: str | None = None,
             band: int = 0, vmin: float = 0.0, vmax: float = 100.0) -> str:
    """Stitch one date's single band, linear-rescale to 0..255, write PNG
    (nodata -> 0)."""
    ld = cube.meta.layout
    ct = parse_cell_type(cube.meta.cell_type)
    df = cube.df
    if cube.meta.temporal:
        from pyspark.sql import functions as F

        date = date or str(df.agg(F.min("time")).collect()[0][0].date())
        df = df.where(F.to_date("time") == date)
    H = ld.layout_rows * ld.tile_rows
    W = ld.layout_cols * ld.tile_cols
    full = np.full((H, W), np.nan)
    for rows in tile_chunks(df.collect(), band + 1, cube.meta.tile_shape):
        stacks = decode_tiles([r.bands for r in rows], ct, cube.meta.tile_shape, band + 1)
        for r, stack in zip(rows, stacks):
            full[
                r.row * ld.tile_rows : (r.row + 1) * ld.tile_rows,
                r.col * ld.tile_cols : (r.col + 1) * ld.tile_cols,
            ] = stack[band]
    scaled = np.clip((full - vmin) / max(vmax - vmin, 1e-9) * 255, 0, 255)
    scaled = np.nan_to_num(scaled, nan=0.0).astype(np.uint8)
    write_png(path, scaled)
    return path
