"""Cell types (pixel dtypes with nodata semantics).

Mirrors the reference's closed set of Geotrellis cell types and its
promotion rules:
  - type set & naming: OpenEOProcessScriptBuilder.scala:6 (imports of
    Bit/UByte/UShort/Int/Float/Double with raw | constant-nodata |
    user-defined-nodata variants).
  - union/promotion: ``cellTypeUnion`` OpenEOProcessScriptBuilder.scala:87-113
    (float beats int, wider beats narrower, signed beats unsigned at equal
    width, any-nodata beats raw).

Names follow Geotrellis strings: ``uint8``, ``uint8raw``, ``uint8ud255``,
``int16``, ``float32``, ... where no suffix = constant (default) nodata,
``raw`` = no nodata, ``udN`` = user-defined nodata N.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

_BASE = {
    "bool": (np.uint8, 1),   # bit cells; stored as uint8 0/1
    "uint8": (np.uint8, 8),
    "int8": (np.int8, 8),
    "uint16": (np.uint16, 16),
    "int16": (np.int16, 16),
    "int32": (np.int32, 32),
    "float32": (np.float32, 32),
    "float64": (np.float64, 64),
}

# Geotrellis constant-nodata defaults (minValue for signed, maxValue for unsigned).
_DEFAULT_NODATA = {
    "uint8": 0,
    "int8": np.iinfo(np.int8).min,
    "uint16": 0,
    "int16": np.iinfo(np.int16).min,
    "int32": np.iinfo(np.int32).min,
    "float32": float("nan"),
    "float64": float("nan"),
}

_NAME_RE = re.compile(r"^(bool|u?int8|u?int16|int32|float32|float64)(raw|ud(-?[0-9.]+))?$")


@dataclass(frozen=True)
class CellType:
    base: str              # 'uint8', 'float32', ...
    nodata: float | None   # None = raw (no nodata); NaN allowed for floats

    @property
    def dtype(self) -> np.dtype:
        return np.dtype(_BASE[self.base][0])

    @property
    def bits(self) -> int:
        return _BASE[self.base][1]

    @property
    def is_float(self) -> bool:
        return self.base.startswith("float")

    @property
    def is_signed(self) -> bool:
        return not self.base.startswith("u") and self.base != "bool"

    @property
    def has_nodata(self) -> bool:
        return self.nodata is not None

    @property
    def name(self) -> str:
        if self.nodata is None:
            return f"{self.base}raw"
        if self.is_float and np.isnan(self.nodata):
            return self.base
        default = _DEFAULT_NODATA.get(self.base)
        if default is not None and not self.is_float and self.nodata == default:
            return self.base
        nd = int(self.nodata) if float(self.nodata).is_integer() else self.nodata
        return f"{self.base}ud{nd}"

    # -- value <-> masked helpers (used in every tile op) ------------------
    def to_float_nan(self, arr: np.ndarray) -> np.ndarray:
        """Decode to float64 with nodata -> NaN (the numpy-friendly form)."""
        out = arr.astype(np.float64)
        if self.nodata is not None and not (self.is_float and np.isnan(self.nodata)):
            out[arr == self.dtype.type(self.nodata)] = np.nan
        return out

    def from_float_nan(self, arr: np.ndarray) -> np.ndarray:
        """Encode float64-with-NaN back into this cell type: NaN becomes the
        nodata value (0 for raw integer types; raw and NaN-nodata float
        types keep NaN)."""
        if self.is_float:
            out = arr.astype(self.dtype)
            if self.nodata is not None and not np.isnan(self.nodata):
                out[np.isnan(out)] = self.nodata
            return out
        out = arr.copy()
        nd = self.nodata if self.nodata is not None else 0
        out[np.isnan(out)] = nd
        return np.round(out).astype(self.dtype)

    def valid_mask(self, arr: np.ndarray) -> np.ndarray:
        if self.nodata is None:
            return np.ones(arr.shape, dtype=bool)
        if self.is_float and np.isnan(self.nodata):
            return ~np.isnan(arr)
        return arr != self.dtype.type(self.nodata)


def parse_cell_type(name: str) -> CellType:
    m = _NAME_RE.match(name)
    if not m:
        raise ValueError(f"unknown cell type: {name!r}")
    base, suffix, ud = m.group(1), m.group(2), m.group(3)
    if suffix == "raw":
        return CellType(base, None)
    if ud is not None:
        return CellType(base, float(ud))
    return CellType(base, _DEFAULT_NODATA.get(base, 0))


_RANK = ["bool", "uint8", "int8", "uint16", "int16", "int32", "float32", "float64"]


def cell_type_union(a: CellType | str, b: CellType | str) -> CellType:
    """Widest-wins promotion mirroring cellTypeUnion
    (OpenEOProcessScriptBuilder.scala:87-113): float beats int; wider beats
    narrower; at equal width signed beats unsigned; nodata-ness is kept if
    either side has it."""
    if isinstance(a, str):
        a = parse_cell_type(a)
    if isinstance(b, str):
        b = parse_cell_type(b)
    if a.base == b.base:
        base = a.base
    elif a.is_float or b.is_float:
        fa = a.bits if a.is_float else 0
        fb = b.bits if b.is_float else 0
        ia = 0 if a.is_float else a.bits
        ib = 0 if b.is_float else b.bits
        bits = max(fa, fb)
        if max(ia, ib) >= 32 and bits < 64:
            bits = 64  # int32 + float32 -> float64 to hold all int32 values
        base = f"float{bits}"
    else:
        bits = max(a.bits, b.bits)
        signed = (
            (a.is_signed and a.bits >= b.bits)
            or (b.is_signed and b.bits >= a.bits)
        )
        if signed and (a.bits == b.bits) and (a.is_signed != b.is_signed) and bits < 32:
            bits *= 2  # uint8 + int8 -> int16 etc.
        base = f"{'int' if signed else 'uint'}{bits}"
        if base == "uint32":
            base = "int32"
        if base == "bool":
            base = a.base
    has_nd = a.has_nodata or b.has_nodata
    if not has_nd:
        return CellType(base, None)
    return parse_cell_type(base)  # default nodata for the promoted base
