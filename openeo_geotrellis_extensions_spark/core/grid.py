"""Layout / tiling grid math — the pure-Python replacement for Geotrellis
``LayoutDefinition`` / ``SpatialKey`` and the reference's space-filling-curve
partitioner indices.

Reference semantics mirrored (citations into /root/reference):
  - layout = world extent + tile grid + tile pixel size; key (col, row) with
    row 0 at the TOP (ymax), matching Geotrellis ``LayoutDefinition`` used at
    geotrellis-common/src/main/scala/org/openeo/geotrelliscommon/DatacubeSupport.scala:42-120.
  - Z-curve (Morton) ordering of (col, row) mirrors the ``SpacePartitioner``
    ``PartitionerIndex`` at geotrellis-common/.../package.scala:38-56 — here it
    is just a sortable/partitionable int64 column, never a custom partitioner.
  - hierarchical cells (zoom, x, y) are our H3/S2 analog (BASELINE
    north_star): a quadtree over the world extent, encoded into one int64 so
    cell ids are plain join/partition keys; at each zoom the cells are the
    keys of a layout (``GlobalGrid.layout``), covered like any layout.

Everything here is driver-side scalar math or vectorized numpy — no Spark
imports — so it can run inside pandas UDFs untouched.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator, NamedTuple

import numpy as np

# ---------------------------------------------------------------------------
# Extents
# ---------------------------------------------------------------------------


class Extent(NamedTuple):
    xmin: float
    ymin: float
    xmax: float
    ymax: float

    @property
    def width(self) -> float:
        return self.xmax - self.xmin

    @property
    def height(self) -> float:
        return self.ymax - self.ymin

    def intersects(self, other: "Extent") -> bool:
        return (
            self.xmin < other.xmax
            and other.xmin < self.xmax
            and self.ymin < other.ymax
            and other.ymin < self.ymax
        )

    def contains(self, other: "Extent") -> bool:
        return (
            self.xmin <= other.xmin
            and self.ymin <= other.ymin
            and self.xmax >= other.xmax
            and self.ymax >= other.ymax
        )

    def intersection(self, other: "Extent") -> "Extent | None":
        xmin = max(self.xmin, other.xmin)
        ymin = max(self.ymin, other.ymin)
        xmax = min(self.xmax, other.xmax)
        ymax = min(self.ymax, other.ymax)
        if xmin >= xmax or ymin >= ymax:
            return None
        return Extent(xmin, ymin, xmax, ymax)

    def buffer(self, d: float) -> "Extent":
        return Extent(self.xmin - d, self.ymin - d, self.xmax + d, self.ymax + d)


#: Global geographic extent used by the hierarchical cell grid (EPSG:4326).
WORLD_EXTENT = Extent(-180.0, -90.0, 180.0, 90.0)


# ---------------------------------------------------------------------------
# LayoutDefinition — tile grid over an extent
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class LayoutDefinition:
    """A fixed tile grid over ``extent``: ``layout_cols`` x ``layout_rows``
    tiles of ``tile_cols`` x ``tile_rows`` pixels each.

    Key convention matches Geotrellis: ``col`` grows eastward from xmin,
    ``row`` grows SOUTHWARD from ymax (row 0 at the top).
    """

    extent: Extent
    layout_cols: int
    layout_rows: int
    tile_cols: int = 256
    tile_rows: int = 256
    crs: str = "EPSG:4326"

    @property
    def tile_width(self) -> float:
        """Map-units width of one tile."""
        return self.extent.width / self.layout_cols

    @property
    def tile_height(self) -> float:
        return self.extent.height / self.layout_rows

    @property
    def cell_width(self) -> float:
        """Map-units width of one pixel."""
        return self.tile_width / self.tile_cols

    @property
    def cell_height(self) -> float:
        return self.tile_height / self.tile_rows

    # -- point -> key ------------------------------------------------------
    def key_for_point(self, x: float, y: float) -> tuple[int, int]:
        col = int(math.floor((x - self.extent.xmin) / self.tile_width))
        row = int(math.floor((self.extent.ymax - y) / self.tile_height))
        return col, row

    def keys_for_points(self, xs: np.ndarray, ys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Vectorized ``key_for_point`` (used inside pandas UDFs)."""
        cols = np.floor((xs - self.extent.xmin) / self.tile_width).astype(np.int64)
        rows = np.floor((self.extent.ymax - ys) / self.tile_height).astype(np.int64)
        return cols, rows

    # -- key -> extent -----------------------------------------------------
    def extent_for_key(self, col: int, row: int) -> Extent:
        xmin = self.extent.xmin + col * self.tile_width
        ymax = self.extent.ymax - row * self.tile_height
        return Extent(xmin, ymax - self.tile_height, xmin + self.tile_width, ymax)

    def key_bounds_for_extent(self, e: Extent) -> tuple[int, int, int, int]:
        """(c0, r0, c1, r1) inclusive key bounds of tiles intersecting ``e``
        (half-open: a geometry touching only a tile's max edge does not
        select it). Four ints — usable as Column predicates so a continental
        bbox never enumerates keys driver-side."""
        c0 = max(0, int(math.floor((e.xmin - self.extent.xmin) / self.tile_width)))
        c1 = min(
            self.layout_cols - 1,
            int(math.ceil((e.xmax - self.extent.xmin) / self.tile_width)) - 1,
        )
        r0 = max(0, int(math.floor((self.extent.ymax - e.ymax) / self.tile_height)))
        r1 = min(
            self.layout_rows - 1,
            int(math.ceil((self.extent.ymax - e.ymin) / self.tile_height)) - 1,
        )
        return c0, r0, c1, r1

    def keys_for_extent(self, e: Extent) -> Iterator[tuple[int, int]]:
        """All in-grid keys whose tile extent intersects ``e`` (driver-side
        enumeration — prefer :meth:`key_bounds_for_extent` predicates in
        DataFrame plans)."""
        c0, r0, c1, r1 = self.key_bounds_for_extent(e)
        for row in range(r0, r1 + 1):
            for col in range(c0, c1 + 1):
                yield col, row

    # -- pixel coordinates -------------------------------------------------
    def pixel_centers_for_key(self, col: int, row: int) -> tuple[np.ndarray, np.ndarray]:
        """(xs, ys) 1-D arrays of pixel-center coordinates for one tile.

        ys run north->south so ``values[py, px]`` addresses row py from the
        top, matching raster conventions.
        """
        te = self.extent_for_key(col, row)
        xs = te.xmin + (np.arange(self.tile_cols) + 0.5) * self.cell_width
        ys = te.ymax - (np.arange(self.tile_rows) + 0.5) * self.cell_height
        return xs, ys

    def world_pixel_for_point(self, x: float, y: float) -> tuple[int, int]:
        """Global pixel index (px from west, py from north) across the layout."""
        px = int(math.floor((x - self.extent.xmin) / self.cell_width))
        py = int(math.floor((self.extent.ymax - y) / self.cell_height))
        return px, py


def zoomed_layout(zoom: int, tile_size: int = 256) -> LayoutDefinition:
    """ZoomedLayoutScheme analog (DatacubeSupport.getLayout,
    DatacubeSupport.scala:42-57): the global grid at a TMS-style zoom level —
    2^(zoom+1) x 2^zoom tiles over the world extent (two root tiles, matching
    GlobalGrid's cell hierarchy so cell ids and tile keys coincide)."""
    return LayoutDefinition(
        WORLD_EXTENT, 2 ** (zoom + 1), 2**zoom, tile_size, tile_size
    )


def floating_layout(extent: Extent, tile_cols: int = 256, tile_rows: int = 256,
                    cell_size: float | None = None) -> LayoutDefinition:
    """FloatingLayoutScheme analog (DatacubeSupport.scala:42-97): grid sized to
    cover ``extent`` at native resolution, expanded so keys start at (0, 0)
    and there are never negative keys (reference snaps/expands at :72-80)."""
    if cell_size is None:
        cell_size = extent.width / (tile_cols * 4)
    tile_w = cell_size * tile_cols
    tile_h = cell_size * tile_rows
    layout_cols = max(1, int(math.ceil(extent.width / tile_w)))
    layout_rows = max(1, int(math.ceil(extent.height / tile_h)))
    full = Extent(
        extent.xmin,
        extent.ymax - layout_rows * tile_h,
        extent.xmin + layout_cols * tile_w,
        extent.ymax,
    )
    return LayoutDefinition(full, layout_cols, layout_rows, tile_cols, tile_rows)


# ---------------------------------------------------------------------------
# Morton / Z-curve (partition-ordering key)
# ---------------------------------------------------------------------------

_B = [
    np.uint64(0x5555555555555555),
    np.uint64(0x3333333333333333),
    np.uint64(0x0F0F0F0F0F0F0F0F),
    np.uint64(0x00FF00FF00FF00FF),
    np.uint64(0x0000FFFF0000FFFF),
]


def _part1by1(v: np.ndarray) -> np.ndarray:
    # mask to the 32-bit input domain so negative/oversized inputs behave
    # identically to the Column mirror (operators/spatial_join.zindex_col)
    v = v.astype(np.uint64) & np.uint64(0xFFFFFFFF)
    v = (v | (v << np.uint64(16))) & _B[4]
    v = (v | (v << np.uint64(8))) & _B[3]
    v = (v | (v << np.uint64(4))) & _B[2]
    v = (v | (v << np.uint64(2))) & _B[1]
    v = (v | (v << np.uint64(1))) & _B[0]
    return v


def zindex(cols, rows):
    """Vectorized Morton interleave of (col, row) -> int64. Mirrors the
    Z-curve ``PartitionerIndex`` ordering (geotrellis-common package.scala:38-49)
    but is just a sortable column here — Spark range/hash partitions on it."""
    c = np.asarray(cols)
    r = np.asarray(rows)
    z = _part1by1(c) | (_part1by1(r) << np.uint64(1))
    return z.astype(np.int64)


#: magic masks spreading a 21-bit value into every 3rd bit (Morton-3)
_B3 = tuple(
    np.uint64(m)
    for m in (
        0x1249249249249249,
        0x10C30C30C30C30C3,
        0x100F00F00F00F00F,
        0x1F0000FF0000FF,
        0x1F00000000FFFF,
    )
)


def _part1by2(v: np.ndarray) -> np.ndarray:
    # 21-bit domain: 3 x 21 = 63 bits keeps the interleave in int64 —
    # the SfCurve Z3 layout the reference's space-time index uses
    v = v.astype(np.uint64) & np.uint64(0x1FFFFF)
    v = (v | (v << np.uint64(32))) & _B3[4]
    v = (v | (v << np.uint64(16))) & _B3[3]
    v = (v | (v << np.uint64(8))) & _B3[2]
    v = (v | (v << np.uint64(4))) & _B3[1]
    v = (v | (v << np.uint64(2))) & _B3[0]
    return v


def zindex3(cols, rows, times):
    """Vectorized Morton-3 interleave of (col, row, day-index) -> int64 —
    the reference's space-time Z-curve (SfCurveZSpaceTimeKeyIndex.byDay,
    geotrellis-common zcurve/; exercised by its Z3Test). A sortable
    clustering key for spacetime cubes: pass to ResumableWriter(order_by=)
    so range scans windowed in x, y AND time prune row groups."""
    c = np.asarray(cols)
    r = np.asarray(rows)
    t = np.asarray(times)
    z = _part1by2(c) | (_part1by2(r) << np.uint64(1)) | (_part1by2(t) << np.uint64(2))
    return z.astype(np.int64)


# ---------------------------------------------------------------------------
# Hierarchical cells (H3/S2 analog): quadtree over WORLD_EXTENT
# ---------------------------------------------------------------------------

MAX_RES = 27  # x needs res+1 bits horizontally; 27 keeps the id in int64


class GlobalGrid:
    """Hierarchical cell grid: at resolution r the world is 2^(r+1) x 2^r
    square cells (two root cells side by side, like the WGS84 TMS scheme).

    Cell id encoding (int64): ``res << 56 | x << 28 | y``, so cell lookups
    and k-rings are integer arithmetic — usable as join/partition keys
    directly. Covers go through :meth:`layout`.
    """

    extent = WORLD_EXTENT

    @staticmethod
    def n_cells(res: int) -> tuple[int, int]:
        return 2 ** (res + 1), 2**res

    @staticmethod
    def cell_size(res: int) -> float:
        return 180.0 / (2**res)

    @classmethod
    def layout(cls, res: int) -> LayoutDefinition:
        """The grid at ``res`` as a layout of 1x1-pixel tiles: cell
        ``(x, y)`` is key ``(x, ny - 1 - y)`` (layout rows grow southward)."""
        return LayoutDefinition(cls.extent, *cls.n_cells(res), 1, 1)

    @staticmethod
    def encode(res, x, y):
        res_a = np.asarray(res, dtype=np.int64)
        x_a = np.asarray(x, dtype=np.int64)
        y_a = np.asarray(y, dtype=np.int64)
        return (res_a << 56) | (x_a << 28) | y_a

    @staticmethod
    def decode(cell_id):
        c = np.asarray(cell_id, dtype=np.int64)
        res = c >> 56
        x = (c >> 28) & np.int64((1 << 28) - 1)
        y = c & np.int64((1 << 28) - 1)
        return res, x, y

    @classmethod
    def cell_for_point(cls, res: int, xs, ys):
        """Vectorized point -> cell id at resolution ``res``."""
        size = cls.cell_size(res)
        nx, ny = cls.n_cells(res)
        x = np.clip(((np.asarray(xs) - cls.extent.xmin) // size).astype(np.int64), 0, nx - 1)
        y = np.clip(((np.asarray(ys) - cls.extent.ymin) // size).astype(np.int64), 0, ny - 1)
        return cls.encode(res, x, y)

    @classmethod
    def cell_extent(cls, cell_id: int) -> Extent:
        res, x, y = cls.decode(cell_id)
        res, x, y = int(res), int(x), int(y)
        size = cls.cell_size(res)
        xmin = cls.extent.xmin + x * size
        ymin = cls.extent.ymin + y * size
        return Extent(xmin, ymin, xmin + size, ymin + size)

    @classmethod
    def k_ring(cls, cell_id: int, k: int = 1) -> list[int]:
        """All cells within Chebyshev distance k (incl. self) at same res —
        the cell-ring neighborhood for kNN expansion / focal halos."""
        res, x, y = (int(v) for v in cls.decode(cell_id))
        nx, ny = cls.n_cells(res)
        out = []
        for dy in range(-k, k + 1):
            yy = y + dy
            if yy < 0 or yy >= ny:
                continue
            for dx in range(-k, k + 1):
                out.append(int(cls.encode(res, (x + dx) % nx, yy)))  # wrap antimeridian
        return out

