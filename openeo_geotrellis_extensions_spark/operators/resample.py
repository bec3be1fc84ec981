"""resample_spatial / retile — regrid a cube onto a new layout.

Reference: ``resampleCubeSpatial*`` (OpenEOProcesses.scala:832-880) with the
no-op short-circuit when grids already align (:833-835); the engine fork of
TileRDDReproject (reproject/TileRDDReproject.scala:40-419): buffer ->
per-tile region resample into the target grid -> merge fragments by new key;
``retile`` (OpenEOProcesses.scala:1001-1047).

Ours: each source tile emits one fragment per overlapped target key
(mapInPandas), then ``groupBy(target key)`` merges fragments — the classic
explode + shuffle + merge, expressed as DataFrame ops so AQE sizes the
shuffle. Nearest-neighbor sampling; CRS warping (EPSG:4326 <-> EPSG:3857
and WGS84 UTM zones, core/proj.py) runs through the same fragment step by
forward-projecting the source footprint and inverse-projecting the 2-D grid
of target pixel centers.
Bilinear first pads each tile with a one-pixel halo via
``operators.kernel.halo_map`` (NaN past missing neighbors -> weights
renormalize), the halo exchange apply_kernel and apply_neighborhood share.
Negative/out-of-grid keys are filtered like filterNegativeSpatialKeys
(OpenEOProcesses.scala:804-830).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..core.celltype import parse_cell_type
from ..core.grid import LayoutDefinition
from ..core.tiles import decode_tiles, encode_tiles, tile_chunks
from ..sources.datacube import CubeMeta, DataCube, cube_schema
from .kernel import halo_map


def resample_spatial(
    cube: DataCube, target: LayoutDefinition, method: str = "near"
) -> DataCube:
    """Regrid onto ``target`` (no-op when layouts already match). When the
    target CRS differs, the SAME fragment step warps: the source tile extent
    is forward-projected to find overlapped target keys, and target pixel
    centers are inverse-projected back into source pixel space — through the
    closed-form EPSG:4326<->3857 / UTM math in core/proj.py (the reference's
    TileRDDReproject fork, re-expressed as explode + shuffle + merge).

    ``method``: 'near' (nearest-neighbor, default) or 'bilinear' — the two
    ResampleMethods the reference's reproject path exercises
    (TileRDDReproject.scala:40-90 takes a geotrellis ResampleMethod).
    Bilinear is NaN-aware: nodata neighbors drop out and the remaining
    weights renormalize (a fully-nodata neighborhood stays nodata), matching
    the ignore-nodata convention of the aggregation reducers."""
    from ..core.proj import point_transform, transform_extent

    if method in ("average", "sum", "min", "max"):
        return _resample_aggregate(cube, target, method)
    if method not in ("near", "bilinear"):
        raise ValueError(f"unknown resample method {method!r}")
    src = cube.meta.layout
    if src == target:
        return cube  # OpenEOProcesses.scala:833-835 short-circuit
    # validate the CRS pair up front (driver-side) so unsupported pairs fail
    # fast instead of inside executors; the general point transform covers
    # both separable (4326<->3857) and non-separable (UTM) pairs
    inv_pt = point_transform(target.crs, src.crs)

    ct = cube.meta.cell_type
    n_bands = cube.meta.n_bands
    shape = cube.meta.tile_shape
    # bilinear produces fractional values: output promotes to float64
    # (the reference's reproject likewise changes cell type with the method)
    out_ct = parse_cell_type("float64" if method == "bilinear" else ct)
    temporal = cube.meta.temporal
    frag_schema = cube_schema(temporal)
    bilinear = method == "bilinear"
    src_df = cube.df
    if bilinear:  # raw (h+2, w+2) float64 planes: 2x2 neighborhoods stay local
        src_df = halo_map(cube, (1, 1), lambda win: [pl.tobytes() for pl in win])

    def fragments(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        th, tw = target.tile_rows, target.tile_cols
        pad_shape = (shape[0] + 2, shape[1] + 2)
        for pdf in (p for batch in it for p in tile_chunks(batch, n_bands, pad_shape)):
            if bilinear:  # padded (h+2, w+2) float64 planes from halo_map
                stacks = [
                    np.stack([np.frombuffer(buf, dtype=np.float64).reshape(pad_shape)
                              for buf in bands])
                    for bands in pdf["bands"]
                ]
            else:
                stacks = decode_tiles(pdf["bands"].tolist(), ct, shape, n_bands)
            keys, frags = [], []
            for rec, stack in zip(pdf.itertuples(index=False), stacks):
                c, r = int(rec.col), int(rec.row)
                se = src.extent_for_key(c, r)
                # target keys overlapped by this source tile (footprint
                # forward-projected into the target CRS)
                se_t = transform_extent(se, src.crs, target.crs)
                for tc, tr in target.keys_for_extent(se_t):
                    xs, ys = target.pixel_centers_for_key(tc, tr)
                    # inverse-project the full grid of target centers into
                    # the source CRS — 2-D because UTM warps are not
                    # axis-separable (separable pairs broadcast unchanged)
                    XS, YS = np.meshgrid(xs, ys)
                    sx, sy = inv_pt(XS, YS)
                    px = np.floor((sx - se.xmin) / src.cell_width).astype(np.int64)
                    py = np.floor((se.ymax - sy) / src.cell_height).astype(np.int64)
                    # OWNERSHIP is nearest-neighbor for both methods: exactly
                    # one source tile claims each target pixel, so the merge
                    # step never sees two fragments with different values
                    ok = (px >= 0) & (px < shape[1]) & (py >= 0) & (py < shape[0])
                    if not ok.any():
                        continue
                    frag = np.full((n_bands, th, tw), np.nan)
                    if bilinear:
                        # fractional source-pixel coords relative to centers;
                        # the +1 shift indexes into the halo-padded plane, so
                        # owned pixels' 2x2 neighborhoods are always in range
                        fx = (sx - se.xmin) / src.cell_width - 0.5
                        fy = (se.ymax - sy) / src.cell_height - 0.5
                        x0 = np.floor(fx).astype(np.int64)
                        y0 = np.floor(fy).astype(np.int64)
                        wx = fx - x0
                        wy = fy - y0
                        xi = np.clip(x0 + 1, 0, shape[1])
                        yi = np.clip(y0 + 1, 0, shape[0])
                        for b in range(n_bands):
                            pl = stack[b]
                            vs = (pl[yi, xi], pl[yi, xi + 1],
                                  pl[yi + 1, xi], pl[yi + 1, xi + 1])
                            ws = ((1 - wx) * (1 - wy), wx * (1 - wy),
                                  (1 - wx) * wy, wx * wy)
                            tot = np.zeros_like(wx)
                            acc = np.zeros_like(wx)
                            for v, w in zip(vs, ws):
                                valid = ~np.isnan(v)
                                tot += np.where(valid, w, 0.0)
                                acc += np.where(valid, w * v, 0.0)
                            with np.errstate(invalid="ignore"):
                                val = np.where(tot > 0, acc / tot, np.nan)
                            frag[b][ok] = val[ok]
                    else:
                        for b in range(n_bands):
                            frag[b][ok] = stack[b][py[ok], px[ok]]
                    keys.append(([rec.time] if temporal else []) + [tc, tr])
                    frags.append(frag)
            cols = (["time"] if temporal else []) + ["col", "row"]
            yield pd.DataFrame(keys, columns=cols).assign(
                bands=encode_tiles(frags, out_ct)
            )

    frags = src_df.mapInPandas(fragments, schema=frag_schema)

    keys = (["time"] if temporal else []) + ["col", "row"]

    def merge_frags(pdf: pd.DataFrame) -> pd.DataFrame:
        frags = decode_tiles(
            pdf["bands"].tolist(), out_ct, (target.tile_rows, target.tile_cols), n_bands
        )
        acc = frags[0]
        for frag in frags[1:]:
            acc = np.where(np.isnan(acc), frag, acc)
        bands = encode_tiles(acc[None], out_ct)[0]
        first = pdf.iloc[0]
        row = ([first["time"]] if temporal else []) + [int(first["col"]), int(first["row"]), bands]
        return pd.DataFrame([row], columns=(["time"] if temporal else []) + ["col", "row", "bands"])

    merged = frags.groupBy(*keys).applyInPandas(merge_frags, schema=frag_schema)
    merged = merged.where(
        (F.col("col") >= 0) & (F.col("row") >= 0)
        & (F.col("col") < target.layout_cols) & (F.col("row") < target.layout_rows)
    )
    meta = CubeMeta(target, out_ct.name, cube.meta.band_names, temporal)
    return DataCube(merged, meta)


def _resample_aggregate(
    cube: DataCube, target: LayoutDefinition, method: str
) -> DataCube:
    """Aggregate (area-based) downscale: every target pixel is the
    average/sum/min/max of the VALID source pixels whose centers fall inside
    it — the geotrellis Average/Sum/Min/Max ResampleMethods the reference's
    resample_spatial exposes (TileRDDReproject takes any ResampleMethod;
    openEO's 10m->60m 'average' workflows use exactly this).

    Same-CRS only (an area aggregate under a warp needs area weighting; the
    reference's reproject likewise point-samples for warps). Distributed
    shape: each source tile bincount-reduces its pixels into PARTIAL
    (acc, count) planes per overlapped target key — map-side combine in
    numpy — then one groupBy(target key) merges partials, so the shuffle
    carries one fragment per (source tile x overlapped target tile), never
    pixels. Blocks spanning source-tile borders are exact because partials
    compose (sum/count add; min/max fold). Median is NOT offered: it does
    not decompose into partials (the reference's Median resample has the
    same cross-tile caveat).
    """
    src = cube.meta.layout
    if src == target:
        return cube
    if src.crs != target.crs:
        raise ValueError(
            f"aggregate resample '{method}' requires matching CRS "
            f"(got {src.crs} -> {target.crs}); warp first, then aggregate"
        )
    ct = cube.meta.cell_type
    n_bands = cube.meta.n_bands
    shape = cube.meta.tile_shape
    out_ct = parse_cell_type("float64")
    temporal = cube.meta.temporal
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        IntegerType,
        StructField,
        StructType,
        TimestampType,
    )

    part_schema = StructType(
        ([StructField("time", TimestampType())] if temporal else [])
        + [
            StructField("col", IntegerType()),
            StructField("row", IntegerType()),
            StructField("accs", ArrayType(BinaryType())),
            StructField("cnts", ArrayType(BinaryType())),
        ]
    )
    is_minmax = method in ("min", "max")

    def partials(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        th, tw = target.tile_rows, target.tile_cols
        for pdf in (p for batch in it for p in tile_chunks(batch, n_bands, shape)):
            rows = []
            stacks = decode_tiles(pdf["bands"].tolist(), ct, shape, n_bands)
            for rec, stack in zip(pdf.itertuples(index=False), stacks):
                c, r = int(rec.col), int(rec.row)
                se = src.extent_for_key(c, r)
                # source pixel centers -> global target pixel indices
                xs = se.xmin + (np.arange(shape[1]) + 0.5) * src.cell_width
                ys = se.ymax - (np.arange(shape[0]) + 0.5) * src.cell_height
                gx = np.floor((xs - target.extent.xmin) / target.cell_width).astype(
                    np.int64
                )
                gy = np.floor((target.extent.ymax - ys) / target.cell_height).astype(
                    np.int64
                )
                GX, GY = np.meshgrid(gx, gy)
                for tc in np.unique(GX // tw):
                    for tr in np.unique(GY // th):
                        if not (
                            0 <= tc < target.layout_cols
                            and 0 <= tr < target.layout_rows
                        ):
                            continue
                        inx = GX - tc * tw
                        iny = GY - tr * th
                        own = (inx >= 0) & (inx < tw) & (iny >= 0) & (iny < th)
                        if not own.any():
                            continue
                        flat = (iny * tw + inx)[own]
                        accs, cnts = [], []
                        for b in range(n_bands):
                            v = stack[b][own]
                            valid = ~np.isnan(v)
                            cnt = np.bincount(
                                flat[valid], minlength=th * tw
                            ).astype(np.float64)
                            if is_minmax:
                                op = np.minimum if method == "min" else np.maximum
                                tmp = np.full(
                                    th * tw, np.inf if method == "min" else -np.inf
                                )
                                op.at(tmp, flat[valid], v[valid])
                                acc = np.where(cnt > 0, tmp, np.nan)
                            else:
                                acc = np.bincount(
                                    flat[valid],
                                    weights=v[valid],
                                    minlength=th * tw,
                                )
                            accs.append(acc.reshape(th, tw).tobytes())
                            cnts.append(cnt.reshape(th, tw).tobytes())
                        key = [rec.time] if temporal else []
                        rows.append(key + [int(tc), int(tr), accs, cnts])
            cols = (["time"] if temporal else []) + ["col", "row", "accs", "cnts"]
            yield pd.DataFrame(rows, columns=cols)

    frags = cube.df.mapInPandas(partials, schema=part_schema)
    keys = (["time"] if temporal else []) + ["col", "row"]
    out_schema = cube_schema(temporal)

    def merge_partials(pdf: pd.DataFrame) -> pd.DataFrame:
        th, tw = target.tile_rows, target.tile_cols
        acc = np.full((n_bands, th, tw), np.nan)
        cnt = np.zeros((n_bands, th, tw))
        for accs, cnts in zip(pdf["accs"], pdf["cnts"]):
            for b in range(n_bands):
                a = np.frombuffer(accs[b], dtype=np.float64).reshape(th, tw)
                n = np.frombuffer(cnts[b], dtype=np.float64).reshape(th, tw)
                if is_minmax:
                    both = ~np.isnan(acc[b]) & ~np.isnan(a)
                    op = np.fmin if method == "min" else np.fmax
                    acc[b] = np.where(
                        both, op(acc[b], a), np.where(np.isnan(acc[b]), a, acc[b])
                    )
                else:
                    acc[b] = np.where(
                        np.isnan(acc[b]), a, acc[b] + np.nan_to_num(a)
                    )
                cnt[b] += n
        with np.errstate(invalid="ignore"):
            if method == "average":
                out = np.where(cnt > 0, acc / np.where(cnt > 0, cnt, 1.0), np.nan)
            elif method == "sum":
                out = np.where(cnt > 0, acc, np.nan)
            else:
                out = acc
        bands = encode_tiles(out[None], out_ct)[0]
        first = pdf.iloc[0]
        row = ([first["time"]] if temporal else []) + [
            int(first["col"]),
            int(first["row"]),
            bands,
        ]
        return pd.DataFrame(
            [row], columns=(["time"] if temporal else []) + ["col", "row", "bands"]
        )

    merged = frags.groupBy(*keys).applyInPandas(merge_partials, schema=out_schema)
    meta = CubeMeta(target, out_ct.name, cube.meta.band_names, temporal)
    return DataCube(merged, meta)


def retile(cube: DataCube, tile_cols: int, tile_rows: int) -> DataCube:
    """Re-chunk to a new tile size over the same extent/resolution
    (OpenEOProcesses.retile :1001-1047). Pixel-preserving: the target layout
    keeps the cell size, so nearest-neighbor sampling is exact."""
    src = cube.meta.layout
    total_px_x = src.layout_cols * src.tile_cols
    total_px_y = src.layout_rows * src.tile_rows
    target = LayoutDefinition(
        src.extent,
        math.ceil(total_px_x / tile_cols),
        math.ceil(total_px_y / tile_rows),
        tile_cols,
        tile_rows,
        src.crs,
    )
    if (
        target.layout_cols * tile_cols != total_px_x
        or target.layout_rows * tile_rows != total_px_y
    ):
        raise ValueError("retile size must evenly divide the pixel grid")
    return resample_spatial(cube, target)


def resample_cube_spatial(cube: DataCube, target: DataCube) -> DataCube:
    """openEO resample_cube_spatial (OpenEOProcesses.resampleCubeSpatial,
    OpenEOProcesses.scala:832-880): regrid ``cube`` onto ``target``'s layout
    (CRS warp included when their CRSs differ)."""
    return resample_spatial(cube, target.meta.layout)


def resample_spatial_resolution(
    cube: DataCube,
    resolution: float,
    projection: str | None = None,
) -> DataCube:
    """openEO resample_spatial's (resolution, projection) signature: derive
    the target layout from the requested cell size over the (reprojected)
    cube extent, keeping the tile pixel size; then regrid/warp through
    resample_spatial. ``resolution`` is in target-CRS units per pixel."""
    from ..core.proj import transform_extent

    src = cube.meta.layout
    crs = projection or src.crs
    ext = transform_extent(src.extent, src.crs, crs)
    layout_cols = max(1, math.ceil(ext.width / (resolution * src.tile_cols)))
    layout_rows = max(1, math.ceil(ext.height / (resolution * src.tile_rows)))
    # grow the extent to a whole number of tiles so cell size is EXACTLY
    # ``resolution`` (grid-alignment invariant: keys stay in [0, layout))
    target = LayoutDefinition(
        type(ext)(
            ext.xmin,
            ext.ymax - layout_rows * resolution * src.tile_rows,
            ext.xmin + layout_cols * resolution * src.tile_cols,
            ext.ymax,
        ),
        layout_cols,
        layout_rows,
        src.tile_cols,
        src.tile_rows,
        crs,
    )
    return resample_spatial(cube, target)
