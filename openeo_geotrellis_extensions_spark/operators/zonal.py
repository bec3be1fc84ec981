"""aggregate_spatial — zonal statistics of a datacube over polygon features.

Reference pipeline (AggregatePolygonProcess.aggregateSpatialGeneric,
openeo-geotrellis/.../aggregate_polygon/AggregatePolygonProcess.scala:238-374):
rasterize polygons to a zone layer, join with the cube, emit one Row per
(date, feature, pixel), then Spark SQL groupBy("date","feature_index").agg.

Ours keeps the same relational tail but replaces the pixel-row explosion with
**map-side partial aggregation inside the Arrow UDF** (count/sum/min/max/ssq
per tile — the RunningTotal monoid of intern/ZonalRunningTotal.scala:16-101,
generalized), so shuffle volume is O(tiles x features x bands), not
O(pixels). A pixel covered by k overlapping polygons contributes to all k
(the reference's multi-zone emit, AggregatePolygonProcess.scala:287-306).

Dense-result semantics preserved: every (date, feature) pair appears in the
output even when no valid pixels exist (NaN stats) — the reference's
left-join restore at AggregatePolygonProcess.scala:365-370.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from ..core.geom import fills_bbox, parse_geometry
from ..core.tiles import decode_tiles, tile_chunks
from ..sources.datacube import DataCube
from .cover import feature_geometries, feature_tile_keys, pixel_masks

_PARTIAL_SCHEMA = StructType(
    [
        StructField("time", TimestampType()),
        StructField("feature_index", IntegerType()),
        StructField("band", IntegerType()),
        StructField("cnt", LongType()),
        StructField("sm", DoubleType()),
        StructField("mn", DoubleType()),
        StructField("mx", DoubleType()),
        StructField("ssq", DoubleType()),
    ]
)


def aggregate_spatial(
    cube: DataCube,
    features: DataFrame,
    round_to: int | None = None,
) -> DataFrame:
    """Zonal stats: (time, feature_index, band, count, mean, min, max, sum,
    variance, sd) — one row per (date x feature x band), dense.

    variance/sd are the sample statistics, matching the reference's use of
    Spark's ``variance``/``stddev`` (SparkAggregateScriptBuilder.scala:126-150).
    """
    layout = cube.meta.layout
    ct_name = cube.meta.cell_type
    shape = cube.meta.tile_shape
    n_bands = cube.meta.n_bands

    fkeys = F.broadcast(feature_tile_keys(features, layout))
    mask_of = pixel_masks(feature_geometries(features), layout)
    joined = cube.df.join(fkeys, ["col", "row"], "inner")

    def partials(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for full_pdf in it:
            # bounded chunks: the vectorized reduce materializes a few
            # (rows, nb, h, w) float64 temporaries
            for pdf in tile_chunks(full_pdf, n_bands, shape):
                # one decode pass for the chunk: (n, nb, h, w) with NaN
                cube_vals = decode_tiles(pdf["bands"].tolist(), ct_name, shape, n_bands)
                contained = pdf["contained"].to_numpy(dtype=bool)
                cols_a = pdf["col"].to_numpy()
                rows_a = pdf["row"].to_numpy()
                fis_a = pdf["feature_index"].to_numpy()
                # interior ('contained') rows keep the implicit all-ones
                # mask; only boundary rows rasterize their geometry
                for i in np.nonzero(~contained)[0]:
                    mask = mask_of(int(fis_a[i]), int(cols_a[i]), int(rows_a[i]), False)
                    # apply boundary mask IN PLACE on the owned decode buffer
                    cube_vals[i, :, ~mask] = np.nan
                # vectorized per-(row, band) stats; temporaries are created
                # one at a time and freed, each bounded by chunk_rows
                valid = ~np.isnan(cube_vals)
                cnt = valid.sum(axis=(2, 3))                   # (n, nb)
                tmp = np.where(valid, cube_vals, 0.0)
                sm = tmp.sum(axis=(2, 3))
                tmp *= tmp
                ssq = tmp.sum(axis=(2, 3))
                np.copyto(tmp, cube_vals, where=valid)
                np.copyto(tmp, np.inf, where=~valid)
                mn = tmp.min(axis=(2, 3))
                np.copyto(tmp, -np.inf, where=~valid)
                mx = tmp.max(axis=(2, 3))
                del tmp, valid
                # emit only (row, band) cells with >=1 valid pixel (masked-out
                # pixels are NaN) — NaN partials would poison group min/max;
                # dense restore fills the missing rows downstream
                ri, bi = np.nonzero(cnt > 0)
                yield pd.DataFrame(
                    {
                        "time": pdf["time"].to_numpy()[ri],
                        "feature_index": fis_a[ri],
                        "band": bi.astype(np.int32),
                        "cnt": cnt[ri, bi].astype(np.int64),
                        "sm": sm[ri, bi],
                        "mn": mn[ri, bi],
                        "mx": mx[ri, bi],
                        "ssq": ssq[ri, bi],
                    }
                )

    part = joined.mapInPandas(partials, schema=_PARTIAL_SCHEMA)

    agg = part.groupBy("time", "feature_index", "band").agg(
        F.sum("cnt").alias("count"),
        F.sum("sm").alias("sum"),
        F.min("mn").alias("min"),
        F.max("mx").alias("max"),
        F.sum("ssq").alias("_ssq"),
    )
    mean = F.when(F.col("count") > 0, F.col("sum") / F.col("count"))
    var = F.when(
        F.col("count") > 1,
        (F.col("_ssq") - F.col("count") * (F.col("sum") / F.col("count")) ** 2)
        / (F.col("count") - 1),
    )
    stats = agg.select(
        "time", "feature_index", "band", "count", "sum", "min", "max",
        mean.alias("mean"),
        var.alias("variance"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("sd"),
    )

    return _dense(cube, features, stats, "count", 0, round_to)


def _dense(
    cube: DataCube, features: DataFrame, stats: DataFrame, count_col: str,
    zero, round_to: int | None,
) -> DataFrame:
    """Dense restore: every (date, feature, band) present even with 0 pixels
    (``count_col`` = ``zero``); the double-valued columns rounded to
    ``round_to`` places. distinct_times uses the constructor's cheap
    pre-Python lineage when available — the full cube.df branch would re-run
    the opaque tile stage just to enumerate dates."""
    dates = cube.distinct_times()
    bands_df = dates.sparkSession.range(cube.meta.n_bands).select(
        F.col("id").cast("int").alias("band")
    )
    full = dates.crossJoin(F.broadcast(features.select("feature_index"))).crossJoin(
        F.broadcast(bands_df)
    )
    out = full.join(stats, ["time", "feature_index", "band"], "left").withColumn(
        count_col, F.coalesce(F.col(count_col), F.lit(zero))
    )
    if round_to is not None:
        for f in out.schema.fields:
            if isinstance(f.dataType, DoubleType):
                out = out.withColumn(f.name, F.round(F.col(f.name), round_to))
    return out


def _scanline_cover_areas(
    g, te, h: int, w: int, cw: float, ch: float
) -> np.ndarray:
    """Exact per-pixel intersection areas of geometry ``g`` with the
    ``h`` x ``w`` pixel grid of tile extent ``te`` — the scanline
    replacement for clipping every pixel independently.

    Per pixel ROW band each ring is Sutherland-Hodgman-clipped ONCE (to
    the band's y-slab only; x is left unclipped). The area of the clipped
    ring left of a vertical line x = t is, by Green's theorem with
    F = (min(x, t), 0):

        A_left(t) = oint min(x, t) dy
                  = sum_edges dy_e * (mean of min(x, t) along the edge)

    where the per-edge mean has the closed form avg(x) - penalty(t) with
    penalty = 0 for t >= max(x), avg(x) - t for t <= min(x), and
    (max(x) - t)^2 / (2 * (max(x) - min(x))) in between — evaluated for
    ALL column boundaries at once as a numpy expression. Column areas are
    consecutive differences of A_left; ring orientation is normalized by
    the sign of the ring's total signed area; holes subtract (the same
    exterior-minus-holes convention as :func:`core.geom.clipped_area`,
    with the per-pixel total clamped at >= 0).

    The result is exact up to float rounding; it can differ from the
    per-pixel clip path by ulps (a different but equally exact operation
    order), which is below the 1e-6 micro-weight quantization except for
    areas engineered to sit within an ulp of a half-micro boundary."""
    from ..core.geom import clip_ring_to_rect
    from ..core.grid import Extent as _Extent

    if g.kind in ("Point", "MultiPoint"):
        return np.zeros((h, w))
    tb = te.xmin + np.arange(w + 1) * cw  # column boundaries, (w+1,)
    total = np.zeros((h, w))
    for poly in g.polygons:
        for ri, ring in enumerate(poly):
            r = np.asarray(ring, dtype=np.float64)
            if len(r) < 3:
                continue
            # y-slab-only clip window: x bounds strictly outside the ring
            # so the two x planes are exact no-ops
            rx0 = float(r[:, 0].min()) - 1.0
            rx1 = float(r[:, 0].max()) + 1.0
            for iy in range(h):
                band = _Extent(
                    rx0, te.ymax - (iy + 1) * ch, rx1, te.ymax - iy * ch
                )
                cr = clip_ring_to_rect(r, band)
                if len(cr) < 3:
                    continue
                xa = cr[:, 0][:, None]                   # (E, 1)
                ya = cr[:, 1]
                xb = np.roll(cr[:, 0], -1)[:, None]
                dy = (np.roll(ya, -1) - ya)[:, None]     # (E, 1)
                lo = np.minimum(xa, xb)
                hi = np.maximum(xa, xb)
                avg = (xa + xb) * 0.5
                t = tb[None, :]                          # (1, w+1)
                span = hi - lo
                # penalty = integral of max(x - t, 0) along the edge
                mid = np.where(span > 0.0, (hi - t) ** 2 / (2.0 * np.where(span > 0.0, span, 1.0)), np.maximum(xa - t, 0.0))
                penalty = np.where(t >= hi, 0.0, np.where(t <= lo, avg - t, mid))
                a_left = (dy * (avg - penalty)).sum(axis=0)  # (w+1,)
                cols = np.diff(a_left)
                # orientation-normalize (per-ring abs, like _ring_area):
                # oint x dy = sum(dy * avg) is the ring's signed area
                sgn = 1.0 if (dy * avg).sum() >= 0.0 else -1.0
                contrib = sgn * cols
                total[iy] += contrib if ri == 0 else -contrib
    return np.maximum(total, 0.0)


_WPARTIAL_SCHEMA = StructType(
    [
        StructField("time", TimestampType()),
        StructField("feature_index", IntegerType()),
        StructField("band", IntegerType()),
        StructField("qcnt", LongType()),
        StructField("qsum", LongType()),
    ]
)


def aggregate_spatial_weighted(
    cube: DataCube,
    features: DataFrame,
    round_to: int | None = None,
) -> DataFrame:
    """AREA-WEIGHTED zonal stats — openEO's fractional-pixel weighting that
    the pixel-center rule of :func:`aggregate_spatial` cannot express: each
    valid pixel contributes w = area(pixel ∩ feature) / pixel_area, so a
    polygon edge crossing a pixel counts it fractionally instead of
    all-or-nothing. -> dense (time, feature_index, band, wcount, wsum,
    wmean).

    Weights quantize to integer MICRO-WEIGHTS (floor(w * 1e6 + 0.5)) before
    any summation, so every partial sum is an exact integer — identical
    under any aggregation order, partitioning, or engine (the order-proof
    trick shared with unigram_lm); wmean is a ratio of exact integers.
    Caveat (ADVICE r5): the order-proof guarantee covers INTEGER-VALUED
    cell values (all engine cell types here are integer-coded); a cube
    with arbitrary float cells would truncate weight*value products at
    the int64 cast and lose the fractional part.

    Fast paths per (tile, feature): interior tiles take the constant full
    weight; boundary tiles against RECTANGLE features compute the exact
    per-axis overlap separably (outer product — O(h + w) work per tile);
    general polygons use an exact SCANLINE integral: one Sutherland-
    Hodgman clip per pixel ROW band, then the per-column areas fall out of
    a vectorized Green's-theorem partial integral A_left(t) = oint
    min(x, t) dy evaluated at every column boundary at once — O(h * E)
    clips and no per-pixel Python loop (was O(h * w) clips)."""
    layout = cube.meta.layout
    ct_name = cube.meta.cell_type
    shape = cube.meta.tile_shape
    n_bands = cube.meta.n_bands

    fkeys = F.broadcast(feature_tile_keys(features, layout))
    feat_map = feature_geometries(features)
    joined = cube.df.join(fkeys, ["col", "row"], "inner")

    def partials(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        geom_cache: dict[int, tuple] = {}  # fi -> (geometry, bbox if a rectangle)
        wq_cache: dict[tuple, np.ndarray] = {}
        h, w = shape
        cw, ch = layout.cell_width, layout.cell_height
        full_wq = np.full(shape, 1_000_000, dtype=np.int64)

        def weight_grid(fi: int, c: int, r: int) -> np.ndarray:
            key = (fi, c, r)
            wq = wq_cache.get(key)
            if wq is not None:
                return wq
            if fi not in geom_cache:
                g = parse_geometry(feat_map[fi])
                geom_cache[fi] = (g, g.bbox() if fills_bbox(g) else None)
            g, bb = geom_cache[fi]
            te = layout.extent_for_key(c, r)
            if bb is not None:  # rect feature: separable exact overlap
                px0 = te.xmin + np.arange(w) * cw
                px1 = te.xmin + (np.arange(w) + 1) * cw
                pyt = te.ymax - np.arange(h) * ch
                pyb = te.ymax - (np.arange(h) + 1) * ch
                ox = np.clip(
                    np.minimum(px1, bb.xmax) - np.maximum(px0, bb.xmin), 0.0, None
                )
                oy = np.clip(
                    np.minimum(pyt, bb.ymax) - np.maximum(pyb, bb.ymin), 0.0, None
                )
                wq = np.floor(
                    np.outer(oy, ox) / (cw * ch) * 1_000_000.0 + 0.5
                ).astype(np.int64)
            else:  # general polygon: exact scanline coverage integral
                areas = _scanline_cover_areas(g, te, h, w, cw, ch)
                wq = np.floor(
                    areas / (cw * ch) * 1_000_000.0 + 0.5
                ).astype(np.int64)
            wq_cache[key] = wq
            return wq

        for pdf in (p for batch in it for p in tile_chunks(batch, n_bands, shape)):
            nrow = len(pdf)
            cube_vals = decode_tiles(pdf["bands"].tolist(), ct_name, shape, n_bands)
            contained = pdf["contained"].to_numpy(dtype=bool)
            cols_a = pdf["col"].to_numpy()
            rows_a = pdf["row"].to_numpy()
            fis_a = pdf["feature_index"].to_numpy()
            out_rows = {k: [] for k in ("time", "fi", "band", "qcnt", "qsum")}
            for i in range(nrow):
                fi = int(fis_a[i])
                wq = (
                    full_wq
                    if contained[i]
                    else weight_grid(fi, int(cols_a[i]), int(rows_a[i]))
                )
                vals = cube_vals[i]  # (nb, h, w)
                valid = ~np.isnan(vals)
                qcnt = (wq[None, :, :] * valid).sum(axis=(1, 2))
                qsum = (
                    (wq[None, :, :] * np.where(valid, vals, 0.0))
                    .sum(axis=(1, 2))
                    .astype(np.int64)
                )
                for b in range(n_bands):
                    if qcnt[b] > 0:
                        out_rows["time"].append(pdf["time"].iloc[i])
                        out_rows["fi"].append(fi)
                        out_rows["band"].append(b)
                        out_rows["qcnt"].append(int(qcnt[b]))
                        out_rows["qsum"].append(int(qsum[b]))
            yield pd.DataFrame(
                {
                    "time": out_rows["time"],
                    "feature_index": np.array(out_rows["fi"], dtype=np.int32),
                    "band": np.array(out_rows["band"], dtype=np.int32),
                    "qcnt": np.array(out_rows["qcnt"], dtype=np.int64),
                    "qsum": np.array(out_rows["qsum"], dtype=np.int64),
                }
            )

    part = joined.mapInPandas(partials, schema=_WPARTIAL_SCHEMA)
    agg = part.groupBy("time", "feature_index", "band").agg(
        F.sum("qcnt").alias("_qc"), F.sum("qsum").alias("_qs")
    )
    stats = agg.select(
        "time",
        "feature_index",
        "band",
        (F.col("_qc") / F.lit(1_000_000.0)).alias("wcount"),
        (F.col("_qs") / F.lit(1_000_000.0)).alias("wsum"),
        F.when(F.col("_qc") > 0, F.col("_qs") / F.col("_qc")).alias("wmean"),
    )
    return _dense(cube, features, stats, "wcount", 0.0, round_to)
