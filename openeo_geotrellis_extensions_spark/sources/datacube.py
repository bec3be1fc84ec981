"""The raster datacube as a DataFrame.

Reference shape: ``RDD[(SpaceTimeKey, MultibandTile)] with
Metadata[TileLayerMetadata[K]]`` (OpenEOProcesses.scala:122-125). Ours:

    DataFrame columns:
        time  : timestamp   (absent on spatial-only cubes)
        col   : int         tile column (0-based, west->east)
        row   : int         tile row    (0-based, north->south)
        bands : array<binary>  raw C-order band buffers ('' = all-nodata band)

    CubeMeta (driver-side, like TileLayerMetadata — DatacubeSupport.scala:110-120):
        layout, cell_type, band_names, temporal flag

Tiles are produced/consumed only inside Arrow pandas UDFs; everything between
is declarative DataFrame code that Catalyst optimizes (key filters push down
to parquet scans because keys are plain int columns).
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    StructField,
    StructType,
    TimestampType,
)

from ..core.grid import LayoutDefinition
from ..core.tiles import as_tile, encode_tiles, tile_chunks
from .interleaved import (
    DATES,
    MEDIA_CELL_TYPE,
    explode_spans,
    media_layout,
)


@dataclass(frozen=True)
class CubeMeta:
    layout: LayoutDefinition
    cell_type: str
    band_names: tuple[str, ...]
    temporal: bool = True

    @property
    def tile_shape(self) -> tuple[int, int]:
        return (self.layout.tile_rows, self.layout.tile_cols)

    @property
    def n_bands(self) -> int:
        return len(self.band_names)


@dataclass
class DataCube:
    """df + meta. All operators take/return this (SURVEY §1.4)."""

    df: DataFrame
    meta: CubeMeta
    #: optional cheap lineage for ``df.select('time').distinct()`` — cube
    #: constructors whose tiles come out of an opaque mapInPandas stage set
    #: this to the PRE-Python distinct-times frame, so consumers doing a
    #: dense restore (aggregate_spatial's every-(date,feature) output) do
    #: not re-run the whole Python tile stage just to enumerate dates
    #: (column pruning cannot reach through mapInPandas, guide §4.1/§2.4)
    times: DataFrame | None = None

    @property
    def key_cols(self) -> list[str]:
        return (["time"] if self.meta.temporal else []) + ["col", "row"]

    def distinct_times(self) -> DataFrame:
        """(time) distinct — via the cheap ``times`` lineage when present."""
        if self.times is not None:
            return self.times
        return self.df.select("time").distinct()

    def with_df(self, df: DataFrame) -> "DataCube":
        # deliberately drops ``times``: an arbitrary df transform may have
        # changed the time dimension, so the hint would be unsound
        return DataCube(df, self.meta)

    def with_meta(self, **kw) -> "DataCube":
        return DataCube(self.df, replace(self.meta, **kw))


def cube_schema(temporal: bool) -> StructType:
    fields = []
    if temporal:
        fields.append(StructField("time", TimestampType()))
    fields += [
        StructField("col", IntegerType()),
        StructField("row", IntegerType()),
        StructField("bands", ArrayType(BinaryType())),
    ]
    return StructType(fields)


# ---------------------------------------------------------------------------
# Constructors
# ---------------------------------------------------------------------------


def constant_cube(
    spark: SparkSession,
    layout: LayoutDefinition,
    dates: list[str] | None = None,
    band_values: list[float | None] = (10, None),
    cell_type: str = "uint8ud255",
    band_names: tuple[str, ...] | None = None,
) -> DataCube:
    """FIXTURES F2 analog of ``tileToSpaceTimeDataCube``
    (LayerFixtures.scala:160-167): band i is a constant tile (None = the
    all-nodata band). Built as literal binary columns — one encode on the
    driver, broadcast as constants into every row."""
    dates = DATES if dates is None else dates
    shape = (layout.tile_rows, layout.tile_cols)
    bufs = encode_tiles(
        [[np.full(shape, np.nan if v is None else v) for v in band_values]], cell_type
    )[0]
    keys = spark.range(layout.layout_cols * layout.layout_rows).select(
        (F.col("id") % layout.layout_cols).cast("int").alias("col"),
        (F.col("id") / layout.layout_cols).cast("int").alias("row"),
    )
    times = F.explode(
        F.array(*[F.to_timestamp(F.lit(d)) for d in dates])
    ).alias("time")
    df = keys.select(times, "col", "row").withColumn(
        "bands", F.array(*[F.lit(bytearray(b)) for b in bufs])
    )
    names = band_names or tuple(f"band{i}" for i in range(len(band_values)))
    return DataCube(
        df,
        CubeMeta(layout, cell_type, names, temporal=True),
        times=_times_df(spark, dates),
    )


def _times_df(spark: SparkSession, dates: list[str]) -> DataFrame:
    """Distinct-times frame for a literal date list (same timestamp values
    the cube rows carry)."""
    return spark.range(1).select(
        F.explode(
            F.array(*[F.to_timestamp(F.lit(d)) for d in dates])
        ).alias("time")
    )


def arithmetic_cube(
    spark: SparkSession,
    layout: LayoutDefinition,
    dates: list[str] | None = None,
    n_bands: int = 1,
    cell_type: str = "int32",
    value_fn: Callable[[int, int, int, int, np.ndarray, np.ndarray], np.ndarray] | None = None,
) -> DataCube:
    """Cube whose pixel values are a deterministic function of
    (date_idx, band, col, row, py, px) — default
    ``v = (px*3 + py*5 + col*13 + row*7 + d*11 + b*17) % 97`` with nodata where
    ``(px + py + col + row + d) % 13 == 0``. DuckDB can regenerate the exact
    pixels with generate_series, giving raster operators true SQL oracles."""
    dates = DATES if dates is None else dates
    h, w = layout.tile_rows, layout.tile_cols

    def default_fn(d, b, c, r, py, px):
        v = (px * 3 + py * 5 + c * 13 + r * 7 + d * 11 + b * 17) % 97
        v = v.astype(np.float64)
        v[(px + py + c + r + d) % 13 == 0] = np.nan
        return v

    fn = value_fn or default_fn
    keys = spark.range(layout.layout_cols * layout.layout_rows).select(
        (F.col("id") % layout.layout_cols).cast("int").alias("col"),
        (F.col("id") / layout.layout_cols).cast("int").alias("row"),
    )
    date_idx = F.explode(F.array(*[F.lit(i) for i in range(len(dates))])).alias("d")
    base = keys.select(date_idx, "col", "row")
    schema = cube_schema(temporal=True)
    dates_np = np.array(dates, dtype="datetime64[ns]")

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        px = np.arange(w)[None, :]
        py = np.arange(h)[:, None]
        for pdf in (p for batch in it for p in tile_chunks(batch, n_bands, (h, w))):
            ds, cs, rs = (pdf[k].to_numpy() for k in ("d", "col", "row"))
            tiles = [
                [as_tile(fn(int(d), b, int(c), int(r), py, px), (h, w)) for b in range(n_bands)]
                for d, c, r in zip(ds, cs, rs)
            ]
            yield pd.DataFrame({
                "time": dates_np[ds], "col": cs, "row": rs, "bands": encode_tiles(tiles, cell_type)
            })

    df = base.mapInPandas(gen, schema=schema)
    names = tuple(f"band{i}" for i in range(n_bands))
    return DataCube(
        df,
        CubeMeta(layout, cell_type, names, temporal=True),
        times=_times_df(spark, dates),
    )


def pattern_cube(
    spark: SparkSession,
    layout: LayoutDefinition,
    pattern_scale: int = 1,
    date: str = "2019-01-01",
) -> DataCube:
    """FIXTURES F4 / ``buildSpatioTemporalDataCubePattern``
    (LayerFixtures.scala:122-148): horizontal strip of tiles where tile i is
    all-NaN when floor(i / pattern_scale) % 2 == 0, else deterministic data."""
    h, w = layout.tile_rows, layout.tile_cols
    rng_vals = []
    for i in range(layout.layout_cols):
        if (i // pattern_scale) % 2 == 0:
            rng_vals.append(None)
        else:
            rs = np.random.default_rng(42 + i)
            rng_vals.append(20.0 + 100.0 * rs.random((h, w)))
    from datetime import datetime

    tiles = encode_tiles(
        [[np.full((h, w), np.nan) if v is None else v] for v in rng_vals], "float64"
    )
    rows = [(datetime.fromisoformat(date), i, 0, tiles[i]) for i in range(layout.layout_cols)]
    df = spark.createDataFrame(rows, schema=cube_schema(temporal=True))
    return DataCube(df, CubeMeta(layout, "float64", ("band0",), temporal=True))


def media_cube(docs: DataFrame, tile_size: int = 16) -> DataCube:
    """Datacube assembled from the interleaved table's media spans — the
    load_collection analog (FileLayerProvider.readMultibandTileLayer,
    layers/FileLayerProvider.scala:381-389): explode spans -> parse tile refs
    declaratively -> dedupe (key, band) -> decode deterministic pixels in
    mapInPandas -> one row per (time, col, row) with a dense band array.

    Band list is ['B0', 'B1']; a (key, band) never referenced by any doc
    becomes an EMPTY band ('' marker, the EmptyMultibandTile analog)."""
    layout = media_layout(tile_size)
    spans = explode_spans(docs).where(F.col("kind") == "media")
    dates_arr = F.array(*[F.lit(d) for d in DATES])
    parsed = spans.select(
        F.split(F.col("media_ref"), "/").alias("p")
    ).select(
        F.element_at("p", 4).cast("int").alias("col"),
        F.element_at("p", 5).cast("int").alias("row"),
        F.element_at("p", 6).alias("date"),
        F.substring(F.element_at("p", 7), 2, 2).cast("int").alias("band"),
    ).withColumn(
        "d", F.array_position(dates_arr, F.col("date")).cast("int") - 1
    )
    # per-band presence as two boolean MAX aggregates — map-side combinable
    # scalars instead of a collect_set array per key
    keys = parsed.groupBy("date", "d", "col", "row").agg(
        F.max(F.col("band") == 0).alias("has_b0"),
        F.max(F.col("band") == 1).alias("has_b1"),
    )
    # CPU-parallelism for the tile-gen python stage: AQE coalesces the
    # groupBy exchange by BYTES, and the key table is so narrow (~30 B/row)
    # that the whole opaque gen stage (which expands each row to tile
    # payloads) lands on a handful of tasks (measured: 3 of 32 cores at
    # bench scale — guide §2.2/§4). An explicit count pins it: repartition
    # with an explicit numPartitions is never AQE-coalesced, and the extra
    # exchange moves only the narrow keys. defaultParallelism = total
    # cores, the right unit for a CPU-bound python stage at any scale.
    gen_input = keys.repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    schema = cube_schema(temporal=True)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # vectorized: all tiles of a batch in one broadcasted numpy expression
        px = np.arange(tile_size)[None, None, :]
        py = np.arange(tile_size)[None, :, None]
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            cs = pdf["col"].to_numpy()[:, None, None]
            rs = pdf["row"].to_numpy()[:, None, None]
            ds = pdf["d"].to_numpy()[:, None, None]
            nodata = (cs + rs + px + py) % 23 == 0
            out = []
            tiles_by_band = []
            for b in (0, 1):
                v = (cs * 31 + rs * 17 + ds * 11 + b * 7 + py * 5 + px * 3) % 100
                t = v.astype(np.uint8)
                t[nodata] = 255
                tiles_by_band.append(t)
            # vectorized row assembly: one string->timestamp conversion for
            # the batch (was a per-row pd.Timestamp) and plain ndarray
            # iteration for the key columns
            times = pd.to_datetime(pdf["date"]).to_numpy()
            cols_np = pdf["col"].to_numpy()
            rows_np = pdf["row"].to_numpy()
            h0s = pdf["has_b0"].to_numpy()
            h1s = pdf["has_b1"].to_numpy()
            t0, t1 = tiles_by_band
            for i in range(n):
                bands = [
                    t0[i].tobytes() if h0s[i] else b"",
                    t1[i].tobytes() if h1s[i] else b"",
                ]
                out.append((times[i], int(cols_np[i]), int(rows_np[i]), bands))
            yield pd.DataFrame(out, columns=["time", "col", "row", "bands"])

    df = gen_input.mapInPandas(gen, schema=schema)
    # cheap distinct-times lineage: gen maps keys 1:1, so the cube's
    # distinct times are exactly the distinct key dates. Deriving from the
    # SAME keys subtree (not a fresh scan) lets AQE's runtime exchange
    # reuse serve the dates branch from the main branch's groupBy shuffle,
    # so the marginal cost is a tiny distinct — and the Python tile stage
    # is skipped entirely (a fresh-scan hint measured SLOWER than the
    # reused-exchange recompute it replaced; A/B in OPTIMIZATION_r06.md)
    times = keys.select(F.to_timestamp("date").alias("time")).distinct()
    return DataCube(
        df, CubeMeta(layout, MEDIA_CELL_TYPE, ("B0", "B1"), temporal=True),
        times=times,
    )
