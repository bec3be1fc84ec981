"""aggregate_temporal / aggregate_temporal_period — interval reduction of the
time dimension.

Reference: OpenEOProcesses.scala:423-553 — map each t to its interval label
(half-open membership ``start <= t < end``, :483-489), groupByKey on
(key, label), reduce; DENSE result via rightOuterJoin against all
(key x label) pairs filled with EmptyMultibandTile (:541-547).
``aggregate_temporal_period`` derives intervals from calendar periods
(mapInstantToInterval :403-421).

Ours: broadcast range-join time->label (intervals are tiny), then
``groupBy(label, col, row).applyInPandas`` with the compiled reducer, then a
dense right join against distinct-keys x labels producing EMPTY bands.
"""

from __future__ import annotations

from datetime import datetime

import pandas as pd
from pyspark.sql import functions as F

from ..core.tiles import as_tile, decode_tiles, encode_tiles
from ..sources.datacube import DataCube, cube_schema
from .apply_process import _compile


def aggregate_temporal(
    cube: DataCube,
    intervals: list[tuple[str, str]],
    labels: list[str],
    reducer="mean",
    context: dict | None = None,
    dense: bool = True,
) -> DataCube:
    if len(intervals) != len(labels):
        raise ValueError("labels must match intervals")
    for v in (*labels, *(b for iv in intervals for b in iv)):
        try:
            datetime.fromisoformat(v)
        except (TypeError, ValueError):
            raise ValueError(f"not an ISO timestamp: {v!r}") from None
    spark = cube.df.sparkSession
    comp, out_ct_name = _compile(reducer, cube)
    src_ct = cube.meta.cell_type
    shape = cube.meta.tile_shape
    n_bands = cube.meta.n_bands
    ctx = context or {}

    ivals = spark.createDataFrame(
        [(lbl, s, e) for (s, e), lbl in zip(intervals, labels)],
        ["label", "start", "end"],
    ).select(
        "label",
        F.to_timestamp("start").alias("start"),
        F.to_timestamp("end").alias("end"),
    )
    # half-open [start, end): OpenEOProcesses.scala:483-489
    tagged = cube.df.join(
        F.broadcast(ivals),
        (F.col("time") >= F.col("start")) & (F.col("time") < F.col("end")),
        "inner",
    ).drop("start", "end")

    def reduce_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("time")
        col = int(pdf["col"].iloc[0])
        row = int(pdf["row"].iloc[0])
        label = pdf["label"].iloc[0]
        stacks = decode_tiles(pdf["bands"].tolist(), src_ct, shape, n_bands)
        tls = [t.isoformat() for t in pdf["time"]]
        bands = encode_tiles([[
            as_tile(comp.fn({"data": stacks[:, b], "array_labels": tls, **ctx}), shape)
            for b in range(n_bands)
        ]], out_ct_name)[0]
        return pd.DataFrame(
            [(label, col, row, bands)], columns=["label", "col", "row", "bands"]
        )

    out_fields = "label string, col int, row int, bands array<binary>"
    reduced = tagged.groupBy("label", "col", "row").applyInPandas(
        reduce_group, schema=out_fields
    )

    if dense:
        # every (spatial key x label) present; missing -> EMPTY bands
        # (OpenEOProcesses.scala:541-547)
        keys = cube.df.select("col", "row").distinct()
        lbls = spark.createDataFrame([(l,) for l in labels], ["label"])
        full = keys.crossJoin(F.broadcast(lbls))
        empty = F.array(*[F.lit(b"") for _ in range(n_bands)])
        reduced = full.join(reduced, ["label", "col", "row"], "left").withColumn(
            "bands", F.coalesce("bands", empty)
        )

    df = reduced.select(
        F.to_timestamp("label").alias("time"), "col", "row", "bands"
    )
    return DataCube(df, cube.meta).with_meta(cell_type=out_ct_name)


_PERIOD_TRUNC = {
    "hour": "hour", "day": "day", "week": "week", "month": "month",
    "season": None, "year": "year", "decade": None,
}


def aggregate_temporal_period(
    cube: DataCube, period: str, reducer="mean", context: dict | None = None
) -> DataCube:
    """Calendar-period variant: label = date_trunc(period, t) computed
    JVM-side (no interval table needed); non-dense (only populated periods),
    matching the Python-driver-side interval derivation of the reference."""
    trunc = _PERIOD_TRUNC.get(period)
    if trunc is None:
        raise ValueError(f"unsupported period {period!r}")
    comp, out_ct_name = _compile(reducer, cube)
    src_ct = cube.meta.cell_type
    shape = cube.meta.tile_shape
    n_bands = cube.meta.n_bands
    ctx = context or {}

    tagged = cube.df.withColumn("label", F.date_trunc(trunc, "time"))

    def reduce_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("time")
        stacks = decode_tiles(pdf["bands"].tolist(), src_ct, shape, n_bands)
        tls = [t.isoformat() for t in pdf["time"]]
        bands = encode_tiles([[
            as_tile(comp.fn({"data": stacks[:, b], "array_labels": tls, **ctx}), shape)
            for b in range(n_bands)
        ]], out_ct_name)[0]
        return pd.DataFrame(
            [(pdf["label"].iloc[0], int(pdf["col"].iloc[0]), int(pdf["row"].iloc[0]), bands)],
            columns=["time", "col", "row", "bands"],
        )

    df = tagged.groupBy("label", "col", "row").applyInPandas(
        reduce_group, schema=cube_schema(True)
    )
    return DataCube(df, cube.meta).with_meta(cell_type=out_ct_name)
