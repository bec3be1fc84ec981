"""Per-pixel / per-stack application of compiled openEO process graphs.

Reference execution sites:
  - ``mapBandsGeneric`` — per-tile apply, zero shuffle
    (OpenEOProcesses.scala:559-575) -> :func:`apply_process` /
    :func:`reduce_bands` via ``mapInPandas``.
  - ``reduceTimeDimension`` / ``transformTimeDimension`` — group tiles by
    spatial key, sort stack by time, reduce over the t axis
    (OpenEOProcesses.scala:122-125,149-197) -> :func:`reduce_time` /
    :func:`apply_time` via ``groupBy(col,row).applyInPandas`` (one shuffle on
    the spatial key — exactly the reference's space-only repartition).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from ..core.celltype import parse_cell_type
from ..core.tiles import as_tile, decode_tiles, encode_tiles, tile_chunks
from ..functions.process_compiler import CompiledProcess, compile_process_graph
from ..sources.datacube import DataCube, cube_schema


def _output_cell_type(comp: CompiledProcess, input_ct: str) -> str:
    """Map compiler type tags to engine cell types (getOutputCellType,
    OpenEOProcessScriptBuilder.scala:558-607)."""
    if comp.output_cell_type == "bool":
        return "uint8ud255"
    if comp.output_cell_type == "int32":
        return "int32"
    if parse_cell_type(input_ct).base == "float64":
        return "float64"
    return "float32"


def _compile(graph, cube: DataCube) -> tuple[CompiledProcess, str]:
    if isinstance(graph, str):
        # shorthand: single-process reducer name over 'data'
        graph = {
            "r": {
                "process_id": graph,
                "arguments": {"data": {"from_parameter": "data"}},
                "result": True,
            }
        }
    comp = compile_process_graph(graph, parse_cell_type(cube.meta.cell_type).base)
    return comp, _output_cell_type(comp, cube.meta.cell_type)


def apply_process(cube: DataCube, graph, context: dict | None = None) -> DataCube:
    """openEO ``apply``: unary callback on every pixel of every band
    (parameter ``x``). No shuffle — pure mapInPandas."""
    comp, out_ct_name = _compile(graph, cube)
    src_ct = cube.meta.cell_type
    shape = cube.meta.tile_shape
    n_bands = cube.meta.n_bands
    ctx = context or {}

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in (p for batch in it for p in tile_chunks(batch, n_bands, shape)):
            stack = decode_tiles(pdf["bands"].tolist(), src_ct, shape, n_bands)
            res = [[as_tile(comp.fn({"x": band, **ctx}), shape) for band in tile]
                   for tile in stack]
            yield pdf.assign(bands=encode_tiles(res, out_ct_name))

    return DataCube(cube.df.mapInPandas(run, schema=cube.df.schema), cube.meta).with_meta(
        cell_type=out_ct_name
    )


def reduce_bands(cube: DataCube, graph, context: dict | None = None) -> DataCube:
    """openEO ``reduce_dimension(dimension='bands')``: callback gets the band
    stack as ``data`` (axis 0 = bands). No shuffle."""
    comp, out_ct_name = _compile(graph, cube)
    src_ct = cube.meta.cell_type
    shape = cube.meta.tile_shape
    n_bands = cube.meta.n_bands
    ctx = context or {}
    labels = list(cube.meta.band_names)

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in (p for batch in it for p in tile_chunks(batch, n_bands, shape)):
            stack = decode_tiles(pdf["bands"].tolist(), src_ct, shape, n_bands)
            out = []
            for tile in stack:
                res = comp.fn({"data": tile, "array_labels": labels, **ctx})
                out.append([as_tile(r, shape)
                            for r in (res if isinstance(res, list) else [res])])
            yield pdf.assign(bands=encode_tiles(out, out_ct_name))

    df = cube.df.mapInPandas(run, schema=cube.df.schema)
    return DataCube(df, cube.meta).with_meta(
        cell_type=out_ct_name, band_names=("band0",)
    )


def _group_time_stacks(cube: DataCube, comp: CompiledProcess, out_ct_name: str,
                       keep_time: bool, context: dict | None):
    """Shared reduce_time/apply_time machinery."""
    src_ct = cube.meta.cell_type
    shape = cube.meta.tile_shape
    n_bands = cube.meta.n_bands
    ctx = context or {}

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("time")  # sortBy(_._1.instant), OpenEOProcesses.scala:49
        col = int(pdf["col"].iloc[0])
        row = int(pdf["row"].iloc[0])
        stacks = decode_tiles(pdf["bands"].tolist(), src_ct, shape, n_bands)  # (T, B, h, w)
        labels = [t.isoformat() for t in pdf["time"]]
        out_shape = stacks.shape[:1] + shape if keep_time else shape
        per_band = np.stack([
            as_tile(comp.fn({"data": stacks[:, b], "array_labels": labels, **ctx}), out_shape)
            for b in range(n_bands)
        ], axis=-3)  # (T, B, h, w) or (B, h, w)
        if keep_time:
            return pdf[["time", "col", "row"]].assign(bands=encode_tiles(per_band, out_ct_name))
        bands = encode_tiles(per_band[None], out_ct_name)[0]
        return pd.DataFrame([(col, row, bands)], columns=["col", "row", "bands"])

    return run


def reduce_time(cube: DataCube, graph, context: dict | None = None) -> DataCube:
    """openEO ``reduce_dimension(dimension='t')`` -> spatial-only cube."""
    comp, out_ct_name = _compile(graph, cube)
    run = _group_time_stacks(cube, comp, out_ct_name, keep_time=False, context=context)
    df = cube.df.groupBy("col", "row").applyInPandas(run, schema=cube_schema(False))
    return DataCube(df, cube.meta).with_meta(cell_type=out_ct_name, temporal=False)


def apply_time(cube: DataCube, graph, context: dict | None = None) -> DataCube:
    """openEO ``apply_dimension(dimension='t')``: callback sees the full time
    series per pixel, output keeps the time dimension (e.g.
    array_interpolate_linear gap fill; applyTimeDimension,
    OpenEOProcesses.scala:134-147)."""
    comp, out_ct_name = _compile(graph, cube)
    run = _group_time_stacks(cube, comp, out_ct_name, keep_time=True, context=context)
    df = cube.df.groupBy("col", "row").applyInPandas(run, schema=cube_schema(True))
    return DataCube(df, cube.meta).with_meta(cell_type=out_ct_name)
