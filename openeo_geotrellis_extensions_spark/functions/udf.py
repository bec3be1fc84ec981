"""run_udf — user Python code over datacube chunks.

Reference: udf/Udf.scala:363-510 — tiles are copied into a shared-memory
NDArray, an embedded CPython (JEP) builds an xarray DataCube with dims
('t', 'bands', 'y', 'x') (:124-131), and the user's
``apply_datacube(cube, context)`` runs per spatial chunk.

Ours is structurally simpler because the engine is already Python: the
chunk arrives as an Arrow batch inside ``applyInPandas``, is wrapped in a
small :class:`XDataCube` (numpy + dims/coords — an xarray stand-in, since
xarray is not installed), and the user function runs in-process on the
executor. Same dims, same per-spatial-key chunking
(SpatialKeyPartitioner, Udf.scala:20-29 -> groupBy(col,row)).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from ..core.celltype import parse_cell_type
from ..core.tiles import decode_tiles, encode_tiles
from ..sources.datacube import DataCube, cube_schema


@dataclass
class XDataCube:
    """Minimal xarray.DataArray stand-in: values + named dims + coords."""

    values: np.ndarray  # (t, bands, y, x)
    dims: tuple[str, ...] = ("t", "bands", "y", "x")
    coords: dict | None = None

    @property
    def shape(self):
        return self.values.shape

    def get_array(self) -> np.ndarray:  # openeo.udf API compatibility
        return self.values

    def band(self, i_or_name) -> np.ndarray:
        if isinstance(i_or_name, str):
            i_or_name = list(self.coords["bands"]).index(i_or_name)
        return self.values[:, i_or_name]


def _compile_user_code(code: str):
    """Compile user code that defines ``apply_datacube(cube, context)``
    (the openEO UDF entry point, Udf.scala:472-510)."""
    ns: dict = {"np": np, "XDataCube": XDataCube}
    exec(code, ns)
    fn = ns.get("apply_datacube")
    if fn is None:
        raise ValueError("UDF must define apply_datacube(cube, context)")
    return fn


def run_udf(cube: DataCube, code: str, context: dict | None = None) -> DataCube:
    """Apply user code per spatial chunk: the callback sees the full time
    stack (t, bands, y, x) for one (col, row) and returns the same-shaped (or
    t/band-reduced) array."""
    src_ct = cube.meta.cell_type
    shape = cube.meta.tile_shape
    n_bands = cube.meta.n_bands
    band_names = tuple(cube.meta.band_names)
    ctx = context or {}
    out_ct = parse_cell_type(
        "float64" if parse_cell_type(src_ct).base == "float64" else "float32"
    )
    _compile_user_code(code)  # fail fast on the driver

    def apply_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        fn = _compile_user_code(code)
        pdf = pdf.sort_values("time")
        col = int(pdf["col"].iloc[0])
        row = int(pdf["row"].iloc[0])
        # (t, bands, y, x) — Udf.scala:124-131 dim order
        stack = decode_tiles(pdf["bands"].tolist(), src_ct, shape, n_bands)
        xc = XDataCube(
            stack,
            coords={
                "t": [t.isoformat() for t in pdf["time"]],
                "bands": list(band_names),
            },
        )
        res = fn(xc, ctx)
        arr = res.values if isinstance(res, XDataCube) else np.asarray(res)
        if arr.ndim == 2:
            arr = arr[None, None]
        elif arr.ndim == 3:  # (bands, y, x): time reduced
            arr = arr[None]
        times = pdf["time"] if arr.shape[0] == len(pdf) else [pdf["time"].iloc[0]] * len(arr)
        tiles = encode_tiles(arr.astype(np.float64), out_ct)
        return pd.DataFrame(
            [(t, col, row, bands) for t, bands in zip(times, tiles)],
            columns=["time", "col", "row", "bands"],
        )

    df = cube.df.groupBy("col", "row").applyInPandas(
        apply_chunk, schema=cube_schema(True)
    )
    return DataCube(df, cube.meta).with_meta(cell_type=out_ct.name)
