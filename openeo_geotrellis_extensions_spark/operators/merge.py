"""merge_cubes — full outer join of two datacubes on the grid key.

Reference: ``outerJoin`` via CoGroupedRDD with partitioner-reuse hacks
(OpenEOProcesses.scala:669-730); band concat ``combine_bands`` (:958-976);
overlap resolver ``resolve_merge_overlap`` (:978-994, op table :103-115);
cell-type union on merge (:888,931,941).

Ours is a plain DataFrame full-outer join on the key columns — Spark picks
SMJ/shuffle-hash and AQE replaces the reference's hand-rolled partitioner
tricks (SURVEY §4). Missing sides become EMPTY band markers (the
EmptyMultibandTile padding of :285-312 temporal-disjoint merges).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..core.celltype import cell_type_union
from ..core.tiles import as_tile, decode_tiles, encode_tiles, tile_chunks
from ..functions.process_compiler import compile_process_graph
from ..sources.datacube import DataCube

#: binary overlap ops supported as shorthand (OpenEOProcesses.scala:103-115)
_BINARY_OPS = {"or", "and", "divide", "max", "min", "multiply", "add",
               "subtract", "xor", "sum", "product"}


def merge_cubes(a: DataCube, b: DataCube, overlap_resolver: str | dict | None = None) -> DataCube:
    if a.meta.layout != b.meta.layout:
        raise ValueError("merge_cubes requires identical layouts (resample first)")
    if a.meta.temporal != b.meta.temporal:
        raise ValueError("merge_cubes requires matching temporality")

    keys = a.key_cols
    union_ct = cell_type_union(a.meta.cell_type, b.meta.cell_type)
    out_ct_name = union_ct.name
    na, nb = a.meta.n_bands, b.meta.n_bands
    shape = a.meta.tile_shape
    ct_a, ct_b = a.meta.cell_type, b.meta.cell_type

    left = a.df.select(*keys, F.col("bands").alias("bands_l"))
    right = b.df.select(*keys, F.col("bands").alias("bands_r"))
    joined = left.join(right, keys, "full_outer")

    if overlap_resolver is None:
        # band concatenation; missing side padded with EMPTY markers. When the
        # cell types already match the raw buffers pass through untouched.
        if ct_a == ct_b:
            empty_l = F.array(*[F.lit(b"") for _ in range(na)])
            empty_r = F.array(*[F.lit(b"") for _ in range(nb)])
            df = joined.select(
                *keys,
                F.concat(
                    F.coalesce("bands_l", empty_l), F.coalesce("bands_r", empty_r)
                ).alias("bands"),
            )
            return DataCube(df, a.meta).with_meta(
                band_names=tuple(a.meta.band_names) + tuple(b.meta.band_names)
            )

        # cell types differ: decode + re-encode to the union type
        def recode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in (p for batch in it for p in tile_chunks(batch, na + nb, shape)):
                stack = np.concatenate([
                    decode_tiles(pdf["bands_l"].tolist(), ct_a, shape, na),
                    decode_tiles(pdf["bands_r"].tolist(), ct_b, shape, nb),
                ], axis=1)
                yield pdf.drop(columns=["bands_l", "bands_r"]).assign(
                    bands=encode_tiles(stack, union_ct)
                )

        out_schema = a.df.schema
        df = joined.mapInPandas(recode, schema=out_schema)
        return DataCube(df, a.meta).with_meta(
            cell_type=out_ct_name,
            band_names=tuple(a.meta.band_names) + tuple(b.meta.band_names),
        )

    # overlap resolver: band counts must match; apply pairwise per band
    if na != nb:
        raise ValueError(f"overlap resolver requires equal band counts ({na} vs {nb})")
    if isinstance(overlap_resolver, str):
        if overlap_resolver not in _BINARY_OPS:
            raise ValueError(f"unsupported overlap op {overlap_resolver!r}")
        if overlap_resolver in ("sum", "product", "max", "min", "and", "or", "xor"):
            graph = {
                "r": {
                    "process_id": overlap_resolver,
                    "arguments": {"data": [{"from_parameter": "x"}, {"from_parameter": "y"}]},
                    "result": True,
                }
            }
        else:
            graph = {
                "r": {
                    "process_id": overlap_resolver,
                    "arguments": {"x": {"from_parameter": "x"}, "y": {"from_parameter": "y"}},
                    "result": True,
                }
            }
    else:
        graph = overlap_resolver
    comp = compile_process_graph(graph, union_ct.base)

    def resolve(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in (p for batch in it for p in tile_chunks(batch, 2 * na, shape)):
            sl = decode_tiles(pdf["bands_l"].tolist(), ct_a, shape, na)
            sr = decode_tiles(pdf["bands_r"].tolist(), ct_b, shape, nb)
            # a tile present on one side only keeps that side's values
            for i, (bl, br) in enumerate(zip(pdf["bands_l"], pdf["bands_r"])):
                if bl is None:
                    sl[i] = sr[i]
                elif br is not None:
                    sl[i] = [as_tile(comp.fn({"x": x, "y": y}), shape)
                             for x, y in zip(sl[i], sr[i])]
            yield pdf.drop(columns=["bands_l", "bands_r"]).assign(
                bands=encode_tiles(sl, union_ct)
            )

    df = joined.mapInPandas(resolve, schema=a.df.schema)
    return DataCube(df, a.meta).with_meta(cell_type=out_ct_name)
