"""The two workloads, ``tiles`` and ``docs``: set-up (inputs + reference),
one untraced pass, and one traced pass that materialises every layer before
calling the next.

Each workload runs several of the engine's pipelines ("sections") per pass:

* ``tiles`` — every operator that decodes or encodes tiles, and no geometry
  parse of documents and no text: the ``cube`` section
  (arithmetic_cube -> reduce_bands NDVI -> apply_kernel 3x3 ->
  resample_spatial average -> cube_digest) and the ``geo_zonal`` section
  (media_cube -> aggregate_spatial, 2 zones).
* ``docs`` — the document-side pipelines, with no tiles: the ``geo_join``
  section (extract_geometries -> spatial_join_points), the ``cell_write``
  section (extract_geometries -> cell_for_point_col(4) -> with_salt ->
  ResumableWriter.run) and the ``dedup`` section (minhash_lsh_pairs ->
  connected_components).

A pass goes from the input files to complete results on the driver and checks
each against the reference; it returns ``None`` on a match and a reason string
otherwise. Passes call only the engine's public functions.

Sizes are fixed (``SIZES``); the seed changes the content of the inputs,
never their size.
"""

from __future__ import annotations

import functools
import json
import os
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openeo_geotrellis_extensions_spark.core.grid import Extent, LayoutDefinition
from openeo_geotrellis_extensions_spark.operators.apply_process import reduce_bands
from openeo_geotrellis_extensions_spark.operators.kernel import apply_kernel
from openeo_geotrellis_extensions_spark.operators.resample import resample_spatial
from openeo_geotrellis_extensions_spark.operators.spatial_join import (
    cell_for_point_col,
    spatial_join_points,
)
from openeo_geotrellis_extensions_spark.operators.zonal import aggregate_spatial
from openeo_geotrellis_extensions_spark.pipeline.dedup import (
    connected_components,
    minhash_lsh_pairs,
)
from openeo_geotrellis_extensions_spark.plans.digest import cube_digest
from openeo_geotrellis_extensions_spark.runtime.checkpoint import ResumableWriter
from openeo_geotrellis_extensions_spark.runtime.skew import salt_counts, with_salt
from openeo_geotrellis_extensions_spark.sources.datacube import arithmetic_cube, media_cube
from openeo_geotrellis_extensions_spark.sources.interleaved import extract_geometries

from . import inputs, reference

#: ``full`` is what the benchmark measures; ``tiny`` is for the benchmark's tests
SIZES = {
    "full": {"geo_docs": 300, "cube_tiles": 8, "dedup_docs": 150},
    "tiny": {"geo_docs": 60, "cube_tiles": 2, "dedup_docs": 40},
}
#: cube tiles are TILE_PX x TILE_PX pixels, 2 bands, 4 dates
TILE_PX = 64
#: the engine's own bench salts 200k docs with 50k rows per slot; the target
#: scales with the corpus so the hot cell gets the same 2 slots
ROWS_PER_SALT_PER_DOC = 50_000 / 200_000

NDVI_GRAPH = {
    "b0": {"process_id": "array_element",
           "arguments": {"data": {"from_parameter": "data"}, "index": 0}},
    "b1": {"process_id": "array_element",
           "arguments": {"data": {"from_parameter": "data"}, "index": 1}},
    "nd": {"process_id": "normalized_difference",
           "arguments": {"x": {"from_node": "b1"}, "y": {"from_node": "b0"}},
           "result": True},
}
KERNEL = np.full((3, 3), 1.0 / 9)


def _features(spark: SparkSession, rects) -> DataFrame:
    """(feature_index, geojson) rectangles."""
    return spark.createDataFrame(
        [
            (fi, json.dumps({"type": "Polygon", "coordinates": [
                [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]]}))
            for fi, x0, y0, x1, y1 in rects
        ],
        ["feature_index", "geojson"],
    )


def _geometries(docs: DataFrame) -> DataFrame:
    """extract_geometries, with the bbox centre as the point of each span."""
    return extract_geometries(docs).select(
        "doc_id",
        "span_idx",
        ((F.col("xmin") + F.col("xmax")) / 2).alias("rep_x"),
        ((F.col("ymin") + F.col("ymax")) / 2).alias("rep_y"),
    )


def _cells(geo: DataFrame) -> DataFrame:
    return geo.withColumn(
        "cell", cell_for_point_col(reference.CELL_RES, F.col("rep_x"), F.col("rep_y"))
    )


def _zonal_rows(stats: DataFrame):
    return stats.select(
        F.date_format("time", "yyyy-MM-dd").alias("date"),
        "feature_index", "band",
        F.col("count").cast("long").alias("count"),
        F.col("mean").cast("double").alias("mean"),
    ).toPandas()


def _first_failure(*reasons: str | None) -> str | None:
    return next((r for r in reasons if r is not None), None)


class Workload:
    """Base: ``generate`` writes the seeded inputs (the caller times it),
    ``prepare_reference`` computes the references, ``run_pass`` and
    ``traced_pass`` each return ``None`` or a failure reason."""

    name = ""
    #: the layers ``traced_pass`` reports, in call order
    layers: tuple[str, ...] = ()
    #: the pipelines ``run_pass`` times separately
    sections: tuple[str, ...] = ()

    def __init__(self, spark: SparkSession, work_dir: str, seed: int, size: str):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.size = SIZES[size]
        self.n_files = 2 * spark.sparkContext.defaultParallelism
        self.counters: dict[str, float] = {}
        self.section_s: dict[str, list[float]] = {s: [] for s in self.sections}

    def _timed(self, section: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.section_s[section].append(time.perf_counter() - t0)
        return out



class Tiles(Workload):
    name = "tiles"
    layers = ("sources.datacube.arithmetic_cube", "operators.apply_process",
              "operators.kernel", "operators.resample", "plans.digest",
              "sources.datacube.media_cube", "operators.zonal")
    sections = ("cube", "geo_zonal")

    def generate(self, path: str) -> None:
        self.ids = inputs.doc_ids(self.seed, self.size["geo_docs"])
        self.docs_path = inputs.write_docs(os.path.join(path, "docs"), self.ids, self.n_files)
        # the cube's input is its seeded pixel formula; it is written next to
        # the documents so a run can be reproduced from disk
        self.coeffs = inputs.cube_coefficients(self.seed)
        with open(os.path.join(path, "cube_coefficients.txt"), "w") as f:
            f.write(" ".join(map(str, self.coeffs)))

    def prepare_reference(self) -> None:
        import __spark_entry__ as entry

        n = self.size["cube_tiles"]
        self.cube_ref = reference.cube_reference(self.coeffs, n, n, TILE_PX, len(inputs.DATES))
        self.zonal_ref = reference.zonal_reference(self.ids, entry.oracle_sql())

    def _layouts(self):
        n = self.size["cube_tiles"]
        extent = Extent(0.0, 0.0, float(n), float(n))
        # 2x average downscale: each target tile covers 2x2 source tiles
        return (LayoutDefinition(extent, n, n, TILE_PX, TILE_PX),
                LayoutDefinition(extent, n // 2, n // 2, TILE_PX, TILE_PX))

    def _source(self):
        return arithmetic_cube(
            self.spark, self._layouts()[0], dates=inputs.DATES, n_bands=2,
            cell_type="float64",
            value_fn=functools.partial(reference.cube_value, self.coeffs),
        )

    def _zonal(self, cube):
        return _zonal_rows(aggregate_spatial(
            cube, _features(self.spark, reference.ZONAL_RECTS), round_to=6))

    def run_pass(self) -> str | None:
        def cube():
            k = apply_kernel(reduce_bands(self._source(), NDVI_GRAPH), KERNEL)
            out = resample_spatial(k, self._layouts()[1], method="average")
            return reference.check_cube(self.cube_ref, cube_digest(out, round_to=4).toPandas())

        def zonal():
            docs = self.spark.read.parquet(self.docs_path)
            return reference.check_zonal(self.zonal_ref, self._zonal(media_cube(docs, tile_size=16)))

        return _first_failure(self._timed("cube", cube), self._timed("geo_zonal", zonal))

    def traced_pass(self, tr) -> str | None:
        src = tr.layer("sources.datacube.arithmetic_cube", self._source)
        nd = tr.layer("operators.apply_process", lambda: reduce_bands(src, NDVI_GRAPH))
        k = tr.layer("operators.kernel", lambda: apply_kernel(nd, KERNEL))
        rs = tr.layer("operators.resample",
                      lambda: resample_spatial(k, self._layouts()[1], method="average"))
        dg = tr.layer("plans.digest", lambda: cube_digest(rs, round_to=4).toPandas())
        docs = self.spark.read.parquet(self.docs_path)
        mc = tr.layer("sources.datacube.media_cube", lambda: media_cube(docs, tile_size=16))
        zonal = tr.layer("operators.zonal", lambda: self._zonal(mc))
        return _first_failure(reference.check_cube(self.cube_ref, dg),
                              reference.check_zonal(self.zonal_ref, zonal))


class Docs(Workload):
    name = "docs"
    layers = ("sources.interleaved", "operators.spatial_join", "runtime.skew",
              "runtime.checkpoint", "pipeline.dedup.minhash", "pipeline.dedup.cc")
    sections = ("geo_join", "cell_write", "dedup")

    def generate(self, path: str) -> None:
        self.ids = inputs.doc_ids(self.seed, self.size["geo_docs"])
        self.docs_path = inputs.write_docs(os.path.join(path, "docs"), self.ids, self.n_files)
        self.text_ids, self.texts = inputs.text_corpus(self.seed, self.size["dedup_docs"])
        self.text_path = inputs.write_text(
            os.path.join(path, "text"), self.text_ids, self.texts, self.n_files)
        self.rows_per_salt = int(self.size["geo_docs"] * ROWS_PER_SALT_PER_DOC)
        self.writes = 0

    def prepare_reference(self) -> None:
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        self.rect_features = entry.RECT_FEATURES
        self.join_ref = reference.join_reference(self.ids, oracles)
        self.cell_ref = reference.cell_reference(self.ids, self.rows_per_salt)
        self.dedup_ref = reference.dedup_reference(self.text_ids, self.texts, oracles)

    def _join(self, geo: DataFrame):
        return spatial_join_points(
            geo, _features(self.spark, self.rect_features), res=7
        ).select("doc_id", "span_idx", "feature_index").toPandas()

    def _write(self, salted: DataFrame) -> dict[str, int]:
        """Write through ResumableWriter into a fresh directory; returns rows
        per bucket read back from the written parquet footers. The written
        directories stay until the run's work directory is removed, so no
        deletion I/O falls into a later timed pass."""
        self.writes += 1
        out = os.path.join(self.work_dir, f"cells-{self.writes}")
        bucketed = salted.withColumn("bucket", F.concat_ws("_", F.col("cell"), F.col("salt")))
        ResumableWriter(out, lineage={"stage": "perfbench_cell_write"}).run(bucketed)
        rows: dict[str, int] = {}
        self.bytes_written = 0
        for root, _dirs, files in os.walk(out):
            seg = os.path.basename(root)
            if not seg.startswith("bucket="):
                continue
            for fn in files:
                if fn.endswith(".parquet"):
                    p = os.path.join(root, fn)
                    self.bytes_written += os.path.getsize(p)
                    b = seg.split("=", 1)[1]
                    rows[b] = rows.get(b, 0) + pq.ParquetFile(p).metadata.num_rows
        return rows

    def _minhash(self, docs: DataFrame, verify: bool = True) -> DataFrame:
        return minhash_lsh_pairs(
            docs, num_hashes=16, bands=4,
            verify_threshold=reference.VERIFY_THRESHOLD if verify else None)

    def run_pass(self) -> str | None:
        def join():
            docs = self.spark.read.parquet(self.docs_path)
            return reference.check_join(self.join_ref, self._join(_geometries(docs)))

        def cell_write():
            cells = _cells(_geometries(self.spark.read.parquet(self.docs_path)))
            rows = self._write(with_salt(cells, "cell", "doc_id",
                                         target_rows_per_salt=self.rows_per_salt))
            return reference.check_cells(self.cell_ref, rows)

        def dedup():
            pairs = self._minhash(self.spark.read.parquet(self.text_path))
            return reference.check_dedup(self.dedup_ref, connected_components(pairs).toPandas())

        return _first_failure(self._timed("geo_join", join),
                              self._timed("cell_write", cell_write),
                              self._timed("dedup", dedup))

    def traced_pass(self, tr) -> str | None:
        docs = self.spark.read.parquet(self.docs_path)
        geo = tr.layer("sources.interleaved", lambda: _geometries(docs))
        joined = tr.layer("operators.spatial_join", lambda: self._join(geo))
        # the cell write as run_pass runs it: with_salt's own count and the
        # write each parse the geometry of the documents
        cells = _cells(_geometries(docs))
        salts = tr.layer("runtime.skew", lambda: salt_counts(cells, "cell", self.rows_per_salt))
        rows = tr.layer("runtime.checkpoint", lambda: self._write(
            with_salt(cells, "cell", "doc_id", self.rows_per_salt, salts=salts)))
        text = self.spark.read.parquet(self.text_path)
        pairs = tr.layer("pipeline.dedup.minhash", lambda: self._minhash(text))
        groups = tr.layer("pipeline.dedup.cc", lambda: connected_components(pairs).toPandas())
        # below runs outside every layer: the verified pairs for the check,
        # and the decision counters once per run
        pairs_pdf = pairs.toPandas()
        if not self.counters:
            cand = self._minhash(text, verify=False).count()
            slots = salts.where(F.col("n_salt") > 1).agg(F.sum("n_salt")).first()[0]
            self.counters.update({
                "pipeline.dedup.candidate_pairs": cand,
                "pipeline.dedup.verified_pairs": len(pairs_pdf),
                "pipeline.dedup.verify_yield": len(pairs_pdf) / cand if cand else 0.0,
                "runtime.skew.salt_slots": int(slots or 0),
                "runtime.skew.hot_bucket_share": max(rows.values()) / sum(rows.values()),
                "runtime.checkpoint.buckets_written": len(rows),
                "runtime.checkpoint.bytes_written": self.bytes_written,
            })
        return _first_failure(reference.check_join(self.join_ref, joined),
                              reference.check_cells(self.cell_ref, rows),
                              reference.check_dedup(self.dedup_ref, groups, pairs_pdf))


WORKLOADS = {w.name: w for w in (Tiles, Docs)}
#: every layer any workload reports, in a stable order
ALL_LAYERS = tuple(dict.fromkeys(layer for w in WORKLOADS.values() for layer in w.layers))
#: every section any workload times, in a stable order
ALL_SECTIONS = tuple(s for w in WORKLOADS.values() for s in w.sections)
