"""The traced run: each layer call is timed from the benchmark's side, with
its output materialised before the next layer is called, so a layer's time
is its self time.

Sources of the per-layer numbers:

* ``self_s`` — wall time of the call plus materialisation of its output
  (``localCheckpoint(eager=True)`` for a DataFrame or cube, the collect for a
  result brought to the driver).
* ``executor_cpu_s``, ``shuffle_write_bytes``, ``spill_bytes`` — task metrics
  from Spark's event log, grouped by the job group set for each layer call
  (``<layer>@<pass>``, so that a pass can be left out).
* ``rows_out`` — rows of the materialised output, counted outside the timer.
* ``python.udf_s.<udf>`` — Python time per layer from Spark's UDF profiler
  (``spark.sql.pyspark.udf.profiler=perf``), attributed to the layer during
  whose call the profile grew.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from collections import defaultdict

from openeo_geotrellis_extensions_spark.sources.datacube import DataCube
from pyspark.sql import DataFrame

#: job group of all Spark work outside layer calls (row counts, counters)
UNTIMED_GROUP = "perfbench.untimed"

#: engine function whose Python UDFs run in each layer
UDF_OF_LAYER = {
    "sources.interleaved": "extract_geometries",
    "operators.spatial_join": "spatial_join_points",
    "sources.datacube.media_cube": "media_cube",
    "operators.zonal": "aggregate_spatial",
    "sources.datacube.arithmetic_cube": "arithmetic_cube",
    "operators.apply_process": "reduce_bands",
    "operators.kernel": "apply_kernel",
    "operators.resample": "resample_spatial",
    "plans.digest": "cube_digest",
}


def _profile_totals(spark) -> dict[int, float]:
    """UDF result id -> profiled Python seconds so far."""
    stats = spark._profiler_collector._perf_profile_results
    return {k: float(s.total_tt) for k, s in stats.items()}


class Tracer:
    """Per-layer values of every traced pass, keyed by pass number
    (``pass_no``, set by the caller before each pass)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.pass_no = 0
        self.self_s: dict[str, dict[int, float]] = defaultdict(dict)
        self.rows_out: dict[str, dict[int, int]] = defaultdict(dict)
        self.udf_s: dict[str, dict[int, float]] = defaultdict(dict)
        self._profile = _profile_totals(spark)

    def layer(self, name: str, call):
        """Run ``call()`` as layer ``name``: materialise its output, record
        its self time and output rows, and return the materialised output.
        Spark work after it runs in ``UNTIMED_GROUP`` until the next layer."""
        group = f"{name}@{self.pass_no}"
        self.sc.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            out = call()
            if isinstance(out, DataCube):
                out = DataCube(out.df.localCheckpoint(eager=True), out.meta)
            elif isinstance(out, DataFrame):
                out = out.localCheckpoint(eager=True)
            self.self_s[name][self.pass_no] = time.perf_counter() - t0
        finally:
            self.sc.setJobGroup(UNTIMED_GROUP, UNTIMED_GROUP)
        if isinstance(out, DataCube):
            rows = out.df.count()
        elif isinstance(out, DataFrame):
            rows = out.count()
        elif isinstance(out, dict):
            rows = sum(out.values())
        else:
            rows = len(out)
        self.rows_out[name][self.pass_no] = int(rows)
        totals = _profile_totals(self.spark)
        grown = sum(v - self._profile.get(k, 0.0) for k, v in totals.items())
        self._profile = totals
        if name in UDF_OF_LAYER:
            self.udf_s[UDF_OF_LAYER[name]][self.pass_no] = grown
        return out


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Job group -> summed task metrics, from the (finished) event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    agg = out[group]
                    agg["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    agg["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    agg["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return out


def _median(by_pass: dict[int, float], keep: set[int]) -> float:
    vals = [v for k, v in by_pass.items() if k in keep]
    return statistics.median(vals) if vals else 0.0


def layer_metrics(tracer: Tracer, log_dir: str, layers, keep: set[int]) -> dict[str, float]:
    """``<layer>.<metric>`` for every name in ``layers``: medians over the
    traced passes in ``keep``. A layer the workload does not call reports 0."""
    events = read_event_log(log_dir)
    out: dict[str, float] = {}
    for layer in layers:
        out[f"{layer}.self_s"] = _median(tracer.self_s[layer], keep)
        for k in ("executor_cpu_s", "shuffle_write_bytes", "spill_bytes"):
            out[f"{layer}.{k}"] = _median(
                {p: events.get(f"{layer}@{p}", {}).get(k, 0.0) for p in tracer.self_s[layer]}, keep)
        out[f"{layer}.rows_out"] = _median(tracer.rows_out[layer], keep)
    for udf in UDF_OF_LAYER.values():
        out[f"python.udf_s.{udf}"] = _median(tracer.udf_s[udf], keep)
    return out
