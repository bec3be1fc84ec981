"""Run one benchmark workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload tiles --seed 1 --seconds 15 --trace 0

Closed loop, one client: one pipeline pass at a time on ``local[nproc/2]``
in this process. Set-up starts the session, writes the seeded inputs, computes
the reference, warms up with a full-size pass and times the host
calibration; then passes run until ``--seconds`` have elapsed and at least
``MIN_PASSES`` ran. Every pass is checked against the reference; a mismatch
or an exception counts as a failed operation.

``--trace 0`` prints the end-to-end metrics (``wall_s``, ``cpu_s``,
``setup_s``). ``--trace 1`` spends half of the measured time on untraced
passes and half on traced passes, and prints the per-layer metrics plus
``trace.overhead_s`` and, as ``share.*``, the share of a traced pass taken
by the work that each roadmap item changes. The last line of stdout is the JSON
result; the line before it records the pinned environment and the values
behind the medians.

Run from the root of a checkout of the engine. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WARMUP_PASSES = 1
#: the medians of a run are taken over at least this many timed passes
MIN_PASSES = 2
INPUT_REPEATS = 3  # input generation is repeated and its median kept
#: a pass during which other guests of the host took more than this share of
#: the cores (``steal`` in /proc/stat) measures the neighbours, not the
#: engine: it is run once more and left out of the medians. Undisturbed
#: passes read below 0.007 on a 4-vCPU virtual machine; passes at 0.01-0.03
#: ran 1.1-1.4x slower there.
MAX_STEAL = 0.01

#: the JVM compiles with C1 only. With the default tiered C2 compiler a pass
#: took more than 100 s of passes to reach its plateau, and until then the
#: compiler threads added up to 40% core-seconds per pass, so a run measured
#: how far the compiler had got. C1 reaches about the same per-pass time
#: (within 5% of C2's plateau on these passes, which are bound by Python and
#: per-job work) from the first timed pass on. C1 alone reserves a code cache
#: of 48 MB, which Spark filled in the third or fourth pass (the JVM then
#: discarded and recompiled its code); 240 MB is the tiered default.
JVM_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"

END_TO_END = {"wall_s": "s", "cpu_s": "s", "setup_s": "s"}
LAYER_UNITS = {"self_s": "s", "executor_cpu_s": "s", "shuffle_write_bytes": "bytes",
               "spill_bytes": "bytes", "rows_out": "rows"}
COUNTER_UNITS = {
    "pipeline.dedup.candidate_pairs": "pairs",
    "pipeline.dedup.verified_pairs": "pairs",
    "pipeline.dedup.verify_yield": "ratio",
    "runtime.skew.salt_slots": "slots",
    "runtime.skew.hot_bucket_share": "ratio",
    "runtime.checkpoint.buckets_written": "buckets",
    "runtime.checkpoint.bytes_written": "bytes",
    "python.workers_spawned": "count",
    "python.peak_rss_mb": "MB",
    "jvm.gc_s": "s",
    "jvm.peak_rss_mb": "MB",
    "host.calib_s": "s",
    "trace.overhead_s": "s",
    "share.tile_udf": "ratio",
    "share.salt_count": "ratio",
    "share.minhash": "ratio",
}
#: Python UDF time of the operators that decode or encode tiles row by row
#: or build their rows in a Python loop (ROADMAP item 2)
TILE_UDFS = ("arithmetic_cube", "media_cube", "reduce_bands", "apply_kernel",
             "resample_spatial", "cube_digest")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit (the ``per_layer`` list of
    BENCHMARK.json)."""
    from perfbench.trace import UDF_OF_LAYER
    from perfbench.workloads import ALL_LAYERS, ALL_SECTIONS

    units = {f"section.{s}.wall_s": "s" for s in ALL_SECTIONS}
    units.update({f"{layer}.{m}": u for layer in ALL_LAYERS for m, u in LAYER_UNITS.items()})
    units.update({f"python.udf_s.{udf}": "s" for udf in UDF_OF_LAYER.values()})
    units.update(COUNTER_UNITS)
    return units


def pin_environment(work_dir: str) -> dict:
    """Environment the session is started with; recorded in the output."""
    cpus = len(os.sched_getaffinity(0))
    # every task of a pass is a JVM thread feeding a Python worker, so each
    # task slot keeps about two cores busy; local[nproc] ran 1.2-1.7x the
    # core-seconds per pass of local[nproc/2] and its passes drifted upwards
    slots = max(1, cpus // 2)
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    # the engine defaults to 16g; keep the heap well inside physical RAM
    driver_mb = min(3072, ram_mb // 4)
    local_dir = os.path.join(work_dir, "spark-local")
    tmp_dir = os.path.join(work_dir, "tmp")
    for d in (local_dir, tmp_dir):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_DRIVER_MEMORY": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": local_dir,
        "SPARK_GRAFT_CPUS": str(slots),
        "TMPDIR": tmp_dir,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(env)
    return {"master": f"local[{slots}]", "cpus": cpus, "slots": slots, "host_ram_mb": ram_mb,
            "driver_memory": env["SPARK_DRIVER_MEMORY"], "local_dirs": "<work>/spark-local",
            "jvm_options": JVM_OPTIONS,
            "python": sys.version.split()[0]}


def start_session(work_dir: str, slots: int, trace: bool):
    from openeo_geotrellis_extensions_spark.runtime.session import get_spark

    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work_dir}/tmp {JVM_OPTIONS}"}
    if trace:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{slots}]",
                     shuffle_partitions=slots, extra_conf=conf)


def calibrate(spark) -> float:
    """A fixed CPU-bound numpy + Spark kernel; best of three. It moves only
    with the host, so it separates host drift from code effects."""
    import numpy as np
    from pyspark.sql import functions as F

    a = np.random.default_rng(0).random((320, 320))
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        m = a
        for _ in range(8):
            m = np.tanh(m @ a)
        spark.range(0, 3_000_000, numPartitions=spark.sparkContext.defaultParallelism).select(
            F.sum(F.pmod(F.xxhash64("id"), F.lit(1009)))
        ).collect()
        best = min(best, time.perf_counter() - t0)
    return best


class Counter:
    """attempted/failed totals over every checked pass."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def run(self, fn) -> None:
        self.attempted += 1
        try:
            reason = fn()
        except Exception:  # a pass that raises is a failed operation
            reason = traceback.format_exc(limit=3).strip().splitlines()[-1]
        if reason is not None:
            self.failed += 1
            if len(self.reasons) < 5:
                self.reasons.append(reason)


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all cores, since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def timed_passes(ops: Counter, tree, seconds: float, fn,
                 min_passes: int = MIN_PASSES) -> dict[str, list[float]]:
    """Run ``fn`` until ``seconds`` have elapsed and at least ``min_passes``
    passes ran; per-pass wall and process-tree CPU seconds, and the share of
    the pass's core-time that the hypervisor gave to other guests (steal)."""
    out: dict[str, list[float]] = {"wall": [], "cpu": [], "steal": []}
    start = time.perf_counter()
    while len(out["wall"]) < min_passes or time.perf_counter() - start < seconds:
        c0, s0 = tree.cpu_s(), steal_s()
        t0 = time.perf_counter()
        ops.run(fn)
        wall = time.perf_counter() - t0
        out["wall"].append(wall)
        out["cpu"].append(tree.cpu_s() - c0)
        out["steal"].append((steal_s() - s0) / (wall * (os.cpu_count() or 1)))
    return out


def steady_passes(ops: Counter, tree, seconds: float, fn) -> tuple[dict[str, list[float]], list[int]]:
    """``timed_passes``, plus one extra pass if the host disturbed any; and
    the indices of the passes the host did not disturb (steal share at most
    ``MAX_STEAL``), or of the least-stolen pass when every pass was."""
    p = timed_passes(ops, tree, seconds, fn)
    if max(p["steal"]) > MAX_STEAL:
        for k, v in timed_passes(ops, tree, 0, fn, min_passes=1).items():
            p[k] += v
    keep = [i for i, s in enumerate(p["steal"]) if s <= MAX_STEAL]
    return p, keep or [min(range(len(p["steal"])), key=p["steal"].__getitem__)]


def _pass_detail(p: dict[str, list[float]], keep: list[int], prefix: str = "pass") -> dict:
    out = {f"{prefix}_{k}": [round(x, 4) for x in v] for k, v in p.items()}
    out[f"{prefix}_kept"] = keep
    return out


def _section_medians(wl, keep: list[int]) -> dict[str, float]:
    return {s: statistics.median([v[i] for i in keep if i < len(v)] or [0.0])
            for s, v in wl.section_s.items()}


def stop_session(spark, tree) -> None:
    """Stop Spark, end the JVM and wait for every child process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None and getattr(gateway, "proc", None) is not None:
            proc = gateway.proc
            if proc.stdin:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 30
        while time.time() < deadline and len(tree.members()) > 1:
            time.sleep(0.2)
        for pid in tree.members():
            if pid != tree.root:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass


def measure(wl, ops: Counter, tree, seconds: float) -> tuple[dict, dict]:
    """Untraced passes: the end-to-end metrics (all but ``setup_s``), as
    medians over the passes the host did not disturb; one extra pass runs if
    any was disturbed. The tree's peak RSS goes to the details only: it does
    not repeat within a tenth across runs (JVM heap growth), so it is
    reported per layer (``jvm.peak_rss_mb``, ``python.peak_rss_mb``) by
    traced runs."""
    for v in wl.section_s.values():
        v.clear()  # section times of the timed passes only
    tree.reset_peaks()
    p, keep = steady_passes(ops, tree, seconds, wl.run_pass)
    peak = tree.peak_rss_mb()
    values = {k + "_s": statistics.median([p[k][i] for i in keep]) for k in ("wall", "cpu")}
    detail = _pass_detail(p, keep)
    detail.update(peak_rss_mb=peak, section_s={
        k: [round(x, 4) for x in v] for k, v in wl.section_s.items()})
    return values, detail


def measure_traced(wl, ops: Counter, tree, seconds: float, log_dir: str) -> tuple[dict, dict]:
    """Half the time untraced passes, then one traced warm-up pass and half
    the time traced passes: the per-layer metrics, as medians over the
    passes the host did not disturb (each half as in ``measure``). Stops the
    session (the event log is complete only then)."""
    from perfbench.trace import Tracer, layer_metrics
    from perfbench.workloads import ALL_LAYERS, ALL_SECTIONS

    spark = wl.spark
    for v in wl.section_s.values():
        v.clear()  # section times of these untraced passes only
    plain, plain_keep = steady_passes(ops, tree, seconds / 2, wl.run_pass)
    sections = _section_medians(wl, plain_keep)
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    tr = Tracer(spark)
    seen: set[int] = set()

    def traced():
        tr.pass_no += 1
        out = wl.traced_pass(tr)
        seen.update(tree.python_workers())
        return out

    # the first traced pass runs code paths (checkpoints, profiler) that the
    # untraced passes did not warm up: run it as pass -1, outside the medians,
    # so that pass k of the timed traced passes is ``tr.pass_no == k``
    tr.pass_no = -2
    ops.run(traced)
    workers0 = tree.python_workers()
    seen.clear()
    gc0 = jvm_gc_s(spark)
    tree.reset_peaks()
    traced_p, keep = steady_passes(ops, tree, seconds / 2, traced)
    peak = tree.peak_rss_mb()
    gc_s = (jvm_gc_s(spark) - gc0) / len(traced_p["wall"])
    stop_session(spark, tree)

    values = {k: 0 for k in COUNTER_UNITS}
    values.update({f"section.{s}.wall_s": 0.0 for s in ALL_SECTIONS})
    values.update({f"section.{s}.wall_s": v for s, v in sections.items()})
    values.update(layer_metrics(tr, log_dir, ALL_LAYERS, set(keep)))
    values.update(wl.counters)
    traced_s = statistics.median([traced_p["wall"][i] for i in keep])
    traced_cpu_s = statistics.median([traced_p["cpu"][i] for i in keep])
    values.update({
        "python.workers_spawned": len(seen - workers0),
        "python.peak_rss_mb": peak["python"],
        "jvm.gc_s": gc_s,
        "jvm.peak_rss_mb": peak["jvm"],
        "trace.overhead_s": traced_s - statistics.median([plain["wall"][i] for i in plain_keep]),
        # profiled Python seconds are summed over the workers: a share of
        # the pass's core-seconds, not of its wall time
        "share.tile_udf": sum(values[f"python.udf_s.{u}"] for u in TILE_UDFS) / traced_cpu_s,
        "share.salt_count": values["runtime.skew.self_s"] / traced_s,
        "share.minhash": values["pipeline.dedup.minhash.self_s"] / traced_s,
    })
    detail = _pass_detail(plain, plain_keep, "untraced_pass")
    detail.update(_pass_detail(traced_p, keep, "traced_pass"))
    return values, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the benchmark's own tests")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "openeo_geotrellis_extensions_spark")):
        print("perfbench: run from a checkout of the engine (package not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.proctree import ProcTree
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work_dir = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    env = pin_environment(work_dir)
    tree = ProcTree()
    ops = Counter()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work_dir, env["slots"], bool(args.trace))
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work_dir, args.seed, args.size)
        gen_s = []
        for k in range(INPUT_REPEATS):
            t0 = time.perf_counter()
            wl.generate(os.path.join(work_dir, f"input-{k}"))
            gen_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.prepare_reference()
        ref_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            ops.run(wl.run_pass)
        warm_s = time.perf_counter() - t0
        warm_sections = {k: [round(x, 4) for x in v] for k, v in wl.section_s.items()}
        # on the warm JVM, so it measures the host and not class loading
        calib_s = calibrate(spark)
        if args.trace:
            values, detail = measure_traced(wl, ops, tree, args.seconds,
                                            os.path.join(work_dir, "eventlog"))
            spark = None
            values["host.calib_s"] = calib_s
            units = per_layer_units()
        else:
            values, detail = measure(wl, ops, tree, args.seconds)
            values["setup_s"] = session_s + statistics.median(gen_s) + warm_s
            units = END_TO_END
    finally:
        try:
            if spark is not None:
                stop_session(spark, tree)
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)

    env.update({"workload": args.workload, "seed": args.seed, "size": args.size,
                "setup": {"session_s": round(session_s, 4), "inputs_s": [round(g, 4) for g in gen_s],
                          "warmup_s": round(warm_s, 4), "warmup_section_s": warm_sections},
                "reference_s": round(ref_s, 4), "host_calib_s": round(calib_s, 4),
                "fail_reasons": ops.reasons, **detail})
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


if __name__ == "__main__":
    sys.exit(main())
