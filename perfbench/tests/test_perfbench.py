"""Tests of the benchmark harness itself.

    python -m pytest perfbench/tests -q

The run tests start the harness in a subprocess on ``--size tiny`` inputs,
one fresh Spark session each (about a minute per run).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, reference, run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(args: list[str], code: str | None = None, cwd: str = ROOT):
    """Run the harness (or ``code`` that calls it) and return
    (exit code, last stdout line parsed as JSON or None)."""
    cmd = [sys.executable, "perfbench/run.py", *args] if code is None else [
        sys.executable, "-c", code, *args]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result


def _check_result(result: dict, metrics: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert result["correct"] is True and result["failed"] == 0
    got = result["metrics"]
    assert set(got) == {m["name"] for m in metrics}
    for m in metrics:
        assert got[m["name"]]["unit"] == m["unit"]
        assert isinstance(got[m["name"]]["value"], (int, float))


def test_spec_matches_harness():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric(workload, trace):
    spec = _spec()
    rc, result = _run(["--workload", workload, "--seed", "5", "--seconds", "1",
                       "--trace", str(trace), "--size", "tiny"])
    assert rc == 0
    _check_result(result, spec["per_layer" if trace else "end_to_end"])
    if trace == 0:
        assert all(result["metrics"][m]["value"] > 0 for m in run.END_TO_END)


def test_corrupted_result_counts_as_failed():
    # shift one zonal mean before the check sees it: every pass must fail
    code = (
        "import sys; sys.path.insert(0, '.');"
        "import perfbench.workloads as w;"
        "orig = w._zonal_rows\n"
        "def corrupt(stats):\n"
        "    out = orig(stats); out.loc[out['mean'].notna().idxmax(), 'mean'] += 0.5; return out\n"
        "w._zonal_rows = corrupt\n"
        "from perfbench import run; sys.exit(run.main(sys.argv[1:]))"
    )
    rc, result = _run(["--workload", "tiles", "--seed", "5", "--seconds", "1",
                       "--size", "tiny"], code=code)
    assert rc == 0
    assert result["correct"] is False
    assert result["failed"] == result["attempted"] >= 2


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, result = _run(["--workload", "tiles", "--seed", "1", "--seconds", "1",
                       "--trace", "0"], cwd=str(tmp_path))
    assert rc != 0 and result is None


def test_counter_counts_mismatches_and_exceptions():
    ops = run.Counter()
    ops.run(lambda: None)
    ops.run(lambda: "digest differs")
    ops.run(lambda: 1 / 0)
    assert (ops.attempted, ops.failed) == (3, 2)


def test_disturbed_pass_is_replaced_and_left_out(monkeypatch):
    # cumulative steal seconds read before and after each pass: the second
    # pass is disturbed, so one extra pass runs and the second is dropped
    readings = iter([0.0, 0.0, 0.0, 100.0, 100.0, 100.0])
    monkeypatch.setattr(run, "steal_s", lambda: next(readings))

    class Tree:
        def cpu_s(self):
            return 0.0

    ops = run.Counter()
    p, keep = run.steady_passes(ops, Tree(), 0, lambda: None)
    assert len(p["wall"]) == ops.attempted == 3
    assert keep == [0, 2]


def test_checks_reject_corrupted_results():
    coeffs = inputs.cube_coefficients(7)
    ref = reference.cube_reference(coeffs, 2, 2, 8, 2)
    assert reference.check_cube(ref, ref.copy()) is None
    bad = ref.copy()
    bad.loc[0, "sm"] += 0.01
    assert reference.check_cube(ref, bad) is not None

    ids = inputs.doc_ids(7, 200)
    cells = reference.cell_reference(ids, 50)
    rows = {f"{c}_{s}": 0 for c, (_, n) in cells.items() for s in range(n)}
    for c, (n, slots) in cells.items():
        for k in range(n):
            rows[f"{c}_{k % slots}"] += 1
    assert reference.check_cells(cells, rows) is None
    first = next(iter(rows))
    rows[first] += 1
    assert reference.check_cells(cells, rows) is not None

    join = pd.DataFrame({"doc_id": ["doc_00000001", "doc_00000002"],
                         "span_idx": [0, 1], "feature_index": [1, 2]})
    jref = reference._sorted_keys(join, ["doc_id", "span_idx", "feature_index"])
    assert reference.check_join(jref, join.iloc[::-1]) is None
    assert reference.check_join(jref, join.iloc[:1]) is not None

    groups = pd.DataFrame({"id": [1, 2, 3], "component": [1, 1, 3]})
    dref = {"groups": reference._sorted_keys(groups, ["id", "component"]), "pairs": None}
    assert reference.check_dedup(dref, groups) is None
    assert reference.check_dedup(dref, groups.assign(component=[1, 2, 3])) is not None


def test_inputs_depend_only_on_the_seed(tmp_path):
    a = inputs.write_docs(str(tmp_path / "a"), inputs.doc_ids(3, 50), 2)
    b = inputs.write_docs(str(tmp_path / "b"), inputs.doc_ids(3, 50), 2)
    for name in sorted(os.listdir(a)):
        with open(os.path.join(a, name), "rb") as fa, open(os.path.join(b, name), "rb") as fb:
            assert fa.read() == fb.read()
    assert not np.array_equal(inputs.doc_ids(3, 50), inputs.doc_ids(4, 50))
    assert inputs.text_corpus(3, 20)[1] == inputs.text_corpus(3, 20)[1]
    assert inputs.text_corpus(3, 20)[1] != inputs.text_corpus(4, 20)[1]
