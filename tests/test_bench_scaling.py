"""``bench.py --scaling`` rewrites only the scaling section of
BENCH/BASELINE.md; the A/B result sections after it survive."""

import os
import re
import shutil

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_scaling_writer_keeps_every_section(tmp_path):
    path = tmp_path / "BENCH" / "BASELINE.md"
    path.parent.mkdir()
    shutil.copy(os.path.join(ROOT, "BENCH", "BASELINE.md"), path)
    before = path.read_text()
    sections = before[re.search(r"^## ", before, re.M).start():]
    assert sections.count("\n## ") >= 5

    bench.write_scaling_section(str(path), "# BENCH — scaling\n\n| new table |\n")
    after = path.read_text()
    assert after.startswith("# BENCH — scaling\n\n| new table |\n")
    assert after.endswith(sections)
    assert re.findall(r"^## .*", after, re.M) == re.findall(r"^## .*", before, re.M)


def test_scaling_writer_creates_missing_file(tmp_path):
    path = tmp_path / "BENCH" / "BASELINE.md"
    bench.write_scaling_section(str(path), "# BENCH\n")
    assert path.read_text() == "# BENCH\n"
