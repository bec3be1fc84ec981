"""CPU time and resident memory of this process and all its descendants,
read from ``/proc``: the driver Python, the Spark JVM it launched, the
PySpark daemon and its Python workers.

CPU: ``utime + stime`` of every live process plus ``cutime + cstime`` (time of
children that already exited and were reaped). Summed over the tree this
counts each process exactly once, workers that have exited included.

Peak RSS: the kernel's per-process high-water mark (``VmHWM``), reset at the
start of a measured interval by writing ``5`` to ``/proc/<pid>/clear_refs``.
The tree peak is reported as the sum of the per-process peaks — an upper
bound on the instantaneous tree peak, exact when every process peaks
together.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state (field 3); utime..cstime are fields 14..17
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    return ppid, comm, ticks / _TICK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcTree:
    """The process tree rooted at ``root`` (default: this process)."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def members(self) -> dict[int, tuple[int, str, float]]:
        """pid -> (ppid, comm, cpu_s) for the root and all its descendants."""
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _read_stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        tree = {self.root} if self.root in stats else set()
        grew = True
        while grew:
            grew = False
            for pid, (ppid, _, _) in stats.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        return {pid: stats[pid] for pid in tree}

    def cpu_s(self) -> float:
        return sum(cpu for _, _, cpu in self.members().values())

    def kind(self, pid: int, comm: str) -> str:
        """'jvm' for the Spark JVM, 'python' for the driver and workers."""
        if comm == "java":
            return "jvm"
        if pid == self.root or "python" in comm or "pyspark" in _cmdline(pid):
            return "python"
        return "other"

    def reset_peaks(self) -> None:
        for pid in self.members():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass

    def peak_rss_mb(self) -> dict[str, float]:
        """Sum of per-process RSS high-water marks, total and by kind."""
        out = {"total": 0.0, "jvm": 0.0, "python": 0.0}
        for pid, (_, comm, _) in self.members().items():
            mb = _status_kb(pid, "VmHWM:") / 1024.0
            out["total"] += mb
            k = self.kind(pid, comm)
            if k in out:
                out[k] += mb
        return out

    def python_workers(self) -> set[int]:
        """PIDs of PySpark daemon/worker processes currently alive."""
        return {
            pid
            for pid, (_, comm, _) in self.members().items()
            if pid != self.root and self.kind(pid, comm) == "python"
        }
