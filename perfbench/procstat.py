"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark's own process and every descendant: the Spark
JVM, the ``pyspark.daemon`` and its Python workers.  CPU is summed with
the children's ``cutime``/``cstime`` so that workers which exited (and
were reaped) inside a window still count.  Peak memory uses each
process's ``VmHWM`` after resetting it through ``clear_refs``, so a
window's peak excludes what set-up touched before it.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("latin-1")
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids) -> float:
    """utime + stime + cutime + cstime summed over ``pids``."""
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peaks(pids) -> None:
    """Reset each process's peak RSS (``VmHWM``) to its current RSS."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(pids) -> float:
    return sum(_status_kb(p, "VmHWM:") for p in pids) / 1024.0


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("latin-1")
    except OSError:
        return ""


class Window:
    """CPU seconds and peak RSS of this process tree across a window."""

    def __init__(self):
        self.cpu_s = 0.0
        self.peak_mb = 0.0
        self.jvm_peak_mb = 0.0
        self.python_workers_peak_mb = 0.0

    def __enter__(self):
        pids = tree()
        reset_peaks(pids)
        self._cpu0 = cpu_seconds(pids)
        return self

    def __exit__(self, *exc):
        pids = tree()
        self.cpu_s = cpu_seconds(pids) - self._cpu0
        me = os.getpid()
        for pid in pids:
            if pid == me:
                continue
            mb = peak_rss_mb([pid])
            cmd = cmdline(pid)
            if "java" in cmd.split(" ", 1)[0]:
                self.jvm_peak_mb += mb
            elif "pyspark" in cmd or "python" in cmd:
                self.python_workers_peak_mb += mb
        self.peak_mb = self.jvm_peak_mb + self.python_workers_peak_mb
        return False
