"""Host facts read from /proc: the process tree's memory and CPU, other
Spark JVMs on the box, and the versions and commit a run records."""

from __future__ import annotations

import os
import platform
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """/proc/<pid>/stat fields after the command name (field 3 onwards)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def descendants(root: int, include_root: bool = True) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out if include_root else out[1:]


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of ``pids``, including their reaped children."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine since boot, from the
    first line of /proc/stat: time the hypervisor gave to other guests
    while this one had work, and all time accounted."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def other_spark_jvms() -> list[int]:
    """Spark JVMs on the box that this process did not start."""
    mine = set(descendants(os.getpid()))
    return [
        int(p) for p in os.listdir("/proc")
        if p.isdigit() and int(p) not in mine and "org.apache.spark" in _cmdline(int(p))
    ]


SAMPLE_S = 0.25  # RSS sampling interval


class RssSampler:
    """Samples the RSS of this process's tree (Python driver, JVM, Python
    workers) every ``SAMPLE_S`` on a background thread, and on demand with
    ``sample()``; keeps every sample as (perf_counter time, bytes).  The
    tree is re-listed on every sample, so a worker forked mid-run counts."""

    def __init__(self):
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        self.samples.append((time.perf_counter(), rss_bytes(descendants(os.getpid()))))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(SAMPLE_S)

    def peak(self, start: float, end: float) -> int:
        """Highest sample taken in [start, end]."""
        return max(b for t, b in self.samples if start <= t <= end)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def git_commit(root: str) -> str:
    """HEAD of the checkout, or ``unknown`` outside a git repository."""
    try:
        r = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30,
            # a checkout without .git must not report an enclosing repository
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(os.path.abspath(root))},
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def versions() -> dict[str, str]:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }
