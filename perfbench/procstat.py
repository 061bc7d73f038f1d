"""Host readings taken from /proc: process-tree RSS, CPU steal, stamps."""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _tree_stats(root: int) -> dict[int, list[str]]:
    """/proc/<pid>/stat fields (after the comm field) of ``root`` and all
    its descendants, by pid: the driver, its JVM, the JVM's Python daemon
    and workers."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the comm field may hold spaces: split after its ')'
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid in stats:
            out[pid] = stats[pid]
    return out


def _tree_rss_bytes(root: int) -> int:
    return sum(int(f[21]) for f in _tree_stats(root).values()) * _PAGE


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and its descendants,
    reaped children included.  The kernel leaves steal time out of these
    figures."""
    return sum(sum(int(x) for x in f[11:15])
               for f in _tree_stats(os.getpid()).values()) / _HZ


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process instead of
    to init, so that ``reap_descendants`` can wait for them: the JVM
    leaves a zombie launcher shell, and may leave its Python daemon,
    behind when it exits."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_descendants(timeout_s: float) -> None:
    """Wait until this process has no descendants left, reaping each;
    kill those still running after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return   # no children, so (as a subreaper) no descendants
        if time.monotonic() > deadline:
            for pid, f in _tree_stats(os.getpid()).items():
                if pid != os.getpid() and f[0] != "Z":
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
        time.sleep(0.05)


class RssSampler:
    """Background thread recording the peak process-tree RSS."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_ticks() -> tuple[int, int, int]:
    """(total, idle+iowait, steal) jiffies from the first /proc/stat line."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[3] + v[4], v[7] if len(v) > 7 else 0


def cpu_window(t0: tuple[int, int, int], t1: tuple[int, int, int]) -> dict:
    """Steal % and average busy cores between two ``cpu_ticks`` readings."""
    total = max(1, t1[0] - t0[0])
    return {"steal_pct": round(100 * (t1[2] - t0[2]) / total, 2),
            "busy_cores": round((1 - (t1[1] - t0[1]) / total)
                                * (os.cpu_count() or 1), 2)}


def git_commit(root: str) -> str | None:
    """HEAD of ``root`` when it is a git checkout, else None."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, check=True,
            capture_output=True, text=True, timeout=30).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None
