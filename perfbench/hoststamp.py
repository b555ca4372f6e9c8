"""Host facts stamped on every result: core count, load, software
versions and process-tree RSS; and the process-tree walk that makes sure
a run leaves no process behind. Memory bandwidth comes from
``bench.membw_probe``, run with ``nproc`` workers.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def git_commit(root: str) -> str | None:
    """HEAD of ``root`` when it is a git checkout, else None."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def versions() -> dict:
    import pyarrow
    import pyspark

    return {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__}


def _proc_table() -> tuple[dict[int, int], dict[int, int], dict[int, str]]:
    """(parent, rss bytes, state) of every process, from /proc."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    state: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # comm may contain spaces; fields after the closing paren are fixed
        fields = stat[stat.rfind(")") + 2:].split()
        pid = int(name)
        state[pid] = fields[0]
        parent[pid] = int(fields[1])
        rss[pid] = int(fields[21]) * PAGE
    return parent, rss, state


def _tree(parent: dict[int, int], root_pid: int) -> set[int]:
    tree = {root_pid}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def _tree_rss_bytes(root_pid: int) -> int:
    """RSS of ``root_pid`` and all its descendants, from /proc."""
    parent, rss, _ = _proc_table()
    return sum(rss.get(p, 0) for p in _tree(parent, root_pid))


def descendants(root_pid: int) -> set[int]:
    """Every descendant of ``root_pid``, zombies included, not itself."""
    parent, _, _ = _proc_table()
    return _tree(parent, root_pid) - {root_pid}


def adopt_orphans() -> None:
    """Make this process the child subreaper of its descendants: one whose
    parent exits (a Python worker of the JVM) becomes this process's
    child, so ``reap`` can wait for it. A no-op where prctl is missing."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _remaining(pids) -> set[int]:
    """Reap those of ``pids`` that are children of this process and have
    ended; return the ones not yet gone. A child counts until it is
    reaped: a multi-threaded one (the JVM) shows as a zombie before all
    its threads have exited. Any other process counts until it is a
    zombie, which its own parent reaps."""
    _, _, state = _proc_table()
    left = set()
    for p in pids:
        if p not in state:
            continue
        try:
            if os.waitpid(p, os.WNOHANG)[0] == 0:
                left.add(p)
        except ChildProcessError:
            if state[p] != "Z":
                left.add(p)
    return left


def reap(pids, grace: float = 20.0) -> None:
    """Wait until every process in ``pids`` has ended: ``grace`` seconds
    for them to exit on their own, then five after SIGTERM, then five
    after SIGKILL. Those that are children of this process (see
    ``adopt_orphans``) are reaped, so none is left even as a zombie."""
    left = set(pids)
    for sig, timeout in ((None, grace), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        for p in left if sig is not None else ():
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while True:
            left = _remaining(left)
            if not left or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if not left:
            return


class RssSampler:
    """Samples this process tree's RSS every ``interval`` seconds on a
    daemon thread; ``peak_mb`` is the largest sample, ``median_mb`` the
    median over a time window. Use as a context manager so the thread is
    always stopped and joined."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self.samples = 0
        self.series: list[tuple[float, int]] = []  # (epoch seconds, bytes)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            rss = _tree_rss_bytes(pid)
            self.series.append((time.time(), rss))
            self.peak = max(self.peak, rss)
            self.samples += 1
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=30)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20

    def median_mb(self, start: float, end: float) -> tuple[float, int]:
        """(median, count) of the samples taken in [start, end], epoch
        seconds."""
        xs = sorted(b for t, b in self.series if start <= t <= end)
        return (xs[len(xs) // 2] / 2**20 if xs else 0.0), len(xs)

