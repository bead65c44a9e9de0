"""Process-tree accounting from /proc and the host stamp for each result.

The tree is this driver process plus every descendant: the Spark driver
JVM, the PySpark daemon and its forked Python workers. CPU counts each
live process's own user+sys plus the reaped-children totals, so workers
that exit mid-run are still charged.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # field 2 (comm) may hold spaces; everything after its ')' is fixed
    return raw[raw.rindex(")") + 2:].split()


def _tree(root: int) -> list[tuple[int, list[str]]]:
    stats = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """user+sys seconds of the tree, including reaped children."""
    total = 0
    for _, st in _tree(os.getpid()):
        # after ')': utime, stime, cutime, cstime are fields 11..14
        total += sum(int(v) for v in st[11:15])
    return total / _TICK


def tree_pss_mb() -> float:
    """Summed proportional set size of the tree: each process's resident
    pages, with pages shared between processes (the forked Python workers'
    copy-on-write heap and libraries, the JVM's spawn helper before it
    execs) split between the sharers instead of counted once per process."""
    total_kb = 0
    for pid, _ in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:  # exited since the listing
            pass
    return total_kb / 1024


class PeakPss:
    """Samples the tree's summed resident memory (``tree_pss_mb``) on a
    thread while the ``with`` block runs; ``peak_mb`` is the largest."""

    def __init__(self, interval_s: float = 0.1):
        self.peak_mb = 0.0
        self._interval = interval_s
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "PeakPss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._done.set()
        self._thread.join()

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            if self._done.wait(self._interval):
                return


def become_subreaper() -> None:
    """Have descendants orphaned by their parent's exit (the PySpark daemon
    and its workers when the JVM ends) re-parented to this process rather
    than to init, so ``stop_tree`` can see them and wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_tree(grace_s: float = 10.0) -> None:
    """End every descendant of this process and wait until each is gone:
    SIGTERM first, SIGKILL to whatever is left after ``grace_s``."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    sent: set[int] = set()
    while True:
        _reap()
        live = [pid for pid, _ in _tree(me) if pid != me]
        if not live:
            return
        if sig == signal.SIGTERM and time.monotonic() > deadline:
            sig, sent = signal.SIGKILL, set()
        for pid in live:
            if pid not in sent:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                sent.add(pid)
        time.sleep(0.05)


def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7]  # total jiffies, steal


class Host:
    """nproc, physical RAM, and steal %/loadavg over the measured span."""

    def __init__(self):
        self.nproc = os.cpu_count() or 1
        with open("/proc/meminfo") as f:
            self.mem_mb = int(f.readline().split()[1]) // 1024
        self._t0 = _cpu_times()

    def stamp(self) -> dict:
        total, steal = _cpu_times()
        d_total = total - self._t0[0]
        with open("/proc/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]
        return {
            "nproc": self.nproc,
            "mem_mb": self.mem_mb,
            "steal_pct": round(100.0 * (steal - self._t0[1]) / d_total, 2) if d_total else 0.0,
            "loadavg": load,
            "at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
