"""CPU and RSS of the Spark JVM and its Python workers, read from /proc.

The JVM is a child of the benchmark's own process (PySpark launches it
through spark-submit); the PySpark daemon and its forked workers are
descendants of the JVM.  CPU is the tree's utime+stime plus the
cutime+cstime of every live process, so workers that exited and were
reaped still count.  The benchmark's own interpreter is excluded: it is
the driver, and its self time is attributed by the trace instead.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Every live descendant of ``root`` (not ``root`` itself)."""
    kids = _children()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root``'s descendants, reaped children included."""
    ticks = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # fields[11:15] = utime stime cutime cstime (proc(5), 14-17)
        ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _is_jvm_fork(pid: int) -> bool:
    """A child the JVM forked and has not yet exec'd (Hadoop's shell
    calls): it reports the JVM's whole RSS, which is not its own."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    ppid = int(stat[stat.rindex(")") + 2:].split()[1])
    exe = _exe(pid)
    return exe.endswith("/java") and exe == _exe(ppid)


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in descendants(root):
        if _is_jvm_fork(pid):
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Peak summed RSS of ``root``'s descendants, polled on a thread."""

    def __init__(self, root: int, interval_s: float = 0.1) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))


# ------------------------------------------------------------ clean exit

def _start_ticks(pid: int) -> int | None:
    """The process's start time in clock ticks, or None once it has
    ended (gone, or a zombie waiting to be reaped)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    fields = stat[stat.rindex(")") + 2:].split()
    # fields[0] = state, fields[19] = starttime (proc(5), 3 and 22)
    return None if fields[0] in "ZX" else int(fields[19])


def snapshot(root: int) -> dict[int, int]:
    """pid -> start time of every live descendant of ``root``: the start
    time tells a process from a later one that reuses its pid."""
    out = {}
    for pid in descendants(root):
        t = _start_ticks(pid)
        if t is not None:
            out[pid] = t
    return out


def _alive(procs: dict[int, int]) -> dict[int, int]:
    return {p: t for p, t in procs.items() if _start_ticks(p) == t}


def _wait(procs: dict[int, int], timeout_s: float) -> dict[int, int]:
    deadline = time.monotonic() + timeout_s
    while True:
        procs = _alive(procs)
        if not procs or time.monotonic() >= deadline:
            return procs
        time.sleep(0.05)


def end_processes(procs: dict[int, int], grace_s: float = 30.0) -> None:
    """Wait for every process in ``procs`` to end; after ``grace_s``
    send SIGTERM, then SIGKILL, to the ones still running.  They need
    not be children of this process (the JVM's Python daemon is
    reparented when the JVM exits), so this polls /proc instead of
    calling waitpid."""
    procs = _wait(procs, grace_s)
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not procs:
            return
        for pid in procs:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        procs = _wait(procs, wait_s)
    if procs:
        raise RuntimeError(f"processes did not end: {sorted(procs)}")
