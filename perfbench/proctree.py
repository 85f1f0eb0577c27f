"""Resource accounting for the benchmark's own process tree, and the host record.

The tree is this Python driver, the JVM it launches and the PySpark Python
workers the JVM forks. CPU is read from ``/proc/<pid>/stat``; a child that
has exited and been reaped is counted in its parent's ``cutime``/``cstime``.
The JVM's only children are Python worker daemons, so reaped time under the
JVM counts as Python time.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_SAMPLE_INTERVAL_S = 0.1


def _stat(pid: int):
    """-> (comm, state, utime, stime, cutime, cstime, rss_bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    # rest[0] is field 3 of proc(5), the state letter
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    rss = int(rest[21]) * _PAGE
    return comm, rest[0], utime, stime, cutime, cstime, rss


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out.extend(int(x) for x in f.read().split())
            except OSError:
                continue
    except OSError:
        pass
    return out


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    seen, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def tree_cpu() -> dict:
    """Cumulative CPU seconds of the tree, split into Python and JVM."""
    py = jvm = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is None:
            continue
        comm, _, ut, stt, cut, cst, _ = st
        if comm == "java":
            jvm += ut + stt
            py += cut + cst
        else:
            py += ut + stt + cut + cst
    return {"python": py / _TICK, "jvm": jvm / _TICK, "total": (py + jvm) / _TICK}


def rss_sum(pids) -> int:
    return sum(st[6] for st in map(_stat, pids) if st is not None)


class RssSampler:
    """Samples the tree's summed RSS on a background thread while enabled;
    ``peak`` is the largest sum seen. Also remembers every pid it saw, so
    the benchmark can wait for all of them to end before it exits."""

    def __init__(self):
        self.peak = 0
        self.pids: set[int] = set()
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()

    def _loop(self):
        while not self._stop.is_set():
            if self._on.wait(0.2) and not self._stop.is_set():
                pids = tree_pids()
                self.pids.update(pids)
                self.peak = max(self.peak, rss_sum(pids))
                time.sleep(RSS_SAMPLE_INTERVAL_S)

    def enable(self, on: bool):
        (self._on.set if on else self._on.clear)()

    def close(self):
        self._stop.set()
        self._on.set()
        self._thread.join(timeout=5)


def _cpu_times() -> list[float]:
    with open("/proc/stat") as f:
        return [float(x) for x in f.readline().split()[1:]]


class HostRecord:
    """Host fingerprint for one run: 1-minute loadavg at the end, steal
    fraction over the run, usable cores and the CPU model."""

    def __init__(self):
        self._t0 = _cpu_times()

    def finish(self) -> dict:
        t1 = _cpu_times()
        d = [b - a for a, b in zip(self._t0, t1)]
        steal = d[7] if len(d) > 7 else 0.0
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        return {
            "loadavg_1min": load1,
            "steal_frac": round(steal / max(sum(d), 1.0), 4),
            "nproc": usable_cores(),
            "cpu_model": cpu_model(),
        }


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for ln in f:
                if ln.startswith("model name"):
                    return ln.split(":", 1)[1].strip()
    except OSError:
        pass
    return "unknown"


def wait_gone(pids, timeout: float = 30.0) -> list[int]:
    """Wait until none of ``pids`` (other than this process) is alive;
    returns the ones still alive at the deadline."""
    me = os.getpid()
    pending = {p for p in pids if p != me}
    deadline = time.time() + timeout
    while pending and time.time() < deadline:
        pending = {p for p in pending if _alive(p)}
        if pending:
            time.sleep(0.1)
    return sorted(pending)


def _alive(pid: int) -> bool:
    st = _stat(pid)
    # a zombie has exited; its parent just has not reaped it yet
    return st is not None and st[1] != "Z"
