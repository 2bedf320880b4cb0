"""CPU and memory of this process's descendants (the Spark JVM and its
Python workers), read from /proc — psutil is not a dependency."""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stats() -> dict[int, tuple[str, list[str]]]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # comm may hold spaces: fields start after the last ')'
        end = raw.rindex(")")
        out[int(name)] = (raw[raw.index("(") + 1:end], raw[end + 2:].split())
    return out


def descendants() -> dict[int, tuple[str, list[str]]]:
    """{pid: (comm, stat fields after comm)} for every descendant of this
    process."""
    stats = _stats()
    kids: dict[int, list[int]] = {}
    for pid, (_, f) in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    out, todo = {}, list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out[pid] = stats[pid]
        todo += kids.get(pid, [])
    return out


def _by_kind(value) -> dict[str, float]:
    """Sum ``value(stat fields)`` over the descendants: total, the JVM,
    and the Python workers with their daemon."""
    out = {"total": 0, "jvm": 0, "python": 0}
    for comm, f in descendants().values():
        v = value(f)
        out["total"] += v
        kind = "jvm" if comm == "java" else "python" if comm.startswith("python") else None
        if kind:
            out[kind] += v
    return out


def cpu_seconds() -> dict[str, float]:
    """user + system CPU seconds of the live descendants, including the
    reaped children they waited for (cutime/cstime)."""
    ticks = _by_kind(lambda f: int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]))
    return {k: v / _TICK for k, v in ticks.items()}


def rss_by_kind() -> dict[str, int]:
    return _by_kind(lambda f: int(f[21]) * _PAGE)


class RssSampler:
    """Samples summed descendant RSS on a background thread; ``stop()``
    returns, per kind, the largest sum seen since ``start()``."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak = {"total": 0, "jvm": 0, "python": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            for k, v in rss_by_kind().items():
                self.peak[k] = max(self.peak[k], v)
            self._stop.wait(self.period_s)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> dict[str, int]:
        self._stop.set()
        self._thread.join()
        return self.peak


def _alive(pid: int) -> bool:
    try:
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False  # our child, now reaped
    except ChildProcessError:
        pass  # not our child: /proc tells
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids, timeout_s: float = 20.0) -> None:
    """Wait until every pid has exited; SIGKILL whatever outlives the
    timeout, then wait for those too."""
    pids = set(pids)
    for grace in (timeout_s, 5.0):
        deadline = time.time() + grace
        while pids and time.time() < deadline:
            pids = {p for p in pids if _alive(p)}
            time.sleep(0.05)
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
