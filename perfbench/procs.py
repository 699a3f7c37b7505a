"""Process bookkeeping from /proc: PySpark worker RSS and clean shutdown.

psutil is not available, so both the RSS sampler and the shutdown wait read
``/proc/<pid>/{stat,status,cmdline}`` directly.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _status_kb(pid: int, *fields: str) -> dict[str, int]:
    out: dict[str, int] = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                key = line.split(":", 1)[0]
                if key in fields:
                    out[key] = int(line.split()[1])
    except OSError:
        pass
    return out


def pyspark_workers(root: int) -> list[int]:
    """PySpark Python workers under ``root``: processes forked by the
    ``pyspark.daemon`` (the daemon itself only forks and is excluded)."""
    daemons = [p for p in descendants(root) if "pyspark.daemon" in _cmdline(p)]
    kids = _children_map()
    return [w for d in daemons for w in kids.get(d, [])]


class RssSampler:
    """One thread polling the PySpark workers below this process.

    ``peak_mb`` is the largest kernel-recorded peak RSS (VmHWM) of any single
    worker seen while sampling, so a peak between two polls is not missed;
    ``rss_peak_mb`` is the largest VmRSS actually observed at a poll."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.hwm_kb = 0
        self.rss_kb = 0
        self.samples = 0
        self.workers: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            for pid in pyspark_workers(root):
                st = _status_kb(pid, "VmHWM", "VmRSS")
                if st:
                    self.workers.add(pid)
                    self.hwm_kb = max(self.hwm_kb, st.get("VmHWM", 0))
                    self.rss_kb = max(self.rss_kb, st.get("VmRSS", 0))
            self.samples += 1
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.hwm_kb / 1024.0

    @property
    def rss_peak_mb(self) -> float:
        return self.rss_kb / 1024.0


def wait_gone(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever is left at the deadline."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
