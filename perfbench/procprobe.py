"""/proc probes: peak RSS of the job's JVM and Python workers, JVM rchar,
loadavg.  A probe that cannot read what it needs raises ``ProbeError``; it
never reports 0 in place of a reading."""

from __future__ import annotations

import os
import threading


class ProbeError(RuntimeError):
    pass


def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


def loadavg() -> list[float]:
    try:
        return [float(x) for x in _read("/proc/loadavg").split()[:3]]
    except (OSError, ValueError) as e:
        raise ProbeError(f"cannot read /proc/loadavg: {e}") from e


def _stat(pid: int) -> tuple[int, int, str]:
    """(ppid, starttime, state letter) of ``pid``; the start time tells a
    reused pid apart."""
    s = _read(f"/proc/{pid}/stat")
    fields = s[s.rindex(")") + 2:].split()
    return int(fields[1]), int(fields[19]), fields[0]


def descendants(root: int) -> dict[int, int]:
    """{pid: starttime} of every live descendant of ``root``."""
    children: dict[int, list[int]] = {}
    start: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid, st, _ = _stat(int(name))
        except (OSError, ValueError):    # exited while listing
            continue
        children.setdefault(ppid, []).append(int(name))
        start[int(name)] = st
    out, todo = {}, [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out[c] = start[c]
            todo.append(c)
    return out


def status_kb(pid: int, key: str) -> int:
    for line in _read(f"/proc/{pid}/status").splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    raise ProbeError(f"/proc/{pid}/status has no {key}")


def rchar(pid: int) -> int:
    for line in _read(f"/proc/{pid}/io").splitlines():
        if line.startswith("rchar:"):
            return int(line.split()[1])
    raise ProbeError(f"/proc/{pid}/io has no rchar")


def jvm_pid(root: int) -> int:
    """The JVM among the descendants of ``root`` (the pyspark gateway)."""
    for pid in descendants(root):
        try:
            if _read(f"/proc/{pid}/comm").strip() == "java":
                return pid
        except OSError:
            continue
    raise ProbeError(f"no JVM among the descendants of pid {root}")


def _is_py_worker(pid: int) -> bool:
    cmd = _read(f"/proc/{pid}/cmdline")
    return "pyspark.daemon" in cmd or "pyspark.worker" in cmd


class TreeProbe:
    """Polls a job's process tree until ``stop()``: the JVM's and the
    largest Python worker's VmHWM, and every pid seen (so the caller can
    wait for all of them to end)."""

    def __init__(self, root: int, interval: float = 0.1) -> None:
        status_kb(os.getpid(), "VmHWM")      # fail now, not after the job
        self.root, self.interval = root, interval
        self.seen: dict[int, int] = {}
        self.jvm_hwm_kb = 0
        self.py_hwm_kb = 0
        self._error: Exception | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _poll(self) -> None:
        for pid, st in descendants(self.root).items():
            self.seen[pid] = st
            try:
                if _read(f"/proc/{pid}/comm").strip() == "java":
                    self.jvm_hwm_kb = max(self.jvm_hwm_kb,
                                          status_kb(pid, "VmHWM"))
                elif _is_py_worker(pid):
                    self.py_hwm_kb = max(self.py_hwm_kb,
                                         status_kb(pid, "VmHWM"))
            except (FileNotFoundError, ProcessLookupError):
                continue                     # exited between list and read
            except ProbeError:
                # a zombie has no memory fields left; its peak was read
                # on an earlier poll
                try:
                    if _stat(pid)[2] != "Z":
                        raise
                except FileNotFoundError:
                    continue

    def _loop(self) -> None:
        try:
            while not self._stop.wait(self.interval):
                self._poll()
        except Exception as e:  # reported by stop()
            self._error = e

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def peaks(self) -> tuple[float, float]:
        """(JVM peak RSS MB, largest Python worker peak RSS MB)."""
        if self._error is not None:
            raise ProbeError(f"job pid {self.root}: probe failed: "
                             f"{self._error!r}") from self._error
        if not self.jvm_hwm_kb or not self.py_hwm_kb:
            raise ProbeError(
                f"job pid {self.root}: no VmHWM read for the "
                f"{'JVM' if not self.jvm_hwm_kb else 'Python workers'}")
        return self.jvm_hwm_kb / 1024, self.py_hwm_kb / 1024

    def alive(self) -> list[int]:
        """Pids seen during the job that still run (same start time, not
        a zombie)."""
        out = []
        for pid, st in self.seen.items():
            try:
                _, start, state = _stat(pid)
            except (OSError, ValueError):
                continue
            if start == st and state != "Z":
                out.append(pid)
        return out
