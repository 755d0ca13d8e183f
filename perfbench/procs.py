"""CPU and memory of a process tree, read from ``/proc`` (no psutil).

``ProcTree`` follows the calling process and every descendant: the
driver Python, the Spark JVM it launches, the PySpark daemon and its
forked Python workers, and any subprocess. A background thread polls
``/proc/<pid>/stat`` so that

* CPU is split by process kind (``driver``, ``jvm``, ``pyworker``,
  ``other``);
* a process that ends between two reads keeps the CPU it was last seen
  with (the PySpark daemon ignores ``SIGCHLD``, so its workers are
  reaped by the kernel and their time never reaches its ``cutime``);
* children reaped with ``wait()`` are counted through the parent's
  ``cutime``/``cstime``, less what was already counted for a tracked
  child that vanished, so nothing is counted twice;
* the peak of the tree's resident memory is kept from ``reset_peak()``
  on: the largest sum, over one poll's live processes, of each one's
  resident high-water mark (``VmHWM``). The kernel keeps that mark
  between polls, so a spike shorter than the poll interval still
  counts; ``reset_peak()`` sets every mark back to the process's
  current resident size (``clear_refs``). A process counts from its
  second poll: a child the JVM forks to run a shell command shows the
  JVM's whole resident set until it execs, and would double the sum
  for that instant.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

KINDS = ("driver", "jvm", "pyworker", "other")
_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass
class _Stat:
    ppid: int
    own: float  # utime + stime, seconds
    children: float  # cutime + cstime, seconds
    rss: int  # bytes


def read_stat(pid: int, proc: str = "/proc") -> _Stat | None:
    """Parse ``/proc/<pid>/stat``; None if the process is gone."""
    try:
        with open(f"{proc}/{pid}/stat", "rb") as f:
            raw = f.read().decode("utf-8", "replace")
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm may hold spaces or parentheses: fields resume after the last ')'
    rest = raw[raw.rfind(")") + 2 :].split()
    return _Stat(
        ppid=int(rest[1]),
        own=(int(rest[11]) + int(rest[12])) / _TICK,
        children=(int(rest[13]) + int(rest[14])) / _TICK,
        rss=int(rest[21]) * _PAGE,
    )


def read_hwm(pid: int, proc: str = "/proc") -> int | None:
    """The process's resident high-water mark in bytes; None if gone."""
    try:
        with open(f"{proc}/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except (FileNotFoundError, ProcessLookupError):
        pass
    return None


def reset_hwm(pid: int, proc: str = "/proc") -> None:
    """Set the process's high-water mark back to its resident size."""
    try:
        with open(f"{proc}/{pid}/clear_refs", "w") as f:
            f.write("5")
    except (FileNotFoundError, ProcessLookupError):
        pass


def classify(pid: int, root: int, proc: str = "/proc") -> str:
    if pid == root:
        return "driver"
    try:
        with open(f"{proc}/{pid}/comm") as f:
            comm = f.read().strip()
        with open(f"{proc}/{pid}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except (FileNotFoundError, ProcessLookupError):
        return "other"
    if comm == "java":
        return "jvm"
    if "pyspark.daemon" in cmd or "pyspark/daemon" in cmd or "pyspark.worker" in cmd:
        return "pyworker"
    return "other"


def _children_map(proc: str = "/proc") -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        st = read_stat(int(name), proc)
        if st is not None:
            kids.setdefault(st.ppid, []).append(int(name))
    return kids


def descendants(root: int, proc: str = "/proc") -> list[int]:
    kids = _children_map(proc)
    out, todo = [root], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class ProcTree:
    """Poll a process tree; read cumulative CPU by kind and peak RSS."""

    def __init__(self, root: int | None = None, interval: float = 0.1,
                 proc: str = "/proc"):
        self.root = root or os.getpid()
        self.interval = interval
        self.proc = proc
        self._lock = threading.Lock()
        self._known: dict[int, tuple[str, _Stat]] = {}
        self._reaped_adj: dict[int, float] = {}
        self._retained = dict.fromkeys(KINDS, 0.0)
        self._peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    # -- polling -----------------------------------------------------------
    def poll(self) -> None:
        # one poll at a time: a stale snapshot applied after a newer one
        # would resurrect a vanished process and count it twice
        with self._lock:
            now: dict[int, _Stat] = {}
            for pid in descendants(self.root, self.proc):
                st = read_stat(pid, self.proc)
                if st is not None:
                    now[pid] = st
            absorbed: dict[int, float] = {}
            for pid in set(self._known) - set(now):
                kind, st = self._known.pop(pid)
                adj = self._reaped_adj.pop(pid, 0.0)
                self._retained[kind] += st.own + adj
                # a waiting parent absorbs the child's own time and its
                # raw cutime, all of which is counted by now
                absorbed[st.ppid] = absorbed.get(st.ppid, 0.0) + st.own + st.children
            rss = 0
            for pid, st in now.items():
                prev = self._known.get(pid)
                # classified on every poll: a new process may not have
                # exec'd yet (the JVM starts as a shell script, a Python
                # worker as a fork of the daemon)
                kind = classify(pid, self.root, self.proc)
                grown = st.children - (prev[1].children if prev else 0.0)
                self._reaped_adj[pid] = self._reaped_adj.get(pid, 0.0) + max(
                    0.0, grown - absorbed.get(pid, 0.0)
                )
                self._known[pid] = (kind, st)
                if prev is not None:
                    rss += read_hwm(pid, self.proc) or st.rss
            self._peak = max(self._peak, rss)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.poll()

    def start(self) -> "ProcTree":
        self.poll()
        self._thread = threading.Thread(target=self._loop, name="proctree", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.poll()

    # -- readings ----------------------------------------------------------
    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds by kind, polled now."""
        self.poll()
        with self._lock:
            out = dict(self._retained)
            for pid, (kind, st) in self._known.items():
                out[kind] += st.own + self._reaped_adj.get(pid, 0.0)
        return out

    def reset_peak(self) -> None:
        self.poll()
        with self._lock:
            for pid in self._known:
                reset_hwm(pid, self.proc)
            self._peak = 0
        self.poll()

    def peak_rss(self) -> int:
        self.poll()
        with self._lock:
            return self._peak


def cpu_delta(after: dict[str, float], before: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in KINDS}
