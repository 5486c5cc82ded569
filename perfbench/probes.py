"""Host-side probes read from ``/proc`` and ``vmstat``.

* ``ProcTree``     — CPU seconds and resident memory of the Spark JVM
  plus every process below it (the Python daemon and its workers), with
  the JVM's JIT compiler threads kept apart.
* ``PeakRss``      — a sampling thread that keeps the largest summed RSS
  of the tree while it runs.
* ``StealSampler`` — ``vmstat 1`` in a child process; host CPU steal is
  context printed beside the metrics, never a metric.
* ``host_control_s`` — a fixed hashing workload; context, like steal.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parens: fields restart after the last ')'
    return raw[raw.rindex(")") + 2:].split()


class ProcTree:
    """The process ``root`` and all of its descendants."""

    def __init__(self, root: int):
        self.root = root

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                f = _stat_fields(int(name))
                if f is not None:
                    children.setdefault(int(f[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_snapshot(self) -> dict[tuple, float]:
        """CPU seconds (user + system) keyed by (pid, tid, role): each
        thread of the root, the root's reaped children, and each process
        below it with its own reaped children.  ``role`` is "jit" for
        the JVM's JIT compiler threads and "work" for everything else.
        Per-thread keys keep the split right when HotSpot retires a
        compiler thread mid-run."""
        snap: dict[tuple, float] = {}
        try:
            tids = os.listdir(f"/proc/{self.root}/task")
        except OSError:
            tids = []
        for tid in tids:
            try:
                with open(f"/proc/{self.root}/task/{tid}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            role = "jit" if "Compiler" in raw[raw.index("(") + 1:raw.rindex(")")] else "work"
            fields = raw[raw.rindex(")") + 2:].split()
            snap[(self.root, int(tid), role)] = (int(fields[11]) + int(fields[12])) / _TICK
        for pid in self.pids():
            f = _stat_fields(pid)
            if f is None:
                continue
            # fields 14-17 of stat (0-based 11-14 here): own, then reaped
            own = 0 if pid == self.root else int(f[11]) + int(f[12])
            snap[(pid, 0, "work")] = (own + int(f[13]) + int(f[14])) / _TICK
        return snap

    @staticmethod
    def rss_bytes(pids: list[int]) -> int:
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            except OSError:
                pass
        return total


def cpu_delta(before: dict, after: dict, role: str = "work") -> float:
    """CPU seconds of ``role`` spent between two ``cpu_snapshot``s."""
    return sum(max(0.0, v - before.get(k, 0.0))
               for k, v in after.items() if k[2] == role)


def find_jvm(spark) -> int:
    """pid of the JVM behind ``spark`` (spark-submit execs into java)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/comm") as f:
        if f.read().strip() != "java":
            raise RuntimeError(f"gateway process {pid} is not the JVM")
    return pid


def host_control_s(threads: int, mib: int = 256) -> float:
    """Wall seconds for ``threads`` threads to SHA-256 ``mib`` MiB each:
    a fixed CPU and memory workload (hashlib releases the GIL), run with
    the JVM idle.  When it slows, the host slowed, not the program."""
    buf = bytes(1 << 20)

    def work() -> None:
        for _ in range(mib):
            hashlib.sha256(buf).digest()

    pool = [threading.Thread(target=work) for _ in range(threads)]
    t = time.perf_counter()
    for th in pool:
        th.start()
    for th in pool:
        th.join()
    return time.perf_counter() - t


class PeakRss:
    """Context manager: peak summed RSS of a ``ProcTree`` while open."""

    def __init__(self, tree: ProcTree, interval: float = 0.05):
        self.tree, self.interval = tree, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids, refreshed = self.tree.pids(), time.monotonic()
        while not self._stop.is_set():
            self.peak = max(self.peak, ProcTree.rss_bytes(pids))
            if time.monotonic() - refreshed > 0.5:  # workers come and go
                pids, refreshed = self.tree.pids(), time.monotonic()
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class StealSampler:
    """Samples the ``st`` column of ``vmstat 1`` until closed."""

    def __init__(self):
        self.samples: list[float] = []
        self._proc = None
        self._thread = None

    def start(self) -> "StealSampler":
        try:
            self._proc = subprocess.Popen(
                ["vmstat", "1"], stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True)
        except OSError:  # no vmstat on this host: steal stays unknown
            return self
        self._thread = threading.Thread(target=self._read, daemon=True)
        self._thread.start()
        return self

    def _read(self) -> None:
        col, first = None, True
        for line in self._proc.stdout:
            parts = line.split()
            if "st" in parts:
                col = parts.index("st")
            elif col is not None and parts and parts[0].isdigit():
                if first:  # the first row averages since boot
                    first = False
                elif col < len(parts):
                    self.samples.append(float(parts[col]))

    def close(self) -> dict:
        if self._proc is not None:
            self._proc.terminate()
            self._proc.wait(timeout=10)
            self._thread.join(timeout=5)
        s = self.samples
        return {"steal_pct_mean": round(sum(s) / len(s), 2) if s else None,
                "steal_pct_max": max(s) if s else None,
                "steal_samples": len(s)}
