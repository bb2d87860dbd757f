"""Host record, resource sampling and process hygiene for one benchmark run.

Nothing here imports pyspark: the module runs before the JVM starts.
"""

from __future__ import annotations

import os
import re
import shutil
import threading
import time
from contextlib import contextmanager


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def memcpy_probe_ms() -> float:
    """Best of three copies of a touched 64 MB buffer. A few ms means the
    shared host is in a usable window; tens of ms means it is not, and
    every timing of the run should be read with that in mind."""
    import numpy as np

    a = np.ones(64 * 1024 * 1024 // 8, dtype=np.float64)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        a.copy()
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def mem_available_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024.0**2
    return float("nan")


def fs_type(path: str) -> str:
    """Filesystem of ``path`` as /proc/mounts names it (longest mount prefix)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt, typ = parts[1], parts[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, typ
    return kind


def host_record(scratch: str) -> dict:
    return {
        "nproc": nproc(),
        "memcpy_64mb_ms": round(memcpy_probe_ms(), 3),
        "load1": os.getloadavg()[0],
        "mem_available_gb": round(mem_available_gb(), 3),
        "scratch_fs": fs_type(os.path.dirname(scratch)),
    }


def dir_files(path: str) -> dict[str, int]:
    """Apparent size of every regular file under ``path`` by path; files
    that vanish mid-walk (Spark deletes shuffle files concurrently) are
    left out."""
    files: dict[str, int] = {}
    stack = [path]
    while stack:
        d = stack.pop()
        try:
            with os.scandir(d) as it:
                for e in it:
                    try:
                        if e.is_dir(follow_symlinks=False):
                            stack.append(e.path)
                        elif e.is_file(follow_symlinks=False):
                            files[e.path] = e.stat(follow_symlinks=False).st_size
                    except FileNotFoundError:
                        pass
        except (FileNotFoundError, NotADirectoryError):
            pass
    return files


#: files still being written: Spark's temp_* shuffle spills, uuid-suffixed
#: shuffle files before their rename, and parquet task output under
#: ``_temporary`` before its commit
_IN_PROGRESS = re.compile(
    r"(^|/)temp_[^/]*$|\.[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}$|/_temporary/"
)


def finished(path: str) -> bool:
    return _IN_PROGRESS.search(path) is None


def dir_bytes(path: str) -> int:
    return sum(dir_files(path).values())


def clear_dir(path: str) -> None:
    """Empty ``path`` (spill and shuffle dirs a killed run leaked)."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _proc_kb(path: str, key: str) -> int:
    with open(path) as f:
        for line in f:
            if line.startswith(key):
                return int(line.split()[1])
    return 0


def tree_mem_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants. Python
    processes count their proportional share (Pss): pages the forked
    Python workers share are split among them instead of counted once
    per process. The JVM counts its resident set (VmRSS), which equals its
    Pss up to a few MB of shared libraries: reading its Pss walks every
    mapping of the pre-touched heap, ~60 ms per read on 4 cores while
    holding the JVM's mmap lock, which slowed the operation being
    measured."""
    kids = _children()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/comm") as f:
                jvm = f.read().strip() == "java"
            if jvm:
                total += _proc_kb(f"/proc/{pid}/status", "VmRSS:") * 1024
            else:
                total += _proc_kb(f"/proc/{pid}/smaps_rollup", "Pss:") * 1024
        except OSError:
            pass
    return total


class Sampler:
    """Background sampler of peak process-tree memory and of the scratch
    bytes each measured operation writes, taken only while an operation
    runs (``measuring``).

    The tree is rooted at this process, so it covers the driver Python,
    the driver JVM and the JVM's Python workers. ``scratch_written`` holds
    one number per operation: the summed largest size of every file the
    operation created in the scratch dir (spills, shuffle files), once
    written: a sample catches a file still being written only by chance.
    Not the peak size of the dir: Spark's cleaner deletes shuffle files
    once the JVM's garbage collector has run, at times no run controls,
    so the peak of the same operation varied by a third between runs."""

    #: memory is read every ``RSS_EVERY``-th period: one read of the
    #: tree's Python processes costs ~20 ms of a core
    RSS_EVERY = 5

    def __init__(self, scratch: str, period_s: float = 0.1):
        self.scratch = scratch
        self.period_s = period_s
        self.peak_rss = 0
        self.scratch_written: list[int] = []
        self._before: set[str] = set()
        self._written: dict[str, int] = {}
        self._lock = threading.Lock()
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="perfbench-sampler", daemon=True)

    def _sample(self, rss: bool = True) -> None:
        files = dir_files(self.scratch)
        mem = tree_mem_bytes(os.getpid()) if rss else 0
        with self._lock:
            self.peak_rss = max(self.peak_rss, mem)
            for p, n in files.items():
                if p not in self._before and finished(p) and n > self._written.get(p, -1):
                    self._written[p] = n

    def _loop(self) -> None:
        tick = 0
        while not self._stop.wait(self.period_s):
            if self._active.is_set():
                self._sample(rss=tick % self.RSS_EVERY == 0)
                tick += 1

    @contextmanager
    def measuring(self):
        self._before = set(dir_files(self.scratch))
        self._written = {}
        self._active.set()
        try:
            yield
        finally:
            self._sample()
            self._active.clear()
            self.scratch_written.append(sum(self._written.values()))

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def descendants(root: int) -> list[int]:
    kids, out, stack = _children(), [], [root]
    while stack:
        for c in kids.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def reap(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every pid has exited; SIGKILL what is left at the timeout."""
    import signal

    def alive(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.time() + timeout_s
    while any(alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)
    for p in pids:
        if alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
