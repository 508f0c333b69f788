"""Host fitting and host-side measurements for the benchmark.

The engine's session factory (``pdf_toolkit_spark/spark/session.py``)
defaults to an 80g driver heap and a tmpfs shuffle directory. The
benchmark fits it to the host from outside, through the environment
variables the factory and Spark already read, and records what it set
next to every result.
"""

from __future__ import annotations

import ctypes
import gc
import hashlib
import os
import shutil
import signal
import threading
import time
from pathlib import Path

#: prctl option: orphaned descendants are re-parented to the caller
PR_SET_CHILD_SUBREAPER = 36


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""

    return len(os.sched_getaffinity(0))


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def fit_environment(root: Path, work: Path) -> dict[str, str]:
    """Set the variables the session factory and its Python workers read.

    - ``SPARK_GRAFT_CPUS``: local[nproc / 2]. The other half of the
      cores runs the JVM's own threads (JIT, GC, scheduler) and this
      process. On a 4-core host, five analytics runs at local[4] read a
      median 0.32 queries/s, and the next five at local[2] 0.38.
    - ``SPARK_GRAFT_DRIVER_MEM``: a quarter of RAM. In local mode the
      driver JVM is the executor, and the box is shared.
    - ``SPARK_LOCAL_DIRS``: shuffle and spill files on disk, inside the
      checkout. The factory's /dev/shm default counts against RAM.
    - ``PYTHONPATH``: executor workers import ``pdf_toolkit_spark``
      whatever their working directory.
    - ``TMPDIR`` and ``JAVA_TOOL_OPTIONS``: temporary files of every
      Python process and JVM (the spark-submit launcher's too) stay in
      the checkout, and no JVM writes an hsperfdata file to /tmp.
    """

    local_dir = work / "spark-local"
    local_dir.mkdir(parents=True, exist_ok=True)
    tmp_dir = work / "tmp"
    tmp_dir.mkdir(parents=True, exist_ok=True)
    path = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    env = {
        "SPARK_GRAFT_CPUS": str(max(1, nproc() // 2)),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1024, _mem_total_mb() // 4)}m",
        "SPARK_LOCAL_DIRS": str(local_dir),
        "PYTHONPATH": os.pathsep.join(dict.fromkeys(path)),
        "TMPDIR": str(tmp_dir),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def calibrate() -> dict[str, float]:
    """bench.py's calibration block, repeated here so results stay
    comparable with its history: ~1e7 Python int ops (cpu_ms) and 64 MB
    of md5 (md5_ms, memory-bandwidth sensitive)."""

    t0 = time.monotonic()
    x = 0
    for i in range(10_000_000):
        x += i
    cpu_ms = (time.monotonic() - t0) * 1000
    blk = b"\x00" * (1 << 20)
    t0 = time.monotonic()
    h = hashlib.md5()
    for _ in range(64):
        h.update(blk)
    md5_ms = (time.monotonic() - t0) * 1000
    return {"cpu_ms": round(cpu_ms, 1), "md5_ms": round(md5_ms, 1)}


def loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def disk_free_bytes(path: Path) -> int:
    return shutil.disk_usage(path).free


def remove_tree(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)


def adopt_orphans() -> bool:
    """Make this process the subreaper of everything it starts: a
    descendant whose parent exits first (the JVM's Python daemon and
    workers) becomes a child of this process rather than of init, so
    ``end_children`` waits for it too. False if the kernel refused."""

    libc = ctypes.CDLL(None, use_errno=True)
    return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0


def _child_pids() -> list[int]:
    me = os.getpid()
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat[stat.rindex(")") + 2 :].split()[1]) == me:
            pids.append(int(entry))
    return pids


def end_children(grace: float = 15.0) -> int:
    """Stop the resource tracker of the corpus generator's process pool
    (it would outlive this process otherwise), then reap every child
    until none is left. Children still running after ``grace`` seconds
    get SIGTERM, and SIGKILL five seconds later; what they leave behind
    is adopted and handled the same way. Returns how many processes had
    to be signalled."""

    from multiprocessing import resource_tracker

    # finalise the pool's semaphores while the tracker still runs: a
    # later finaliser would start a new tracker
    gc.collect()
    resource_tracker._resource_tracker._stop()
    start = time.monotonic()
    sent: set[tuple[int, int]] = set()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return len({pid for pid, _ in sent})
        waited = time.monotonic() - start
        if waited > grace:
            sig = signal.SIGKILL if waited > grace + 5 else signal.SIGTERM
            for pid in _child_pids():
                if (pid, sig) not in sent:
                    sent.add((pid, sig))
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
        time.sleep(0.05)


def _tree_rss_bytes(root_pid: int, page: int) -> tuple[int, int]:
    """Resident bytes of ``root_pid`` and all its descendants (driver
    Python, the JVM it launched, the JVM's Python daemon and workers),
    and of the Python processes the JVM started (the daemon and the
    workers that run the UDFs)."""

    children: dict[int, list[int]] = {}
    python: set[int] = set()
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
        if stat[stat.index("(") + 1 :].startswith("python"):
            python.add(int(entry))
    total, workers = 0, 0
    todo = [(root_pid, False)]
    while todo:
        pid, under_jvm = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
        except OSError:
            continue
        total += rss
        if under_jvm and pid in python:
            workers += rss
        below = under_jvm or (pid != root_pid and pid not in python)
        todo.extend((child, below) for child in children.get(pid, ()))
    return total, workers


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds on a
    background thread while the ``with`` block runs; ``peak_mb`` holds
    the largest sample of the whole tree, ``worker_peak_mb`` that of the
    Python processes the JVM started."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self.worker_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            total, py = _tree_rss_bytes(pid, self._page)
            self.peak_mb = max(self.peak_mb, total / 2**20)
            self.worker_peak_mb = max(self.worker_peak_mb, py / 2**20)
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
