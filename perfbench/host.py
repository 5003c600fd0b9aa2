"""Host fit and process sampling from /proc (psutil is not installed)."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import sys
import threading
import time

# VmHWM keeps a worker's peak between polls, so polls can be sparse; each
# one scans /proc (~2 ms), which competes with the measured call
SAMPLE_EVERY_S = 0.1


def log(msg: str) -> None:
    print(f"# {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """A quarter of the host's memory, between 1 and 8 GiB: the driver JVM
    shares the host with one Python worker per core."""
    mb = min(max(mem_total_mb() // 4, 1024), 8192)
    return f"{mb}m"


def source_digest(root: str) -> str:
    """sha256 over the program's .py files, for checkouts without git."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "cliner_spark")
    for name in sorted(os.listdir(pkg)):
        if name.endswith(".py"):
            h.update(name.encode())
            with open(os.path.join(pkg, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def host_record(root: str, driver_mem: str) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "driver_memory": driver_mem,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "git_commit": git_commit(root),
        "source_sha256_16": source_digest(root),
    }


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pid: int) -> float:
    """Lifetime peak RSS (VmHWM) of one process."""
    return _status_kb(pid, "VmHWM:") / 1024


def python_workers(jvm_pid: int) -> list[int]:
    """pyspark.daemon and the workers it forks (they keep its command line).

    Other JVM children are left out: a child the JVM spawns for a shell
    command shares the JVM's memory map (and command line) until it execs,
    so its VmHWM would read as the JVM's."""
    out = []
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" in f.read():
                    out.append(pid)
        except (FileNotFoundError, ProcessLookupError):
            pass
    return out


class WorkerRssSampler:
    """Peak RSS of the largest single Python worker under the JVM.

    On start every live worker's VmHWM is reset through
    /proc/<pid>/clear_refs, then a thread polls VmHWM, so a spike shorter
    than the poll interval is still seen by a worker that outlives it.
    """

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _poll(self) -> None:
        for pid in python_workers(self.jvm_pid):
            self.peak_kb = max(self.peak_kb, _status_kb(pid, "VmHWM:"))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._poll()
            self._stop.wait(SAMPLE_EVERY_S)

    def __enter__(self) -> "WorkerRssSampler":
        for pid in python_workers(self.jvm_pid):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass  # process gone, or reset refused: VmHWM stays lifetime
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._poll()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


class Stopwatch:
    def __enter__(self) -> "Stopwatch":
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.s = time.perf_counter() - self.t0
