"""Process-tree memory and CPU from /proc, plus the machine context.

psutil is not a dependency, so everything here reads /proc directly.
The process tree is this interpreter plus every descendant: the Spark
driver JVM and the Python workers it forks.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    f = raw[raw.rindex(")") + 2:].split()
    # fields after comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
    return comm, int(f[1]), sum(int(x) for x in f[11:15]) / _TICK


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(st[1], []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_bytes() -> int:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def python_workers() -> dict[int, float]:
    """pid -> CPU seconds of the Python processes Spark forked
    (descendants of this interpreter other than itself); a process's CPU
    includes that of workers it already reaped."""
    me = os.getpid()
    out = {}
    for pid in tree_pids():
        st = _stat(pid)
        if pid != me and st and st[0].startswith("python"):
            out[pid] = st[2]
    return out


def worker_import_cpu_s(root: str) -> float:
    """CPU seconds a fresh Python worker spends importing what the parse
    leaf needs, measured in a child interpreter."""
    import subprocess
    import sys

    code = ("import time, pyspark.worker; t = time.process_time(); "
            "import pandas, pyarrow, cpg_spark.operators.parse, "
            "cpg_spark.frontends, cpg_spark.frontends.eog; "
            "print(time.process_time() - t)")
    env = dict(os.environ, PYTHONPATH=root)
    res = subprocess.run([sys.executable, "-c", code], cwd=root, env=env,
                         capture_output=True, text=True, timeout=120,
                         check=True)
    return float(res.stdout.strip().splitlines()[-1])


class PeakRss:
    """Samples the process tree's resident memory on a thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())


def _meminfo_mb(key: str) -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024
    return -1.0


def _filesystem(path: str) -> str:
    """fstype of the mount holding ``path`` (longest mount-point prefix)."""
    path = os.path.realpath(path)
    best, fstype = "", "unknown"
    with open("/proc/mounts") as fh:
        for line in fh:
            parts = line.split()
            mnt = parts[1]
            inside = path == mnt or path.startswith(mnt.rstrip("/") + "/")
            if inside and len(mnt) > len(best):
                best, fstype = mnt, parts[2]
    return f"{fstype}:{best}"


def machine_context(workdir: str, local_dir: str) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(),
        "mem_available_mb": round(_meminfo_mb("MemAvailable")),
        "mem_total_mb": round(_meminfo_mb("MemTotal")),
        "fs_workdir": _filesystem(workdir),
        "fs_spark_local_dir": _filesystem(local_dir),
        "spark_version": pyspark.__version__,
        "pyarrow_version": pyarrow.__version__,
        "driver_mem": os.environ.get("CPG_SPARK_DRIVER_MEM"),
        "start_unix_s": round(time.time(), 3),
    }
