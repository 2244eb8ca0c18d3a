"""Host fit and process plumbing: Spark sizing from the machine, a host
fingerprint, peak-memory sampling and a shutdown that waits for the JVM.

Shuffle files and indexes stay under the run's work directory inside the
checkout."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import threading
from unittest import mock


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_gb() -> int:
    # the JVM heap gets 40% of the machine; Python workers, the page cache
    # and the driver process share the rest
    return max(1, int(mem_total_gb() * 0.4))


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _git_sha(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def source_sha1(root: str) -> str:
    """Hash of the engine's Python sources: identifies the measured code in
    a checkout that is not a git repository."""
    h = hashlib.sha1()
    pkg = os.path.join(root, "invoicenet_spark")
    for dirpath, dirnames, names in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(dirpath, n)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def fingerprint(root: str, spark, load_start: float) -> dict:
    import pyspark

    return {
        "cores": cores(),
        "mem_total_gb": round(mem_total_gb(), 2),
        "driver_memory_gb": driver_memory_gb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "git_sha": _git_sha(root),
        "source_sha1": source_sha1(root),
        "load1_start": load_start,
        "load1_end": load1(),
    }


def start_spark(work: str, ui: bool):
    """SparkSession from the engine's own factory, sized to this host.

    get_spark puts shuffle files on /dev/shm when it can; the benchmark
    keeps every file inside its work directory instead, so /dev/shm is
    hidden from that check and spark.local.dir points into the work dir."""
    from invoicenet_spark.session import get_spark

    local_dir = os.path.join(work, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    conf = {
        "spark.local.dir": local_dir,
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if ui else "false",
    }
    if ui:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    real_access = os.access

    def access(path, mode, *a, **k):
        return False if path == "/dev/shm" else real_access(path, mode, *a, **k)

    n = cores()
    with mock.patch("os.access", side_effect=access):
        return get_spark(
            "perfbench", cores=n, shuffle_partitions=n,
            driver_memory=f"{driver_memory_gb()}g", extra_conf=conf,
        )


def stop_spark(spark) -> None:
    """Stop the context, then close the gateway's stdin (the JVM exits on
    EOF) and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


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


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except OSError:
        return 0


class RssSampler:
    """Peak of the summed resident memory of this process and all of its
    descendants (the JVM and its Python workers), sampled every 0.25 s."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        kids = _children()
        todo, total = [os.getpid()], 0
        while todo:
            pid = todo.pop()
            total += _rss_kb(pid)
            todo.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024

