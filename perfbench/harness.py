"""Run directories, Spark sessions and the process-tree RSS sampler.

Everything a run writes lives under ``<checkout>/.perfbench/``: one fresh
directory per run (warehouse, Spark local dirs, temp files, event log,
checkpoints), removed when the run ends, plus a cache of generated inputs
that later runs reuse. Inputs are generated outside every timed window.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import threading
import time
from dataclasses import dataclass


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_from_meminfo(share: float = 0.125) -> str:
    """An eighth of physical memory for the driver JVM (which is also the
    executor in local mode), e.g. ``1920m`` on a 15 GB host."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
                return f"{max(1024, int(kb * share / 1024))}m"
    raise RuntimeError("no MemTotal in /proc/meminfo")


@dataclass
class RunDirs:
    run: str
    cache: str

    @classmethod
    def create(cls, root: str) -> RunDirs:
        base = os.path.join(root, ".perfbench")
        cache = os.path.join(base, "cache")
        run = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
        for d in (cache, run):
            os.makedirs(d, exist_ok=True)
        dirs = cls(run, cache)
        for sub in ("warehouse", "local", "tmp", "derby", "events", "crawl"):
            os.makedirs(dirs.sub(sub), exist_ok=True)
        return dirs

    def sub(self, name: str) -> str:
        return os.path.join(self.run, name)

    def remove(self) -> None:
        shutil.rmtree(self.run, ignore_errors=True)


def isolate_process(dirs: RunDirs) -> None:
    """Point every temporary location this process and its children use
    at the run directory, and size the driver from the host."""
    os.environ["TMPDIR"] = dirs.sub("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = dirs.sub("local")
    # every JVM, the spark-submit launcher's included: no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs.sub('tmp')}"
    os.environ.setdefault("SPARK_DRIVER_MEM", driver_mem_from_meminfo())
    tempfile.tempdir = None  # re-read TMPDIR


def new_session(dirs: RunDirs, event_log: bool):
    from obp_search_engine_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{host_cpus()}]",
        extra_conf={
            "spark.sql.warehouse.dir": dirs.sub("warehouse"),
            "spark.local.dir": dirs.sub("local"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={dirs.sub('derby')}",
            "spark.eventLog.enabled": "true" if event_log else "false",
            "spark.eventLog.dir": dirs.sub("events"),
        },
    )


def shutdown_spark() -> None:
    """Stop the active context, then the JVM gateway process, and wait for
    it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _children(pid: int) -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        tree.setdefault(ppid, []).append(int(name))
    return tree


def tree_pss_bytes(pid: int) -> int:
    """Resident memory of ``pid`` and all its descendants (driver JVM, Python
    workers), as proportional set size: the Python workers are forked from
    one daemon, and plain RSS would count their shared pages once per
    worker."""
    tree = _children(pid)
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        todo.extend(tree.get(p, []))
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Peak process-tree resident memory (PSS), sampled every ``interval``
    seconds."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
