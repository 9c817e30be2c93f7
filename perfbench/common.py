"""Helpers shared by the workloads: host stamp, JVM resource readings,
percentiles and directory sizes."""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import time

import numpy as np


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _proc_stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None
    when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None


def descendants(root: int | None = None) -> dict[int, str]:
    """Every live descendant of ``root`` (default: this process), as
    pid -> start time, so a reused pid is not mistaken for it."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    start: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        st = _proc_stat(int(d))
        if st is None or st[0] == "Z":
            continue
        children.setdefault(int(st[1]), []).append(int(d))
        start[int(d)] = st[19]
    out, todo = {}, [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out[c] = start[c]
            todo.append(c)
    return out


def _alive(procs: dict[int, str]) -> dict[int, str]:
    out = {}
    for pid, started in procs.items():
        st = _proc_stat(pid)
        if st is not None and st[0] != "Z" and st[19] == started:
            out[pid] = started
    return out


def _wait_gone(procs: dict[int, str], timeout: float) -> dict[int, str]:
    """Waits up to ``timeout`` seconds for ``procs`` to end; returns
    those still alive."""
    deadline = time.monotonic() + timeout
    procs = _alive(procs)
    while procs and time.monotonic() < deadline:
        time.sleep(0.05)
        procs = _alive(procs)
    return procs


def stop_spark(spark) -> None:
    """Stops the session and the JVM behind it, then waits until every
    process this run started has ended: the JVM and any Python workers
    it forked. ``spark`` may be None when the session failed to start
    after its JVM was launched."""
    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        # the JVM's children are re-parented once it exits: list them now
        procs = descendants()
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
            proc = gw.proc
            if proc is not None:
                # the JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        left = _wait_gone(procs, 20)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        left = _wait_gone(left, 10)
        if left:
            raise RuntimeError(f"processes still running after teardown: {sorted(left)}")


def peak_rss_mb(pid: int) -> float:
    """High-water resident set size of a process (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_s(pid: int) -> float:
    """User + system CPU seconds a process has used so far."""
    fields = _proc_stat(pid)
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def host_stamp(spark, seed: int) -> dict:
    sc = spark.sparkContext
    return {
        "nproc": nproc(),
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": sc.master,
        "seed": seed,
    }


def pctl(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    if not values:
        raise ValueError("percentile of no values")
    return float(np.percentile(np.asarray(values, dtype=float), q))


def tree_size(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``; Spark's
    ``_SUCCESS`` markers and ``.crc`` sidecars are not counted."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size
