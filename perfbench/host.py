"""Host block and process-tree bookkeeping, read from /proc (no psutil).

The host block (``nproc``, load average, a fixed calibration probe timed
before and after the workload) goes into every result, so host drift shows
next to the numbers. ``tree_pids`` / ``peak_rss_mb`` cover the benchmark's
process tree: this interpreter, the Spark JVM it launched and the JVM's
Python workers.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time

import numpy as np


def loadavg() -> list[float]:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_jiffies() -> dict[str, int]:
    """Host-wide CPU time counters (busy, idle, steal) from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, idle, iowait, irq, softirq, steal = f
    return {"busy": user + nice + system + irq + softirq, "idle": idle + iowait, "steal": steal}


def steal_share(before: dict[str, int], after: dict[str, int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two reads."""
    d = {k: after[k] - before[k] for k in before}
    total = sum(d.values())
    return d["steal"] / total if total else 0.0


def calibration_s() -> float:
    """Fixed single-process probe: sort 1M seeded doubles, five times."""
    x = np.random.default_rng(0).random(1_000_000)
    t0 = time.perf_counter()
    for _ in range(5):
        np.sort(x, kind="quicksort")
    return time.perf_counter() - t0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        # the command name may contain spaces: ppid follows the closing ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of per-process peak RSS (VmHWM) over the live process tree."""
    return sum(_status_kb(p, "VmHWM") for p in tree_pids()) / 1024.0


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM it launched and wait until every
    process this one started has exited."""
    from pyspark import SparkContext

    me = os.getpid()
    started = [p for p in tree_pids() if p != me]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    alive = started
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
