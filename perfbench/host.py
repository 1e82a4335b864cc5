"""Host fingerprint, CPU noise floor and peak memory of the run.

Numbers taken on another host are not comparable, so each result carries
the fingerprint of the host that produced it, and a fixed pure-Python CPU
loop timed in every run: a slow or loaded host shows as a slow noise
floor, not as a regression of the engine.
"""

from __future__ import annotations

import os
import platform
import time

NOISE_LOOP_N = 300_000


def noise_floor_s(reps: int = 5) -> float:
    """Median wall time of a fixed integer-arithmetic loop."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(NOISE_LOOP_N):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        times.append(time.perf_counter() - t0)
    times.sort()
    return times[len(times) // 2]


def cpu_ticks() -> list[int]:
    """Aggregate CPU tick counters from ``/proc/stat`` (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def driver_jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def fingerprint(spark) -> dict:
    import pyarrow
    import pyspark

    conf = {k: v for k, v in spark.sparkContext.getConf().getAll()
            if not k.startswith(("spark.app.", "spark.driver.host", "spark.driver.port",
                                 "spark.executor.id", "spark.sql.warehouse.dir",
                                 "spark.local.dir", "spark.eventLog.dir",
                                 "spark.driver.extraJavaOptions"))}
    return {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "machine": platform.machine(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "loadavg": list(os.getloadavg()),
        "session_conf": dict(sorted(conf.items())),
    }
