"""Environment and load record written into every benchmark artifact."""

from __future__ import annotations

import os
import platform


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def load_1m() -> float:
    return os.getloadavg()[0]


def java_version(spark) -> str:
    """Name and version of the JVM the session runs in."""
    props = spark.sparkContext._jvm.java.lang.System
    return f"{props.getProperty('java.vm.name')} {props.getProperty('java.runtime.version')}"


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of process ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the regular files under ``path``."""
    files = total = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            full = os.path.join(root, name)
            if os.path.isfile(full) and not os.path.islink(full):
                files += 1
                total += os.path.getsize(full)
    return files, total


def environment(spark) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "KGPIPE_DRIVER_MEM": os.environ.get("KGPIPE_DRIVER_MEM"),
        "spark": pyspark.__version__,
        "java": java_version(spark),
        "python": platform.python_version(),
        "platform": platform.platform(),
    }
