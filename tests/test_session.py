"""Session factory defaults (``polars_sim_spark.session.get_spark``)."""

from __future__ import annotations

import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_core_count_follows_host():
    """With ``SPARK_GRAFT_CPUS`` unset, the local master uses the cores
    this process may run on, not a fixed count. Runs in a fresh
    interpreter: the test session's JVM is already up, and a master is
    only chosen at JVM launch."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    env["PYTHONPATH"] = _REPO + os.pathsep + env.get("PYTHONPATH", "")
    script = (
        "from polars_sim_spark.session import get_spark\n"
        "spark = get_spark('session-default-cores')\n"
        "print('MASTER=' + spark.sparkContext.master)\n"
        "spark.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    ).stdout
    masters = [ln[len("MASTER="):] for ln in out.splitlines() if ln.startswith("MASTER=")]
    assert masters == [f"local[{len(os.sched_getaffinity(0))}]"]


def test_default_driver_heap_fits_host():
    """With ``SPARK_DRIVER_MEMORY`` unset, the driver heap is at most
    half of the host's memory (and of a cgroup v2 limit, when one is
    set), so the JVM cannot outgrow the machine before it collects. A
    fixed 16g default failed this on a 15 GB host."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_DRIVER_MEMORY"}
    env["SPARK_GRAFT_CPUS"] = "1"
    env["PYTHONPATH"] = _REPO + os.pathsep + env.get("PYTHONPATH", "")
    script = (
        "from polars_sim_spark.session import get_spark\n"
        "spark = get_spark('session-default-heap')\n"
        "print('HEAP=' + spark.conf.get('spark.driver.memory'))\n"
        "spark.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    ).stdout
    heaps = [ln[len("HEAP="):] for ln in out.splitlines() if ln.startswith("HEAP=")]
    assert len(heaps) == 1 and heaps[0].endswith("g"), heaps
    with open("/proc/meminfo") as fh:
        total = next(int(ln.split()[1]) * 1024 for ln in fh if ln.startswith("MemTotal:"))
    limit = total
    if os.path.exists("/sys/fs/cgroup/memory.max"):
        with open("/sys/fs/cgroup/memory.max") as fh:
            raw = fh.read().strip()
        if raw.isdigit():
            limit = min(limit, int(raw))
    heap_bytes = int(heaps[0][:-1]) * 2**30
    assert 2**30 <= heap_bytes <= max(2**30, limit // 2), (heaps[0], limit)
    assert heap_bytes <= 16 * 2**30
