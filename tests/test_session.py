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
