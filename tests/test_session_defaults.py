"""Session defaults fit the host: cores from the affinity mask, driver
memory from physical memory, both only when the caller passes none."""

from __future__ import annotations

import os
import subprocess
import sys

from surya_spark import session

GiB = 2**30


def _default_cpus(env_value: str | None) -> int:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    if env_value is not None:
        env["SPARK_GRAFT_CPUS"] = env_value
    out = subprocess.run(
        [sys.executable, "-c",
         "from surya_spark.session import DEFAULT_CPUS; print(DEFAULT_CPUS)"],
        env=env, capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return int(out.stdout)


def test_default_cpus_from_affinity_unless_env_set():
    assert session.host_cpus() == len(os.sched_getaffinity(0))
    assert _default_cpus(None) == len(os.sched_getaffinity(0))
    assert _default_cpus("3") == 3


def test_default_driver_memory_is_half_of_physical_capped():
    assert session.default_driver_memory(15 * GiB) == "7g"
    assert session.default_driver_memory(16 * GiB) == "8g"
    assert session.default_driver_memory(256 * GiB) == "24g"
    assert session.default_driver_memory(GiB) == "1g"
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert session.default_driver_memory() == session.default_driver_memory(
        phys)
    assert int(session.default_driver_memory()[:-1]) * GiB <= phys // 2
