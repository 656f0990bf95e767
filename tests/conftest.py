from __future__ import annotations

import os

import pytest

from demo_flink_spark.session import _host_cores

SF_DIR = "/root/testdata/sf0.001"

# Pin every test session to at most 4 local cores, and so (by the session
# default) 4 shuffle partitions, whatever the host. Fixture-sized data
# split 32 ways pays per-task and per-state-store overhead, not compute:
# each streaming micro-batch opens one state store per partition. Results
# cannot depend on the partition count (the --shake gate proves it), and
# tests whose subject is a partition count set it explicitly.
_requested = os.environ.get("SPARK_GRAFT_CPUS", "")
os.environ["SPARK_GRAFT_CPUS"] = str(
    min(4, int(_requested) if _requested.isdigit() else _host_cores())
)


@pytest.fixture(scope="session")
def spark():
    from demo_flink_spark.session import get_spark

    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
