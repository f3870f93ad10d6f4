from __future__ import annotations

import os

import pytest

# Test-session core count (r12; overridable via the environment): the
# suite is ~680 small-fixture tests whose jobs are task-dispatch-bound,
# not compute-bound — at local[32] the scheduler overhead dominates
# (measured on a slow-test subset: 95.5 s at 32 cores, 44.8 s at 8;
# the r11 driver bench showed the same inversion, 8-core total beating
# 32-core on every sub-2 s query).  8 cores keeps every correctness
# property identical (values never depend on partitioning) and puts
# the suite back inside the driver's verification budget (r11 VERDICT
# item 2).  setdefault, so an externally-set SPARK_GRAFT_CPUS wins.
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

from team_aragon_spark.session import get_spark, query_scope

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # shuffle partitions follow SPARK_GRAFT_CPUS (session.RUNTIME_CONF)
    s = get_spark("team-aragon-tests")
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _query_scope(request):
    """Each test that uses ``spark`` runs in one ``query_scope``; the
    others start no JVM."""
    if "spark" not in request.fixturenames:
        yield
        return
    with query_scope(request.getfixturevalue("spark")):
        yield
