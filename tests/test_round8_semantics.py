"""Round-8 semantics pins.

The Arrow IVF twin (q270) must equal the fully value-oracled JVM
formulation (q264) row for row — the q152/q153 engine-twin
discipline: q264 carries the DuckDB value oracle, q270 carries the
speed (10x at 100x), and this pin is what makes the rows-only
registration trustworthy.
"""

from __future__ import annotations

from team_aragon_spark.plans.star_queries import QUERY_REGISTRY
from tests.conftest import SF_SMOKE


def test_knn_arrow_twin_equals_jvm_twin(spark):
    """q270 == q264 exactly on the sf0.001 corpus: same labels, same
    counts, same accuracies, same candidate volumes.  Any divergence
    (kernel accumulation order, rounding seam at a .00005 boundary,
    tie handling) fails here with the differing rows."""
    a = QUERY_REGISTRY["q264_knn_ivf_loo_fast"].fn(spark, SF_SMOKE)
    b = QUERY_REGISTRY["q270_knn_ivf_loo_arrow"].fn(spark, SF_SMOKE)
    only_a = a.exceptAll(b).collect()
    only_b = b.exceptAll(a).collect()
    assert not only_a and not only_b, (only_a, only_b)


def test_knn_arrow_twin_plan_shape(spark):
    """q270's executed plan: the candidate scoring is ONE cogrouped
    kernel (FlatMapCoGroupsInPandas) + the centroid scoring a narrow
    MapInPandas — no CartesianProduct, no row-at-a-time Python, and
    the candidate set never persists (only base/winner relations)."""
    df = QUERY_REGISTRY["q270_knn_ivf_loo_arrow"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "MapInPandas" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "InMemoryTableScan" in plan, "base/winner relations must persist"
