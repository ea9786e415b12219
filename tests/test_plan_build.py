"""Plan-building cost and plan shape of the bench-shaped queries (sf0.001).

The eight queries of ``perfbench/workloads.py`` are built through the
public operators (``tools/plan_fingerprint.py``) while the py4j JVM
method calls of one warm build are counted. Each Column-DSL operator is
its own JVM round trip, one ``F.expr`` over SQL text is one call, so a
ceiling well under the DSL count pins the text-built plans. The final
(post-AQE) physical plans of the point-sample queries must keep their
round-6 shapes, and the polygon joins must refine in the JVM (no
Python node).
"""

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from plan_fingerprint import QUERIES, bench_queries, count_jvm_calls  # noqa: E402

# about 2x the JVM calls one warm build makes at sf0.001 (flagship 120,
# grouped 158, knn 70, chunk 163, pip 42, zonal 124, rasterize 38,
# bilinear 151); the Column-DSL builds made 815, 853, 861, 972, 1167,
# 413, 865 and 1497, and pip/rasterize with their Arrow kernels 79/111
JVM_CALL_CEILING = {"flagship": 240, "grouped": 320, "knn": 140, "chunk": 330,
                    "pip": 90, "zonal": 250, "rasterize": 80, "bilinear": 300}


@pytest.fixture(scope="module")
def builders(spark, sf_dir):
    from rasters_spark import fixtures

    out = bench_queries(spark, str(fixtures.ensure_fixtures(sf_dir)))
    for build in out.values():  # warm: imports, reader and schema caches
        build()
    return out


@pytest.mark.parametrize("name", QUERIES)
def test_build_jvm_calls_under_ceiling(builders, name):
    with count_jvm_calls() as n:
        builders[name]()
    assert n[0] <= JVM_CALL_CEILING[name], f"{name}: {n[0]} JVM calls to build"


def _final_plan(df) -> str:
    """The final AQE physical plan (the query runs once)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def _shuffles(plan: str) -> int:
    return len(re.findall(r"- Exchange ", plan))


def test_flagship_one_stage_no_python(builders):
    plan = _final_plan(builders["flagship"]())
    assert "BroadcastHashJoin" in plan
    assert _shuffles(plan) == 0
    assert not re.search(r"Python|InPandas|InArrow", plan)


def test_grouped_exchange_budget(builders):
    plan = _final_plan(builders["grouped"]())
    assert "ShuffledHashJoin" in plan
    assert _shuffles(plan) <= 6


def test_knn_window_group_limit(builders):
    plan = _final_plan(builders["knn"]())
    # per-task partial top-k below the exchange, final top-k above it
    assert re.findall(r"WindowGroupLimit .*, (Partial|Final)", plan) == ["Final", "Partial"]


def test_pip_one_broadcast_stage_no_python(builders):
    plan = _final_plan(builders["pip"]())
    assert "BroadcastHashJoin" in plan
    assert _shuffles(plan) == 0
    assert not re.search(r"Python|InPandas|InArrow", plan)


def test_rasterize_one_shuffle_no_python(builders):
    plan = _final_plan(builders["rasterize"]())
    # the (row, col) merge aggregate is the only exchange
    assert _shuffles(plan) == 1
    assert not re.search(r"Python|InPandas|InArrow", plan)
