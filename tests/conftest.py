from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from pagerank_service_spark.session import get_session


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = get_session(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s


@pytest.fixture
def distributed_graph(monkeypatch):
    """Force PageRank (its preparation and its loop), CC, LP and
    triangles onto their distributed paths: test graphs are far below
    ``in_task.IN_TASK_MAX_EDGES`` and would otherwise run in one task."""
    from pagerank_service_spark.graph import in_task

    monkeypatch.setattr(in_task, "IN_TASK_MAX_EDGES", 0)


def edges_df(spark, triples):
    return spark.createDataFrame(
        [(int(s), int(d), float(w)) for s, d, w in triples],
        "src long, dst long, weight double",
    )


def steady_step_plan(monkeypatch, run):
    """The executed plan of a distributed PageRank step over the state
    its loop ended on, planned as the loop plans it, while the loop's
    names still exist. ``run()`` runs PageRank once on the distributed
    path."""
    import pagerank_service_spark.graph.pagerank as pr
    from pagerank_service_spark.graph.loop import (
        aqe_disabled, shuffle_partitions_pinned)

    plans = []
    run_loop = pr.run_loop

    def spy(spark, state, step, *args, **kw):
        res = run_loop(spark, state, step, *args, **kw)
        with aqe_disabled(spark), \
                shuffle_partitions_pinned(spark, kw["partitions"]):
            df = step(res.state, res.iterations, 0.0)
            plans.append(df._jdf.queryExecution().executedPlan())
        return res

    monkeypatch.setattr(pr, "run_loop", spy)
    run()
    return plans[-1]


def exchanges(plan) -> int:
    """Exchange nodes in an executed plan, found by walking its
    children. Not by matching its string: an InMemoryTableScan prints
    the exchanges of the plan it cached, which it does not run."""
    kids = plan.children()
    return int("Exchange" in plan.nodeName()) + sum(
        exchanges(kids.apply(i)) for i in range(kids.size()))
