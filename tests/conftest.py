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
