"""The two PageRank paths (graph/pagerank.py, "Physical design").

Test graphs are far below ``in_task.IN_TASK_MAX_EDGES``, so the
PageRank, trunc-mode and golden suites run on the in-task path in their
own modules. They are collected here a second time with the distributed
loop forced by ``distributed_graph``. The tests defined below
compare the two paths directly, choosing each run's path themselves.
"""

from __future__ import annotations

import pytest

import pagerank_service_spark.graph.pagerank as pr
from pagerank_service_spark.datagen import zipf_random_edges
from pagerank_service_spark.graph import in_task

from conftest import edges_df
from test_golden_fixture import *  # noqa: F401,F403
from test_pagerank import *  # noqa: F401,F403
from test_trunc_mode import *  # noqa: F401,F403

pytestmark = pytest.mark.usefixtures("distributed_graph")

IN_TASK_MAX_EDGES = in_task.IN_TASK_MAX_EDGES  # read before any test patches it
PATHS = ("in_task", "distributed")


def _use(monkeypatch, path: str) -> None:
    monkeypatch.setattr(in_task, "IN_TASK_MAX_EDGES",
                        IN_TASK_MAX_EDGES if path == "in_task" else 0)


def _ranks(res) -> dict[int, float]:
    return {r["vid"]: r["rank"] for r in res.ranks.collect()}


def _assert_close(a: dict, b: dict, atol: float) -> None:
    assert set(a) == set(b)
    assert max(abs(a[k] - b[k]) for k in a) < atol


@pytest.mark.parametrize("mode", ["reference", "standard"])
def test_paths_agree(spark, monkeypatch, mode):
    """Same graph, chunk=1: the same iteration count, the same per-
    iteration diffs and ranks equal to 1e-12."""
    triples = zipf_random_edges(500, seed=5)
    runs = []
    for path in PATHS:
        _use(monkeypatch, path)
        runs.append(pr.pagerank(edges_df(spark, triples), mode=mode,
                                tol=1e-9, max_iter=500, chunk=1))
    a, b = runs
    assert a.converged and b.converged
    assert a.iterations == b.iterations
    assert len(a.error_history) == len(a.iter_secs) == a.iterations
    assert max(abs(x - y) for x, y in zip(a.error_history, b.error_history)) < 1e-12
    _assert_close(_ranks(a), _ranks(b), 1e-12)


@pytest.mark.parametrize("first,second", [PATHS, PATHS[::-1]])
def test_checkpoint_resumes_across_paths(spark, tmp_path, monkeypatch,
                                         first, second):
    """A checkpoint written by either path resumes on the other and
    ends where an uninterrupted run does."""
    triples = zipf_random_edges(300, seed=11)
    cp = str(tmp_path / "cp")
    _use(monkeypatch, first)
    pr.pagerank(edges_df(spark, triples), mode="reference", tol=1e-9,
                max_iter=3, checkpoint_dir=cp)
    _use(monkeypatch, second)
    resumed = pr.pagerank(edges_df(spark, triples), mode="reference",
                          tol=1e-9, checkpoint_dir=cp)
    full = pr.pagerank(edges_df(spark, triples), mode="reference", tol=1e-9)
    assert resumed.iterations == full.iterations > 3
    assert len(resumed.error_history) == full.iterations - 3
    _assert_close(_ranks(resumed), _ranks(full), 1e-12)


def test_in_task_job_budget(spark, tmp_path, monkeypatch):
    """A small graph's whole run, checkpoint included, is a handful of
    Spark jobs, however many iterations it takes (the distributed loop
    submits about two per iteration). Counted as perfbench/spans.py
    counts them: every job id the DAG scheduler hands out."""
    _use(monkeypatch, "in_task")
    ctx = pr.prepare_graph(edges_df(spark, zipf_random_edges(500, seed=5)))
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = int(dag.nextJobId())
    res = pr.pagerank_on_context(ctx, mode="reference", tol=1e-9,
                                 checkpoint_dir=str(tmp_path / "cp"))
    jobs = int(dag.nextJobId()) - j0
    assert res.iterations > 20
    assert jobs <= 5, jobs
