"""The two paths of CC, label propagation and triangle counting
(graph/in_task.py).

Test graphs are far below ``in_task.IN_TASK_MAX_EDGES``, so the CC, LP
and triangle tests of test_components.py run on the in-task path there.
They are collected here a second time with the distributed paths forced
by ``distributed_graph``; the ``connected_components_star`` tests are
left out, as that function has one path. The tests defined below
compare the two paths directly, choosing each run's path themselves.
"""

from __future__ import annotations

import inspect

import pytest
from pyspark.sql import functions as F

import pagerank_service_spark.graph.pagerank as pr
from pagerank_service_spark.datagen import fixture_edges, zipf_random_edges
from pagerank_service_spark.graph import in_task
from pagerank_service_spark.graph.components import (
    _cc_kernel,
    connected_components,
)
from pagerank_service_spark.graph.labelprop import (
    _lp_kernel,
    label_propagation,
    label_propagation_oracle,
)
from pagerank_service_spark.graph.triangles import _tri_kernel, triangle_counts

from conftest import edges_df
from test_components import (  # noqa: F401
    test_cc_two_cliques_pre_bridge,
    test_connected_components_exact,
    test_label_propagation_matches_oracle,
    test_labelprop_two_communities,
    test_long_chain_converges_logarithmically,
    test_precanonicalized_fast_paths_match,
    test_triangles_match_networkx,
    test_triangles_two_cliques,
)

pytestmark = pytest.mark.usefixtures("distributed_graph")

IN_TASK_MAX_EDGES = in_task.IN_TASK_MAX_EDGES  # read before any test patches it
PATHS = ("in_task", "distributed")

# a 500-leaf star joined to a 30-clique: one hub of degree 501 beside
# 4,060 triangles
HUB = ([(0, i, 1.0) for i in range(1, 501)] + [(0, 1000, 1.0)]
       + [(1000 + i, 1000 + j, 1.0) for i in range(30) for j in range(i + 1, 30)])
# disjoint parts in one graph: a zipf graph, a vertex with only a
# self-loop (CC and LP keep it, triangles drop it) and the hub graph
MIXED = (zipf_random_edges(500, seed=5) + [(7777, 7777, 1.0)]
         + [(s + 100_000, d + 100_000, w) for s, d, w in HUB])


def _use(monkeypatch, path: str) -> None:
    # -1, not 0: an empty edge table has 0 rows and would stay in one task
    monkeypatch.setattr(in_task, "IN_TASK_MAX_EDGES",
                        IN_TASK_MAX_EDGES if path == "in_task" else -1)


def _record(fn, edges, **kw) -> tuple:
    """Everything a result reports, with its rows as a set."""
    res = fn(edges, **kw)
    if fn is triangle_counts:
        return res.total, set(map(tuple, res.per_vertex.collect()))
    rows = res.components if fn is connected_components else res.labels
    return res.iterations, res.converged, set(map(tuple, rows.collect()))


@pytest.mark.parametrize("name", ["mixed", "hashed", "empty"])
def test_paths_agree(spark, monkeypatch, name):
    """Same rounds, convergence, totals and (vid, value) rows on both
    paths, including hashed vids near ±2^63 and an empty edge table."""
    e = edges_df(spark, [] if name == "empty" else MIXED)
    if name == "hashed":
        e = e.select(F.xxhash64(F.col("src").cast("string")).alias("src"),
                     F.xxhash64(F.col("dst").cast("string")).alias("dst"),
                     "weight")
    for fn in (connected_components, label_propagation, triangle_counts):
        runs = []
        for path in PATHS:
            _use(monkeypatch, path)
            runs.append(_record(fn, e))
        assert runs[0] == runs[1], (fn.__name__, runs[0][:-1], runs[1][:-1])


def test_hub_triangles_exact(spark, monkeypatch):
    """The in-task count on a hub-heavy graph, with the wedges enumerated
    a few at a time, against networkx."""
    nx = pytest.importorskip("networkx")
    import pagerank_service_spark.graph.triangles as tri

    monkeypatch.setattr(tri, "_WEDGE_CHUNK", 97)
    res = triangle_counts(edges_df(spark, HUB))
    g = nx.Graph((s, d) for s, d, _ in HUB)
    assert res.total == 4060
    assert {r["vid"]: r["triangles"] for r in res.per_vertex.collect()} \
        == nx.triangles(g)


def test_cc_max_iter_bailout(spark, monkeypatch):
    """A run cut at max_iter reports converged=False on both paths, with
    the same partial labels."""
    e = edges_df(spark, fixture_edges("chain10"))
    runs = []
    for path in PATHS:
        _use(monkeypatch, path)
        runs.append(_record(connected_components, e, max_iter=1))
    assert runs[0] == runs[1]
    assert runs[0][:2] == (1, False)


def test_in_task_job_budget(spark, monkeypatch):
    """Each small-graph call submits at most 3 Spark jobs, however many
    rounds it runs. Counted as perfbench/spans.py counts them: every job
    id the DAG scheduler hands out."""
    _use(monkeypatch, "in_task")
    e = edges_df(spark, zipf_random_edges(500, seed=5)).persist()
    e.count()
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    for fn in (connected_components, label_propagation, triangle_counts):
        j0 = int(dag.nextJobId())
        fn(e)
        assert int(dag.nextJobId()) - j0 <= 3, fn.__name__
    e.unpersist()


def test_kernels_share_no_code_with_oracles():
    """The in-task kernels are checked against networkx and
    label_propagation_oracle, so they must neither call nor import
    them."""
    kernels = {_cc_kernel: (5,), _lp_kernel: (5,), _tri_kernel: (),
               pr._in_task_kernel: (0.85, 1e-9, 5, 0, None, False, None)}
    for factory, args in kernels.items():
        for fn in (factory, factory(*args)):
            assert "oracle" not in inspect.getsource(fn), fn.__qualname__
            refs = inspect.getclosurevars(fn)
            for name, v in {**refs.nonlocals, **refs.globals}.items():
                mod = v.__name__ if inspect.ismodule(v) else \
                    getattr(v, "__module__", None) or ""
                assert v is not label_propagation_oracle, fn.__qualname__
                assert not mod.endswith(("oracle", "oracles", "checks")), \
                    (fn.__qualname__, name, mod)
