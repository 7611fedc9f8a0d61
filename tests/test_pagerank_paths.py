"""The two PageRank paths (graph/pagerank.py, "Physical design").

Test graphs are far below ``in_task.IN_TASK_MAX_EDGES``, so the
PageRank, trunc-mode and golden suites prepare and run each graph in
one task in their own modules. They are collected here a second time
with the distributed prepare and loop forced by ``distributed_graph``.
The tests defined below compare the two paths directly, choosing each
run's path themselves.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import pagerank_service_spark.graph.pagerank as pr
from pagerank_service_spark.datagen import zipf_random_edges
from pagerank_service_spark.graph import in_task, oracle

from conftest import edges_df
from test_golden_fixture import *  # noqa: F401,F403
from test_pagerank import *  # noqa: F401,F403
from test_trunc_mode import *  # noqa: F401,F403

pytestmark = pytest.mark.usefixtures("distributed_graph")

IN_TASK_MAX_EDGES = in_task.IN_TASK_MAX_EDGES  # read before any test patches it
PATHS = ("in_task", "distributed")


def _use(monkeypatch, path: str) -> None:
    # -1, not 0: an empty edge table has 0 rows and would stay in one task
    monkeypatch.setattr(in_task, "IN_TASK_MAX_EDGES",
                        IN_TASK_MAX_EDGES if path == "in_task" else -1)


def _ranks(res) -> dict[int, float]:
    return {r["vid"]: r["rank"] for r in res.ranks.collect()}


def _assert_close(a: dict, b: dict, atol: float) -> None:
    assert set(a) == set(b)
    assert max(abs(a[k] - b[k]) for k in a) < atol


@pytest.mark.parametrize("mode", ["reference", "standard"])
def test_paths_agree(spark, monkeypatch, mode):
    """Same graph: the same iteration count, the same per-iteration
    diffs and ranks equal to 1e-12."""
    triples = zipf_random_edges(500, seed=5)
    runs = []
    for path in PATHS:
        _use(monkeypatch, path)
        runs.append(pr.pagerank(edges_df(spark, triples), mode=mode,
                                tol=1e-9, max_iter=500))
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
    """A small graph's preparation is two Spark jobs and its whole run,
    checkpoint included, a handful, however many iterations it takes
    (the distributed loop submits one per iteration). Counted as
    perfbench/spans.py counts them: every job id the DAG scheduler hands
    out."""
    _use(monkeypatch, "in_task")
    e = edges_df(spark, zipf_random_edges(500, seed=5))
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = int(dag.nextJobId())
    ctx = pr.prepare_graph(e)
    j1 = int(dag.nextJobId())
    res = pr.pagerank_on_context(ctx, mode="reference", tol=1e-9,
                                 checkpoint_dir=str(tmp_path / "cp"))
    jobs = int(dag.nextJobId()) - j1
    assert j1 - j0 <= 2, j1 - j0  # the collapse's count and the kernel
    assert res.iterations > 20
    assert jobs <= 5, jobs


def test_distributed_reference_job_budget(spark, monkeypatch):
    """A distributed reference-mode run submits one job per iteration
    and a handful for its post-pass, which runs with AQE off (on, each
    of its nested one-row crossJoins ran as jobs of its own: 21)."""
    _use(monkeypatch, "distributed")
    ctx = pr.prepare_graph(edges_df(spark, zipf_random_edges(500, seed=5)))
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = int(dag.nextJobId())
    res = pr.pagerank_on_context(ctx, mode="reference", tol=1e-9)
    jobs = int(dag.nextJobId()) - j0
    assert res.converged and res.iterations > 20
    assert jobs <= res.iterations + 10, (jobs, res.iterations)


# a hub with 39 dangling leaves and 40 in-links beside a zipf graph
HUB = ([(0, i, 1.0) for i in range(1, 40)] + [(i, 0, 1.0) for i in range(40, 80)]
       + [(s + 100, d + 100, w) for s, d, w in zipf_random_edges(300, seed=3)])


def test_distributed_loop_one_job_per_iteration(spark, monkeypatch):
    """The distributed loop submits one job per iteration after its
    first, in fixed and in convergence mode, and a warm run compiles no
    new code although every dangling mass it carries past the first
    run's 20 iterations is new. Ranks match the oracle in both modes."""
    _use(monkeypatch, "distributed")
    ctx = pr.prepare_graph(edges_df(spark, HUB), add_virtual=False)
    assert ctx.has_dangling
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    j0 = int(dag.nextJobId())
    fixed = pr.pagerank_on_context(ctx, mode="standard", tol=0.0,
                                   max_iter=20, unpersist=False)
    jobs = int(dag.nextJobId()) - j0
    assert fixed.iterations == 20
    assert jobs <= 22, jobs
    j0, c0 = int(dag.nextJobId()), compiles.getCount()
    conv = pr.pagerank_on_context(ctx, mode="standard", tol=1e-9,
                                  max_iter=500)
    jobs = int(dag.nextJobId()) - j0
    assert conv.converged and conv.iterations > 20
    assert jobs <= conv.iterations + 2, (jobs, conv.iterations)
    assert compiles.getCount() - c0 == 0
    _assert_close(_ranks(fixed),
                  oracle.standard_pagerank(HUB, tol=0.0, max_iter=20), 1e-12)
    _assert_close(_ranks(conv),
                  oracle.standard_pagerank(HUB, tol=1e-9, max_iter=500), 1e-9)


def test_distributed_trunc_with_dangling_matches_oracle(spark, monkeypatch):
    """Trunc mode on the distributed path, over a graph whose dangling
    mass the loop carries from one iteration to the next."""
    _use(monkeypatch, "distributed")
    res = pr.pagerank(edges_df(spark, HUB), mode="standard", tol=0.0,
                      max_iter=8, trunc_digits=14)
    want = oracle.standard_pagerank(HUB, tol=0.0, max_iter=8, trunc_digits=14)
    _assert_close(_ranks(res), want, 1e-13)


def test_resume_refuses_checkpoint_with_lost_part(spark, tmp_path,
                                                  monkeypatch):
    """A checkpoint that lost a part file no longer matches its
    manifest's lineage: resuming from it raises instead of running on
    with vertices missing."""
    _use(monkeypatch, "distributed")
    triples = zipf_random_edges(300, seed=11)
    cp = tmp_path / "cp"
    pr.pagerank(edges_df(spark, triples), mode="reference", tol=1e-9,
                max_iter=3, checkpoint_dir=str(cp))
    parts = sorted((cp / "iter_000003").glob("part-*.parquet"))
    assert len(parts) > 1
    parts[0].unlink()
    with pytest.raises(ValueError, match="does not match its manifest"):
        pr.pagerank(edges_df(spark, triples), mode="reference", tol=1e-9,
                    checkpoint_dir=str(cp))


# multi-edges summing to positive, zero and negative weights, a
# self-loop and a vertex with no out-edge, beside a zipf graph
TRICKY = (zipf_random_edges(300, seed=11)
          + [(1, 2, 2.0), (1, 2, -0.5), (2, 3, 0.0), (3, 4, -1.0),
             (7000, 7001, 1.0), (7000, 7001, -1.0), (5, 5, 1.0),
             (9001, 9002, 1.0)])


def _context(ctx: pr.GraphContext) -> dict:
    """Everything a prepared context holds, its tables as row sets."""
    return {
        "n": ctx.n, "n_edges": ctx.n_edges, "has_dangling": ctx.has_dangling,
        "virtual_vid": ctx.virtual_vid,
        "trans": {(s, d): p for s, d, p in ctx.trans.collect()},
        "vertices": set(ctx.vertices.collect()),
        "dangling": set(ctx.dangling.collect()),
        "in_strength": None if ctx.in_strength is None
        else dict(ctx.in_strength.collect()),
    }


@pytest.mark.parametrize("name", ["tricky", "hashed", "empty"])
def test_prepare_paths_agree(spark, monkeypatch, name):
    """Both prepares give the same counts, virtual vid and tables, in
    both modes, including hashed vids near ±2^63 and an empty input."""
    e = edges_df(spark, [] if name == "empty" else TRICKY)
    if name == "hashed":
        e = e.select(F.xxhash64(F.col("src").cast("string")).alias("src"),
                     F.xxhash64(F.col("dst").cast("string")).alias("dst"),
                     "weight")
    for add_virtual in (True, False):
        got = []
        for path in PATHS:
            _use(monkeypatch, path)
            got.append(_context(pr.prepare_graph(e, add_virtual=add_virtual)))
        a, b = got
        for k in ("n", "n_edges", "has_dangling", "virtual_vid", "vertices",
                  "dangling"):
            assert a[k] == b[k], (add_virtual, k)
        assert a["trans"].keys() == b["trans"].keys()
        assert all(abs(a["trans"][k] - b["trans"][k]) <= 1e-15
                   for k in a["trans"])
        if add_virtual:
            assert a["in_strength"] == pytest.approx(b["in_strength"],
                                                     rel=1e-12)
        else:
            assert a["in_strength"] is b["in_strength"] is None
        assert (a["virtual_vid"] is None) == (not add_virtual or not a["n"])
        if name != "empty":
            assert a["has_dangling"] == (not add_virtual)


@pytest.mark.parametrize("path", PATHS)
def test_virtual_vid_overflow_raises(spark, monkeypatch, path):
    """A graph whose largest vid is 2^63 - 1 leaves no long for the
    virtual node: reference mode refuses it; standard mode needs none."""
    _use(monkeypatch, path)
    e = edges_df(spark, [(2**63 - 1, 1, 1.0), (1, 2, 1.0)])
    with pytest.raises(ValueError, match="virtual node"):
        pr.prepare_graph(e)
    assert pr.prepare_graph(e, add_virtual=False).n == 3


@pytest.mark.parametrize("num_partitions", [None, 5])
def test_in_task_prepare_past_threshold(spark, monkeypatch, num_partitions):
    """Collapsed edges at the threshold, but the virtual edges push
    trans past it: the in-task prepare lays trans out for the
    distributed loop (hash-partitioned on src, persisted, into
    ``num_partitions`` or at least 4 partitions), which runs it and
    matches the oracle."""
    triples = zipf_random_edges(300, seed=11)
    sums: dict = {}
    for s, d, w in triples:
        sums[s, d] = sums.get((s, d), 0.0) + w
    monkeypatch.setattr(in_task, "IN_TASK_MAX_EDGES",
                        sum(w > 0 for w in sums.values()))
    ctx = pr.prepare_graph(edges_df(spark, triples), num_partitions)
    assert not ctx.vertices.is_cached  # a view: the in-task prepare ran
    assert ctx.n_edges > in_task.IN_TASK_MAX_EDGES
    assert ctx.trans.is_cached
    assert ctx.partitions == (num_partitions or ctx.partitions) >= 4
    layout = ctx.trans._jdf.queryExecution().executedPlan() \
        .outputPartitioning().toString()
    assert layout.startswith("hashpartitioning(src") \
        and layout.endswith(f", {ctx.partitions})"), layout
    distributed, loops = pr._distributed, []
    monkeypatch.setattr(pr, "_distributed",
                        lambda *a: loops.append(1) or distributed(*a))
    res = pr.pagerank_on_context(ctx, mode="reference", tol=1e-9,
                                 max_iter=1000)
    assert loops == [1]
    want = oracle.reference_pagerank(triples, tol=1e-9, max_iter=1000)
    _assert_close(_ranks(res), want, 1e-6)


def test_in_task_context_save_load(spark, tmp_path, monkeypatch):
    """An in-task context saves and loads to the same tables."""
    _use(monkeypatch, "in_task")
    ctx = pr.prepare_graph(edges_df(spark, TRICKY))
    ctx.save(str(tmp_path / "g"))
    loaded = pr.GraphContext.load(spark, str(tmp_path / "g"))
    assert loaded.partitions == ctx.partitions
    assert _context(loaded) == _context(ctx)
