"""PageRank vs the NumPy reference-semantics oracle (SURVEY.md §5.2-5.3).

Gate: per-vertex scores allclose atol=1e-6 (BASELINE.json north_rule).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pagerank_service_spark.datagen import fixture_edges, zipf_random_edges
import pagerank_service_spark.graph.pagerank as pr
from pagerank_service_spark.graph import oracle

from conftest import edges_df

# (fixture, max_iter): slow-converging fixtures are capped — engine vs
# oracle at the IDENTICAL iteration count is the same exact semantic
# check; star_hub runs to full 1e-9 convergence as the skew flagship.
FIXTURES = [
    ("chain10", 1000),
    ("bipair", 1000),
    ("star_hub", 1000),
    ("two_cliques_bridge", 40),
    ("zipf_rand:500", 1000),
]


def _assert_allclose(result_df, want: dict[int, float], atol=1e-6):
    got = {r["vid"]: r["rank"] for r in result_df.collect()}
    assert set(got) == set(want)
    g = np.array([got[k] for k in sorted(got)])
    w = np.array([want[k] for k in sorted(want)])
    np.testing.assert_allclose(g, w, atol=atol, rtol=0)


@pytest.mark.parametrize("name,max_iter", FIXTURES)
def test_reference_mode_matches_oracle(spark, name, max_iter):
    triples = fixture_edges(name)
    res = pr.pagerank(edges_df(spark, triples), mode="reference", tol=1e-9,
                      max_iter=max_iter)
    want = oracle.reference_pagerank(triples, tol=1e-9, max_iter=max_iter)
    _assert_allclose(res.ranks, want)
    total = res.ranks.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-9


@pytest.mark.parametrize("name", ["chain10", "two_cliques_bridge", "zipf_rand:500"])
def test_standard_mode_matches_oracle(spark, name):
    triples = fixture_edges(name)
    res = pr.pagerank(edges_df(spark, triples), mode="standard", tol=0.0,
                      max_iter=30)
    want = oracle.standard_pagerank(triples, tol=0.0, max_iter=30)
    _assert_allclose(res.ranks, want)


def test_standard_matches_networkx(spark):
    pytest.importorskip("scipy")  # nx.pagerank is scipy-backed
    nx = pytest.importorskip("networkx")
    triples = zipf_random_edges(400, seed=3)
    g = nx.DiGraph()
    for s, d, w in triples:
        g.add_edge(s, d, weight=w)
    want = nx.pagerank(g, alpha=0.85, weight="weight", tol=1e-13, max_iter=1000)
    res = pr.pagerank(edges_df(spark, triples), mode="standard", tol=1e-9,
                      max_iter=500)
    _assert_allclose(res.ranks, want)


def test_salt_equals_unsalted(spark):
    triples = fixture_edges("star_hub")
    kw = dict(mode="reference", tol=1e-9, max_iter=8)
    base = pr.pagerank(edges_df(spark, triples), **kw)
    salted = pr.pagerank(edges_df(spark, triples), salt=4, **kw)
    b = {r["vid"]: r["rank"] for r in base.ranks.collect()}
    o = {r["vid"]: r["rank"] for r in salted.ranks.collect()}
    for k in b:
        assert abs(b[k] - o[k]) < 1e-12


def test_salted_hub_10k_matches_and_is_two_stage(spark):
    """SURVEY §4 hub-salting criterion at the named scale: a 10^4-spoke
    star. salt=8 must (a) equal the default path to 1e-12 and (b)
    actually produce the two-stage plan — partial per (dst, producing-
    partition bucket), final per dst — visible as spark_partition_id in
    the salted aggregation's physical plan."""
    spokes = spark.range(2, 10_002).select(
        F.col("id").alias("src"), F.lit(1).cast("long").alias("dst"),
        F.lit(1.0).alias("weight"))
    e = spokes.unionByName(spokes.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"))

    kw = dict(mode="standard", tol=0.0, max_iter=4)
    base = pr.pagerank(e, **kw)
    salted = pr.pagerank(e, salt=8, **kw)
    b = {r["vid"]: r["rank"] for r in base.ranks.collect()}
    s = {r["vid"]: r["rank"] for r in salted.ranks.collect()}
    assert set(b) == set(s) and len(b) == 10_001
    for k in b:
        assert abs(b[k] - s[k]) < 1e-12

    ctx = pr.prepare_graph(e, add_virtual=False)
    ranks = ctx.vertices.select("vid", F.lit(1.0 / ctx.n).alias("rank"))
    msg = pr._messages(ctx, ranks, salt=8)
    plan = msg._jdf.queryExecution().executedPlan().toString()
    assert "spark_partition_id" in plan.lower(), plan
    for df in (ctx.trans, ctx.vertices, ctx.dangling):
        df.unpersist()


def test_dangling_mass_standard_mode(spark):
    # chain has a pure sink; in standard mode (no virtual node) node 10
    # is dangling — engine must redistribute its mass uniformly.
    triples = fixture_edges("chain10")
    res = pr.pagerank(edges_df(spark, triples), mode="standard", tol=0.0,
                      max_iter=40)
    total = res.ranks.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-8


def test_checkpoint_resume(spark, tmp_path):
    """Kill-after-k-iterations resume reproduces the uninterrupted run
    (SURVEY.md §5.5)."""
    triples = zipf_random_edges(300, seed=11)
    full = pr.pagerank(edges_df(spark, triples), mode="reference", tol=1e-9)

    cp = str(tmp_path / "cp")
    # run only 3 iterations, checkpointing every iteration
    partial = pr.pagerank(edges_df(spark, triples), mode="reference",
                          max_iter=3, tol=1e-9, checkpoint_dir=cp,
                          checkpoint_every=1)
    assert partial.iterations == 3
    # resume from the manifest and run to convergence
    resumed = pr.pagerank(edges_df(spark, triples), mode="reference",
                          tol=1e-9, checkpoint_dir=cp, resume=True)
    assert resumed.iterations > 3  # continued, not restarted
    f = {r["vid"]: r["rank"] for r in full.ranks.collect()}
    r = {r["vid"]: r["rank"] for r in resumed.ranks.collect()}
    for k in f:
        assert abs(f[k] - r[k]) < 1e-9

    import json, os

    with open(os.path.join(cp, "MANIFEST.json")) as fh:
        manifest = json.load(fh)
    assert manifest["iteration"] == resumed.iterations
    assert manifest["partitions"] and all("rows" in p for p in manifest["partitions"])


def test_foreign_checkpoint_is_refused(spark, tmp_path):
    """A checkpoint resumes only onto the graph, mode and alpha it was
    written for; anything else raises instead of continuing from
    foreign ranks."""
    cp = str(tmp_path / "cp")
    a = edges_df(spark, fixture_edges("chain10"))
    pr.pagerank(a, mode="reference", tol=0.0, max_iter=3, checkpoint_dir=cp)
    with pytest.raises(ValueError, match="different run"):
        pr.pagerank(edges_df(spark, fixture_edges("two_cliques_bridge")),
                    mode="reference", tol=1e-9, checkpoint_dir=cp)
    with pytest.raises(ValueError, match="different run"):
        pr.pagerank(a, mode="reference", alpha=0.9, tol=1e-9,
                    checkpoint_dir=cp)
    # resume=False ignores the manifest and starts over
    assert pr.pagerank(a, mode="standard", tol=0.0, max_iter=2,
                       checkpoint_dir=cp, resume=False).iterations == 2


def test_converged_flag(spark):
    """converged is set only when the diff fell below tol; a loop cut
    at max_iter, and a fixed-iteration run (tol=0), report False."""
    e = edges_df(spark, fixture_edges("chain10"))
    kw = dict(mode="reference")
    assert pr.pagerank(e, tol=1e-9, max_iter=1000, **kw).converged
    assert not pr.pagerank(e, tol=1e-9, max_iter=3, **kw).converged
    assert not pr.pagerank(e, tol=0.0, max_iter=3, **kw).converged


def test_cli_pagerank_reports_convergence(spark, tmp_path, capsys):
    """The CLI prints ``converged`` and exits nonzero when tol > 0 and
    the loop stopped at --max-iter."""
    import json

    from pagerank_service_spark import cli

    edges = str(tmp_path / "edges")
    edges_df(spark, fixture_edges("bipair")).write.parquet(edges)
    base = ["--shuffle-partitions", "4", "pagerank", "--edges", edges,
            "--tol", "1e-9"]

    def run(*extra):
        code = cli.main(base + list(extra))
        return code, json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    code, out = run("--output", str(tmp_path / "a"), "--max-iter", "2")
    assert (code, out["converged"]) == (1, False)
    code, out = run("--output", str(tmp_path / "b"))
    assert (code, out["converged"]) == (0, True)


def test_warm_start_converged_seed_and_equality(spark):
    """init_ranks warm start: seeding with the already-converged vector
    reaches tol almost immediately (the fixed point is start-independent,
    so a converged seed's first step moves < tol), and the warm result
    equals the cold one to tol. Standard mode, where the loop vector IS
    the returned vector."""
    triples = zipf_random_edges(400, seed=7)
    cold = pr.pagerank(edges_df(spark, triples), mode="standard", tol=1e-10,
                       max_iter=500)
    warm = pr.pagerank(edges_df(spark, triples), mode="standard", tol=1e-10,
                       max_iter=500, init_ranks=cold.ranks)
    assert warm.iterations <= 2 < cold.iterations
    c = {r["vid"]: r["rank"] for r in cold.ranks.collect()}
    w = {r["vid"]: r["rank"] for r in warm.ranks.collect()}
    for k in c:
        assert abs(c[k] - w[k]) < 1e-8


def test_warm_start_partial_seed_normalizes(spark):
    """A seed covering only SOME of today's vertices (new vertices
    appeared, old ones left) still converges to the same fixed point:
    unknown seed vids are dropped, unseeded vertices take uniform mass,
    and the start vector is renormalized to sum 1."""
    triples = zipf_random_edges(300, seed=11)
    cold = pr.pagerank(edges_df(spark, triples), mode="standard", tol=1e-12,
                       max_iter=500)
    half = cold.ranks.filter(F.col("vid") % 2 == 0)
    stranger = spark.createDataFrame([(10**12 + 5, 0.25)], "vid long, rank double")
    warm = pr.pagerank(edges_df(spark, triples), mode="standard", tol=1e-12,
                       max_iter=500, init_ranks=half.unionByName(stranger))
    c = {r["vid"]: r["rank"] for r in cold.ranks.collect()}
    w = {r["vid"]: r["rank"] for r in warm.ranks.collect()}
    assert set(c) == set(w)
    for k in c:
        assert abs(c[k] - w[k]) < 1e-8


def test_warm_start_duplicate_seed_vids_keep_invariant(spark):
    """A seed with DUPLICATE vids (xxhash64 collision, or two case
    variants of one address lowering to the same addr upstream) must not
    fan out through the vertex join — the loop invariant is one row per
    vertex, and a duplicated vertex would double-count mass for the
    whole run (advisor round-4). The seed is aggregated per vid first,
    so the start vector has exactly |V| rows, sums to 1, and converges
    to the same fixed point."""
    triples = zipf_random_edges(300, seed=13)
    cold = pr.pagerank(edges_df(spark, triples), mode="standard", tol=1e-12,
                       max_iter=500)
    dup = cold.ranks.unionByName(
        cold.ranks.limit(5).select("vid", (F.col("rank") * 0.5).alias("rank")))
    warm = pr.pagerank(edges_df(spark, triples), mode="standard", tol=1e-12,
                       max_iter=500, init_ranks=dup)
    c = {r["vid"]: r["rank"] for r in cold.ranks.collect()}
    rows = warm.ranks.collect()
    assert len(rows) == len(c)  # one row per vertex, no fan-out
    w = {r["vid"]: r["rank"] for r in rows}
    for k in c:
        assert abs(c[k] - w[k]) < 1e-8
