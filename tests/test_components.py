"""CC / label propagation / triangles vs exact oracles (SURVEY.md §5.2)."""

from __future__ import annotations

import pytest

from pagerank_service_spark.datagen import fixture_edges, zipf_random_edges
from pagerank_service_spark.graph.components import connected_components
from pagerank_service_spark.graph.labelprop import (
    label_propagation,
    label_propagation_oracle,
)
from pagerank_service_spark.graph.triangles import triangle_counts

from conftest import edges_df


def _nx_components(triples):
    nx = pytest.importorskip("networkx")
    g = nx.Graph()
    for s, d, _ in triples:
        g.add_edge(s, d)
    return {v: min(c) for c in nx.connected_components(g) for v in c}


@pytest.mark.parametrize(
    "name", ["chain10", "bipair", "two_cliques_bridge", "zipf_rand:500"]
)
def test_connected_components_exact(spark, name):
    triples = fixture_edges(name)
    res = connected_components(edges_df(spark, triples))
    got = {r["vid"]: r["component"] for r in res.components.collect()}
    assert got == _nx_components(triples)


def test_cc_two_cliques_pre_bridge(spark):
    # without the bridge there are exactly two components
    triples = [t for t in fixture_edges("two_cliques_bridge") if t != (3, 13, 1.0)]
    res = connected_components(edges_df(spark, triples))
    comps = {r["component"] for r in res.components.collect()}
    assert comps == {1, 11}


def test_long_chain_converges_logarithmically(spark):
    # pointer jumping: a 200-node path must converge in ~log2(200) rounds,
    # not 200 — this is the scale property (diameter-independent-ish).
    triples = [(i, i + 1, 1.0) for i in range(200)]
    res = connected_components(edges_df(spark, triples), max_iter=30)
    got = {r["vid"]: r["component"] for r in res.components.collect()}
    assert set(got.values()) == {0}
    assert res.iterations <= 12


@pytest.mark.parametrize("name", ["two_cliques_bridge", "bipair", "zipf_rand:500"])
def test_label_propagation_matches_oracle(spark, name):
    triples = fixture_edges(name)
    res = label_propagation(edges_df(spark, triples), max_iter=20)
    got = {r["vid"]: r["label"] for r in res.labels.collect()}
    assert got == label_propagation_oracle(triples, max_iter=20)


def test_labelprop_two_communities(spark):
    res = label_propagation(edges_df(spark, fixture_edges("two_cliques_bridge")))
    labels = {r["vid"]: r["label"] for r in res.labels.collect()}
    # each clique collapses to one community
    assert len({labels[v] for v in range(1, 6)}) == 1
    assert len({labels[v] for v in range(11, 16)}) == 1


@pytest.mark.parametrize("name", ["two_cliques_bridge", "chain10", "zipf_rand:800"])
def test_triangles_match_networkx(spark, name):
    nx = pytest.importorskip("networkx")
    triples = fixture_edges(name)
    g = nx.Graph()
    for s, d, _ in triples:
        if s != d:
            g.add_edge(s, d)
    want = nx.triangles(g)
    res = triangle_counts(edges_df(spark, triples))
    got = {r["vid"]: r["triangles"] for r in res.per_vertex.collect()}
    assert got == want
    assert res.total == sum(want.values()) // 3


def test_triangles_two_cliques(spark):
    res = triangle_counts(edges_df(spark, fixture_edges("two_cliques_bridge")))
    assert res.total == 20  # 2 x C(5,3)


def test_precanonicalized_fast_paths_match(spark):
    """assume_canonical / assume_symmetric skip the canonicalizing
    shuffle but must produce identical results when the declaration
    holds."""
    from pyspark.sql import functions as F

    from pagerank_service_spark.datagen import fixture_edges
    from pagerank_service_spark.graph.components import connected_components
    from pagerank_service_spark.graph.triangles import triangle_counts

    from conftest import edges_df

    triples = fixture_edges("two_cliques_bridge")
    e = edges_df(spark, triples)

    canon = (
        e.select(F.least("src", "dst").alias("src"),
                 F.greatest("src", "dst").alias("dst"))
        .filter(F.col("src") != F.col("dst")).distinct()
        .withColumn("weight", F.lit(1.0))
    )
    t_base = triangle_counts(e)
    t_fast = triangle_counts(canon, assume_canonical=True)
    assert t_base.total == t_fast.total
    b = {r["vid"]: r["triangles"] for r in t_base.per_vertex.collect()}
    f = {r["vid"]: r["triangles"] for r in t_fast.per_vertex.collect()}
    assert b == f

    sym = canon.unionByName(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    c_base = connected_components(e)
    c_fast = connected_components(sym, assume_symmetric=True)
    cb = {r["vid"]: r["component"] for r in c_base.components.collect()}
    cf = {r["vid"]: r["component"] for r in c_fast.components.collect()}
    assert cb == cf


def test_star_rewriting_matches_min_label(spark):
    """connected_components_star (large-star/small-star edge rewriting)
    must produce exactly the same (vid, component=min vid) map as the
    min-label default on every fixture, including hashed near-2^63 ids."""
    from pyspark.sql import functions as F

    from pagerank_service_spark.datagen import fixture_edges, zipf_random_edges
    from pagerank_service_spark.graph.components import (
        connected_components,
        connected_components_star,
    )

    from conftest import edges_df

    for name in ("chain10", "two_cliques_bridge", "star_hub"):
        e = edges_df(spark, fixture_edges(name))
        want = {r["vid"]: r["component"]
                for r in connected_components(e).components.collect()}
        got = {r["vid"]: r["component"]
               for r in connected_components_star(e).components.collect()}
        assert got == want, name

    # multi-component random graph with xxhash64-remapped (possibly
    # negative, near-2^63) vertex ids — the id regime of pipeline graphs
    e = edges_df(spark, zipf_random_edges(400, seed=9))
    e = e.select(F.xxhash64(F.col("src").cast("string")).alias("src"),
                 F.xxhash64(F.col("dst").cast("string")).alias("dst"),
                 "weight")
    want = {r["vid"]: r["component"]
            for r in connected_components(e).components.collect()}
    got = {r["vid"]: r["component"]
           for r in connected_components_star(e).components.collect()}
    assert got == want


def test_star_cc_self_loop_only_vertex(spark):
    """A vertex whose only edges are self-loops must still be emitted
    (component = itself) by BOTH formulations — the star variant builds
    its vertex universe from the unfiltered endpoints."""
    from pagerank_service_spark.graph.components import connected_components_star

    triples = [(1, 2, 1.0), (7, 7, 1.0)]  # 7 is self-loop-only
    for fn in (connected_components, connected_components_star):
        res = fn(edges_df(spark, triples))
        got = {r["vid"]: r["component"] for r in res.components.collect()}
        assert got == {1: 1, 2: 1, 7: 7}, fn.__name__
        assert res.converged


def test_star_cc_max_iter_bailout_flagged(spark):
    from pagerank_service_spark.graph.components import connected_components_star

    triples = fixture_edges("chain10")
    res = connected_components_star(edges_df(spark, triples), max_iter=1)
    assert not res.converged


@pytest.mark.parametrize("cmd,name,cut,want", [
    ("components", "chain10", True, (1, False)),
    ("components", "chain10", False, (0, True)),
    ("labelprop", "bipair", False, (1, False)),  # a 2-cycle never settles
    ("labelprop", "two_cliques_bridge", False, (0, True)),
])
def test_cli_reports_convergence(spark, tmp_path, capsys, monkeypatch, cmd,
                                 name, cut, want):
    """CLI ``components`` and ``labelprop`` print ``converged`` and exit
    nonzero when the loop stopped at max_iter."""
    import json
    from functools import partial

    from pagerank_service_spark import cli
    from pagerank_service_spark.graph import components

    if cut:  # chain10 needs more than one round
        monkeypatch.setattr(components, "connected_components",
                            partial(components.connected_components,
                                    max_iter=1))
    edges = str(tmp_path / "edges")
    edges_df(spark, fixture_edges(name)).write.parquet(edges)
    code = cli.main(["--shuffle-partitions", "4", cmd, "--edges", edges,
                     "--output", str(tmp_path / "out")])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (code, out["converged"]) == want
