"""graph/bfs.py vs networkx exact oracle, plus the quantified D-factor
deviation test (the engine's one documented departure from the
reference's sequential semantics, importance.py module doc)."""

from __future__ import annotations

import networkx as nx
import pytest

from pagerank_service_spark.datagen import fixture_edges
from pagerank_service_spark.graph.bfs import bfs_distances


@pytest.mark.parametrize("name", ["chain10", "two_cliques_bridge", "zipf_rand:300"])
@pytest.mark.parametrize("directed", [True, False])
def test_bfs_matches_networkx(spark, name, directed):
    edges = fixture_edges(name)
    df = spark.createDataFrame(edges, "src long, dst long, weight double")
    g = nx.DiGraph() if directed else nx.Graph()
    g.add_edges_from([(s, d) for s, d, _ in edges])
    sources = sorted(g.nodes)[:2]

    got = {}
    for r in bfs_distances(df, sources, max_hops=21, directed=directed).collect():
        got[(r["source"], r["vid"])] = r["dist"]

    want = {}
    for s in sources:
        for v, d in nx.single_source_shortest_path_length(g, s, cutoff=21).items():
            want[(s, v)] = d
    assert got == want


def test_bfs_hop_cap(spark):
    edges = fixture_edges("chain10")  # 1 -> 2 -> ... -> 10
    df = spark.createDataFrame(edges, "src long, dst long, weight double")
    got = {r["vid"]: r["dist"]
           for r in bfs_distances(df, [1], max_hops=3, directed=True).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # nothing past the cap


def test_intra_day_bridge_deviation_bounded(spark):
    """D sensitivity to a fed distance: feeding prior_distances scales
    exactly the fed pair's edges by true_d/default_d and nothing else.

    (Framing correction, round 3: the reference's per-insert BFS runs
    over YESTERDAY's graph — nx edges are only added at load time — so
    for the a-c, c-b, a-b SAME-day sequence the reference itself uses
    default_distance for a-b; the engine's unfed behavior here is the
    exact reference behavior, and a fed distance models the PRIOR-day
    bridge case, which lifecycle.pair_distances feeds automatically —
    see tests/test_lifecycle.py.)"""
    from pagerank_service_spark.operators.importance import importance_edges

    SCHEMA = ("link_contract string, user_a string, user_b string, symbol string, "
              "amount_a double, amount_b double, percent_a int, lock_days int, "
              "start_time long, is_award boolean, chain string, event_seq long")

    def ev(k, a, b):
        return (f"c{k}", a, b, "LUCA", 100.0, 100.0, 50, 10,
                1_700_000_000 + k, True, "bsc", k)

    # a-c, c-b, then a-b: at the reference's sequential insert of a-b the
    # graph already holds a-c-b, so BFS distance(a, b) = 2
    events = spark.createDataFrame([ev(0, "a", "c"), ev(1, "c", "b"),
                                    ev(2, "a", "b")], SCHEMA)
    coins = spark.createDataFrame(
        [("LUCA", 1.0, 0, 2.0, 2, 0)],
        "symbol string, coefficient double, decimals int, price double, "
        "status int, alone_calculate int")
    no_pr = spark.createDataFrame([], "user string, rank double")
    default_d, true_d = 21.0, 2.0

    def weights(prior_distances=None):
        df = importance_edges(events, coins, no_pr, link_rate=1.0,
                              deadline_ts=1_700_100_000,
                              prior_distances=prior_distances,
                              default_distance=default_d)
        return {(r["src"], r["dst"]): r["weight"] for r in df.collect()}

    got = weights()
    bridged = spark.createDataFrame(
        [("a", "b", true_d)], "user_a string, user_b string, distance double")
    reference = weights(prior_distances=bridged)  # = reference semantics

    # deviation is exactly default_d/true_d on the bridged pair...
    for k in (("a", "b"), ("b", "a")):
        assert got[k] == pytest.approx(reference[k] * default_d / true_d, rel=1e-12)
    # ...and zero everywhere else
    for k in got:
        if k not in (("a", "b"), ("b", "a")):
            assert got[k] == pytest.approx(reference[k], rel=1e-12)


def test_bfs_assume_distinct_matches_default(spark):
    """assume_distinct=True (the prepared-adjacency fast path the daily
    lifecycle uses) must return exactly the same distances as the
    deduping default on an already-unique directed edge table."""
    from pyspark.sql import functions as F

    from pagerank_service_spark.graph.bfs import bfs_distances_from

    edges = fixture_edges("two_cliques_bridge")
    df = (spark.createDataFrame(edges, "src long, dst long, weight double")
          .select("src", "dst").distinct().localCheckpoint(eager=True))
    srcs = spark.createDataFrame([(edges[0][0],)], "source long")
    base = {(r["source"], r["vid"]): r["dist"]
            for r in bfs_distances_from(df, srcs, max_hops=21,
                                        directed=True).collect()}
    fast = {(r["source"], r["vid"]): r["dist"]
            for r in bfs_distances_from(df, srcs, max_hops=21, directed=True,
                                        assume_distinct=True).collect()}
    assert fast == base and len(base) > 1


def test_bfs_assume_distinct_requires_directed(spark):
    """The undirected adjacency adds each edge's reverse, which can
    duplicate rows, so assume_distinct cannot hold there: refused, not
    silently ignored."""
    from pagerank_service_spark.graph.bfs import bfs_distances_from

    df = spark.createDataFrame(fixture_edges("chain10"),
                               "src long, dst long, weight double")
    srcs = spark.createDataFrame([(1,)], "source long")
    with pytest.raises(ValueError, match="directed"):
        bfs_distances_from(df, srcs, directed=False, assume_distinct=True)
