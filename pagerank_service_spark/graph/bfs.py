"""Bounded multi-source BFS as iterative frontier joins.

Reference analogue: ``nx.shortest_path_length`` called per new edge for
the distance (D) factor of importance (``network_util.py:294-307``) and
``nx.single_source_shortest_path_length`` from the top-ranked node for
the default-distance heuristic (``:820-837``), capped at 21 hops.

Spark shape: frontier DataFrame (vid, source, dist); each hop joins the
frontier to the adjacency list and anti-joins already-visited vertices.
Bounded by ``max_hops`` so the loop cannot run away on huge diameters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .loop import graph_partitions, shuffle_partitions_pinned


def bfs_distances(
    edges: DataFrame,
    sources: list[int],
    max_hops: int = 21,
    directed: bool = True,
) -> DataFrame:
    """Hop distances from each source: (source, vid, dist), dist <= max_hops."""
    spark = edges.sparkSession
    src_df = spark.createDataFrame([(s,) for s in sources], "source long")
    return bfs_distances_from(edges, src_df, max_hops=max_hops,
                              directed=directed)


def bfs_distances_from(
    edges: DataFrame,
    sources: DataFrame,          # (source long) — stays distributed
    max_hops: int = 21,
    directed: bool = True,
    assume_distinct: bool = False,
) -> DataFrame:
    """``bfs_distances`` with the source set as a DataFrame — the form a
    batch feeder uses (e.g. one root per new contract pair for the day:
    the roots never pass through the driver).

    ``assume_distinct=True`` (directed only; ``ValueError`` with
    ``directed=False``) declares the input already
    holds unique (src, dst) rows from a materialized source — e.g. the
    checkpointed adjacency ``prepare_state_graph`` returns — and skips
    the dedup shuffle plus its cache layer (round-6 job-budget trim;
    the sizing count over a checkpointed input is a cheap cached
    scan)."""
    if assume_distinct and not directed:
        # the reversed copy can duplicate rows, so the dedup must run
        raise ValueError("assume_distinct=True requires directed=True")
    spark = edges.sparkSession
    adj = edges.select("src", "dst")
    if not directed:
        adj = adj.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    dedup = not assume_distinct
    if dedup:
        adj = adj.distinct().persist()
    p = graph_partitions(spark, adj.count())

    frontier = sources.select(
        F.col("source").cast("long").alias("source"),
        F.col("source").cast("long").alias("vid"),
        F.lit(0).alias("dist"),
    )
    # no persist on the seed frontier: it is one row per root and would
    # linger in the session cache past the call (hygiene); the loop's
    # localCheckpoints are released by the ContextCleaner once the
    # result is dereferenced.
    # ONE job per hop (round-6): the frontier checkpoint is lazy and the
    # emptiness probe's count materializes it, and `visited` stays a
    # lazy union of the already-checkpointed per-hop frontiers (shallow
    # lineage, nothing to recompute) instead of being re-checkpointed
    # every hop — the old loop paid 3 jobs per hop on a path the daily
    # lifecycle runs once per day (default-distance BFS).
    parts = [frontier]
    with shuffle_partitions_pinned(spark, p):
        for hop in range(1, max_hops + 1):
            visited = parts[0]
            for part in parts[1:]:
                visited = visited.unionByName(part)
            nxt = (
                frontier.join(adj, frontier.vid == adj.src)
                .select("source", F.col("dst").alias("vid"), F.lit(hop).alias("dist"))
                .distinct()
                .join(visited.select("source", "vid"), ["source", "vid"], "left_anti")
                .localCheckpoint(eager=False)
            )
            if nxt.count() == 0:
                break
            parts.append(nxt)
            frontier = nxt
    if dedup:
        adj.unpersist()
    visited = parts[0]
    for part in parts[1:]:
        visited = visited.unionByName(part)
    return visited
