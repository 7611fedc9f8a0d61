"""Triangle counting via degree-ordered adjacency self-joins
(north-rule capability; matches ``networkx.triangles`` exactly).

Undirected semantics: edges are symmetrized and deduped to canonical
(a < b) pairs. To bound the self-join, each edge is oriented from the
endpoint with the SMALLER (degree, vid) toward the larger — every wedge
is then enumerated exactly once at its lowest-degree apex, which caps
per-vertex join fan-out at O(sqrt(|E|)) even on hub-skewed graphs (the
classic compact-forward trick). A wedge (a->b, a->c) closes into a
triangle iff oriented edge (b->c) exists — checked with a left-semi
join. Per-vertex counts come from exploding each triangle to its three
corners.

Scale path (PLANS.md round-3 deferred item, closed round 4): at 10^11
edges the canonicalizing ``distinct`` and the degree join dominate the
count. ``prepare_oriented_edges`` does both ONCE at write time and
stores the oriented (u, v, dv) table sorted-BUCKETED by the wedge apex
``u``; ``triangle_counts_prepared`` then enumerates wedges with a
self-join whose both sides are bucketed scans — NO Exchange precedes
the first join (asserted in tests/test_triangles_prepared.py).

Physical design. ``triangle_counts`` over an edge table of at most
``in_task.IN_TASK_MAX_EDGES`` rows (one ``count()`` decides) runs in one
task (graph/in_task.py) as NumPy: the same canonical pairs and the same
(deg, vid) orientation, wedges closed by ``np.searchsorted`` on the
sorted oriented-edge keys, per-vertex counts by ``np.bincount`` over the
three corners. Wedges are enumerated a bounded number at a time, so the
task holds O(E + ``_WEDGE_CHUNK``) on hub-heavy graphs. That is one Spark job
where the distributed path pays a handful of shuffles and
materializations. ``num_partitions`` and ``assume_canonical`` tune only
the distributed path, which runs above the threshold; the prepared-
table functions always run distributed.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import in_task
from .loop import aqe_disabled, graph_partitions, shuffle_partitions_pinned

# wedges the in-task kernel enumerates at a time (~8 MB per int64 array)
_WEDGE_CHUNK = 1 << 20


@dataclass
class TriangleResult:
    per_vertex: DataFrame  # (vid, triangles)
    total: int
    wall_secs: float


def _canonical(edges: DataFrame) -> DataFrame:
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _orient(canon: DataFrame) -> DataFrame:
    """Canonical (a < b) pairs -> degree-oriented (u, v, dv): u is the
    endpoint with the smaller (deg, vid), dv the head's degree (carried
    so wedges can be ordered by the same key the orientation uses)."""
    deg = (
        canon.select(F.col("a").alias("vid"))
        .unionByName(canon.select(F.col("b").alias("vid")))
        .groupBy("vid")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return (
        canon.join(deg.select(F.col("vid").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("vid").alias("b"), F.col("deg").alias("db")), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v"),
                         F.col("db").alias("dv")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v"),
                                F.col("da").alias("dv")))
            .alias("e")
        )
        .select("e.u", "e.v", "e.dv")
    )


def _count_from_oriented(e: DataFrame, p: int) -> tuple[int, DataFrame]:
    """(total, per_vertex) from an oriented (u, v, dv) edge table, with
    ``per_vertex`` materialized as a checkpoint scan. The wedge's
    endpoints are ordered by (deg, vid) — the orientation key — so a
    closing edge between y and z can only be oriented y -> z and the
    semi-join probes the oriented table itself (no 2x union).

    Both materializations, and the persist of the triangles they read,
    run at ``p`` shuffle partitions and with AQE off (AQE would run each
    exchange under them as a job of its own)."""
    spark = e.sparkSession
    wedges = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.u") == F.col("e2.u"))
        .filter(
            (F.col("e1.dv") < F.col("e2.dv"))
            | ((F.col("e1.dv") == F.col("e2.dv")) & (F.col("e1.v") < F.col("e2.v")))
        )
        .select(
            F.col("e1.u").alias("x"), F.col("e1.v").alias("y"), F.col("e2.v").alias("z")
        )
    )
    closing = e.select(F.col("u").alias("y"), F.col("v").alias("z"))
    with aqe_disabled(spark), shuffle_partitions_pinned(spark, p):
        tris = wedges.join(closing, ["y", "z"], "left_semi").persist()
        total = tris.count()
    per_vertex = (
        tris.select(F.explode(F.array("x", "y", "z")).alias("vid"))
        .groupBy("vid")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    # vertices with no triangles -> 0 (the oriented table enumerates
    # every vertex of degree >= 1 on one side or the other)
    all_v = (
        e.select(F.col("u").alias("vid"))
        .unionByName(e.select(F.col("v").alias("vid")))
        .distinct()
    )
    per_vertex = all_v.join(per_vertex, "vid", "left").select(
        "vid", F.coalesce("triangles", F.lit(0)).alias("triangles")
    )
    # materialize per_vertex WHILE tris/e are still cached: the returned
    # DataFrame is then a checkpoint scan. Without this, every caller
    # action (e.g. a sink write or the bench's count) re-executed the
    # whole canonicalize + orient + wedge-join pipeline from the source
    # (round-6 plan audit).
    with aqe_disabled(spark), shuffle_partitions_pinned(spark, p):
        per_vertex = per_vertex.localCheckpoint(eager=True)
    tris.unpersist()
    return total, per_vertex


def triangle_counts(edges: DataFrame, num_partitions: int | None = None,
                    assume_canonical: bool = False) -> TriangleResult:
    """``assume_canonical=True`` declares the input already holds unique
    undirected pairs as (src < dst) — e.g. a canonical edge table
    maintained at write time — and skips the canonicalizing
    ``distinct``, the dominant shuffle at 10^11 edges (PLANS.md)."""
    if in_task.fits(edges):
        return _tri_in_task(edges)
    t0 = time.time()
    spark = edges.sparkSession

    if assume_canonical:
        canon = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    else:
        canon = _canonical(edges)
    with aqe_disabled(spark):  # as in components.connected_components
        canon = canon.persist()
        p = num_partitions or graph_partitions(spark, canon.count())
        # LAZY: the wedge-join materialization inside
        # _count_from_oriented computes the orient + repartition and
        # populates the cache (was an eager count barrier — round-6
        # job-budget trim; canon stays cached until after the count, so
        # a cache miss never re-runs the canonicalizing distinct)
        e = _orient(canon).repartition(p, "u").persist()
    total, per_vertex = _count_from_oriented(e, p)
    canon.unpersist()
    e.unpersist()
    return TriangleResult(per_vertex, total, time.time() - t0)


def _tri_in_task(edges: DataFrame) -> TriangleResult:
    t0 = time.time()
    # record: vid = the total triangle count
    per_vertex, rec = in_task.run_graph(edges, _tri_kernel(),
                                        "vid long, triangles long")
    return TriangleResult(per_vertex, rec["vid"], time.time() - t0)


def _tri_kernel():
    """The in-task count: ``_canonical``, ``_orient`` and
    ``_count_from_oriented`` over NumPy arrays. Vertices are renumbered
    by their (deg, vid) rank, so an oriented edge runs from the lower
    rank to the higher, and the wedges at an apex are the pairs of its
    out-edges in rank order."""

    def kernel(src, dst, x):
        lo, hi = np.minimum(src, dst), np.maximum(src, dst)
        loop = lo == hi
        lo, hi = lo[~loop], hi[~loop]
        vids = np.unique(np.concatenate([lo, hi]))
        n = len(vids)
        pair = np.unique(np.searchsorted(vids, lo) * n + np.searchsorted(vids, hi))
        a, b = pair // n, pair % n
        deg = np.bincount(a, minlength=n) + np.bincount(b, minlength=n)
        # vertex indices are in vid order, so this sorts by (deg, vid)
        rank = np.empty(n, np.int64)
        rank[np.lexsort((np.arange(n), deg))] = np.arange(n)
        ra, rb = rank[a], rank[b]
        key = np.sort(np.minimum(ra, rb) * n + np.maximum(ra, rb))
        u, v = key // n, key % n
        m = len(key)
        # out-edge i pairs with every later out-edge of its apex
        later = np.searchsorted(u, u, side="right") - np.arange(m) - 1
        ends = np.cumsum(later)
        tri = np.zeros(n, np.int64)  # per rank
        total = 0
        i0 = 0
        while i0 < m:
            done = ends[i0 - 1] if i0 else 0
            i1 = max(i0 + 1, int(np.searchsorted(ends, done + _WEDGE_CHUNK,
                                                 side="right")))
            c = later[i0:i1]
            i = np.repeat(np.arange(i0, i1), c)
            j = i + 1 + np.arange(len(i)) - np.repeat(np.cumsum(c) - c, c)
            y, z = v[i], v[j]
            q = y * n + z
            hit = key[np.minimum(np.searchsorted(key, q), m - 1)] == q
            for corner in (u[i][hit], y[hit], z[hit]):
                tri += np.bincount(corner, minlength=n)
            total += int(np.count_nonzero(hit))
            i0 = i1
        return {"vid": vids, "triangles": tri[rank]}, {"vid": total}

    return kernel


def prepare_oriented_edges(
    edges: DataFrame,
    table: str,
    buckets: int | None = None,
    path: str | None = None,
) -> int:
    """Canonicalize + degree-orient ONCE and store the result as a
    parquet table sorted-BUCKETED by the wedge apex ``u`` — the write-
    time half of the 10^11-edge triangle plan. Bucketing co-locates
    every apex's adjacency in one file per bucket, so
    ``triangle_counts_prepared``'s wedge self-join reads both sides
    from the same bucketed scan with no preceding Exchange. Returns the
    bucket count used."""
    spark = edges.sparkSession
    with aqe_disabled(spark):  # as in components.connected_components
        canon = _canonical(edges).persist()
        b = buckets or graph_partitions(spark, canon.count())
    w = _orient(canon).write.mode("overwrite").format("parquet")
    if path:
        w = w.option("path", path)
    w.bucketBy(b, "u").sortBy("u").saveAsTable(table)
    canon.unpersist()
    return b


def triangle_counts_prepared(spark: SparkSession, table: str,
                             num_partitions: int | None = None) -> TriangleResult:
    """Count triangles over a table written by ``prepare_oriented_edges``:
    no canonical distinct, no degree join, and the wedge self-join runs
    directly on the bucketed scan (zero Exchange before the first join
    — the closing-edge semi-join on (y, z) is the count's only
    shuffle)."""
    t0 = time.time()
    e = spark.table(table)
    with aqe_disabled(spark):  # as in components.connected_components
        p = num_partitions or graph_partitions(spark, e.count())
    total, per_vertex = _count_from_oriented(e, p)
    return TriangleResult(per_vertex, total, time.time() - t0)
