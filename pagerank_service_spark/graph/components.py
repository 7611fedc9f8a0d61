"""Connected components via iterative min-label hash-join propagation
(north-rule mandated algorithm; not present in the reference — new
capability over the same edge table).

Semantics: undirected connectivity; ``component(v) = min(vid)`` over
v's (weakly) connected component — exact match against
``networkx.connected_components`` in tests.

Algorithm: every vertex starts labeled with its own vid; each round a
vertex takes the min of its label and its neighbors' labels (hash join
edges ⋈ labels + groupBy min). Plain min-propagation needs O(diameter)
rounds; we add the *pointer-jumping* shortcut (labels join labels:
label <- label(label)) each round, which contracts long chains
logarithmically — the DataFrame rendition of large-star/small-star's
convergence behavior with simpler plans. Edge table is symmetrized and
persisted once; per-round cost is two hash joins on vid.

Physical design. An edge table of at most ``in_task.IN_TASK_MAX_EDGES``
rows (one ``count()`` decides) runs every round in one task
(graph/in_task.py) as NumPy over a vertex index built once: a round is
``np.minimum.at`` over the symmetrized edges, then the pointer jump.
Labels are held as vertex indices, whose order is the vids' order, so
the rounds, the stop and the labels are the distributed loop's. That is
one Spark job for the whole run, where the loop pays one per round.
``num_partitions`` and ``assume_symmetric`` tune only the distributed
loop, which runs above the threshold. ``connected_components_star``
always runs distributed.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, functions as F

from . import in_task
from .loop import (
    aqe_disabled,
    graph_partitions,
    run_loop,
    shuffle_partitions_pinned,
)


@dataclass
class ComponentsResult:
    components: DataFrame  # (vid, component)
    iterations: int
    wall_secs: float
    # False when max_iter elapsed before the fixpoint — the labels are
    # then partial (a vertex keeps its smallest root seen so far) and
    # callers must not treat them as exact
    converged: bool = True


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    num_partitions: int | None = None,
    assume_symmetric: bool = False,
) -> ComponentsResult:
    """``assume_symmetric=True`` declares the input already contains
    both directions of every undirected edge exactly once (e.g. a
    symmetrized table maintained at write time) and skips the
    symmetrizing union+distinct — the one full-edge-table shuffle
    outside the loop."""
    if in_task.fits(edges):
        return _cc_in_task(edges, max_iter)
    spark = edges.sparkSession
    if assume_symmetric:
        und0 = edges.select("src", "dst")
    else:
        und0 = (
            edges.select("src", "dst")
            .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .distinct()
        )
    # the sizing count, and the cache it fills, planned with AQE off: with
    # it on, each exchange under the count runs as a job of its own
    with aqe_disabled(spark):
        und0 = und0.persist()
        p = num_partitions or graph_partitions(spark, und0.count())
    # LAZY: the loop's first materialization computes the repartition
    # and populates the cache (was an eager count barrier — round-6
    # job-budget trim); und0 stays cached until after the loop so a
    # cache-miss recompute of und never re-runs the symmetrizing
    # distinct from source
    und = und0.repartition(p, "src").persist()
    labels = (
        und.select(F.col("src").alias("vid"))
        .distinct()
        .select("vid", F.col("vid").alias("component"), F.lit(1.0).alias("diff"))
    )

    def step(state: DataFrame, i: int, _carried=None) -> DataFrame:
        cur = state.select("vid", "component")
        # neighbor min
        nbr = (
            und.join(cur.withColumnRenamed("vid", "src"), "src")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.min("component").alias("nbr_min"))
        )
        # carry the pre-round label through as `prev` so the convergence
        # diff is a projection, not a third per-round join
        merged = (
            cur.join(nbr, "vid", "left")
            .select(
                "vid",
                F.least(F.col("component"), F.coalesce("nbr_min", "component")).alias("component"),
                F.col("component").alias("prev"),
            )
        )
        # pointer jumping: component <- component(component)
        return (
            merged.alias("m")
            .join(
                merged.select(
                    F.col("vid").alias("component"), F.col("component").alias("cc2")
                ).alias("j"),
                "component",
                "left",
            )
            .select(
                "vid",
                F.coalesce("cc2", "component").alias("component"),
                # inequality, NOT subtraction: xxhash64-encoded vids sit
                # near ±2^63 where (prev - new) overflows long (ANSI)
                (F.col("prev") != F.coalesce("cc2", "component"))
                .cast("double").alias("diff"),
            )
        )

    # number of labels still changing
    metric = F.count(F.when(F.col("diff") != 0, 1))

    res = run_loop(spark, labels, step, metric, tol=1.0, max_iter=max_iter,
                   partitions=p)
    und0.unpersist()
    und.unpersist()
    return ComponentsResult(res.state.select("vid", "component"),
                            res.iterations, res.wall_secs,
                            converged=res.metric < 1.0)


def _cc_in_task(edges: DataFrame, max_iter: int) -> ComponentsResult:
    t0 = time.time()
    # record: vid = rounds run, component = 1 if the labels reached
    # their fixpoint
    comps, rec = in_task.run_graph(edges, _cc_kernel(max_iter),
                                   "vid long, component long")
    return ComponentsResult(comps, rec["vid"], time.time() - t0,
                            converged=bool(rec["component"]))


def _cc_kernel(max_iter: int):
    """The in-task rounds of ``connected_components``' step: neighbor
    min over the symmetrized edges, then ``label <- label(label)``,
    until no label changes."""

    def kernel(src, dst, x):
        vids = np.unique(np.concatenate([src, dst]))
        s, d = np.searchsorted(vids, src), np.searchsorted(vids, dst)
        s, d = np.concatenate([s, d]), np.concatenate([d, s])
        lab = np.arange(len(vids))
        rounds, changed = 0, -1
        while rounds < max_iter:
            nbr = lab.copy()
            np.minimum.at(nbr, d, lab[s])
            new = nbr[nbr]
            changed = int(np.count_nonzero(new != lab))
            lab = new
            rounds += 1
            if changed == 0:
                break
        return ({"vid": vids, "component": vids[lab]},
                {"vid": rounds, "component": int(changed == 0)})

    return kernel


def connected_components_star(
    edges: DataFrame,
    max_iter: int = 50,
    num_partitions: int | None = None,
) -> ComponentsResult:
    """Connected components via alternating large-star / small-star
    edge rewriting (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14 — public algorithm, reimplemented on
    DataFrames).

    Where min-label propagation keeps the FULL edge set live every
    round, star rewriting contracts the edge set itself toward a star
    forest (each vertex pointing at its component's minimum id), so
    per-round shuffle volume SHRINKS as the graph contracts — the
    property that matters at 10^11 edges. Same output contract as
    ``connected_components``: (vid, component = min vid of the
    component), exact.

    * large-star: every vertex u links each strictly-larger neighbor to
      m(u) = min(N(u) ∪ {u});
    * small-star: each undirected edge oriented from its larger
      endpoint; every u links its smaller-or-equal neighbors (and
      itself) to their minimum.

    Both preserve connectivity and monotonically contract toward the
    star forest fixpoint. Convergence is detected by a (count, id-sum,
    pair-hash-sum) checksum of the edge set being stable across a
    round — a 1-row aggregate, no exceptAll over the edge table. The
    termination test is therefore probabilistic: two DISTINCT edge sets
    colliding on all three checksum components would end a round early
    (odds are astronomically small — count AND sum AND a 64-bit hash
    sum must all collide); a ``max_iter`` bailout before the fixpoint
    returns partial labels with ``converged=False``.
    """
    t0 = time.time()
    spark = edges.sparkSession
    # vertex universe comes from the UNFILTERED endpoints: a vertex
    # whose only edges are self-loops must still appear in the output
    # (component = itself), matching connected_components and the
    # DuckDB oracle
    all_v = (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    e0 = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .distinct()
    )
    with aqe_disabled(spark):  # as in connected_components
        all_v, e0 = all_v.persist(), e0.persist()
        p = num_partitions or graph_partitions(spark, e0.count())
        all_v.count()

    def checksum(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # per-element decimal cast BEFORE adding: vids can sit near
            # ±2^63 (xxhash64 ids) where a long u+v overflows row-wise
            F.sum(F.col("u").cast("decimal(38,0)")
                  + F.col("v").cast("decimal(38,0)")).alias("s"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["s"], str(row["h"]))

    def large_star(e: DataFrame) -> DataFrame:
        # neighborhoods from both orientations; m = min(N(u) ∪ {u})
        sym = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("mn", "u").alias("m")
        )
        out = (
            sym.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.least("v", "m").alias("u"), F.greatest("v", "m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        return out

    def small_star(e: DataFrame) -> DataFrame:
        # orient from the larger endpoint: center c, smaller neighbor s
        o = e.select(F.col("v").alias("c"), F.col("u").alias("s"))
        m = o.groupBy("c").agg(F.min("s").alias("m"))  # m < c always
        nbr = o.join(m, "c").select(F.col("s").alias("x"), "m")
        self_ = m.select(F.col("c").alias("x"), "m")
        out = (
            nbr.unionByName(self_)
            .filter(F.col("x") != F.col("m"))
            .select(F.col("m").alias("u"), F.col("x").alias("v"))
            .distinct()
        )
        return out

    e = e0
    prev_sum = checksum(e)
    iters = 0
    converged = False
    with shuffle_partitions_pinned(spark, p):
        for _ in range(max_iter):
            e_new = small_star(large_star(e)).localCheckpoint(eager=True)
            iters += 1
            cur_sum = checksum(e_new)
            e = e_new
            if cur_sum == prev_sum:
                converged = True
                break
            prev_sum = cur_sum
    # star forest: every edge is (root=u < v); roots and isolated-in-star
    # vertices map to themselves. min-agg rather than a bare join so a
    # max_iter bailout before the fixpoint still yields one row per vid
    # (a not-yet-star vertex keeps its smallest known root)
    roots = e.groupBy(F.col("v").alias("vid")).agg(F.min("u").alias("root"))
    with shuffle_partitions_pinned(spark, p):
        # materialize WHILE all_v is still cached — otherwise a caller
        # action re-derives the vertex universe from the source edges
        # (full extract recompute; round-6 plan audit)
        comp = all_v.join(roots, "vid", "left").select(
            "vid", F.coalesce("root", "vid").alias("component")
        ).localCheckpoint(eager=True)
    e0.unpersist()
    all_v.unpersist()
    return ComponentsResult(comp, iters, time.time() - t0,
                            converged=converged)
