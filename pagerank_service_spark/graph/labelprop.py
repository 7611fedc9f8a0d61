"""Label propagation for community detection (north-rule capability).

Deterministic synchronous variant (so tests can match an oracle
exactly, FIXTURES.md §5):

* vertices start labeled with their own vid;
* each round every vertex adopts the label with the largest total
  incident edge WEIGHT among its neighbors (undirected view, both
  directions' weights summed); ties break toward the SMALLER label;
  a vertex keeps its current label only if no neighbor label strictly
  beats it (its own label competes with weight 0 — isolated vertices
  keep theirs);
* stops when no label changes or after ``max_iter`` rounds
  (synchronous LP can 2-cycle on bipartite structures; the cap plus
  deterministic ties keep it reproducible).

Spark shape: join labels to the symmetrized weighted edge list,
``groupBy(vid, label).sum(weight)``, then pick the per-vertex argmax via
``max_by`` over a struct ordered (weight desc, label asc) — one shuffle
for the groupBy, one for the argmax, no window sort over whole
partitions.

Physical design. An edge table of at most ``in_task.IN_TASK_MAX_EDGES``
rows (one ``count()`` decides) runs every round in one task
(graph/in_task.py) as NumPy over a vertex index built once: the
symmetrized weights are pre-summed per (src, dst) pair once, as in the
distributed loop; each round sums the votes per (dst, label) with
``np.unique`` + ``np.bincount`` and takes the argmax by ``np.lexsort``
under the same (weight desc, label asc) rule. Labels are held as vertex
indices, whose order is the vids' order, so the rounds, the stop and
the labels are the distributed loop's. That is one Spark job for the
whole run, where the loop pays one per round. ``num_partitions`` tunes
only the distributed loop, which runs above the threshold.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, functions as F

from . import in_task
from .loop import graph_partitions, run_loop, shuffle_partitions_pinned


@dataclass
class LabelPropResult:
    labels: DataFrame  # (vid, label)
    iterations: int
    wall_secs: float
    # False when max_iter elapsed while labels were still changing (a
    # 2-cycle on bipartite structure never settles)
    converged: bool


def label_propagation(
    edges: DataFrame,
    max_iter: int = 20,
    num_partitions: int | None = None,
) -> LabelPropResult:
    if in_task.fits(edges):
        return _lp_in_task(edges, max_iter)
    spark = edges.sparkSession
    und0 = (
        edges.select("src", "dst", "weight")
        .unionByName(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
        .persist()
    )
    p = num_partitions or graph_partitions(spark, und0.count())
    # LAZY: the loop's first materialization computes the repartition
    # and populates the cache (round-6 job-budget trim; und0 stays
    # cached until after the loop — see components.py)
    und = und0.repartition(p, "src").persist()
    labels = (
        und.select(F.col("src").alias("vid"))
        .distinct()
        .select("vid", F.col("vid").alias("label"), F.lit(1.0).alias("diff"))
    )

    def step(state: DataFrame, i: int) -> DataFrame:
        cur = state.select("vid", "label")
        votes = (
            und.join(cur.withColumnRenamed("vid", "src"), "src")
            .groupBy(F.col("dst").alias("vid"), F.col("label"))
            .agg(F.sum("weight").alias("w"))
        )
        # argmax by (w desc, label asc): max over struct(w, ~label) —
        # bitwise NOT is the exact order-reversing involution on longs
        # (negation overflows at Long.MIN_VALUE, reachable for hashed
        # label spaces under ANSI mode)
        best = votes.groupBy("vid").agg(
            F.max(F.struct(F.col("w"),
                           F.bitwise_not("label").alias("nl"))).alias("m")
        ).select("vid", F.bitwise_not(F.col("m.nl")).alias("new_label"),
                 F.col("m.w").alias("best_w"))
        return (
            cur.join(best, "vid", "left")
            .select(
                "vid",
                F.coalesce("new_label", "label").alias("label"),
                # inequality, NOT subtraction: hashed labels near ±2^63
                # overflow long subtraction under ANSI mode
                (F.col("label") != F.coalesce("new_label", "label"))
                .cast("double").alias("diff"),
            )
        )

    def metric(state: DataFrame) -> float:
        return float(state.filter(F.col("diff") != 0).count())

    with shuffle_partitions_pinned(spark, p):
        res = run_loop(spark, labels, step, metric, tol=1.0, max_iter=max_iter)
    und0.unpersist()
    und.unpersist()
    return LabelPropResult(res.state.select("vid", "label"),
                           res.iterations, res.wall_secs,
                           converged=res.metric < 1.0)


def _lp_in_task(edges: DataFrame, max_iter: int) -> LabelPropResult:
    t0 = time.time()
    # record: vid = rounds run, label = 1 if no label changed in the
    # last round
    labels, rec = in_task.run_graph(edges, _lp_kernel(max_iter),
                                    "vid long, label long", x="weight")
    return LabelPropResult(labels, rec["vid"], time.time() - t0,
                           converged=bool(rec["label"]))


def _lp_kernel(max_iter: int):
    """The in-task rounds of ``label_propagation``'s step: every vertex
    takes the label with the largest summed vote weight among its
    neighbors, ties to the smaller label, until no label changes."""

    def kernel(src, dst, w):
        vids = np.unique(np.concatenate([src, dst]))
        n = len(vids)
        s, d = np.searchsorted(vids, src), np.searchsorted(vids, dst)
        # symmetrize, then one weight per (src, dst) pair
        pair, inv = np.unique(np.concatenate([s * n + d, d * n + s]),
                              return_inverse=True)
        w = np.bincount(inv, weights=np.concatenate([w, w]))
        s, d = pair // n, pair % n
        lab = np.arange(n)
        rounds, changed = 0, -1
        while rounds < max_iter:
            vote, inv = np.unique(d * n + lab[s], return_inverse=True)
            vw = np.bincount(inv, weights=w)
            vd, vl = vote // n, vote % n
            # per dst, the first vote by (weight desc, label asc)
            o = np.lexsort((vl, -vw, vd))
            first = o[np.diff(vd[o], prepend=-1) != 0]
            new = lab.copy()
            new[vd[first]] = vl[first]
            changed = int(np.count_nonzero(new != lab))
            lab = new
            rounds += 1
            if changed == 0:
                break
        return ({"vid": vids, "label": vids[lab]},
                {"vid": rounds, "label": int(changed == 0)})

    return kernel


def label_propagation_oracle(
    edges: list[tuple[int, int, float]], max_iter: int = 20
) -> dict[int, int]:
    """Pure-Python oracle implementing the same deterministic rule."""
    und: dict[tuple[int, int], float] = {}
    for s, d, w in edges:
        und[(s, d)] = und.get((s, d), 0.0) + float(w)
        und[(d, s)] = und.get((d, s), 0.0) + float(w)
    nbrs: dict[int, list[tuple[int, float]]] = {}
    for (s, d), w in und.items():
        nbrs.setdefault(s, []).append((d, w))
        nbrs.setdefault(d, [])
    labels = {v: v for v in nbrs}
    for _ in range(max_iter):
        new = {}
        changed = 0
        for v in nbrs:
            votes: dict[int, float] = {}
            for u, w in nbrs[v]:
                votes[labels[u]] = votes.get(labels[u], 0.0) + w
            if votes:
                best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))[0]
            else:
                best = labels[v]
            new[v] = best
            changed += best != labels[v]
        labels = new
        if changed == 0:
            break
    return labels
