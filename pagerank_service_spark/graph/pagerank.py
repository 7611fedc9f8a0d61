"""Weighted PageRank as DataFrame transforms.

Two semantic modes:

* ``mode="reference"`` — the reference service's exact algorithm
  (``/root/reference/project/utils/network_util.py:503-724``, behavior
  reimplemented from scratch): alpha=1, teleport via a *virtual node*
  bidirectionally linked to every node with weight in_strength/10,
  uniform dangling-mass redistribution, then the post-pass
  (virtual-rank proportional redistribution -> normalize -> +0.5 *
  in_weight/sum_in_weight bonus -> normalize). Matches the NumPy oracle
  (graph/oracle.py) to allclose 1e-6.
* ``mode="standard"`` — classic damped PageRank (alpha=0.85 default)
  with dangling-mass redistribution; the generic API.

Physical design. Preparation (``prepare_graph``: collapse, virtual
node, row-normalize) persists the collapse and counts it in one job.
At most ``in_task.IN_TASK_MAX_EDGES`` collapsed edges are prepared in
one task: one more job runs the NumPy kernel, and the context's tables
are views of its checkpointed output. Larger graphs are prepared as
Spark jobs, which persist each table and hash-partition ``trans`` on
``src`` (into ``num_partitions`` partitions when given). A prepared
graph then takes one of two paths, chosen by the size of its
transition table:

* **in one task**, when ``trans`` has at most
  ``in_task.IN_TASK_MAX_EDGES`` rows (graph/in_task.py has the
  threshold and the runner): ``trans``, the vertex set, in-strength and
  any resume or warm-start ranks travel as one tagged union into a
  single ``mapInArrow`` task. The kernel builds the vertex index once
  (``np.searchsorted`` over the sorted vids, a CSR-style gather index),
  runs each iteration as an ``np.bincount`` scatter plus the dangling
  term, checks the diff every iteration and runs the reference
  post-pass in the same task. That is one Spark job where the
  distributed loop pays one per iteration.
* **distributed**, above it. The transition table ``trans(src, dst,
  p)`` is computed ONCE (collapse multi-edges -> out-degree normalize),
  hash-repartitioned on ``src`` into whole waves of task slots
  (graph/loop.py ``graph_partitions``) and persisted — the
  per-iteration join then reuses that exchange, so each iteration
  shuffles only the rank vector (|V| rows), never the edge table (|E|
  rows). Each step is ONE ``spark.sql`` call over one text per run
  (``_step_sql``): ``trans ⋈ ranks on src`` with a SHUFFLE_HASH hint,
  unioned with the previous ranks, then one ``GROUP BY vid`` with
  map-side partial aggregation — hub-dst skew is absorbed by partial
  aggregation; an explicit two-stage salted aggregate (``salt=k``) is
  available for pathological hubs. A steady-state step has one
  exchange, that ``GROUP BY``. Each vertex's state row carries an
  ``is_dangling`` flag, set by one join before the loop, so each
  iteration is ONE job: graph/loop.py's materialization job returns
  the convergence metric (max diff) and the dangling mass (the flagged
  ranks' sum) as observed metrics, and the next step binds the mass as
  a SQL parameter that ``loop.scalar`` keeps out of the generated code.
  The first step takes the mass of the input state, which the loop
  materializes once before it starts. Lineage, AQE, shuffle partitions
  and checkpointing are handled by graph/loop.py.

``salt`` and ``checkpoint_every`` tune only the distributed loop. Both
paths check convergence at every iteration. The in-task path writes
one checkpoint, at the end, in the same ``(vid, rank, diff)`` layout
and manifest, so either path resumes the other's checkpoint. A
checkpoint written for a different mode, alpha or graph size is refused
with ``ValueError`` on both paths.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from functools import partial

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.truncate import trunc_py, trunc_udf
from . import in_task
from .loop import (
    LoopResult,
    aqe_disabled,
    graph_partitions,
    read_checkpoint,
    run_loop,
    scalar,
    temp_view,
    write_checkpoint,
)


@dataclass
class GraphContext:
    # persisted, or views of the in-task prepare's checkpointed output
    trans: DataFrame          # (src, dst, p) row-normalized
    vertices: DataFrame       # (vid,)
    dangling: DataFrame       # (vid,) nodes with no out-edges
    in_strength: DataFrame | None  # (vid, in_w); None in standard mode
    n: int
    n_edges: int
    has_dangling: bool
    virtual_vid: int | None   # set in reference mode
    partitions: int = 0       # trans partitioning; loops pin shuffles to it

    def save(self, path: str) -> None:
        """Persist the prepared graph so a separate process (e.g. a
        scaling-bench run at a different parallelism) can iterate over
        the identical transition structure without re-preparing."""
        import json as _json
        import os as _os

        self.trans.write.mode("overwrite").parquet(f"{path}/trans")
        self.vertices.write.mode("overwrite").parquet(f"{path}/vertices")
        self.dangling.write.mode("overwrite").parquet(f"{path}/dangling")
        if self.in_strength is not None:
            self.in_strength.write.mode("overwrite").parquet(f"{path}/in_strength")
        _os.makedirs(path, exist_ok=True)
        with open(f"{path}/meta.json", "w") as f:
            _json.dump({"n": self.n, "n_edges": self.n_edges,
                        "has_dangling": self.has_dangling,
                        "virtual_vid": self.virtual_vid,
                        "partitions": self.partitions,
                        "has_in_strength": self.in_strength is not None}, f)

    @classmethod
    def load(cls, spark: SparkSession, path: str,
             num_partitions: int | None = None,
             compact_ids: bool = False) -> "GraphContext":
        """``compact_ids=True`` downcasts vids to int32 when the whole
        vid space fits — the transition table is the structure every
        iteration scans from cache, so 16 B/edge instead of 24 B/edge
        is a third less memory bandwidth per iteration (the binding
        resource once cores stop being the bottleneck). Applied at load
        so the cache itself holds the narrow rows."""
        import json as _json

        with open(f"{path}/meta.json") as f:
            meta = _json.load(f)
        p = (num_partitions or meta.get("partitions")
             or int(spark.conf.get("spark.sql.shuffle.partitions")))
        trans = spark.read.parquet(f"{path}/trans")
        vertices = spark.read.parquet(f"{path}/vertices")
        dangling = spark.read.parquet(f"{path}/dangling")
        if compact_ids:
            mx = trans.agg(
                F.greatest(F.max("src"), F.max("dst")).alias("m")
            ).first()["m"]
            if mx is not None and mx < 2**31 and (
                meta["virtual_vid"] is None or meta["virtual_vid"] < 2**31
            ):
                trans = trans.select(
                    F.col("src").cast("int").alias("src"),
                    F.col("dst").cast("int").alias("dst"), "p",
                )
                vertices = vertices.select(F.col("vid").cast("int").alias("vid"))
                dangling = dangling.select(F.col("vid").cast("int").alias("vid"))
        trans = trans.repartition(p, "src").persist()
        trans.count()
        vertices = vertices.persist()
        dangling = dangling.persist()
        in_strength = (
            spark.read.parquet(f"{path}/in_strength").persist()
            if meta["has_in_strength"] else None
        )
        return cls(trans, vertices, dangling, in_strength, meta["n"],
                   meta["n_edges"], meta["has_dangling"], meta["virtual_vid"],
                   partitions=p)


@dataclass
class PageRankResult:
    ranks: DataFrame
    iterations: int
    linf_error: float
    wall_secs: float      # prepare + iterate + post-pass
    loop_secs: float      # iterate loop only (the scaling-bench metric)
    n_vertices: int
    n_edges: int
    error_history: list[float] = field(default_factory=list)
    # per materialization on the distributed path, per iteration in-task
    iter_secs: list[float] = field(default_factory=list)
    # the loop stopped because the diff fell below tol (never, for tol <= 0)
    converged: bool = False


def collapse(edges: DataFrame) -> DataFrame:
    """Multi-edge collapse: weight = sum per (src,dst), keep > 0
    (reference: network_util.py:529-542)."""
    return (
        edges.groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
        .filter(F.col("weight") > 0)
    )


def prepare_graph(
    edges: DataFrame,
    num_partitions: int | None = None,
    add_virtual: bool = True,
) -> GraphContext:
    """edges -> row-normalized transition structure.

    Collapse multi-edges (weight summed per (src, dst), kept when > 0),
    then in reference mode (``add_virtual``) add the virtual node, then
    row-normalize by out-sum (network_util.py:529-564). The vertices
    are every endpoint, the dangling set those with no out-edge.

    The collapse is persisted, and one job counts it (and finds the
    largest vid). At most ``in_task.IN_TASK_MAX_EDGES`` collapsed edges
    are prepared in one task (``_prepare_in_task``): one more job, and
    the context's tables are views of its checkpointed output. Larger
    graphs are prepared as Spark jobs (``_prepare_distributed``), whose
    tables are persisted. ``num_partitions`` tunes only the distributed
    layout: ``trans`` hash-partitioned on ``src`` into that many
    partitions. When not given, that count is sized from the edge count
    (graph_partitions: ~75k edges a partition, rounded down to whole
    waves of the cluster's task slots, at least 4 and at most the
    session's shuffle partitions). It is repaid every iteration: no
    small graph scattered across empty tasks (AQE would do this for
    one-shot queries but is pinned off in loops), and no second wave of
    tasks a few partitions long.

    Raises ``ValueError`` in reference mode when the largest vid is
    ``2**63 - 1``: the virtual node's vid would not fit a long.
    """
    spark = edges.sparkSession
    # AQE would plan each of the small exchanges below as its own job
    # (21 jobs instead of 5 on a 20k-edge graph)
    with aqe_disabled(spark):
        e0 = collapse(edges).persist()
        try:
            # ONE pass over the collapse for the size, which picks the
            # path and the partition count, AND (reference mode) the
            # max-vid scan
            aggs = [F.count(F.lit(1)).alias("cnt")]
            if add_virtual:
                aggs.append(F.greatest(F.max("src"), F.max("dst")).alias("m"))
            row = e0.agg(*aggs).first()
            # virtual node = max(vid)+1; none for a graph with no edges
            virtual_vid = _virtual_vid(row["m"]) if add_virtual else None
            if row["cnt"] <= in_task.IN_TASK_MAX_EDGES:
                return _prepare_in_task(e0, num_partitions, add_virtual,
                                        virtual_vid)
            p = num_partitions or graph_partitions(spark, row["cnt"])
            return _prepare_distributed(e0, p, add_virtual, virtual_vid)
        finally:
            # both paths have materialized what they read of it
            e0.unpersist()


def _virtual_vid(max_vid: int | None) -> int | None:
    """The virtual node's vid, max(vid) + 1; None for a graph with no
    edges."""
    if max_vid is None:
        return None
    if max_vid >= 2**63 - 1:
        raise ValueError(
            f"largest vid {max_vid} leaves no room for the virtual node "
            "(max vid + 1 must fit a long)")
    return int(max_vid) + 1


def _prepare_distributed(e: DataFrame, p: int, add_virtual: bool,
                         virtual_vid: int | None) -> GraphContext:
    """``prepare_graph`` after the collapse ``e``, as Spark jobs (4 on
    a small graph)."""
    # in-strength is needed for the virtual node and the +add bonus
    # (reference mode only) — skip the extra full pass otherwise.
    in_strength = None
    if add_virtual:
        in_strength = (
            e.groupBy("dst").agg(F.sum("weight").alias("in_w"))
            .withColumnRenamed("dst", "vid")
            .persist()
        )
        # virtual node = max(vid)+1 with bidirectional edges weighted
        # in_strength/10 (network_util.py:544-564); nodes with zero
        # in-strength get none (see oracle.py docstring).
        ve = in_strength.filter(F.col("in_w") > 0).select(
            F.col("vid"), (F.col("in_w") / 10.0).alias("weight")
        )
        v_out = ve.select(F.lit(virtual_vid).cast("long").alias("src"),
                          F.col("vid").alias("dst"), "weight")
        v_in = ve.select(F.col("vid").alias("src"),
                         F.lit(virtual_vid).cast("long").alias("dst"), "weight")
        e = e.unionByName(v_out).unionByName(v_in)

    # One shuffle lays e out by src; out-sums and the row-normalized
    # trans table then reuse that partitioning (no further exchanges —
    # groupBy("src") and join("src") are satisfied by the persisted
    # HashPartitioning(src, p)).
    e = e.repartition(p, "src").persist()
    out_sum = e.groupBy("src").agg(F.sum("weight").alias("out_w"))
    trans = (
        e.join(out_sum, "src")
        .select("src", "dst", (F.col("weight") / F.col("out_w")).alias("p"))
        .persist()
    )
    n_edges = trans.count()  # materialize
    # vertex set from the two ALREADY-AGGREGATED sides (distinct srcs =
    # out_sum keys; distinct dsts one groupBy away) — never a distinct
    # over the raw 2x|E| union.
    dst_set = e.groupBy("dst").agg(F.lit(1)).select(F.col("dst").alias("vid"))
    src_set = out_sum.select(F.col("src").alias("vid"))
    vertices = src_set.unionByName(dst_set).distinct().persist()
    dangling = vertices.join(
        out_sum.withColumnRenamed("src", "vid"), "vid", "left_anti"
    ).persist()
    # ONE fused job counts vertices and probes the dangling set (was a
    # vertices.count plus a dangling.limit(1).count barrier); both
    # persists materialize inside it
    counts = dict(
        vertices.select(F.lit("v").alias("k"))
        .unionByName(dangling.select(F.lit("d").alias("k")))
        .groupBy("k").count().collect()
    )
    n = int(counts.get("v", 0))
    has_dangling = bool(counts.get("d", 0))
    e.unpersist()
    return GraphContext(trans, vertices, dangling, in_strength, n, n_edges,
                        has_dangling, virtual_vid, partitions=p)


def _prepare_in_task(e: DataFrame, num_partitions: int | None,
                     add_virtual: bool,
                     virtual_vid: int | None) -> GraphContext:
    """``prepare_graph`` after the collapse ``e``, in one task
    (``in_task.run_tables``): one Spark job, whose checkpointed output
    the context's tables are views of."""
    tables = {"trans": ("src", "dst", "p"), "vertices": ("vid",),
              "dangling": ("vid",)}
    if add_virtual:
        tables["in_strength"] = ("vid", "in_w")
    t, rec = in_task.run_tables(
        e, _prepare_kernel(add_virtual, virtual_vid),
        "src long, dst long, p double, vid long, in_w double, n long, "
        "n_edges long, has_dangling boolean", tables, x="weight")
    n_edges = rec["n_edges"]
    p = num_partitions or graph_partitions(e.sparkSession, n_edges)
    trans = t["trans"]
    if n_edges > in_task.IN_TASK_MAX_EDGES:
        # the virtual edges took trans past the threshold, so the
        # distributed loop will run it: lay it out as
        # _prepare_distributed does
        trans = trans.repartition(p, "src").persist()
    return GraphContext(trans, t["vertices"], t["dangling"],
                        t.get("in_strength"), rec["n"], n_edges,
                        rec["has_dangling"], virtual_vid, partitions=p)


def _prepare_kernel(add_virtual: bool, virtual_vid: int | None):
    """The kernel for ``_prepare_in_task``: ``_prepare_distributed``'s
    steps over the collapsed edges as NumPy arrays, per-key sums as
    ``np.bincount`` over a ``np.unique`` index. It references nothing
    of this package."""

    def kernel(src, dst, w):
        arrays = {}
        if add_virtual:
            in_vid, inv = np.unique(dst, return_inverse=True)
            in_w = np.bincount(inv, weights=w)
            arrays["in_strength"] = {"vid": in_vid, "in_w": in_w}
            if virtual_vid is not None:
                ve = in_w > 0
                vv = np.full(np.count_nonzero(ve), virtual_vid, np.int64)
                vw = in_w[ve] / 10.0
                src = np.concatenate([src, vv, in_vid[ve]])
                dst = np.concatenate([dst, in_vid[ve], vv])
                w = np.concatenate([w, vw, vw])
        # row-normalize by out-sum
        srcs, inv = np.unique(src, return_inverse=True)
        p = w / np.bincount(inv, weights=w)[inv]
        vertices = np.union1d(srcs, dst)
        dangling = np.setdiff1d(vertices, srcs, assume_unique=True)
        arrays.update(trans={"src": src, "dst": dst, "p": p},
                      vertices={"vid": vertices}, dangling={"vid": dangling})
        return arrays, {"n": len(vertices), "n_edges": len(src),
                        "has_dangling": len(dangling) > 0}

    return kernel


def _step_sql(trans: str, dangling: bool, salt: int | None,
              trunc: bool) -> str:
    """The text of one distributed step: ``spark.sql`` over the cached
    transition table, named by the temp view ``trans``, and the previous
    state, the argument ``state``. Its doubles are bound as parameters
    (a bare ``0.85`` in Spark SQL is a DECIMAL): ``:a`` alpha, ``:b0``
    (1 - alpha) / n, ``:u`` 1 / n, ``:s3`` trunc mode's teleport term
    and ``:m`` the carried dangling mass, which ``loop.scalar`` keeps
    out of the generated code.

    The messages join carries a SHUFFLE_HASH hint on the rank side: the
    cached trans side is already hash-partitioned on src (no exchange),
    and a hash join avoids both the per-iteration driver-side broadcast
    the planner would otherwise pick (the rank vector sits under the
    auto-broadcast threshold, and broadcasting it serializes the loop)
    and the per-iteration re-sort a sort-merge join would do to the
    edge table. With ``salt`` the messages are pre-aggregated per (dst,
    producing partition % salt), which spreads a pathological hub's rows
    over ``salt`` reducers. The messages and the previous ranks (a
    second sum channel, beside the ``is_dangling`` flag when the graph
    has dangling vertices) then meet in ONE ``GROUP BY vid``, whose
    result the rank and diff projection reads.

    The rank is ``a*c + ((a*s)*u + b0)`` for ``s`` the dangling mass,
    the association the in-task kernel and the DuckDB oracles mirror.
    With ``trunc`` it is network_util.py:624-645's regime, ``_tr``
    registered as the truncating function: step1 = trunc(alpha * x),
    the matvec truncated per element, step2 = trunc(u * (alpha * s)),
    the rank trunc(step1 + step2 + step3)."""
    mass = scalar("m")
    flag, no_flag, any_flag = (
        (", is_dangling", ", false AS is_dangling",
         ", max(is_dangling) AS is_dangling") if dangling else ("", "", ""))
    if trunc:
        r1, total = "_tr(:a * rank)", "_tr(sum(c))"
        step2 = f"_tr(:u * (:a * {mass}))" if dangling else "0.0D"
        rank = f"_tr(c + {step2} + :s3)"
    else:
        r1, total = "rank", "sum(c)"
        rank = f":a * c + (:a * {mass} * :u + :b0)" if dangling \
            else ":a * c + :b0"
    bucket = f", spark_partition_id() % {int(salt)} AS b" if salt else ""
    msgs = f"""
        SELECT /*+ SHUFFLE_HASH(s) */ t.dst AS vid, t.p * s.r AS c{bucket}
        FROM {trans} t JOIN (SELECT vid AS src, {r1} AS r FROM {{state}}) s
          ON t.src = s.src"""
    if salt:
        msgs = f"SELECT vid, sum(c) AS c FROM ({msgs}) GROUP BY vid, b"
    return f"""
    SELECT vid, rank, abs(rank - pv) AS diff{flag}
    FROM (SELECT vid, {rank} AS rank, pv{flag} FROM (
      SELECT vid, {total} AS c, sum(pv) AS pv{any_flag}
      FROM (
        SELECT vid, c, 0.0D AS pv{no_flag} FROM ({msgs})
        UNION ALL
        SELECT vid, 0.0D AS c, rank AS pv{flag} FROM {{state}})
      GROUP BY vid))"""


def pagerank(
    edges: DataFrame,
    mode: str = "reference",
    alpha: float | None = None,
    max_iter: int = 1000,
    tol: float = 1e-9,
    num_partitions: int | None = None,
    salt: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 20,
    resume: bool = True,
    trunc_digits: int | None = None,
    init_ranks: DataFrame | None = None,
) -> PageRankResult:
    """Run weighted PageRank over ``edges(src, dst, weight)``.

    Returns ranks over the ORIGINAL vertices (virtual node removed and
    post-pass applied in reference mode). Resumable: if
    ``checkpoint_dir`` holds a manifest and ``resume``, the loop
    continues from the checkpointed iteration. ``salt`` and
    ``checkpoint_every`` apply only to graphs above
    ``in_task.IN_TASK_MAX_EDGES`` (module docstring).

    ``trunc_digits=14`` runs the reference's exact per-iteration
    truncation regime (network_util.py:604,624-645) for byte-parity
    work — SLOW path (a pandas-UDF truncation per aggregate), kept out
    of the default float64 hot loop; ``salt`` with it raises. See
    oracle.reference_pagerank for
    the regime and the documented post-pass deviation. Byte parity vs
    the NumPy oracle is BEST-EFFORT at truncation boundaries: both
    paths' addition order differs from NumPy's, so when a
    true sum lies within ~1e-16 of a 1e-14 grid line the 14th fraction
    digit can flip with partition count/order (gated in
    tests/test_trunc_mode.py on fixtures away from boundaries). The
    reference additionally truncates collapsed edge WEIGHTS at 15
    digits (network_util.py:539) before row-normalizing — modeled by
    neither the engine nor the oracle (both consume float64 weights),
    a documented fidelity gap below the 1e-6 match gate.

    ``init_ranks`` (vid, rank) WARM-STARTS the loop: the power
    iteration's fixed point does not depend on the start vector, so a
    near-converged seed (e.g. yesterday's ranks in a daily pipeline)
    reaches tol in a fraction of the iterations. Seed rows for unknown
    vids are dropped, today's unseeded vertices get the uniform mass,
    and the vector is renormalized to sum 1 (the loop invariant).
    """
    if mode not in ("reference", "standard"):
        raise ValueError(f"unknown mode {mode!r}")
    t0 = time.time()
    ctx = prepare_graph(edges, num_partitions, add_virtual=(mode == "reference"))
    res = pagerank_on_context(
        ctx, mode=mode, alpha=alpha, max_iter=max_iter, tol=tol, salt=salt,
        checkpoint_dir=checkpoint_dir, checkpoint_every=checkpoint_every,
        resume=resume, unpersist=True,
        trunc_digits=trunc_digits, init_ranks=init_ranks,
    )
    res.wall_secs = time.time() - t0
    return res


def pagerank_on_context(
    ctx: GraphContext,
    mode: str = "reference",
    alpha: float | None = None,
    max_iter: int = 1000,
    tol: float = 1e-9,
    salt: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 20,
    resume: bool = True,
    unpersist: bool = True,
    trunc_digits: int | None = None,
    init_ranks: DataFrame | None = None,
) -> PageRankResult:
    """Iterate + post-pass over an already-prepared GraphContext (used
    directly by the scaling bench so every parallelism level runs the
    loop over byte-identical prepared inputs). Transition tables of at
    most ``in_task.IN_TASK_MAX_EDGES`` rows run in one task, larger ones
    in the distributed loop (module docstring)."""
    spark = ctx.trans.sparkSession
    a = alpha if alpha is not None else (1.0 if mode == "reference" else 0.85)
    t0 = time.time()
    if ctx.n == 0:
        raise ValueError("PageRank of a graph with no vertices")
    if trunc_digits and salt:
        # the reference's truncation regime sums each vertex's messages
        # in one aggregate; refuse instead of pre-aggregating them
        raise ValueError("trunc_digits is only implemented without salt")
    # a checkpoint resumes only onto the graph and settings it was written for
    run_key = {"mode": mode, "alpha": a, "n_vertices": ctx.n,
               "n_edges": ctx.n_edges}
    start_iter = 0
    resumed = None
    if checkpoint_dir and resume:
        cp = read_checkpoint(spark, checkpoint_dir, expect=run_key)
        if cp is not None:
            resumed = cp[0].select("vid", "rank", "diff")
            start_iter = cp[1]["iteration"]
    extra = {**run_key, "tol": tol}

    if ctx.n_edges <= in_task.IN_TASK_MAX_EDGES:
        out, res = _in_task(ctx, mode, a, tol, max_iter, start_iter, resumed,
                            init_ranks, trunc_digits, checkpoint_dir, extra)
    else:
        out, res = _distributed(
            ctx, mode, a, tol, max_iter, start_iter, resumed, init_ranks,
            trunc_digits, salt, checkpoint_dir, checkpoint_every, extra)

    if unpersist:
        for df in (ctx.trans, ctx.vertices, ctx.dangling, ctx.in_strength):
            if df is not None:
                df.unpersist()
    return PageRankResult(out, res.iterations, res.metric, time.time() - t0,
                          res.wall_secs, ctx.n, ctx.n_edges, res.metric_history,
                          res.iter_secs, converged=res.metric < tol)


def _distributed(
    ctx: GraphContext, mode: str, a: float, tol: float, max_iter: int,
    start_iter: int, ranks: DataFrame | None, init_ranks: DataFrame | None,
    trunc_digits: int | None, salt: int | None,
    checkpoint_dir: str | None, checkpoint_every: int, extra: dict,
) -> tuple[DataFrame, LoopResult]:
    """The loop as Spark jobs (graph/loop.py run_loop), one per
    iteration, plus one that materializes the input state when it
    carries a dangling mass; ``ranks`` is the resumed state, if any.
    Returns the final ranks and the loop's record.

    Each step is one ``spark.sql`` call over ``_step_sql``'s text, built
    once per run, with the previous state as its DataFrame argument
    and the carried dangling mass as a bound parameter. ``trans`` is
    named once per run by ``loop.temp_view`` instead of passed as an
    argument: ``spark.sql`` drops its argument views in a way that
    uncaches the DataFrames they show. In trunc mode the truncating
    function is registered once per run as ``_tr``."""
    spark = ctx.trans.sparkSession
    n = ctx.n
    uniform = 1.0 / n

    trans = ctx.trans
    t_dangling, t_has_dangling = ctx.dangling, ctx.has_dangling
    if trunc_digits:
        # byte-parity regime: transition entries truncated ONCE
        # (network_util.py:604) — projection is narrow, so the persisted
        # hash(src) layout carries through. The step's SQL calls the
        # truncating function by this name.
        _tr = spark.udf.register("_tr", trunc_udf(trunc_digits))
        trans = trans.select(
            "src", "dst", _tr(F.col("p")).alias("p")).persist()
        trans.count()
        # the reference detects dangling rows AFTER truncating
        # weighted_S, so derive the dangling set from the TRUNCATED
        # structure (a vertex whose every out-probability truncated to
        # zero redistributes as dangling mass). With row-normalized
        # probabilities this can only differ from ctx.dangling at
        # out-degree > 10^trunc_digits — modeled anyway to keep the
        # operation order identical to network_util.py:604-613.
        t_dangling = ctx.vertices.join(
            trans.filter(F.col("p") != 0.0)
            .select(F.col("src").alias("vid")).distinct(),
            "vid", "left_anti",
        ).persist()
        t_has_dangling = t_dangling.limit(1).count() > 0

    if ranks is None and init_ranks is not None:
        # warm start (checkpoint resume wins if both are present): seed
        # vids unknown to this graph are dropped by the left join's
        # vertex side; unseeded vertices (new today) take the uniform
        # mass; one renormalizing aggregate restores sum == 1. The seed
        # is aggregated per vid FIRST — duplicate vids (xxhash64
        # collision, or two case-variants of one address lowering to the
        # same addr upstream) would otherwise fan out through the vertex
        # left join and break the one-row-per-vertex loop invariant.
        seed = ctx.vertices.join(
            init_ranks.groupBy("vid").agg(F.max("rank").alias("r0")),
            "vid", "left",
        ).select("vid", F.coalesce("r0", F.lit(uniform)).alias("rank"))
        total = seed.agg(F.sum("rank")).first()[0]
        ranks = seed.select(
            "vid", (F.col("rank") / total).alias("rank"), F.lit(1.0).alias("diff")
        )
    if ranks is None:
        ranks = ctx.vertices.select(
            "vid", F.lit(uniform).alias("rank"), F.lit(1.0).alias("diff")
        )
    # the state carries each vertex's is_dangling flag, set by this one
    # join, so the dangling mass is a filtered sum of the state itself:
    # the materialization's job returns it as the next step's carry,
    # and no step joins the dangling set. A hash join, not a broadcast:
    # the first step reads the joined state twice, and each read would
    # broadcast the dangling set in a job of its own.
    if t_has_dangling:
        ranks = ranks.join(
            t_dangling.select("vid", F.lit(True).alias("is_dangling"))
            .hint("shuffle_hash"),
            "vid", "left",
        ).select("vid", "rank", "diff",
                 F.coalesce("is_dangling", F.lit(False)).alias("is_dangling"))

    args = {"a": float(a), "u": uniform, "b0": (1.0 - a) * uniform}
    if trunc_digits:
        # step3 = trunc(trunc(1 - alpha) / N), a driver-side scalar
        args["s3"] = trunc_py(trunc_py(1.0 - a, trunc_digits) / n,
                              trunc_digits)
    with temp_view(trans) as trans_view:
        # every step is one spark.sql call over the same text; only the
        # previous state and the carried dangling mass change. Parameters
        # the text does not use are ignored.
        text = _step_sql(trans_view, t_has_dangling, salt, bool(trunc_digits))

        def step(state: DataFrame, i: int, carried: float | None) -> DataFrame:
            # fully LAZY (no driver actions): run_loop materializes it
            # in one job
            m = {"m": float(carried)} if t_has_dangling else {}
            return spark.sql(text, args={**args, **m}, state=state)

        # the loop's exchanges (rank re-hash + dst aggregation) run at
        # the trans partition count so they align with the persisted
        # structure instead of the session-wide (relational-sized)
        # shuffle partitions
        res = run_loop(
            spark, ranks, step, F.max("diff"), tol, max_iter,
            partitions=ctx.partitions
            or int(spark.conf.get("spark.sql.shuffle.partitions")),
            checkpoint_dir=checkpoint_dir, checkpoint_every=checkpoint_every,
            start_iteration=start_iter, checkpoint_extra=extra,
            carry=F.coalesce(
                F.sum(F.when(F.col("is_dangling"), F.col("rank"))),
                F.lit(0.0)) if t_has_dangling else None,
            # checkpoints keep the layout both paths resume
            checkpoint_cols=("vid", "rank", "diff"),
        )
    out = res.state.select("vid", "rank")

    if mode == "reference":
        # materialize the post-pass WHILE in_strength is still cached:
        # the returned ranks are then a checkpoint scan. Without this,
        # every caller action (the lifecycle's rank write, the registry
        # queries' count) re-executed the in_strength lineage — all the
        # way back to the source edge extraction once ctx was
        # unpersisted below (round-6 plan audit). With AQE off: on, each
        # of its nested one-row crossJoins runs as a job of its own.
        with aqe_disabled(spark):
            out = _reference_postpass(out, ctx).localCheckpoint(eager=True)
    if trunc_digits:
        trans.unpersist()
        t_dangling.unpersist()
    return out, res


# Tagged-union row kinds: into the in-task kernel (tag, a, b, x) ...
_TRANS, _VERTEX, _IN_W, _SEED = 0, 1, 2, 3
# ... and out of it. _ITER rows carry one iteration each: vid = the
# iteration number, diff = its max diff, secs = its seconds in the task.
_RANK, _STATE, _ITER = 0, 1, 2
_IN_TASK_OUT = "tag int, vid long, rank double, diff double, secs double"


def _in_task(
    ctx: GraphContext, mode: str, a: float, tol: float, max_iter: int,
    start_iter: int, resumed: DataFrame | None, init_ranks: DataFrame | None,
    trunc_digits: int | None, checkpoint_dir: str | None, extra: dict,
) -> tuple[DataFrame, LoopResult]:
    """The whole loop, and the reference post-pass, in one task
    (``in_task.run``); one Spark job, plus two when ``checkpoint_dir``
    is set. Returns the final ranks and a loop record shaped like the
    distributed loop's, with one history entry per iteration."""
    seed = resumed if resumed is not None else init_ranks
    parts = [in_task.tagged(ctx.trans, _TRANS, "src", "dst", "p"),
             in_task.tagged(ctx.vertices, _VERTEX, "vid")]
    if mode == "reference":
        parts.append(in_task.tagged(ctx.in_strength, _IN_W, "vid", x="in_w"))
    if seed is not None:
        parts.append(in_task.tagged(seed, _SEED, "vid", x="rank"))
    kernel = _in_task_kernel(
        a, tol, max_iter, start_iter, trunc_digits,
        warm=resumed is None and init_ranks is not None,
        virtual_vid=ctx.virtual_vid if mode == "reference" else None)

    t0 = time.time()
    out = in_task.run(parts, kernel, _IN_TASK_OUT)
    # the one job: runs the kernel and keeps its output as the checkpoint
    hist = sorted(out.filter(F.col("tag") == _ITER)
                  .select("vid", "diff", "secs").collect())
    state = out.filter(F.col("tag") == _STATE).select("vid", "rank", "diff")
    errs = [h["diff"] for h in hist]
    iterations = start_iter + len(hist)
    metric = errs[-1] if errs else float("inf")
    if checkpoint_dir:
        write_checkpoint(state, checkpoint_dir, iterations, metric, "vid", extra)
    res = LoopResult(state, iterations, metric, time.time() - t0, errs,
                     [h["secs"] for h in hist])
    ranks = out.filter(F.col("tag") == _RANK) if mode == "reference" else state
    return ranks.select("vid", "rank"), res


def _in_task_kernel(a: float, tol: float, max_iter: int, start_iter: int,
                    trunc_digits: int | None, warm: bool,
                    virtual_vid: int | None):
    """The kernel for ``_in_task``: the same arithmetic, in the same
    order, as the distributed step and post-pass, with per-vertex sums
    as ``np.bincount`` scatters over a vertex index built once.

    Outside trunc mode it references nothing of this package, so
    workers need only NumPy and PyArrow, as the distributed loop needs
    no Python at all."""
    trunc = partial(trunc_py, count=trunc_digits) if trunc_digits else None

    def kernel(tag, ka, kb, val):
        def tr(v):
            return np.array([trunc(f) for f in v.tolist()])

        vids = np.sort(ka[tag == _VERTEX])
        n = len(vids)
        uniform = 1.0 / n
        e = tag == _TRANS
        src = np.searchsorted(vids, ka[e])
        dst = np.searchsorted(vids, kb[e])
        p = tr(val[e]) if trunc_digits else val[e]
        # in trunc mode a vertex whose every out-probability truncated to
        # zero is dangling, as in the distributed path
        has_out = np.zeros(n, dtype=bool)
        has_out[src[p != 0.0] if trunc_digits else src] = True
        dangling = np.flatnonzero(~has_out)

        x = np.full(n, uniform)
        s = tag == _SEED
        sv, sr = ka[s], val[s]
        if warm:  # one seed per vid, the largest, as the distributed path
            o = np.lexsort((sr, sv))
            sv, sr = sv[o], sr[o]
            last = np.append(sv[1:] != sv[:-1], True)
            sv, sr = sv[last], sr[last]
        i = np.minimum(np.searchsorted(vids, sv), n - 1)
        known = vids[i] == sv  # seeds for vids not in this graph drop out
        x[i[known]] = sr[known]
        if warm:
            x = x / x.sum()

        if trunc_digits:
            s3 = trunc(trunc(1.0 - a) / n)
        diff = np.ones(n)
        errs: list[float] = []
        secs: list[float] = []
        it = start_iter
        while it < max_iter:
            tc = time.perf_counter()
            dmass = x[dangling].sum()
            if trunc_digits:
                c = tr(np.bincount(dst, weights=p * tr(a * x)[src], minlength=n))
                new = tr(c + trunc(uniform * (a * dmass)) + s3)
            else:
                c = np.bincount(dst, weights=p * x[src], minlength=n)
                new = a * c + (a * dmass * uniform + (1.0 - a) * uniform)
            diff = np.abs(new - x)
            x = new
            it += 1
            errs.append(float(diff.max()))
            secs.append(time.perf_counter() - tc)
            if errs[-1] < tol:
                break

        yield _STATE, {"vid": vids, "rank": x, "diff": diff}
        yield _ITER, {"vid": np.arange(start_iter + 1, it + 1),
                      "diff": np.array(errs), "secs": np.array(secs)}
        if virtual_vid is not None:
            # the reference post-pass, as _reference_postpass
            is_v = vids == virtual_vid
            w = np.zeros(n)
            iw = tag == _IN_W
            w[np.searchsorted(vids, ka[iw])] = val[iw]
            r = x[~is_v] / (1.0 - x[is_v].sum())
            r = r / r.sum()
            r = r + 0.5 * w[~is_v] / val[iw].sum()
            yield _RANK, {"vid": vids[~is_v], "rank": r / r.sum()}

    return kernel


def _reference_postpass(ranks: DataFrame, ctx: GraphContext) -> DataFrame:
    """network_util.py:655-719: delete virtual node, redistribute its rank
    proportionally, normalize, add 0.5*in_w/sum_in_w bonus, normalize.

    ONE lazy plan: the four scalar aggregates (virtual rank, two
    normalizers, in-strength total) ride as 1-row crossJoins (broadcast
    of one row) instead of four sequential ``.first()`` driver jobs.
    Per-element arithmetic and each aggregation's tree are unchanged;
    only the job boundaries go — the caller's one localCheckpoint, with
    AQE off, materializes the whole chain (10 jobs on a 500-edge graph,
    the nested broadcasts included; the daily lifecycle pays this
    post-pass once per day and once per alone-symbol)."""
    vpr_d = ranks.filter(F.col("vid") == ctx.virtual_vid).agg(
        F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_vpr"))
    # pr += pr/(1-vpr) * vpr  ==  pr / (1-vpr)
    r = (
        ranks.filter(F.col("vid") != ctx.virtual_vid)
        .crossJoin(vpr_d)
        .select("vid", (F.col("rank") / (1.0 - F.col("_vpr"))).alias("rank"))
    )
    t1 = r.agg(F.sum("rank").alias("_t1"))
    r = r.crossJoin(t1).select(
        "vid", (F.col("rank") / F.col("_t1")).alias("rank"))
    si = ctx.in_strength.agg(F.sum("in_w").alias("_si"))
    r = (
        r.join(ctx.in_strength, "vid", "left")
        .crossJoin(si)
        .select(
            "vid",
            (F.col("rank")
             + 0.5 * F.coalesce(F.col("in_w"), F.lit(0.0)) / F.col("_si")
             ).alias("rank"),
        )
    )
    t2 = r.agg(F.sum("rank").alias("_t2"))
    return r.crossJoin(t2).select(
        "vid", (F.col("rank") / F.col("_t2")).alias("rank"))
