"""zipf_pagerank: edge work dominates each PageRank iteration.

Set-up: session start; a seeded Zipf-degree random digraph generated,
prepared (standard mode) and saved once; ``GraphContext.load(
compact_ids=True)`` three times (median reported; once in traced runs,
which do not report ``setup_s``); a warm-up run. Timed: standard-mode
``pagerank_on_context`` for a fixed number of iterations (tol=0) over
the loaded context, repeated until the run time is spent.

Traced runs also time the first ``SCALING_ITERS`` iterations in a fresh
process at ``local[1]`` (``scaling_child.py``) for
``pagerank.scaling_eff``, and run the query suite once
(``wl_queries.py``) for the ``query.*`` layers.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import checks
from harness import ROOT, WORK, Outcome, PassClock, peak_rss_mb, tree_cpu_s
from stats import median
from wl_queries import query_layers, run_suite
from wl_repo_graph import pagerank_layers

N_EDGES = 600_000   # raw, before duplicates collapse
# with 10 a pass was ~20 CPU seconds, and ten seeds spread by 0.21
ITERS = 20
LOAD_REPS = 3
SCALING_ITERS = 6  # the local[1] child's iterations cost ~2 s each
# iterations speed up for the first ~30 as the JVM compiles the loop;
# timing from the fourth keeps the steepest part of that curve out
WARMUP_ITERS = 3
CHILD_TIMEOUT_S = 150


def graph_path(seed: int) -> str:
    return os.path.join(WORK, f"zipf-{seed}")


def iterate(ctx, iters: int):
    from pagerank_service_spark.graph.pagerank import pagerank_on_context

    return pagerank_on_context(ctx, mode="standard", tol=0.0, max_iter=iters,
                               unpersist=False)


def run(spark, tracer, seed: int, seconds: float, n_threads: int) -> Outcome:
    from pagerank_service_spark.datagen import zipf_random_edges_df
    from pagerank_service_spark.graph.pagerank import GraphContext, prepare_graph

    path = graph_path(seed)
    raw = zipf_random_edges_df(spark, N_EDGES, seed=seed, partitions=n_threads)
    c = tree_cpu_s()
    with tracer.span("ingest"):
        prepared = prepare_graph(raw, add_virtual=False)
        prepared.save(path)
        _unpersist(prepared)
    ingest_cpu = tree_cpu_s() - c

    loads, ctx = [], None
    for _ in range(1 if tracer.enabled else LOAD_REPS):
        if ctx is not None:
            _unpersist(ctx)
        c = tree_cpu_s()
        with tracer.span("pagerank.load"):
            ctx = GraphContext.load(spark, path, compact_ids=True)
        loads.append(tree_cpu_s() - c)
    c = tree_cpu_s()
    iterate(ctx, WARMUP_ITERS)
    warmup_cpu = tree_cpu_s() - c

    results, clocks = [], []
    t_end = time.perf_counter() + seconds
    while not results or time.perf_counter() < t_end:
        with PassClock() as clock, tracer.span("pass"), tracer.span("pagerank.run"):
            results.append(iterate(ctx, ITERS))
        clocks.append(clock)
    iters = [s for r in results for s in r.iter_secs[1:]]
    out = Outcome(setup_s=ingest_cpu + median(loads) + warmup_cpu,
                  passes=clocks, op_s=iters,
                  peak_rss_mb=peak_rss_mb(spark))

    e = raw.toPandas()
    vids, want, _ = checks.standard_pagerank(
        e["src"].to_numpy(), e["dst"].to_numpy(), e["weight"].to_numpy(),
        max_iter=ITERS, tol=0.0)
    for r in results:
        got = r.ranks.toPandas()
        out.check("pagerank", r.iterations == ITERS and checks.ranks_match(
            got["vid"], got["rank"], vids, want))
    _unpersist(ctx)
    if not tracer.enabled:  # traced runs keep it for the local[1] child
        shutil.rmtree(path, ignore_errors=True)

    if tracer.enabled:
        # the query.* layers ride on traced runs; untraced ones skip them
        run_suite(spark, tracer, seed, out)
        tracer.finish()
        out.layers.update(pagerank_layers(tracer, results, n_threads))
        out.layers.update(query_layers(tracer))
        out.layers["pagerank.load_s"] = tracer.medians("pagerank.load")["s"]
        local4 = median(results[0].iter_secs[1:SCALING_ITERS])

        def after_stop():
            out.layers["pagerank.scaling_eff"] = _scaling_eff(path, local4, n_threads)
            shutil.rmtree(path, ignore_errors=True)

        out.after_stop = after_stop
    return out


def _unpersist(ctx) -> None:
    for df in (ctx.trans, ctx.vertices, ctx.dangling, ctx.in_strength):
        if df is not None:
            df.unpersist()


def _scaling_eff(path: str, iter_s_p50: float, n_threads: int) -> float:
    """(median iteration seconds at local[1] / at local[n]) / n over the
    first ``SCALING_ITERS`` iterations after warm-up, the local[1] side
    timed in a fresh process over the same saved graph."""
    child = os.path.join(ROOT, "perfbench", "scaling_child.py")
    proc = subprocess.run(
        [sys.executable, child, path, str(SCALING_ITERS), str(WARMUP_ITERS)],
        capture_output=True, text=True, timeout=CHILD_TIMEOUT_S, check=True)
    one = json.loads(proc.stdout.strip().splitlines()[-1])["iter_s_p50"]
    return one / iter_s_p50 / n_threads
