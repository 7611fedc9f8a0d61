"""repo_graph: the headline pipeline on one extracted link graph.

Set-up: session start, then the seeded ``repos`` table generated and
cached three times (median reported; once in traced runs, which do not
report ``setup_s``). Timed pass: ``extract.build_edges`` ->
reference-mode PageRank to tol 1e-6 with a checkpoint directory ->
connected components -> label propagation (10 rounds) -> triangle
counts, all on the same edges. At this size the per-job driver floor
dominates each PageRank iteration, not edge work. Traced runs also run
two lifecycle days (``wl_lifecycle.py``) for the ``lifecycle.*`` layers.
"""

from __future__ import annotations

import os
import shutil
import time

import checks
from harness import WORK, Outcome, PassClock, peak_rss_mb, tree_cpu_s
from stats import median
from wl_lifecycle import lifecycle_layers, run_days

N_FILES = 2500
# 100 repos: with 25 the graph's shape, and so the iteration count to
# PR_TOL, varied by a sixth from seed to seed
FILES_PER_REPO = 25
SETUP_REPS = 3
PR_TOL = 1e-6
PR_MAX_ITER = 200
LP_ROUNDS = 10


def run(spark, tracer, seed: int, seconds: float, n_threads: int) -> Outcome:
    from pagerank_service_spark.datagen import repos_df

    setup = []
    repos = None
    for _ in range(1 if tracer.enabled else SETUP_REPS):
        if repos is not None:
            repos.unpersist()
        c = tree_cpu_s()
        repos = repos_df(spark, n_files=N_FILES, files_per_repo=FILES_PER_REPO,
                         seed=seed, partitions=n_threads).persist()
        repos.count()
        setup.append(tree_cpu_s() - c)

    passes = []
    t_end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < t_end:
        passes.append(_pass(spark, tracer, repos, seed, len(passes)))
    iters = [s for p in passes for s in p["pr"].iter_secs[1:]]
    out = Outcome(setup_s=median(setup), passes=[p["clock"] for p in passes],
                  op_s=iters,
                  peak_rss_mb=peak_rss_mb(spark))
    for p in passes:
        _check(out, p)
        p["edges"].unpersist()
        shutil.rmtree(p["cp_dir"], ignore_errors=True)
    if tracer.enabled:
        # the lifecycle.* layers ride on traced runs; untraced ones skip them
        run_days(spark, tracer, seed, out)
        tracer.finish()
        out.layers.update(_layers(tracer, passes, n_threads))
        out.layers.update(lifecycle_layers(tracer))
    return out


def _pass(spark, tracer, repos, seed: int, i: int) -> dict:
    from pagerank_service_spark.extract import build_edges
    from pagerank_service_spark.graph.components import connected_components
    from pagerank_service_spark.graph.labelprop import label_propagation
    from pagerank_service_spark.graph.pagerank import (
        pagerank_on_context,
        prepare_graph,
    )
    from pagerank_service_spark.graph.triangles import triangle_counts

    cp_dir = os.path.join(WORK, "checkpoints", f"{tracer.run_id}-{seed}-{i}")
    with PassClock() as clock, tracer.span("pass"):
        with tracer.span("extract"):
            _, edges = build_edges(repos)
            edges = edges.persist()
            n_edges = edges.count()
        with tracer.span("pagerank.prepare"):
            ctx = prepare_graph(edges)
        with tracer.span("pagerank.run"):
            pr = pagerank_on_context(ctx, mode="reference", tol=PR_TOL,
                                     max_iter=PR_MAX_ITER, checkpoint_dir=cp_dir)
        with tracer.span("cc"):
            cc = connected_components(edges)
        with tracer.span("lp"):
            lp = label_propagation(edges, max_iter=LP_ROUNDS)
        with tracer.span("tri"):
            tri = triangle_counts(edges)
    return {"clock": clock, "cp_dir": cp_dir, "edges": edges,
            "n_edges": n_edges, "pr": pr, "cc": cc, "lp": lp, "tri": tri}


def _check(out: Outcome, p: dict) -> None:
    e = p["edges"].toPandas()
    src, dst, w = e["src"].to_numpy(), e["dst"].to_numpy(), e["weight"].to_numpy()

    pr = p["pr"]
    got = pr.ranks.toPandas()
    vids, want, it = checks.reference_pagerank(src, dst, w, tol=PR_TOL,
                                               max_iter=PR_MAX_ITER)
    if it != pr.iterations:
        # compare the same iterate; convergence may land one apart
        vids, want, _ = checks.reference_pagerank(src, dst, w, tol=0.0,
                                                  max_iter=pr.iterations)
    out.check("pagerank", abs(it - pr.iterations) <= 1 and checks.ranks_match(
        got["vid"], got["rank"], vids, want))

    c = p["cc"].components.toPandas()
    out.check("cc", p["cc"].converged and checks.components_match(
        src, dst, c["vid"], c["component"]))
    lab = p["lp"].labels.toPandas()
    out.check("lp", checks.labels_match(src, dst, w, lab["vid"], lab["label"],
                                        LP_ROUNDS))
    out.check("tri", checks.triangles_match(src, dst, p["tri"].total))


def _layers(tracer, passes: list[dict], n_threads: int) -> dict[str, float]:
    out: dict[str, float] = {}
    for name in ("extract", "cc", "lp", "tri"):
        m = tracer.medians(name)
        out[f"{name}.s"] = m["s"]
        out[f"{name}.jobs"] = m["jobs"]
        out[f"{name}.shuffle_write_mb"] = m["shuffle_write_mb"]
    out["extract.edges"] = median([p["n_edges"] for p in passes])
    out["cc.rounds"] = median([p["cc"].iterations for p in passes])
    out["lp.rounds"] = median([p["lp"].iterations for p in passes])
    out["tri.triangles"] = median([p["tri"].total for p in passes])
    out.update(pagerank_layers(tracer, [p["pr"] for p in passes], n_threads))
    return out


def pagerank_layers(tracer, results: list, n_threads: int) -> dict[str, float]:
    """PageRank per-layer metrics from the ``pagerank.run`` spans and the
    results they returned. ``jobs_per_iter`` and ``exec_busy_ratio``
    include the reference post-pass's single job."""
    runs = tracer.find("pagerank.run")
    loop = [r.loop_secs for r in results]
    iters = sum(r.iterations for r in results)
    prep = tracer.medians("pagerank.prepare")
    return {
        "pagerank.prepare_s": prep["s"],
        "pagerank.loop_s": median(loop),
        "pagerank.postpass_s": median([sp.secs - r.loop_secs
                                       for sp, r in zip(runs, results)]),
        "pagerank.iterations": median([r.iterations for r in results]),
        "pagerank.jobs_per_iter": sum(sp.jobs for sp in runs) / iters,
        "pagerank.exec_busy_ratio": sum(sp.executor_run_ms for sp in runs) / 1e3
        / (sum(loop) * n_threads),
        "pagerank.shuffle_write_mb": median(
            [sp.shuffle_write_bytes for sp in runs]) / 1e6,
        "pagerank.edges_per_s_iter": median(
            [r.n_edges * r.iterations / r.loop_secs for r in results]),
    }
