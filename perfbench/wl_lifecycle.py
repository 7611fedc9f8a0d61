"""The daily contract lifecycle, run by traced ``repo_graph`` runs for
the ``lifecycle.*`` layers.

Day 0 builds the contract state from seeded ``link_events_df`` events,
with its PageRank cut to ``DAY0_MAX_ITER`` iterations: its ranks only
seed day 1's default rank and the new contracts' initial values, and a
converged day 0 would add ~20 s to every traced run. Day 1, timed inside a ``lifecycle.day`` span, rolls and re-prices that
state, applies the day's removals, runs the BFS distance feeder and the
day's reference-mode PageRank (~1k vertices) and writes its parquet day
boundary under its own ``work_dir``. A day this small is almost all
per-job driver overhead, so a big-graph change that adds some shows
here first. Afterwards day 1's ranks are checked against the sparse
reference PageRank of the day's edges.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext

import numpy as np
import pandas as pd

import checks
from harness import WORK, Outcome

N_EVENTS = 1_000   # per day, the reference bench's smallest day
N_USERS = 250
T0 = 1_700_000_000
# 1e-4, not the graph workloads' 1e-6: each of the day's PageRank jobs
# costs ~0.6 s of driver time however small the graph, and day 1 takes
# 27 iterations to 1e-4 where it took 36 to 1e-6
PR_TOL = 1e-4
PR_MAX_ITER = 60
DAY0_MAX_ITER = 3


def run_days(spark, tracer, seed: int, out: Outcome) -> None:
    """Day 0 untimed, day 1 in a ``lifecycle.day`` span; checks day 1
    and adds every ``lifecycle.*`` layer but ``day_s`` and ``jobs``
    (``lifecycle_layers``, after ``tracer.finish()``) to ``out.layers``."""
    from pagerank_service_spark.datagen import link_events_df
    from pagerank_service_spark.lifecycle import empty_state, run_daily_lifecycle

    coin = spark.createDataFrame(
        [("LUCA", 1.0, 0, 2.0, 2, 0)],
        "symbol string, coefficient double, decimals int, price double, "
        "status int, alone_calculate int")
    state = empty_state(spark)
    ranks = spark.createDataFrame([], "user string, rank double")
    root = os.path.join(WORK, f"lifecycle-{tracer.run_id}-{seed}")
    try:
        for day in (0, 1):
            events = link_events_df(spark, N_EVENTS, n_users=N_USERS, day=day,
                                    seed=seed, partitions=2)
            with tracer.span("lifecycle.day") if day else nullcontext():
                r = run_daily_lifecycle(
                    events, coin, state, ranks,
                    deadline_ts=T0 + (day + 1) * 86_400, tol=PR_TOL,
                    max_iter=PR_MAX_ITER if day else DAY0_MAX_ITER,
                    chunk=3, metric_every=3,
                    work_dir=os.path.join(root, f"day{day}"))
                contracts = r.state.count()
            state, ranks = r.state, r.ranks
        out.check("lifecycle.pagerank", _ranks_ok(r))
        out.layers.update({
            "lifecycle.contracts": contracts,
            "lifecycle.vertices": r.n_vertices,
            "lifecycle.pr_iterations": r.iterations,
            "lifecycle.bytes_written": _du(os.path.join(root, "day1")),
        })
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _ranks_ok(r) -> bool:
    """The day's ranks against the sparse reference PageRank of the
    day's address-keyed edges, at the engine's own iteration count."""
    e = r.edges.toPandas()
    addrs, codes = np.unique(np.concatenate([e["src"], e["dst"]]),
                             return_inverse=True)
    src, dst = codes[:len(e)], codes[len(e):]
    vids, want, _ = checks.reference_pagerank(
        src, dst, e["weight"].to_numpy(), tol=0.0, max_iter=r.iterations)
    got = r.ranks.toPandas()
    return checks.ranks_match(pd.Index(addrs).get_indexer(got["addr"]),
                              got["rank"], vids, want)


def _du(path: str) -> float:
    return float(sum(os.path.getsize(os.path.join(d, f))
                     for d, _, files in os.walk(path) for f in files))


def lifecycle_layers(tracer) -> dict[str, float]:
    """``lifecycle.day_s`` and ``.jobs``; call after ``tracer.finish()``."""
    m = tracer.medians("lifecycle.day")
    return {"lifecycle.day_s": m["s"], "lifecycle.jobs": m["jobs"]}
