"""Benchmark entry point: one workload, one seed, one fresh driver process.

    python3 perfbench/run.py --workload repo_graph --seed 1 --seconds 10 --trace 0

Prints a readable table of every metric, then, as the last line of
standard output, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` -- the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Exits non-zero, without a result
line, if anything fails to run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import harness
from stats import median, tail
from wl_queries import QUERIES

WORKLOADS = {
    "repo_graph": "wl_repo_graph",
    "zipf_pagerank": "wl_zipf",
}

END_TO_END = {
    "setup_s": "s", "cpu_s": "s", "unstolen_wall_s": "s", "peak_rss_mb": "MB",
}

_QUERY_LAYERS = {
    f"query.{q}.{m}": u
    for q in QUERIES
    for m, u in (("s", "s"), ("rows", "count"), ("jobs", "count"))
}

PER_LAYER = {
    "extract.s": "s", "extract.edges": "count", "extract.jobs": "count",
    "extract.shuffle_write_mb": "MB",
    "pagerank.prepare_s": "s", "pagerank.load_s": "s", "pagerank.loop_s": "s",
    "pagerank.postpass_s": "s", "pagerank.iterations": "count",
    "pagerank.jobs_per_iter": "count", "pagerank.exec_busy_ratio": "ratio",
    "pagerank.shuffle_write_mb": "MB", "pagerank.edges_per_s_iter": "1/s",
    "pagerank.scaling_eff": "ratio",
    "cc.s": "s", "cc.rounds": "count", "cc.jobs": "count",
    "cc.shuffle_write_mb": "MB",
    "lp.s": "s", "lp.rounds": "count", "lp.jobs": "count",
    "lp.shuffle_write_mb": "MB",
    "tri.s": "s", "tri.triangles": "count", "tri.jobs": "count",
    "tri.shuffle_write_mb": "MB",
    "lifecycle.day_s": "s", "lifecycle.contracts": "count",
    "lifecycle.vertices": "count", "lifecycle.pr_iterations": "count",
    "lifecycle.jobs": "count", "lifecycle.bytes_written": "bytes",
    **_QUERY_LAYERS,
    "spark.failed_tasks": "count", "harness.self_s": "s",
    "op.typical_s": "s", "op.tail_s": "s", "op.tail_pct": "%",
    "op.samples": "count",
    "trace.wall_s": "s", "trace.cpu_s": "s", "trace.counter_read_s": "s",
}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    harness.prepare_env()
    from spans import Tracer

    wl = __import__(WORKLOADS[args.workload])
    n_threads = harness.threads()
    spark, session_cpu = harness.start_session(n_threads)
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        out = wl.run(spark, tracer, args.seed, args.seconds, n_threads)
        if tracer.enabled:
            out.layers.update(_common_layers(tracer, out))
            os.makedirs(harness.WORK, exist_ok=True)
            tracer.write(os.path.join(
                harness.WORK, f"trace-{args.workload}-{args.seed}-{tracer.run_id}.json"))
    finally:
        harness.stop_session(spark)
    if out.after_stop is not None:
        out.after_stop()

    tail_s, tail_pct, n_ops = tail(out.op_s)
    e2e = {
        "setup_s": session_cpu + out.setup_s,
        "cpu_s": median(out.cpu_s),
        "unstolen_wall_s": median(out.unstolen_s),
        "peak_rss_mb": out.peak_rss_mb,
    }
    print(f"workload {args.workload}  seed {args.seed}  threads {n_threads}  "
          f"trace {args.trace}  passes {len(out.wall_s)}")
    for name, value in e2e.items():
        print(f"  {name:<14} {value:12.4f} {END_TO_END[name]}")
    print(f"  {'wall_s':<14} {median(out.wall_s):12.4f} s")
    print(f"  {'steal_share':<14} {1 - sum(out.unstolen_s) / sum(out.wall_s):12.4f}")
    print(f"  {'op_s':<14} {median(out.op_s):12.4f} s median, "
          f"{tail_s:.4f} s tail (p{tail_pct:.1f} of {n_ops} samples)")
    print(f"  {'fail_ratio':<14} {out.failed / out.attempted:12.4f} "
          f"({out.failed} of {out.attempted} checked outputs)")
    if args.trace:
        layers = {k: float(out.layers.get(k, 0.0)) for k in PER_LAYER}
        layers.update({"op.typical_s": median(out.op_s), "op.tail_s": tail_s,
                       "op.tail_pct": tail_pct, "op.samples": float(n_ops)})
        for name, value in layers.items():
            print(f"  {name:<40} {value:14.4f} {PER_LAYER[name]}")
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": out.failed == 0, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0


def _common_layers(tracer, out) -> dict[str, float]:
    passes = tracer.find("pass")
    return {
        "spark.failed_tasks": tracer.failed_tasks,
        "harness.self_s": median([sp.self_s for sp in passes]),
        "trace.wall_s": median(out.wall_s),
        "trace.cpu_s": median(out.cpu_s),
        "trace.counter_read_s": tracer.cost_s,
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
