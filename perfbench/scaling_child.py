"""Time the zipf_pagerank iterations at local[1] in a fresh process.

Usage: python3 perfbench/scaling_child.py <saved graph dir> <iters> <warm-up iters>
Prints one JSON line: {"iter_s_p50": ..., "samples": ...}.
"""

from __future__ import annotations

import json
import sys

import harness


def main() -> None:
    path, iters, warmup = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    harness.prepare_env()
    from pagerank_service_spark.graph.pagerank import GraphContext

    from stats import median
    from wl_zipf import iterate

    spark, _ = harness.start_session(1)
    try:
        ctx = GraphContext.load(spark, path, compact_ids=True)
        iterate(ctx, warmup)
        r = iterate(ctx, iters)
    finally:
        harness.stop_session(spark)
    steady = r.iter_secs[1:]
    print(json.dumps({"iter_s_p50": median(steady), "samples": len(steady)}))


if __name__ == "__main__":
    main()
