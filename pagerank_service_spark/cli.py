"""spark-submit entry point (north rule: ships as --py-files package).

Usage on a cluster:

    python -m pagerank_service_spark.package   # builds dist/pagerank_service_spark.zip
    spark-submit --py-files dist/pagerank_service_spark.zip \
        cli_main.py pagerank --edges s3://.../edges.parquet \
        --output s3://.../ranks --mode reference --tol 1e-6 \
        --checkpoint-dir s3://.../cp

Locally (this sandbox) the same module runs with a local master.
Subcommands: extract | pagerank | components | labelprop | triangles | daily.

``daily`` runs one contract-lifecycle day (lifecycle.run_daily_lifecycle):
reads the day's link events + coin dims + yesterday's state/ranks
parquet, writes today's state/ranks/rewards/edges — the unit a
scheduler chains into the reference's daily job
(calcalate_util.py:113-147).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def _spark(args) -> SparkSession:
    from .session import get_session

    return get_session(
        app_name=f"prs-{args.cmd}",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="pagerank_service_spark")
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=64)
    sub = p.add_subparsers(dest="cmd", required=True)

    ex = sub.add_parser("extract", help="repos table -> vertices + edges")
    ex.add_argument("--repos", required=True,
                    help="parquet path, or iceberg:<catalog.db.table> / "
                         "table:<name> for a catalog table")
    ex.add_argument("--snapshot-id", type=int, default=None,
                    help="Iceberg snapshot to pin the extraction to")
    ex.add_argument("--as-of-ms", type=int, default=None,
                    help="Iceberg as-of-timestamp (epoch millis)")
    ex.add_argument("--output", required=True)
    ex.add_argument("--id-strategy", default="hash64", choices=["hash64", "dense"])
    ex.add_argument("--coarse", action="store_true")

    dl = sub.add_parser("daily", help="one contract-lifecycle day")
    dl.add_argument("--events", required=True, help="parquet of link events")
    dl.add_argument("--coin-info", required=True, help="parquet of coin dims")
    dl.add_argument("--state", default=None,
                    help="yesterday's contracts parquet (omit on day 1)")
    dl.add_argument("--ranks", default=None,
                    help="yesterday's ranks parquet (omit on day 1)")
    dl.add_argument("--output", required=True)
    dl.add_argument("--deadline-ts", type=int, default=None)
    dl.add_argument("--link-rate", type=float, default=1.0)
    dl.add_argument("--reward-pool", type=float, default=10000.0)
    dl.add_argument("--tol", type=float, default=1e-9)
    dl.add_argument("--max-iter", type=int, default=1000)
    dl.add_argument("--chunk", type=int, default=3)
    dl.add_argument("--approx-distances", action="store_true",
                    help="skip the per-pair BFS feeder (new pairs use "
                         "default_distance)")
    dl.add_argument("--warm-start", action="store_true",
                    help="seed today's power iteration from yesterday's "
                         "rank checkpoint (same converged ranks, fewer "
                         "iterations)")
    dl.add_argument("--symbol-parallelism", type=int, default=None,
                    help="run alone-symbol PageRanks as N concurrent "
                         "jobs on the shared SparkContext (default "
                         "sequential, matching the reference loop)")

    for name in ("pagerank", "components", "labelprop", "triangles"):
        g = sub.add_parser(name)
        g.add_argument("--edges", required=True, help="parquet of (src,dst,weight)")
        g.add_argument("--output", required=True)
        if name == "pagerank":
            g.add_argument("--mode", default="reference",
                           choices=["reference", "standard"])
            g.add_argument("--alpha", type=float, default=None)
            g.add_argument("--tol", type=float, default=1e-6)
            g.add_argument("--max-iter", type=int, default=200)
            g.add_argument("--checkpoint-dir", default=None)
            g.add_argument("--no-resume", action="store_true")
            g.add_argument("--salt", type=int, default=None)
            g.add_argument("--trunc-digits", type=int, default=None,
                           help="per-iteration string-truncation regime "
                                "(reference byte parity; 14 = reference)")

    args = p.parse_args(argv)
    spark = _spark(args)

    if args.cmd == "extract":
        from .extract import build_edges, with_content_sha, verify_sha_invariant
        from .sources import read_repos

        repos = read_repos(spark, args.repos, snapshot_id=args.snapshot_id,
                           as_of_ms=args.as_of_ms)
        vertices, edges = build_edges(repos, id_strategy=args.id_strategy,
                                      coarse=args.coarse)
        bad = verify_sha_invariant(repos, repos)
        vertices.write.mode("overwrite").parquet(f"{args.output}/vertices")
        edges.write.mode("overwrite").parquet(f"{args.output}/edges")
        print(json.dumps({"vertices": vertices.count(), "edges": edges.count(),
                          "sha_invariant_violations": bad}))
        return 0

    if args.cmd == "daily":
        from .lifecycle import empty_state, run_daily_lifecycle

        events = spark.read.parquet(args.events)
        coin = spark.read.parquet(args.coin_info)
        state = (spark.read.parquet(args.state) if args.state
                 else empty_state(spark))
        ranks = (spark.read.parquet(args.ranks) if args.ranks
                 else spark.createDataFrame([], "user string, rank double"))
        r = run_daily_lifecycle(
            events, coin, state, ranks, link_rate=args.link_rate,
            deadline_ts=args.deadline_ts, reward_pool=args.reward_pool,
            tol=args.tol, max_iter=args.max_iter, chunk=args.chunk,
            metric_every=args.chunk,
            exact_distances=not args.approx_distances,
            warm_start=args.warm_start,
            symbol_parallelism=args.symbol_parallelism,
        )
        r.state.write.mode("overwrite").parquet(f"{args.output}/state")
        r.ranks.write.mode("overwrite").parquet(f"{args.output}/ranks")
        r.rewards.write.mode("overwrite").parquet(f"{args.output}/rewards")
        r.edges.write.mode("overwrite").parquet(f"{args.output}/edges")
        print(json.dumps({
            "contracts": r.state.count(), "n_vertices": r.n_vertices,
            "iterations": r.iterations,
            "default_pr": r.default_pr,
            "default_distance": r.default_distance,
        }))
        return 0

    edges = spark.read.parquet(args.edges)
    if args.cmd == "pagerank":
        from .graph.pagerank import pagerank

        res = pagerank(edges, mode=args.mode, alpha=args.alpha, tol=args.tol,
                       max_iter=args.max_iter, salt=args.salt,
                       checkpoint_dir=args.checkpoint_dir,
                       resume=not args.no_resume,
                       trunc_digits=args.trunc_digits)
        res.ranks.write.mode("overwrite").parquet(args.output)
        # fixed-iteration mode (tol=0) has no convergence metric; emit
        # null, not bare Infinity (which is not valid JSON)
        import math

        linf = res.linf_error if math.isfinite(res.linf_error) else None
        print(json.dumps({"iterations": res.iterations,
                          "converged": res.converged,
                          "linf_error": linf,
                          "n_vertices": res.n_vertices,
                          "n_edges": res.n_edges,
                          "loop_secs": round(res.loop_secs, 2)}))
        if args.tol > 0 and not res.converged:
            # the ranks are written, but they are not the fixed point
            return 1
    elif args.cmd == "components":
        from .graph.components import connected_components

        res = connected_components(edges)
        res.components.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"iterations": res.iterations,
                          "converged": res.converged}))
        if not res.converged:
            # the labels are written, but they are not the fixpoint
            return 1
    elif args.cmd == "labelprop":
        from .graph.labelprop import label_propagation

        res = label_propagation(edges)
        res.labels.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"iterations": res.iterations,
                          "converged": res.converged}))
        if not res.converged:
            return 1
    elif args.cmd == "triangles":
        from .graph.triangles import triangle_counts

        res = triangle_counts(edges)
        res.per_vertex.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"total_triangles": res.total}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
