"""The daily scoring pipeline — the reference's flagship lifecycle
(SURVEY.md §3.1, ``/root/reference/project/utils/calcalate_util.py:21-147``)
recomposed Spark-first:

    link_events (+ coin dims, + yesterday's rank checkpoint)
      -> validity filters + importance model        (operators/importance.py)
      -> collapse to weighted directed edges        (A1)
      -> reference-mode weighted PageRank           (graph/pagerank.py)
      -> per-symbol PageRank for alone_calculate coins
      -> AGF multiplier adjustment + renormalize    (J4/F11/A12)
      -> payouts (rank x pool)                      (A10)
      -> deterministic outputs + rank checkpoint    (sinks.py, K1/K2)

The reference re-runs yesterday's full PageRank just to rebuild its
in-memory rank state (``network_util.py:794-808``); here yesterday's
ranks are simply READ from the checkpoint — the structural win of
explicit checkpointing.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from .graph.pagerank import pagerank
from .operators.importance import contract_state, importance_edges


@dataclass
class DailyResult:
    ranks: DataFrame                 # (addr, rank) main PageRank
    per_symbol: dict[str, DataFrame]  # symbol -> (addr, rank)
    agf_ranks: DataFrame             # multiplier-adjusted, renormalized
    rewards: DataFrame               # (addr, amount)
    n_vertices: int
    iterations: int
    # (user_a, user_b, init_value) — the day's stored per-direction pair
    # state; feed as tomorrow's prior_inits (edge_multi_contract
    # persistence analogue, cache_util.py:279-283)
    contract_inits: DataFrame | None = None


def _encode(edges_by_addr: DataFrame) -> tuple[DataFrame, DataFrame]:
    """address-keyed edges -> (vertices(addr,vid), edges(src,dst,weight)).

    xxhash64 ids: shuffle-free, deterministic, resume-stable."""
    verts = (
        edges_by_addr.select(F.col("src").alias("addr"))
        .unionByName(edges_by_addr.select(F.col("dst").alias("addr")))
        .distinct()
        .withColumn("vid", F.xxhash64("addr"))
    )
    e = (
        edges_by_addr
        .withColumn("src", F.xxhash64("src"))
        .withColumn("dst", F.xxhash64("dst"))
    )
    return verts, e


def _ranks_by_addr(ranks: DataFrame, verts: DataFrame) -> DataFrame:
    return ranks.join(verts, "vid").select("addr", "rank")


def run_daily(
    link_events: DataFrame,
    coin_info: DataFrame,
    old_ranks: DataFrame,          # (user, rank) yesterday's checkpoint; may be empty
    link_rate: float = 1.0,
    deadline_ts: int | None = None,
    agf_multipliers: DataFrame | None = None,  # (user, mult)
    reward_pool: float = 10000.0,
    tol: float = 1e-9,
    max_iter: int = 1000,
    prior_inits: DataFrame | None = None,      # (user_a, user_b, init_value)
    prior_distances: DataFrame | None = None,  # (user_a, user_b, distance)
) -> DailyResult:
    """One logical day. ``prior_inits``/``prior_distances`` are the
    checkpointed per-direction contract state from prior days (the
    reference's edge_multi_contract reload, network_util.py:794-808) —
    pairs with still-active contracts reuse their stored init values
    and distances instead of recomputing."""
    # default_pr = 0.1 * median of yesterday's ranks — the reference
    # scales the median down by 10 (network_util.py:801:
    # `0.1 * np.median(...)`); day 1 (no ranks) uses 0.5
    # (network_util.py:25)
    if old_ranks.isEmpty():
        default_pr = 0.5
    else:
        default_pr = 0.1 * float(old_ranks.agg(F.median("rank")).first()[0])

    edges_addr = importance_edges(
        link_events, coin_info, old_ranks, link_rate=link_rate,
        deadline_ts=deadline_ts, default_pr=default_pr,
        prior_inits=prior_inits, prior_distances=prior_distances,
    ).persist()
    verts, edges = _encode(edges_addr)
    verts = verts.persist()

    res = pagerank(edges, mode="reference", tol=tol, max_iter=max_iter)
    # materialize at the day boundary: downstream days consume these
    # ranks (in production: the parquet checkpoint) — without cutting
    # lineage here a multi-day chain recompiles every prior day's plan
    ranks = _ranks_by_addr(res.ranks, verts).localCheckpoint(eager=True)

    # per-symbol PageRank for alone_calculate==2 coins
    # (network_util.py:508-527, calcalate_util.py:126-133): same pipeline
    # over the symbol's contract subset
    per_symbol: dict[str, DataFrame] = {}
    alone = [r["symbol"] for r in
             coin_info.filter(F.col("alone_calculate") == 2).collect()]
    for sym in alone:
        sym_edges_addr = importance_edges(
            link_events.filter(F.upper("symbol") == sym.upper()),
            coin_info, old_ranks, link_rate=link_rate,
            deadline_ts=deadline_ts, default_pr=default_pr,
            prior_inits=prior_inits, prior_distances=prior_distances,
        )
        if sym_edges_addr.isEmpty():
            continue
        sv, se = _encode(sym_edges_addr)
        sres = pagerank(se, mode="reference", tol=tol, max_iter=max_iter)
        per_symbol[sym] = _ranks_by_addr(sres.ranks, sv).localCheckpoint(eager=True)

    # AGF adjustment (calcalate_util.py:149-197): rank *= capped
    # multiplier, renormalize so the total is preserved at 1
    if agf_multipliers is not None:
        m = agf_multipliers.select(
            F.lower("user").alias("addr"),
            F.when(F.col("mult") > 1.5, 1.0).otherwise(F.col("mult")).alias("m"),
        )
        adj = (
            ranks.join(m, "addr", "left")
            .select("addr", (F.col("rank") * F.coalesce("m", F.lit(1.0))).alias("v"))
        )
        total = adj.agg(F.sum("v")).first()[0]
        agf = adj.select("addr", (F.col("v") / total).alias("rank"))
    else:
        agf = ranks

    rewards = agf.select(
        "addr", F.round(F.col("rank") * reward_pool, 8).alias("amount")
    ).filter(F.col("amount") > 0)

    inits_out = contract_state(
        link_events, coin_info, old_ranks, link_rate=link_rate,
        deadline_ts=deadline_ts, prior_inits=prior_inits,
        default_pr=default_pr,
    ).localCheckpoint(eager=True)

    edges_addr.unpersist()
    return DailyResult(ranks, per_symbol, agf, rewards,
                       res.n_vertices, res.iterations, inits_out)
