"""Multi-day contract lifecycle — persistent graph state with
additions, rescissions, and daily weight recomputation.

The reference keeps its graph in a persisted dict-of-dicts
(``edge_multi_contract``) and each day (calcalate_util.py:113-147):

1. loads yesterday's state, recomputes yesterday's PageRank from it
   (``load_contract_and_user``, network_util.py:794-805), sets
   ``default_pr = 0.1 * median(old_pr)`` (network_util.py:801) and
   ``default_distance = min(3 * mean(BFS dists from the top-ranked
   node), 21)`` (``_cal_default_distance``, network_util.py:820-837);
2. RE-prices every stored contract with today's coin price/coefficient
   and today's deadline-derived duration (``_build_network`` "cal again
   since coin price and duration changed", network_util.py:430-501) —
   stored ``init_value`` and ``distance`` are reused verbatim;
3. inserts today's new contracts (``build_from_new_transaction``)
   after dropping additions rescinded the same day
   (reader_util.py:110-116 — ``unrecorded`` excludes links present in
   ``recorded_link_set``);
4. removes rescinded/withdrawn contracts (``remove_transactions``,
   network_util.py:726-762) — a pair whose last contract is removed
   disappears from subsequent days' graphs;
5. runs PageRank over the resulting weighted edges.

This module is the Spark-first rendition: state is a parquet-shaped
DataFrame (schemas.CONTRACTS), the day roll is two anti-joins + a
union, and edge weights are a single recompute projection over state.

Distance semantics (exact, not approximated): the reference's nx graph
gains edges ONLY in ``_build_network`` at load time — ``_add_edge``
touches just the contract dicts — so the per-insert BFS
(``_cal_d``, network_util.py:294-307) runs over YESTERDAY's edges even
for pairs "bridged" by earlier same-day inserts. A batch BFS over
yesterday's state graph therefore reproduces ``_cal_d`` exactly:
stored pair distance if the pair has active contracts, else BFS
distance over yesterday's graph, else today's ``default_distance``.

Day-1 note: with no persisted state the reference leaves
``default_distance = None`` and would fault in ``_cal_d``'s fallback
(network_util.py:41, :307) — the service is bootstrapped with a cache
in production. The engine defines day 1 as ``default_distance =
DEFAULT_DISTANCE`` (21, the cap) and ``default_pr = 0.5``
(network_util.py:25), matching the single-day pipeline and the golden
fixture.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from .operators.importance import (
    DEFAULT_DISTANCE,
    DEFAULT_PR,
    init_values,
    valid_links,
)


@dataclass
class DayResult:
    state: DataFrame         # schemas.CONTRACTS — feed to tomorrow
    edges: DataFrame         # (src, dst, weight) address-keyed
    ranks: DataFrame         # (addr, rank)
    per_symbol: dict[str, DataFrame]
    rewards: DataFrame       # (addr, amount)
    default_pr: float
    default_distance: float
    n_vertices: int
    iterations: int


def split_day_events(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(additions, removals). Removals are the day's rescind/withdraw
    events (``is_award = false`` — reader_util.py:127-141 close/
    withdrawSelf); additions exclude links rescinded the SAME day
    (reader_util.py:110-116 filters ``unrecorded`` by
    ``recorded_link_set``, which is keyed on the link address alone)."""
    removals = events.filter(~F.col("is_award")).select(
        "chain", "link_contract"
    ).distinct()
    additions = events.filter(F.col("is_award")).join(
        removals.select("link_contract").distinct(), "link_contract", "left_anti"
    )
    return additions, removals


def state_prior_inits(state: DataFrame) -> DataFrame:
    """State -> the (user_a, user_b, init_value) per-direction pairs
    ``init_values`` reuses (the ``_cal_i`` early return,
    network_util.py:311-326)."""
    return state.select(
        "user_a", "user_b", F.col("init_ab").alias("init_value")
    ).unionByName(
        state.select(
            F.col("user_b").alias("user_a"), F.col("user_a").alias("user_b"),
            F.col("init_ba").alias("init_value"),
        )
    )


def state_graph_edges(state: DataFrame, coin_info: DataFrame) -> DataFrame:
    """The unweighted directed edge set of the state graph — what the
    reference's nx graph holds for BFS (``_build_network`` temp_graph,
    network_util.py:433-457: an edge is present when >= 1 of its
    contracts carries a whitelisted symbol)."""
    coins = coin_info.filter(F.col("status") == 2).select(
        F.upper("symbol").alias("symbol")
    ).distinct()
    pairs = state.join(F.broadcast(coins), "symbol").select(
        "user_a", "user_b"
    ).distinct()
    return pairs.select(F.col("user_a").alias("src"), F.col("user_b").alias("dst")).unionByName(
        pairs.select(F.col("user_b").alias("src"), F.col("user_a").alias("dst"))
    ).distinct()


def _encode_addrs(edges_addr: DataFrame) -> tuple[DataFrame, DataFrame]:
    verts = (
        edges_addr.select(F.col("src").alias("addr"))
        .unionByName(edges_addr.select(F.col("dst").alias("addr")))
        .distinct()
        .withColumn("vid", F.xxhash64("addr"))
    )
    enc = edges_addr.withColumn("src", F.xxhash64("src")).withColumn(
        "dst", F.xxhash64("dst")
    )
    return verts, enc


def prepare_state_graph(
    state: DataFrame, coin_info: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(verts, adj) of yesterday's state graph, materialized ONCE —
    shared by ``default_distance_for_day`` and ``pair_distances``
    (round-3 audit: each independently rebuilt edges + vertex encoding
    + adjacency checkpoint for the same day, doubling the BFS prep)."""
    g = state_graph_edges(state, coin_info)
    verts, enc = _encode_addrs(g)
    # ONE fused materialization job for both checkpoints (was two eager
    # barriers — round-6 job-budget trim)
    verts = verts.localCheckpoint(eager=False)
    adj = enc.select("src", "dst").localCheckpoint(eager=False)
    verts.select(F.lit("v").alias("k")).unionByName(
        adj.select(F.lit("a").alias("k"))).groupBy("k").count().collect()
    return verts, adj


def default_distance_for_day(
    state: DataFrame,
    old_ranks: DataFrame,       # (addr|user, rank)
    coin_info: DataFrame,
    max_hops: int = 64,
    graph: tuple[DataFrame, DataFrame] | None = None,
    state_empty: bool | None = None,
    ranks_empty: bool | None = None,
) -> float:
    """``_cal_default_distance`` (network_util.py:820-837): BFS from the
    single top-ranked vertex over yesterday's state graph;
    ``min(3 * mean(dist), 21)``; 1 when there is no rank state or
    nothing is reachable; DEFAULT_DISTANCE when there is no state at
    all (day 1 — undefined in the reference, see module doc). Rank
    ties break to the lexicographically-LAST address: the reference
    loops over its rank dict without break (network_util.py:824-827),
    so the last max-PR node in dict order wins; lexicographic descent
    is the deterministic analog of that latest-seen choice
    (identical whenever the max rank is unique)."""
    from .graph.bfs import bfs_distances_from

    # the daily driver passes precomputed emptiness flags so the same
    # probes are not re-run as extra jobs (round-6 job-count trim)
    if state_empty if state_empty is not None else state.isEmpty():
        return DEFAULT_DISTANCE
    if ranks_empty if ranks_empty is not None else old_ranks.isEmpty():
        return 1.0
    user_col = "user" if "user" in old_ranks.columns else "addr"
    top = (
        old_ranks.orderBy(F.desc("rank"), F.desc(user_col))
        .select(F.lower(user_col).alias("addr"))
        .limit(1)
    )
    verts, enc = graph if graph is not None else prepare_state_graph(
        state, coin_info)
    src = top.join(verts, "addr").select(F.col("vid").alias("source"))
    # the prepared adjacency is already distinct and checkpointed —
    # skip the BFS's dedup shuffle + cache layer
    dists = bfs_distances_from(enc, src, max_hops=max_hops, directed=True,
                               assume_distinct=True)
    row = dists.filter(F.col("dist") > 0).agg(F.avg("dist").alias("m")).first()
    if row is None or row["m"] is None:
        return 1.0
    return float(min(3.0 * row["m"], DEFAULT_DISTANCE))


def pair_distances(
    state: DataFrame,
    pairs: DataFrame,           # (user_a, user_b) lowercased
    coin_info: DataFrame,
    max_hops: int = 21,
    graph: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """The prior-distance FEEDER: hop distance over yesterday's state
    graph for each requested pair — the batch form of the reference's
    per-insert ``nx.shortest_path_length`` (network_util.py:303-307),
    which runs over yesterday's edges (see module doc). Returns
    (user_a, user_b, distance) for pairs RESOLVED within ``max_hops``
    (true hop distance) plus — when the hop cap is reached while a
    root's frontier is still expanding — DEFAULT_DISTANCE (21) for that
    root's outstanding pairs: such pairs are reachable-but-far (or
    undetermined), where the reference's unbounded BFS would store a
    true distance > cap, and 21 is weight-equivalent to any value > 21
    under the ``min(stored, default_distance<=21)`` re-pricing every
    later day applies. Pairs whose root frontier EXHAUSTED are proven
    disconnected and get no row — callers fall back to the day's
    default_distance, matching ``_cal_d``'s except branch. (Callers
    passing ``max_hops < DEFAULT_DISTANCE`` accept coarser far-pair
    semantics: a pair with true distance in (cap, 21) also reports 21.)

    Shape: one BFS frontier per distinct source vertex, all roots
    advancing in the same join — no per-pair driver loop — with
    TARGET-AWARE termination: once every outstanding (source, target)
    pair of a root is resolved, the root's frontier is dropped
    (semi-join against the remaining-pairs set). On dense small-world
    graphs most pairs resolve at 2 hops, so the expensive deep
    expansions run only for the sparse stragglers instead of every
    root — without this, per-hop volume is |roots| x |edges| no matter
    how early the answers arrive.

    Per-hop physical budget (round-6 rework; the sf0.5 scale-up run
    exposed the old loop as the day-wall scale-killer — ~6 driver jobs
    per hop and an O(|roots| x reachable) ``visited`` set re-unioned and
    re-checkpointed every hop): ONE job per hop — a fused probe that
    materializes the frontier expansion and the shrunken remaining-pairs
    checkpoint (both lazy localCheckpoints) and counts remaining AND
    live frontier in a single union-aggregate. ``visited`` is kept as a
    lazy union of the already-checkpointed per-hop frontiers, PRUNED to
    live roots before the anti-join shuffle (a resolved root's rows can
    never match — its frontier is gone), and physically compacted every
    ``compact_every`` hops; per-hop hits are anti-joined against
    ``remaining`` directly (found-pair anti-join), so the growing
    ``found`` union is never re-materialized."""
    import os as _os
    import time as _time

    def _dbg(label, t0):
        if _os.environ.get("SPARK_GRAFT_LIFECYCLE_DEBUG"):
            print(f"[pair_distances] {label}: {_time.time() - t0:.1f}s",
                  flush=True)

    spark = state.sparkSession
    verts, adj = graph if graph is not None else prepare_state_graph(
        state, coin_info)
    p = pairs.select(F.lower("user_a").alias("user_a"),
                     F.lower("user_b").alias("user_b")).distinct()
    _t0 = _time.time()
    # (pair, vids) resolved ONCE: the upstream pair plan can be a deep
    # chain of joins (validity + init machinery) — never re-derive it
    # per hop
    pv = (
        p.join(verts.withColumnRenamed("addr", "user_a")
                    .withColumnRenamed("vid", "va"), "user_a")
        .join(verts.withColumnRenamed("addr", "user_b")
                   .withColumnRenamed("vid", "vb"), "user_b")
        # LAZY: the first remaining.count() below materializes pv and
        # remaining in ONE job (was two eager checkpoints + a count —
        # round-6 job-budget trim)
        .localCheckpoint(eager=False)
    )

    # self-pairs resolve to 0 up front (nx.shortest_path_length(u, u)
    # == 0): the BFS below seeds each root as visited, so a source ==
    # target pair would otherwise never be "found" and its frontier
    # would expand for all max_hops rounds before defaulting
    self_pairs = pv.filter(F.col("va") == F.col("vb")).select(
        "user_a", "user_b", F.lit(0.0).alias("distance"))

    remaining = pv.filter(F.col("va") != F.col("vb")).select(
        F.col("va").alias("source"), F.col("vb").alias("target")
    ).distinct().localCheckpoint(eager=False)

    # Bilateral short-distance levels (round-6): on small-world graphs
    # the overwhelming mass of pairs resolves at distance <= 3, and a
    # per-root frontier reaches most of the graph by hop 2 — the
    # round-5 scale-up run materialized ~4x10^7 frontier rows per hop
    # for a few thousand outstanding pairs. Distances 1-3 are instead
    # decided PAIR-WISE with degree-bounded joins (d=1: the pair is an
    # edge; d=2: N(src) hits the target; d=3: an edge connects N(src)
    # to N(tgt)), each candidate set ~ sum of endpoint degrees — never
    # a per-root ball. Levels run in BFS order with anti-join
    # elimination, so each resolves exactly the pairs the frontier
    # loop's corresponding hop would, at the same distance; the loop
    # below then handles only d>=4 stragglers and the far/disconnected
    # classification, whose per-root frontier evolution is identical to
    # a full-loop run (a root surviving past level 3 had unresolved
    # pairs at every earlier hop, so its frontier was live throughout).
    level_hits: list[DataFrame] = []
    n_remaining = remaining.count()
    for level in (1, 2, 3):
        if level > max_hops or n_remaining == 0:
            break
        if level == 1:
            hit = remaining.join(
                adj,
                (remaining.source == adj.src) & (remaining.target == adj.dst),
                "left_semi",
            )
        elif level == 2:
            cand = remaining.join(adj, remaining.source == adj.src).select(
                "source", "target", F.col("dst").alias("mid"))
            a2 = adj.select(F.col("src").alias("mid"),
                            F.col("dst").alias("target"))
            hit = cand.join(a2, ["mid", "target"], "left_semi").select(
                "source", "target").distinct()
        else:
            left = remaining.join(adj, remaining.source == adj.src).select(
                "source", "target", F.col("dst").alias("u"))
            a_t = adj.select(F.col("src").alias("target"),
                             F.col("dst").alias("w"))
            both = left.join(a_t, "target")
            closing = adj.select(F.col("src").alias("u"),
                                 F.col("dst").alias("w"))
            hit = both.join(closing, ["u", "w"], "left_semi").select(
                "source", "target").distinct()
        # LAZY: the count below materializes hit AND the shrunken
        # remaining in one job (hit's checkpoint blocks are shared with
        # the final resolution join) — one job per level, was two
        hit = hit.localCheckpoint(eager=False)
        level_hits.append(hit.select(
            "source", "target", F.lit(level).alias("dist")))
        remaining = remaining.join(
            hit, ["source", "target"], "left_anti"
        ).localCheckpoint(eager=False)
        n_remaining = remaining.count()  # materializes the checkpoints
        _dbg(f"level {level} (rem={n_remaining})", _t0)
        _t0 = _time.time()

    frontier = remaining.select("source").distinct().select(
        "source", F.col("source").alias("vid")
    )
    visited_parts = [frontier]  # seed: each root has visited itself
    hit_parts = list(level_hits)  # (source, target, dist) accumulators
    far_sources = None  # roots whose frontier was still live at the cap
    compact_every = 4
    # the frontier loop now serves only the d>levels stragglers and the
    # far/disconnected classification; skip it when the levels resolved
    # everything (empty range falls through to the else, hence the
    # n_remaining guard there)
    for hop in range(1, (max_hops + 1) if n_remaining else 1):
        live = remaining.select("source").distinct()
        visited = visited_parts[0]
        for part in visited_parts[1:]:
            visited = visited.unionByName(part)
        if len(visited_parts) > 1:
            # dead-root rows can never match nxt (its sources are all
            # live) — prune them before the anti-join shuffle
            visited = visited.join(live, "source", "left_semi")
        nxt = (
            frontier.join(adj, frontier.vid == adj.src)
            .select("source", F.col("dst").alias("vid"))
            .distinct()
            .join(visited, ["source", "vid"], "left_anti")
            # LAZY: the fused probe job below materializes nxt together
            # with the shrunken remaining — ONE job per hop
            .localCheckpoint(eager=False)
        )
        r = remaining.select(F.col("source").alias("r_src"),
                             F.col("target").alias("r_tgt"))
        hits = (
            nxt.join(r, (nxt.source == r.r_src) & (nxt.vid == r.r_tgt))
            .select(F.col("r_src").alias("source"),
                    F.col("r_tgt").alias("target"),
                    F.lit(hop).alias("dist"))
        )
        hit_parts.append(hits)
        # remaining_h = remaining_{h-1} \ hits_h — anti-join THIS hop's
        # hits only (prior hops' hits are already excluded), so the
        # growing found-set is never re-checkpointed
        remaining = remaining.join(
            hits.select(F.col("source").alias("f_src"),
                        F.col("target").alias("f_tgt")),
            (remaining.source == F.col("f_src"))
            & (remaining.target == F.col("f_tgt")),
            "left_anti",
        ).localCheckpoint(eager=False)
        frontier = nxt.join(remaining.select("source").distinct(),
                            "source", "left_semi")
        # ONE fused probe job: materializes the remaining checkpoint and
        # counts remaining pairs + live frontier rows together (the old
        # loop paid two limit(1).count() jobs plus an eager checkpoint)
        counts = dict(
            remaining.select(F.lit("rem").alias("k"))
            .unionByName(frontier.select(F.lit("frt").alias("k")))
            .groupBy("k").count().collect()
        )
        _dbg(f"hop {hop} (rem={counts.get('rem', 0)}, "
             f"frt={counts.get('frt', 0)})", _t0)
        _t0 = _time.time()
        if not counts.get("rem"):
            break
        if not counts.get("frt"):
            # every unresolved root's frontier exhausted: the remaining
            # pairs are PROVEN disconnected — no row, caller defaults
            break
        if hop % compact_every == 0:
            # physically drop dead-root rows and reset the union width
            compacted = visited_parts[0]
            for part in visited_parts[1:]:
                compacted = compacted.unionByName(part)
            compacted = compacted.unionByName(nxt).join(
                frontier.select("source").distinct(), "source", "left_semi"
            ).localCheckpoint(eager=True)
            visited_parts = [compacted]
        else:
            visited_parts.append(nxt)
    else:
        # hop cap reached with >=1 live frontier: those roots'
        # outstanding pairs are reachable-but-far or undetermined —
        # report DEFAULT_DISTANCE (see docstring); roots already
        # exhausted stay disconnected
        if n_remaining:
            far_sources = frontier.select("source").distinct()
    if hit_parts:
        found = hit_parts[0]
        for part in hit_parts[1:]:
            found = found.unionByName(part)
    else:
        found = spark.createDataFrame([], "source long, target long, dist int")
    resolved = pv.join(
        found.select(F.col("source").alias("va"),
                     F.col("target").alias("vb"), "dist"),
        ["va", "vb"],
    ).select(
        "user_a", "user_b", F.col("dist").cast("double").alias("distance")
    ).unionByName(self_pairs)
    if far_sources is not None:
        far = remaining.join(far_sources, "source", "left_semi")
        far_pairs = pv.join(
            far.select(F.col("source").alias("va"),
                       F.col("target").alias("vb")),
            ["va", "vb"],
        ).select("user_a", "user_b",
                 F.lit(float(DEFAULT_DISTANCE)).alias("distance"))
        resolved = resolved.unionByName(far_pairs)
    return resolved


def new_contracts(
    additions: DataFrame,
    coin_info: DataFrame,
    old_ranks: DataFrame,
    prior_state: DataFrame,
    default_pr: float,
    default_distance: float,
    link_rate: float,
    deadline_ts: int,
    exact_distances: bool = True,
    graph: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Today's additions -> CONTRACTS rows (build_from_new_transaction,
    network_util.py:178-286): validity filters + I via the init-value
    state machine (stored pair values reused first) + D = stored pair
    distance, else BFS over yesterday's graph (``exact_distances``),
    else — for pairs the BFS PROVED disconnected — ``default_distance``
    (``_cal_d``'s except branch). Pairs unresolved at the hop cap with
    a live frontier come back from ``pair_distances`` as
    DEFAULT_DISTANCE (21), not the day's default_distance: the
    reference stores the true (>cap) distance there, and every future
    day re-prices at ``min(stored, default_distance)`` with
    default_distance <= 21, so storing 21 is permanently
    weight-equivalent — while storing a smaller dd_today would
    understate the pair on any later day whose default_distance grew
    past it."""
    v = valid_links(additions, coin_info, link_rate, deadline_ts)
    iv = init_values(v, old_ranks, default_pr,
                     prior_inits=state_prior_inits(prior_state))
    ev = v.select(
        "chain", "link_contract",
        F.lower("user_a").alias("user_a"), F.lower("user_b").alias("user_b"),
        F.col("symbol"),  # valid_links already uppercased it
        (F.col("amount_a") + F.col("amount_b")).alias("amount"),
        "percent_a", "lock_days", "start_time",
    ).join(iv.select("link_contract",
                     F.col("i_ab").alias("init_ab"),
                     F.col("i_ba").alias("init_ba")), "link_contract")

    # stored pair distance first (_cal_d early return: any active
    # contract on the pair, either direction, network_util.py:294-301)
    stored = prior_state.groupBy(
        F.least("user_a", "user_b").alias("plo"),
        F.greatest("user_a", "user_b").alias("phi"),
    ).agg(F.min("distance").alias("stored_d"))
    ev = ev.withColumn("plo", F.least("user_a", "user_b")).withColumn(
        "phi", F.greatest("user_a", "user_b")
    ).join(stored, ["plo", "phi"], "left")

    if exact_distances:
        need = ev.filter(F.col("stored_d").isNull()).select(
            "user_a", "user_b"
        ).distinct()
        # hop cap FIXED at DEFAULT_DISTANCE (21), never the day's
        # default_distance: the reference's nx.shortest_path_length is
        # unbounded and the stored value survives into later days where
        # default_distance may have GROWN — a cap of today's dd would
        # silently understate such pairs. pair_distances itself returns
        # DEFAULT_DISTANCE for cap-survivors with a live frontier (see
        # its docstring), so the coalesce's default_distance fallback
        # below fires only for pairs the BFS PROVED disconnected —
        # matching _cal_d's except branch exactly.
        bfs_d = pair_distances(prior_state, need, coin_info,
                               max_hops=int(DEFAULT_DISTANCE), graph=graph)
        ev = ev.join(bfs_d, ["user_a", "user_b"], "left")
    else:
        ev = ev.withColumn("distance", F.lit(None).cast("double"))

    return ev.select(
        "chain", "link_contract", "user_a", "user_b", "symbol", "amount",
        "percent_a", "lock_days", "start_time", "init_ab", "init_ba",
        F.coalesce("stored_d", "distance", F.lit(default_distance)).alias("distance"),
    )


def roll_state(
    prior_state: DataFrame,
    new: DataFrame,
    removals: DataFrame,
) -> DataFrame:
    """State_N = (state_{N-1} ∪ today's contracts) minus removals —
    the add-then-remove order of calcalate_util.py:118-122 (additions
    never collide with removals: same-day rescinds were already
    dropped), keyed (chain, link_contract) as ``remove_transactions``
    deletes (network_util.py:726-762)."""
    return prior_state.unionByName(new).join(
        removals, ["chain", "link_contract"], "left_anti"
    )


def edges_from_state(
    state: DataFrame,
    coin_info: DataFrame,
    deadline_ts: int,
    default_distance: float,
) -> DataFrame:
    """State -> today's weighted directed edges: re-price every stored
    contract with today's price/coefficient and deadline-derived
    duration, reuse stored init/distance, sum per directed edge
    (_build_network, network_util.py:430-501; cal_importance caps D at
    today's default_distance, network_util.py:174-176)."""
    coins = coin_info.filter(F.col("status") == 2).select(
        F.upper("symbol").alias("symbol"), "coefficient", "decimals", "price"
    )
    s = state.join(F.broadcast(coins), "symbol")
    usd = F.col("amount") * F.col("price") / F.pow(F.lit(10.0), F.col("decimals"))
    duration_days = (F.lit(deadline_ts) - F.col("start_time")) / 86400.0
    duration = F.greatest(
        F.col("lock_days").cast("double"), F.ceil(duration_days).cast("double")
    ) + 1.0
    sdc = (
        F.pow(usd, 1.01) * F.log(duration)
        * F.least(F.col("distance"), F.lit(default_distance))
        * F.col("coefficient")
    )
    w = s.select("user_a", "user_b", (sdc * F.col("init_ab")).alias("w_ab"),
                 (sdc * F.col("init_ba")).alias("w_ba"))
    return (
        w.select(F.col("user_a").alias("src"), F.col("user_b").alias("dst"),
                 F.col("w_ab").alias("weight"))
        .unionByName(
            w.select(F.col("user_b").alias("src"), F.col("user_a").alias("dst"),
                     F.col("w_ba").alias("weight")))
        .groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
    )


def run_daily_lifecycle(
    events: DataFrame,
    coin_info: DataFrame,
    state: DataFrame,            # schemas.CONTRACTS (empty on day 1)
    old_ranks: DataFrame,        # (addr|user, rank) yesterday's checkpoint
    link_rate: float = 1.0,
    deadline_ts: int | None = None,
    reward_pool: float = 10000.0,
    tol: float = 1e-9,
    max_iter: int = 1000,
    chunk: int = 1,
    metric_every: int = 1,
    exact_distances: bool = True,
    work_dir: str | None = None,
    warm_start: bool = False,
    symbol_parallelism: int | None = None,
) -> DayResult:
    """One full lifecycle day (calcalate_util.py:113-147). Yesterday's
    ranks are READ from the checkpoint instead of re-running yesterday's
    PageRank (the reference's load_contract_and_user recompute,
    network_util.py:794-805 — same values, structural win).

    ``chunk`` and ``metric_every`` are accepted and ignored, so that
    existing callers still bind: the PageRank loop runs one step per
    job and checks convergence at every iteration.

    ``warm_start=True`` seeds today's power iteration from yesterday's
    rank checkpoint (pagerank ``init_ranks``): the day-over-day graph
    differs only by the day's additions/removals and the re-priced
    weights, so yesterday's vector is near the new fixed point and the
    loop reaches tol in far fewer iterations. The fixed point itself is
    start-independent — converged ranks agree with a cold run to tol
    (gated in tests/test_lifecycle.py) — so this is an off-by-default
    OPERATIONAL accelerator, kept off where iteration-count parity with
    the reference's cold loop matters.

    Runs with AQE pinned off (the engine's standard loop doctrine): the
    day is a chain of localCheckpointed steps over unknown-size leaves,
    where nested adaptive stages add per-materialization replanning and
    plan-string overhead that grows with the chain instead of helping —
    AQE earns its keep on the big relational scans, not here.

    The day BOUNDARY is a parquet round-trip under ``work_dir`` (a
    scratch directory by default), matching production (the reference
    persists contract state daily, cache_util.py:279-283). This is
    load-bearing, not just faithful: ``localCheckpoint`` leaves carry
    the ORIGIN plan's Catalyst statistics through the LogicalRDD, and a
    day plan references its state several times, so chained in-session
    days SQUARE the sizeInBytes estimate day over day — by day 2 the
    estimate is a ~10^7-digit BigInteger and every planning pass burns
    driver minutes multiplying it. A parquet read resets the leaf to
    its real on-disk size."""
    from .graph.loop import aqe_disabled
    from .graph.pagerank import pagerank

    with aqe_disabled(events.sparkSession):
        return _run_daily_lifecycle(
            events, coin_info, state, old_ranks, link_rate, deadline_ts,
            reward_pool, tol, max_iter, exact_distances, pagerank,
            work_dir, warm_start,
            symbol_parallelism,
        )


def _day_boundary(df, work_dir: str, name: str):
    """Materialize a day output through parquet and read it back —
    true lineage + statistics cut (see run_daily_lifecycle docstring)."""
    import os as _os

    path = _os.path.join(work_dir, name)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _run_daily_lifecycle(
    events, coin_info, state, old_ranks, link_rate, deadline_ts,
    reward_pool, tol, max_iter, exact_distances, pagerank, work_dir,
    warm_start=False, symbol_parallelism=None,
) -> DayResult:
    import tempfile
    import uuid

    if work_dir is None:
        work_dir = tempfile.mkdtemp(prefix="prs-lifecycle-")
    work_dir = f"{work_dir}/{uuid.uuid4().hex[:8]}"
    import os as _os
    import time as _time

    _t = [_time.time()]

    def _mark(label):
        # phase timing for SPARK_GRAFT_LIFECYCLE_DEBUG=1 (bench triage)
        if _os.environ.get("SPARK_GRAFT_LIFECYCLE_DEBUG"):
            now = _time.time()
            print(f"[lifecycle] {label}: {now - _t[0]:.1f}s", flush=True)
            _t[0] = now

    if deadline_ts is None:
        mx = events.agg(F.max("start_time")).first()[0]
        if mx is None:
            # an event-free day is legitimate (state still re-prices) but
            # carries no timestamp to derive the deadline from
            raise ValueError(
                "deadline_ts is required when the day's events are empty "
                "(no start_time to derive it from); pass it explicitly"
            )
        deadline_ts = int(mx) + 86400
    if "addr" in old_ranks.columns:  # checkpoint column naming
        old_ranks = old_ranks.withColumnRenamed("addr", "user")

    # ONE job probes yesterday's ranks for emptiness AND the median
    # (was an isEmpty barrier + a median aggregate, and
    # default_distance_for_day re-ran both isEmpty probes)
    rrow = old_ranks.agg(F.count(F.lit(1)).alias("c"),
                         F.median("rank").alias("m")).first()
    ranks_empty = rrow["c"] == 0
    if ranks_empty:
        default_pr = DEFAULT_PR
    else:
        # 0.1 * median of yesterday's ranks (network_util.py:801)
        default_pr = 0.1 * float(rrow["m"])
    state_empty = state.isEmpty()
    # yesterday's state graph (verts, adj) is prepared ONCE and shared
    # by the default-distance BFS and the pair-distance feeder
    graph = None if state_empty else prepare_state_graph(state, coin_info)
    default_distance = default_distance_for_day(state, old_ranks, coin_info,
                                                graph=graph,
                                                state_empty=state_empty,
                                                ranks_empty=ranks_empty)
    _mark("default_pr+distance")

    additions, removals = split_day_events(events)
    # materialize the day's contracts ONCE: their plan (validity + init
    # machinery + distance feeder) is the day's deepest, and roll_state
    # would otherwise re-execute it on top of the count the caller runs
    fresh = new_contracts(
        additions, coin_info, old_ranks, state, default_pr,
        default_distance, link_rate, deadline_ts,
        exact_distances=exact_distances, graph=graph,
    ).localCheckpoint(eager=True)
    _mark("new_contracts")
    state_n = _day_boundary(roll_state(state, fresh, removals),
                            work_dir, "state")
    _mark("roll_state")

    edges_addr = edges_from_state(state_n, coin_info, deadline_ts,
                                  default_distance)
    verts, enc = _encode_addrs(edges_addr)
    verts = verts.persist()
    init = None
    if warm_start and not old_ranks.isEmpty():
        # yesterday's (user, rank) into today's vid space — same
        # xxhash64(addr) encoding _encode_addrs uses, so the seed lines
        # up without touching today's vertex table
        init = old_ranks.select(
            F.xxhash64(F.lower("user")).alias("vid"), "rank")
    res = pagerank(enc, mode="reference", tol=tol, max_iter=max_iter,
                   init_ranks=init)
    ranks = _day_boundary(
        res.ranks.join(verts, "vid").select("addr", "rank"),
        work_dir, "ranks",
    )
    _mark("pagerank")

    per_symbol: dict[str, DataFrame] = {}
    alone = [r["symbol"] for r in
             coin_info.filter(F.col("alone_calculate") == 2).collect()]
    if alone:
        # Per-symbol runs are independent graphs, each far smaller than
        # the day graph, so run sequentially they leave most executor
        # slots idle while paying the full driver-side loop latency each
        # — the day wall grows LINEARLY in symbol count (the reference
        # loops them sequentially too, calcalate_util.py:126-133).
        # ``symbol_parallelism`` > 1 submits them as concurrent jobs on
        # the shared SparkContext, overlapping their stages. Each worker
        # gets its OWN spark.newSession(): the PageRank loop pins
        # spark.sql.shuffle.partitions and the lifecycle pins AQE off,
        # both SESSION-scoped knobs that concurrent runs on one session
        # would race. Inputs re-read from the state day-boundary parquet
        # (already written above); the tiny coin dim is rebuilt per
        # session from collected rows (<= 32 rows by SURVEY §3 design).
        spark_parent = state_n.sparkSession
        state_path = _os.path.join(work_dir, "state")
        coin_rows = coin_info.collect()
        coin_schema = coin_info.schema

        def _one_symbol(sym: str):
            sess = spark_parent.newSession()
            sess.conf.set("spark.sql.adaptive.enabled", "false")
            coin_t = sess.createDataFrame(coin_rows, coin_schema)
            sub = sess.read.parquet(state_path).filter(
                F.col("symbol") == sym.upper())
            if sub.isEmpty():
                return sym, None
            se_addr = edges_from_state(sub, coin_t, deadline_ts,
                                       default_distance)
            sv, senc = _encode_addrs(se_addr)
            sres = pagerank(senc, mode="reference", tol=tol,
                            max_iter=max_iter)
            out_path = _os.path.join(work_dir, f"ranks_{sym}")
            sres.ranks.join(sv, "vid").select("addr", "rank").write.mode(
                "overwrite").parquet(out_path)
            return sym, out_path

        workers = min(int(symbol_parallelism or 1), len(alone))
        if workers > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=workers) as ex:
                results = list(ex.map(_one_symbol, alone))
        else:
            results = [_one_symbol(sym) for sym in alone]
        for sym, out_path in results:
            if out_path is not None:
                # hand back on the PARENT session (day boundary already
                # paid by the parquet write in the worker)
                per_symbol[sym] = spark_parent.read.parquet(out_path)
        _mark(f"per_symbol x{len(per_symbol)} (workers={workers})")

    rewards = ranks.select(
        "addr", F.round(F.col("rank") * reward_pool, 8).alias("amount")
    ).filter(F.col("amount") > 0)
    verts.unpersist()
    return DayResult(state_n, edges_addr, ranks, per_symbol, rewards,
                     default_pr, default_distance, res.n_vertices,
                     res.iterations)


def empty_state(spark) -> DataFrame:
    from .schemas import CONTRACTS

    return spark.createDataFrame([], CONTRACTS)
