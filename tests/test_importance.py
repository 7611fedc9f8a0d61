"""Importance model (S*D*C*I) vs a reference-literal Python oracle.

The oracle below reimplements, branch for branch, the semantics of
``/root/reference/project/utils/network_util.py:174-428`` (validity
filters, usd, duration, S, C, and the order-dependent init-value state
machine) with D pinned to default_distance on both sides — the engine's
documented deviation is the intra-day sequential BFS for D, everything
else must match to float tolerance.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from pagerank_service_spark.operators.importance import importance_edges

COINS = {
    # UPPER symbol -> (coefficient, decimals, price, status)
    "LUCA": (1.0, 0, 2.0, 2),
    "WBTC": (1.5, 2, 30000.0, 2),
    "AGT": (0.8, 0, 0.5, 2),
    "HALTED": (1.0, 0, 5.0, 1),  # status != 2 -> F6 drops every event
}
LINK_RATE = 100.0
DEFAULT_PR = 0.5
DEFAULT_D = 21.0


def _mk_events(n=60, n_users=16, seed=9):
    rng = np.random.default_rng(seed)
    users = [f"0xUser{i:02d}" for i in range(n_users)]  # mixed case on purpose
    # mixed-case symbols on purpose: the reference uppercases before the
    # whitelist lookup (network_util.py:191)
    syms = ["LUCA", "luca", "WBTC", "wBtC", "AGT", "HALTED", "UNSUPPORTED"]
    out = []
    for k in range(n):
        a, b = rng.choice(n_users, size=2, replace=False)
        sym = syms[int(rng.integers(0, len(syms)))]
        out.append(
            dict(
                link_contract=f"c{k:03d}",
                user_a=users[a],
                user_b=users[b],
                symbol=sym,
                amount_a=float(rng.integers(1, 500)),
                amount_b=float(rng.integers(1, 500)),
                percent_a=int(rng.choice([50, 100])),
                lock_days=int(rng.integers(0, 30)),  # 0 -> F4 drops it
                start_time=1_700_000_000 + k * 3600,
                is_award=bool(rng.random() > 0.15),
                chain="binance",
                event_seq=k,
            )
        )
    # crafted tail: deterministic coverage of the tricky branches
    def mk(k, a, b, **kw):
        d = dict(
            link_contract=f"c{k:03d}", user_a=a, user_b=b, symbol="LUCA",
            amount_a=200.0, amount_b=200.0, percent_a=50, lock_days=10,
            start_time=1_700_000_000 + k * 3600, is_award=True,
            chain="binance", event_seq=k,
        )
        d.update(kw)
        return d

    k = n
    out += [
        # brand-new pair of users, then the SAME pair again same day
        # (per-pair init reuse, network_util.py:311-326)
        mk(k, "0xFresh00", "0xFresh01"),
        mk(k + 1, "0xFresh00", "0xFresh01", amount_a=77.0),
        # ...and once with the users swapped (direction-matched reuse)
        mk(k + 2, "0xFresh01", "0xFresh00", amount_b=55.0),
        # new user's FIRST contract is with a new partner, their SECOND
        # with a KNOWN partner (user00 is in old_pr when with_old_pr):
        # the new side must get default_pr, NOT first_pr (ADVICE high)
        mk(k + 3, "0xFresh02", "0xFresh03"),
        mk(k + 4, "0xFresh02", "0xUser00"),
        # zero lock_days event that must be dropped outright (F4)
        mk(k + 5, "0xFresh04", "0xFresh05", lock_days=0),
        # status != 2 coin event that must be dropped (F6)
        mk(k + 6, "0xFresh04", "0xFresh05", symbol="HALTED"),
    ]
    return out


def _oracle(events, old_pr, deadline):
    """Reference-literal sequential computation (D = DEFAULT_D),
    branch for branch vs network_util.py:309-405 + reader/calc filters."""
    join_today = {}
    pair_store = {}  # (src, dst) -> stored final init for that direction
    results = {}
    old = {k.lower(): v for k, v in old_pr.items()}

    def first_seen(u):
        if u not in join_today:
            join_today[u] = {"first_pr": None, "seen": False}

    for ev in sorted(events, key=lambda e: e["event_seq"]):
        if not ev["is_award"]:
            continue
        if ev["lock_days"] <= 0:  # F4 (reader_util.py:144-146)
            continue
        sym = ev["symbol"].upper()
        if sym not in COINS:
            continue
        coeff, dec, price, status = COINS[sym]
        if status != 2:  # F6 (calcalate_util.py:25-26)
            continue
        usd = (ev["amount_a"] + ev["amount_b"]) * price / 10**dec
        if ev["percent_a"] == 100 and usd < LINK_RATE:
            continue
        a, b = ev["user_a"].lower(), ev["user_b"].lower()
        for u in (a, b):
            if u not in old:
                first_seen(u)

        if (a, b) in pair_store and (b, a) in pair_store:
            # repeat pair: reuse stored finals, skip first_pr bookkeeping
            # (_cal_i early return, network_util.py:311-326)
            i_ab, i_ba = pair_store[(a, b)], pair_store[(b, a)]
        else:
            def init_of(u, partner):
                if u in old:
                    if partner in old:
                        return old[u]
                    return max(old[u], DEFAULT_PR * 3)
                # u is new; a KNOWN partner always gives default_pr
                # (both branches of network_util.py:366-405)
                if partner in old:
                    return DEFAULT_PR
                st = join_today[u]
                if st["seen"]:
                    return st["first_pr"]
                return DEFAULT_PR

            ia = init_of(a, b)
            ib = init_of(b, a)
            # record first-partner init for new users, then mark seen
            for u, iv_partner in ((a, ib), (b, ia)):
                if u not in old and not join_today[u]["seen"]:
                    join_today[u]["first_pr"] = iv_partner
                    join_today[u]["seen"] = True

            fa = min(max(ia / (ia + ib), 0.1), 0.9)
            fb = min(max(ib / (ia + ib), 0.1), 0.9)
            i_ab, i_ba = fb, fa
            pair_store[(a, b)] = i_ab
            pair_store[(b, a)] = i_ba

        duration_days = (deadline - ev["start_time"]) / 86400
        duration = max(ev["lock_days"], math.ceil(duration_days)) + 1
        s = usd**1.01 * math.log(duration)
        results[(a, b, ev["link_contract"])] = s * DEFAULT_D * coeff * i_ab
        results[(b, a, ev["link_contract"])] = s * DEFAULT_D * coeff * i_ba
    # collapse per (src, dst)
    agg = {}
    for (s_, d_, _), w in results.items():
        agg[(s_, d_)] = agg.get((s_, d_), 0.0) + w
    return agg


@pytest.mark.parametrize("with_old_pr", [False, True])
def test_importance_matches_reference_oracle(spark, with_old_pr):
    events = _mk_events()
    old_pr = (
        {f"0xUser{i:02d}": 0.02 + 0.01 * i for i in range(0, 8)}
        if with_old_pr
        else {}
    )
    deadline = max(e["start_time"] for e in events) + 86400

    ev_df = spark.createDataFrame(
        events,
        "link_contract string, user_a string, user_b string, symbol string, "
        "amount_a double, amount_b double, percent_a int, lock_days int, "
        "start_time long, is_award boolean, chain string, event_seq long",
    )
    coin_df = spark.createDataFrame(
        [(s, c, d, p, st, 0) for s, (c, d, p, st) in COINS.items()],
        "symbol string, coefficient double, decimals int, price double, "
        "status int, alone_calculate int",
    )
    pr_df = spark.createDataFrame(
        list(old_pr.items()) or [("__none__", 0.0)], "user string, rank double"
    )
    if not old_pr:
        pr_df = pr_df.filter("user <> '__none__'")

    got_edges = importance_edges(
        ev_df, coin_df, pr_df, link_rate=LINK_RATE, deadline_ts=deadline,
        default_pr=DEFAULT_PR, default_distance=DEFAULT_D,
    )
    got = {}
    for r in got_edges.collect():
        got[(r["src"], r["dst"])] = got.get((r["src"], r["dst"]), 0.0) + r["weight"]

    want = _oracle(events, old_pr, deadline)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12), k


def test_importance_feeds_pagerank(spark):
    """End-to-end daily-pipeline shape: events -> importance edges ->
    reference-mode PageRank; ranks sum to 1 over addresses."""
    from pyspark.sql import functions as F

    from pagerank_service_spark.graph.pagerank import pagerank

    events = _mk_events(n=40)
    ev_df = spark.createDataFrame(
        events,
        "link_contract string, user_a string, user_b string, symbol string, "
        "amount_a double, amount_b double, percent_a int, lock_days int, "
        "start_time long, is_award boolean, chain string, event_seq long",
    )
    coin_df = spark.createDataFrame(
        [(s, c, d, p, st, 0) for s, (c, d, p, st) in COINS.items()],
        "symbol string, coefficient double, decimals int, price double, "
        "status int, alone_calculate int",
    )
    empty_pr = spark.createDataFrame([], "user string, rank double")
    edges = importance_edges(ev_df, coin_df, empty_pr, link_rate=LINK_RATE)
    # dictionary-encode addresses -> vids
    verts = (
        edges.select(F.col("src").alias("addr"))
        .unionByName(edges.select(F.col("dst").alias("addr")))
        .distinct()
        .withColumn("vid", F.xxhash64("addr"))
    )
    e = (
        edges.join(verts.withColumnRenamed("addr", "src").withColumnRenamed("vid", "svid"), "src")
        .join(verts.withColumnRenamed("addr", "dst").withColumnRenamed("vid", "dvid"), "dst")
        .select(F.col("svid").alias("src"), F.col("dvid").alias("dst"), "weight")
    )
    # the postpass normalizes at ANY iteration count — no need to run
    # 300 tol=1e-9 iterations to assert sum==1 (was ~190s of suite wall)
    res = pagerank(e, mode="reference", tol=1e-9, max_iter=24)
    total = res.ranks.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-9
    assert res.ranks.count() == verts.count()
