"""Daily pipeline end-to-end (SURVEY §3.1): two consecutive logical
days, second day consuming the first day's rank checkpoint."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pagerank_service_spark.pipeline import run_daily

from test_importance import COINS, LINK_RATE, _mk_events

EVENT_SCHEMA = (
    "link_contract string, user_a string, user_b string, symbol string, "
    "amount_a double, amount_b double, percent_a int, lock_days int, "
    "start_time long, is_award boolean, chain string, event_seq long"
)


def _dims(spark):
    return spark.createDataFrame(
        [(s, c, d, p, st, 2 if s == "LUCA" else 0)
         for s, (c, d, p, st) in COINS.items()],
        "symbol string, coefficient double, decimals int, price double, "
        "status int, alone_calculate int",
    )


def test_two_day_lifecycle(spark):
    coin = _dims(spark)
    empty = spark.createDataFrame([], "user string, rank double")

    # day 1
    ev1 = spark.createDataFrame(_mk_events(n=50, seed=21), EVENT_SCHEMA)
    d1 = run_daily(ev1, coin, empty, link_rate=LINK_RATE, max_iter=16)
    total1 = d1.ranks.agg(F.sum("rank")).first()[0]
    assert abs(total1 - 1.0) < 1e-9
    assert d1.rewards.count() > 0
    assert abs(d1.rewards.agg(F.sum("amount")).first()[0] - 10000.0) < 1e-2
    # per-symbol PR ran for the alone_calculate coin
    assert "LUCA" in d1.per_symbol
    assert abs(d1.per_symbol["LUCA"].agg(F.sum("rank")).first()[0] - 1.0) < 1e-9

    # day 2: yesterday's ranks feed the init-value model (S8 restore)
    old = d1.ranks.select(F.col("addr").alias("user"), "rank")
    ev2 = spark.createDataFrame(_mk_events(n=50, seed=22), EVENT_SCHEMA)
    d2 = run_daily(ev2, coin, old, link_rate=LINK_RATE, max_iter=16)
    total2 = d2.ranks.agg(F.sum("rank")).first()[0]
    assert abs(total2 - 1.0) < 1e-9
    # ranks differ from day 1 (different events + informed init values)
    j = d1.ranks.withColumnRenamed("rank", "r1").join(
        d2.ranks.withColumnRenamed("rank", "r2"), "addr"
    )
    assert j.filter(F.abs(F.col("r1") - F.col("r2")) > 1e-9).count() > 0


def test_agf_adjustment_preserves_total(spark):
    coin = _dims(spark)
    empty = spark.createDataFrame([], "user string, rank double")
    ev = spark.createDataFrame(_mk_events(n=40, seed=33), EVENT_SCHEMA)
    mult = spark.createDataFrame(
        [(f"0xUser{i:02d}", 0.5 + 0.2 * i) for i in range(16)], "user string, mult double"
    )
    d = run_daily(ev, coin, empty, link_rate=LINK_RATE,
                  agf_multipliers=mult, max_iter=16)
    assert abs(d.agf_ranks.agg(F.sum("rank")).first()[0] - 1.0) < 1e-9
    # capped multipliers (>1.5 -> 1.0) shift mass but keep distribution valid
    assert d.agf_ranks.filter(F.col("rank") < 0).count() == 0


def test_cross_day_pair_init_reuse(spark):
    """A pair with an active prior-day contract reuses its STORED init
    values on later days (the reference's _cal_i early return via the
    persisted edge_multi_contract); recomputing from the newer ranks
    would skew the pair's importance split."""
    coin = _dims(spark)
    empty = spark.createDataFrame([], "user string, rank double")

    def mk(k, a, b):
        return (f"d{k}", a, b, "LUCA", 200.0, 200.0, 50, 10,
                1_700_000_000 + k, True, "bsc", k)

    # day 1: P-Q (both new -> stored 0.5/0.5) and P-R (P ends up ranked
    # differently from Q)
    ev1 = spark.createDataFrame([mk(0, "0xP", "0xQ"), mk(1, "0xP", "0xR")],
                                EVENT_SCHEMA)
    d1 = run_daily(ev1, coin, empty, link_rate=LINK_RATE, max_iter=12)
    st = {(r["user_a"], r["user_b"]): r["init_value"]
          for r in d1.contract_inits.collect()}
    assert st[("0xp", "0xq")] == pytest.approx(0.5)
    assert st[("0xq", "0xp")] == pytest.approx(0.5)

    # day 2: the same pair P-Q again
    ev2 = spark.createDataFrame([mk(10, "0xP", "0xQ")], EVENT_SCHEMA)
    old = d1.ranks.select(F.col("addr").alias("user"), "rank")
    with_reuse = run_daily(ev2, coin, old, link_rate=LINK_RATE, max_iter=12,
                           prior_inits=d1.contract_inits)
    without = run_daily(ev2, coin, old, link_rate=LINK_RATE, max_iter=12)

    rw = {r["addr"]: r["rank"] for r in with_reuse.ranks.collect()}
    rn = {r["addr"]: r["rank"] for r in without.ranks.collect()}
    # reused 0.5/0.5 -> symmetric ranks; recomputed from unequal old
    # ranks -> asymmetric
    assert rw["0xp"] == pytest.approx(rw["0xq"], rel=1e-9)
    assert abs(rn["0xp"] - rn["0xq"]) > 1e-6
    # day-2 state still carries the stored values for the pair
    st2 = {(r["user_a"], r["user_b"]): r["init_value"]
           for r in with_reuse.contract_inits.collect()}
    assert st2[("0xp", "0xq")] == pytest.approx(0.5)
