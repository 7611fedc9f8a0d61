"""Per-iteration trunc-14 exact mode (the reference's numeric regime,
network_util.py:604,624-645 + value_util.py:7-74): every intermediate
string-truncated to 14 fraction digits inside the power iteration.

Byte parity is asserted on the LOOP output via standard mode (no
post-pass): the engine's distributed trunc step and the NumPy oracle's
trunc step must produce bit-identical vectors at the same iteration
count. Reference mode adds the float64 post-pass on both sides (the
reference's own post-pass truncates after EACH addition in dict order —
an order-dependent sequential fold, documented deviation in oracle.py),
so there the gate is 1e-12."""

from __future__ import annotations

import numpy as np

import pagerank_service_spark.graph.pagerank as pr
from pagerank_service_spark.datagen import fixture_edges
from pagerank_service_spark.functions.truncate import trunc_py
from pagerank_service_spark.graph import oracle

from conftest import edges_df


def test_trunc14_loop_byte_parity_standard(spark):
    """Standard mode returns the loop vector directly: engine trunc-14
    ranks == oracle trunc-14 ranks, bit for bit."""
    triples = fixture_edges("two_cliques_bridge")
    res = pr.pagerank(edges_df(spark, triples), mode="standard", tol=0.0,
                      max_iter=12, trunc_digits=14)
    want = oracle.standard_pagerank(triples, tol=0.0, max_iter=12,
                                    trunc_digits=14)
    got = {r["vid"]: r["rank"] for r in res.ranks.collect()}
    assert set(got) == set(want)
    mism = {k: (got[k], want[k]) for k in got if got[k] != want[k]}
    assert not mism, f"byte mismatches: {mism}"
    # and the output really is trunc-14 stable (truncation is idempotent)
    assert all(trunc_py(v, 14) == v for v in got.values())


def test_trunc14_changes_values_vs_float64(spark):
    """The regime is real: trunc-14 output differs from plain float64 at
    the tail digits while agreeing to ~1e-12 (the truncation grid)."""
    triples = fixture_edges("chain10")
    plain = pr.pagerank(edges_df(spark, triples), mode="standard", tol=0.0,
                        max_iter=10)
    trunc = pr.pagerank(edges_df(spark, triples), mode="standard", tol=0.0,
                        max_iter=10, trunc_digits=14)
    p = {r["vid"]: r["rank"] for r in plain.ranks.collect()}
    t = {r["vid"]: r["rank"] for r in trunc.ranks.collect()}
    diffs = [abs(p[k] - t[k]) for k in p]
    assert max(diffs) < 1e-12
    assert any(d > 0 for d in diffs)  # truncation actually bit


def test_trunc14_reference_mode_matches_oracle(spark):
    """Reference mode: trunc-14 loop + float64 post-pass on both sides."""
    triples = fixture_edges("bipair")
    res = pr.pagerank(edges_df(spark, triples), mode="reference", tol=1e-9,
                      max_iter=40, trunc_digits=14)
    want = oracle.reference_pagerank(triples, tol=1e-9, max_iter=40,
                                     trunc_digits=14)
    got = {r["vid"]: r["rank"] for r in res.ranks.collect()}
    g = np.array([got[k] for k in sorted(got)])
    w = np.array([want[k] for k in sorted(want)])
    np.testing.assert_allclose(g, w, atol=1e-12, rtol=0)


def test_trunc14_rejects_salt(spark):
    """trunc_digits sums each vertex's messages in one aggregate, so
    salt's pre-aggregation would change the reference's truncation
    regime — the combination must raise (advisor round-4), never run a
    loop the caller didn't ask for."""
    import pytest

    triples = fixture_edges("chain10")
    with pytest.raises(ValueError, match="trunc_digits"):
        pr.pagerank(edges_df(spark, triples), mode="standard", tol=0.0,
                    max_iter=2, trunc_digits=14, salt=8)
