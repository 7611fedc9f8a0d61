import numpy as np
import pytest

import checks
from pagerank_service_spark.datagen import fixture_edges
from pagerank_service_spark.graph import oracle

FIXTURES = ["chain10", "bipair", "star_hub", "two_cliques_bridge", "zipf_rand:300"]


def _cols(triples):
    s, d, w = zip(*triples)
    return np.array(s), np.array(d), np.array(w)


def _dense(want: dict):
    vids = np.array(sorted(want))
    return vids, np.array([want[v] for v in vids])


@pytest.mark.parametrize("name", FIXTURES)
def test_sparse_reference_equals_dense_oracle(name):
    triples = fixture_edges(name)
    vids, ranks, _ = checks.reference_pagerank(*_cols(triples), tol=1e-9)
    want_vids, want = _dense(oracle.reference_pagerank(triples, tol=1e-9))
    assert checks.ranks_match(vids, ranks, want_vids, want, rtol=1e-12, atol=1e-15)


@pytest.mark.parametrize("name", FIXTURES)
def test_sparse_standard_equals_dense_oracle(name):
    triples = fixture_edges(name)
    vids, ranks, _ = checks.standard_pagerank(*_cols(triples), tol=1e-9)
    want_vids, want = _dense(oracle.standard_pagerank(triples, tol=1e-9))
    assert checks.ranks_match(vids, ranks, want_vids, want, rtol=1e-12, atol=1e-15)


def test_fixed_iterations_run_exactly():
    s, d, w = _cols(fixture_edges("zipf_rand:300"))
    _, _, it = checks.standard_pagerank(s, d, w, max_iter=7, tol=0.0)
    assert it == 7


def test_perturbed_rank_vector_is_a_failure():
    s, d, w = _cols(fixture_edges("zipf_rand:300"))
    vids, ranks, _ = checks.reference_pagerank(s, d, w, tol=1e-9)
    assert checks.ranks_match(vids, ranks, vids, ranks.copy())
    bad = ranks.copy()
    bad[len(bad) // 2] *= 1 + 1e-4
    assert not checks.ranks_match(vids, bad, vids, ranks)
    assert not checks.ranks_match(vids[1:], ranks[1:], vids, ranks)


def test_components_and_triangles_against_networkx():
    s, d, _ = _cols(fixture_edges("two_cliques_bridge") + [(100, 101, 1.0)])
    vids = np.array([v for v in range(1, 16) if v not in (6, 7, 8, 9, 10)] + [100, 101])
    labels = np.where(vids >= 100, 100, 1)
    assert checks.components_match(s, d, vids, labels)
    assert not checks.components_match(s, d, vids, np.where(vids >= 11, 11, labels))
    assert checks.triangles_match(s, d, 20)
    assert not checks.triangles_match(s, d, 19)

