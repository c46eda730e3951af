"""Tests of the benchmark's own checks: each planted wrong output must be
reported as a failed operation.  No Spark needed:

    python3 -m pytest perfbench/test_checks.py -q
"""

import numpy as np
import pytest

from checks import CheckFailed, check_dedup, check_finds_self, check_index_info, check_knn
from gen import Corpus, DocGen, centers, clustered
from spans import HostSentinel, Tracer, TreeMemory, _union_ms
from workloads import K, Run


@pytest.fixture(scope="module")
def corpus_and_query():
    rng = np.random.default_rng(0)
    c = centers(rng, 8, 16)
    x = clustered(rng, c, 2000, 0.7)
    corpus = Corpus(np.arange(2000, dtype=np.int64) * 3, x)
    q = clustered(rng, c, 1, 0.7)[0]
    return corpus, q


def _exact_result(corpus, q):
    """What a correct engine returns: float32 distances, ascending."""
    d = corpus.exact(np.arange(len(corpus)), q)
    order = np.lexsort((corpus.ids, d))[:K]
    return corpus.ids[order], d[order].astype(np.float32)


def test_correct_topk_passes(corpus_and_query):
    corpus, q = corpus_and_query
    ids, dists = _exact_result(corpus, q)
    kth = corpus.kth(q[None, :], K)[0]
    assert check_knn(ids, dists, q, kth, corpus, K, exact=True) == K


def test_shuffled_topk_fails(corpus_and_query):
    corpus, q = corpus_and_query
    ids, dists = _exact_result(corpus, q)
    perm = np.random.default_rng(1).permutation(K)
    kth = corpus.kth(q[None, :], K)[0]
    with pytest.raises(CheckFailed, match="ascending"):
        check_knn(ids[perm], dists[perm], q, kth, corpus, K, exact=True)


def test_resurrected_deleted_id_fails(corpus_and_query):
    corpus, q = corpus_and_query
    ids, dists = _exact_result(corpus, q)
    keep = corpus.ids != ids[0]  # delete the nearest row from the live set
    live = Corpus(corpus.ids[keep], corpus.x[keep])
    kth = live.kth(q[None, :], K)[0]
    with pytest.raises(CheckFailed, match="not among the live rows"):
        check_knn(ids, dists, q, kth, live, K, exact=True)


def test_wrong_distance_and_missing_neighbour_fail(corpus_and_query):
    corpus, q = corpus_and_query
    ids, dists = _exact_result(corpus, q)
    kth = corpus.kth(q[None, :], K)[0]
    bad = dists.copy()
    bad[3] += 0.5
    with pytest.raises(CheckFailed, match="recomputed"):
        check_knn(ids, bad, q, kth, corpus, K, exact=True)
    far = corpus.ids[np.argmax(corpus.exact(np.arange(len(corpus)), q))]
    swapped = np.concatenate([ids[:-1], [far]])
    far_d = corpus.exact(corpus.positions(np.array([far])), q)
    with pytest.raises(CheckFailed, match="differs from brute force"):
        check_knn(swapped, np.concatenate([dists[:-1], far_d]), q, kth, corpus, K, exact=True)
    # an approximate index may miss it: counted against recall, not failed
    assert check_knn(swapped, np.concatenate([dists[:-1], far_d]), q, kth, corpus, K,
                     exact=False) == K - 1
    with pytest.raises(CheckFailed, match="expected 10 rows"):
        check_knn(ids[:-1], dists[:-1], q, kth, corpus, K, exact=True)


def test_finds_self_and_index_info():
    check_finds_self([7, 3], [0.0, 1.0], 7)
    with pytest.raises(CheckFailed):
        check_finds_self([3, 7], [0.0, 1.0], 7)
    rows = [dict(name="a", num_vectors=5, num_deleted=0)]
    check_index_info(rows, ["a"], 5)
    with pytest.raises(CheckFailed):
        check_index_info(rows, ["a"], 6)


def _dedup_truth(family):
    """The correct dedup_fuzzy output for planted families."""
    return [(d, f, d == f) for d, f in family.items()]


@pytest.fixture(scope="module")
def planted():
    rows, family = DocGen(np.random.default_rng(3), first_id=100).batch(10, 10)
    assert len(set(family.values())) == 20
    return rows, family


def test_dedup_truth_passes(planted):
    _rows, family = planted
    kept, recall = check_dedup(_dedup_truth(family), family)
    assert kept == sorted(set(family.values())) and recall == 1.0


def test_split_family_fails(planted):
    _rows, family = planted
    fam = next(f for f in family.values() if sum(v == f for v in family.values()) > 1)
    member = max(d for d, f in family.items() if f == fam)
    out = [(d, d if d == member else c, d == member or k) for d, c, k in _dedup_truth(family)]
    with pytest.raises(CheckFailed, match="split"):
        check_dedup(out, family)


def test_merged_families_and_wrong_keep_fail(planted):
    _rows, family = planted
    a, b = sorted(set(family.values()))[:2]
    merged = [(d, a if c == b else c, k and c != b) for d, c, k in _dedup_truth(family)]
    with pytest.raises(CheckFailed, match="spans planted families"):
        check_dedup(merged, family)
    fam = next(f for f in family.values() if sum(v == f for v in family.values()) > 1)
    wrong_keep = [(d, c, (d != c) if c == fam else k) for d, c, k in _dedup_truth(family)]
    with pytest.raises(CheckFailed, match="keeps"):
        check_dedup(wrong_keep, family)


def test_generator_is_seeded():
    a = DocGen(np.random.default_rng(5), 0).batch(3, 3)
    b = DocGen(np.random.default_rng(5), 0).batch(3, 3)
    assert a == b
    c1 = clustered(np.random.default_rng(5), centers(np.random.default_rng(5), 4, 8), 10, 0.5)
    c2 = clustered(np.random.default_rng(5), centers(np.random.default_rng(5), 4, 8), 10, 0.5)
    assert np.array_equal(c1, c2)


def test_failed_operation_is_counted_and_run_goes_on():
    run = Run(None, None, None, 0, 0.0, Tracer(), HostSentinel(16), TreeMemory())

    def bad_check(_out):
        raise CheckFailed("planted")

    assert run.op("query", lambda: 1, bad_check) is None
    assert run.op("query", lambda: 1 / 0) is None
    assert run.op("query", lambda: 2) == 2
    assert (run.attempted, run.failed, len(run.lat["query"])) == (3, 2, 1)


def test_union_of_job_intervals():
    assert _union_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert _union_ms([(-5, 5)], 0, 100) == 5
    assert _union_ms([], 0, 100) == 0
