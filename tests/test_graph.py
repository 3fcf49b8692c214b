"""Alternating large-star/small-star connected components (operators/graph):
exact labels vs a union-find oracle, O(log n) round count on a deliberately
chained path graph (the case that kills min-label propagation), the
star-forest stop test, the loud-failure contract when the round cap is hit,
and the job count of one clique run."""

from __future__ import annotations

import itertools
import random

import pytest

from disq_original_spark.cache import release_persists
from disq_original_spark.operators.graph import _is_star_forest, connected_components


def _union_find_labels(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _run(spark, pairs, **kw):
    df = spark.createDataFrame(pairs, "a_id long, b_id long")
    labels, rounds = connected_components(df, **kw)
    got = {r["node"]: r["label"] for r in labels.collect()}
    return got, rounds


def test_path_graph_converges_in_log_rounds(spark):
    """A 1000-node chain has diameter 999: min-label propagation needs ~999
    rounds, large-star/small-star must finish in ~log2(1000) ≈ 10."""
    pairs = [(i, i + 1) for i in range(999)]
    got, rounds = _run(spark, pairs)
    assert rounds <= 12, rounds
    assert got == {i: 0 for i in range(1000)}


def test_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 200
        pairs = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(120 + 40 * trial)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        got, _rounds = _run(spark, pairs)
        assert got == _union_find_labels(pairs)


def test_star_and_duplicate_edges(spark):
    """Pre-starred input is a fixed point in one round; duplicate and
    reversed edges must not change labels."""
    pairs = [(0, i) for i in range(1, 20)] + [(i, 0) for i in range(1, 20)]
    got, rounds = _run(spark, pairs + pairs)
    assert rounds == 1
    assert got == {i: 0 for i in range(20)}


def test_unconverged_raises_loud(spark):
    pairs = [(i, i + 1) for i in range(63)]
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            spark.createDataFrame(pairs, "a_id long, b_id long"), max_iters=1
        )[0].collect()


def _edges(spark, uv):
    return spark.createDataFrame(uv, "u long, v long")


def test_star_forest_predicate(spark):
    assert _is_star_forest(_edges(spark, []))
    assert _is_star_forest(_edges(spark, [(2, 1), (3, 1)]))
    # a leaf with two centers
    assert not _is_star_forest(_edges(spark, [(3, 1), (3, 2)]))
    # a leaf that is also a center
    assert not _is_star_forest(_edges(spark, [(2, 1), (3, 2)]))


# K6 on 0..5 plus a disjoint K4 on 10..13
_CLIQUES = list(itertools.combinations(range(6), 2)) + list(
    itertools.combinations(range(10, 14), 2)
)


def test_clique_converges_in_one_round(spark):
    """One round turns a clique into a star on its minimum; the stop test
    sees that at once instead of spending a second, no-op round."""
    got, rounds = _run(spark, _CLIQUES)
    assert rounds == 1
    assert got == {**{i: 0 for i in range(6)}, **{i: 10 for i in range(10, 14)}}


def test_clique_job_count(spark):
    """Plan-drift guard: connected_components plus the labels collect() on
    the clique graph.  Under AQE each lineage cut runs its shuffle stages at
    call time, so the count is the input's cut (1), one round's cut (3), the
    stop test's isEmpty (1) and the collect (2); a second round, an extra
    convergence job or a stop test that shuffles again shows up here."""
    sc = spark.sparkContext
    group = "test_clique_job_count"
    df = spark.createDataFrame(_CLIQUES, "a_id long, b_id long")
    sc.setJobGroup(group, group)
    try:
        labels, _rounds = connected_components(df)
        labels.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        release_persists()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs == 7, jobs
