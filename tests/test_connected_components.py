"""Large-star/small-star CC vs a union-find oracle on random graphs
(SURVEY.md §5.1)."""

import random

import pytest

from entity_resolution_spark.operators.connected_components import connected_components


class _UF:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def _oracle(edges):
    uf = _UF()
    for s, d in edges:
        uf.union(s, d)
    return {n: uf.find(n) for n in uf.p}


def _check(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    # compare PARTITIONS, not labels (both happen to use min-id, but the
    # invariant is the grouping)
    exp = _oracle(edges)
    assert set(got) == set(exp)
    inv_got, inv_exp = {}, {}
    for n, c in got.items():
        inv_got.setdefault(c, set()).add(n)
    for n, c in exp.items():
        inv_exp.setdefault(c, set()).add(n)
    assert sorted(map(sorted, inv_got.values())) == sorted(map(sorted, inv_exp.values()))
    # and the label is the component minimum (deterministic contract)
    for c, members in inv_got.items():
        assert c == min(members)


def test_cc_simple_chain(spark):
    _check(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])


def test_cc_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 200
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(150)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        _check(spark, edges)


def test_cc_long_path(spark):
    # long chain: stresses the O(log n) round count vs naive propagation
    edges = [(i, i + 1) for i in range(64)]
    _check(spark, edges)


def test_cc_star_and_self_loops(spark):
    edges = [(0, i) for i in range(1, 20)] + [(5, 5), (21, 22)]
    _check(spark, [(a, b) for a, b in edges if a != b])


def test_string_ids(spark):
    """CC over raw string ids (urls) — the verify drive found the old
    .cast('long') threw under ANSI mode for non-numeric ids."""
    edges = spark.createDataFrame(
        [("https://a", "https://b"), ("https://b", "https://c"), ("x", "y")],
        ["src", "dst"],
    )
    got = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {
        "https://a": "https://a", "https://b": "https://a", "https://c": "https://a",
        "x": "x", "y": "x",
    }


def test_unconverged_raises(spark):
    """One round cannot collapse a 201-node path into a star; returning
    that edge set would split the path into ~199 "components"."""
    edges = spark.createDataFrame([(i, i + 1) for i in range(200)], "src long, dst long")
    with pytest.raises(RuntimeError, match=r"max_iter=1 .*\d+ edges"):
        connected_components(edges, max_iter=1)
