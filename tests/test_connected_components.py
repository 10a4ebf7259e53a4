"""Connected components vs a union-find oracle on random graphs
(SURVEY.md §5.1), in both regimes: driver-side labeling within the
session's broadcast budget, large-star/small-star rounds above it."""

import contextlib
import random

import pytest

from entity_resolution_spark.operators import connected_components as cc
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


@contextlib.contextmanager
def _budget(spark, value):
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _star_rounds(spark):
    """Budget -1: every edge set takes the large-star/small-star rounds."""
    return _budget(spark, -1)


def _path(spark, n=200):
    return spark.createDataFrame([(i, i + 1) for i in range(n)], "src long, dst long")


def test_unconverged_raises(spark):
    """One round cannot collapse a 201-node path into a star; returning
    that edge set would split the path into ~199 "components"."""
    with _star_rounds(spark), pytest.raises(RuntimeError, match=r"max_iter=1 .*\d+ edges"):
        connected_components(_path(spark), max_iter=1)


def test_budget_boundary(spark):
    """The driver pass is taken exactly when its estimated driver memory
    (bytes per edge plus the string payload) fits the budget; one byte
    less takes the star rounds, which cannot finish a 201-node path in
    one round."""
    long_path = _path(spark)
    str_path = long_path.selectExpr("concat('https://a/', src) src", "concat('https://a/', dst) dst")
    payload = str_path.selectExpr("sum(octet_length(src) + octet_length(dst))").first()[0]
    for edges, est in [
        (long_path, 200 * cc._LOCAL_BYTES_PER_EDGE),
        (str_path, 200 * cc._LOCAL_BYTES_PER_EDGE + payload * cc._PAYLOAD_COPIES),
    ]:
        with _budget(spark, est):
            assert len(connected_components(edges, max_iter=1).collect()) == 201
        with _budget(spark, est - 1), pytest.raises(RuntimeError, match="max_iter=1"):
            connected_components(edges, max_iter=1)


def test_local_and_star_paths_agree(spark):
    """The driver-side labeling and the star rounds return the same
    (id, component) rows under the same schema."""
    rng = random.Random(11)
    cases = [
        spark.createDataFrame(
            [(rng.randrange(200), rng.randrange(200)) for _ in range(150)], "src long, dst long"
        ),
        _path(spark),
        # non-ASCII ids: Spark orders strings by UTF-8 bytes, pandas by
        # code point; the two orders agree (UTF-16 order would not:
        # U+1F600 sorts below U+FB01 there)
        spark.createDataFrame(
            [("é", "z"), ("z", "ä"), ("日本", "a"), ("a", "b"), ("Ω", "ω"), ("😀", "ﬁ")],
            "src string, dst string",
        ),
        # self-loops and duplicate edges, in both orientations
        spark.createDataFrame(
            [(1, 1), (1, 2), (2, 1), (1, 2), (3, 3), (4, 5), (4, 5)], "src long, dst long"
        ),
        spark.createDataFrame([], "src long, dst long"),
    ]
    for edges in cases:
        local = connected_components(edges)
        with _star_rounds(spark):
            star = connected_components(edges)
            star_rows = set(map(tuple, star.collect()))
        assert set(map(tuple, local.collect())) == star_rows
        assert local.schema == star.schema


# Spark jobs a star-path labeling of the 201-node path submitted while
# each round's checksum ran a job of its own (18 rounds); 73 with the
# checksum observed on the round's checkpoint.
STAR_PATH_JOBS_WITH_CHECKSUM_JOB = 91


def test_star_round_checksum_costs_no_job(spark, monkeypatch):
    """Each star round's convergence checksum is observed on that
    round's own localCheckpoint: one checksum per round, and the call
    submits fewer jobs than with a checksum job per round."""
    rounds = []
    orig = cc._edge_checksum
    monkeypatch.setattr(cc, "_edge_checksum", lambda frame: rounds.append(1) or orig(frame))
    sc = spark.sparkContext
    group = "cc-star-round-jobs"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    with _star_rounds(spark):
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            rows = connected_components(_path(spark)).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert {r["component"] for r in rows} == {0} and len(rows) == 201
    assert len(rounds) > 1
    assert jobs < STAR_PATH_JOBS_WITH_CHECKSUM_JOB, jobs


def test_session_stays_serializable(spark):
    """Sizing the edge set must leave nothing on the session that Spark
    cannot serialize: a registered pyspark Observation does, and every
    later closure capturing the session (pyspark.ml transforms) fails."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    connected_components(_path(spark, 10)).collect()
    train = VectorAssembler(inputCols=["x"], outputCol="features").transform(
        spark.createDataFrame([(float(i), i % 2) for i in range(20)], "x double, label int")
    )
    model = LogisticRegression(maxIter=5).fit(train)
    assert model.transform(train).count() == 20
