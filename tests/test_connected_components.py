"""Large-star/small-star CC vs networkx oracle (FIXTURES.md F8)."""

from __future__ import annotations

import random

import networkx as nx
import pytest

import entityblockingbysimilarityjoins_spark.operators.connected_components as CC
from entityblockingbysimilarityjoins_spark.operators.connected_components import (
    connected_components,
)


def _random_edges():
    rng = random.Random(99)
    edges = [(rng.randint(0, 80), rng.randint(0, 80)) for _ in range(120)]
    return [(a, b) for a, b in edges if a != b]


GRAPHS = {
    "chain": [(i, i + 1) for i in range(30)],
    "star": [(50, i) for i in range(20)],
    "cliques_and_disjoint_pairs": [(i, j) for i in range(5) for j in range(i + 1, 5)]
    + [(100, 101), (200, 201)],
    "random": _random_edges(),
    "duplicate_and_reversed": [(1, 2), (2, 1), (1, 2), (3, 2)],
}


def _check(spark, edges: list[tuple[int, int]]):
    g = nx.Graph()
    g.add_edges_from(edges)
    want = {}
    for comp in nx.connected_components(g):
        m = min(comp)
        for n in comp:
            want[n] = m
    df = spark.createDataFrame(edges, "id1 long, id2 long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == want


def test_chain(spark):
    _check(spark, GRAPHS["chain"])


def test_star(spark):
    _check(spark, GRAPHS["star"])


def test_cliques_and_disjoint_pairs(spark):
    _check(spark, GRAPHS["cliques_and_disjoint_pairs"])


def test_random_graph(spark):
    _check(spark, GRAPHS["random"])


def test_string_ids(spark):
    edges = [("a", "b"), ("b", "c"), ("x", "y")]
    df = spark.createDataFrame(edges, ["id1", "id2"])
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_duplicate_and_reversed_edges(spark):
    _check(spark, GRAPHS["duplicate_and_reversed"])


def test_empty_edge_list(spark):
    _check(spark, [])


def test_distributed_path_matches_networkx(spark, monkeypatch):
    """A cap below every graph's edge count (-1: the empty graph's too)
    forces the large-star/small-star loop; the driver labeller never runs."""
    def no_driver(*args):
        raise AssertionError("driver CC ran above the edge cap")

    monkeypatch.setattr(CC, "DRIVER_CC_MAX_EDGES", -1)
    monkeypatch.setattr(CC, "_driver_cc", no_driver)
    for edges in [*GRAPHS.values(), []]:
        _check(spark, edges)
    string_edges = spark.createDataFrame([("a", "b"), ("b", "c"), ("x", "y")],
                                         ["id1", "id2"])
    got = {r["node"]: r["component"]
           for r in connected_components(string_edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_cc_over_groups_matches_expanded_join(spark):
    """CC on the set-level graph + member expansion == CC over the expanded
    record-pair join (incl. an isolated multi-member group with no edges)."""
    from entityblockingbysimilarityjoins_spark.functions.tokenize import tokens_dlm
    from entityblockingbysimilarityjoins_spark.operators.connected_components import (
        connected_components_over_groups,
    )
    from entityblockingbysimilarityjoins_spark.operators.set_join import (
        _self_join_parts,
        set_similarity_self_join,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(18)]
    rows = [(i, " ".join(rng.sample(vocab, rng.randint(3, 9)))) for i in range(120)]
    rows += [(1000 + i, rows[i][1]) for i in range(8)]  # exact duplicates
    # an isolated duplicate pair: unique tokens, similar to nothing else
    rows += [(2000, "zzz1 zzz2 zzz3"), (2001, "zzz1 zzz2 zzz3")]
    df = spark.createDataFrame(rows, ["rid", "s"]).withColumn(
        "tokens", tokens_dlm("s"))
    pairs = set_similarity_self_join(df, "rid", "tokens", "jac", 0.6
                                     ).select("id1", "id2")
    want = sorted(map(tuple, connected_components(pairs).collect()))
    verified, groups = _self_join_parts(df, "rid", "tokens", "jac", 0.6)
    got = sorted(map(tuple, connected_components_over_groups(
        verified.select("id1", "id2"), groups).collect()))
    assert got == want and got
