"""connected_components / dedup_keep_list: transitive closure of the
near-dup pair graph into canonical keep-groups, checked against a
pure-Python union-find oracle on both labeling paths — the driver
union-find at or below dedup.DRIVER_MAX_EDGES and the star rounds
above it (forced by the ``star`` fixture)."""

import numpy as np
import pytest

from miaplpy_spark.functions import dedup
from miaplpy_spark.functions.dedup import (connected_components,
                                           dedup_keep_list,
                                           minhash_lsh_pairs)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def star(monkeypatch):
    """Every non-empty pair graph takes the star rounds."""
    monkeypatch.setattr(dedup, "DRIVER_MAX_EDGES", 0)


def _uf_components(edges):
    """Union-find oracle: {node: minimum member of its component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = {}
    for n in list(parent):
        root = find(n)
        out[n] = min(out.get(root, root), root)
    # normalize to the minimum MEMBER of each component
    comp_min = {}
    for n in parent:
        comp_min.setdefault(find(n), n)
        comp_min[find(n)] = min(comp_min[find(n)], n)
    return {n: comp_min[find(n)] for n in parent}


def test_chain_transitivity(spark):
    """A~B, B~C (A~C never surfaced) must be ONE component — the whole
    point of running components after pair generation."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "doc1 string, doc2 string")
    got = {r["node"]: r["comp"]
           for r in connected_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}


def test_matches_union_find_on_random_graph(spark):
    rng = np.random.RandomState(7)
    n = 300
    edges = [(f"n{min(a, b):04d}", f"n{max(a, b):04d}")
             for a, b in rng.randint(0, n, size=(250, 2)) if a != b]
    pairs = spark.createDataFrame(edges, "doc1 string, doc2 string")
    got = {r["node"]: r["comp"]
           for r in connected_components(pairs).collect()}
    assert got == _uf_components(edges)


def test_long_path_converges(spark):
    """A 40-node path is the adversarial diameter case for label
    propagation; under the edge threshold it is one driver union-find
    and collapses to its minimum."""
    edges = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(40)]
    pairs = spark.createDataFrame(edges, "doc1 string, doc2 string")
    got = {r["node"]: r["comp"]
           for r in connected_components(pairs).collect()}
    assert len(got) == 41 and set(got.values()) == {"p00"}


def test_max_iter_raises_instead_of_partial(spark, star):
    """Star rounds that have not reached the fixpoint after max_iter
    rounds raise instead of returning a partial labeling."""
    edges = [(f"q{i:02d}", f"q{i + 1:02d}") for i in range(20)]
    pairs = spark.createDataFrame(edges, "doc1 string, doc2 string")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=1)


def test_star_converges_logarithmically_on_path(spark, star):
    """Round-4 VERDICT item 5: the large-star/small-star rounds must
    label the 40-node path in <= 6 rounds (O(log n)) where label
    propagation needs 40 sweeps — same labels."""
    edges = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(40)]
    pairs = spark.createDataFrame(edges, "doc1 string, doc2 string")
    got = {r["node"]: r["comp"]
           for r in connected_components(pairs, max_iter=6).collect()}
    assert len(got) == 41 and set(got.values()) == {"p00"}


def test_star_matches_union_find_on_random_graph(spark, star):
    rng = np.random.RandomState(11)
    n = 200
    edges = [(f"s{min(a, b):04d}", f"s{max(a, b):04d}")
             for a, b in rng.randint(0, n, size=(180, 2)) if a != b]
    pairs = spark.createDataFrame(edges, "doc1 string, doc2 string")
    got = {r["node"]: r["comp"]
           for r in connected_components(pairs).collect()}
    assert got == _uf_components(edges)


def test_star_on_real_minhash_pairs(spark, star):
    pairs = minhash_lsh_pairs(spark, SF_DIR).localCheckpoint(eager=True)
    edges = [(r["doc1"], r["doc2"]) for r in pairs.collect()]
    got = {r["node"]: r["comp"]
           for r in connected_components(pairs).collect()}
    assert edges and got == _uf_components(edges)


def test_auto_small_graph_uses_driver_union_find(spark, monkeypatch):
    """Below the edge threshold = exact driver union-find; above it
    (threshold forced to 0) = the star rounds; identical labels."""
    rng = np.random.RandomState(23)
    n = 150
    edges = [(f"a{min(a, b):04d}", f"a{max(a, b):04d}")
             for a, b in rng.randint(0, n, size=(120, 2)) if a != b]
    pairs = spark.createDataFrame(edges, "doc1 string, doc2 string")
    exp = _uf_components(edges)
    small = {r["node"]: r["comp"]
             for r in connected_components(pairs).collect()}
    monkeypatch.setattr(dedup, "DRIVER_MAX_EDGES", 0)
    big = {r["node"]: r["comp"]
           for r in connected_components(pairs).collect()}
    assert small == exp and big == exp


def test_only_the_star_path_materializes_the_edges(spark, monkeypatch):
    """The driver path reads the edge set once (the size probe is its
    collect), so it makes no localCheckpoint; the star rounds read it
    again each round and do. Both label like the union-find oracle."""
    rng = np.random.RandomState(29)
    edges = [(f"m{min(a, b):04d}", f"m{max(a, b):04d}")
             for a, b in rng.randint(0, 100, size=(80, 2)) if a != b]
    pairs = spark.createDataFrame(edges, "doc1 string, doc2 string")
    exp = _uf_components(edges)
    # the session's concrete DataFrame class, which defines the method
    frame = type(pairs)
    checkpoint = frame.localCheckpoint
    calls = []

    def counting(self, *args, **kwargs):
        calls.append(1)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame, "localCheckpoint", counting)
    driver = connected_components(pairs)
    assert len(calls) == 0
    assert {r["node"]: r["comp"] for r in driver.collect()} == exp
    monkeypatch.setattr(dedup, "DRIVER_MAX_EDGES", 0)
    star = connected_components(pairs)
    assert len(calls) >= 1
    assert {r["node"]: r["comp"] for r in star.collect()} == exp

def test_auto_long_path_converges(spark, star):
    """Above the edge threshold the labeling stays diameter-safe."""
    edges = [(f"z{i:02d}", f"z{i + 1:02d}") for i in range(40)]
    pairs = spark.createDataFrame(edges, "doc1 string, doc2 string")
    got = {r["node"]: r["comp"]
           for r in connected_components(pairs, max_iter=8).collect()}
    assert len(got) == 41 and set(got.values()) == {"z00"}


def test_keep_list_on_real_minhash_pairs(spark):
    """End-to-end: LSH pairs at sf0.001 -> one canonical keep per
    component, keeps are the component minima, everything else drops."""
    pairs = minhash_lsh_pairs(spark, SF_DIR)
    keep = dedup_keep_list(pairs).collect()
    assert len(keep) > 0
    by_comp = {}
    for r in keep:
        by_comp.setdefault(r["comp"], []).append(r)
    for comp, rows in by_comp.items():
        kept = [r["doc_id"] for r in rows if r["keep"]]
        assert kept == [min(r["doc_id"] for r in rows)]
        assert comp == min(r["doc_id"] for r in rows)
