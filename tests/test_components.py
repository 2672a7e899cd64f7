"""The one connected-components kernel, ``min_labels``, and the
``dup_clusters`` partition-local contraction built on it, against a
plain union-find reference."""

import random

import numpy as np
import pandas as pd
import pytest

from vision_parse_spark.functions import components
from vision_parse_spark.functions.components import min_labels
from vision_parse_spark.operators.dedup import _local_star


def _reference_minima(nodes, edges):
    """Union-find: node -> smallest node of its component."""
    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, c in edges:
        ra, rc = find(a), find(c)
        if ra != rc:
            parent[max(ra, rc)] = min(ra, rc)
    return {v: find(v) for v in nodes}


@pytest.mark.parametrize("seed", range(40))
def test_min_labels_matches_union_find(seed):
    """Random edge lists with self-loops, duplicate edges and isolated
    nodes: every label is its component's smallest node index."""
    rng = random.Random(seed)
    n = rng.randrange(1, 80)
    edges = [(rng.randrange(n), rng.randrange(n))
             for _ in range(rng.randrange(0, 2 * n))]
    edges += [(v, v) for v in rng.sample(range(n), min(n, 3))]
    edges += edges[: len(edges) // 4]  # duplicates
    rng.shuffle(edges)
    a = np.array([e[0] for e in edges], dtype=np.int64)
    c = np.array([e[1] for e in edges], dtype=np.int64)
    want = _reference_minima(range(n), edges)
    assert min_labels(a, c, n).tolist() == [want[v] for v in range(n)]


def test_min_labels_no_edges():
    assert min_labels(np.array([], dtype=np.int64),
                      np.array([], dtype=np.int64), 4).tolist() == [0, 1, 2, 3]
    assert min_labels(np.array([], dtype=np.int64),
                      np.array([], dtype=np.int64), 0).tolist() == []


def test_min_labels_shuffled_path_converges_in_few_rounds(monkeypatch):
    """A 10^5-node path in random node order is one component labelled
    0, reached in O(log n) hooking rounds, not O(diameter)."""
    rounds = []

    class _CountingMinimum:
        def __call__(self, *args, **kwargs):
            return np.minimum(*args, **kwargs)

        def at(self, *args, **kwargs):
            rounds.append(1)
            return np.minimum.at(*args, **kwargs)

    class _CountingNumpy:
        minimum = _CountingMinimum()

        def __getattr__(self, name):
            return getattr(np, name)

    monkeypatch.setattr(components, "np", _CountingNumpy())
    n = 100_000
    order = np.random.default_rng(11).permutation(n)
    label = min_labels(order[:-1], order[1:], n)
    assert (label == 0).all()
    assert 1 <= len(rounds) <= 16


def _star(frames):
    out = list(_local_star(iter(frames)))
    assert len(out) == 1
    star = dict(zip(out[0]["src"], out[0]["dst"]))
    assert len(star) == len(out[0])  # one row per node
    return star


@pytest.mark.parametrize("seed", range(10))
@pytest.mark.parametrize("as_str", [False, True])
def test_local_star_matches_union_find(seed, as_str):
    """The contraction's star over several batches maps every node to
    the smallest id of its partition-local component, for integer and
    string ids."""
    rng = random.Random(seed)
    ids = rng.sample(range(10_000), 60)
    if as_str:
        ids = [f"d{i}" for i in ids]
    edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(70)]
    nodes = sorted({v for e in edges for v in e})
    frames = [pd.DataFrame(edges[i:i + 25], columns=["id_a", "id_b"])
              for i in range(0, len(edges), 25)]
    assert _star(frames) == _reference_minima(nodes, edges)


def test_local_star_empty_partition_emits_nothing():
    assert list(_local_star(iter([]))) == []
    empty = pd.DataFrame({"id_a": pd.Series([], dtype="int64"),
                          "id_b": pd.Series([], dtype="int64")})
    assert list(_local_star(iter([empty]))) == []


@pytest.mark.parametrize("ids", [[1.0, None], ["a", None]])
def test_local_star_null_id_fails_loudly(ids):
    frame = pd.DataFrame({"id_a": [ids[0], ids[0]], "id_b": [ids[0], ids[1]]})
    with pytest.raises(ValueError, match="null id"):
        list(_local_star(iter([frame])))
