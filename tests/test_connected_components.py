"""Connected components against a plain-Python union-find on the inputs
that defeat plain min-label propagation: long chains with shuffled ids
(long and string), NULL endpoints, self-loops, a star centred on the
maximum id and sorted chains. The shuffled chains must also finish in
O(log n) rounds."""

from __future__ import annotations

import math
import random

import pytest

import nebula_spark.pipeline.dedup as dedup
from tests.conftest import union_find_labels


def _shuffled_chain(ids: list) -> list:
    ids = list(ids)
    random.Random(7).shuffle(ids)
    return [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]


@pytest.fixture
def rounds(monkeypatch):
    """Counts the seed and round checkpoints of connected_components: the
    seed and one per round its vertex loop steps."""
    n = [0]
    vertex_rounds = dedup._vertex_rounds

    def counted(state, step, *args):
        def counted_step(*step_args):
            n[0] += 1
            return step(*step_args)

        n[0] += 1
        return vertex_rounds(state, counted_step, *args)

    monkeypatch.setattr(dedup, "_vertex_rounds", counted)
    return n


def _check(spark, rows, schema):
    pairs = spark.createDataFrame(rows, schema)
    got = {(r.node, r.cluster_id)
           for r in dedup.connected_components(pairs).collect()}
    assert got == union_find_labels(rows)


@pytest.mark.parametrize("n, schema, vid", [
    (2000, "id_a long, id_b long", int),
    (1000, "id_a string, id_b string", lambda i: f"v{i}"),
], ids=["long", "string"])
def test_cc_shuffled_chain_in_log_rounds(spark, rounds, n, schema, vid):
    _check(spark, _shuffled_chain(vid(i) for i in range(n)), schema)
    assert rounds[0] <= 2 * math.ceil(math.log2(n)), rounds[0]


@pytest.mark.parametrize("rows", [
    [(1, 2), (3, None), (None, 4), (None, None), (5, 5), (2, None)],
    [(1, 1), (2, 2), (2, 3), (4, 4), (3, 3)],
    [(99, i) for i in range(1, 20)] + [(99, 50)],
    [(i, i + 1) for i in range(300)],
    [(i + 1, i) for i in range(300)] + [(1000, 1001), (1001, 1002)],
], ids=["null-endpoints", "self-loops", "star-on-max", "sorted-chain",
        "sorted-chains-descending"])
def test_cc_matches_union_find(spark, rows):
    _check(spark, rows, "id_a long, id_b long")
