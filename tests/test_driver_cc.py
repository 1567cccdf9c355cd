"""Pins for the r15 driver-side union-find short-circuit in
connected_components (graph._driver_components): the driver path must
be IDENTICAL to the distributed star loop it replaces and engage only
inside the stated budget (``CC_DRIVER_MAX_EDGES`` = 0 forces the loop).
"""

from __future__ import annotations

import pytest

from logpump_spark.llmdata import graph
from logpump_spark.llmdata.graph import connected_components


def _labels(edges):
    return sorted(map(tuple, connected_components(edges).collect()))


def _distributed_labels(edges, monkeypatch):
    with monkeypatch.context() as m:
        m.setattr(graph, "CC_DRIVER_MAX_EDGES", 0)
        return _labels(edges)


def _random_edges(spark, n_nodes=200, n_edges=350, seed=7):
    # deterministic LCG so the pin replays byte-identically
    rows, x = [], seed
    for _ in range(n_edges):
        x = (x * 1103515245 + 12345) % (1 << 31)
        a = x % n_nodes
        x = (x * 1103515245 + 12345) % (1 << 31)
        b = x % n_nodes
        rows.append((a, b))
    return spark.createDataFrame(rows, "id_a long, id_b long")


def test_driver_equals_distributed_random_graph(spark, monkeypatch):
    e = _random_edges(spark)
    assert _labels(e) == _distributed_labels(e, monkeypatch)


def test_driver_min_label_hand_graph(spark):
    # chain 1-2-3 plus isolated pair 10-11: component = min reachable id
    e = spark.createDataFrame(
        [(2, 1), (2, 3), (11, 10)], "id_a long, id_b long"
    )
    assert _labels(e) == [
        (1, 1),
        (2, 1),
        (3, 1),
        (10, 10),
        (11, 10),
    ]


def test_driver_ignores_self_loops_and_empty(spark):
    loops = spark.createDataFrame([(5, 5)], "id_a long, id_b long")
    assert _labels(loops) == []
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert _labels(empty) == []


def test_budget_falls_back_to_distributed(spark, monkeypatch):
    # over-budget edge sets must take the star loop — same labels
    e = _random_edges(spark, n_nodes=40, n_edges=60)
    monkeypatch.setattr(graph, "CC_DRIVER_MAX_EDGES", 10)
    capped = _labels(e)
    monkeypatch.undo()
    assert capped == _labels(e)
