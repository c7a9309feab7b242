"""Connected-components operator: crafted graph shapes."""

from __future__ import annotations

from kafka_clickhouse_implementation_spark.operators.components import (
    connected_components,
)


def test_chain_star_and_pair(spark):
    # chain 1-2-3-4, star 10-{11,12,13}, pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (20, 21)],
        "src long, dst long",
    )
    got = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20}


def test_min_label_is_order_independent(spark):
    # same graph, edges reversed and shuffled — identical components
    edges = spark.createDataFrame(
        [(9, 3), (3, 7), (7, 1), (5, 6)], "src long, dst long"
    )
    got = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 3: 1, 7: 1, 9: 1, 5: 5, 6: 5}


def test_adversarial_long_chain_converges_in_log_rounds(spark, monkeypatch):
    """A 1000-node path graph is the worst case for plain min-label
    propagation (O(diameter) = 1000 rounds); large-star/small-star must
    collapse it within a ≤20-round budget. The driver union-find gate
    is forced off so the DISTRIBUTED loop is what's exercised."""
    from kafka_clickhouse_implementation_spark import gate

    monkeypatch.setattr(gate, "DRIVER_MAX_ROWS", 0)
    n = 1000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    got = connected_components(edges, max_iter=20).collect()
    assert len(got) == n
    assert all(r["comp"] == 0 for r in got)


def test_nonconvergence_raises_instead_of_wrong_labels(spark, monkeypatch):
    import pytest

    from kafka_clickhouse_implementation_spark import gate

    monkeypatch.setattr(gate, "DRIVER_MAX_ROWS", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1)


def test_driver_union_find_equals_distributed_loop(spark, monkeypatch):
    """r15 optimization guard: the small-graph driver union-find path
    and the distributed star loop label the same graph identically —
    chains, stars, self-loops, isolated pairs, shuffled edge order."""
    from kafka_clickhouse_implementation_spark import gate

    raw = (
        [(i, i + 1) for i in range(0, 40)]
        + [(100, 100 + j) for j in range(1, 6)]
        + [(201, 200), (202, 201), (300, 300), (401, 402)]
    )
    edges = spark.createDataFrame(raw[::-1], "src long, dst long")
    fast = {
        r["id"]: r["comp"] for r in connected_components(edges).collect()
    }
    monkeypatch.setattr(gate, "DRIVER_MAX_ROWS", 0)
    slow = {
        r["id"]: r["comp"] for r in connected_components(edges).collect()
    }
    assert fast == slow and len(fast) > 0


def test_self_loop_nodes_survive_single_edge_materialization(spark):
    """r15 optimization guard: nodes are now derived from the ONE
    materialized canonical edge set (so the expensive upstream edge
    chain is evaluated once, not twice) — self-loop-only nodes must
    still appear in the labeling with comp == id, and mixed self-loop
    + real-edge nodes must keep their component."""
    edges = spark.createDataFrame(
        [(5, 5), (1, 2), (2, 2), (7, 7)], "src long, dst long"
    )
    got = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 5: 5, 7: 7}
