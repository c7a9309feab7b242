"""The shared driver-vs-distributed size gate (gate.driver_rows)."""

from __future__ import annotations

from kafka_clickhouse_implementation_spark import gate


def test_driver_rows_at_and_past_the_default_gate(spark):
    n = gate.DRIVER_MAX_ROWS
    assert n == 65536
    assert gate.driver_rows(spark.range(0)) == []
    rows = gate.driver_rows(spark.range(n))
    assert rows is not None and sorted(r.id for r in rows) == list(range(n))
    assert gate.driver_rows(spark.range(n + 1)) is None


def test_driver_rows_reads_the_constant_at_call_time(spark, monkeypatch):
    monkeypatch.setattr(gate, "DRIVER_MAX_ROWS", 3)
    assert gate.driver_rows(spark.range(0)) == []
    assert [r.id for r in gate.driver_rows(spark.range(3))] == [0, 1, 2]
    assert gate.driver_rows(spark.range(4)) is None
    monkeypatch.setattr(gate, "DRIVER_MAX_ROWS", 0)
    assert gate.driver_rows(spark.range(0)) == []
    assert gate.driver_rows(spark.range(1)) is None
