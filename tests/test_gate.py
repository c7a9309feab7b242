"""The shared driver-vs-distributed size gate (gate.driver_rows,
gate.driver_parquet)."""

from __future__ import annotations

import pytest

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


def _ids(path, n, start=0, dtype=None):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"id": pa.array(range(start, start + n), dtype or pa.int64())}), path)
    return str(path)


def _schema():
    import pyarrow as pa

    return pa.schema([("id", pa.int64())])


def test_driver_parquet_at_the_gate(tmp_path):
    """Files whose footers sum to exactly the gate come back as one
    table in the schema's types, from paths or open files."""
    import pyarrow as pa

    n = gate.DRIVER_MAX_ROWS
    a = _ids(tmp_path / "a.parquet", n - 5)
    b = _ids(tmp_path / "b.parquet", 5, start=n - 5, dtype=pa.int32())
    with open(b, "rb") as f:
        table = gate.driver_parquet([a, f], _schema())
        assert not f.closed
    assert table.schema == _schema()
    assert table.column("id").to_pylist() == list(range(n))


def test_driver_parquet_past_the_gate_reads_no_data_page(tmp_path):
    """One row past the gate returns None from the footers alone: the
    files' data pages are overwritten with zeros, and reading them
    would fail."""
    import pyarrow.parquet as pq

    n = gate.DRIVER_MAX_ROWS
    paths = [_ids(tmp_path / "a.parquet", n), _ids(tmp_path / "b.parquet", 1)]
    for p in paths:
        with open(p, "r+b") as f:
            size = f.seek(0, 2)
            f.seek(size - 8)
            footer = int.from_bytes(f.read(4), "little")
            f.seek(4)
            f.write(bytes(size - 8 - footer - 4))  # everything between the magic and the footer
        with pytest.raises(OSError, match="page header"):
            pq.read_table(p)
    assert gate.driver_parquet(paths, _schema()) is None


def test_driver_parquet_without_files():
    table = gate.driver_parquet([], _schema())
    assert table.num_rows == 0 and table.schema == _schema()
