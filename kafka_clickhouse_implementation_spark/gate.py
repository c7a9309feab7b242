"""The driver-vs-distributed size gate, shared by every loop that has a
driver fast path.

Several iterative algorithms here (Lloyd k-means, unigram hard EM, BPE
merges, union-find components, the MMR greedy) run many rounds over an
input that is usually model-sized: a vocabulary, an edge set, a
candidate list, a few thousand vectors. Distributed, each round costs
one or more Spark jobs of mostly scheduling and planning overhead, while
the data is small. Below the gate the input is collected once and the
loop replays the identical arithmetic in Python; above it, the
unchanged distributed loop runs (the MMR greedy, which has none,
raises), so no input can exhaust driver memory.

The same gate decides where the fact table and rollup writers in
``plans.layout`` run (``write_day_partitioned``, ``write_rollup_batch``)
and where the rollup is read and merged (``read_rollup``,
``compact_rollup``). A live micro-batch or a rollup's partials are a
few thousand rows, so below the gate each writer pulls its input once as
Arrow (``driver_arrow``), sorts or aggregates it in pyarrow and writes
the parquet files itself: one Spark job per write instead of a shuffle
job plus a write job. The rollup's partials are parquet files already,
so ``driver_parquet`` sizes them from their footers and reads them with
pyarrow: a rollup read or compaction below the gate runs no Spark job at
all. Above the gate the unchanged Spark plans run.

``DRIVER_MAX_ROWS`` is the single ceiling: 65536 rows, at most 32 MB of
payload at the widest of these inputs (64 longs per vector), above
every input the tested scale factors produce at the gated sites and far
below driver trouble. Callers read it through this module at call time
(``gate.DRIVER_MAX_ROWS``), so a test can patch it to 0 and pin the
distributed path.
"""

from __future__ import annotations

from collections.abc import Iterable
from contextlib import ExitStack
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame, Row

if TYPE_CHECKING:
    import pyarrow as pa

DRIVER_MAX_ROWS = 65536


def driver_rows(df: DataFrame) -> list[Row] | None:
    """All of ``df``'s rows when there are at most ``DRIVER_MAX_ROWS``,
    else ``None``. One ``limit(N + 1).collect()``: the fetch is the size
    check, so a frame under the gate is never counted and then read
    again. An empty frame returns ``[]``; each caller keeps its own
    empty-input rule."""
    n = DRIVER_MAX_ROWS
    rows = df.limit(n + 1).collect()
    return rows if len(rows) <= n else None


def driver_arrow(df: DataFrame) -> pa.Table | None:
    """``driver_rows`` for the Arrow consumers: all of ``df`` as one
    ``pyarrow.Table`` when it has at most ``DRIVER_MAX_ROWS`` rows, else
    ``None``. One ``limit(N + 1).toArrow()``, so one Spark job either
    way; an empty frame returns a 0-row table with ``df``'s columns."""
    n = DRIVER_MAX_ROWS
    table = df.limit(n + 1).toArrow()
    return table if table.num_rows <= n else None


def driver_parquet(files: Iterable[Any], schema: pa.Schema) -> pa.Table | None:
    """The parquet ``files`` (paths or open binary files) as one
    ``pyarrow.Table`` with ``schema``'s columns and types when their
    footers sum to at most ``DRIVER_MAX_ROWS`` rows, else ``None``. The
    size check reads only the footers, so a set past the gate costs no
    data page, and no Spark job runs either way; no files give a 0-row
    table with ``schema``. The caller's open files stay open."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    with ExitStack() as stack:
        # a ParquetFile closes only the files it opened from a path
        parts = [stack.enter_context(pq.ParquetFile(f)) for f in files]
        if sum(p.metadata.num_rows for p in parts) > DRIVER_MAX_ROWS:
            return None
        tables = [p.read(columns=schema.names).select(schema.names).cast(schema) for p in parts]
    return pa.concat_tables(tables) if tables else schema.empty_table()
