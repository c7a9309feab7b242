"""Keyed upsert into a parquet table — the ReplacingMergeTree analogue.

ClickHouse's ReplacingMergeTree keeps the latest row per sorting key
(deduplicating during background merges; readers may see unmerged
versions until then). Here the contract is made explicit, like
layout.py does for SummingMergeTree:

- ``append_versions``  — writers just append new row versions (cheap,
  no read-modify-write, safe under concurrent batches).
- ``read_latest``      — readers resolve latest-per-key with one window
  rank (the FINAL-read analogue).
- ``compact_versions`` — the background merge: rewrite keeping only the
  winners, bounding table growth.

At 100 TB: appends are blind writes; the read-time rank shuffles once
on the key; compaction runs off-peak. For heavy update rates you'd
partition by key-hash so compaction is per-partition incremental.

A maintained table is derived from a published result product (the
books it was coded with, the tokenizer it was packed with), so a
finished drain stamps a marker file with that product's build id
(``cachedirs.product_id``). ``stamped_or_reset`` keeps the table, its
checkpoint and its marker while the stamp still matches; otherwise it
deletes the marker, the markers stamped over the table, then the dirs,
so the next drain rebuilds from scratch.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def stamped_or_reset(
    marker: str, identity: str, *dirs: str, dependents: tuple[str, ...] = ()
) -> bool:
    """True when ``marker`` is stamped with ``identity`` and every one of
    ``dirs`` exists. Otherwise remove ``marker`` and the ``dependents``
    (markers certifying state inside these dirs), then the dirs, and
    return False; markers go first, so a reset cut short never leaves a
    stamp over a half-deleted table."""
    try:
        with open(marker) as f:
            if f.read().strip() == identity and all(map(os.path.isdir, dirs)):
                return True
    except OSError:
        pass
    for m in (marker, *dependents):
        if os.path.exists(m):
            os.remove(m)
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    return False


def stamp(marker: str, identity: str) -> None:
    """Stamp ``marker`` with ``identity`` (temp name, then rename)."""
    with open(marker + ".tmp", "w") as f:
        f.write(identity + "\n")
    os.replace(marker + ".tmp", marker)


def append_versions(updates: DataFrame, path: str) -> None:
    updates.write.mode("append").parquet(path)


def read_latest(
    spark: SparkSession, path: str, key_cols: tuple[str, ...], version_col: str
) -> DataFrame:
    """Latest row version per key (ties on version broken arbitrarily
    but deterministically by the remaining sort of the window — pass a
    unique version column for full determinism)."""
    df = spark.read.parquet(path)
    w = Window.partitionBy(*key_cols).orderBy(F.col(version_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def compact_versions(
    spark: SparkSession,
    path: str,
    key_cols: tuple[str, ...],
    version_col: str,
    drop_keys: DataFrame | None = None,
    drop_on: list[str] | None = None,
) -> None:
    """Background-merge analogue: materialize the winners and rewrite.

    ``drop_keys`` (with join columns ``drop_on``, default the marker
    frame's own columns) physically removes deleted keys during the
    merge — the ClickHouse mutation-materialization semantics composed
    onto the ReplacingMergeTree merge (C183): the read path applies
    markers via broadcast anti-join until a compaction folds them in,
    after which the plain read needs no marker join.

    Writes to a temporary sibling and renames it over the old path —
    never overwrites the directory its own plan reads from (cache() is
    not fault-tolerant; an executor loss mid-overwrite would recompute
    from already-deleted files). Shares layout.py's marker-committed
    swap protocol: any crash state from a previous compaction is
    repaired first, and parked remnant row-versions are folded into
    this merge (harmless double-reads resolve via the latest-per-key
    rank) and deleted only after the new path is durably in place."""
    from kafka_clickhouse_implementation_spark.plans.layout import (
        _parked_dirs,
        _recover_swap,
        _swap_in,
        _swap_names,
    )

    _recover_swap(path)
    parked = _parked_dirs(path)
    src = spark.read.parquet(path)
    for p in parked:
        src = src.unionByName(spark.read.parquet(p))
    w = Window.partitionBy(*key_cols).orderBy(F.col(version_col).desc())
    latest = (
        src.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if drop_keys is not None:
        latest = latest.join(
            F.broadcast(drop_keys),
            drop_on or list(drop_keys.columns),
            "left_anti",
        )
    _, tmp, _ = _swap_names(path)
    latest.write.mode("overwrite").parquet(tmp)
    _swap_in(path, tmp, folded=parked)
