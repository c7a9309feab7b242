"""Source-identity-tagged temp cache directories for derived artifacts
(stream replay wires, day-partitioned fact copies, interchange files),
and the one build-once convention for computed result products.

Every derived-on-disk artifact MUST be keyed by the identity of the
parquet it was built from — realpath + size + mtime — not just the
sf_dir path: the driver regenerated the testdata in place between
rounds 3 and 4 (same paths, new bytes and even a new timestamp
encoding), and a path-keyed cache would have replayed STALE data into
every hermetic streaming query, failing their oracles with no code at
fault. A regeneration now changes the tag, so the cache rebuilds
itself.

A result product (a feature table, a clipped corpus, a tokenizer, a
trained index's books) is built once per root and read many times:

- ``publish_product(root, build, partition_by)`` returns at once if
  ``root`` holds a published product. Otherwise it deletes ``root``
  (whatever a failed build left there), calls ``build()`` for a
  ``{name: DataFrame}`` dict and writes each table with Spark as
  parquet under ``root/<name>`` (``partitionBy`` for the names in
  ``partition_by``). Each table's schema is recorded in its
  ``_schema.json`` (the ``plans.layout`` fact-table convention): what a
  read with the frame's schema returns, partition columns typed from
  their directory values as inference types them, with no footer
  inference. The marker ``_PRODUCT_PUBLISHED`` is written last; it
  names the tables and holds a fresh build id, so a root without it is
  rebuilt from scratch on next use.
- ``read_product(spark, root)`` returns every table of the published
  product read with its recorded schema: no read-back runs a schema
  inference job.
- ``product_id(root)`` is the build id, or ``None`` while nothing is
  published; state stamped with it (a maintained coded table, a
  re-code) is invalidated by every rebuild.

A product may sit inside another's root (the epoch-2 books, the unigram
shards): the outer build deletes it with the root, and each reader
reads only the tables its own marker names.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable
from typing import TYPE_CHECKING

from pyspark.sql import types as T

from kafka_clickhouse_implementation_spark.plans.layout import (
    record_schema,
    recorded_schema,
)

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

PUBLISHED = "_PRODUCT_PUBLISHED"


def _source(sf_dir: str, table: str) -> tuple[str, str]:
    """(resolved parquet path, cache-name prefix) of a source table. The
    prefix names the directory the parquet really lives in, so a table
    symlinked in from another sf dir is keyed by where its bytes are."""
    resolved = os.path.realpath(os.path.join(sf_dir, f"{table}.parquet"))
    return resolved, f"{os.path.basename(os.path.dirname(resolved))}_{table}_"


def source_tagged_dir(flavor: str, sf_dir: str, table: str) -> str:
    """Temp dir for an artifact derived from ``{sf_dir}/{table}.parquet``,
    whose name digests the source file's identity. A replay wire inside
    it is ready when ``sources.streams.wire_ready`` says so, a product
    when ``product_id`` returns its build id."""
    resolved, prefix = _source(sf_dir, table)
    st = os.stat(resolved)
    tag = hashlib.md5(
        f"{resolved}|{st.st_size}|{st.st_mtime_ns}".encode()
    ).hexdigest()[:12]
    return os.path.join(
        tempfile.gettempdir(),
        "spark_graft_cache",
        f"{prefix}{flavor}_{tag}",
    )


# Computed RESULT products (near-dup pair frames, clipped corpora,
# feature tables, shard/tokenizer artifacts) live in their own
# namespace, separate from replay-wire fixtures and the persisted
# upsert-maintained indexes whose cross-run persistence is the
# certified semantic (incremental maintenance). The split exists so a
# bench run can prove it paid every result-product build itself
# (r15 verdict #1): bench.py purges this namespace at run start and
# reports each rebuild as its own timed fixture line, while wires —
# INPUT data, not computed answers — stay cached.


def product_dir(flavor: str, sf_dir: str, table: str) -> str:
    """Like :func:`source_tagged_dir` but for computed RESULT products;
    the returned dir sits under the purgeable ``result_products``
    namespace."""
    tagged = source_tagged_dir(flavor, sf_dir, table)
    return os.path.join(
        os.path.dirname(tagged), "result_products", os.path.basename(tagged)
    )


def purge_result_products(sf_dir: str | None = None) -> list[str]:
    """Delete cached result products (all of them, or only those built
    from ``sf_dir``'s tables) so the next touch rebuilds from parquet.
    Returns the deleted dir names."""
    import shutil

    root = os.path.join(
        tempfile.gettempdir(), "spark_graft_cache", "result_products"
    )
    if not os.path.isdir(root):
        return []
    prefixes = None
    if sf_dir is not None:
        # the prefixes product_dir gives the products of each table
        prefixes = tuple(
            _source(sf_dir, f[: -len(".parquet")])[1]
            for f in os.listdir(sf_dir)
            if f.endswith(".parquet")
        )
    purged = []
    for name in sorted(os.listdir(root)):
        if prefixes is not None and not name.startswith(prefixes):
            continue
        shutil.rmtree(os.path.join(root, name), ignore_errors=True)
        purged.append(name)
    return purged


def product_id(root: str) -> str | None:
    """The build id of the product published under ``root``, or ``None``."""
    try:
        with open(os.path.join(root, PUBLISHED)) as f:
            return json.load(f)["id"]
    except (OSError, ValueError, KeyError):
        return None


def publish_product(
    root: str,
    build: Callable[[], dict[str, DataFrame]],
    partition_by: dict[str, str] | None = None,
) -> str:
    """Build and publish the product under ``root`` unless it is
    published already (see the module docstring); returns ``root``."""
    if product_id(root) is not None:
        return root
    shutil.rmtree(root, ignore_errors=True)
    tables = build()
    for name, df in tables.items():
        path = os.path.join(root, name)
        part = (partition_by or {}).get(name)
        writer = df.write.mode("overwrite")
        (writer.partitionBy(part) if part else writer).parquet(path)
        data = T.StructType([f for f in df.schema.fields if f.name != part])
        record_schema(path, df.sparkSession.read.schema(data).parquet(path).schema)
    tmp = os.path.join(root, PUBLISHED + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"id": uuid.uuid4().hex, "tables": list(tables)}, f)
    os.replace(tmp, os.path.join(root, PUBLISHED))
    return root


def read_product(spark: SparkSession, root: str) -> dict[str, DataFrame]:
    """Every table of the product published under ``root``, read with
    its recorded schema."""
    with open(os.path.join(root, PUBLISHED)) as f:
        paths = [os.path.join(root, n) for n in json.load(f)["tables"]]
    return {
        os.path.basename(p): spark.read.schema(recorded_schema(p)).parquet(p)
        for p in paths
    }
