"""Source-identity-tagged temp cache directories for derived artifacts
(stream replay wires, day-partitioned fact copies, interchange files).

Every derived-on-disk artifact MUST be keyed by the identity of the
parquet it was built from — realpath + size + mtime — not just the
sf_dir path: the driver regenerated the testdata in place between
rounds 3 and 4 (same paths, new bytes and even a new timestamp
encoding), and a path-keyed cache would have replayed STALE data into
every hermetic streaming query, failing their oracles with no code at
fault. A regeneration now changes the tag, so the cache rebuilds
itself.
"""

from __future__ import annotations

import hashlib
import os
import tempfile


def _source(sf_dir: str, table: str) -> tuple[str, str]:
    """(resolved parquet path, cache-name prefix) of a source table. The
    prefix names the directory the parquet really lives in, so a table
    symlinked in from another sf dir is keyed by where its bytes are."""
    resolved = os.path.realpath(os.path.join(sf_dir, f"{table}.parquet"))
    return resolved, f"{os.path.basename(os.path.dirname(resolved))}_{table}_"


def source_tagged_dir(flavor: str, sf_dir: str, table: str) -> str:
    """Temp dir for an artifact derived from ``{sf_dir}/{table}.parquet``,
    whose name digests the source file's identity. A replay wire inside
    it is ready when ``sources.streams.wire_ready`` says so; other
    artifacts keep their own completion markers."""
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
