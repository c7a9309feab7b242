"""Cache-dir naming: product_dir and purge_result_products must agree on
which products belong to an sf dir."""

from __future__ import annotations

import os
import tempfile

from kafka_clickhouse_implementation_spark.cachedirs import (
    product_dir,
    purge_result_products,
)


def test_purge_follows_symlinked_table_parquet(tmp_path, monkeypatch):
    """A table parquet symlinked in from another directory names its
    products after the directory it really lives in; purging the sf dir
    that holds the link must still delete them, and nothing else."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    store = tmp_path / "store"
    sf = tmp_path / "sf_link"
    other = tmp_path / "sf_other"
    for d in (store, sf, other):
        d.mkdir()
    (store / "documents.parquet").write_bytes(b"docs")
    os.symlink(store / "documents.parquet", sf / "documents.parquet")
    (sf / "events.parquet").write_bytes(b"events")
    (other / "documents.parquet").write_bytes(b"other docs")

    linked = product_dir("feats", str(sf), "documents")
    direct = product_dir("fact", str(sf), "events")
    unrelated = product_dir("feats", str(other), "documents")
    assert os.path.basename(linked).startswith("store_documents_")
    for d in (linked, direct, unrelated):
        os.makedirs(d)

    purged = purge_result_products(str(sf))
    assert sorted(purged) == sorted(os.path.basename(d) for d in (linked, direct))
    assert not os.path.exists(linked) and not os.path.exists(direct)
    assert os.path.isdir(unrelated)
