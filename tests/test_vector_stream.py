"""C151 — streaming SemDeDup: the dedup-necessity proof and the
streaming==batch membership identity.

The oracle pins max_arrivals to literal 1, so the hash check itself
certifies the dedup state collapsed the wire's injected duplicates.
These tests prove the CONVERSE half (the wire really injects
duplicates that REACH the state when dedup is removed — without this,
a broken wire would make the literal-1 pin vacuous) and that the
streaming membership equals the batch Lloyd assignment row for row."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR

from kafka_clickhouse_implementation_spark.operators.clustering import (
    ITERS,
    _eq_arrays,
    _lloyd_arrays,
    semdedup_k,
)
from kafka_clickhouse_implementation_spark.streaming.vector_stream import (
    _stream_coded_members,
    q_stream_semantic_dedup,
)


def test_wire_duplicates_reach_state_without_dedup(spark):
    """Remove the dropDuplicates stage: every vector arrives twice
    (the dup-*.json copies), so every (cid, vec_id) group must count
    2 arrivals — proving the duplicate injection works end to end and
    the dedup state in the real query is load-bearing, not decorative."""
    nodedup = _stream_coded_members(spark, SF_DIR, dedup=False)
    arrivals = {r.n_arrivals for r in nodedup.select("n_arrivals").distinct().collect()}
    assert arrivals == {2}


def test_streaming_membership_equals_batch_assignment(spark):
    """The drained (cid, vec_id) state must equal the batch Lloyd
    final assignment exactly (same codebook, same coding rule, same
    tie-break) — with every n_arrivals == 1 under dedup."""
    members = _stream_coded_members(spark, SF_DIR, dedup=True)
    assert {r.n_arrivals for r in members.select("n_arrivals").distinct().collect()} == {1}

    eq = _eq_arrays(spark, SF_DIR).localCheckpoint()
    k = semdedup_k(eq.count())
    asg, _, _ = _lloyd_arrays(spark, eq, k, ITERS)
    got = sorted((r.cid, r.vec_id) for r in members.collect())
    want = sorted((r.cid, r.vec_id) for r in asg.collect())
    assert got == want


def test_stream_semantic_dedup_drop_set_matches_batch(spark):
    """The streaming query's per-cluster pair/drop accounting must
    equal batch q_semantic_dedup's on the clusters that have pairs
    (the streaming output additionally lists pairless clusters with
    NULL pair stats)."""
    from kafka_clickhouse_implementation_spark.operators.clustering import (
        q_semantic_dedup,
    )

    got = {
        r.cluster_id: (r.n_pairs, r.n_close, r.n_drop, r.min_dist2)
        for r in q_stream_semantic_dedup(spark, SF_DIR).collect()
        if r.n_pairs is not None
    }
    want = {
        r.cluster_id: (r.n_pairs, r.n_close, r.n_drop, r.min_dist2)
        for r in q_semantic_dedup(spark, SF_DIR).collect()
    }
    assert got == want


def test_ann_index_upsert_idempotent_and_equals_batch_codes(spark):
    """C178: the streaming-maintained coded-vector table must (a)
    equal the batch training assignment exactly after latest-per-key
    resolution (coarse cells AND all 8 PQ codes per vector), and (b)
    be IDEMPOTENT under batch re-delivery — re-appending an epoch's
    byte-identical (key, version) rows leaves the resolved read-back
    unchanged. (a) is what the driver's unchanged C167 oracle
    certifies end to end; (b) is the exactly-once-from-at-least-once
    property the versioned upsert exists for."""
    from kafka_clickhouse_implementation_spark.operators.clustering import (
        PQ_K16,
        _pq_train,
        ivf_k,
    )
    from kafka_clickhouse_implementation_spark.plans.upsert import (
        append_versions,
        read_latest,
    )
    from kafka_clickhouse_implementation_spark.streaming.vector_stream import (
        stream_ann_index_upsert,
    )

    _root, path = stream_ann_index_upsert(spark, SF_DIR)

    def resolved():
        return {
            (r.vec_id, r.sub): r.cid
            for r in read_latest(
                spark, path, ("vec_id", "sub"), "version"
            ).collect()
        }

    got = resolved()
    eq = _eq_arrays(spark, SF_DIR).localCheckpoint()
    asg, _carr, _cents = _lloyd_arrays(spark, eq, ivf_k(eq.count()), ITERS)
    want = {(r.vec_id, -1): r.cid for r in asg.collect()}
    _pts, codes, _cdf, _acdf = _pq_train(spark, SF_DIR, pq_k=PQ_K16)
    want.update({(r.vec_id, r.sub): r.cid for r in codes.collect()})
    assert got == want

    versions = spark.read.parquet(path)
    v0 = versions.agg(F.min("version").alias("v")).head()["v"]
    n_before = versions.count()
    append_versions(versions.filter(F.col("version") == v0), path)
    assert spark.read.parquet(path).count() > n_before
    assert resolved() == want


def test_ann_index_product_loads_without_retraining(spark):
    """C178: once the product exists, ann_index_product is a pure
    path lookup (the published product's marker gates training), and the
    persisted books round-trip to the exact in-query trained models."""
    import os

    from kafka_clickhouse_implementation_spark.cachedirs import product_id
    from kafka_clickhouse_implementation_spark.operators.clustering import (
        PQ_K16,
        _pq_train,
        ivf_k,
    )
    from kafka_clickhouse_implementation_spark.streaming.vector_stream import (
        _load_coarse_book,
        ann_index_product,
    )

    root = ann_index_product(spark, SF_DIR)
    assert product_id(root) is not None
    eq = _eq_arrays(spark, SF_DIR).localCheckpoint()
    _asg, asg_carr, _cents = _lloyd_arrays(spark, eq, ivf_k(eq.count()), ITERS)
    assert _load_coarse_book(spark, root) == asg_carr
    _pts, _codes, cdf, acdf = _pq_train(spark, SF_DIR, pq_k=PQ_K16)
    for name, frame in (("pq_adc_book", cdf), ("pq_asg_book", acdf)):
        disk = sorted(
            map(tuple, spark.read.parquet(os.path.join(root, name)).collect())
        )
        assert disk == sorted(map(tuple, frame.collect())), name


def test_ann_coded_table_compaction_preserves_search(spark):
    """C178: compacting the maintained coded-vector table (the
    plans/upsert background-merge analogue) must leave the resolved
    index — and therefore the search — exactly as before: same
    latest-per-key codes, fewer rows on disk."""
    from kafka_clickhouse_implementation_spark.plans.upsert import (
        append_versions,
        compact_versions,
        read_latest,
    )
    from kafka_clickhouse_implementation_spark.streaming.vector_stream import (
        stream_ann_index_upsert,
    )

    _root, path = stream_ann_index_upsert(spark, SF_DIR)
    # inject stale versions so compaction has real work: re-append one
    # epoch's rows at version -1 (older than everything)
    versions = spark.read.parquet(path)
    v0 = versions.agg(F.min("version").alias("v")).head()["v"]
    stale = versions.filter(F.col("version") == v0).withColumn(
        "version", F.lit(-1).cast("long")
    )
    append_versions(stale, path)

    def resolved():
        return sorted(
            (r.vec_id, r.sub, r.cid)
            for r in read_latest(
                spark, path, ("vec_id", "sub"), "version"
            ).collect()
        )

    before = resolved()
    n_rows_before = spark.read.parquet(path).count()
    compact_versions(spark, path, ("vec_id", "sub"), "version")
    assert resolved() == before
    assert spark.read.parquet(path).count() < n_rows_before


def test_retrain_epoch_wins_resolution_and_history_pins(spark):
    """C188: after ann_index_retrain, (a) EVERY latest-per-key code row
    carries the retrain version (the epoch-2 re-code won resolution
    for every key), (b) the epoch-1 history remains resolvable under a
    version pin, and (c) the epoch-1-pinned search (epoch-1 books +
    pinned codes) equals the epoch-2 search on the un-drifted wire —
    the deterministic trainer reproduced the geometry, so the rebuild
    is lossless."""
    import os
    import shutil

    from kafka_clickhouse_implementation_spark.plans.upsert import read_latest
    from kafka_clickhouse_implementation_spark.streaming.vector_stream import (
        RETRAIN_VERSION_BASE,
        _search_maintained,
        ann_index_retrain,
        stream_ann_index_upsert,
    )

    # Own the table lifecycle: another test (test_upsert's C183
    # compaction) may have folded the version history — legitimate for
    # the table, but this test asserts ABOUT history, so force a fresh
    # epoch-1 drain + retrain by clearing the drain/recode markers.
    _root0, path0 = stream_ann_index_upsert(spark, SF_DIR)
    base = os.path.dirname(path0)
    for name in (
        "ann_codes_upsert_DRAINED",
        "ann_codes_recode_EPOCH2",
    ):
        p = os.path.join(base, name)
        if os.path.exists(p):
            os.remove(p)
    shutil.rmtree(path0, ignore_errors=True)
    shutil.rmtree(os.path.join(base, "ckpt_ann_codes_upsert"), ignore_errors=True)
    ep2, path = ann_index_retrain(spark, SF_DIR)
    latest = read_latest(spark, path, ("vec_id", "sub"), "version")
    assert latest.filter(F.col("version") < RETRAIN_VERSION_BASE).count() == 0
    assert latest.count() > 0
    root, _ = stream_ann_index_upsert(spark, SF_DIR)
    pinned = _search_maintained(
        spark, SF_DIR, root, path, version_below=RETRAIN_VERSION_BASE
    )
    assert pinned.count() > 0
    cur = _search_maintained(spark, SF_DIR, ep2, path)
    assert sorted(map(tuple, pinned.collect())) == sorted(
        map(tuple, cur.collect())
    )


def test_sq8_index_upsert_idempotent_and_equals_batch_codes(spark):
    """C197: the streaming-maintained SQ8 coded table must (a) equal
    the batch coding exactly after latest-per-key resolution (coarse
    cell AND the full d-long code array per vector), and (b) stay
    idempotent under batch re-delivery — the C178 acceptance pair on
    the scalar-quantizer family."""
    from kafka_clickhouse_implementation_spark.operators.clustering import (
        _pts_long,
        _sq8_codes,
        _sq8_train,
        ivf_k,
    )
    from kafka_clickhouse_implementation_spark.plans.upsert import (
        append_versions,
        read_latest,
    )
    from kafka_clickhouse_implementation_spark.streaming.vector_stream import (
        stream_ann_sq8_upsert,
    )

    _root, path = stream_ann_sq8_upsert(spark, SF_DIR)

    def resolved():
        return {
            r.vec_id: (r.cid, tuple(r.codes))
            for r in read_latest(spark, path, ("vec_id",), "version").collect()
        }

    got = resolved()
    eq = _eq_arrays(spark, SF_DIR).localCheckpoint()
    asg, _carr, _cents = _lloyd_arrays(spark, eq, ivf_k(eq.count()), ITERS)
    pts = _pts_long(spark, SF_DIR)
    codes = _sq8_codes(pts, _sq8_train(pts))
    want_codes: dict[int, dict[int, int]] = {}
    for r in codes.collect():
        want_codes.setdefault(r.vec_id, {})[r.dim] = r.code
    want = {
        r.vec_id: (
            r.cid,
            tuple(
                want_codes[r.vec_id][d]
                for d in sorted(want_codes[r.vec_id])
            ),
        )
        for r in asg.collect()
    }
    assert got == want

    versions = spark.read.parquet(path)
    v0 = versions.agg(F.min("version").alias("v")).head()["v"]
    n_before = versions.count()
    append_versions(versions.filter(F.col("version") == v0), path)
    assert spark.read.parquet(path).count() > n_before
    assert resolved() == want


def test_sq8_delete_wave_removes_marked_neighbors(spark):
    """C198: no delete-marked vec_id survives into the search results
    (as neighbor), and the result set is non-trivial — the anti-join
    sits before the shortlist, so survivors re-rank rather than
    leaving gaps (the oracle's survivor-restricted replay certifies
    the full ranking; this pins the visible contract)."""
    from kafka_clickhouse_implementation_spark.streaming.vector_stream import (
        DELETE_MOD,
        DELETE_RES,
        q_ann_sq8_delete,
    )

    rows = q_ann_sq8_delete(spark, SF_DIR).collect()
    assert rows
    assert all(r.neighbor_id % DELETE_MOD != DELETE_RES for r in rows)
