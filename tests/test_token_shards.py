"""C177 packed training shards: the detokenization contract — the
shards plus the shipped vocab must reconstruct the kept corpus
verbatim (the round-12 verdict's acceptance test), plus packing-shape
invariants."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.pipelines.shards import (
    EOS,
    N_SHARDS,
    SEQ_LEN,
    clean_kept_slice,
    write_token_shards,
)

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def product(spark):
    shards_dir, vocab_dir = write_token_shards(spark, SF)
    shards = spark.read.parquet(shards_dir)
    vocab = {r.tok_id: r.piece for r in spark.read.parquet(vocab_dir).collect()}
    return shards, vocab


def test_detokenized_shards_reconstruct_kept_text(spark, product):
    """Round-trip: shards + vocab -> token stream -> piece stream ->
    documents (EOS cuts) -> words ('_' end-of-word marker cuts) must
    equal the kept corpus's word sequences doc for doc, in doc_id
    order. (The corpus alphabet is [a-z ]; a word containing the
    literal marker would alias — outside the BPE module's declared
    alphabet contract.)"""
    shards, vocab = product
    rows = shards.select("seq_id", "tok_ids").orderBy("seq_id").collect()
    stream = [t for r in rows for t in r.tok_ids]

    docs_out: list[list[str]] = []
    cur: list[str] = []
    for t in stream:
        if vocab[t] == EOS:
            joined = "".join(cur)
            assert joined.endswith("_"), joined[-20:]
            docs_out.append([w for w in joined.split("_") if w != ""])
            cur = []
        else:
            cur.append(vocab[t])
    assert cur == [], "stream must end on a document boundary (EOS)"

    kept = (
        clean_kept_slice(spark, SF)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    )
    assert len(docs_out) == len(kept)
    for rec, k in zip(docs_out, kept):
        want = [w for w in k.text.split(" ") if w != ""]
        assert rec == want, f"doc {k.doc_id} detokenized differently"


def test_packing_shape(spark, product):
    """Sequences are contiguous ids, exactly SEQ_LEN tokens except the
    single tail, sharded by seq_id % N_SHARDS, and provenance counts
    match the arrays on disk."""
    shards, _ = product
    rows = shards.select(
        "seq_id", "shard", "n_tokens", F.size("tok_ids").alias("sz")
    ).collect()
    ids = sorted(r.seq_id for r in rows)
    assert ids == list(range(len(ids)))
    last = max(ids)
    for r in rows:
        assert r.n_tokens == r.sz
        assert r.shard == r.seq_id % N_SHARDS
        if r.seq_id != last:
            assert r.n_tokens == SEQ_LEN
        else:
            assert 1 <= r.n_tokens <= SEQ_LEN


def test_vocab_ids_dense_with_reserved_eos(spark, product):
    """tok_ids are the 1-based rank of the sorted piece vocabulary;
    0 is reserved for EOS; ids are dense and pieces unique."""
    _, vocab = product
    assert vocab[0] == EOS
    ids = sorted(vocab)
    assert ids == list(range(len(ids)))
    pieces = [vocab[i] for i in ids[1:]]
    assert pieces == sorted(pieces)
    assert len(set(pieces)) == len(pieces)


def test_segmentation_join_broadcast_gate(spark):
    """The round-14 byte gate: at test scale the word-piece table is
    broadcast (its estimated bytes are tiny); forcing the decision to
    False must DROP the hint so the join shuffles — with identical
    results (the gate changes the physical strategy only). Pin the
    big-vocab physical plan by disabling auto-broadcast, like
    test_tokenize_broadcast_guard."""
    from kafka_clickhouse_implementation_spark.pipelines.shards import (
        shard_inputs,
        token_rows,
        wpieces_fits_broadcast,
    )

    kept, wpieces, vocab = shard_inputs(spark, SF)
    assert wpieces_fits_broadcast(wpieces) is True
    bc = token_rows(kept, wpieces, vocab, wp_broadcast=True)
    assert (
        "BroadcastHashJoin"
        in bc._jdf.queryExecution().executedPlan().toString()
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sh = token_rows(kept, wpieces, vocab, wp_broadcast=False)
        plan = sh._jdf.queryExecution().executedPlan().toString()
        # the vocab (piece -> tok_id) join stays broadcast even here:
        # it is structurally model-sized. Only the WORD-keyed
        # segmentation join must have shuffled.
        assert "SortMergeJoin [w" in plan or "ShuffledHashJoin [w" in plan, plan
        rows_sh = sorted(map(tuple, sh.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert sorted(map(tuple, bc.collect())) == rows_sh


def test_shard_vocab_trained_at_production_budget(spark):
    """The shipped token products ride the BATCHED trainer (r13
    verdict #1): the persisted piece vocabulary must reflect more
    merges than the 12-round teaching loop could ever produce, and
    stay within the structural model bound (alphabet + merge budget)
    that justifies the unconditional vocab broadcast."""
    from kafka_clickhouse_implementation_spark.pipelines.shards import (
        SHARD_BATCH_N,
        SHARD_BPE_ROUNDS,
        shard_inputs,
    )

    _kept, _wpieces, vocab = shard_inputs(spark, SF)
    n_pieces = vocab.count() - 1  # minus EOS
    # > alphabet + 12 singles ==> the batched trainer demonstrably ran
    assert n_pieces > 27 + 12
    assert n_pieces <= 27 + SHARD_BPE_ROUNDS * SHARD_BATCH_N


def test_resampled_mixture_moves_to_target(spark):
    """C181 acceptance: for every targeted source, the ACHIEVED token
    share of the resampled stream is at least as close to target as
    the unresampled baseline share (small hash-noise slack at this
    25-doc-per-source scale), and the total deviation strictly
    improves."""
    from kafka_clickhouse_implementation_spark.pipelines.shards import (
        _RESAMPLE_TARGET_PERMILLE,
        bpe_piece_table,
        q_shard_mixture_resampled,
        token_rows,
        token_vocab,
    )

    kept = clean_kept_slice(spark, SF).localCheckpoint()
    wpieces = bpe_piece_table(spark, SF).localCheckpoint()
    vocab = token_vocab(wpieces).localCheckpoint()
    base = {
        r.source: r.n
        for r in token_rows(kept, wpieces, vocab)
        .groupBy("source")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    btot = sum(base.values())
    got = {r.source: r for r in q_shard_mixture_resampled(spark, SF).collect()}
    slack = 60.0  # permille; fractional-hash noise on ~25 docs/source
    dev_base = dev_ach = 0.0
    for src, target in _RESAMPLE_TARGET_PERMILLE.items():
        base_pm = 1000.0 * base.get(src, 0) / btot
        ach_pm = (
            got[src].achieved_permille_milli / 1000.0 if src in got else 0.0
        )
        assert abs(ach_pm - target) <= abs(base_pm - target) + slack, (
            src,
            base_pm,
            ach_pm,
            target,
        )
        dev_base += abs(base_pm - target)
        dev_ach += abs(ach_pm - target)
    assert dev_ach < dev_base


def test_curriculum_pack_mixes_prefixes(spark):
    """C189 acceptance: (a) the curriculum pack is a REORDERING — its
    total token count and per-source token counts equal the
    doc-ordered C181 rollup's exactly; (b) the ordering does what it
    exists for — both targeted sources appear within the first
    PREFIX_SEQS sequences (the doc-ordered pack, by contrast, runs
    through id-blocks of one source first)."""
    from kafka_clickhouse_implementation_spark.pipelines.shards import (
        q_shard_mixture_resampled,
        q_token_shards_curriculum,
    )

    rows = sorted(
        q_token_shards_curriculum(spark, SF).collect(),
        key=lambda r: r.seq_id,
    )
    rollup = q_shard_mixture_resampled(spark, SF).collect()
    assert sum(r.n_tokens for r in rows) == sum(r.n_tokens for r in rollup)
    targeted = {r.source for r in rollup if r.n_tokens > 0}
    PREFIX_SEQS = 5
    prefix_sources = {
        s for r in rows[:PREFIX_SEQS] for s in r.sources.split(",")
    }
    assert targeted <= prefix_sources, (targeted, prefix_sources)


def test_stream_shards_upsert_idempotent_and_equals_batch(spark):
    """C186 acceptance: (a) the stream-maintained sequence table
    resolves to EXACTLY the batch-written C184 product's read-back;
    (b) a second drain over the unchanged wire (marker + checkpoint
    intact) leaves the resolved state bit-identical; (c) a crash-style
    re-delivery — appending a byte-identical copy of the newest
    version rows, which is what a replayed foreachBatch epoch does —
    leaves the latest-per-key read unchanged."""
    from kafka_clickhouse_implementation_spark.pipelines.shards import (
        q_stream_shards_upsert,
        q_token_shards_resampled,
        stream_resampled_shards_upsert,
    )
    from kafka_clickhouse_implementation_spark.plans.upsert import (
        append_versions,
        read_latest,
    )

    rows1 = sorted(map(tuple, q_stream_shards_upsert(spark, SF).collect()))
    batch = sorted(
        map(tuple, q_token_shards_resampled(spark, SF).collect())
    )
    assert rows1 == batch
    # (b) re-drain: the intact checkpoint sees zero unseen wire files
    path = stream_resampled_shards_upsert(spark, SF)
    rows2 = sorted(map(tuple, q_stream_shards_upsert(spark, SF).collect()))
    assert rows2 == rows1
    # (c) replayed-epoch append of identical versions
    cur = spark.read.parquet(path)
    vmax = cur.agg(F.max("version")).first()[0]
    append_versions(cur.filter(F.col("version") == vmax), path)
    resolved = read_latest(spark, path, ("seq_id",), "version").filter(
        "NOT deleted"
    )
    assert resolved.count() == len(rows1)
    rows3 = sorted(map(tuple, q_stream_shards_upsert(spark, SF).collect()))
    assert rows3 == rows1
    # (d) compaction: materialize the winners (dropping any tombstoned
    # keys physically, the C183 recipe) and re-resolve — unchanged
    from kafka_clickhouse_implementation_spark.plans.upsert import (
        compact_versions,
    )

    tomb = (
        read_latest(spark, path, ("seq_id",), "version")
        .filter("deleted")
        .select("seq_id")
    )
    compact_versions(
        spark, path, ("seq_id",), "version",
        drop_keys=tomb, drop_on=["seq_id"],
    )
    rows4 = sorted(map(tuple, q_stream_shards_upsert(spark, SF).collect()))
    assert rows4 == rows1


def test_resampled_shards_product_shape(spark):
    """C184: the written mixed product is structurally sound — every
    sequence except the tail is exactly SEQ_LEN tokens, seq_ids are
    dense from 0, shard == seq_id % N_SHARDS, and the total token
    count equals the C181 rollup's total (the file set and the
    accounting view of the same stream cannot disagree)."""
    from kafka_clickhouse_implementation_spark.pipelines.shards import (
        q_shard_mixture_resampled,
        write_resampled_shards,
    )

    shards_dir = write_resampled_shards(spark, SF)
    rows = (
        spark.read.option("basePath", shards_dir)
        .parquet(shards_dir)
        .select("seq_id", "shard", F.size("tok_ids").alias("n"))
        .orderBy("seq_id")
        .collect()
    )
    assert [r.seq_id for r in rows] == list(range(len(rows)))
    assert all(r.shard == r.seq_id % N_SHARDS for r in rows)
    assert all(r.n == SEQ_LEN for r in rows[:-1])
    assert 0 < rows[-1].n <= SEQ_LEN
    total_files = sum(r.n for r in rows)
    total_rollup = sum(
        r.n_tokens for r in q_shard_mixture_resampled(spark, SF).collect()
    )
    assert total_files == total_rollup


def test_stream_curriculum_equals_batch_and_wire_has_dups(spark):
    """C192 acceptance: (a) the streamed curriculum pack equals the
    batch C189 pack row for row; (b) the document wire actually
    re-delivers duplicate doc_ids (so the stateful dedup stage the
    streamed path runs is load-bearing, not decorative)."""
    from kafka_clickhouse_implementation_spark.pipelines.shards import (
        SHARD_SLICE_MOD,
        q_stream_shards_curriculum,
        q_token_shards_curriculum,
    )
    from kafka_clickhouse_implementation_spark.sources.streams import read_wire
    from kafka_clickhouse_implementation_spark.streaming.corpus_stream import document_wire

    streamed = sorted(
        map(tuple, q_stream_shards_curriculum(spark, SF).collect())
    )
    batch = sorted(map(tuple, q_token_shards_curriculum(spark, SF).collect()))
    assert streamed == batch
    wire, _base = document_wire(spark, SF)
    raw = (
        read_wire(spark, wire, batch=True)
        .filter(F.col("doc_id") % SHARD_SLICE_MOD == 0)
    )
    assert raw.count() > raw.select("doc_id").distinct().count()


def test_resampled_token_stream_equals_text_level_resample(spark):
    """r15 optimization guard: the single-tokenize instance token rows
    (copies exploded on the tokenized kept rows) are row-for-row the
    token_rows of the text-level resampled instance corpus."""
    from kafka_clickhouse_implementation_spark.pipelines.shards import (
        _RESAMPLE_TARGET_PERMILLE,
        resample_weights,
        resampled_instance_ids,
        resampled_instances,
        resampled_token_stream,
        shard_inputs,
        token_rows,
        wpieces_fits_broadcast,
    )

    kept, wpieces, vocab = shard_inputs(spark, SF)
    wp_bc = wpieces_fits_broadcast(wpieces)

    wq_new, inst_rows = resampled_token_stream(
        kept, wpieces, vocab, _RESAMPLE_TARGET_PERMILLE, wp_bc
    )
    wq_old = resample_weights(
        kept, wpieces, vocab, _RESAMPLE_TARGET_PERMILLE, wp_bc
    )
    assert sorted(map(tuple, wq_new.collect())) == sorted(
        map(tuple, wq_old.collect())
    )

    inst_text = resampled_instances(kept, wq_old)
    old_rows = token_rows(inst_text, wpieces, vocab, wp_bc)
    new = sorted(map(tuple, inst_rows.collect()))
    old = sorted(map(tuple, old_rows.collect()))
    assert new == old and len(new) > 0

    ids_new = sorted(
        map(tuple, resampled_instance_ids(kept, wq_new).collect())
    )
    ids_old = sorted(
        map(tuple, inst_text.select("doc_id", "source").collect())
    )
    assert ids_new == ids_old
