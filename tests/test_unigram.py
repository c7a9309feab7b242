"""C145/C146 — independent pure-Python replay of the whole hard-EM
unigram-LM loop (seed → scores → Viterbi → recount → prune, UNI_ROUNDS
rounds), compared against the Spark trajectory and tokenize outputs on
crafted docs AND the real sf0.001 corpus. The Python Viterbi uses exact
ints and pln_py (the CPython leg of the three-engine pln identity), so
a match certifies every dp cell, backpointer, and prune decision."""

from __future__ import annotations

import collections
import math

import pyarrow.parquet as pq

from tests.conftest import SF_DIR

from kafka_clickhouse_implementation_spark.functions.portable_math import pln_py
from kafka_clickhouse_implementation_spark.operators.unigram_lm import (
    UNI_L,
    UNI_MULTI,
    UNI_ROUNDS,
    _MAX_WLEN,
    _SENT,
)


def _replay(word_freq: dict[str, int], rounds: int = UNI_ROUNDS):
    """Full EM replay. Returns (trajectory rows, final {w: npieces}).
    ``rounds`` (default UNI_ROUNDS) lets the convergence pin run the
    curve PAST the declared round count."""
    sub: collections.Counter = collections.Counter()
    for w, f in word_freq.items():
        pieces = set()
        for i in range(len(w)):
            for l in range(1, min(UNI_L, len(w) - i) + 1):
                pieces.add(w[i : i + l])
        for p in pieces:
            sub[p] += f
    singles = sorted(p for p in sub if len(p) == 1)

    def prune(counts):
        v = {p: counts.get(p, 0) + 1 for p in singles}
        multis = sorted(
            ((p, c) for p, c in counts.items() if len(p) >= 2),
            key=lambda x: (-x[1], x[0]),
        )[:UNI_MULTI]
        v.update(dict(multis))
        return v

    def viterbi(w, sc):
        n = len(w)
        dp = [(0, 0)]
        for i in range(1, n + 1):
            best = None
            for j in range(max(0, i - UNI_L), i):
                s = dp[j][0] + sc.get(w[j:i], _SENT)
                enc = (s + 2**50) * 128 + (127 - j)
                if best is None or enc > best[0]:
                    best = (enc, j, s)
            dp.append((best[2], best[1]))
        path = [n]
        while path[0] != 0:
            path.insert(0, dp[path[0]][1])
        segs = [w[path[k] : path[k + 1]] for k in range(len(path) - 1)]
        return segs, dp[n][0]

    v = prune(sub)
    traj = []
    final_np: dict[str, int] = {}
    for r in range(1, rounds + 1):
        t_total = sum(v.values())
        top = min(((-c, p) for p, c in v.items()))
        sc = {p: math.floor(pln_py(c / t_total) * 1e9) for p, c in v.items()}
        seg = {w: viterbi(w, sc) for w in word_freq}
        n_seg = sum(word_freq[w] * len(s[0]) for w, s in seg.items())
        sll = sum(word_freq[w] * s[1] for w, s in seg.items())
        traj.append(
            (
                r,
                len(v),
                t_total,
                top[1],
                -top[0],
                n_seg,
                -((-sll) // 1000),
            )
        )
        final_np = {w: len(s[0]) for w, s in seg.items()}
        if r < rounds:
            rc: collections.Counter = collections.Counter()
            for w, s in seg.items():
                for p in s[0]:
                    rc[p] += word_freq[w]
            v = prune(rc)
    return traj, final_np


def _freqs(docs):
    wf: collections.Counter = collections.Counter()
    for _d, _s, text in docs:
        for w in text.split(" "):
            if w and len(w) <= _MAX_WLEN:
                wf[w] += 1
    return wf


def _check(spark, docs):
    from kafka_clickhouse_implementation_spark.operators.unigram_lm import (
        _em_rounds,
    )

    sdf = spark.createDataFrame(
        docs, "doc_id long, source string, text string"
    )
    traj_frames, seg = _em_rounds(sdf)
    got_traj = [tuple(r) for r in traj_frames.orderBy("round").collect()]
    want_traj, want_np = _replay(_freqs(docs))
    assert got_traj == want_traj
    got_np = {r.w: r.npieces for r in seg.select("w", "npieces").collect()}
    assert got_np == want_np


def test_unigram_crafted_docs(spark):
    docs = [
        (0, "s0", "banana bandana banned ban nab anna anna banana"),
        (1, "s0", "the theater there then theory these than that"),
        (2, "s1", "abcabcabc abcabc abc cba bcbcbc"),
        (3, "s1", "x xy xyz xyzw xyzwv"),  # singles + growing pieces
    ]
    _check(spark, docs)


def test_unigram_replays_real_corpus(spark):
    tbl = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "source", "text"]
    )
    docs = list(
        zip(
            tbl.column("doc_id").to_pylist(),
            tbl.column("source").to_pylist(),
            tbl.column("text").to_pylist(),
        )
    )
    _check(spark, docs)


def test_driver_em_equals_distributed(spark):
    """r16 optimization guard (the r15 BPE recipe): the size-gated
    driver EM loop and the distributed loop produce identical
    trajectories, final segmentations (incl. the segs arrays the
    tokenizer export persists), and final models — on the real corpus
    at both the teaching and the export (rounds, multi) budgets."""
    from kafka_clickhouse_implementation_spark.io import load
    from kafka_clickhouse_implementation_spark import gate
    from kafka_clickhouse_implementation_spark.operators.unigram_lm import (
        UNI_EXPORT_MULTI,
        UNI_EXPORT_ROUNDS,
        _em_rounds_from_words,
        _seed_words,
    )

    words = _seed_words(load(spark, SF_DIR, "documents")).localCheckpoint()

    def run_both(rounds, multi):
        fast = _em_rounds_from_words(words, rounds=rounds, multi=multi)
        old = gate.DRIVER_MAX_ROWS
        gate.DRIVER_MAX_ROWS = 0
        try:
            slow = _em_rounds_from_words(words, rounds=rounds, multi=multi)
        finally:
            gate.DRIVER_MAX_ROWS = old
        f_traj = sorted(tuple(r) for r in fast[0].collect())
        s_traj = sorted(tuple(r) for r in slow[0].collect())
        assert f_traj == s_traj and len(f_traj) == rounds
        f_seg = sorted(
            (r.w, r.f, tuple(r.segs), r.ll, r.npieces)
            for r in fast[1].collect()
        )
        s_seg = sorted(
            (r.w, r.f, tuple(r.segs), r.ll, r.npieces)
            for r in slow[1].collect()
        )
        assert f_seg == s_seg and len(f_seg) > 0
        f_v = sorted(map(tuple, fast[2].collect()))
        s_v = sorted(map(tuple, slow[2].collect()))
        assert f_v == s_v and len(f_v) > 0

    run_both(UNI_ROUNDS, UNI_MULTI)
    run_both(UNI_EXPORT_ROUNDS, UNI_EXPORT_MULTI)


def test_unigram_tokenize_matches_replay(spark, sf_dir, tmp_path):
    """C146 fertility accounting vs the replay's final segmentation."""
    from kafka_clickhouse_implementation_spark.registry import all_queries

    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "source", "text"]
    )
    docs = list(
        zip(
            tbl.column("doc_id").to_pylist(),
            tbl.column("source").to_pylist(),
            tbl.column("text").to_pylist(),
        )
    )
    _traj, want_np = _replay(_freqs(docs))
    want: dict[str, list[int]] = collections.defaultdict(lambda: [0, 0])
    for _d, src, text in docs:
        for w in text.split(" "):
            if w and len(w) <= _MAX_WLEN:
                want[src][0] += 1
                want[src][1] += want_np[w]
    got = {
        r.source: r
        for r in all_queries()["q_unigram_tokenize"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for src, (nw, nt) in want.items():
        r = got[src]
        assert (r.n_words, r.n_tokens) == (nw, nt)
        assert r.fertility_milli == (1000 * nt) // nw


def test_unigram_tokenize_broadcast_guard(spark, sf_dir):
    """The segmentation join must be broadcast at test scale (vocab <<
    BROADCAST_VOCAB_MAX — the bpe constant, imported so the tiers can't
    drift) and must DROP the hint on the force_shuffle path — with
    identical results either way (mirrors test_bpe's guard test per the
    round-9 advisory)."""
    from kafka_clickhouse_implementation_spark.operators.bpe import (
        BROADCAST_VOCAB_MAX as BPE_MAX,
    )
    from kafka_clickhouse_implementation_spark.operators.unigram_lm import (
        BROADCAST_VOCAB_MAX,
        q_unigram_tokenize,
    )

    assert BROADCAST_VOCAB_MAX is BPE_MAX

    bc = q_unigram_tokenize(spark, sf_dir)
    assert "BroadcastHashJoin" in bc._jdf.queryExecution().executedPlan().toString()
    # force_shuffle drops the HINT; at test scale Catalyst would still
    # auto-broadcast the tiny side, so pin the big-vocab physical plan
    # by disabling auto-broadcast for this check.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sh = q_unigram_tokenize(spark, sf_dir, force_shuffle=True)
        plan = sh._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        rows_sh = sorted(map(tuple, sh.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert sorted(map(tuple, bc.collect())) == rows_sh


def test_stream_unigram_vocab_dedups_duplicated_wire(spark):
    """C147: the duplicate-injecting wire would double every word
    frequency without cross-batch doc_id dedup state — the drained
    streaming vocab must equal the batch seed word counts exactly."""
    import pyspark.sql.functions as F

    from kafka_clickhouse_implementation_spark.io import load
    from kafka_clickhouse_implementation_spark.operators.unigram_lm import (
        _seed_words,
        q_stream_unigram,
    )

    q_stream_unigram(spark, SF_DIR).collect()  # drains unigram_vocab_stream
    got = {r.w: r.f for r in spark.table("unigram_vocab_stream").collect()}
    want = {
        r.w: r.f for r in _seed_words(load(spark, SF_DIR, "documents")).collect()
    }
    assert got == want


def test_oracle_is_deterministic_across_runs():
    """The DuckDB oracle must hash identically across repeated runs —
    the first oracle form (list_reduce-produced dp/path lists) flapped
    under DuckDB's parallelism at sf0.01; the recursive-CTE rewrite
    must not. Three runs each of the train and tokenize oracles."""
    import hashlib

    import duckdb

    from kafka_clickhouse_implementation_spark.operators.unigram_lm import (
        _TOKENIZE_FINAL,
        _oracle,
    )

    for q in (_oracle(), _oracle(final_select=_TOKENIZE_FINAL)):
        hs = set()
        for _ in range(3):
            con = duckdb.connect()
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/documents.parquet')"
            )
            hs.add(
                hashlib.md5(repr(sorted(con.execute(q).fetchall())).encode())
                .hexdigest()
            )
        assert len(hs) == 1, hs


def test_em_converges_within_declared_rounds(spark, sf_dir):
    """Round-10 convergence pin (the r9 verdict's optional-depth item):
    UNI_ROUNDS is not an arbitrary truncation — on the real corpus the
    hard-EM likelihood curve is NON-DECREASING every round and reaches
    an exact FIXED POINT (model, segmentation, and micro-nat corpus
    log-likelihood all constant) at or before round UNI_ROUNDS, and
    stays there for 10 rounds. So the trained model the tokenize/stream
    queries consume is the CONVERGED model. (Hard EM with count
    re-estimation + deterministic pruning is not guaranteed monotone in
    general — the pin is empirical on this corpus family, which is
    exactly what certifies the declared round count.)"""
    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "source", "text"])
    docs = list(
        zip(
            tbl.column("doc_id").to_pylist(),
            tbl.column("source").to_pylist(),
            tbl.column("text").to_pylist(),
        )
    )
    traj, _np = _replay(_freqs(docs), rounds=10)
    lls = [row[6] for row in traj]  # ll_micro per round
    assert all(b >= a for a, b in zip(lls, lls[1:]))  # monotone
    # exact fixed point at the declared round count, persisting to 10
    fixed = traj[UNI_ROUNDS - 1][1:]
    for row in traj[UNI_ROUNDS - 1 :]:
        assert row[1:] == fixed


def test_unigram_shard_product_shape_and_detokenization(spark):
    """C194 acceptance: (a) every stored segmentation concatenates
    back to its word exactly (the pieces are a partition of w — the
    detokenization guarantee); (b) the written shard product is
    structurally sound: every sequence except the tail is SEQ_LEN
    tokens, seq_ids dense from 0, shard == seq_id % N_SHARDS; (c) the
    file total equals the per-doc accounting recomputed from the
    segmentation table (sum of npieces over slice words + one EOS per
    doc)."""
    import os

    from pyspark.sql import functions as F

    from kafka_clickhouse_implementation_spark.io import load
    from kafka_clickhouse_implementation_spark.operators.unigram_lm import (
        _MAX_WLEN,
        unigram_shards_product,
        write_unigram_tokenizer,
    )
    from kafka_clickhouse_implementation_spark.pipelines.shards import (
        N_SHARDS,
        SEQ_LEN,
    )

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    root = write_unigram_tokenizer(spark, sf)
    seg = spark.read.parquet(os.path.join(root, "seg"))
    bad = seg.filter(F.expr("array_join(segs, '') <> w")).count()
    assert bad == 0

    shards_dir = unigram_shards_product(spark, sf)
    shards = spark.read.option("basePath", shards_dir).parquet(shards_dir)
    rows = shards.select("seq_id", "shard", F.size("tok_ids").alias("n")).collect()
    ids = sorted(r.seq_id for r in rows)
    assert ids == list(range(len(ids)))
    for r in rows:
        assert r.shard == r.seq_id % N_SHARDS
        if r.seq_id != ids[-1]:
            assert r.n == SEQ_LEN
        else:
            assert 0 < r.n <= SEQ_LEN

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 10 == 0)
    words = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(f"w <> '' AND length(w) <= {_MAX_WLEN}")
    )
    n_word_tokens = (
        words.join(seg.select("w", "npieces"), "w")
        .agg(F.sum("npieces"))
        .first()[0]
    )
    n_eos = docs.count()
    total_files = shards.agg(F.sum(F.size("tok_ids"))).first()[0]
    assert total_files == int(n_word_tokens) + int(n_eos)


def test_stream_unigram_shards_equal_batch_and_wire_has_dups(spark):
    """C195 acceptance: (a) the streamed unigram pack equals the batch
    C194 product row for row; (b) the document wire actually
    re-delivers duplicate doc_ids within the packed slice, so the
    stateful dedup stage the streamed path runs is load-bearing, not
    decorative (the C192 acceptance shape on the second tokenizer
    family)."""
    import os

    from pyspark.sql import functions as F

    from kafka_clickhouse_implementation_spark.operators.unigram_lm import (
        q_stream_token_shards_unigram,
        q_token_shards_unigram,
    )
    from kafka_clickhouse_implementation_spark.sources.streams import read_wire
    from kafka_clickhouse_implementation_spark.streaming.corpus_stream import document_wire

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    streamed = sorted(
        map(tuple, q_stream_token_shards_unigram(spark, sf).collect())
    )
    batch = sorted(map(tuple, q_token_shards_unigram(spark, sf).collect()))
    assert streamed == batch
    wire, _base = document_wire(spark, sf)
    raw = (
        read_wire(spark, wire, batch=True)
        .filter(F.col("doc_id") % 10 == 0)
    )
    assert raw.count() > raw.select("doc_id").distinct().count()


def test_em_on_empty_vocabulary(spark):
    """A corpus with no countable word (empty texts, and words over the
    length cap) has an empty vocabulary. It must take the distributed
    loop and return an empty model and segmentation, one trajectory row
    per round, instead of crashing in the driver loop."""
    from kafka_clickhouse_implementation_spark.operators.unigram_lm import (
        _em_rounds_from_words,
        _seed_words,
    )

    docs = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "x" * (_MAX_WLEN + 1))], "doc_id long, text string"
    )
    words = _seed_words(docs)
    assert words.count() == 0
    traj, seg, model = _em_rounds_from_words(words)
    rows = sorted(traj.collect(), key=lambda r: r["round"])
    assert [r["round"] for r in rows] == list(range(1, UNI_ROUNDS + 1))
    assert all(r["n_pieces"] == 0 for r in rows)
    assert seg.count() == 0 and model.count() == 0
