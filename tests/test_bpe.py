"""C135 BPE merge-learning tests: an independent pure-Python BPE
(Sennrich-style pair counting + canonical greedy apply) must reproduce
the query's full merge trajectory, and the fold expression must be
canonical on the same-symbol runs where naive string replace is not."""

from __future__ import annotations

import collections

import pyarrow.parquet as pq

from kafka_clickhouse_implementation_spark.operators.bpe import (
    BPE_ROUNDS,
    _EOW,
    q_bpe_train,
)
from tests.conftest import SF_DIR as SF


def _python_bpe(word_freq: dict[str, int], rounds: int):
    """Reference BPE: symbols per word, overlap-counting pair stats,
    (count DESC, pair ASC) winner, greedy leftmost non-overlap apply."""
    vocab = {
        tuple(w) + (_EOW,): f for w, f in word_freq.items()
    }
    out = []
    for r in range(1, rounds + 1):
        pairs: dict[tuple[str, str], int] = collections.defaultdict(int)
        syms_before = 0
        for syms, f in vocab.items():
            syms_before += f * len(syms)
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        (wa, wb), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((r, wa, wb, wa + wb, cnt, syms_before))
        nv: dict[tuple, int] = collections.defaultdict(int)
        for syms, f in vocab.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == wa and syms[i + 1] == wb:
                    merged.append(wa + wb)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            nv[tuple(merged)] += f
        vocab = dict(nv)
    return out


def test_bpe_trajectory_matches_python_reference(spark):
    words = collections.Counter()
    for text in pq.read_table(f"{SF}/documents.parquet", columns=["text"])[
        "text"
    ].to_pylist():
        words.update(w for w in text.split(" ") if w)
    want = _python_bpe(dict(words), BPE_ROUNDS)
    got = [
        (
            r.merge_rank,
            r.left_sym,
            r.right_sym,
            r.merged,
            r.pair_count,
            r.syms_before,
        )
        for r in q_bpe_train(spark, SF).collect()
    ]
    assert got == want
    # the corpus is rich enough that 12 rounds never exhaust
    assert len(got) == BPE_ROUNDS
    # trajectory sanity: totals strictly decrease (every merge round
    # collapses at least one occurrence)
    totals = [t[5] for t in got]
    assert totals == sorted(totals, reverse=True) and len(set(totals)) == len(
        totals
    )


def test_fold_is_canonical_where_replace_is_not(spark):
    """A run of six identical symbols must merge leftmost-aligned
    ([aa,aa,aa]) — the case where boundary-space replace strands
    [aa,a,aa,a] because each match consumes the next match's leading
    separator. Runs the ACTUAL engine expressions."""
    from kafka_clickhouse_implementation_spark.operators.bpe import (
        _fold_step_sql,
    )

    row = spark.sql(
        "SELECT aggregate(split(trim(' a a a a a a z _ '), ' '), ' ',"
        f" (acc, x) -> {_fold_step_sql('a', 'a')}) AS folded,"
        " replace(' a a a a a a z _ ', ' a a ', ' aa ') AS replaced"
    ).first()
    assert row.folded == " aa aa aa z _ "
    assert row.replaced == " aa a aa a z _ "  # the documented trap


def test_merged_token_never_cascades_within_round(spark):
    """Merging (a,b) must not let the fresh 'ab' immediately merge with
    a following 'b' in the same round ([a,b,b] -> [ab,b], not [abb])."""
    from kafka_clickhouse_implementation_spark.operators.bpe import (
        _fold_step_sql,
    )

    row = spark.sql(
        "SELECT aggregate(split(trim(' a b b _ '), ' '), ' ',"
        f" (acc, x) -> {_fold_step_sql('a', 'b')}) AS folded"
    ).first()
    assert row.folded == " ab b _ "


def test_kmv_setops_matches_python_replay(spark):
    """C136: full hashlib replay of the sketch algebra — bottom-k per
    parity set, union re-truncate, Jaccard numerator — plus the exact
    intersection/union, all bit-equal to the query row."""
    import hashlib

    import pyarrow.parquet as pq

    from kafka_clickhouse_implementation_spark.operators.bpe import (
        q_kmv_setops,
    )
    from kafka_clickhouse_implementation_spark.operators.sketches import K

    from datetime import date

    tab = pq.read_table(f"{SF}/events.parquet", columns=["ts", "user_id"])
    epoch = date(1970, 1, 1).toordinal()
    # unit-agnostic (the driver parquet is µs at this SF, ns at others)
    days = [dt.date().toordinal() - epoch for dt in tab["ts"].to_pylist()]
    users = tab["user_id"].to_pylist()
    sets = {0: set(), 1: set()}
    for d, u in zip(days, users):
        sets[d % 2].add(hashlib.md5(str(u).encode()).hexdigest())
    ka, kb = (sorted(sets[p])[:K] for p in (0, 1))
    ku = sorted(set(ka) | set(kb))[:K]
    j_num = sum(1 for h in ku if h in sets[0] and h in sets[1])
    exact_union = len(sets[0] | sets[1])
    exact_inter = len(sets[0] & sets[1])

    row = q_kmv_setops(spark, SF).first()
    assert (row.k_kept, row.j_num) == (len(ku), j_num)
    assert (row.exact_inter, row.exact_union) == (exact_inter, exact_union)
    assert row.jaccard_est == j_num / len(ku)
    assert row.exact_jaccard == exact_inter / exact_union
    # membership-in-sketch == membership-in-set for union-bottom-k
    # digests (the equivalence the docstring claims)
    assert j_num == sum(1 for h in ku if h in set(ka) and h in set(kb))


def test_stream_vocab_dedups_duplicated_wire(spark):
    """C138: the duplicate-injecting wire would double every frequency
    without cross-batch doc_id dedup state — the drained streaming
    vocab must equal the batch word counts exactly."""
    from kafka_clickhouse_implementation_spark.operators.bpe import (
        q_stream_bpe,
    )
    from pyspark.sql import functions as F

    from kafka_clickhouse_implementation_spark.io import load

    q_stream_bpe(spark, SF).collect()  # drains bpe_vocab_stream
    got = {
        r.w: r.f for r in spark.table("bpe_vocab_stream").collect()
    }
    want = {
        r.w: r.f
        for r in load(spark, SF, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter("w <> ''")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
        .collect()
    }
    assert got == want


def test_tokenize_matches_python_segmentation(spark):
    """C140: apply the pure-Python reference BPE's final segmentation
    to the corpus and reproduce every per-source counter of the
    query (words, tokens incl. the fused end-of-word marker, chars,
    floor-divided fertility)."""
    from kafka_clickhouse_implementation_spark.operators.bpe import (
        q_bpe_tokenize,
    )

    words = collections.Counter()
    tab = pq.read_table(f"{SF}/documents.parquet", columns=["text", "source"])
    texts, sources = tab["text"].to_pylist(), tab["source"].to_pylist()
    for text in texts:
        words.update(w for w in text.split(" ") if w)

    # rebuild the final segmentation with the reference implementation
    vocab = {tuple(w) + (_EOW,): (w, f) for w, f in words.items()}
    seg = {w: len(syms) for syms, (w, _f) in vocab.items()}
    merges = _python_bpe(dict(words), BPE_ROUNDS)
    segmap = {w: list(w) + [_EOW] for w in words}
    for _r, wa, wb, _m, _c, _s in merges:
        for w, syms in segmap.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == wa and syms[i + 1] == wb:
                    out.append(wa + wb)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            segmap[w] = out

    want: dict[str, list[int]] = {}
    for text, src in zip(texts, sources):
        acc = want.setdefault(src, [0, 0, 0])
        for w in text.split(" "):
            if not w:
                continue
            acc[0] += 1
            acc[1] += len(segmap[w])
            acc[2] += len(w)
    rows = q_bpe_tokenize(spark, SF).collect()
    got = {r.source: [r.n_words, r.n_tokens, r.n_chars] for r in rows}
    assert got == want
    for r in rows:
        assert r.fertility_milli == (1000 * r.n_tokens) // r.n_words


def test_fold_step_rejects_sql_unsafe_symbols():
    """The fold expression interpolates learned symbols as SQL string
    literals; _fold_step_sql must refuse anything outside the [a-z_]
    alphabet the module guarantees (a quote/backslash symbol would
    break the expression or silently diverge from the oracle, which
    binds the pair as columns)."""
    import pytest

    from kafka_clickhouse_implementation_spark.operators.bpe import (
        _fold_step_sql,
    )

    assert "don" in _fold_step_sql("don", "t_")  # safe path unchanged
    for bad in ("don'", "a\\", "", "A", "é", "a b"):
        with pytest.raises(ValueError, match="alphabet"):
            _fold_step_sql(bad, "ok")
        with pytest.raises(ValueError, match="alphabet"):
            _fold_step_sql("ok", bad)


def test_tokenize_broadcast_guard(spark):
    """The segmentation join must be broadcast at test scale (vocab <<
    BROADCAST_VOCAB_MAX) and must DROP the hint on the force_shuffle
    path — with identical results either way (the guard changes the
    physical join strategy only)."""
    from kafka_clickhouse_implementation_spark.operators.bpe import (
        q_bpe_tokenize,
    )

    bc = q_bpe_tokenize(spark, SF)
    assert "BroadcastHashJoin" in bc._jdf.queryExecution().executedPlan().toString()
    # force_shuffle drops the HINT; at test scale Catalyst would still
    # auto-broadcast the tiny side (at 100 TB vocab it would not — the
    # size estimate exceeds the threshold), so pin the big-vocab
    # physical plan by disabling auto-broadcast for this check.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sh = q_bpe_tokenize(spark, SF, force_shuffle=True)
        plan = sh._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        rows_sh = sorted(map(tuple, sh.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert sorted(map(tuple, bc.collect())) == rows_sh


def test_batched_n1_equals_sequential(spark):
    """C182 equivalence pin: batch_n=1 over BPE_ROUNDS rounds must
    reproduce the C135 sequential trajectory EXACTLY (rank == round,
    same pairs, same counts, same symbol totals)."""
    from kafka_clickhouse_implementation_spark.io import load
    from kafka_clickhouse_implementation_spark.operators.bpe import (
        _symbolized_vocab,
        _train_batched_full,
        _train_full,
    )
    from pyspark.sql import functions as F

    docs = load(spark, SF, "documents")
    vocab = _symbolized_vocab(
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter("w <> ''")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    seq, _ = _train_full(spark, vocab)
    bat, _ = _train_batched_full(
        spark, vocab, rounds=BPE_ROUNDS, batch_n=1
    )
    assert [
        (rk, rd, a, b, m, c, s) for rk, rd, a, b, m, c, s in bat
    ] == [(r, r, a, b, m, c, s) for r, a, b, m, c, s in seq]


def test_batched_rounds_are_trio_disjoint_and_nonvacuous(spark):
    """Every round's accepted batch has pairwise-disjoint symbol trios
    {a, b, a||b} (the order-independence condition), and at least one
    round accepts >= 2 merges — otherwise the batching is vacuous at
    this corpus and the constants need retuning."""
    from kafka_clickhouse_implementation_spark.operators.bpe import (
        q_bpe_train_batched,
    )

    rows = q_bpe_train_batched(spark, SF).collect()
    by_round: dict[int, list] = {}
    for r in rows:
        by_round.setdefault(r["round"], []).append(r)
    assert any(len(v) >= 2 for v in by_round.values())
    for rnd, v in by_round.items():
        used: set[str] = set()
        for r in v:
            trio = {r.left_sym, r.right_sym, r.merged}
            assert not (used & trio), (rnd, r)
            used |= trio
    # global ranks are 1..n in (round, within-round) order
    assert [r.merge_rank for r in rows] == list(range(1, len(rows) + 1))


def test_select_batch_greedy_rule():
    """Pure-Python pin of the greedy trio-disjoint selection: rank
    order wins, overlapping candidates skipped, output-collision
    candidates skipped (a candidate whose symbol equals an accepted
    merge's OUTPUT must be rejected)."""
    from kafka_clickhouse_implementation_spark.operators.bpe import (
        _select_batch,
    )

    cands = [
        ("a", "b", 10),   # accepted
        ("b", "c", 9),    # rejected: b used
        ("c", "d", 8),    # accepted
        ("ab", "e", 7),   # rejected: 'ab' is an accepted OUTPUT
        ("e", "f", 6),    # accepted
    ]
    assert _select_batch(cands) == [
        ("a", "b", 10),
        ("c", "d", 8),
        ("e", "f", 6),
    ]


def test_driver_trainer_equals_distributed(spark):
    """r15 optimization guard: the size-gated driver merge loop and the
    distributed loop produce identical trajectories and final segmented
    vocabs, for both the sequential and the batched trainer."""
    from pyspark.sql import functions as F

    from kafka_clickhouse_implementation_spark import gate
    from kafka_clickhouse_implementation_spark.io import load
    from kafka_clickhouse_implementation_spark.operators import bpe

    vocab = bpe._symbolized_vocab(
        load(spark, SF, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter("w <> ''")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )

    def run_both(fn, *args, **kw):
        fast = fn(spark, vocab, *args, **kw)
        old = gate.DRIVER_MAX_ROWS
        gate.DRIVER_MAX_ROWS = 0
        try:
            slow = fn(spark, vocab, *args, **kw)
        finally:
            gate.DRIVER_MAX_ROWS = old
        assert fast[0] == slow[0] and len(fast[0]) > 0
        f_rows = sorted(map(tuple, fast[1].collect()))
        s_rows = sorted(map(tuple, slow[1].collect()))
        assert f_rows == s_rows

    run_both(bpe._train_full)
    run_both(bpe._train_batched_full, rounds=3, batch_n=4)
