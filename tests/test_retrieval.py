"""C150 — independent pure-Python BM25 replay (exact ints + pln_py,
the CPython leg of the three-engine pln identity) against the Spark
ranking on the real sf0.001 corpus, plus invariant checks on a crafted
corpus where the correct ranking is known by construction."""

from __future__ import annotations

import collections
import math

import pyarrow.parquet as pq

from kafka_clickhouse_implementation_spark.functions.portable_math import pln_py
from kafka_clickhouse_implementation_spark.operators.retrieval import (
    QT_PER,
    QT_TOTAL,
    TOP_K,
    _STOP,
    bm25_rank,
    q_bm25_rank,
)


def _replay(docs: list[tuple[int, str]], top_k: int = TOP_K):
    """Full BM25 replay over (doc_id, text). Returns
    {qid: [(rnk, doc_id, score_nano, n_hit), ...]} and the query-term
    table for diagnostics."""
    tf: dict[tuple[int, str], int] = collections.Counter()
    dl: dict[int, int] = collections.Counter()
    dfc: dict[str, set] = collections.defaultdict(set)
    for d, text in docs:
        for w in text.split(" "):
            if w:
                tf[(d, w)] += 1
                dl[d] += 1
                dfc[w].add(d)
    n_docs = len(docs)
    sum_dl = sum(dl.values())
    ranked_vocab = sorted(
        ((t, len(ds)) for t, ds in dfc.items() if t not in _STOP),
        key=lambda kv: (-kv[1], kv[0]),
    )[:QT_TOTAL]
    qterms = [
        (rnk0 // QT_PER, tok, df) for rnk0, (tok, df) in enumerate(ranked_vocab)
    ]

    scores: dict[tuple[int, int], list[int]] = collections.defaultdict(list)
    for qid, tok, df in qterms:
        a = 2 * n_docs - 2 * df + 1
        b2 = 2 * df + 1
        sgn = -1.0 if a >= b2 else 1.0
        p = float(min(a, b2)) / float(max(a, b2))
        idf = sgn * pln_py(p)
        for d, _ in docs:
            t = tf.get((d, tok), 0)
            if not t:
                continue
            num = 22 * t * sum_dl
            den = 10 * t * sum_dl + 3 * sum_dl + 9 * dl[d] * n_docs
            fr = float(num) / float(den)
            scores[(qid, d)].append(math.floor(idf * fr * 1.0e9))
    perdoc = {
        k: (sum(v), len(v)) for k, v in scores.items()
    }
    out: dict[int, list] = {}
    for qid in {q for q, _ in perdoc}:
        rows = sorted(
            ((d, s, n) for (q, d), (s, n) in perdoc.items() if q == qid),
            key=lambda r: (-r[1], r[0]),
        )[:top_k]
        out[qid] = [(i + 1, d, s, n) for i, (d, s, n) in enumerate(rows)]
    return out, qterms


def test_bm25_matches_python_replay(spark, sf_dir):
    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    docs = list(
        zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
    )
    want, qterms = _replay(docs)
    assert len(qterms) == QT_TOTAL  # the corpus vocab is big enough
    got: dict[int, list] = collections.defaultdict(list)
    for r in q_bm25_rank(spark, sf_dir).collect():
        got[r.qid].append((r.rnk, r.doc_id, r.score_nano, r.n_terms_hit))
    for qid in got:
        got[qid].sort()
    assert dict(got) == want


def test_bm25_rare_term_beats_common_term(spark):
    """Construct a corpus where doc 1 contains a RARE query term and
    doc 2 only a COMMON one: BM25 must rank doc 1 above doc 2 for a
    query containing both terms (the idf property that distinguishes
    BM25 from raw tf counting). Terms are padded with distinct filler
    so df ranks are forced."""
    filler = [f"x{i}" for i in range(30)]
    rows = []
    # 'common' appears in 12 docs (highest df -> first query block);
    # 'rare'... must also land in the top-12 df ranks to be a query
    # term: give it df=11, still far below 'common'.
    for i in range(12):
        rows.append((100 + i, f"common {filler[i]} pad{i}"))
    for i in range(11):
        rows.append((200 + i, f"rare {filler[i]} qad{i}"))
    # the two docs under test: same length, one with rare, one with common
    rows.append((1, "rare alpha beta"))
    rows.append((2, "common alpha gamma"))
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = bm25_rank(sdf, top_k=50).collect()
    # find the query block containing both 'rare' and 'common'
    want, qterms = _replay(rows)
    by_tok = {tok: qid for qid, tok, _ in qterms}
    assert "common" in by_tok and "rare" in by_tok
    sc = {(r.qid, r.doc_id): r.score_nano for r in got}
    s_rare = sc.get((by_tok["rare"], 1))
    s_common = sc.get((by_tok["common"], 2))
    assert s_rare is not None and s_common is not None
    assert s_rare > s_common


def test_bm25_length_normalization(spark):
    """Two docs with identical tf for the query term but different
    lengths: the shorter doc must score higher (the b-normalization)."""
    filler_long = " ".join(f"z{i}" for i in range(40))
    rows = [(i + 10, f"term w{i}") for i in range(12)]  # make df rank high
    # keep df(term)=14 BELOW N/2 so idf stays positive (a negative idf
    # legitimately inverts the preference — the first version of this
    # test tripped over exactly that)
    rows += [(i + 100, f"u{i} v{i}") for i in range(30)]
    rows.append((1, "term short"))
    rows.append((2, f"term {filler_long}"))
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = bm25_rank(sdf, top_k=50).collect()
    _want, qterms = _replay(rows)
    qid = {tok: q for q, tok, _ in qterms}.get("term")
    assert qid is not None
    sc = {(r.qid, r.doc_id): r.score_nano for r in got}
    assert sc[(qid, 1)] > sc[(qid, 2)]


def test_stream_bm25_state_matches_batch_and_needs_dedup(spark):
    """C152: (a) the drained tf state equals the batch (doc_id, token,
    tf) table exactly; (b) with the dropDuplicates stage removed, every
    tf doubles (the wire's duplicate files reach the counting state) —
    so the dedup state is load-bearing for the BM25 hash, not
    decorative."""
    import os

    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR

    from kafka_clickhouse_implementation_spark.io import load
    from kafka_clickhouse_implementation_spark.operators.retrieval import (
        q_stream_bm25,
    )
    from kafka_clickhouse_implementation_spark.sources.streams import read_wire
    from kafka_clickhouse_implementation_spark.streaming.corpus_stream import document_wire
    from kafka_clickhouse_implementation_spark.streaming.drain import drain

    q_stream_bm25(spark, SF_DIR)  # writes the bm25_tf_table file drain
    _wire, _base = document_wire(spark, SF_DIR)
    got = sorted(
        map(
            tuple,
            spark.read.parquet(os.path.join(_base, "bm25_tf_table"))
            .select("doc_id", "token", "tf")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            load(spark, SF_DIR, "documents")
            .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
            .filter(F.col("token") != "")
            .groupBy("doc_id", "token")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .collect(),
        )
    )
    assert got == want

    wire, base = document_wire(spark, SF_DIR)
    nodedup = (
        read_wire(spark, wire, 4)
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    drain(
        spark,
        (
            nodedup, "stream_bm25_tf_nodedup",
            os.path.join(base, "ckpt_bm25_tf_nodedup"), "complete",
        ),
    )
    got2 = sorted(map(tuple, spark.table("stream_bm25_tf_nodedup").collect()))
    assert got2 == sorted((d, t, 2 * n) for d, t, n in want)


def test_proximity_matches_python_replay(spark, sf_dir):
    """C153 full replay: positional tokens, corpus-derived pairs, band
    join, per-doc counts, deterministic best-doc — in plain Python."""
    from kafka_clickhouse_implementation_spark.operators.retrieval import (
        PROX_W,
        QP_PAIRS,
        q_proximity_search,
    )

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    docs = list(
        zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
    )
    dfc: dict[str, set] = collections.defaultdict(set)
    positions: dict[tuple[int, str], list[int]] = collections.defaultdict(list)
    for d, text in docs:
        for i, w in enumerate(text.split(" ")):
            if w:
                dfc[w].add(d)
                positions[(d, w)].append(i)
    ranked = sorted(
        ((t, len(ds)) for t, ds in dfc.items() if t not in _STOP),
        key=lambda kv: (-kv[1], kv[0]),
    )[: 2 * QP_PAIRS]
    want = {}
    for qid in range(QP_PAIRS):
        ta, tb = ranked[2 * qid][0], ranked[2 * qid + 1][0]
        perdoc = {}
        for d, _ in docs:
            pa = positions.get((d, ta), [])
            pb = positions.get((d, tb), [])
            cnt = sum(1 for x in pa for y in pb if abs(x - y) <= PROX_W)
            if cnt:
                perdoc[d] = cnt
        if perdoc:
            best = min((-c, d) for d, c in perdoc.items())
            want[qid] = (
                ta, tb, len(perdoc), sum(perdoc.values()), best[1], -best[0]
            )
    got = {
        r.qid: (r.term_a, r.term_b, r.n_docs, r.n_pairs, r.best_doc,
                r.best_doc_matches)
        for r in q_proximity_search(spark, sf_dir).collect()
    }
    assert got == want


# ---------------------------------------------------------------------
# C154 — hybrid BM25 + dense RRF fusion
# ---------------------------------------------------------------------


def _hybrid_replay(docs, embs):
    """Full C154 replay in plain Python: BM25 ranks (via _replay), the
    quantized feedback-centroid dense ranking (exact ints, the one
    IEEE dag for cos_nano), and integer RRF. embs: {vec_id: [float]}."""
    from kafka_clickhouse_implementation_spark.operators.retrieval import (
        DENSE_K,
        FB_K,
        FUSE_K,
        LEX_K,
        RRF_K,
    )

    ranked, _ = _replay(docs, top_k=LEX_K)
    eq = {
        v: [math.floor(float(x) * 1e6 + 0.5) for x in vec]
        for v, vec in embs.items()
    }
    lex = {
        (qid, d): rnk for qid, rows in ranked.items() for rnk, d, _, _ in rows
    }
    dense = {}
    for qid, rows in ranked.items():
        fb = [d for rnk, d, _, _ in rows if rnk <= FB_K]
        qvecs = [eq[d] for d in fb if d in eq]
        if not qvecs:
            continue
        dim = len(qvecs[0])
        qx = [sum(v[i] for v in qvecs) for i in range(dim)]
        na = sum(x * x for x in qx)
        scored = []
        for v, e in eq.items():
            dp = sum(q * x for q, x in zip(qx, e))
            nb = sum(x * x for x in e)
            if na > 0 and nb > 0:
                cos_nano = math.floor(
                    float(dp) / math.sqrt(float(na) * float(nb)) * 1.0e9
                )
                scored.append((-cos_nano, v))
        for rnk0, (_, v) in enumerate(sorted(scored)[:DENSE_K]):
            dense[(qid, v)] = rnk0 + 1
    fused = {}
    for key in set(lex) | set(dense):
        lr, dr = lex.get(key, 0), dense.get(key, 0)
        rrf = (10**9 // (RRF_K + lr) if lr else 0) + (
            10**9 // (RRF_K + dr) if dr else 0
        )
        fused[key] = (rrf, lr, dr)
    out = {}
    for qid in {q for q, _ in fused}:
        rows = sorted(
            ((d, *fused[(q, d)]) for q, d in fused if q == qid),
            key=lambda r: (-r[1], r[0]),
        )[:FUSE_K]
        out[qid] = [
            (i + 1, d, rrf, lr, dr) for i, (d, rrf, lr, dr) in enumerate(rows)
        ]
    return out


def test_hybrid_matches_python_replay(spark, sf_dir):
    from kafka_clickhouse_implementation_spark.operators.retrieval import (
        q_hybrid_rank,
    )

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    docs = list(
        zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
    )
    et = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    embs = dict(
        zip(et.column("vec_id").to_pylist(), et.column("embedding").to_pylist())
    )
    want = _hybrid_replay(docs, embs)
    got: dict[int, list] = collections.defaultdict(list)
    for r in q_hybrid_rank(spark, sf_dir).collect():
        got[r.qid].append(
            (r.fused_rnk, r.doc_id, r.rrf_nano, r.lex_rnk, r.dense_rnk)
        )
    for qid in got:
        got[qid].sort()
    assert dict(got) == want


def test_rrf_fusion_arithmetic(spark):
    """RRF on synthetic lists: a doc in BOTH lists outranks a doc with
    the same single-list rank; contributions are the exact integer
    1e9 div (60 + rank); absent membership surfaces as rank 0."""
    from kafka_clickhouse_implementation_spark.operators.retrieval import (
        RRF_K,
        rrf_fuse,
    )

    lex = spark.createDataFrame(
        [(0, 10, 1), (0, 20, 2)], "qid long, doc_id long, lex_rnk long"
    )
    dense = spark.createDataFrame(
        [(0, 10, 5), (0, 30, 2)], "qid long, doc_id long, dense_rnk long"
    )
    got = {
        r.doc_id: (r.fused_rnk, r.rrf_nano, r.lex_rnk, r.dense_rnk)
        for r in rrf_fuse(lex, dense).collect()
    }
    c = lambda r: 10**9 // (RRF_K + r)  # noqa: E731
    assert got[10] == (1, c(1) + c(5), 1, 5)  # both lists -> top
    assert got[20] == (2, c(2), 2, 0)  # lex only, rank 2 (doc_id tiebreak)
    assert got[30] == (3, c(2), 0, 2)  # dense only, rank 2
    assert got[30][1] == got[20][1]  # same-rank single-list symmetry


# ---------------------------------------------------------------------
# C158 — MMR diversification
# ---------------------------------------------------------------------


def _mmr_replay(docs, embs):
    """Full C158 replay: dense candidates (via the C154 replay pieces),
    exact pairwise sims, and the greedy integer MMR."""
    from kafka_clickhouse_implementation_spark.operators.retrieval import (
        DENSE_K,
        FB_K,
        LEX_K,
        MMR_K,
        MMR_W_DIV,
        MMR_W_REL,
    )

    ranked, _ = _replay(docs, top_k=LEX_K)
    eq = {
        v: [math.floor(float(x) * 1e6 + 0.5) for x in vec]
        for v, vec in embs.items()
    }

    def cos_nano(a, b):
        dp = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a)
        nb = sum(y * y for y in b)
        if na <= 0 or nb <= 0:
            return None
        return math.floor(float(dp) / math.sqrt(float(na) * float(nb)) * 1.0e9)

    out = {}
    for qid, rows in ranked.items():
        fb = [d for rnk, d, _, _ in rows if rnk <= FB_K]
        qvecs = [eq[d] for d in fb if d in eq]
        if not qvecs:
            continue
        dim = len(qvecs[0])
        qx = [sum(v[i] for v in qvecs) for i in range(dim)]
        scored = sorted(
            (-c, v)
            for v, e in eq.items()
            if (c := cos_nano(qx, e)) is not None
        )[:DENSE_K]
        cand = [(v, -negc) for negc, v in scored]  # (doc, rel_nano)
        rel = dict(cand)
        picked = [cand[0][0]]
        steps = [(1, cand[0][0], rel[cand[0][0]], 0, MMR_W_REL * rel[cand[0][0]])]
        for step in range(2, MMR_K + 1):
            best = None
            for d, r in cand:
                if d in picked:
                    continue
                ms = max(cos_nano(eq[d], eq[s]) for s in picked)
                sc = MMR_W_REL * r - MMR_W_DIV * ms
                key = (-sc, d)
                if best is None or key < best[0]:
                    best = (key, d, r, ms, sc)
            _, d, r, ms, sc = best
            picked.append(d)
            steps.append((step, d, r, ms, sc))
        out[qid] = steps
    return out


def test_mmr_matches_python_replay(spark, sf_dir):
    from kafka_clickhouse_implementation_spark.operators.retrieval import (
        q_mmr_diversify,
    )

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    docs = list(
        zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
    )
    et = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    embs = dict(
        zip(et.column("vec_id").to_pylist(), et.column("embedding").to_pylist())
    )
    want = _mmr_replay(docs, embs)
    got: dict[int, list] = collections.defaultdict(list)
    for r in q_mmr_diversify(spark, sf_dir).collect():
        got[r.qid].append(
            (r.step, r.doc_id, r.rel_nano, r.maxsim_nano, r.mmr_nano)
        )
    for qid in got:
        got[qid].sort()
    assert dict(got) == want


def test_mmr_skips_near_duplicate(spark):
    """Crafted candidates: docs 1 and 2 are near-identical vectors with
    the two highest relevances; doc 3 is orthogonal-ish with lower
    relevance. Plain dense ranking returns (1, 2, ...); MMR must pick 1
    then JUMP to 3 (the redundancy penalty), taking 2 only later."""
    from kafka_clickhouse_implementation_spark.operators.retrieval import (
        candidate_pair_sims,
        mmr_diversify,
        quantized_components,
    )

    cand = spark.createDataFrame(
        [(0, 1, 1000000000, 1), (0, 2, 999000000, 2), (0, 3, 800000000, 3),
         (0, 4, 790000000, 4)],
        "qid long, doc_id long, cos_nano long, dense_rnk long",
    )
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.01]),
            (2, [1.0, 0.0, 0.02]),  # near-dup of 1
            (3, [0.0, 1.0, 0.0]),  # orthogonal
            (4, [0.1, 0.9, 0.0]),  # close to 3
        ],
        "vec_id long, embedding array<float>",
    )
    psim = candidate_pair_sims(cand, quantized_components(emb))
    got = sorted(
        (r.step, r.doc_id) for r in mmr_diversify(cand, psim, k=3).collect()
    )
    assert got == [(1, 1), (2, 3), (3, 2)] or got == [(1, 1), (2, 3), (3, 4)]
    # pick 2 is the orthogonal doc, never the near-duplicate
    assert got[1] == (2, 3)


# ---------------------------------------------------------------------
# C161 — hard-negative mining
# ---------------------------------------------------------------------


def test_hard_negatives_match_python_replay(spark, sf_dir):
    """Full replay: positive = dense top-1 (via the C158 replay's dense
    pieces), negatives = HN_K lowest-cosine docs among the BM25 top
    LEX_K minus the positive."""
    from kafka_clickhouse_implementation_spark.operators.retrieval import (
        FB_K,
        HN_K,
        LEX_K,
        q_hard_negatives,
    )

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    docs = list(
        zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
    )
    et = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    embs = dict(
        zip(et.column("vec_id").to_pylist(), et.column("embedding").to_pylist())
    )
    ranked, _ = _replay(docs, top_k=LEX_K)
    eq = {
        v: [math.floor(float(x) * 1e6 + 0.5) for x in vec]
        for v, vec in embs.items()
    }

    def cos_nano(a, b):
        dp = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a)
        nb = sum(y * y for y in b)
        if na <= 0 or nb <= 0:
            return None
        return math.floor(float(dp) / math.sqrt(float(na) * float(nb)) * 1.0e9)

    want = {}
    for qid, rows in ranked.items():
        fb = [d for rnk, d, _, _ in rows if rnk <= FB_K]
        qvecs = [eq[d] for d in fb if d in eq]
        if not qvecs:
            continue
        dim = len(qvecs[0])
        qx = [sum(v[i] for v in qvecs) for i in range(dim)]
        dcos = {
            v: c for v, e in eq.items() if (c := cos_nano(qx, e)) is not None
        }
        pos = min(dcos, key=lambda v: (-dcos[v], v))
        negs = sorted(
            (dcos[d], d, rnk)
            for rnk, d, _, _ in rows
            if d != pos and d in dcos
        )[:HN_K]
        want[qid] = [
            (i + 1, pos, d, c, rnk) for i, (c, d, rnk) in enumerate(negs)
        ]
    got: dict[int, list] = collections.defaultdict(list)
    for r in q_hard_negatives(spark, sf_dir).collect():
        got[r.qid].append(
            (r.neg_rnk, r.pos_doc, r.neg_doc, r.neg_cos_nano, r.neg_lex_rnk)
        )
    for qid in got:
        got[qid].sort()
    assert dict(got) == want
    assert all(len(v) == HN_K for v in got.values())


def test_hard_negatives_are_semantically_far(spark, sf_dir):
    """Every mined negative's cosine must be <= every non-selected
    lexical candidate's cosine (they are the HARDEST negatives), and
    the positive is never emitted as a negative."""
    from kafka_clickhouse_implementation_spark.operators.retrieval import (
        q_hard_negatives,
    )

    rows = q_hard_negatives(spark, sf_dir).collect()
    for r in rows:
        assert r.neg_doc != r.pos_doc
        assert 1 <= r.neg_rnk <= 3


def test_stream_proximity_state_matches_batch_and_needs_dedup(spark):
    """C162: (a) the drained positional state equals the batch
    postings exactly (every arrival count 1); (b) without the
    dropDuplicates stage every arrival reads 2, so every position-pair
    weight arr_a*arr_b reads 4 — the dedup state is load-bearing for
    the proximity hash."""
    import os

    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR

    from kafka_clickhouse_implementation_spark.io import load
    from kafka_clickhouse_implementation_spark.operators.retrieval import (
        positional_postings,
        q_stream_proximity,
    )
    from kafka_clickhouse_implementation_spark.sources.streams import read_wire
    from kafka_clickhouse_implementation_spark.streaming.corpus_stream import document_wire
    from kafka_clickhouse_implementation_spark.streaming.drain import drain

    q_stream_proximity(spark, SF_DIR)  # writes the prox_postings_table drain
    _wire, _base = document_wire(spark, SF_DIR)
    got = sorted(
        map(
            tuple,
            spark.read.parquet(os.path.join(_base, "prox_postings_table"))
            .select("doc_id", "pos", "token", "arr")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            positional_postings(load(spark, SF_DIR, "documents")).collect(),
        )
    )
    assert got == want
    assert all(r[3] == 1 for r in got)

    wire, base = document_wire(spark, SF_DIR)
    nodedup = (
        read_wire(spark, wire, 4)
        .select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
        )
        .filter(F.col("token") != "")
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "token")
        .groupBy("doc_id", "token", "pos")
        .agg(F.count(F.lit(1)).cast("long").alias("arr"))
    )
    drain(
        spark,
        (
            nodedup, "stream_prox_postings_nodedup",
            os.path.join(base, "ckpt_prox_postings_nodedup"), "complete",
        ),
    )
    got2 = sorted(
        map(
            tuple,
            spark.table("stream_prox_postings_nodedup")
            .select("doc_id", "pos", "token", "arr")
            .collect(),
        )
    )
    assert got2 == sorted((d, p, t, 2 * a) for d, p, t, a in want)


def test_tf_upsert_idempotent_and_equals_batch(spark, sf_dir):
    """C168: the upsert-maintained tf index must (a) equal the batch
    doc_tf projection exactly after latest-per-key resolution, and
    (b) be IDEMPOTENT under batch re-delivery — re-appending a full
    copy of an epoch's rows (byte-identical key+version) leaves the
    resolved read-back unchanged. (a) is what the driver oracle
    certifies end-to-end; (b) is the exactly-once-from-at-least-once
    property the versioned-upsert design exists for."""
    import pyspark.sql.functions as F

    from kafka_clickhouse_implementation_spark.io import load
    from kafka_clickhouse_implementation_spark.operators.retrieval import (
        doc_tf,
        stream_tf_upsert,
    )
    from kafka_clickhouse_implementation_spark.plans.upsert import (
        append_versions,
        read_latest,
    )

    path = stream_tf_upsert(spark, sf_dir)

    def resolved():
        return {
            (r.doc_id, r.token): r.tf
            for r in read_latest(
                spark, path, ("doc_id", "token"), "version"
            ).collect()
        }

    got = resolved()
    want = {
        (r.doc_id, r.token): r.tf
        for r in doc_tf(load(spark, sf_dir, "documents")).collect()
    }
    assert got == want
    # re-deliver one epoch: append an exact copy of the lowest version's rows
    versions = spark.read.parquet(path)
    v0 = versions.agg(F.min("version").alias("v")).head()["v"]
    replay = versions.filter(F.col("version") == v0)
    n_before = versions.count()
    append_versions(replay, path)
    assert spark.read.parquet(path).count() > n_before  # append really landed
    assert resolved() == want


def test_ndcg_bounds_and_hybrid_dominance(spark, sf_dir):
    """C171: nDCG invariants — every score in [0, 1e9], dcg <= idcg
    (the ideal is ideal), the discount constants are exactly the
    micro-floor of 1/log2(pos+1), and the HYBRID arm (whose fusion
    includes the very ranking the grades derive from) must dominate
    the lexical arm on mean nDCG."""
    import math

    from kafka_clickhouse_implementation_spark.operators.retrieval import (
        _DISC_MICRO,
        N_EVAL,
        q_retrieval_ndcg,
    )

    for i in range(1, N_EVAL + 1):
        assert _DISC_MICRO[i] == int(math.floor(1e6 / math.log2(i + 1)))
    rows = q_retrieval_ndcg(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.ndcg_lex_nano <= 10**9
        assert 0 <= r.ndcg_hyb_nano <= 10**9
        assert r.dcg_lex_micro <= r.idcg_micro
        assert r.dcg_hyb_micro <= r.idcg_micro
    mean_lex = sum(r.ndcg_lex_nano for r in rows) / len(rows)
    mean_hyb = sum(r.ndcg_hyb_nano for r in rows) / len(rows)
    assert mean_hyb >= mean_lex


def test_tf_upsert_compaction_preserves_reads(spark, sf_dir):
    """C168 + plans/upsert compaction: compacting the versioned tf
    table must leave the latest-per-key read IDENTICAL while reducing
    the stored row-version count to exactly one per key (the
    ReplacingMergeTree background-merge contract on the REAL index
    table, not a toy frame)."""
    from kafka_clickhouse_implementation_spark.operators.retrieval import (
        stream_tf_upsert,
    )
    from kafka_clickhouse_implementation_spark.plans.upsert import (
        compact_versions,
        read_latest,
    )

    path = stream_tf_upsert(spark, sf_dir)

    def resolved():
        return {
            (r.doc_id, r.token): r.tf
            for r in read_latest(
                spark, path, ("doc_id", "token"), "version"
            ).collect()
        }

    before = resolved()
    n_versions_before = spark.read.parquet(path).count()
    compact_versions(spark, path, ("doc_id", "token"), "version")
    assert resolved() == before
    n_after = spark.read.parquet(path).count()
    assert n_after == len(before)
    assert n_after <= n_versions_before
