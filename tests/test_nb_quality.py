"""C166 — supervised Naive-Bayes quality classifier: full pure-Python
replay (exact ints + pln_py, the third IEEE engine) on the real corpus,
plus a synthetic separability property test where the classes differ by
construction."""

from __future__ import annotations

import collections
import hashlib
import math

import pyarrow.parquet as pq

from kafka_clickhouse_implementation_spark.functions.portable_math import pln_py
from kafka_clickhouse_implementation_spark.operators.dsir import N_BUCKETS, doc_features
from kafka_clickhouse_implementation_spark.operators.nb_quality import (
    nb_scores,
    q_nb_quality,
)
from tests.test_dsir import _bucket_py

_HEX = "0123456789abcdef"


def _is_train(doc_id: int) -> bool:
    return _HEX.index(hashlib.md5(str(doc_id).encode()).hexdigest()[0]) <= 7


def _neg256(doc_id: int) -> int:
    h = hashlib.md5((str(doc_id) + "_neg").encode()).hexdigest()
    return _HEX.index(h[0]) * 16 + _HEX.index(h[1])


def _feats(text: str) -> collections.Counter:
    t = text.split(" ")
    c: collections.Counter = collections.Counter()
    for w in t:
        if w:
            c[_bucket_py(w)] += 1
    for i in range(len(t) - 1):
        if t[i] and t[i + 1]:
            c[_bucket_py(t[i] + "_" + t[i + 1])] += 1
    return c


def _replay(rows, held_only=True):
    """rows: (doc_id, source, text). Returns {doc_id: (score_nano,
    n_feats)} for held-out (or all) docs whose features hit the trained
    bucket set."""
    tgt_src = min(src for _, src, _t in rows)
    dfc = {d: _feats(text) for d, _src, text in rows}
    pos_train = [
        d for d, src, _t in rows if _is_train(d) and src == tgt_src
    ]
    neg_all = [d for d, src, _t in rows if _is_train(d) and src != tgt_src]
    np_, nn = len(pos_train), len(neg_all)
    k = max((256 * np_) // nn, 1)
    neg_train = [d for d in neg_all if _neg256(d) < k]
    cpos: collections.Counter = collections.Counter()
    cneg: collections.Counter = collections.Counter()
    for d in pos_train:
        for b, n in dfc[d].items():
            cpos[b] += n
    for d in neg_train:
        for b, n in dfc[d].items():
            cneg[b] += n
    tpos, tneg = sum(cpos.values()), sum(cneg.values())
    npos, nneg = len(pos_train), len(neg_train)
    ntr = npos + nneg
    prior = math.floor(
        (
            pln_py(float(npos + 1) / float(ntr + 2))
            - pln_py(float(nneg + 1) / float(ntr + 2))
        )
        * 1.0e9
    )
    buckets = set(cpos) | set(cneg)
    llr = {
        b: math.floor(
            (
                pln_py(float(cpos.get(b, 0) + 1) / float(tpos + N_BUCKETS))
                - pln_py(float(cneg.get(b, 0) + 1) / float(tneg + N_BUCKETS))
            )
            * 1.0e9
        )
        for b in buckets
    }
    out = {}
    for d, _src, _t in rows:
        if held_only and _is_train(d):
            continue
        if not dfc[d]:
            continue
        # features in buckets absent from the train model have no llr
        # row (inner join on both engines) and contribute nothing
        hit = [(b, n) for b, n in dfc[d].items() if b in llr]
        if not hit:
            continue
        out[d] = (
            prior + sum(n * llr[b] for b, n in hit),
            sum(n for _b, n in hit),
        )
    return out


def test_nb_matches_python_replay(spark, sf_dir):
    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "source", "text"]
    )
    rows = list(
        zip(
            tbl.column("doc_id").to_pylist(),
            tbl.column("source").to_pylist(),
            tbl.column("text").to_pylist(),
        )
    )
    from kafka_clickhouse_implementation_spark.io import load

    docs = load(spark, sf_dir, "documents")
    for held_only in (True, False):
        want = _replay(rows, held_only=held_only)
        got = {
            r.doc_id: (r.score_nano, r.n_feats)
            for r in nb_scores(docs, doc_features(docs), held_only=held_only).collect()
        }
        assert got == want, held_only


def test_nb_separates_synthetic_domains(spark):
    """Classes that differ by construction must be separated: target
    docs score positive, off-target negative (scoring the whole corpus
    — the C169 gate view — so split randomness cannot empty a class)."""
    rows = []
    for i in range(80):
        if i % 4 == 0:
            rows.append((i, "a_src", "alpha beta gamma " * 5))
        else:
            rows.append((i, "z_src", "omega psi chi " * 5))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    scored = {
        r.doc_id: r.score_nano
        for r in nb_scores(docs, doc_features(docs), held_only=False).collect()
    }
    assert scored
    for d, s in scored.items():
        if d % 4 == 0:
            assert s > 0, (d, s)
        else:
            assert s < 0, (d, s)


def test_nb_rollup_counts_partition_held_docs(spark, sf_dir):
    """Per-source n_docs must cover held docs only, n_pred_target <=
    n_docs everywhere, and the held split must contain BOTH classes
    (the md5 split exists precisely because a parity split left no
    held-out positives)."""
    out = q_nb_quality(spark, sf_dir).collect()
    assert sum(r.n_docs for r in out) > 0
    assert any(r.is_target == 1 for r in out)
    assert any(r.is_target == 0 for r in out)
    for r in out:
        assert 0 <= r.n_pred_target <= r.n_docs
        assert r.min_score <= r.max_score
