"""Independent numpy reimplementation of the deterministic k-means
trajectory (operators/clustering.py) plus IVF/SemDeDup invariants —
the C76/C84 convention: the DuckDB oracle catches engine drift, this
catches shared-formula mistakes."""

from __future__ import annotations

import numpy as np
import pytest

from kafka_clickhouse_implementation_spark.io import load
from kafka_clickhouse_implementation_spark.operators.clustering import (
    DUP_THRESH,
    ITERS,
    K,
    NPROBE,
    Q_EVERY,
    SEM_BLOCK,
    TOPK,
    ivf_k,
    q_ann_ivf_exact,
    q_kmeans_semantic,
    q_semantic_dedup,
    semdedup_k,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    rows = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    x = np.floor(
        np.array([r.embedding for r in rows], dtype=np.float64) * 1e6 + 0.5
    ).astype(np.int64)
    return ids, x


def _lloyd_np(ids, x, k=K):
    cents = x[ids < k].copy()  # seed = k lowest vec_ids
    cids = np.arange(k, dtype=np.int64)
    asg = None
    dists = None
    for _ in range(ITERS):
        # dist matrix n×k, exact int64
        dists = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        # argmin with tie -> smallest cid (np.argmin takes first, and
        # cids are ascending, so first == smallest cid)
        asg = cids[np.argmin(dists, axis=1)]
        new_cents, new_cids = [], []
        for c in cids:
            m = asg == c
            if not m.any():
                continue
            s = x[m].sum(axis=0)
            n = int(m.sum())
            new_cents.append(np.floor_divide(s, n))  # floor div, matches engine
            new_cids.append(c)
        cents = np.array(new_cents, dtype=np.int64)
        cids = np.array(new_cids, dtype=np.int64)
    return asg, dists, cents, cids


def test_kmeans_matches_numpy(spark, sf_dir, emb):
    ids, x = emb
    asg, _, cents, cids = _lloyd_np(ids, x)
    got = {r.cluster_id: r for r in q_kmeans_semantic(spark, sf_dir).collect()}
    assert set(got) == set(int(c) for c in cids)
    for c in cids:
        m = asg == c
        g = got[int(c)]
        assert g.n_members == int(m.sum())
        assert g.min_vec_id == int(ids[m].min())
        assert g.sum_vec_ids == int(ids[m].sum())
    l1 = {int(c): int(np.abs(ce).sum()) for c, ce in zip(cids, cents)}
    for c in cids:
        assert got[int(c)].centroid_l1 == l1[int(c)]


def test_semdedup_k_rule():
    # The dynamic-k derivation is the round-7 scale fix: the expected
    # within-cluster block stays ~SEM_BLOCK so pairs grow LINEARLY.
    assert SEM_BLOCK == 250
    assert semdedup_k(500) == K  # sf0.01 — floors to the fixed seed
    assert semdedup_k(2000) == K  # sf0.1
    assert semdedup_k(20000) == 80  # sf1-equivalent: 10x smaller block
    assert semdedup_k(1_000_000) == 4000  # keeps blocks ~250 at any n


def test_semantic_dedup_matches_numpy(spark, sf_dir, emb):
    ids, x = emb
    # the engine derives k from the corpus count — the oracle and this
    # independent reimplementation must derive it the same way
    asg, _, _, cids = _lloyd_np(ids, x, k=semdedup_k(len(ids)))
    got = {r.cluster_id: r for r in q_semantic_dedup(spark, sf_dir).collect()}
    total_close = 0
    for c in cids:
        idx = np.where(asg == c)[0]
        d2 = ((x[idx][:, None, :] - x[idx][None, :, :]) ** 2).sum(axis=2)
        iu = np.triu_indices(len(idx), 1)
        pd = d2[iu]
        close = pd < DUP_THRESH
        drop = set()
        for a, b, cl in zip(iu[0], iu[1], close):
            if cl:
                drop.add(int(ids[idx[b]]))
        g = got[int(c)]
        assert g.n_pairs == len(pd)
        assert g.n_close == int(close.sum())
        assert g.n_drop == len(drop)
        assert g.min_dist2 == int(pd.min())
        total_close += int(close.sum())
    assert total_close > 0  # the threshold is non-vacuous at every SF


def test_ivf_k_rule():
    # FAISS's list-count rule, r7: k = max(8, isqrt(n)) on both sides
    assert ivf_k(500) == 22
    assert ivf_k(20000) == 141
    assert ivf_k(40) == K


def test_ivf_matches_numpy(spark, sf_dir, emb):
    ids, x = emb
    # the engine derives the list count from the corpus size
    asg, dists, _, cids = _lloyd_np(ids, x, k=ivf_k(len(ids)))
    got = q_ann_ivf_exact(spark, sf_dir).collect()
    rows = {(r.query_id, r.rank): (r.neighbor_id, r.dist2) for r in got}
    qmask = ids % Q_EVERY == 0
    expected_rows = 0
    for qi in np.where(qmask)[0]:
        # probe: NPROBE nearest centroids by (dist, cid)
        order = sorted(range(len(cids)), key=lambda j: (int(dists[qi, j]), int(cids[j])))
        probe = {int(cids[j]) for j in order[:NPROBE]}
        cand = [
            i
            for i in range(len(ids))
            if int(asg[i]) in probe and ids[i] != ids[qi]
        ]
        scored = sorted(
            (
                (int(((x[qi] - x[i]) ** 2).sum()), int(ids[i]))
                for i in cand
            ),
        )
        for rk, (d2, nid) in enumerate(scored[:TOPK], start=1):
            assert rows[(int(ids[qi]), rk)] == (nid, d2)
        expected_rows += min(TOPK, len(scored))
    # every (query, rank) row the numpy oracle derives must exist, and
    # nothing beyond: exact expected row count, not an OR-ed bound
    assert len(got) == expected_rows


def test_chunk_dedup_matches_python(spark, sf_dir):
    from kafka_clickhouse_implementation_spark.operators.corpus_ext import (
        CHUNK_W,
        q_chunk_dedup,
    )

    got = {r.source: r for r in q_chunk_dedup(spark, sf_dir).collect()}
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .collect()
    )
    first: dict[str, tuple[int, int]] = {}
    chunks = []  # (source, n_words, doc_id, pos, chunk)
    for r in sorted(docs, key=lambda r: r.doc_id):
        w = r.text.split(" ")
        for pos in range((len(w) - 1) // CHUNK_W + 1):
            cw = w[pos * CHUNK_W : (pos + 1) * CHUNK_W]
            c = " ".join(cw)
            chunks.append((r.source, len(cw), r.doc_id, pos, c))
            if c not in first or (r.doc_id, pos) < first[c]:
                first[c] = (r.doc_id, pos)
    agg: dict[str, list[int]] = {}
    for src, nw, did, pos, c in chunks:
        kept = int(first[c] == (did, pos))
        a = agg.setdefault(src, [0, 0, 0, 0])
        a[0] += 1
        a[1] += kept
        a[2] += nw
        a[3] += nw * kept
    n_dup_total = 0
    for src, (n_chunks, n_kept, tw, kw) in agg.items():
        g = got[src]
        assert (g.n_chunks, g.n_kept, g.n_dup) == (
            n_chunks,
            n_kept,
            n_chunks - n_kept,
        )
        assert (g.total_words, g.kept_words) == (tw, kw)
        assert g.keep_ratio == pytest.approx(n_kept / n_chunks, rel=1e-12)
        n_dup_total += n_chunks - n_kept
    assert n_dup_total > 0  # the corpus's injected dups make this non-vacuous


def test_pq_quantize_matches_numpy(spark, sf_dir, emb):
    from kafka_clickhouse_implementation_spark.operators.clustering import (
        PQ_ITERS,
        PQ_K,
        PQ_SUB,
        PQ_SUBDIM,
        q_pq_quantize,
    )

    ids, x = emb
    got = {(r.subspace, r.code): r for r in q_pq_quantize(spark, sf_dir).collect()}
    total_err = 0
    for s in range(PQ_SUB):
        xs = x[:, s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM]
        # per-subspace Lloyd with the shared fixed-seed recipe
        cents = xs[ids < PQ_K].copy()
        cids = np.arange(PQ_K, dtype=np.int64)
        asg = None
        for _ in range(PQ_ITERS):
            dists = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            asg = cids[np.argmin(dists, axis=1)]
            nc, ni = [], []
            for c in cids:
                m = asg == c
                if not m.any():
                    continue
                nc.append(np.floor_divide(xs[m].sum(axis=0), int(m.sum())))
                ni.append(c)
            cents, cids = np.array(nc, dtype=np.int64), np.array(ni, dtype=np.int64)
        # final coding error vs the FINAL codebook, for the last asg
        cmap = {int(c): ce for c, ce in zip(cids, cents)}
        for c in cids:
            m = asg == c
            err = int(((xs[m] - cmap[int(c)]) ** 2).sum())
            g = got[(s, int(c))]
            assert g.n_vecs == int(m.sum())
            assert g.err_sum == err
            assert g.min_vec_id == int(ids[m].min())
            total_err += err
    assert total_err > 0
    # PQ codes compress: every vector is assigned in every subspace
    n = len(ids)
    for s in range(PQ_SUB):
        assert sum(g.n_vecs for (ss, _), g in got.items() if ss == s) == n


def test_substring_dup_matches_python(spark, sf_dir):
    from kafka_clickhouse_implementation_spark.operators.corpus_ext import (
        GRAM_LEN,
        GRAM_STRIDE,
        q_substring_dup,
    )

    got = {r.source: r for r in q_substring_dup(spark, sf_dir).collect()}
    docs = (
        load(spark, sf_dir, "documents").select("doc_id", "source", "text").collect()
    )
    gram_docs: dict[str, set[int]] = {}
    per_doc: list[tuple[str, list[str]]] = []
    for r in docs:
        if len(r.text) < GRAM_LEN:
            continue
        grams = [
            r.text[i : i + GRAM_LEN]
            for i in range(0, len(r.text) - GRAM_LEN + 1, GRAM_STRIDE)
        ]
        per_doc.append((r.source, grams))
        for g in grams:
            gram_docs.setdefault(g, set()).add(r.doc_id)
    agg: dict[str, list] = {}
    for src, grams in per_doc:
        a = agg.setdefault(src, [0, 0, set()])
        for g in grams:
            a[0] += 1
            a[1] += int(len(gram_docs[g]) > 1)
            a[2].add(g)
    dup_total = 0
    for src, (n_pos, n_dup, distinct) in agg.items():
        g = got[src]
        assert (g.n_positions, g.n_dup_positions) == (n_pos, n_dup)
        assert g.n_distinct_grams == len(distinct)
        assert g.dup_ratio == pytest.approx(n_dup / n_pos, rel=1e-12)
        dup_total += n_dup
    assert dup_total > 0  # injected near-dup docs make this non-vacuous


def test_large_k_numpy_assignment_matches_literal_semantics(
    spark, sf_dir, emb, monkeypatch
):
    """The k > LIT_MAX assignment path (vectorized numpy matmul in
    float64 — exact for integer operands < 2^53) must replay the same
    trajectory as the literal-codebook path / this file's numpy
    reference. k=100 forces the matmul branch even on the small
    fixture corpus; the driver gate is closed so the distributed
    _assign_np path is what runs."""
    from kafka_clickhouse_implementation_spark import gate
    from kafka_clickhouse_implementation_spark.operators.clustering import (
        _eq_arrays,
        _lloyd_arrays,
        LIT_MAX,
    )

    monkeypatch.setattr(gate, "DRIVER_MAX_ROWS", 0)
    ids, x = emb
    k = 100
    assert k > LIT_MAX
    eq = _eq_arrays(spark, sf_dir).localCheckpoint()
    asg, asg_carr, cents = _lloyd_arrays(spark, eq, k, 2)
    # the returned codebook is the PRE-final-update model (what made asg)
    assert len(asg_carr) <= k and all(len(a) == 64 for _, a in asg_carr)
    got = {r.vec_id: r.cid for r in asg.collect()}
    want_asg, _, want_cents, want_cids = _lloyd_np(ids, x, k=k)
    # note: _lloyd_np runs ITERS rounds; recompute with 2 rounds inline
    cents_np = x[ids < k].copy()
    cids_np = np.arange(k, dtype=np.int64)
    asg_np = None
    for _ in range(2):
        dists = ((x[:, None, :] - cents_np[None, :, :]) ** 2).sum(axis=2)
        asg_np = cids_np[np.argmin(dists, axis=1)]
        nc, ni = [], []
        for c in cids_np:
            m = asg_np == c
            if not m.any():
                continue
            nc.append(np.floor_divide(x[m].sum(axis=0), int(m.sum())))
            ni.append(c)
        cents_np = np.array(nc, dtype=np.int64)
        cids_np = np.array(ni, dtype=np.int64)
    for i, vid in enumerate(ids):
        assert got[int(vid)] == int(asg_np[i])
    want = {(int(c), int(dim)): int(v) for c, ce in zip(cids_np, cents_np) for dim, v in enumerate(ce)}
    assert {(c, dim): v for c, dim, v in cents} == want


def test_semantic_clean_matches_python(spark, sf_dir, emb):
    """C129 — the composed document-level clean: python recomputes the
    drop set from the numpy trajectory and the per-source accounting
    directly from the documents table."""
    from kafka_clickhouse_implementation_spark.operators.clustering import (
        q_semantic_clean,
    )

    ids, x = emb
    asg, _, _, cids = _lloyd_np(ids, x, k=semdedup_k(len(ids)))
    drops: set[int] = set()
    for c in cids:
        idx = np.where(asg == c)[0]
        d2 = ((x[idx][:, None, :] - x[idx][None, :, :]) ** 2).sum(axis=2)
        iu = np.triu_indices(len(idx), 1)
        for a, b in zip(*iu):
            if d2[a, b] < DUP_THRESH:
                drops.add(int(ids[idx[b]]))
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .collect()
    )
    emb_ids = set(int(i) for i in ids)
    agg: dict[str, list[int]] = {}
    for r in docs:
        if r.doc_id not in emb_ids:
            continue
        nw = len(r.text.split(" "))
        kept = int(r.doc_id not in drops)
        a = agg.setdefault(r.source, [0, 0, 0, 0])
        a[0] += 1
        a[1] += 1 - kept
        a[2] += nw
        a[3] += kept * nw
    got = {r.source: r for r in q_semantic_clean(spark, sf_dir).collect()}
    assert set(got) == set(agg)
    total_dropped = 0
    for src, (n_docs, n_dropped, tw, kw) in agg.items():
        g = got[src]
        assert (g.n_docs, g.n_dropped) == (n_docs, n_dropped)
        assert (g.total_words, g.kept_words) == (tw, kw)
        total_dropped += n_dropped
    assert total_dropped > 0  # injected near-dups make this non-vacuous


def test_cluster_prototypes_matches_numpy(spark, sf_dir, emb):
    """C130 — medoid, member count, and exact integer inertia per
    cluster, recomputed from the numpy trajectory."""
    from kafka_clickhouse_implementation_spark.operators.clustering import (
        q_cluster_prototypes,
    )

    ids, x = emb
    asg, dists, _, cids = _lloyd_np(ids, x, k=semdedup_k(len(ids)))
    own = dists.min(axis=1)
    got = {r.cluster_id: r for r in q_cluster_prototypes(spark, sf_dir).collect()}
    assert set(got) == set(int(c) for c in cids)
    for c in cids:
        m = asg == c
        g = got[int(c)]
        assert g.n_members == int(m.sum())
        assert g.inertia == int(own[m].sum())
        pairs = sorted((int(own[i]), int(ids[i])) for i in np.where(m)[0])
        assert (g.medoid_dist, g.medoid_id) == pairs[0]


def test_twolevel_kmeans_matches_numpy(spark, sf_dir, emb):
    """C131 — the two-level quantizer's full trajectory (coarse Lloyd,
    per-cell row_number seeding, joint fine rounds) re-derived in
    numpy."""
    from kafka_clickhouse_implementation_spark.operators.clustering import (
        ITERS2,
        q_twolevel_kmeans,
        twolevel_k,
    )

    ids, x = emb
    k1, k2 = twolevel_k(len(ids))
    coarse_asg, _, _, _ = _lloyd_np(ids, x, k=k1)
    # fine: joint per-cell Lloyd, seeds = k2 lowest vec_ids per cell
    cents: dict[tuple[int, int], np.ndarray] = {}
    for cell in set(int(c) for c in coarse_asg):
        members = sorted(int(ids[i]) for i in np.where(coarse_asg == cell)[0])
        for fid, vid in enumerate(members[:k2]):
            cents[(cell, fid)] = x[np.searchsorted(ids, vid)].copy()
    idx_of = {int(v): i for i, v in enumerate(ids)}
    asgf: dict[int, tuple[int, int]] = {}
    for _ in range(ITERS2):
        asgf = {}
        for i, vid in enumerate(ids):
            cell = int(coarse_asg[i])
            best = None
            for (c, fid), ce in cents.items():
                if c != cell:
                    continue
                d = int(((x[i] - ce) ** 2).sum())
                kkey = (d, fid)
                if best is None or kkey < best[0]:
                    best = (kkey, fid)
            asgf[int(vid)] = (cell, best[1])
        new_cents = {}
        groups: dict[tuple[int, int], list[int]] = {}
        for vid, cf in asgf.items():
            groups.setdefault(cf, []).append(vid)
        for cf, vids in groups.items():
            xs = x[[idx_of[v] for v in vids]]
            new_cents[cf] = np.floor_divide(xs.sum(axis=0), len(vids))
        cents = new_cents
    got = {(r.cell, r.fid): r for r in q_twolevel_kmeans(spark, sf_dir).collect()}
    groups = {}
    for vid, cf in asgf.items():
        groups.setdefault(cf, []).append(vid)
    assert set(got) == set(groups)
    for cf, vids in groups.items():
        g = got[cf]
        assert g.n_members == len(vids)
        assert g.min_vec_id == min(vids)
        assert g.sum_vec_ids == sum(vids)
        assert g.centroid_l1 == int(np.abs(cents[cf]).sum())
    # two genuine levels: more than one cell, more than one fine id
    assert len({c for c, _ in groups}) > 1
    assert len({f for _, f in groups}) > 1


def test_grouped_numpy_assignment_matches_python(spark, sf_dir, emb):
    """The fine-level grouped matmul path (engaged only above the
    n·k routing threshold, i.e. at probe scale) must agree with a
    plain-python per-cell argmin on arbitrary cells and centroids."""
    from kafka_clickhouse_implementation_spark.operators.clustering import (
        _assign_np_grouped,
        _eq_arrays,
    )
    from pyspark.sql import functions as SF

    ids, x = emb
    eq = _eq_arrays(spark, sf_dir)
    eqc = eq.withColumn("cell", SF.col("vec_id") % 3)
    cents = []
    for cell in range(3):
        members = [int(v) for v in ids if v % 3 == cell]
        for fid, vid in enumerate(sorted(members)[:4]):
            cents.append((cell, fid, [int(v) for v in x[vid]]))
    got = {
        r.vec_id: (r.cell, r.fid)
        for r in _assign_np_grouped(eqc, cents).collect()
    }
    by_cell: dict[int, list[tuple[int, int]]] = {}
    for cell, fid, arr in cents:
        by_cell.setdefault(cell, []).append((fid, arr))
    for i, vid in enumerate(ids):
        cell = int(vid) % 3
        best = min(
            (int(((x[i] - np.asarray(arr)) ** 2).sum()), fid)
            for fid, arr in by_cell[cell]
        )
        assert got[int(vid)] == (cell, best[1]), vid


def test_ivfpq_recall_and_structure(spark, sf_dir):
    """C167: IVF-PQ's only loss vs flat IVF is the ADC shortlist cut —
    recall@TOPK against q_ann_ivf_exact must stay >= 0.8 (measured
    0.86-0.98 at the test SFs with PQ_K16/SHORT_R), the ADC shortlist
    must be a REAL cut (dist2_pq is the approximate metric and differs
    from dist2), and per-query ranks must be dense 1..k ordered by
    exact distance."""
    from kafka_clickhouse_implementation_spark.operators.clustering import (
        TOPK,
        q_ann_ivf_exact,
        q_ann_ivfpq,
    )

    flat = {(r.query_id, r.neighbor_id) for r in q_ann_ivf_exact(spark, sf_dir).collect()}
    rows = q_ann_ivfpq(spark, sf_dir).collect()
    got = {(r.query_id, r.neighbor_id) for r in rows}
    assert len(flat & got) / len(flat) >= 0.8
    byq: dict[int, list] = {}
    for r in rows:
        byq.setdefault(r.query_id, []).append(r)
    for q, rs in byq.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1)), q
        assert len(rs) <= TOPK
        dists = [r.dist2 for r in rs]
        assert dists == sorted(dists), q
    # the PQ metric is genuinely approximate, not a copy of the exact one
    assert any(r.dist2 != r.dist2_pq for r in rows)


def test_ivfpq_residual_recall_and_structure(spark, sf_dir):
    """C174: the residual-encoded variant must keep recall >= 0.8 vs
    flat IVF (measured ~0.94 at the test SFs — statistically equal to
    the raw variant at this scale; residual's edge appears when cells
    are tight relative to the codebook), with the same rank/order
    invariants as C167, and its ADC metric must differ from the raw
    variant's (the residual LUTs really are per-probed-list)."""
    from kafka_clickhouse_implementation_spark.operators.clustering import (
        TOPK,
        q_ann_ivf_exact,
        q_ann_ivfpq,
        q_ann_ivfpq_residual,
    )

    flat = {(r.query_id, r.neighbor_id) for r in q_ann_ivf_exact(spark, sf_dir).collect()}
    rows = q_ann_ivfpq_residual(spark, sf_dir).collect()
    got = {(r.query_id, r.neighbor_id) for r in rows}
    assert len(flat & got) / len(flat) >= 0.8
    byq: dict[int, list] = {}
    for r in rows:
        byq.setdefault(r.query_id, []).append(r)
    for q, rs in byq.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1)), q
        assert len(rs) <= TOPK
        assert [r.dist2 for r in rs] == sorted(r.dist2 for r in rs), q
    raw_pq = {
        (r.query_id, r.neighbor_id): r.dist2_pq
        for r in q_ann_ivfpq(spark, sf_dir).collect()
    }
    res_pq = {(r.query_id, r.neighbor_id): r.dist2_pq for r in rows}
    common = set(raw_pq) & set(res_pq)
    assert common and any(raw_pq[k] != res_pq[k] for k in common)


def test_sq8_codes_and_recon_bounds(spark, sf_dir):
    """C196 invariants: every code lies in [0,255]; every in-bounds
    reconstruction differs from its point by at most one quantization
    step ((mx-mn) div 255 + 1); the degenerate mx==mn dims decode with
    zero error."""
    from pyspark.sql import functions as F

    from kafka_clickhouse_implementation_spark.operators.clustering import (
        _pts_long,
        _sq8_codes,
        _sq8_train,
    )

    pts = _pts_long(spark, sf_dir)
    stats = _sq8_train(pts)
    codes = _sq8_codes(pts, stats)
    bad = codes.filter("code < 0 OR code > 255").count()
    assert bad == 0
    err = (
        codes.join(F.broadcast(stats), "dim")
        .join(pts, ["vec_id", "dim"])
        .select(
            F.abs(
                F.col("x")
                - (F.col("mn") + F.expr("(code * (mx - mn)) div 255"))
            ).alias("e"),
            F.expr("(mx - mn) div 255 + 1").alias("step"),
        )
    )
    assert err.filter("e > step").count() == 0


def test_sq8_unbounded_shortlist_reduces_to_flat_ivf(spark, sf_dir, monkeypatch):
    """C196 acceptance: with an unbounded shortlist the SQ8 ADC stage
    only reorders candidates BEFORE an exact re-rank that sees all of
    them, so the final ranking must equal C112's flat-IVF exact search
    (same coarse books, same probe routing) — the SQ8 path degrades
    gracefully to the exact index, which is what makes the shortlist a
    pure knob. Also pins that the certified default (SHORT_R=30) stays
    within the probed candidate volume's top block: its ceiling-match
    here plus the oracle hash is the whole-plan certification."""
    from pyspark.sql import functions as F

    from kafka_clickhouse_implementation_spark.operators.clustering import (
        ITERS,
        _eq_arrays,
        _lloyd_arrays,
        _pts_long,
        _sq8_codes,
        _sq8_search,
        _sq8_train,
        ivf_k,
        q_ann_ivf_exact,
    )
    from kafka_clickhouse_implementation_spark.io import load

    from kafka_clickhouse_implementation_spark import gate

    emb = load(spark, sf_dir, "embeddings")
    k = ivf_k(emb.count())
    eq = _eq_arrays(spark, sf_dir).localCheckpoint()
    # the distributed Lloyd path trains these books; q_ann_ivf_exact
    # below trains its own on the driver path, so the equality also
    # crosses the two paths
    monkeypatch.setattr(gate, "DRIVER_MAX_ROWS", 0)
    asg, asg_carr, _ = _lloyd_arrays(spark, eq, k, ITERS)
    monkeypatch.undo()
    pts = _pts_long(spark, sf_dir)
    stats = _sq8_train(pts)
    codes = _sq8_codes(pts, stats)
    sq8 = _sq8_search(
        spark, eq, pts, asg_carr, asg, codes, stats,
        short_r=1_000_000_000,
    ).select("query_id", "rank", "neighbor_id", "dist2")
    flat = q_ann_ivf_exact(spark, sf_dir)
    got = sorted(map(tuple, sq8.collect()))
    want = sorted(map(tuple, flat.collect()))
    assert got == want


def test_inrow_probe_equals_window_form(spark, sf_dir, monkeypatch):
    """r15 optimization guard: the coarse probe's in-row
    slice(array_sort(dists), 1, nprobe) must reproduce the window form
    it replaced (row_number over (dist, cid) <= nprobe) exactly —
    array_sort on struct(d, c) orders lexicographically, which is the
    same (dist ASC, cid ASC) total order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kafka_clickhouse_implementation_spark.operators.clustering import (
        ITERS,
        Q_EVERY,
        _code_points,
        _eq_arrays,
        _lloyd_arrays,
        ivf_k,
    )

    from kafka_clickhouse_implementation_spark import gate

    eq = _eq_arrays(spark, sf_dir).localCheckpoint()
    k = ivf_k(eq.count())
    monkeypatch.setattr(gate, "DRIVER_MAX_ROWS", 0)  # distributed Lloyd
    _asg, asg_carr, _ = _lloyd_arrays(spark, eq, k, ITERS)
    qd = _code_points(
        eq.filter(F.col("vec_id") % Q_EVERY == 0), asg_carr
    ).localCheckpoint()
    for nprobe in (1, 2, 4):
        inrow = qd.select(
            F.col("vec_id").alias("qid"),
            F.explode(
                F.expr(f"slice(array_sort(dists), 1, {nprobe})")
            ).alias("s"),
        ).select("qid", F.col("s.c").cast("long").alias("cid"))
        window = (
            qd.select(F.col("vec_id").alias("qid"), F.explode("dists").alias("s"))
            .select(
                "qid",
                F.col("s.c").cast("long").alias("cid"),
                F.col("s.d").alias("dist"),
            )
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("qid").orderBy("dist", "cid")
                ),
            )
            .filter(F.col("rn") <= nprobe)
            .select("qid", "cid")
        )
        got = sorted(map(tuple, inrow.collect()))
        want = sorted(map(tuple, window.collect()))
        assert got == want, nprobe


# ---------------------------------------------------- driver-gated Lloyd


def _both_paths(spark, eq, k, iters=ITERS, dim=64):
    """(driver, distributed) _lloyd_arrays results on the same frame:
    the distributed run closes the shared gate."""
    from kafka_clickhouse_implementation_spark import gate
    from kafka_clickhouse_implementation_spark.operators.clustering import (
        _lloyd_arrays,
    )

    fast = _lloyd_arrays(spark, eq, k, iters, dim=dim)
    old = gate.DRIVER_MAX_ROWS
    gate.DRIVER_MAX_ROWS = 0
    try:
        slow = _lloyd_arrays(spark, eq, k, iters, dim=dim)
    finally:
        gate.DRIVER_MAX_ROWS = old
    return fast, slow


def _assert_same_trajectory(fast, slow):
    f_asg = sorted(map(tuple, fast[0].collect()))
    s_asg = sorted(map(tuple, slow[0].collect()))
    assert f_asg == s_asg and len(f_asg) > 0
    assert fast[1] == slow[1]  # asg_carr: the codebook that made asg
    assert fast[2] == slow[2]  # cents: the post-final-update model


@pytest.mark.parametrize("rule", ["K", "ivf_k", "semdedup_k"])
def test_driver_lloyd_equals_distributed(spark, sf_dir, rule):
    """The driver Lloyd (under the gate) and the distributed loop replay
    the same integer trajectory — assignment, producing codebook and
    final model — at every k rule the package trains with."""
    from kafka_clickhouse_implementation_spark.operators.clustering import (
        _eq_arrays,
    )

    eq = _eq_arrays(spark, sf_dir).localCheckpoint()
    n = eq.count()
    k = {"K": K, "ivf_k": ivf_k(n), "semdedup_k": semdedup_k(n)}[rule]
    _assert_same_trajectory(*_both_paths(spark, eq, k))


def _eq_frame(spark, vecs):
    return spark.createDataFrame(
        [(i, list(v)) for i, v in enumerate(vecs)],
        schema="vec_id long, eq array<bigint>",
    )


def test_driver_lloyd_drops_emptied_cluster_like_distributed(spark):
    """Seeds 0 and 1 coincide, so every point tied between them goes to
    cid 0 and cluster 1 is left with no members: both paths drop it
    from the model after round one."""
    vecs = [(0, 0), (0, 0), (100, 100), (1, 2), (99, 97), (-3, 1), (50, 49)]
    fast, slow = _both_paths(spark, _eq_frame(spark, vecs), 3, dim=2)
    _assert_same_trajectory(fast, slow)
    assert [c for c, _ in fast[1]] == [0, 2]
    assert {c for _, c in map(tuple, fast[0].collect())} == {0, 2}


def test_driver_lloyd_breaks_exact_tie_to_smaller_cid(spark):
    """Vector 2 is exactly equidistant (squared distance 25) from seeds
    0 and 1: both paths assign it to cid 0, the smaller id."""
    vecs = [(0, 0), (10, 0), (5, 0), (0, 1), (10, 1)]
    fast, slow = _both_paths(spark, _eq_frame(spark, vecs), 2, iters=1, dim=2)
    _assert_same_trajectory(fast, slow)
    assert dict(map(tuple, fast[0].collect()))[2] == 0


def test_lloyd_job_budget(spark, sf_dir):
    """The gated k-means fit at sf0.001 — embeddings read, one
    checkpoint, the gate's fetch — launches at most 5 Spark jobs; the
    three distributed rounds used to add one update job each plus the
    seed collect and the assignment checkpoint."""
    import uuid

    from kafka_clickhouse_implementation_spark.operators.clustering import _lloyd

    sc = spark.sparkContext
    group = f"lloyd-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        _lloyd(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 5
