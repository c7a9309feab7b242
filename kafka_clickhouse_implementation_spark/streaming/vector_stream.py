"""Streaming vector ingest into a static IVF index (round 6, C119):
the index-BUILD half of the vector-store story, next to the batch
IVF query path (operators/clustering.q_ann_ivf_exact).

Production vector stores train a coarse quantizer offline and then
stream new vectors through it: each arriving vector is coded by its
nearest centroid (a pure projection against the broadcast codebook)
and appended to that inverted list. Here the codebook is the
deterministic Lloyd run's FINAL centroids, embedded as a literal
array-of-arrays expression, so the per-row coding is a stateless
whole-stage-codegen projection — argmin over k int distances with the
first-match tie rule (array_position returns the first index, and the
literal is ordered by ascending cid, reproducing min(dist, cid)).
The only streaming STATE is the per-list aggregate (k rows), folded
across micro-batches by a plain complete-mode aggregation.

The DuckDB oracle replays the Lloyd trajectory (shared CTE builder)
and assigns every vector to the FINAL centroid set — so the hash
match certifies codebook, coding rule, and cross-batch accumulation
together.

Scale: coding is O(k·d) per vector with zero shuffle; state is k
rows regardless of stream length — the sketch-tier property again.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.cachedirs import (
    product_id,
    publish_product,
    read_product,
    source_tagged_dir,
)
from kafka_clickhouse_implementation_spark.io import load
from kafka_clickhouse_implementation_spark.operators.clustering import (
    ITERS,
    K,
    _lloyd,
    _lloyd_ctes,
    _QUANT,
)
from kafka_clickhouse_implementation_spark.registry import query
from kafka_clickhouse_implementation_spark.sources.streams import doubled_wire, read_wire, source_wire
from kafka_clickhouse_implementation_spark.streaming.drain import drain

_IVF_INGEST_ORACLE = f"""
WITH {_lloyd_ctes()},
dF AS (
  SELECT p.vec_id, c.cid, CAST(sum((p.x - c.x) * (p.x - c.x)) AS BIGINT) AS dist
  FROM pts p JOIN cent{ITERS} c ON p.dim = c.dim
  GROUP BY p.vec_id, c.cid
),
mdF AS (SELECT vec_id, min(dist) AS md FROM dF GROUP BY vec_id),
asgF AS (
  SELECT d.vec_id, min(d.cid) AS cid
  FROM dF d JOIN mdF m ON d.vec_id = m.vec_id AND d.dist = m.md
  GROUP BY d.vec_id
)
SELECT cid AS list_id,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(vec_id) AS BIGINT) AS sum_vec_ids,
       CAST(min(vec_id) AS BIGINT) AS min_vec_id
FROM asgF GROUP BY cid
"""


def embedding_wire(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """The `embeddings` replay in vec_id order, with the
    micro-quantized vector as an array of longs (JSON round-trips longs
    losslessly; the floats never cross the wire). 4 files → 4
    micro-batches."""
    return source_wire(
        spark, sf_dir, "embeddings", "vecwire", ("vec_id",),
        lambda emb: emb.select("vec_id", F.expr(f"transform(embedding, x -> {_QUANT})").alias("eq")),
    )


@query("q_stream_ivf_ingest", oracle=_IVF_INGEST_ORACLE)
def q_stream_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the embeddings table through the static IVF coarse
    quantizer (the batch Lloyd run's final centroids as a literal
    codebook): per arriving vector, one stateless projection computes
    all k integer distances and picks the first argmin; a complete-
    mode streaming aggregation folds per-list populations and
    membership checksums across 4 micro-batches. Must hash-match the
    oracle's batch assignment of every vector to the final centroid
    set — certifying that streaming ingest builds exactly the index
    the batch build would."""
    _, _, cents = _lloyd(spark, sf_dir)
    # cents rows are (cid, dim, x); order the literal by ascending cid
    # so array_position's first-match tie rule == min(dist, cid)
    by_cid: dict[int, dict[int, int]] = {}
    for cid, dim, x in cents:
        by_cid.setdefault(cid, {})[dim] = x
    cids = sorted(by_cid)
    arrs = ", ".join(
        "array(" + ", ".join(f"{by_cid[c][d]}L" for d in sorted(by_cid[c])) + ")"
        for c in cids
    )
    cid_arr = "array(" + ", ".join(str(c) for c in cids) + ")"
    # single-pass argmin: zip_with pairs each centroid's distance with
    # its cid as a struct and array_min orders (d, c) lexicographically
    # — min dist, tie → smallest cid — with every distance evaluated
    # exactly once (HOFs are CodegenFallback: the previous form, which
    # repeated the transform inside array_position AND array_min, ran
    # the k·64 distance work twice per row — r6 ADVICE fix)
    code_expr = (
        f"array_min(zip_with(array({arrs}), {cid_arr}, (ca, c) -> "
        "named_struct('d', aggregate(zip_with(eq, ca, "
        "(p, q) -> (p - q) * (p - q)), 0L, (s, v) -> s + v), 'c', c))).c"
    )
    wire, base = embedding_wire(spark, sf_dir)
    ckpt = os.path.join(base, "ckpt_ivf_ingest")
    vecs = read_wire(spark, wire, 1).select(
        "vec_id", F.expr(code_expr).cast("long").alias("list_id")
    )
    lists = vecs.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("vec_id").cast("long").alias("sum_vec_ids"),
        F.min("vec_id").alias("min_vec_id"),
    )
    name = "stream_ivf_lists"
    drain(spark, (lists, name, ckpt, "complete"))
    return spark.table(name).select(
        "list_id", "n_vecs", "sum_vec_ids", F.col("min_vec_id").cast("long").alias("min_vec_id")
    )


# ---------------------------------------------------------------------
# Streaming SemDeDup — round 10 (C151): the -State twin of C111,
# composing C119's static-codebook coding with the within-cluster pair
# frame. Vectors arrive over a DUPLICATE-INJECTING wire (each part
# file copied with a later mtime, the C138/C147 pattern — under
# maxFilesPerTrigger=1 every vector's duplicate lands in a LATER
# micro-batch), pass stateful vec_id dedup, are coded against the
# batch Lloyd run's final codebook (a stateless projection / numpy
# matmul — streaming-safe because it is stateless), and a
# complete-mode groupBy(cid, vec_id) maintains the per-cluster
# candidate MEMBERSHIP across micro-batches, counting arrivals.
#
# Certification (the adversarial-oracle stance of the CC convergence
# probe): the drained state drives the SAME within-cluster pair frame
# as batch q_semantic_dedup, and the output ALSO emits
# max(n_arrivals) per cluster, which the oracle pins to LITERAL 1 —
# remove the dedup state and the injected duplicates make it 2, a
# loud hash FAIL rather than a silently-correct membership (identical
# payloads collapse under groupBy(cid, vec_id), so membership alone
# could not prove the dedup state is load-bearing).
#
# State: dedup = one vec_id per distinct vector; membership = one
# (cid, vec_id) row per vector — linear, the C9 dedup-state class;
# the pair frame is computed POST-drain on the bounded drained table.
# ---------------------------------------------------------------------

from kafka_clickhouse_implementation_spark.operators.clustering import (  # noqa: E402
    _EQ_CTE,
    _LAST,
    _PAIR_DIST,
    _PTS_CTE,
    DUP_THRESH,
    LIT_MAX,
    SEM_BLOCK,
    _assign_np,
    _code_points,
    _pair_stats_np,
    _eq_arrays,
    _lloyd_arrays,
    _lloyd_rounds,
    semdedup_k,
)

_STREAM_SEMDEDUP_ORACLE = f"""
WITH {_PTS_CTE},
kval AS (
  SELECT greatest({K}, CAST(count(*) AS BIGINT) // {SEM_BLOCK}) AS k
  FROM embeddings
),
{_lloyd_rounds("(SELECT k FROM kval)", ITERS, "ss", "pts")},
{_EQ_CTE},
pairs AS (
  SELECT ga.cid, ga.vec_id AS va, gb.vec_id AS vb,
         CAST({_PAIR_DIST} AS BIGINT) AS dist2
  FROM asgss{_LAST} ga
  JOIN asgss{_LAST} gb ON ga.cid = gb.cid AND ga.vec_id < gb.vec_id
  JOIN eq a ON a.vec_id = ga.vec_id
  JOIN eq b ON b.vec_id = gb.vec_id
),
pagg AS (
  SELECT cid,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN dist2 < {DUP_THRESH} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_close,
         CAST(count(DISTINCT CASE WHEN dist2 < {DUP_THRESH} THEN vb END) AS BIGINT)
           AS n_drop,
         CAST(min(dist2) AS BIGINT) AS min_dist2
  FROM pairs GROUP BY cid
),
mem AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
         CAST(sum(vec_id) AS BIGINT) AS sum_vec_ids
  FROM asgss{_LAST} GROUP BY cid
)
SELECT m.cid AS cluster_id, m.n_members, m.sum_vec_ids,
       CAST(1 AS BIGINT) AS max_arrivals,
       p.n_pairs, p.n_close, p.n_drop, p.min_dist2
FROM mem m LEFT JOIN pagg p ON p.cid = m.cid
"""


def embedding_wire_dup(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """The C119 embedding wire PLUS duplicate injection: every part
    arrives again as a ``dup-*.json`` after all the originals, so each
    vector's duplicate lands in a LATER micro-batch and only
    cross-batch dedup state can collapse it."""
    base = source_tagged_dir("vecwiredup", sf_dir, "embeddings")
    wire_dir = doubled_wire(embedding_wire(spark, sf_dir)[0], os.path.join(base, "wire"))
    return wire_dir, base


def _stream_coded_members(
    spark: SparkSession, sf_dir: str, dedup: bool = True
) -> DataFrame:
    """Drain the duplicate-injecting wire through (optional) stateful
    vec_id dedup → static-codebook coding → complete-mode
    groupBy(cid, vec_id) arrival counts; returns the drained table.
    ``dedup=False`` exists ONLY for the necessity pytest, which proves
    the wire's duplicates reach the state when the dedup is removed."""
    eq = _eq_arrays(spark, sf_dir).localCheckpoint()
    k = semdedup_k(eq.count())
    _, asg_carr, _ = _lloyd_arrays(spark, eq, k, ITERS)

    wire, base = embedding_wire_dup(spark, sf_dir)
    suffix = "" if dedup else "_nodedup"
    ckpt = os.path.join(base, f"ckpt_semdedup{suffix}")
    # maxFilesPerTrigger=4 (the C147/C179 dup-wire convention): the 4
    # originals arrive in batch 0 and the 4 later-mtime dup-* files in
    # batch 1, so every vector's duplicate still lands in a LATER
    # micro-batch than its original and the cross-batch dedup state
    # stays load-bearing (the necessity pytest still fails without
    # it) — while the drain pays 2 state-commit rounds instead of 8
    # (measured r15: each micro-batch costs ~1.2 s of mostly
    # state-store commit + scheduling at bench scale).
    vecs = read_wire(spark, wire, 4)
    if dedup:
        vecs = vecs.dropDuplicates(["vec_id"])
    # the same guarded coder as the batch Lloyd: literal projection
    # below LIT_MAX centroids, stateless numpy matmul above — both
    # streaming-safe (no state, no shuffle)
    if len(asg_carr) <= LIT_MAX:
        coded = _code_points(vecs, asg_carr).select("cid", "vec_id")
    else:
        coded = _assign_np(vecs, asg_carr).select("cid", "vec_id")
    members = coded.groupBy("cid", "vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_arrivals")
    )
    name = f"stream_semdedup_members{suffix}"
    drain(spark, (members, name, ckpt, "complete"))
    return spark.table(name)


@query("q_stream_semantic_dedup", oracle=_STREAM_SEMDEDUP_ORACLE)
def q_stream_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C151: SemDeDup with the per-cluster candidate membership
    maintained INCREMENTALLY by the streaming engine (see the section
    comment above for the full design and the max_arrivals
    certification trick). The drained membership drives the identical
    within-cluster pair frame as batch q_semantic_dedup — one hash
    certifies streaming-maintained membership == batch assignment ==
    independent DuckDB Lloyd replay, plus the dedup state's
    load-bearing role via the oracle's literal-1 max_arrivals."""
    members = _stream_coded_members(spark, sf_dir).localCheckpoint()
    eq = _eq_arrays(spark, sf_dir).localCheckpoint()
    # the identical within-cluster pair frame as batch q_semantic_dedup
    # — the shared grouped-numpy pass (clustering._pair_stats_np)
    # replaces the old explicit pair self-join + per-pair interpreted
    # HOF distance (r15 optimization, results bit-identical)
    withq = members.select("cid", "vec_id").join(eq, "vec_id").select(
        "cid", "vec_id", "eq"
    )
    pagg = _pair_stats_np(withq)
    mem = members.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("vec_id").cast("long").alias("sum_vec_ids"),
        F.max("n_arrivals").cast("long").alias("max_arrivals"),
    )
    return mem.join(pagg, "cid", "left").select(
        F.col("cid").alias("cluster_id"),
        "n_members",
        "sum_vec_ids",
        "max_arrivals",
        "n_pairs",
        "n_close",
        "n_drop",
        "min_dist2",
    )


# ---------------------------------------------------------------------
# Persisted + streaming-maintained IVF-PQ index — round 12 (C178): the
# r11 verdict's "missing #3". q_ann_ivfpq retrains its models inside
# every invocation (deterministic — that IS the certification path);
# at 100 TB the index is an ARTIFACT: trained models written once (the
# FAISS index-file analogue), searches LOAD them, and the coded-vector
# table is MAINTAINED as vectors arrive — the C168 upsert recipe
# applied to the codes.
#
# Product layout (one source-tagged root):
#   coarse_asg_book/  (cid, dim, x)        — coarse ASSIGNMENT codebook
#                                            (_lloyd_arrays' asg_carr:
#                                            pre-final-update, what
#                                            coding/probing ranks
#                                            against);
#   pq_asg_book/      (sub, cid, dim, c)   — PQ assignment codebook
#                                            (the centroids that
#                                            produced the training
#                                            assignment — what an
#                                            arriving vector must be
#                                            coded against to equal
#                                            the batch codes);
#   pq_adc_book/      (sub, cid, dim, c)   — PQ ADC codebook
#                                            (post-final-update, what
#                                            query LUTs measure
#                                            against);
#   + the coded-vector table maintained by the STREAM as (vec_id, sub,
#     cid, version) parquet row versions under plans/upsert.py
#     (sub = -1 carries the coarse cell; 0..7 the PQ codes).
#
# The stream is the duplicate-injecting embedding wire (C151's) →
# stateful vec_id dedup → a STATELESS coding projection against the
# LOADED books (literal argmin below LIT_MAX centroids, the C119
# pattern; numpy matmul above — both streaming-safe) → foreachBatch
# append of (key, version=epoch) rows. Idempotency: a replayed batch
# appends byte-identical versions and latest-per-key resolution is
# unchanged (pinned by tests/test_vector_stream.py double-append).
#
# Certification: the search runs the SHARED _ivfpq_search plan over the
# loaded books + the upsert-resolved codes, against the UNCHANGED C167
# oracle — one hash certifies persisted models == in-query trained
# models AND streaming-maintained codes == batch training assignment.
#
# Scale shape: per-trigger write volume is the arriving keys' 9 rows
# each, never the index; the read-side rank shuffles once on (vec_id,
# sub); compaction is plans/upsert.compact_versions, off-peak.
# ---------------------------------------------------------------------

from kafka_clickhouse_implementation_spark.operators.clustering import (  # noqa: E402
    PQ_K16,
    PQ_SUBDIM,
    _ivfpq_oracle,
    _ivfpq_search,
    _pq_train,
    _pts_long,
    _split_subspaces,
    ivf_k,
)


def _coarse_book(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The coarse quantizer trained on the lake vectors, as (cid, dim, x)
    rows."""
    eq = _eq_arrays(spark, sf_dir).localCheckpoint()
    _asg, asg_carr, _cents = _lloyd_arrays(spark, eq, ivf_k(eq.count()), ITERS)
    return spark.createDataFrame(
        [(cid, d, x) for cid, arr in asg_carr for d, x in enumerate(arr)],
        schema="cid LONG, dim INT, x LONG",
    )


def _ivfpq_books(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The IVF-PQ books trained on the lake vectors: the coarse quantizer
    and the PQ assignment and ADC codebooks."""
    coarse = _coarse_book(spark, sf_dir)
    _pts, _codes, cdf, acdf = _pq_train(spark, sf_dir, pq_k=PQ_K16)
    return {"coarse_asg_book": coarse, "pq_asg_book": acdf, "pq_adc_book": cdf}


def ann_index_product(spark: SparkSession, sf_dir: str) -> str:
    """Train (once per testdata identity) and persist the C167 models;
    returns the product root. Searches LOAD these — no retraining."""
    return publish_product(
        source_tagged_dir("ann_index", sf_dir, "embeddings"),
        lambda: _ivfpq_books(spark, sf_dir),
    )


def _load_coarse_book(spark: SparkSession, root: str):
    """The books' coarse_asg_book -> the [(cid, [x..])] driver-side form
    _code_points/_assign_np take (model-sized collect)."""
    by_cid: dict[int, dict[int, int]] = {}
    for r in read_product(spark, root)["coarse_asg_book"].collect():
        by_cid.setdefault(int(r.cid), {})[int(r.dim)] = int(r.x)
    return sorted(
        (cid, [dims[d] for d in sorted(dims)]) for cid, dims in by_cid.items()
    )


def _coding_books(spark: SparkSession, root: str):
    """(coarse book, PQ assignment book) of the IVF-PQ books under
    ``root``, in the driver-side forms ``_coded_index_rows`` takes."""
    pq_book = [
        (int(r.sub), int(r.cid), int(r.dim), int(r.c))
        for r in read_product(spark, root)["pq_asg_book"].collect()
    ]
    return _load_coarse_book(spark, root), pq_book


def _pq_code_rows(vecs: DataFrame, pq_book) -> DataFrame:
    """(vec_id, sub, cid): code each vector's 8 subvectors against the
    loaded PQ assignment codebook — one stateless projection (the C119
    literal-argmin pattern per subspace; the book is 8 x 16 x 8 ints,
    far below LIT_MAX x DIM), ties -> smallest cid, exactly
    _pq_train_pts' min(struct(dist, cid))."""
    by_sub: dict[int, dict[int, dict[int, int]]] = {}
    for sub, cid, dim, c in pq_book:
        by_sub.setdefault(int(sub), {}).setdefault(int(cid), {})[int(dim)] = int(c)
    structs = []
    for sub in sorted(by_sub):
        cids = sorted(by_sub[sub])
        arrs = ", ".join(
            "array("
            + ", ".join(f"{by_sub[sub][c][d]}L" for d in sorted(by_sub[sub][c]))
            + ")"
            for c in cids
        )
        cid_arr = "array(" + ", ".join(str(c) for c in cids) + ")"
        lo = sub * PQ_SUBDIM + 1
        structs.append(
            f"named_struct('sub', CAST({sub} AS BIGINT), 'cid', "
            f"array_min(zip_with(array({arrs}), {cid_arr}, (ca, c) -> "
            f"named_struct('d', aggregate(zip_with(slice(eq, {lo}, {PQ_SUBDIM}),"
            " ca, (p, q) -> (p - q) * (p - q)), 0L, (s, v) -> s + v),"
            " 'c', c))).c)"
        )
    return vecs.select(
        "vec_id", F.explode(F.expr("array(" + ", ".join(structs) + ")")).alias("s")
    ).select(
        "vec_id",
        F.col("s.sub").cast("long").alias("sub"),
        F.col("s.cid").cast("long").alias("cid"),
    )


def _coded_index_rows(vecs: DataFrame, coarse_carr, pq_book) -> DataFrame:
    """The full per-vector index contribution: the coarse cell as
    sub = -1 plus the 8 PQ code rows — all stateless projections."""
    if len(coarse_carr) <= LIT_MAX:
        coarse = _code_points(vecs, coarse_carr)
    else:
        coarse = _assign_np(vecs, coarse_carr)
    coarse_rows = coarse.select(
        "vec_id", F.lit(-1).cast("long").alias("sub"), F.col("cid").cast("long")
    )
    return coarse_rows.unionByName(_pq_code_rows(vecs, pq_book))


def _maintain_codes(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    table: str,
    code,
    dependents: tuple[str, ...] = (),
) -> str:
    """Drain the duplicate-injecting embedding wire through stateful
    vec_id dedup and ``code`` (a stateless coding projection against the
    books loaded from ``root``) in UPDATE mode, foreachBatch-appending
    its rows with version=epoch to ``<wire base>/<table>``; returns that
    path.

    Incremental maintenance (r12 advisory): a completed drain stamps
    ``<table>_DRAINED`` with the books' build id; with the stamp, table
    and checkpoint intact, the availableNow restart processes only wire
    files the checkpoint has not seen (zero on an unchanged wire). Codes
    from one set of books searched against rebuilt books would be
    silently wrong (r13 advisory), so any other state rebuilds the table
    from scratch and first drops the ``dependents`` markers under the
    wire base, which certify rows in it."""
    from kafka_clickhouse_implementation_spark.plans.upsert import (
        append_versions,
        stamp,
        stamped_or_reset,
    )

    wire, base = embedding_wire_dup(spark, sf_dir)
    path = os.path.join(base, table)
    ckpt = os.path.join(base, f"ckpt_{table}")
    marker = os.path.join(base, f"{table}_DRAINED")
    identity = product_id(root)
    stamped_or_reset(
        marker, identity, path, ckpt,
        dependents=tuple(os.path.join(base, d) for d in dependents),
    )
    deduped = read_wire(spark, wire, 1).dropDuplicates(["vec_id"])

    def upsert_batch(bdf: DataFrame, epoch_id: int) -> None:
        append_versions(
            bdf.withColumn("version", F.lit(epoch_id).cast("long")), path
        )

    drain(spark, (code(deduped), upsert_batch, ckpt, "update"), resume=True)
    stamp(marker, identity)
    return path


def stream_ann_index_upsert(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Maintain the coded-vector table of (vec_id, sub, cid, version)
    row versions from the embedding wire against the loaded IVF-PQ books
    (the C168 recipe, ``_maintain_codes``). Returns (index product root,
    coded-table path)."""
    root = ann_index_product(spark, sf_dir)
    coarse_carr, pq_book = _coding_books(spark, root)
    path = _maintain_codes(
        spark, sf_dir, root, "ann_codes_upsert",
        lambda vecs: _coded_index_rows(vecs, coarse_carr, pq_book),
        dependents=("ann_codes_recode_EPOCH2",),
    )
    return root, path


@query("q_ann_index_upsert", oracle=_ivfpq_oracle())
def q_ann_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C178: IVF-PQ search over the PERSISTED index product with its
    coded-vector table STREAMING-MAINTAINED via keyed upsert — models
    loaded from disk (never retrained in the search), codes resolved
    latest-per-key from the versioned table the wire maintained, the
    shared _ivfpq_search plan, and the UNCHANGED C167 oracle: one hash
    certifies persisted == trained, maintained == batch-coded, and the
    whole search end to end."""
    root, path = stream_ann_index_upsert(spark, sf_dir)
    return _search_maintained(spark, sf_dir, root, path)


# ---------------------------------------------------------------------
# C183 — index DELETIONS (round 13): a production vector store must
# drop vectors (deleted docs) from the maintained index. The C117
# lightweight-DELETE recipe composed onto the C178 coded-vector table:
# a delete-marker key table + broadcast anti-join on the
# latest-per-key read path; compaction (plans/upsert.compact_versions
# with drop_keys) materializes the mutation so the plain read needs
# no marker join. FAISS remove_ids semantics: deletions drop inverted-
# list entries; the trained quantizers (coarse + PQ codebooks) are
# untouched. Scale: markers are deleted keys only -> broadcast
# anti-join, zero shuffle of the coded table beyond the existing
# latest-per-key rank.
# ---------------------------------------------------------------------

DELETE_MOD = 17  # delete wave: vec_id % 17 == 3 (deterministic,
DELETE_RES = 3  # non-vacuous at every SF, hits some probe lists)


def index_delete_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delete-marker key table for the C183 wave — in production,
    the tiny table a DELETE against the vector store writes."""
    return (
        load(spark, sf_dir, "embeddings")
        .select("vec_id")
        .filter(F.col("vec_id") % DELETE_MOD == DELETE_RES)
        .distinct()
    )


@query(
    "q_ann_index_delete",
    oracle=_ivfpq_oracle(
        survivor_pred=f"g.vec_id % {DELETE_MOD} <> {DELETE_RES}"
    ),
)
def q_ann_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C183: IVF-PQ search over the streaming-maintained index AFTER a
    delete wave — the C178 read path with the delete markers applied
    by broadcast anti-join before the search, checked against the
    C167 oracle restricted to surviving candidates. One hash
    certifies that deleted vec_ids leave the search results while the
    trained models, the probe routing, and the ranking of survivors
    are bit-identical to the full-index replay; a pytest additionally
    compacts the markers in physically (compact_versions drop_keys)
    and asserts compacted-plain-read == marker-anti-join read."""
    root, path = stream_ann_index_upsert(spark, sf_dir)
    return _search_maintained(
        spark, sf_dir, root, path, marks=index_delete_markers(spark, sf_dir)
    )


# ---------------------------------------------------------------------
# C188 — versioned index RE-TRAIN (round 14, the r13 verdict's #5): a
# production vector store re-trains its quantizers when the ingested
# distribution drifts (tools/ann_drift_probe.py measures the decay
# this path exists to fix: stale books lose recall on a shifted
# segment; retrained books recover it — docs/ANN_DRIFT.json). The
# mechanics certified here:
#   1. a NEW CODEBOOK EPOCH: the full training recipe re-runs over the
#      current lake vectors and lands under <index root>/epoch2/ —
#      the FAISS rebuild-into-a-new-index-file step;
#   2. RE-CODE: every vector is re-coded against the epoch-2 books and
#      appended to the SAME versioned coded table at
#      RETRAIN_VERSION_BASE — C168-style versioning across epochs, so
#      latest-per-key resolution pins the newest epoch while the full
#      epoch-1 history stays resolvable (version < RETRAIN_VERSION_BASE);
#   3. PINNED SEARCH: the search loads the epoch-2 books and the
#      latest-per-key codes.
# On the hermetic (un-drifted) wire the deterministic trainer
# reproduces the epoch-1 geometry, so the pinned search must equal the
# C167 oracle — certifying that the rebuild + re-code + pin plumbing
# is lossless; both new artifacts are load-bearing (a wrong epoch-2
# book or code wins resolution and hash-fails). The drift probe runs
# the same path on SHIFTED data, where the epochs genuinely differ.
# ---------------------------------------------------------------------

RETRAIN_VERSION_BASE = 1 << 20  # epoch-2 code versions; stream epochs
# count micro-batches (tens), so the base orders every retrain above
# every stream write while leaving epoch-1 history filterable.


def _search_maintained(
    spark: SparkSession,
    sf_dir: str,
    books_dir: str,
    path: str,
    marks: DataFrame | None = None,
    version_below: int | None = None,
) -> DataFrame:
    """The shared C178/C183/C188 read path: resolve latest-per-key
    codes (optionally pinned to versions < ``version_below``, the
    epoch pin), optionally drop delete-marked keys, load the books
    from ``books_dir``, and run the shared _ivfpq_search plan."""
    from kafka_clickhouse_implementation_spark.plans.upsert import read_latest

    if version_below is not None:
        # epoch pin: read_latest takes a path, so apply the same
        # latest-per-key rank inline over the version-filtered scan
        from pyspark.sql import Window

        w = Window.partitionBy("vec_id", "sub").orderBy(F.col("version").desc())
        latest = (
            spark.read.parquet(path)
            .filter(F.col("version") < version_below)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    else:
        latest = read_latest(spark, path, ("vec_id", "sub"), "version")
    if marks is not None:
        latest = latest.join(F.broadcast(marks), "vec_id", "left_anti")
    latest = latest.localCheckpoint()
    asg = latest.filter(F.col("sub") == -1).select("vec_id", "cid")
    codes = latest.filter(F.col("sub") >= 0).select(
        F.col("sub").cast("int").alias("sub"), "vec_id", "cid"
    )
    cdf = read_product(spark, books_dir)["pq_adc_book"]
    coarse_carr = _load_coarse_book(spark, books_dir)
    eq = _eq_arrays(spark, sf_dir).localCheckpoint()
    pts = _split_subspaces(_pts_long(spark, sf_dir))
    return _ivfpq_search(spark, eq, pts, coarse_carr, asg, codes, cdf)


def ann_index_retrain(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Run the epoch-2 rebuild: train books under <root>/epoch2 (once
    per product identity), re-code every lake vector against them, and
    append the codes at RETRAIN_VERSION_BASE. Returns (epoch2 books
    dir, coded-table path)."""
    from kafka_clickhouse_implementation_spark.plans.upsert import (
        append_versions,
        stamp,
        stamped_or_reset,
    )

    root, path = stream_ann_index_upsert(spark, sf_dir)
    ep2 = publish_product(os.path.join(root, "epoch2"), lambda: _ivfpq_books(spark, sf_dir))
    # The recode marker certifies epoch-2 rows IN the coded table: it is
    # stamped with the epoch-2 books' build id, and every from-scratch
    # rebuild of the table drops it first (a dependent of the table's
    # drain marker, r15 advisory).
    recode_marker = os.path.join(os.path.dirname(path), "ann_codes_recode_EPOCH2")
    identity = product_id(ep2)
    if not stamped_or_reset(recode_marker, identity):
        coarse_carr, pq_book = _coding_books(spark, ep2)
        vecs = _eq_arrays(spark, sf_dir).localCheckpoint()
        append_versions(
            _coded_index_rows(vecs, coarse_carr, pq_book).withColumn(
                "version", F.lit(RETRAIN_VERSION_BASE).cast("long")
            ),
            path,
        )
        stamp(recode_marker, identity)
    return ep2, path


@query("q_ann_index_retrain", oracle=_ivfpq_oracle())
def q_ann_index_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C188: IVF-PQ search over the RETRAINED index epoch — epoch-2
    books rebuilt from the current lake vectors, every vector re-coded
    against them into the same versioned coded table (latest-per-key
    now resolves to the retrain epoch), search pinned to the new
    epoch's books — checked against the UNCHANGED C167 oracle. One
    hash certifies the rebuild → re-code → pinned-read plumbing end to
    end; a pytest additionally pins that every resolved code row
    carries the retrain version and that the epoch-1 history remains
    resolvable under a version pin. Recall DECAY and RECOVERY on a
    genuinely shifted distribution are measured by
    tools/ann_drift_probe.py (docs/ANN_DRIFT.json)."""
    ep2, path = ann_index_retrain(spark, sf_dir)
    return _search_maintained(spark, sf_dir, ep2, path)


# ---------------------------------------------------------------------
# C197 — the SQ8 index as a PERSISTED, STREAMING-MAINTAINED artifact
# (round 15): C196 measured the scalar-quantizer family at its
# probed-list ceiling (docs/ANN_SQ8.json) — a deployment acting on
# that measurement ships SQ8 BOOKS, so the index-artifact tier (C178
# persisted+upsert, C183 deletes, C188 re-train — all PQ) gets the new
# family as a first-class product. Layout under its own source-tagged
# root:
#   coarse_asg_book/  (cid, dim, x)  — the coarse quantizer (the C178
#                                      subdir convention, loadable by
#                                      the shared _load_coarse_book);
#   sq8_stats/        (dim, mn, mx)  — the d-row SQ8 model.
# The stream is the duplicate-injecting embedding wire → stateful
# vec_id dedup → a STATELESS coding projection against the LOADED
# books (coarse cell via the literal-argmin pattern; the 8-bit code
# ARRAY via one zip_with against the literal (mn, mx) arrays — each
# embedded once), foreachBatch-appending (vec_id, cid, codes,
# version=epoch) row versions keyed by vec_id. One row per vector —
# the honest SQ8 write shape (FAISS stores the d-byte code block per
# vector; PQ's 9-row shape carries per-subspace keys instead).
#
# Certification: the search resolves latest-per-key, explodes the
# stored code arrays into the SHARED _sq8_search plan with the loaded
# stats, against the UNCHANGED C196 oracle — one hash certifies
# persisted models == trained models AND stream-maintained codes ==
# batch codes, the C178 statement on the second quantizer family.
# Incremental maintenance, marker identity, and invalidation are
# stream_ann_index_upsert's (one _maintain_codes).
# ---------------------------------------------------------------------

from kafka_clickhouse_implementation_spark.operators.clustering import (  # noqa: E402
    _ivfsq8_oracle,
    _sq8_codes,
    _sq8_search,
    _sq8_train,
)


def ann_sq8_index_product(spark: SparkSession, sf_dir: str) -> str:
    """Train (once per testdata identity) and persist the C196 models;
    returns the product root."""
    return publish_product(
        source_tagged_dir("ann_sq8_index", sf_dir, "embeddings"),
        lambda: {
            "coarse_asg_book": _coarse_book(spark, sf_dir),
            "sq8_stats": _sq8_train(_pts_long(spark, sf_dir)),
        },
    )


def _sq8_code_array_rows(
    vecs: DataFrame, coarse_carr, stats_rows: list[tuple[int, int, int]]
) -> DataFrame:
    """(vec_id, cid, codes): each vector's coarse cell plus its d-long
    8-bit code array, as ONE stateless projection against the loaded
    books — the literal (mn, mx) arrays are embedded once each via a
    nested zip_with, and the per-element formula is the _sq8_codes
    clamped integer expression verbatim."""
    mn_sql = "array(" + ",".join(
        f"{mn}L" for _d, mn, _mx in sorted(stats_rows)
    ) + ")"
    mx_sql = "array(" + ",".join(
        f"{mx}L" for _d, _mn, mx in sorted(stats_rows)
    ) + ")"
    code_expr = (
        f"zip_with(zip_with(eq, {mn_sql}, (x, mn) ->"
        " named_struct('x', x, 'mn', mn)),"
        f" {mx_sql}, (s, mx) ->"
        " least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),"
        " CASE WHEN mx = s.mn THEN CAST(0 AS BIGINT)"
        " ELSE ((s.x - s.mn) * 255) div (mx - s.mn) END)))"
    )
    if len(coarse_carr) <= LIT_MAX:
        coarse = _code_points(vecs, coarse_carr)
    else:
        coarse = _assign_np(vecs, coarse_carr)
    return coarse.select("vec_id", "cid", F.expr(code_expr).alias("codes"))


def _load_sq8_stats(spark: SparkSession, root: str) -> list[tuple[int, int, int]]:
    return sorted(
        (int(r.dim), int(r.mn), int(r.mx))
        for r in read_product(spark, root)["sq8_stats"].collect()
    )


def stream_ann_sq8_upsert(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """The C178 upsert recipe on the SQ8 coded table (``_maintain_codes``):
    (vec_id, cid, codes, version=epoch) row versions coded against the
    loaded SQ8 books. Returns (product root, coded-table path)."""
    root = ann_sq8_index_product(spark, sf_dir)
    coarse_carr = _load_coarse_book(spark, root)
    stats_rows = _load_sq8_stats(spark, root)
    path = _maintain_codes(
        spark, sf_dir, root, "ann_sq8_upsert",
        lambda vecs: _sq8_code_array_rows(vecs, coarse_carr, stats_rows),
    )
    return root, path


def _sq8_search_maintained(
    spark: SparkSession, sf_dir: str, marks: DataFrame | None = None
) -> DataFrame:
    """The shared C197/C198 read path: the maintained SQ8 codes resolved
    latest-per-key, optionally without delete-marked keys, exploded into
    the shared _sq8_search plan with the loaded books."""
    from kafka_clickhouse_implementation_spark.plans.upsert import read_latest

    root, path = stream_ann_sq8_upsert(spark, sf_dir)
    latest = read_latest(spark, path, ("vec_id",), "version")
    if marks is not None:
        latest = latest.join(F.broadcast(marks), "vec_id", "left_anti")
    latest = latest.localCheckpoint()
    asg = latest.select("vec_id", "cid")
    codes_long = latest.select(
        "vec_id", F.posexplode("codes").alias("dim", "code")
    )
    stats = read_product(spark, root)["sq8_stats"]
    coarse_carr = _load_coarse_book(spark, root)
    eq = _eq_arrays(spark, sf_dir).localCheckpoint()
    pts = _pts_long(spark, sf_dir)
    return _sq8_search(spark, eq, pts, coarse_carr, asg, codes_long, stats)


@query("q_ann_sq8_index", oracle=_ivfsq8_oracle())
def q_ann_sq8_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C197: IVF-SQ8 search over the PERSISTED index product with its
    coded table STREAMING-MAINTAINED via keyed upsert — coarse book
    and d-row SQ8 stats loaded from disk (never retrained in the
    search), code arrays resolved latest-per-key from the versioned
    table the wire maintained, exploded into the SHARED _sq8_search
    plan, and the UNCHANGED C196 oracle: one hash certifies
    persisted == trained, maintained == batch-coded, and the whole
    decode-on-read search end to end — the C178 artifact statement on
    the quantizer family docs/ANN_SQ8.json measured at its ceiling."""
    return _sq8_search_maintained(spark, sf_dir)


@query(
    "q_ann_sq8_delete",
    oracle=_ivfsq8_oracle(
        survivor_pred=f"g.vec_id % {DELETE_MOD} <> {DELETE_RES}"
    ),
)
def q_ann_sq8_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C198: the C183 delete wave on the SQ8 index — the maintained
    coded table read latest-per-key with the delete markers applied by
    broadcast anti-join before the shared _sq8_search plan, checked
    against the C196 oracle restricted to surviving candidates (FAISS
    remove_ids semantics: list entries drop, the trained coarse book
    and SQ stats are untouched). One hash certifies deleted vec_ids
    leave the results while survivor ranking is bit-identical — the
    delete-wave statement now holds on BOTH quantizer families."""
    return _sq8_search_maintained(
        spark, sf_dir, marks=index_delete_markers(spark, sf_dir)
    )
