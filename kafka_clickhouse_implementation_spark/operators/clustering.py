"""Deterministic embedding clustering for the LLM-data tier
(SURVEY §2 C110–C112):

- exact quantized k-means (Lloyd, fixed rounds)   → q_kmeans_semantic
- SemDeDup-style within-cluster near-duplicates   → q_semantic_dedup
- IVF approximate-nearest-neighbor, oracle-backed → q_ann_ivf_exact

These close the "semantic dedup" and "IVF scale path" gaps called out
in SURVEY's similarity-search family: C60's sign-LSH ANN is bucketed
by hyperplane signs; IVF buckets by nearest centroid, which is what
production vector stores (FAISS IVF) actually deploy — and SemDeDup
(Abbas et al. 2023, public) is exactly "cluster, then pairwise-check
only within a cluster", i.e. k-means as the candidate generator for
embedding-level dedup.

Everything is EXACT integer arithmetic so a DuckDB oracle can replay
it bit-for-bit — the first oracle-backed iterative-clustering queries
in the registry:

- embeddings quantize ONCE to integer micro-units
  (floor(x·1e6 + 0.5));
- distances are integer squared-L2 (Σ over 64 dims of (a−b)², ≤6e13
  per pair — far inside int64);
- argmin ties break on the smaller centroid id (min(struct(dist,
  cid))) ≡ the oracle's min-dist-then-min-cid two-step;
- centroid updates use a sign-portable floor division
  ``(s − ((s % n + n) % n)) div n`` (Spark ``div`` truncates toward
  zero, DuckDB ``//`` floors — both % take the dividend's sign, so
  the adjusted numerator divides exactly);
- Lloyd runs a FIXED 3 rounds from a FIXED seed (the k lowest
  vec_ids), so the whole trajectory is deterministic.

The oracle unrolls the 3 rounds as chained CTEs — heavy SQL, but the
point is that an independent engine replays the identical trajectory.

Scale: a training set of at most gate.DRIVER_MAX_ROWS vectors is
collected once and Lloyd runs on the driver (model-sized work — the
coarse quantizer is trained once and vectors then stream through it).
Above the gate each round is one stateless coding projection plus one
map-side-combined (cid, dim) aggregate — linear in n, no shuffle of
the embedding bodies. Per-round driver traffic is the k·d centroid
table (bounded by the model size, NOT by data — the prefix.py
bounded-collect pattern). Pair distances (SemDeDup / IVF
re-rank) ride zip_with over the 64-wide arrays — O(pairs) rows, all
whole-stage codegen, and pairs are bucketed by cluster/probe-list,
never all-pairs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark import gate
from kafka_clickhouse_implementation_spark.io import load
from kafka_clickhouse_implementation_spark.registry import query

K = 8  # clusters; seed = vec_id 0..7
ITERS = 3  # fixed Lloyd rounds
DIM = 64
Q_EVERY = 50  # IVF query set: vec_id % 50 == 0
NPROBE = 2
TOPK = 5
# SemDeDup cluster-count rule (round-7 scale fix): k grows with the
# corpus so the expected within-cluster block stays ~SEM_BLOCK vectors
# and the total pair count is ~n·SEM_BLOCK/2 — LINEAR in n, not n²/k.
# At sf0.01 (n=500) and sf0.1 (n=2000) this floors to K=8, bit-identical
# to the round-6 fixed-k trajectory; at sf1 (n=20000) k=80 cuts the
# pair block 10×. Both engine and oracle derive k from count(*).
SEM_BLOCK = 250


def semdedup_k(n: int) -> int:
    """Deterministic SemDeDup cluster count: max(K, n // SEM_BLOCK)."""
    return max(K, n // SEM_BLOCK)


def ivf_k(n: int) -> int:
    """Deterministic IVF list count: max(K, isqrt(n)) — the FAISS
    production rule (round-7 scale fix #3: at fixed k=8 a 200k-vector
    probe re-ranked n/8 ≈ 25k candidates per query, 176 s total; with
    k = √n the per-query re-rank is nprobe·√n and the benchmark's
    n/Q_EVERY query set costs O(n^1.5), measured 176 → ~40 s). The
    oracle derives the same k via floor(sqrt(count(*))) — exact: IEEE
    sqrt of a perfect square is exact and an integer non-square is
    never within one ulp of an integer root."""
    from math import isqrt

    return max(K, isqrt(n))
# SemDeDup near-duplicate threshold, micro-units²: ~1st percentile of
# the global pair-distance distribution at sf0.01 (measured), so
# within-cluster candidates yield a small, deterministic positive set.
DUP_THRESH = 1_450_000_000_000

_QUANT = "CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)"


def _pts_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, dim, x) long format, micro-quantized."""
    emb = load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.posexplode(
            F.expr(f"transform(embedding, x -> {_QUANT})")
        ).alias("dim", "x"),
    )


def _eq_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, eq: array<long>) micro-quantized arrays.

    Repartitioned by vec_id across a PINNED defaultParallelism-way
    layout: the test corpora arrive as ONE parquet file, and the
    distance passes are compute-bound but byte-light — left to AQE the
    shuffle coalesces to a couple of partitions and the n·k zip_with
    work serializes. An explicit numPartitions is exempt from AQE
    coalescing. On a real cluster the scan is already many-partition;
    the explicit spread keeps local[N] honest about plan shape."""
    emb = load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.expr(f"transform(embedding, x -> {_QUANT})").alias("eq")
    ).repartition(spark.sparkContext.defaultParallelism, "vec_id")


def _dist2_arrays(a: str, b: str) -> F.Column:
    """Integer squared-L2 between two array<long> columns, in codegen."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (p, q) -> (p - q) * (p - q)), 0L, (s, v) -> s + v)"
    )


def _lloyd(spark: SparkSession, sf_dir: str):
    """Run the fixed Lloyd trajectory over the full 64-dim vectors.

    Returns (final_assignment_df(vec_id, cid),
             point_to_centroid_dists_df(vec_id, cid, dist) for the
             LAST round's centroid set, final_centroids list[(cid,
             dim, x)]).  Per-round driver traffic is k·d centroid
             rows — bounded by the model size, not the data."""
    eq = _eq_arrays(spark, sf_dir).localCheckpoint()
    return _lloyd_arrays(spark, eq, K, ITERS)


LIT_MAX = 64  # codebook-as-literal ceiling; above it, numpy matmul


def _nearest_fn(carr: list[tuple[int, list[int]]]):
    """The exact nearest-centroid kernel shared by the numpy assignment
    paths (the per-batch ``mapInPandas`` coders and the driver Lloyd):
    returns ``nearest(x)`` mapping an (m, d) matrix to each row's
    nearest centroid id. Distances are dist = x² + c² − 2·X@Cᵀ in
    float64 — EXACT, because every operand and partial sum is an
    integer < 2^53 (|eq| ≤ ~2e6 micro-units → x² ≤ 64·4e12 ≈ 2.6e14),
    whatever order BLAS sums in. np.argmin takes the FIRST minimum and
    carr is sorted ascending by id, so ties break to the smallest id ≡
    the oracle's min-dist-then-min-cid two-step. The dense distance
    matrix is bounded to ~64 MB per row slice regardless of k, so a
    1M-vector corpus (k = 4000 under the SemDeDup rule) cannot blow
    task memory: rows-per-slice shrinks as k grows."""
    import numpy as np

    cmat = np.asarray([a for _, a in carr], dtype=np.float64)
    cids = np.asarray([c for c, _ in carr], dtype=np.int64)
    c2 = (cmat * cmat).sum(axis=1)
    rows_per_slice = max(64, 8_000_000 // max(1, len(cids)))

    def nearest(x) -> np.ndarray:
        out = np.empty(len(x), dtype=np.int64)
        for lo in range(0, len(x), rows_per_slice):
            xs = np.asarray(x[lo : lo + rows_per_slice], dtype=np.float64)
            x2 = (xs * xs).sum(axis=1)
            dist = x2[:, None] + c2[None, :] - 2.0 * (xs @ cmat.T)
            out[lo : lo + len(xs)] = cids[dist.argmin(axis=1)]
        return out

    return nearest


def _assign_np(eq: DataFrame, carr: list[tuple[int, list[int]]]) -> DataFrame:
    """(vec_id, eq, cid) via a vectorized numpy assignment — the
    large-k path (round-7 scale fix #2): with SemDeDup's k(n) rule the
    per-round assignment work is n·k distances = n²/SEM_BLOCK, and at
    200k vectors (k=800) the higher-order-function form's per-element
    overhead made that term dominate (29x wall on 10x data). A dense
    distance matrix is exactly what BLAS is for: per Arrow batch, the
    _nearest_fn kernel (exact float64, ties → smallest cid). The
    centroid matrix rides into the closure (k·d ints, model-sized
    broadcast)."""
    import numpy as np

    nearest = _nearest_fn(carr)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "eq": pdf["eq"],
                    "cid": nearest(
                        np.asarray(
                            [np.asarray(v, dtype=np.float64) for v in pdf["eq"]]
                        )
                    ),
                }
            )

    return eq.mapInPandas(run, schema="vec_id long, eq array<bigint>, cid long")


def _assign_np_grouped(
    eqc: DataFrame, cents: list[tuple[int, int, list[int]]]
) -> DataFrame:
    """(vec_id, cell, fid) — the fine-level analogue of _assign_np:
    per Arrow batch, rows group by their coarse cell and each group's
    distances to ITS OWN cell's fine centroids run through the
    _nearest_fn kernel (exact below 2^53; argmin-first tie ≡ lowest fid
    since fids sort ascending). The whole two-level model (k1·k2·d
    ints) rides the closure — model-sized, like every codebook here."""
    import numpy as np

    by_cell: dict[int, list[tuple[int, list[int]]]] = {}
    for cell, fid, arr in cents:
        by_cell.setdefault(int(cell), []).append((int(fid), arr))
    kernels = {cell: _nearest_fn(sorted(lst)) for cell, lst in by_cell.items()}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out = {"vec_id": [], "cell": [], "fid": []}
            for cell, part in pdf.groupby("cell"):
                fids = kernels[int(cell)](
                    np.asarray(
                        [np.asarray(v, dtype=np.float64) for v in part["eq"]]
                    )
                )
                out["vec_id"].extend(int(v) for v in part["vec_id"])
                out["cell"].extend([int(cell)] * len(part))
                out["fid"].extend(int(f) for f in fids)
            yield pd.DataFrame(out)

    return eqc.mapInPandas(run, schema="vec_id long, cell long, fid long")


def _code_points(eq: DataFrame, carr: list[tuple[int, list[int]]]) -> DataFrame:
    """(vec_id, eq, dists, cid): per-point integer distances to every
    centroid plus the argmin assignment, computed as ONE stateless
    projection — the codebook rides the plan as a literal array (the
    streaming/vector_stream.py coding pattern), so there is no join
    and no shuffle at all. ``dists`` is an array<struct<d,c>> built in
    a single zip_with pass, and the argmin is ``array_min`` over it —
    struct ordering compares (d, c) lexicographically, so tie →
    smallest cid ≡ the oracle's min-dist-then-min-cid, with every
    distance evaluated exactly once (higher-order functions are
    CodegenFallback, so a transform referenced twice really would run
    twice — the r6 ADVICE double-evaluation class)."""
    cids_sql = ",".join(str(c) for c, _ in carr)
    cents_sql = ",".join(
        "array(" + ",".join(str(v) + "L" for v in a) + ")" for _, a in carr
    )
    return eq.withColumn(
        "dists",
        F.expr(
            f"zip_with(array({cents_sql}), array({cids_sql}), (ca, c) -> "
            "named_struct("
            "'d', aggregate(zip_with(eq, ca, (p, q) -> (p - q) * (p - q)), "
            "0L, (s, v) -> s + v), "
            "'c', c))"
        ),
    ).withColumn("cid", F.expr("CAST(array_min(dists).c AS BIGINT)"))


def _lloyd_arrays(
    spark: SparkSession,
    eq: DataFrame,
    k: int,
    iters: int,
    dim: int = DIM,
    force_np: bool = False,
):
    """Fixed-seed integer Lloyd: k seeds = the vectors with vec_id < k
    (ascending), ``iters`` rounds of exact argmin assignment (ties →
    smallest cid) and floor-divided integer centroid updates. Two paths
    replay the same trajectory, split by the shared driver gate
    (gate.driver_rows — one collect that is also the size check):

    - at most gate.DRIVER_MAX_ROWS vectors: the whole loop runs on the
      driver (_lloyd_driver) over one int64 matrix — the training set
      of a coarse quantizer is model-sized work, and every distributed
      round would cost Spark jobs whose distance pass is an interpreted
      higher-order function;
    - above the gate (or an empty frame): the distributed loop below,
      entirely in the array domain (round-7 rewrite — the round-6
      long-format version shuffled an n·d·k distance intermediate plus
      an n·d update join per round, which dominated the sf1 wall once
      SemDeDup's k(n) rule pushed k to 80):

      - assignment: a pure projection against the LITERAL centroid
        codebook (k·d ints baked into the expression — bounded by model
        size; beyond LIT_MAX centroids the _assign_np numpy kernel) —
        zero joins, zero shuffles per round;
      - update: one (cid, dim) ``sum``/``count`` aggregate over the n
        coded rows (map-side partials, k·d-row shuffle output), with
        the k·d floor divisions done driver-side on the collected model
        rows. Each round is ONE scan→project→partial-agg job whose
        output is k·d model rows.

    Why the paths agree bit for bit: the driver assignment IS the
    _nearest_fn kernel of the distributed numpy path, and that kernel
    equals the literal projection's integer argmin (float64 is exact
    on these integers, argmin-first ≡ min(struct(dist, cid))); the
    update sums are exact int64 on both sides, and numpy's int64 ``//``
    floors exactly like Python ``//`` (the distributed path), DuckDB
    ``//`` and the portable Spark ``(s - ((s%n+n)%n)) div n`` recipe. A
    cluster left with no members drops out of the model on both paths
    (no row for it in the update aggregate).

    Returns (asg, asg_carr, cents): ``asg`` the final (vec_id, cid)
    assignment frame, ``asg_carr`` the driver-side codebook that
    PRODUCED it (pre-final-update — what consumers like the IVF probe
    must rank against), ``cents`` the post-final-update model in (cid,
    dim, x) long form. The all-points distance table is never
    materialized; a consumer that needs distances codes its own
    (filtered) rows against asg_carr via _code_points."""
    rows = gate.driver_rows(eq.select("vec_id", "eq"))
    if rows:
        return _lloyd_driver(spark, rows, k, iters)
    carr = sorted(
        (int(r.vec_id), [int(v) for v in r.eq])
        for r in eq.filter(F.col("vec_id") < k).collect()
    )
    asg = asg_carr = None
    for _ in range(iters):
        asg_carr = carr
        if len(carr) <= LIT_MAX and not force_np:
            coded = _code_points(eq, carr)
        else:
            # large-k (or caller-hinted large n·k): numpy assignment
            coded = _assign_np(eq, carr)
        asg = coded.select("vec_id", "cid")
        # update step in LONG format: explode the coded rows to
        # (cid, dim, x) and run ONE narrow 2-aggregate groupBy — the
        # previous 65-column wide aggregate (count + 64 sums) spent
        # ~0.7 s/round in driver-side planning + codegen of the wide
        # plan alone (measured r15: 1.44 s → 0.75 s per round, output
        # bit-identical; the Generate sits above the Project so the
        # n·k coding expression still evaluates once per input row,
        # not once per exploded row — guide §2.3 "shuffle fewer
        # bytes" / §7.3 planning cost)
        upd = (
            coded.select("cid", F.posexplode("eq").alias("dim", "x"))
            .groupBy("cid", "dim")
            .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"))
        )
        by_cid: dict[int, list[int]] = {}
        for r in upd.collect():
            by_cid.setdefault(int(r.cid), [0] * dim)[int(r.dim)] = int(
                r.sx
            ) // int(r.n)
        carr = sorted(by_cid.items())
    cents = [(cid, i, x) for cid, arr in carr for i, x in enumerate(arr)]
    # the final assignment feeds self-joins (SemDeDup pairs) and
    # candidate joins (IVF) — pin the n-row result so consumers don't
    # re-run the n·k distance pass once per branch
    return asg.localCheckpoint(), asg_carr, cents


def _lloyd_driver(spark: SparkSession, rows, k: int, iters: int):
    """The _lloyd_arrays trajectory on the driver over the collected
    (vec_id, eq) rows: one int64 matrix, assignment by the shared
    _nearest_fn kernel, update as per-cid int64 sums floor-divided by
    the member count (np.unique sorts the live cids, so the model stays
    cid-ascending and an empty cluster simply has no row)."""
    import numpy as np
    import pyarrow as pa

    ids = np.asarray([r.vec_id for r in rows], dtype=np.int64)
    x = np.asarray([r.eq for r in rows], dtype=np.int64)
    seed = np.flatnonzero(ids < k)
    seed = seed[np.argsort(ids[seed])]
    carr = list(zip(ids[seed].tolist(), x[seed].tolist()))
    if not carr:
        raise ValueError(f"Lloyd seeding: no vector has vec_id < {k}")
    for _ in range(iters):
        asg_carr = carr
        cid = _nearest_fn(carr)(x)
        order = np.argsort(cid, kind="stable")
        live, starts, n = np.unique(
            cid[order], return_index=True, return_counts=True
        )
        sums = np.add.reduceat(x[order], starts, axis=0)
        carr = list(zip(live.tolist(), (sums // n[:, None]).tolist()))
    cents = [(c, i, v) for c, arr in carr for i, v in enumerate(arr)]
    # an Arrow table lands JVM-side as (vec_id long, cid long) rows; a
    # list of tuples would become a Python RDD that every consumer job
    # re-pickles through Python workers
    asg = spark.createDataFrame(pa.table({"vec_id": ids, "cid": cid}))
    return asg, asg_carr, cents


# --------------------------------------------------------------------------
# Shared oracle prefix: the unrolled Lloyd trajectory in DuckDB SQL
# --------------------------------------------------------------------------


_PTS_CTE = f"""pts AS MATERIALIZED (
  SELECT vec_id,
         CAST(unnest(range({DIM})) AS INTEGER) AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS x
  FROM embeddings
)"""


def _lloyd_rounds(k: int | str, iters: int, sfx: str, pts: str) -> str:
    """The unrolled Lloyd CTE chain (seed + iters rounds) over the CTE
    named ``pts``; CTE names carry ``sfx`` so several independent runs
    (the PQ subspaces) can coexist in one statement. ``k`` may be an
    int literal or a SQL scalar-subquery string (the SemDeDup dynamic
    k(n) rule) — it only appears in the seed filter."""
    parts = [
        f"""cent{sfx}0 AS MATERIALIZED (
  SELECT vec_id AS cid, dim, x FROM {pts} WHERE vec_id < {k}
)"""
    ]
    for i in range(iters):
        parts.append(
            f"""d{sfx}{i} AS MATERIALIZED (
  SELECT p.vec_id, c.cid, CAST(sum((p.x - c.x) * (p.x - c.x)) AS BIGINT) AS dist
  FROM {pts} p JOIN cent{sfx}{i} c ON p.dim = c.dim
  GROUP BY p.vec_id, c.cid
),
md{sfx}{i} AS MATERIALIZED (SELECT vec_id, min(dist) AS md FROM d{sfx}{i} GROUP BY vec_id),
asg{sfx}{i} AS MATERIALIZED (
  SELECT d.vec_id, min(d.cid) AS cid
  FROM d{sfx}{i} d JOIN md{sfx}{i} m ON d.vec_id = m.vec_id AND d.dist = m.md
  GROUP BY d.vec_id
),
cent{sfx}{i + 1} AS MATERIALIZED (
  SELECT s.cid, s.dim, (s.sx - (((s.sx % s.n) + s.n) % s.n)) // s.n AS x
  FROM (SELECT g.cid, p.dim, CAST(sum(p.x) AS BIGINT) AS sx,
               CAST(count(*) AS BIGINT) AS n
        FROM {pts} p JOIN asg{sfx}{i} g ON p.vec_id = g.vec_id
        GROUP BY g.cid, p.dim) s
)"""
        )
    return ",\n".join(parts)


def _lloyd_ctes() -> str:
    return _PTS_CTE + ",\n" + _lloyd_rounds(K, ITERS, "", "pts")


_LAST = ITERS - 1

_KMEANS_ORACLE = f"""
WITH {_lloyd_ctes()},
m AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
         min(vec_id) AS min_vec_id,
         CAST(sum(vec_id) AS BIGINT) AS sum_vec_ids
  FROM asg{_LAST} GROUP BY cid
),
l AS (
  SELECT cid, CAST(sum(abs(x)) AS BIGINT) AS centroid_l1
  FROM cent{ITERS} GROUP BY cid
)
SELECT m.cid AS cluster_id, m.n_members, m.min_vec_id, m.sum_vec_ids, l.centroid_l1
FROM m JOIN l ON m.cid = l.cid
"""


@query("q_kmeans_semantic", oracle=_KMEANS_ORACLE)
def q_kmeans_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact k-means over the embeddings table (k=8,
    3 Lloyd rounds, micro-quantized integer arithmetic): cluster
    sizes, membership checksums, and the final centroids' L1 norms.
    The DuckDB oracle replays the identical trajectory through 3
    unrolled CTE rounds — every intermediate (distances, argmin ties,
    floor-divided centroid updates) is exact-integer, so the hash
    match certifies the whole iterative computation, not just the
    final rollup. This is the clustering stage of SemDeDup-style
    semantic dedup and the coarse quantizer of IVF ANN (C112)."""
    asg, _, cents = _lloyd(spark, sf_dir)
    m = asg.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("vec_id").alias("min_vec_id"),
        F.sum("vec_id").cast("long").alias("sum_vec_ids"),
    )
    cdf = spark.createDataFrame(cents, schema="cid LONG, dim INT, x LONG")
    l1 = cdf.groupBy("cid").agg(F.sum(F.abs("x")).cast("long").alias("centroid_l1"))
    return (
        m.join(l1, "cid")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            "min_vec_id",
            "sum_vec_ids",
            "centroid_l1",
        )
    )


_EQ_CTE = """eq AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))
           AS eq
  FROM embeddings
)"""

_PAIR_DIST = (
    "list_sum(list_transform(range(1, 65), "
    "i -> (a.eq[i] - b.eq[i]) * (a.eq[i] - b.eq[i])))"
)

_SEMDEDUP_ORACLE = f"""
WITH {_PTS_CTE},
kval AS (
  SELECT greatest({K}, CAST(count(*) AS BIGINT) // {SEM_BLOCK}) AS k
  FROM embeddings
),
{_lloyd_rounds("(SELECT k FROM kval)", ITERS, "sd", "pts")},
{_EQ_CTE},
pairs AS (
  SELECT ga.cid, ga.vec_id AS va, gb.vec_id AS vb,
         CAST({_PAIR_DIST} AS BIGINT) AS dist2
  FROM asgsd{_LAST} ga
  JOIN asgsd{_LAST} gb ON ga.cid = gb.cid AND ga.vec_id < gb.vec_id
  JOIN eq a ON a.vec_id = ga.vec_id
  JOIN eq b ON b.vec_id = gb.vec_id
)
SELECT cid AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN dist2 < {DUP_THRESH} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_close,
       CAST(count(DISTINCT CASE WHEN dist2 < {DUP_THRESH} THEN vb END) AS BIGINT)
         AS n_drop,
       CAST(min(dist2) AS BIGINT) AS min_dist2
FROM pairs GROUP BY cid
"""


def _semdedup_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cid, vec_id, eq): cluster membership with the quantized arrays
    under the dynamic-k SemDeDup clustering — the shared input of the
    cluster-stat query (C111) and the composed document-level clean
    (C129), so the two can never drift in trajectory or pair
    semantics."""
    emb = load(spark, sf_dir, "embeddings")
    k = semdedup_k(emb.count())
    eq = _eq_arrays(spark, sf_dir).localCheckpoint()
    asg, _, _ = _lloyd_arrays(spark, eq, k, ITERS)
    return asg.join(eq, "vec_id").select("cid", "vec_id", "eq")


def _pair_block_stats(ids, x, thresh):
    """Per-cluster pairwise stats over sorted ids / row-aligned x.
    Returns (n_pairs, n_close, min_dist2, close_j bool mask over ids
    marking every j that closes a pair with some i < j). Distances are
    EXACT: every operand and partial sum is an integer below 2^53
    (|eq| <= ~2e6 micro-units -> dist2 <= 64·(4e6)^2 ~ 1e15 < 2^53),
    so the float64 x@xT form reproduces the integer zip_with fold bit
    for bit — the _assign_np argument. Row slabs bound the dense
    distance block to ~64 MB regardless of cluster size."""
    import numpy as np

    n = len(ids)
    sq = (x * x).sum(axis=1)
    close_j = np.zeros(n, dtype=bool)
    n_close = 0
    min_d = None
    slab = max(1, 8_000_000 // max(1, n))
    col_idx = np.arange(n)
    for lo in range(0, n, slab):
        hi = min(n, lo + slab)
        d_blk = sq[lo:hi, None] + sq[None, :] - 2.0 * (x[lo:hi] @ x.T)
        mask = col_idx[None, :] > np.arange(lo, hi)[:, None]
        d = d_blk[mask]
        if d.size:
            m = d.min()
            min_d = m if min_d is None or m < min_d else min_d
            cl = (d_blk < thresh) & mask
            n_close += int(cl.sum())
            close_j |= cl.any(axis=0)
    return n * (n - 1) // 2, n_close, min_d, close_j


def _pair_stats_np(withq: DataFrame) -> DataFrame:
    """(cid, n_pairs, n_close, n_drop, min_dist2) per cluster with
    >= 2 members, from (cid, vec_id, eq) membership — the within-
    cluster pair frame collapsed into one grouped numpy pass (guide
    §4.2): the old explicit pair join materialized ~n·SEM_BLOCK/2
    rows through a shuffle and ran an interpreted 64-dim HOF fold per
    pair; here each cluster ships once and its pair block runs
    through BLAS, exactly (see _pair_block_stats). n_drop counts
    distinct LARGER ids in close pairs (ids sorted ascending, so
    'exists i < j close' == the old count(DISTINCT vb | close))."""
    import numpy as np

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        if len(pdf) < 2:
            return pd.DataFrame(
                columns=["cid", "n_pairs", "n_close", "n_drop", "min_dist2"]
            ).astype("int64")
        ids = pdf["vec_id"].to_numpy()
        x = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["eq"]]
        )
        n_pairs, n_close, min_d, close_j = _pair_block_stats(
            ids, x, DUP_THRESH
        )
        return pd.DataFrame(
            {
                "cid": [int(pdf["cid"].iloc[0])],
                "n_pairs": [int(n_pairs)],
                "n_close": [int(n_close)],
                "n_drop": [int(close_j.sum())],
                "min_dist2": [int(min_d)],
            }
        )

    return withq.groupBy("cid").applyInPandas(
        stats, "cid long, n_pairs long, n_close long, n_drop long, min_dist2 long"
    )


def _close_drops_np(withq: DataFrame) -> DataFrame:
    """(doc_id,): the keep-lowest-id drop set — every vec that closes
    a within-cluster pair as the LARGER id. Same grouped numpy pass as
    _pair_stats_np; rows are globally distinct because clusters
    partition the ids and each j emits at most once per cluster."""
    import numpy as np

    def drops(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        if len(pdf) < 2:
            return pd.DataFrame({"doc_id": []}).astype("int64")
        ids = pdf["vec_id"].to_numpy()
        x = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["eq"]]
        )
        _np_, _nc, _md, close_j = _pair_block_stats(ids, x, DUP_THRESH)
        return pd.DataFrame({"doc_id": ids[close_j]})

    return withq.groupBy("cid").applyInPandas(drops, "doc_id long")


@query("q_semantic_dedup", oracle=_SEMDEDUP_ORACLE)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-duplicate detection: pairwise
    integer L2 within each k-means cluster ONLY (the cluster is the
    candidate block — the whole point of SemDeDup is that cross-
    cluster pairs are never materialized), flagging pairs under a
    fixed distance threshold and counting the keep-lowest-id drop set
    per cluster. Pair distances ride zip_with over the 64-wide
    quantized arrays — O(pairs within clusters) rows, all codegen.
    Scale (round-7 fix): the cluster count is DERIVED from the corpus
    size — k = max(8, n // SEM_BLOCK) — so the expected block stays
    ~SEM_BLOCK vectors and total pairs are ~n·SEM_BLOCK/2, linear in n
    (the SemDeDup paper's k ≈ n/10⁴ rule at its scale; our smaller
    block suits the test corpora). The DuckDB oracle computes the SAME
    k via a count(*) scalar subquery, then replays the identical
    trajectory, so the hash certifies the dynamic-k run end-to-end.
    Measured: 1M vectors / k=4000 → 204 s with exactly n·249/2 pairs.
    Assignment is n·k = n²/SEM_BLOCK distances — the one quadratic
    term under this rule; beyond ~10M vectors the production form is
    a two-level (coarse → fine) quantizer at n·2√k distances, the
    same oracle machinery applied twice."""
    return _pair_stats_np(_semdedup_members(spark, sf_dir)).select(
        F.col("cid").alias("cluster_id"),
        "n_pairs",
        "n_close",
        "n_drop",
        "min_dist2",
    )


_SEMCLEAN_ORACLE = f"""
WITH {_PTS_CTE},
kval AS (
  SELECT greatest({K}, CAST(count(*) AS BIGINT) // {SEM_BLOCK}) AS k
  FROM embeddings
),
{_lloyd_rounds("(SELECT k FROM kval)", ITERS, "sc", "pts")},
{_EQ_CTE},
pairs AS (
  SELECT ga.vec_id AS va, gb.vec_id AS vb,
         CAST({_PAIR_DIST} AS BIGINT) AS dist2
  FROM asgsc{_LAST} ga
  JOIN asgsc{_LAST} gb ON ga.cid = gb.cid AND ga.vec_id < gb.vec_id
  JOIN eq a ON a.vec_id = ga.vec_id
  JOIN eq b ON b.vec_id = gb.vec_id
),
drops AS (SELECT DISTINCT vb AS doc_id FROM pairs WHERE dist2 < {DUP_THRESH}),
d AS (
  SELECT dd.source,
         CAST(len(string_split(dd.text, ' ')) AS BIGINT) AS n_words,
         CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END AS kept
  FROM documents dd
  JOIN embeddings e ON e.vec_id = dd.doc_id
  LEFT JOIN drops dr ON dr.doc_id = dd.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(1 - kept) AS BIGINT) AS n_dropped,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       CAST(sum(kept * n_words) AS BIGINT) AS kept_words
FROM d GROUP BY source
"""


@query("q_semantic_clean", oracle=_SEMCLEAN_ORACLE)
def q_semantic_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed DOCUMENT-level SemDeDup clean (C129) — what the
    embedding-level machinery exists FOR: the keep-lowest-id drop set
    from the dynamic-k within-cluster pairs (shared _semdedup_members
    + _pair_block_stats, so the trajectory can never drift from C111)
    is applied to the
    documents table (inner-joined on doc_id = vec_id — only the
    embedded subset participates, which is also the realistic shape:
    you embed what you're willing to semantically dedup), and the
    result is per-source accounting of docs and whitespace tokens
    kept vs dropped. Scale shape: the drop set is a distinct
    16-byte-key frame (bounded by close pairs), the document join is
    one digest-sized shuffle, and everything upstream is the C111
    linear-pair machinery."""
    drops = _close_drops_np(_semdedup_members(spark, sf_dir)).withColumn(
        "dropped", F.lit(1)
    )
    emb_ids = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    docs = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).cast("long").alias("n_words"),
        )
        .join(emb_ids, "doc_id")
        .join(drops, "doc_id", "left")
        .select(
            "source",
            "n_words",
            F.when(F.col("dropped").isNull(), 1).otherwise(0).alias("kept"),
        )
    )
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(1 - F.col("kept")).cast("long").alias("n_dropped"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum(F.col("kept") * F.col("n_words")).cast("long").alias("kept_words"),
    )


_PROTO_ORACLE = f"""
WITH {_PTS_CTE},
kval AS (
  SELECT greatest({K}, CAST(count(*) AS BIGINT) // {SEM_BLOCK}) AS k
  FROM embeddings
),
{_lloyd_rounds("(SELECT k FROM kval)", ITERS, "pr", "pts")},
own AS (
  SELECT a.vec_id, a.cid, m.md AS dist
  FROM asgpr{_LAST} a JOIN mdpr{_LAST} m ON m.vec_id = a.vec_id
),
ranked AS (
  SELECT cid, vec_id, dist,
         row_number() OVER (PARTITION BY cid ORDER BY dist, vec_id) AS rn
  FROM own
),
stats AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
         CAST(sum(dist) AS BIGINT) AS inertia
  FROM own GROUP BY cid
)
SELECT r.cid AS cluster_id, s.n_members, s.inertia,
       r.vec_id AS medoid_id, r.dist AS medoid_dist
FROM ranked r JOIN stats s ON s.cid = r.cid
WHERE r.rn = 1
"""


@query("q_cluster_prototypes", oracle=_PROTO_ORACLE)
def q_cluster_prototypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster prototypes / coreset selection (C130 — the
    prototype-based data-pruning sibling of SemDeDup: Sorscher et al.
    2022's SSL-prototypes keep examples by distance to their cluster
    prototype): under the SAME dynamic-k clustering as C111/C129,
    emit per cluster its medoid (the member closest to the centroid,
    ties to the lowest vec_id — min(struct(dist, vec_id)) ≡ the
    oracle's (dist, vec_id) row_number), the member count, and the
    EXACT integer inertia (Σ own-centroid squared distances — the
    k-means objective value, certified end-to-end). The per-point
    own-centroid distance is array_min(dists).d from the same coding
    projection as assignment — zero extra distance work; one k-row
    aggregation finishes it. Prototype tables are the 100 TB corpus-
    pruning story: model-sized output from one linear pass."""
    emb = load(spark, sf_dir, "embeddings")
    k = semdedup_k(emb.count())
    eq = _eq_arrays(spark, sf_dir).localCheckpoint()
    _, asg_carr, _ = _lloyd_arrays(spark, eq, k, ITERS)
    if len(asg_carr) <= LIT_MAX:
        own = _code_points(eq, asg_carr).select(
            "vec_id", "cid", F.expr("array_min(dists).d").alias("dist")
        )
    else:
        # large-k: numpy assignment emits the argmin cid; recompute the
        # own-centroid distance with one zip_with against the single
        # assigned centroid (k-row broadcast join — never n·k)
        cdf = spark.createDataFrame(
            [(c, a) for c, a in asg_carr], schema="cid LONG, ca ARRAY<LONG>"
        )
        own = (
            _assign_np(eq, asg_carr)
            .join(F.broadcast(cdf), "cid")
            .select("vec_id", "cid", _dist2_arrays("eq", "ca").alias("dist"))
        )
    return (
        own.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("dist").cast("long").alias("inertia"),
            F.min(F.struct("dist", "vec_id")).alias("m"),
        )
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            "inertia",
            F.col("m.vec_id").alias("medoid_id"),
            F.col("m.dist").alias("medoid_dist"),
        )
    )


_IVF_ORACLE = f"""
WITH {_PTS_CTE},
kval AS (
  SELECT greatest({K}, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS k
  FROM embeddings
),
{_lloyd_rounds("(SELECT k FROM kval)", ITERS, "vq", "pts")},
{_EQ_CTE},
probe AS (
  SELECT vec_id AS qid, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM dvq{_LAST}
  WHERE vec_id % {Q_EVERY} = 0
),
cand AS (
  SELECT p.qid, g.vec_id AS nid
  FROM probe p JOIN asgvq{_LAST} g ON p.cid = g.cid
  WHERE p.rn <= {NPROBE} AND g.vec_id <> p.qid
),
scored AS (
  SELECT c.qid, c.nid, CAST({_PAIR_DIST} AS BIGINT) AS dist2
  FROM cand c
  JOIN eq a ON a.vec_id = c.qid
  JOIN eq b ON b.vec_id = c.nid
),
ranked AS (
  SELECT qid, nid, dist2,
         row_number() OVER (PARTITION BY qid ORDER BY dist2, nid) AS rk
  FROM scored
)
SELECT qid AS query_id, CAST(rk AS BIGINT) AS rank, nid AS neighbor_id, dist2
FROM ranked WHERE rk <= {TOPK}
"""


@query("q_ann_ivf_exact", oracle=_IVF_ORACLE)
def q_ann_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate-nearest-neighbor, fully oracle-backed (upgrades
    C60's rows-only IVF variant to a hash-checked one): the k-means
    centroids are the coarse quantizer, each query probes its NPROBE=2
    nearest inverted lists, and only those lists' members are exactly
    re-ranked (integer L2 over quantized arrays, deterministic
    (dist2, id) tie order). Candidate volume is nprobe/k of the
    corpus per query instead of all-pairs — the FAISS IVF contract —
    and round 7 adds FAISS's list-count rule too: k = max(8, √n) on
    BOTH engine and oracle (the 200k-vector probe at fixed k=8
    re-ranked n/8 per query, 176 s; at k=√n the per-query re-rank is
    nprobe·√n — measured ~4× faster at 200k, linear-ish per query).
    Probe ranking codes ONLY the query vectors against the assignment
    codebook (n/Q_EVERY × k rows, never n × k). Windows partition on
    query id (bounded candidate sets), and the re-rank is zip_with
    codegen."""
    emb = load(spark, sf_dir, "embeddings")
    k = ivf_k(emb.count())
    eq = _eq_arrays(spark, sf_dir).localCheckpoint()
    asg, asg_carr, _ = _lloyd_arrays(spark, eq, k, ITERS)
    qd = _code_points(eq.filter(F.col("vec_id") % Q_EVERY == 0), asg_carr)
    probe = (
        qd.select(F.col("vec_id").alias("qid"), F.explode("dists").alias("s"))
        .select(
            "qid",
            F.col("s.c").cast("long").alias("cid"),
            F.col("s.d").alias("dist"),
        )
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("qid").orderBy("dist", "cid")),
        )
        .filter(F.col("rn") <= NPROBE)
        .select("qid", "cid")
    )
    cand = (
        probe.join(asg, "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nid"))
    )
    scored = (
        cand.join(
            eq.select(F.col("vec_id").alias("qid"), F.col("eq").alias("ea")), "qid"
        )
        .join(eq.select(F.col("vec_id").alias("nid"), F.col("eq").alias("eb")), "nid")
        .select("qid", "nid", _dist2_arrays("ea", "eb").alias("dist2"))
    )
    ranked = scored.withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("qid").orderBy("dist2", "nid")),
    ).filter(F.col("rk") <= TOPK)
    return ranked.select(
        F.col("qid").alias("query_id"),
        F.col("rk").cast("long").alias("rank"),
        F.col("nid").alias("neighbor_id"),
        "dist2",
    )


# --------------------------------------------------------------------------
# C131 — two-level (coarse → fine) quantizer: the documented next rung
# --------------------------------------------------------------------------

ITERS2 = 2  # fine-level Lloyd rounds
# level sizes: k1·k2 ≈ semdedup_k(n) total cells at n·(k1+k2) ≈ n·2√k
# assignment distances — the hierarchical form that replaces the flat
# n·k term beyond ~10M vectors (SCALE.md; FAISS IVF_HNSW lineage).


def twolevel_k(n: int) -> tuple[int, int]:
    from math import isqrt

    k = semdedup_k(n)
    k1 = max(4, isqrt(k))
    return k1, max(2, k // k1)


def _fine_rounds(iters: int) -> str:
    """Unrolled joint fine-level Lloyd over (cell, fid) keys — every
    coarse cell trains its own k2-centroid model in the SAME chain
    (the PQ grouped trick at the oracle level): seeds are the k2
    lowest vec_ids per cell, distances join on (cell, dim), argmin
    ties prefer the lower fid, updates use the portable floor
    division. base2 = pts + each point's coarse cell."""
    parts = [
        """seedr AS MATERIALIZED (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
  FROM (SELECT DISTINCT vec_id, cell FROM base2)
)""",
        """centf0 AS MATERIALIZED (
  SELECT s.cell, s.rn - 1 AS fid, b.dim, b.x
  FROM seedr s JOIN base2 b ON b.vec_id = s.vec_id
  WHERE s.rn <= (SELECT k2 FROM kv2)
)""",
    ]
    for i in range(iters):
        parts.append(f"""df{i} AS MATERIALIZED (
  SELECT b.vec_id, b.cell, c.fid,
         CAST(sum((b.x - c.x) * (b.x - c.x)) AS BIGINT) AS dist
  FROM base2 b JOIN centf{i} c ON c.cell = b.cell AND c.dim = b.dim
  GROUP BY b.vec_id, b.cell, c.fid
),
mdf{i} AS MATERIALIZED (SELECT vec_id, min(dist) AS md FROM df{i} GROUP BY vec_id),
asgf{i} AS MATERIALIZED (
  SELECT d.vec_id, d.cell, min(d.fid) AS fid
  FROM df{i} d JOIN mdf{i} m ON d.vec_id = m.vec_id AND d.dist = m.md
  GROUP BY d.vec_id, d.cell
),
centf{i + 1} AS MATERIALIZED (
  SELECT s.cell, s.fid, s.dim,
         (s.sx - (((s.sx % s.n) + s.n) % s.n)) // s.n AS x
  FROM (SELECT g.cell, g.fid, b.dim, CAST(sum(b.x) AS BIGINT) AS sx,
               CAST(count(*) AS BIGINT) AS n
        FROM base2 b JOIN asgf{i} g ON b.vec_id = g.vec_id
        GROUP BY g.cell, g.fid, b.dim) s
)""")
    return ",\n".join(parts)


_TWOLEVEL_ORACLE = f"""
WITH {_PTS_CTE},
kval AS (
  SELECT greatest({K}, CAST(count(*) AS BIGINT) // {SEM_BLOCK}) AS k
  FROM embeddings
),
kv1 AS (
  SELECT greatest(4, CAST(floor(sqrt(CAST(k AS DOUBLE))) AS BIGINT)) AS k1
  FROM kval
),
kv2 AS (
  SELECT greatest(2, (SELECT k FROM kval) // (SELECT k1 FROM kv1)) AS k2
),
{_lloyd_rounds("(SELECT k1 FROM kv1)", ITERS, "cg", "pts")},
base2 AS MATERIALIZED (
  SELECT p.vec_id, p.dim, p.x, a.cid AS cell
  FROM pts p JOIN asgcg{_LAST} a ON a.vec_id = p.vec_id
),
{_fine_rounds(ITERS2)},
m AS (
  SELECT cell, fid, CAST(count(*) AS BIGINT) AS n_members,
         min(vec_id) AS min_vec_id,
         CAST(sum(vec_id) AS BIGINT) AS sum_vec_ids
  FROM asgf{ITERS2 - 1} GROUP BY cell, fid
),
l AS (
  SELECT cell, fid, CAST(sum(abs(x)) AS BIGINT) AS centroid_l1
  FROM centf{ITERS2} GROUP BY cell, fid
)
SELECT m.cell, m.fid, m.n_members, m.min_vec_id, m.sum_vec_ids, l.centroid_l1
FROM m JOIN l ON l.cell = m.cell AND l.fid = m.fid
"""


def _twolevel_clusters(spark: SparkSession, sf_dir: str):
    """The C131 coarse→fine clustering core, shared by the declared
    query and tools/probe_vectors.py's 10M-decade probe: returns
    (assignments (vec_id, cell, fid), final fine centroids list)."""
    emb = load(spark, sf_dir, "embeddings")
    n = emb.count()
    k1, k2 = twolevel_k(n)
    eq = _eq_arrays(spark, sf_dir).localCheckpoint()
    # route assignment through the numpy matmul once n·k makes the
    # per-element HOF overhead dominate (the 1M probe measured 318 s
    # on the zip_with paths vs ~90 s with both levels on BLAS)
    big = n * max(k1, k2) > 2_000_000
    asg1, _, _ = _lloyd_arrays(spark, eq, k1, ITERS, force_np=big)
    eqc = eq.join(asg1.select("vec_id", F.col("cid").alias("cell")), "vec_id")
    # fine seeds: the k2 lowest vec_ids per cell
    seed = (
        eqc.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("cell").orderBy("vec_id")),
        )
        .filter(F.col("rn") <= k2)
        .select("cell", (F.col("rn") - 1).alias("fid"), "eq")
    )
    cents = [
        (int(r.cell), int(r.fid), [int(v) for v in r.eq]) for r in seed.collect()
    ]
    asgf = None
    for _ in range(ITERS2):
        if big:
            asgf = _assign_np_grouped(eqc, cents)
        else:
            cdf = spark.createDataFrame(
                cents, schema="cell LONG, fid LONG, ca ARRAY<LONG>"
            )
            d = eqc.join(F.broadcast(cdf), "cell").select(
                "vec_id", "cell", "fid", _dist2_arrays("eq", "ca").alias("dist")
            )
            asgf = (
                d.groupBy("vec_id", "cell")
                .agg(F.min(F.struct("dist", "fid")).alias("m"))
                .select("vec_id", "cell", F.col("m.fid").alias("fid"))
            )
        upd = (
            eqc.join(asgf, ["vec_id", "cell"])
            .groupBy("cell", "fid")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[F.sum(F.col("eq")[i]).alias(f"s{i}") for i in range(DIM)],
            )
        )
        cents = [
            (
                int(r.cell),
                int(r.fid),
                [int(r[f"s{i}"]) // int(r.n) for i in range(DIM)],
            )
            for r in upd.collect()
        ]
    return asgf, cents


@query("q_twolevel_kmeans", oracle=_TWOLEVEL_ORACLE)
def q_twolevel_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level (coarse → fine) quantizer (C131) — the hierarchical
    form SCALE.md names as the next rung past the flat n·k assignment:
    a coarse Lloyd over k1 = max(4, √k) cells, then a JOINT fine Lloyd
    (k2 = max(2, k//k1) sub-centroids per cell, seeds = each cell's
    k2 lowest vec_ids) where one Spark job per round trains EVERY
    cell's model — distances join on the cell key against the
    broadcast (cell, fid) centroid table (n·k2 rows, never n·k), the
    PQ grouped-training trick applied hierarchically. Total
    assignment work is n·(k1 + k2) ≈ n·2√k. Reported per (cell, fid):
    population, membership checksums, and the fine centroid L1 — the
    q_kmeans_semantic contract at two levels, with the oracle
    replaying BOTH trajectories (coarse chain + joint fine chain with
    row_number seeding and compound-key floor-division updates)."""
    asgf, cents = _twolevel_clusters(spark, sf_dir)
    m = asgf.groupBy("cell", "fid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("vec_id").alias("min_vec_id"),
        F.sum("vec_id").cast("long").alias("sum_vec_ids"),
    )
    l1 = spark.createDataFrame(
        [
            (cell, fid, sum(abs(v) for v in arr))
            for cell, fid, arr in cents
        ],
        schema="cell LONG, fid LONG, centroid_l1 LONG",
    )
    return m.join(l1, ["cell", "fid"]).select(
        "cell", "fid", "n_members", "min_vec_id", "sum_vec_ids", "centroid_l1"
    )


# --------------------------------------------------------------------------
# C116 — product quantization (the vector-compression scale path)
# --------------------------------------------------------------------------

PQ_SUB = 8  # subspaces (8 dims each)
PQ_SUBDIM = DIM // PQ_SUB
PQ_K = 4  # codes per subspace -> 8 x 2 bits = one byte-pair per vector
PQ_ITERS = 2


def _pq_oracle() -> str:
    blocks, outs = [_PTS_CTE], []
    for s in range(PQ_SUB):
        lo, hi = s * PQ_SUBDIM, (s + 1) * PQ_SUBDIM
        blocks.append(
            f"""p{s} AS (
  SELECT vec_id, dim - {lo} AS dim, x FROM pts WHERE dim >= {lo} AND dim < {hi}
)"""
        )
        blocks.append(_lloyd_rounds(PQ_K, PQ_ITERS, f"s{s}_", f"p{s}"))
        last = PQ_ITERS - 1
        outs.append(
            f"""SELECT {s} AS subspace, a.cid AS code,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(e.err) AS BIGINT) AS err_sum,
       CAST(min(a.vec_id) AS BIGINT) AS min_vec_id
FROM asgs{s}_{last} a
JOIN (SELECT p.vec_id, c.cid, CAST(sum((p.x - c.x) * (p.x - c.x)) AS BIGINT) AS err
      FROM p{s} p JOIN cents{s}_{PQ_ITERS} c ON p.dim = c.dim
      GROUP BY p.vec_id, c.cid) e
  ON e.vec_id = a.vec_id AND e.cid = a.cid
GROUP BY a.cid"""
        )
    return (
        "WITH "
        + ",\n".join(blocks)
        + "\n"
        + "\nUNION ALL\n".join(outs)
    )


def _pq_assign_np(
    pax: DataFrame, model: list[tuple[int, int, int, int]]
) -> DataFrame:
    """(vec_id, sub, xa, cid): PQ coding of an (vec_id, sub, xa[8])
    frame against a (sub, cid, dim, x) codebook as a vectorized numpy
    assignment — one float64 matmul per (batch, subspace) group. Exact
    (all operands/partials are integers < 2^53) and tie-equivalent to
    the lexicographic struct(d, c) minimum: argmin returns the first
    minimum and each subspace's cid rows are sorted ascending. The
    model rides the closure (PQ_SUB·pq_k·PQ_SUBDIM ints)."""
    import numpy as np

    by_sub: dict[int, dict[int, dict[int, int]]] = {}
    for s, cid, d, x in model:
        by_sub.setdefault(int(s), {}).setdefault(int(cid), {})[int(d)] = int(x)
    mats = {}
    for s, cmap in by_sub.items():
        cids = sorted(cmap)
        cmat = np.asarray(
            [[cmap[c][d] for d in sorted(cmap[c])] for c in cids],
            dtype=np.float64,
        )
        mats[s] = (
            np.asarray(cids, dtype=np.int64),
            cmat,
            (cmat * cmat).sum(axis=1),
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            xs = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["xa"]]
            )
            x2 = (xs * xs).sum(axis=1)
            out_cid = np.empty(len(pdf), dtype=np.int64)
            for s, idx in pdf.groupby("sub").indices.items():
                cids, cmat, c2 = mats[int(s)]
                x = xs[idx]
                dist = x2[idx][:, None] + c2[None, :] - 2.0 * (x @ cmat.T)
                out_cid[idx] = cids[dist.argmin(axis=1)]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "sub": pdf["sub"],
                    "xa": pdf["xa"],
                    "cid": out_cid,
                }
            )

    return pax.mapInPandas(
        run, schema="vec_id long, sub int, xa array<bigint>, cid long"
    )


def _pq_train_pts(
    spark: SparkSession,
    pts: DataFrame,
    pq_k: int = PQ_K,
    pax: DataFrame | None = None,
):
    """The C116 joint-subspace Lloyd loop over an ALREADY-SPLIT
    (sub, vec_id, dim, x) long frame — shared by raw-vector PQ (C116/
    C167) and residual PQ (C174, where x is the coarse residual).
    Returns (asg, cdf, acdf): the final-round code assignment, the
    post-final-update codebook (what ADC tables measure against), and
    the ASSIGNMENT codebook — the centroids that PRODUCED asg (pre-
    final-update, the _lloyd_arrays asg_carr convention) — which is
    what an out-of-band coder (the C178 streaming index maintainer)
    must code against to reproduce asg exactly."""
    # ARRAY-DOMAIN round loop (r15 optimization): the original
    # long-format loop ran 4 shuffles + 2 driver collects per round
    # over an n·d·pq_k distance intermediate (join on (sub, dim)
    # fanned every point row out pq_k ways before re-aggregating).
    # Pivot (sub, vec_id, dim, x) → (vec_id, sub, xa[8]) ONCE, then
    # each round is the _lloyd_arrays shape: a stateless literal-
    # codebook projection (zero joins/shuffles) + one narrow
    # long-format partial aggregate (guide §2.3/§2.4) — one shuffle
    # and one model-sized collect per round. Assignment tie rule is
    # array_min over struct(d, c): lexicographic = min dist, then min
    # cid ≡ the previous min(struct(dist, cid)) and the oracle's
    # two-step; distances stay exact int64 HOF folds.
    #
    # ``pax`` (vec_id, sub, xa[8]) may be supplied by the caller when
    # it can be built without a shuffle (the raw path slices the
    # embedding arrays in-row); otherwise pivot the long frame once.
    if pax is None:
        pax = (
            pts.groupBy("vec_id", "sub")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(dim, x))), s -> s.x)"
                ).alias("xa")
            )
            .localCheckpoint()
        )
    cents = sorted(
        (int(r.sub), int(r.vec_id), int(d), int(x))
        for r in pax.filter(F.col("vec_id") < pq_k).collect()
        for d, x in enumerate(r.xa)
    )

    def _coded(model: list[tuple[int, int, int, int]]) -> DataFrame:
        # r16: the literal-codebook HOF argmin (array_min over zip_with)
        # is CodegenFallback — interpreted lambda evaluation over
        # n·PQ_SUB·pq_k·PQ_SUBDIM elements measured ~3 s PER EVALUATION
        # at sf1 (and it ran once per training round plus once per
        # `codes` consumer). Same vectorized-numpy assignment as
        # _assign_np / _assign_np_grouped, grouped by subspace: exact —
        # every operand and partial sum is an integer < 2^53 (|xa| ≤
        # ~2e6 micro-units → p·q ≤ 4e12, 8-dim sums ≤ 3.2e13) — and
        # np.argmin takes the FIRST minimum over cids sorted ascending,
        # ≡ the previous array_min over struct(d, c). Guide §4.2.
        return _pq_assign_np(pax, model)

    asg = None
    asg_cents = cents
    for _ in range(PQ_ITERS):
        asg_cents = cents
        coded = _coded(cents)
        asg = coded.select("sub", "vec_id", "cid")
        upd = (
            coded.select("sub", "cid", F.posexplode("xa").alias("dim", "x"))
            .groupBy("sub", "cid", "dim")
            .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"))
        )
        # Python // floors exactly like the previous Spark-side
        # (sx - (((sx % n) + n) % n)) div n and DuckDB's //
        cents = sorted(
            (int(r.sub), int(r.cid), int(r.dim), int(r.sx) // int(r.n))
            for r in upd.collect()
        )
    cdf = spark.createDataFrame(cents, schema="sub INT, cid LONG, dim INT, c LONG")
    acdf = spark.createDataFrame(
        asg_cents, schema="sub INT, cid LONG, dim INT, c LONG"
    )
    return asg, cdf, acdf


def _split_subspaces(pts_long: DataFrame, ckpt: bool = True) -> DataFrame:
    """(vec_id, dim, x) -> (sub, vec_id, dim, x) with dim re-based per
    8-dim subspace. ``ckpt`` pins the frame when it feeds several
    consumers (the residual path: training pivot + query LUT); the raw
    path reads it exactly once and skips the materialization."""
    out = pts_long.select(
        (F.col("dim") / PQ_SUBDIM).cast("int").alias("sub"),
        "vec_id",
        (F.col("dim") % PQ_SUBDIM).alias("dim"),
        "x",
    )
    return out.localCheckpoint() if ckpt else out


def _pq_train(spark: SparkSession, sf_dir: str, pq_k: int = PQ_K):
    """The C116 PQ training loop, factored so the IVF-PQ composition
    (C167) trains the identical codebooks: ALL subspaces train jointly
    — every aggregation keys on (sub, …) so one Spark job per Lloyd
    round covers the 8 independent runs (semantically identical to 8
    separate loops — the oracle replays them separately — but 8× fewer
    jobs and one shared shuffle). Returns (pts, asg, cdf): the
    localCheckpointed (sub, vec_id, dim, x) long table, the final-round
    code assignment (sub, vec_id, cid), and the POST-final-update
    codebook (sub, cid, dim, c) — the 'final codebook' every consumer
    (C116's err, C167's ADC tables) measures against — plus the
    assignment codebook acdf (see _pq_train_pts)."""
    # the subspace arrays slice out of the embedding arrays IN-ROW
    # (posexplode of 8 slices) — zero shuffles, unlike the generic
    # pivot _pq_train_pts would otherwise run; pts stays lazy (its
    # only consumer is the query-side LUT projection, which filters
    # to n/Q_EVERY rows before doing any work)
    emb = load(spark, sf_dir, "embeddings")
    eqa = emb.select(
        "vec_id", F.expr(f"transform(embedding, x -> {_QUANT})").alias("eq")
    )
    pax = eqa.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {PQ_SUB - 1}),"
                f" s -> slice(eq, s * {PQ_SUBDIM} + 1, {PQ_SUBDIM}))"
            )
        ).alias("sub", "xa"),
    ).localCheckpoint()
    pts = _split_subspaces(_pts_long(spark, sf_dir), ckpt=False)
    asg, cdf, acdf = _pq_train_pts(spark, pts, pq_k, pax=pax)
    return pts, asg, cdf, acdf


@query("q_pq_quantize", oracle=_pq_oracle())
def q_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jégou et al. 2011, the FAISS PQ
    compressor): the 64-dim embedding splits into 8 independent 8-dim
    subspaces, each trained with its own fixed-seed integer Lloyd run
    (k=4 codes, 2 rounds — the same deterministic machinery as C110,
    re-based per subspace), and every vector is coded by its nearest
    final sub-centroid. Reported per (subspace, code): population,
    exact integer quantization error against the FINAL codebook, and a
    membership checksum. PQ is the 100 TB embedding-store story — 8
    codes of 2 bits replace 256 bytes of floats (128× compression
    here; production uses k=256 for 8 bits/subspace), and the
    asymmetric-distance tables are k·SUB lookups. Each subspace's
    training is the same broadcast-join/map-side-agg profile as C110
    on one-eighth the columns; the 8 runs share one localCheckpointed
    scan."""
    pts, asg, cdf, _acdf = _pq_train(spark, sf_dir)
    # attach the assignment FIRST, then the codebook on (sub, cid,
    # dim): the error is only ever read for the assigned code, and the
    # old (sub, dim) join fanned every point row out pq_k ways before
    # the aggregate threw k-1 of them away (r15, guide §2.3)
    coded = (
        pts.join(asg, ["sub", "vec_id"])
        .join(F.broadcast(cdf), ["sub", "cid", "dim"])
        .groupBy("sub", "vec_id", "cid")
        .agg(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias("err"))
    )
    return (
        coded.groupBy("sub", "cid")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("err").cast("long").alias("err_sum"),
            F.min("vec_id").cast("long").alias("min_vec_id"),
        )
        .select(
            F.col("sub").alias("subspace"),
            F.col("cid").alias("code"),
            "n_vecs",
            "err_sum",
            "min_vec_id",
        )
    )


# --------------------------------------------------------------------------
# C167 — IVF-PQ with exact re-rank: the composition an actual 100 TB
# vector store runs (FAISS IndexIVFPQ: Jégou et al. 2011 §V). The C112
# coarse quantizer routes each query to its NPROBE inverted lists; the
# list members' distances are approximated by PQ ASYMMETRIC DISTANCE
# (per query, one 8-subspace × 16-code integer lookup table against
# codebooks from the C116 trainer — k·SUB lookups replace d-dim arithmetic per
# candidate); the top SHORT_R by ADC are then EXACTLY re-ranked over
# the full vectors. Codes are trained on the raw vectors (FAISS's
# by_residual=false configuration — the C116 codebooks verbatim, so
# the composition certifies the two certified pieces COMPOSED rather
# than a third training trajectory).
#
# Everything is exact-integer: the LUT entries are BIGINT squared-L2
# sums over micro-quantized subvectors, ADC distances are exact BIGINT
# sums of 8 LUT entries, and both rank windows order by (dist, nid) —
# so the DuckDB replay is bit-exact end to end, including which
# neighbors survive the ADC shortlist.
#
# Scale shape: candidate volume is nprobe/k of the corpus per query
# (the C112 IVF contract); ADC joins shuffle (qid, nid, sub) ints
# against a BROADCAST lut (n_q · SUB · PQ_K rows — model-sized) and a
# code table of SUB rows per vector (the 100 TB story: 8 2-bit codes
# per vector in place of 256 bytes — the scan that feeds ADC reads
# ~1/64th the bytes of the flat IVF re-rank); the exact re-rank
# touches SHORT_R rows per query instead of every probed member. Both
# windows partition on query id.
# --------------------------------------------------------------------------

PQ_K16 = 16  # IVF-PQ codebook: 16 codes/subspace (4 bits x 8 = a
# 32-bit code per vector vs 2048 raw bits - 64x compression; C116's
# k=4 teaching configuration orders candidates too coarsely for a
# useful shortlist: measured recall@5 vs flat IVF 0.24 at SHORT_R=10)
SHORT_R = 30  # ADC shortlist re-ranked exactly (6x TOPK, the FAISS
# k_factor-style reorder margin; measured recall@5 vs flat IVF = 0.98
# at sf0.001/sf0.01 while still cutting the ~45-candidate average
# probe list)


def _ivfpq_oracle(
    survivor_pred: str | None = None,
    nprobe: int = NPROBE,
    short_r: int = SHORT_R,
) -> str:
    """The C167 replay; ``survivor_pred`` (over ``g.vec_id``)
    restricts the INDEX side to surviving vectors for the C183
    delete-wave variant — candidates only; queries, codebooks and the
    coarse assignment replay stay trained on the full set, the FAISS
    remove_ids semantics (deletions drop list entries, never retrain
    the quantizers). ``nprobe``/``short_r`` replay a tuned search
    config (C193)."""
    blocks = [_PTS_CTE]
    blocks.append(f"""kval AS (
  SELECT greatest({K}, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS k
  FROM embeddings
)""")
    blocks.append(_lloyd_rounds("(SELECT k FROM kval)", ITERS, "vq", "pts"))
    blocks.append(_EQ_CTE)
    for s in range(PQ_SUB):
        lo, hi = s * PQ_SUBDIM, (s + 1) * PQ_SUBDIM
        blocks.append(f"""p{s} AS (
  SELECT vec_id, dim - {lo} AS dim, x FROM pts WHERE dim >= {lo} AND dim < {hi}
)""")
        blocks.append(_lloyd_rounds(PQ_K16, PQ_ITERS, f"s{s}_", f"p{s}"))
    last = PQ_ITERS - 1
    codes_union = "\n  UNION ALL\n  ".join(
        f"SELECT {s} AS sub, vec_id, cid FROM asgs{s}_{last}"
        for s in range(PQ_SUB)
    )
    cbook_union = "\n  UNION ALL\n  ".join(
        f"SELECT {s} AS sub, cid, dim, x FROM cents{s}_{PQ_ITERS}"
        for s in range(PQ_SUB)
    )
    body = ",\n".join(blocks)
    _surv = f" AND {survivor_pred}" if survivor_pred else ""
    return f"""
WITH {body},
probe AS (
  SELECT vec_id AS qid, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM dvq{_LAST}
  WHERE vec_id % {Q_EVERY} = 0
),
cand AS (
  SELECT p.qid, g.vec_id AS nid
  FROM probe p JOIN asgvq{_LAST} g ON p.cid = g.cid
  WHERE p.rn <= {nprobe} AND g.vec_id <> p.qid{_surv}
),
codesq AS MATERIALIZED (
  {codes_union}
),
cbook AS MATERIALIZED (
  {cbook_union}
),
qsub AS (
  SELECT vec_id AS qid, CAST(dim // {PQ_SUBDIM} AS INTEGER) AS sub,
         dim % {PQ_SUBDIM} AS dim8, x
  FROM pts WHERE vec_id % {Q_EVERY} = 0
),
lut AS MATERIALIZED (
  SELECT q.qid, c.sub, c.cid,
         CAST(sum((q.x - c.x) * (q.x - c.x)) AS BIGINT) AS d
  FROM qsub q JOIN cbook c ON c.sub = q.sub AND c.dim = q.dim8
  GROUP BY q.qid, c.sub, c.cid
),
adc AS MATERIALIZED (
  SELECT c.qid, c.nid, CAST(sum(l.d) AS BIGINT) AS dist2_pq
  FROM cand c
  JOIN codesq k2 ON k2.vec_id = c.nid
  JOIN lut l ON l.qid = c.qid AND l.sub = k2.sub AND l.cid = k2.cid
  GROUP BY c.qid, c.nid
),
short AS (
  SELECT qid, nid, dist2_pq,
         row_number() OVER (PARTITION BY qid ORDER BY dist2_pq, nid) AS sr
  FROM adc
),
exact AS (
  SELECT s.qid, s.nid, s.dist2_pq, CAST({_PAIR_DIST} AS BIGINT) AS dist2
  FROM short s
  JOIN eq a ON a.vec_id = s.qid
  JOIN eq b ON b.vec_id = s.nid
  WHERE s.sr <= {short_r}
)
SELECT qid AS query_id, CAST(rk AS BIGINT) AS rank, nid AS neighbor_id,
       dist2, dist2_pq
FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist2, nid) AS rk
  FROM exact
) WHERE rk <= {TOPK}
"""


def _ivfpq_search(
    spark: SparkSession,
    eq: DataFrame,
    pts: DataFrame,
    asg_carr,
    asg: DataFrame,
    codes: DataFrame,
    cdf: DataFrame,
    nprobe: int = NPROBE,
    short_r: int = SHORT_R,
    topk: int = TOPK,
) -> DataFrame:
    """The C167 IVF-PQ search plan over GIVEN models and coded tables
    — shared by q_ann_ivfpq (models trained in-query, the
    certification path) and the C178 persisted/streaming-maintained
    index (models loaded from the index product, codes resolved from
    the upsert table): coarse probe → per-query integer ADC LUTs →
    SHORT_R exact re-rank → top-k.

    eq        (vec_id, eq array) quantized vectors (queries + re-rank);
    pts       (sub, vec_id, dim, x) subspace-split long points
              (query-side LUT input);
    asg_carr  coarse ASSIGNMENT codebook [(cid, [x..])];
    asg       (vec_id, cid) coarse assignment of every base vector;
    codes     (sub, vec_id, cid) PQ codes of every base vector;
    cdf       (sub, cid, dim, c) PQ ADC codebook (post-final-update);
    nprobe/short_r/topk  search config — defaults are the certified
              C167 point; the C193 tuned variant and the drift-probe
              sweep pass their own (searches touch nprobe·n/k
              candidates and re-rank short_r, so cost scales
              linearly in both).
    """
    qd = _code_points(eq.filter(F.col("vec_id") % Q_EVERY == 0), asg_carr)
    # top-nprobe lists IN-ROW: the per-query distance array is already
    # on the row, so array_sort (lexicographic (d, c) = dist then cid,
    # exactly the old row_number() orderBy) + slice replaces an
    # explode → Exchange(qid) → Sort → window chain with a stateless
    # projection — one shuffle fewer (guide §2.4)
    probe = qd.select(
        F.col("vec_id").alias("qid"),
        F.explode(F.expr(f"slice(array_sort(dists), 1, {nprobe})")).alias("s"),
    ).select("qid", F.col("s.c").cast("long").alias("cid"))
    cand = (
        probe.join(asg, "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nid"))
    )
    qsub = pts.filter(F.col("vec_id") % Q_EVERY == 0).select(
        F.col("vec_id").alias("qid"), "sub", "dim", "x"
    )
    lut = (
        qsub.join(F.broadcast(cdf), ["sub", "dim"])
        .groupBy("qid", "sub", "cid")
        .agg(
            F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))
            .cast("long")
            .alias("d")
        )
    )
    adc = (
        cand.join(codes.select(F.col("vec_id").alias("nid"), "sub", "cid"), "nid")
        .join(F.broadcast(lut), ["qid", "sub", "cid"])
        .groupBy("qid", "nid")
        .agg(F.sum("d").cast("long").alias("dist2_pq"))
    )
    short = adc.withColumn(
        "sr",
        F.row_number().over(Window.partitionBy("qid").orderBy("dist2_pq", "nid")),
    ).filter(F.col("sr") <= short_r)
    exact = (
        short.join(
            eq.select(F.col("vec_id").alias("qid"), F.col("eq").alias("ea")), "qid"
        )
        .join(eq.select(F.col("vec_id").alias("nid"), F.col("eq").alias("eb")), "nid")
        .select("qid", "nid", "dist2_pq", _dist2_arrays("ea", "eb").alias("dist2"))
    )
    return (
        exact.withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("qid").orderBy("dist2", "nid")),
        )
        .filter(F.col("rk") <= topk)
        .select(
            F.col("qid").alias("query_id"),
            F.col("rk").cast("long").alias("rank"),
            F.col("nid").alias("neighbor_id"),
            "dist2",
            "dist2_pq",
        )
    )


def _train_ivfpq_models(spark: SparkSession, sf_dir: str, eq, k: int, pq_k: int):
    """Train the coarse quantizer (Lloyd over eq) and the raw-vector PQ
    codebooks CONCURRENTLY: the two training loops are independent
    driver-synchronized job chains (raw-vector PQ never reads the
    coarse model), so submitting both from driver threads overlaps
    their many small jobs (guide §2.6) and the wall drops to ~max of
    the two instead of their sum. The residual variant (C174) cannot
    do this — its PQ trains on coarse residuals."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        lloyd_f = pool.submit(_lloyd_arrays, spark, eq, k, ITERS)
        pq_f = pool.submit(_pq_train, spark, sf_dir, pq_k)
        asg, asg_carr, _cents = lloyd_f.result()
        pts, codes, cdf, _acdf = pq_f.result()
    return asg, asg_carr, pts, codes, cdf


@query("q_ann_ivfpq", oracle=_ivfpq_oracle())
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C167: IVF-PQ ANN with exact re-rank — coarse probe (C112's
    quantizer verbatim), PQ asymmetric-distance shortlist (C116's
    trainer at k = PQ_K16, per-query integer LUTs), exact integer re-rank
    of the SHORT_R survivors. One hash certifies both trained models,
    the probe routing, every ADC table entry, the shortlist cut, and
    the final ranking. Models are trained IN-QUERY (the certification
    path); the C178 index product persists the same trained models and
    searches them via the shared _ivfpq_search plan."""
    emb = load(spark, sf_dir, "embeddings")
    k = ivf_k(emb.count())
    eq = _eq_arrays(spark, sf_dir).localCheckpoint()
    asg, asg_carr, pts, codes, cdf = _train_ivfpq_models(
        spark, sf_dir, eq, k, PQ_K16
    )
    return _ivfpq_search(spark, eq, pts, asg_carr, asg, codes, cdf)


# --------------------------------------------------------------------------
# C193 — the TUNED IVF-PQ search config (round 15, the r14 verdict's
# #4): the drift probe's nprobe x shortlist sweep (tools/
# ann_drift_probe.py → docs/ANN_DRIFT.json) measured, on the shifted-
# distribution corpus with retrained books, recall@5 moving 0.13 →
# 0.24 on the shifted segment and 0.25 → 0.38 on the original at
# (nprobe=4, short_r=60) — the best shifted-segment cell of the grid
# (nprobe=8 probes past the 6 lists the shifted mass occupies and
# dilutes the shortlist with near-miss original-segment candidates:
# 0.21). RECORDED NEGATIVE, stated plainly: the verdict's 3x target
# (>= 0.39 shifted recall@5) is NOT reached by any swept cell — the
# residual gap is PQ-quantization- and list-geometry-bound (16-way
# codebooks over 8 subspaces on micro-quantized vectors), not
# search-parameter-bound; doubling both knobs buys ~1.85x. The tuned
# point is still materially better everywhere, so it ships as an
# oracle-checked variant: same in-query-trained models as C167, the
# shared search plan at (NPROBE_TUNED, SHORT_R_TUNED), replayed by the
# parameterized oracle. Cost shape: candidates scale linearly in
# nprobe (2x) and the exact re-rank in short_r (2x) — both per-query
# model-sized terms.
# --------------------------------------------------------------------------

NPROBE_TUNED = 4
SHORT_R_TUNED = 60


@query(
    "q_ann_ivfpq_tuned",
    oracle=_ivfpq_oracle(nprobe=NPROBE_TUNED, short_r=SHORT_R_TUNED),
)
def q_ann_ivfpq_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C193: C167's IVF-PQ search at the sweep-chosen config
    (nprobe=4, short_r=60 — docs/ANN_DRIFT.json): one hash certifies
    the probe routing, ADC tables, shortlist cut, and ranking at the
    tuned operating point, so the config a drifted deployment should
    run is itself a certified query, not a docstring suggestion."""
    emb = load(spark, sf_dir, "embeddings")
    k = ivf_k(emb.count())
    eq = _eq_arrays(spark, sf_dir).localCheckpoint()
    asg, asg_carr, pts, codes, cdf = _train_ivfpq_models(
        spark, sf_dir, eq, k, PQ_K16
    )
    return _ivfpq_search(
        spark, eq, pts, asg_carr, asg, codes, cdf,
        nprobe=NPROBE_TUNED, short_r=SHORT_R_TUNED,
    )


# --------------------------------------------------------------------------
# C174 — RESIDUAL-encoded IVF-PQ (round 11, second pass): FAISS's
# by_residual=true DEFAULT (Jégou et al. 2011 §V.B): PQ trains on and
# encodes (vector − its coarse centroid) instead of the raw vector, so
# the codebooks spend their 32 bits on the WITHIN-CELL geometry the
# coarse quantizer cannot express — the configuration every production
# IVFADC index actually ships. C167 (raw-vector PQ, by_residual=false)
# stays registered beside it; the pair certifies both public
# configurations.
#
# The one structural difference from C167: the query-side ADC table is
# keyed PER PROBED LIST — the query's residual depends on which list's
# centroid it is measured against — so the LUT is n_q × NPROBE × 8 × 16
# rows (still model-sized) and ADC joins on (qid, cid, sub, code),
# where cid is the candidate's own coarse cell. Everything stays
# exact-integer: residuals are differences of micro-quantized BIGINTs,
# so every Lloyd round, LUT entry, ADC sum and rank is replayed
# bit-exactly by the oracle.
#
# Scale shape: identical to C167 plus one residual subtraction join
# against the k·d coarse-codebook broadcast.
# --------------------------------------------------------------------------


def _ivfpq_res_oracle() -> str:
    blocks = [_PTS_CTE]
    blocks.append(f"""kval AS (
  SELECT greatest({K}, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS k
  FROM embeddings
)""")
    blocks.append(_lloyd_rounds("(SELECT k FROM kval)", ITERS, "vq", "pts"))
    blocks.append(_EQ_CTE)
    # residuals vs the codebook that PRODUCED the final assignment
    blocks.append(f"""rpts AS MATERIALIZED (
  SELECT p.vec_id, p.dim, p.x - c.x AS x
  FROM pts p
  JOIN asgvq{_LAST} a USING (vec_id)
  JOIN centvq{_LAST} c ON c.cid = a.cid AND c.dim = p.dim
)""")
    for s in range(PQ_SUB):
        lo, hi = s * PQ_SUBDIM, (s + 1) * PQ_SUBDIM
        blocks.append(f"""p{s} AS (
  SELECT vec_id, dim - {lo} AS dim, x FROM rpts WHERE dim >= {lo} AND dim < {hi}
)""")
        blocks.append(_lloyd_rounds(PQ_K16, PQ_ITERS, f"r{s}_", f"p{s}"))
    last = PQ_ITERS - 1
    codes_union = "\n  UNION ALL\n  ".join(
        f"SELECT {s} AS sub, vec_id, cid FROM asgr{s}_{last}"
        for s in range(PQ_SUB)
    )
    cbook_union = "\n  UNION ALL\n  ".join(
        f"SELECT {s} AS sub, cid, dim, x FROM centr{s}_{PQ_ITERS}"
        for s in range(PQ_SUB)
    )
    body = ",\n".join(blocks)
    return f"""
WITH {body},
probe AS (
  SELECT vec_id AS qid, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM dvq{_LAST}
  WHERE vec_id % {Q_EVERY} = 0
),
cand AS (
  SELECT p.qid, p.cid, g.vec_id AS nid
  FROM probe p JOIN asgvq{_LAST} g ON p.cid = g.cid
  WHERE p.rn <= {NPROBE} AND g.vec_id <> p.qid
),
codesq AS MATERIALIZED (
  {codes_union}
),
cbook AS MATERIALIZED (
  {cbook_union}
),
qres AS (
  SELECT pr.qid, pr.cid, CAST(p.dim // {PQ_SUBDIM} AS INTEGER) AS sub,
         p.dim % {PQ_SUBDIM} AS dim8, p.x - c.x AS x
  FROM (SELECT qid, cid FROM probe WHERE rn <= {NPROBE}) pr
  JOIN pts p ON p.vec_id = pr.qid
  JOIN centvq{_LAST} c ON c.cid = pr.cid AND c.dim = p.dim
),
lut AS MATERIALIZED (
  SELECT q.qid, q.cid, cb.sub, cb.cid AS code,
         CAST(sum((q.x - cb.x) * (q.x - cb.x)) AS BIGINT) AS d
  FROM qres q JOIN cbook cb ON cb.sub = q.sub AND cb.dim = q.dim8
  GROUP BY q.qid, q.cid, cb.sub, cb.cid
),
adc AS MATERIALIZED (
  SELECT c.qid, c.nid, CAST(sum(l.d) AS BIGINT) AS dist2_pq
  FROM cand c
  JOIN codesq k2 ON k2.vec_id = c.nid
  JOIN lut l ON l.qid = c.qid AND l.cid = c.cid
           AND l.sub = k2.sub AND l.code = k2.cid
  GROUP BY c.qid, c.nid
),
short AS (
  SELECT qid, nid, dist2_pq,
         row_number() OVER (PARTITION BY qid ORDER BY dist2_pq, nid) AS sr
  FROM adc
),
exact AS (
  SELECT s.qid, s.nid, s.dist2_pq, CAST({_PAIR_DIST} AS BIGINT) AS dist2
  FROM short s
  JOIN eq a ON a.vec_id = s.qid
  JOIN eq b ON b.vec_id = s.nid
  WHERE s.sr <= {SHORT_R}
)
SELECT qid AS query_id, CAST(rk AS BIGINT) AS rank, nid AS neighbor_id,
       dist2, dist2_pq
FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist2, nid) AS rk
  FROM exact
) WHERE rk <= {TOPK}
"""


@query("q_ann_ivfpq_residual", oracle=_ivfpq_res_oracle())
def q_ann_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C174: residual-encoded IVF-PQ with exact re-rank — the FAISS
    by_residual=true default. One hash certifies the coarse model, the
    residual subtraction, the 8 residual codebooks, every per-probed-
    list ADC table entry, the shortlist cut, and the final ranking."""
    emb = load(spark, sf_dir, "embeddings")
    k = ivf_k(emb.count())
    eq = _eq_arrays(spark, sf_dir).localCheckpoint()
    asg, asg_carr, _ = _lloyd_arrays(spark, eq, k, ITERS)
    qd = _code_points(eq.filter(F.col("vec_id") % Q_EVERY == 0), asg_carr)
    # in-row top-NPROBE (array_sort = (dist, cid) order, ≡ the old
    # row_number window) — see _ivfpq_search
    probe = qd.select(
        F.col("vec_id").alias("qid"),
        F.explode(F.expr(f"slice(array_sort(dists), 1, {NPROBE})")).alias("s"),
    ).select("qid", F.col("s.c").cast("long").alias("cid"))
    cand = (
        probe.join(asg, "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "cid", F.col("vec_id").alias("nid"))
    )
    # residual long frame vs the assignment-producing coarse codebook
    ccdf = spark.createDataFrame(
        [(cid, d, x) for cid, arr in asg_carr for d, x in enumerate(arr)],
        schema="cid LONG, dim INT, cx LONG",
    )
    pts = _pts_long(spark, sf_dir)
    # Residual training input built IN-ROW from the eq ARRAYS (r15):
    # residual = zip_with(eq, centroid array) on the row, then the 8
    # subspace slices explode in-row — feeding _pq_train_pts its pax
    # directly. The old shape exploded all n·d long rows, shuffled
    # them through a join against asg + the codebook, materialized the
    # split, and re-pivoted them back to arrays with another shuffle;
    # every one of those exchanges carried the full point set (guide
    # §2.3/§2.4). qres below still uses the long form — it touches
    # query rows only (n / Q_EVERY).
    cents_df = spark.createDataFrame(
        [(cid, list(arr)) for cid, arr in asg_carr],
        schema="cid LONG, ca ARRAY<BIGINT>",
    )
    sub_slices = ", ".join(
        f"named_struct('sub', {s}, 'xa', slice(rz, {s * PQ_SUBDIM + 1},"
        f" {PQ_SUBDIM}))"
        for s in range(PQ_SUB)
    )
    rpax = (
        eq.join(asg, "vec_id")
        .join(F.broadcast(cents_df), "cid")
        .select(
            "vec_id",
            F.expr("zip_with(eq, ca, (p, q) -> p - q)").alias("rz"),
        )
        .select(
            "vec_id",
            F.explode(F.expr(f"array({sub_slices})")).alias("o"),
        )
        .select("vec_id", "o.sub", "o.xa")
        .localCheckpoint()
    )
    codes, cdf, _acdf = _pq_train_pts(spark, None, pq_k=PQ_K16, pax=rpax)
    qres = (
        probe.join(
            pts.filter(F.col("vec_id") % Q_EVERY == 0).withColumnRenamed(
                "vec_id", "qid"
            ),
            "qid",
        )
        .join(F.broadcast(ccdf), ["cid", "dim"])
        .select(
            "qid",
            "cid",
            (F.col("dim") / PQ_SUBDIM).cast("int").alias("sub"),
            (F.col("dim") % PQ_SUBDIM).alias("dim8"),
            (F.col("x") - F.col("cx")).alias("x"),
        )
    )
    cbook = cdf.withColumnRenamed("dim", "dim8").withColumnRenamed("cid", "code")
    lut = (
        qres.join(F.broadcast(cbook), ["sub", "dim8"])
        .groupBy("qid", "cid", "sub", "code")
        .agg(
            F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))
            .cast("long")
            .alias("d")
        )
    )
    adc = (
        cand.join(
            codes.select(
                F.col("vec_id").alias("nid"), "sub", F.col("cid").alias("code")
            ),
            "nid",
        )
        .join(F.broadcast(lut), ["qid", "cid", "sub", "code"])
        .groupBy("qid", "nid")
        .agg(F.sum("d").cast("long").alias("dist2_pq"))
    )
    short = adc.withColumn(
        "sr",
        F.row_number().over(Window.partitionBy("qid").orderBy("dist2_pq", "nid")),
    ).filter(F.col("sr") <= SHORT_R)
    exact = (
        short.join(
            eq.select(F.col("vec_id").alias("qid"), F.col("eq").alias("ea")), "qid"
        )
        .join(eq.select(F.col("vec_id").alias("nid"), F.col("eq").alias("eb")), "nid")
        .select("qid", "nid", "dist2_pq", _dist2_arrays("ea", "eb").alias("dist2"))
    )
    return (
        exact.withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("qid").orderBy("dist2", "nid")),
        )
        .filter(F.col("rk") <= TOPK)
        .select(
            F.col("qid").alias("query_id"),
            F.col("rk").cast("long").alias("rank"),
            F.col("nid").alias("neighbor_id"),
            "dist2",
            "dist2_pq",
        )
    )


# --------------------------------------------------------------------------
# C196 — IVF-SQ8: scalar-quantized inverted-file ANN (round 15). The
# C193 sweep's RECORDED NEGATIVE diagnosed the drift-recall ceiling as
# PQ-quantization noise: 32-bit codes rank the probe lists' candidates
# so coarsely that widening nprobe DILUTES the shortlist (nprobe=8
# scored 0.21 < nprobe=4's 0.24 — near-miss candidates with noisy ADC
# scores displace true neighbors before the exact re-rank sees them).
# The production answer to exactly that failure is FAISS's OTHER
# quantizer family, IndexIVFScalarQuantizer (SQ8): 8 bits PER
# DIMENSION instead of 32 bits per vector. Train = per-dim (min, max)
# over the base set — a d-row model; encode = exact integer
#   code = ((x − mn) · 255) div (mx − mn)            ∈ [0, 255]
# (x, mn, mx are micro-quantized BIGINTs; operands nonnegative, so
# Spark's truncating `div` ≡ DuckDB's flooring `//`); decode =
#   recon = mn + (code · (mx − mn)) div 255
# back in integer micro-units, so ADC distances are plain exact
# integer squared-L2 against the reconstruction — every code, recon,
# ADC sum and rank replays bit-exactly in the oracle.
#
# Trade vs PQ, stated honestly: the coded table is d bytes/vector
# (64 B here) vs PQ's 4 B — 4x the raw-vector compression is given
# back 16x — and ADC is O(d) adds per candidate vs O(SUB) lookups.
# What it buys is near-exact candidate ranking: the ADC error per dim
# is < (mx−mn)/255 ≪ the inter-point spacing, so the shortlist cut
# keeps true neighbors and widening nprobe HELPS instead of hurting
# (measured beside the PQ cells in docs/ANN_SQ8.json — the follow-up
# the C193 negative asked for). At 100 TB the scan feeding ADC reads
# 1/4 the bytes of raw vectors while behaving like the flat index.
#
# Scale shape: the dim-stats model is d rows (broadcast); coding is
# one stateless projection; candidates are the C112 probe contract
# (nprobe·n/k per query); ADC joins (qid, nid, dim) ints against the
# broadcast d-row stats and the broadcast per-query point table
# (n_q·d rows — the C167 LUT class); the exact re-rank touches
# SHORT_R rows per query.
# --------------------------------------------------------------------------


def _sq8_train(pts_long: DataFrame) -> DataFrame:
    """(dim, mn, mx) — the SQ8 model: per-dimension integer bounds
    over the base vectors (d rows, model-sized)."""
    return pts_long.groupBy("dim").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )


def _sq8_codes(pts_long: DataFrame, dimstats: DataFrame) -> DataFrame:
    """(vec_id, dim, code) — 8-bit codes via the exact integer
    formula, CLAMPED to [0, 255] (FAISS SQ semantics: a vector outside
    the trained bounds — the drift-ingest case, stale stats coding new
    data — saturates instead of overflowing the code domain; for
    in-bounds vectors, the certified path, the clamp is the identity).
    The degenerate mx=mn dimension codes to 0 (decodes to mn,
    error 0)."""
    return pts_long.join(F.broadcast(dimstats), "dim").select(
        "vec_id",
        "dim",
        F.expr(
            "least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),"
            " CASE WHEN mx = mn THEN CAST(0 AS BIGINT)"
            " ELSE ((x - mn) * 255) div (mx - mn) END))"
        ).alias("code"),
    )


def _sq8_search(
    spark: SparkSession,
    eq: DataFrame,
    pts_long: DataFrame,
    asg_carr,
    asg: DataFrame,
    codes: DataFrame,
    dimstats: DataFrame,
    nprobe: int = NPROBE,
    short_r: int = SHORT_R,
    topk: int = TOPK,
) -> DataFrame:
    """The IVF-SQ8 search plan over GIVEN models and coded tables —
    the _ivfpq_search contract with (codes, dimstats) in place of
    (pq codes, adc book): coarse probe → decode-on-read integer ADC →
    SHORT_R exact re-rank → top-k."""
    qd = _code_points(eq.filter(F.col("vec_id") % Q_EVERY == 0), asg_carr)
    # top-nprobe lists IN-ROW: the per-query distance array is already
    # on the row, so array_sort (lexicographic (d, c) = dist then cid,
    # exactly the old row_number() orderBy) + slice replaces an
    # explode → Exchange(qid) → Sort → window chain with a stateless
    # projection — one shuffle fewer (guide §2.4)
    probe = qd.select(
        F.col("vec_id").alias("qid"),
        F.explode(F.expr(f"slice(array_sort(dists), 1, {nprobe})")).alias("s"),
    ).select("qid", F.col("s.c").cast("long").alias("cid"))
    cand = (
        probe.join(asg, "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nid"))
    )
    recon = codes.join(F.broadcast(dimstats), "dim").select(
        "vec_id",
        "dim",
        (F.col("mn") + F.expr("(code * (mx - mn)) div 255")).alias("r"),
    )
    qpts = pts_long.filter(F.col("vec_id") % Q_EVERY == 0).select(
        F.col("vec_id").alias("qid"), "dim", "x"
    )
    adc = (
        cand.join(recon.select(F.col("vec_id").alias("nid"), "dim", "r"), "nid")
        .join(F.broadcast(qpts), ["qid", "dim"])
        .groupBy("qid", "nid")
        .agg(
            F.sum((F.col("x") - F.col("r")) * (F.col("x") - F.col("r")))
            .cast("long")
            .alias("dist2_sq8")
        )
    )
    short = adc.withColumn(
        "sr",
        F.row_number().over(Window.partitionBy("qid").orderBy("dist2_sq8", "nid")),
    ).filter(F.col("sr") <= short_r)
    exact = (
        short.join(
            eq.select(F.col("vec_id").alias("qid"), F.col("eq").alias("ea")), "qid"
        )
        .join(eq.select(F.col("vec_id").alias("nid"), F.col("eq").alias("eb")), "nid")
        .select("qid", "nid", "dist2_sq8", _dist2_arrays("ea", "eb").alias("dist2"))
    )
    return (
        exact.withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("qid").orderBy("dist2", "nid")),
        )
        .filter(F.col("rk") <= topk)
        .select(
            F.col("qid").alias("query_id"),
            F.col("rk").cast("long").alias("rank"),
            F.col("nid").alias("neighbor_id"),
            "dist2",
            "dist2_sq8",
        )
    )


def _ivfsq8_oracle(
    nprobe: int = NPROBE,
    short_r: int = SHORT_R,
    survivor_pred: str | None = None,
) -> str:
    """The C196 replay; ``survivor_pred`` (over ``g.vec_id``)
    restricts the INDEX side to surviving vectors for the C198
    delete-wave variant — candidates only; queries, books and the
    coarse assignment replay stay trained on the full set (the FAISS
    remove_ids semantics, exactly the _ivfpq_oracle convention)."""
    blocks = [_PTS_CTE]
    blocks.append(f"""kval AS (
  SELECT greatest({K}, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS k
  FROM embeddings
)""")
    blocks.append(_lloyd_rounds("(SELECT k FROM kval)", ITERS, "vq", "pts"))
    blocks.append(_EQ_CTE)
    body = ",\n".join(blocks)
    _surv = f" AND {survivor_pred}" if survivor_pred else ""
    return f"""
WITH {body},
dimstats AS MATERIALIZED (
  SELECT dim, min(x) AS mn, max(x) AS mx FROM pts GROUP BY dim
),
sqrecon AS MATERIALIZED (
  -- the clamp matches _sq8_codes: identity for in-bounds vectors (the
  -- certified path), and it absorbs the one negative-operand case
  -- where Spark div (truncate) and DuckDB // (floor) differ — both
  -- land on 0 after greatest(0, ...)
  SELECT p.vec_id, p.dim,
         d.mn + (least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),
                 CASE WHEN d.mx = d.mn THEN CAST(0 AS BIGINT)
                      ELSE ((p.x - d.mn) * 255) // (d.mx - d.mn) END))
                 * (d.mx - d.mn)) // 255 AS r
  FROM pts p JOIN dimstats d ON d.dim = p.dim
),
probe AS (
  SELECT vec_id AS qid, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM dvq{_LAST}
  WHERE vec_id % {Q_EVERY} = 0
),
cand AS (
  SELECT p.qid, g.vec_id AS nid
  FROM probe p JOIN asgvq{_LAST} g ON p.cid = g.cid
  WHERE p.rn <= {nprobe} AND g.vec_id <> p.qid{_surv}
),
qpts AS (
  SELECT vec_id AS qid, dim, x FROM pts WHERE vec_id % {Q_EVERY} = 0
),
adc AS MATERIALIZED (
  SELECT c.qid, c.nid, CAST(sum((q.x - r.r) * (q.x - r.r)) AS BIGINT) AS dist2_sq8
  FROM cand c
  JOIN sqrecon r ON r.vec_id = c.nid
  JOIN qpts q ON q.qid = c.qid AND q.dim = r.dim
  GROUP BY c.qid, c.nid
),
short AS (
  SELECT qid, nid, dist2_sq8,
         row_number() OVER (PARTITION BY qid ORDER BY dist2_sq8, nid) AS sr
  FROM adc
),
exact AS (
  SELECT s.qid, s.nid, s.dist2_sq8, CAST({_PAIR_DIST} AS BIGINT) AS dist2
  FROM short s
  JOIN eq a ON a.vec_id = s.qid
  JOIN eq b ON b.vec_id = s.nid
  WHERE s.sr <= {short_r}
)
SELECT qid AS query_id, CAST(rk AS BIGINT) AS rank, nid AS neighbor_id,
       dist2, dist2_sq8
FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist2, nid) AS rk
  FROM exact
) WHERE rk <= {TOPK}
"""


@query("q_ann_ivfsq8", oracle=_ivfsq8_oracle())
def q_ann_ivfsq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C196: IVF-SQ8 ANN with exact re-rank — the C112 coarse probe
    routing candidates to a SCALAR-quantized coded table (8 exact-
    integer bits per dimension), decode-on-read integer ADC, SHORT_R
    exact re-rank. One hash certifies the coarse trainer, the d-row
    SQ model, every code, every reconstructed ADC distance, the
    shortlist cut, and the final ranking. The quantizer family FAISS
    deploys when PQ's code noise costs recall — the measured answer
    to the C193 recorded negative (docs/ANN_SQ8.json)."""
    emb = load(spark, sf_dir, "embeddings")
    k = ivf_k(emb.count())
    eq = _eq_arrays(spark, sf_dir).localCheckpoint()
    asg, asg_carr, _ = _lloyd_arrays(spark, eq, k, ITERS)
    pts = _pts_long(spark, sf_dir)
    dimstats = _sq8_train(pts)
    codes = _sq8_codes(pts, dimstats)
    return _sq8_search(spark, eq, pts, asg_carr, asg, codes, dimstats)
