"""Portable MinHash + LSH near-duplicate detection — fully
deterministic and engine-agnostic, so the WHOLE pipeline (shingle ->
signature -> banding -> candidate join -> exact verify) is
differentially hash-checked against DuckDB, unlike the Spark-ML
MinHashLSH variant (dedup.py) whose hash family is engine-private and
therefore rows-only.

The trick: a MinHash permutation only needs a total order on hashed
shingles, so ``min(md5(seed || ':' || shingle))`` with LEXICOGRAPHIC
string order is a valid minwise family — and md5 is identical in every
engine. 16 signature rows, 4 bands x 4 rows: P[candidate] = 1-(1-J^4)^4
(~0.98 at J=0.8, ~0.03 at J=0.3), the standard S-curve.

Scale notes (100 TB):
- Everything is explode -> hash -> min-aggregate -> equi-join: the
  shuffles carry (doc_id, 32-byte digest) pairs, never document bodies.
- Candidate generation is the (band, bucket) self-equi-join — linear in
  bucket occupancy, the same shape as approxSimilarityJoin's join.
- Exact verification touches candidate pairs only (intersection via a
  shingle equi-join restricted to candidates).
- The 16x shingle explosion is the classic MinHash CPU cost. Folding it
  into one higher-order ``transform(sequence(0,15), i -> md5(...))`` per
  shingle was tried and MEASURED 4x SLOWER (A/B at sf0.1, r3): Spark
  evaluates lambda bodies of higher-order functions interpreted, while
  explode + md5 + partial min stays inside whole-stage codegen — so the
  explode IS the fast path here. The explosion never shuffles 16x rows
  anyway: partial min aggregation combines map-side, and the exchange
  carries one (doc_id, i, digest) row per (doc, seed).

Reference behavior anchor: the near-dup tier extends the reference's
dedup-free ingest (kafka+clickhouse.md:92-103 stores raw events; any
corpus layer above it needs this exact pipeline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark import gate
from kafka_clickhouse_implementation_spark.io import load
from kafka_clickhouse_implementation_spark.registry import query

N_HASHES = 16
BAND_ROWS = 4
JACCARD_T = 0.8


def _shingles(docs: DataFrame) -> DataFrame:
    """Distinct 3-word shingles per doc (docs with >= 3 tokens)."""
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(F.size("t") >= 3)
    return toks.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(t) - 3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))")
        ).alias("s"),
    ).distinct()


def _signature_frame(sh: DataFrame) -> DataFrame:
    """(doc_id, m0..m15, n): the 16-function signature AND the distinct
    shingle count in ONE aggregation. The 16 per-(doc, i) minima are
    plain min() aggregates with map-side partials in a single
    groupBy(doc_id) (the r15 de-explode — guide §2.3), and folding the
    ``sizes`` count into the same agg removes the separate
    groupBy(doc_id) the verify stage ran over the same rows (one
    shuffle + one corpus pass fewer — guide §2.4). Expressions stay
    single parsed SQL strings: the Column-by-Column form cost ~0.4 s
    of py4j plan construction per consumer (measured r15)."""
    return sh.groupBy("doc_id").agg(
        *[
            F.expr(f"min(md5(concat('{i}:', s)))").alias(f"m{i}")
            for i in range(N_HASHES)
        ],
        F.count("*").alias("n"),
    )


def _band_pairs(mins: DataFrame) -> DataFrame:
    """(doc_a, doc_b) distinct candidate pairs from 4x4 LSH banding
    over a precomputed signature frame: the 4 band hashes are pure row
    expressions (md5 of the i-ordered '|' concat), then the
    (band, bh) self-equi-join."""
    band_structs = ", ".join(
        "named_struct('band', CAST({b} AS BIGINT), 'bh', md5(concat_ws('|', {cols})))".format(
            b=b,
            cols=", ".join(f"m{b * BAND_ROWS + j}" for j in range(BAND_ROWS)),
        )
        for b in range(N_HASHES // BAND_ROWS)
    )
    bands = mins.select(
        "doc_id", F.expr(f"explode(array({band_structs}))").alias("o")
    ).select("doc_id", "o.band", "o.bh")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_candidate_pairs(docs: DataFrame, sh: DataFrame | None = None) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from 4x4 LSH banding over the
    16-function portable MinHash signature. Pass a precomputed
    ``_shingles`` frame to share the (expensive) shingle subtree with
    the verify stage."""
    if sh is None:
        sh = _shingles(docs)
    return _band_pairs(_signature_frame(sh))


def minhash_pairs_cte(src: str) -> str:
    """DuckDB CTE chain (sh → … → pairs) replaying the whole portable
    pipeline over a relation ``src(doc_id, t)`` where ``t`` is the
    token list. Parametrized by source so compositions (the corpus
    cleaner) share the exact same SQL as q_minhash_portable's oracle.
    Terminal CTE: ``pairs(doc_a, doc_b, jaccard)`` filtered at the
    module threshold."""
    return f"""sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM {src} WHERE len(t) >= 3
), hi AS (
  SELECT doc_id, seeds.i AS i, min(md5(CAST(seeds.i AS VARCHAR) || ':' || s)) AS mh
  FROM sh, (SELECT unnest(range(0, {N_HASHES})) AS i) seeds
  GROUP BY doc_id, seeds.i
), bands AS (
  SELECT doc_id, i // {BAND_ROWS} AS band,
         md5(string_agg(mh, '|' ORDER BY i)) AS bh
  FROM hi GROUP BY doc_id, i // {BAND_ROWS}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_int
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
  GROUP BY c.doc_a, c.doc_b
), pairs AS (
  SELECT i.doc_a, i.doc_b,
         CAST(i.n_int AS DOUBLE) / CAST(za.n + zb.n - i.n_int AS DOUBLE) AS jaccard
  FROM inter i
  JOIN sizes za ON za.doc_id = i.doc_a
  JOIN sizes zb ON zb.doc_id = i.doc_b
  WHERE CAST(i.n_int AS DOUBLE) / CAST(za.n + zb.n - i.n_int AS DOUBLE) >= {JACCARD_T}
)"""


_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), {minhash_pairs_cte("toks")}
SELECT doc_a, doc_b, jaccard FROM pairs
"""


def verified_pairs(
    docs: DataFrame, sh: DataFrame | None = None, threshold: float = JACCARD_T
) -> DataFrame:
    """(doc_a, doc_b, jaccard) near-dup pairs: LSH candidates verified
    by exact shingle-set Jaccard — the full portable pipeline, reusable
    by any composition (q_minhash_portable, the corpus cleaner).

    r16: the shingle frame feeds FOUR plan branches (signature, sizes,
    and both sides of the verify intersection self-join) and the r15
    plan re-evaluated the tokenize -> explode -> distinct chain for
    every one of them — SIX corpus passes in the physical plan
    (both sides of the band self-join re-derived the signature too).
    Materialize the distinct shingles ONCE (localCheckpoint — the
    repo's multi-consumer-node convention, guide §5) and the signature
    frame once (three consumers: bands, na, nb; ``sizes`` now rides
    the same aggregation as the mins), so every downstream branch
    scans materialized rows instead of re-tokenizing the corpus."""
    if sh is None:
        sh = _shingles(docs)
    sh = sh.localCheckpoint()
    mins = _signature_frame(sh).localCheckpoint()
    cand = _band_pairs(mins).localCheckpoint()
    sizes = mins.select("doc_id", "n")
    # r16: the exact-verify intersection only ever touches shingles of
    # documents that appear in some candidate pair — a small fraction
    # of the corpus (LSH at 4x4 bands passes ~J^4 of pairs). Restrict
    # the materialized shingle table ONCE with a semi-join on the
    # candidate doc set and probe-join the (checkpointed) pair list, so
    # the only shuffle left in the verify stage carries candidate-doc
    # shingles, not the corpus (guide §3.2 — the semi-join form of
    # Bloom pre-filtering). Both small sides are hinted broadcast only
    # while the pair list is under the shared driver gate (gate.py):
    # it grows with the corpus and its duplicate-cluster sizes, and
    # above the gate the planner picks the joins from its own size
    # estimates (pair_docs has at most twice the pair rows).
    small = cand.count() <= gate.DRIVER_MAX_ROWS
    hint = F.broadcast if small else (lambda df: df)
    pair_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    shp = sh.join(hint(pair_docs), "doc_id", "left_semi")
    sa = shp.select(F.col("doc_id").alias("doc_a"), "s")
    sb = shp.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        sa.join(hint(cand), "doc_a")
        .join(sb, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_int"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = (
        inter.join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_int").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_int")).cast("double")
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold)


@query("q_minhash_portable", oracle=_ORACLE)
def q_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end hash-checked MinHash-LSH near-dup: portable md5-min
    signatures -> 4x4 banding -> candidate equi-join -> exact Jaccard
    verify (>= 0.8) on candidates only. The one IEEE division per pair
    is exact-identical across engines (bigint inputs)."""
    return verified_pairs(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Portable SimHash: like the MinHash above, built only from primitives
# (md5, substr, instr, integer div/mod) that behave identically in
# Spark SQL and DuckDB, so the fingerprint VALUES are oracle-checked —
# unlike an xxhash64-based SimHash (engine-private, rows-only).
# 16-bit fingerprint from the first 4 md5 nibbles of each distinct
# token: bit j = sign of sum over tokens of (2*bit_j(md5(token)) - 1).

N_SIM_BITS = 16
_HEX = "0123456789abcdef"


@query(
    "q_simhash_portable",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id < 100
    ), bits AS (
      SELECT doc_id, j.j AS j,
             CASE WHEN ((instr('{_HEX}', substr(md5(tok), (j.j // 4) + 1, 1)) - 1)
                        // CAST(pow(2, j.j % 4) AS INT)) % 2 = 1
                  THEN 1 ELSE -1 END AS v
      FROM toks, (SELECT unnest(range(0, {N_SIM_BITS})) AS j) j
    ), sums AS (
      SELECT doc_id, j, sum(v) AS s FROM bits GROUP BY doc_id, j
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS simhash16
    FROM sums GROUP BY doc_id
    """,
)
def q_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable 16-bit SimHash fingerprints (doc_id < 100),
    value-checked against DuckDB. Pure integer arithmetic over md5
    nibbles — one explode x16 (the per-bit contribution), two hash
    aggregations, zero floats except the exact pow(2,j) small ints.
    At scale the explode folds into a higher-order aggregate over a
    per-doc hash list; kept explicit so the oracle mirrors it."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).distinct()
    bits = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(N_SIM_BITS - 1))).alias("j"),
        F.md5(F.col("tok").cast("binary")).alias("h"),
    ).selectExpr(
        "doc_id",
        "j",
        f"""CASE WHEN ((instr('{_HEX}', substr(h, CAST(j div 4 AS INT) + 1, 1)) - 1)
                 div CAST(pow(2, j % 4) AS INT)) % 2 = 1
            THEN 1 ELSE -1 END AS v""",
    )
    sums = bits.groupBy("doc_id", "j").agg(F.sum("v").alias("s"))
    return sums.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("CAST(pow(2, j) AS BIGINT)")).otherwise(0)
        ).alias("simhash16")
    )
