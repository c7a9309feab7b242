"""Tier C — deduplication for large-scale training-data pipelines:
exact, exact-by-fingerprint, token-set Jaccard, shingle (n-gram)
Jaccard, and embedding-cosine near-dup.

Scale posture: the variants here are brute-force pair joins, correct
at test scale and quadratic by nature; the production paths at 100 TB
are the LSH ones (MinHash banding and SimHash in minhash_portable.py)
whose candidate generation is a hash-bucket equi-join — linear shuffle,
no O(n²) anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.io import load
from kafka_clickhouse_implementation_spark.registry import query


@query(
    "q_dedup_docs",
    oracle="""
    SELECT count(*) AS n_raw, count(DISTINCT text) AS n_distinct
    FROM documents
    """,
)
def q_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 — exact dedup: dropDuplicates on content. At scale dedup by
    full text shuffles the text payload; q_fingerprint's md5-key dedup
    shuffles 16 bytes per row instead — same answer, ~30× less I/O."""
    docs = load(spark, sf_dir, "documents")
    n_raw = docs.agg(F.count(F.lit(1)).alias("n_raw"))
    n_distinct = docs.dropDuplicates(["text"]).agg(F.count(F.lit(1)).alias("n_distinct"))
    return n_raw.crossJoin(n_distinct)


def _token_sets(docs: DataFrame, max_doc_id: int) -> DataFrame:
    """Distinct (doc_id, token) pairs for docs below max_doc_id."""
    return (
        docs.filter(F.col("doc_id") < max_doc_id)
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
    )


def _jaccard_pairs(sets: DataFrame) -> DataFrame:
    """Exact pairwise Jaccard over a (doc_id, tok) set relation:
    inverted-index self-join on token (so only docs *sharing* a token
    pair up — no cross join), then |A∩B| / (|A|+|B|-|A∩B|)."""
    sizes = sets.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sets.alias("a")
    b = sets.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("i") / (F.col("sa.n") + F.col("sb.n") - F.col("i")), 6).alias("jac"),
        )
    )


@query(
    "q_jaccard_pairs",
    oracle="""
    WITH s AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id < 50
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM s GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM s a JOIN s b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, round(i * 1.0 / (sa.n + sb.n - i), 6) AS jac
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE round(i * 1.0 / (sa.n + sb.n - i), 6) >= 0.8
    """,
)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 (deterministic twin) — exact token-set Jaccard ≥ 0.8 among the
    first 50 docs via inverted-index self-join."""
    docs = load(spark, sf_dir, "documents")
    return _jaccard_pairs(_token_sets(docs, 50)).filter(F.col("jac") >= 0.8)


@query(
    "q_ngram_jaccard",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 30
    ),
    ds AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM toks
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, round(i * 1.0 / (sa.n + sb.n - i), 6) AS jac
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    ORDER BY jac DESC, doc_a, doc_b LIMIT 10
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram (3-word-shingle) Jaccard — the dedup granularity used by
    web-scale corpus cleaning. Shingling is a JVM-side higher-order
    ``transform`` over the token array; similarity via the same
    inverted-index join as q_jaccard_pairs. Top-10 pairs, fully
    tiebroken."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.filter(F.col("doc_id") < 30).select(
        "doc_id", F.split("text", " ").alias("t")
    )
    shingles = toks.filter(F.size("t") >= 3).select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(t) - 3), i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))")
        ).alias("tok"),
    ).distinct()
    return (
        _jaccard_pairs(shingles)
        .orderBy(F.col("jac").desc(), "doc_a", "doc_b")
        .limit(10)
    )


@query(
    "q_fingerprint",
    oracle="""
    SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id < 10
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: content hash as the dedup key. At 100 TB
    this is the first pass — dedup/groupBy moves a 32-char key instead
    of the document body."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") < 10)
        .select("doc_id", F.md5(F.col("text").cast("binary")).alias("fp"))
    )


@query(
    "q_embedding_near_dup",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
    """,
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs as a fully distributed
    block-pair matrix product — no driver-side collect, no full-table
    broadcast (the round-1 design collected the corpus to the driver;
    this is the fix).

    Rows are hashed into B blocks; each row is replicated to every
    block *pair* it participates in (row in block p goes to keys
    (p, p..B-1) on the left and (0..p, p) on the right), then a
    cogrouped applyInPandas computes one rectangular BLAS product per
    (blk_a, blk_b) key and emits only over-threshold pairs. Each
    unordered pair lands in exactly one group, so no dedup shuffle is
    needed afterwards. Shuffle volume is O(n·B) rows and per-task
    memory is two blocks of n/B×64 floats — B is the knob that trades
    replication for task memory at scale. The O(n²) *compute* is
    inherent to the exact all-pairs contract; the linear-shuffle
    approximate paths (MinHash LSH in minhash_portable.py, sign-LSH in
    similarity.py, IVF in clustering.py) are the 100-TB candidate
    generators, with this as their correctness baseline at
    verification scale."""
    import numpy as np
    import pandas as pd

    n_blocks = 8

    # Each cogroup side gets its OWN scan (fresh attribute ids): when
    # both sides derive from the same parent, the left and right data
    # attributes share expr ids and Spark's relation deduplication can
    # strip the RIGHT group frames down to the grouping keys only —
    # the Python function then sees rpdf without vec_id/embedding
    # (observed round 12: session-state-dependent, green in one
    # process and KeyError in the next). Two scans of the same parquet
    # cost one extra columnar read and make the plan deterministic.
    def _blocked() -> DataFrame:
        return load(spark, sf_dir, "embeddings").select(
            "vec_id",
            "embedding",
            F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int").alias("blk"),
        )

    left = _blocked().select(
        F.col("blk").alias("blk_a"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("blk_b"),
        "vec_id",
        "embedding",
    )
    right = _blocked().select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("blk_a"),
        F.col("blk").alias("blk_b"),
        "vec_id",
        "embedding",
    )

    def block_pair_sims(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_a": pd.Series(dtype="int64"),
                              "vec_b": pd.Series(dtype="int64"),
                              "cos_sim": pd.Series(dtype="float64")})
        if lpdf.empty or rpdf.empty:
            return empty
        a = np.stack(lpdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
        b = np.stack(rpdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
        a = a / np.linalg.norm(a, axis=1, keepdims=True)
        b = b / np.linalg.norm(b, axis=1, keepdims=True)
        sims = np.round(a @ b.T, 6)
        aids = lpdf["vec_id"].to_numpy()
        bids = rpdf["vec_id"].to_numpy()
        bi, bj = np.nonzero(sims >= 0.35)
        ra, rb = aids[bi], bids[bj]
        if lpdf["blk_a"].iat[0] == lpdf["blk_b"].iat[0]:
            # diagonal block: both orientations present — keep a < b
            keep = ra < rb
            ra, rb, s = ra[keep], rb[keep], sims[bi, bj][keep]
        else:
            # off-diagonal: each unordered pair appears once; order ids
            s = sims[bi, bj]
            ra, rb = np.minimum(ra, rb), np.maximum(ra, rb)
        return pd.DataFrame({"vec_a": ra, "vec_b": rb, "cos_sim": s})

    return (
        left.groupBy("blk_a", "blk_b")
        .cogroup(right.groupBy("blk_a", "blk_b"))
        .applyInPandas(block_pair_sims, schema="vec_a long, vec_b long, cos_sim double")
    )
