"""BM25 retrieval ranking — round 10 (C150): scoring ON TOP of the
C20 inverted-index machinery, the standard next step a corpus user
takes after building postings (the dashboard-query story of the
reference's analytics tables — kafka+clickhouse.md:240-243 — applied
to text retrieval).

Okapi BM25 (Robertson et al., TREC-3): for document D and query term q

    score(D, q) = idf(q) * tf * (k1 + 1) / (tf + k1 * (1 - b + b*dl/avgdl))
    idf(q)      = ln((N - df + 0.5) / (df + 0.5))

Portability design (the repo's exact-integer + shared-kernel recipe):

- k1 = 1.2 and b = 0.75 as EXACT RATIONALS: multiplying the tf-norm
  fraction through by 10 * sum_dl (avgdl = sum_dl / N) gives
      frac = 22 * tf * sum_dl
           / (10 * tf * sum_dl + 3 * sum_dl + 9 * dl * N)
  — numerator and denominator are exact BIGINTs (< 2^53 at every
  bench scale; the 100 TB deployment would move them to DECIMAL(38,0)
  and portable_math.dcast, the C99 path), so their DOUBLE casts are
  exact and the one IEEE division is correctly rounded on both
  engines.
- idf via the pln kernel (C145's ln): with a = 2N - 2df + 1 and
  b2 = 2df + 1 (the 0.5s cleared), idf = sgn * pln(min/max) where
  sgn = -1 when a >= b2 (ln(x) = -ln(1/x)) — the ratio of exact
  integers is an exact-double division into pln's [2^-64, 1] domain,
  and the branch compares exact integers, so the chosen branch and
  every downstream double are engine-identical BY CONSTRUCTION.
  (High-df terms get a NEGATIVE idf — kept, as Robertson defines it;
  it exercises the sign branch.)
- per-(query, term, doc) contributions are floor-quantized to integer
  NANO units BEFORE summing (the C63 recipe), so the per-doc score is
  an exact BIGINT sum — partitioning-order independent.
- query terms are DERIVED from the corpus (top-QT_TOTAL tokens by
  document frequency, stopwords excluded, (df DESC, token) total
  order), grouped into QT_TOTAL/QT_PER queries of QT_PER consecutive
  ranks — no literal vocabulary that a testdata regeneration could
  invalidate.

Scale shape: tf / df / dl are one-scan token aggregations (the same
shuffle family as the C20 index build); the query-term table is
QT_TOTAL rows (broadcast); scoring touches only the candidate set
(union of the query terms' posting lists — document-at-a-time over
postings, never the corpus); the final top-k is a per-query window
over candidates. At 1000 executors this is scatter-gather ranking with
mergeable per-partition partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.functions.portable_math import (
    ln_exp_case,
    ln_scale_case,
    pln,
)
from kafka_clickhouse_implementation_spark import gate
from kafka_clickhouse_implementation_spark.io import load
from kafka_clickhouse_implementation_spark.registry import query
from kafka_clickhouse_implementation_spark.sources.streams import read_wire

QT_TOTAL = 12  # query terms drawn from the corpus
QT_PER = 3  # terms per query -> QT_TOTAL / QT_PER queries
TOP_K = 5  # documents returned per query
_STOP = ("the", "a", "of", "and")  # the corpus-wide stopword set

# ---------------------------------------------------------------------
# Shared double-math templates — Spark and the oracle interpolate
# IDENTICAL text (the pln portability contract), over bound columns:
#   a  = 2N - 2df + 1          b2 = 2df + 1         (exact BIGINT)
#   num = 22*tf*sum_dl         den = 10*tf*sum_dl + 3*sum_dl + 9*dl*N
# ---------------------------------------------------------------------

_P_SQL = "CAST(least(a, b2) AS DOUBLE) / CAST(greatest(a, b2) AS DOUBLE)"
_SGN_SQL = "CASE WHEN a >= b2 THEN -1.0e0 ELSE 1.0e0 END"
_FR_SQL = "CAST(num AS DOUBLE) / CAST(den AS DOUBLE)"
_T_SQL = "(m - 1.0) / (m + 1.0)"
_NANO_SQL = (
    f"CAST(floor((sgn * {pln('e', 't', 't2')}) * fr * 1.0e9) AS BIGINT)"
)

# The BM25 CTE chain through per-doc scores — shared VERBATIM by the
# standalone oracle (q_bm25_rank / q_stream_bm25) and the C154 hybrid
# fusion oracle, so the lexical arm of the fusion can never drift from
# the certified BM25 definition.
_BM25_CTE_BODY = f"""toks AS (
  SELECT doc_id, u.w AS token
  FROM documents, unnest(string_split(text, ' ')) AS u(w)
  WHERE u.w <> ''
), tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, token
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
), consts AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
         (SELECT CAST(count(*) AS BIGINT) FROM toks) AS sum_dl
), df AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT token, doc_id FROM toks) GROUP BY token
), qterms AS (
  SELECT token, df,
         CAST((rnk - 1) // {QT_PER} AS BIGINT) AS qid
  FROM (
    SELECT token, df,
           row_number() OVER (ORDER BY df DESC, token) AS rnk
    FROM df WHERE token NOT IN {_STOP!r}
  ) WHERE rnk <= {QT_TOTAL}
), joined AS (
  SELECT q.qid, q.df, t.doc_id, t.tf, d.dl, c.n_docs, c.sum_dl
  FROM qterms q JOIN tf t USING (token) JOIN dl d USING (doc_id), consts c
), ints AS (
  SELECT qid, doc_id,
         2 * n_docs - 2 * df + 1 AS a,
         2 * df + 1 AS b2,
         22 * tf * sum_dl AS num,
         10 * tf * sum_dl + 3 * sum_dl + 9 * dl * n_docs AS den
  FROM joined
), s1 AS (
  SELECT qid, doc_id, {_SGN_SQL} AS sgn, {_FR_SQL} AS fr, {_P_SQL} AS p
  FROM ints
), s2 AS (
  SELECT qid, doc_id, sgn, fr,
         {ln_exp_case('p')} AS e, p * {ln_scale_case('p')} AS m
  FROM s1
), s3 AS (
  SELECT qid, doc_id, sgn, fr, e, {_T_SQL} AS t FROM s2
), s4 AS (
  SELECT qid, doc_id, sgn, fr, e, t, t * t AS t2 FROM s3
), contrib AS (
  SELECT qid, doc_id, {_NANO_SQL} AS nano FROM s4
), perdoc AS (
  SELECT qid, doc_id,
         CAST(sum(nano) AS BIGINT) AS score_nano,
         CAST(count(*) AS BIGINT) AS n_terms_hit
  FROM contrib GROUP BY qid, doc_id
)"""

_BM25_ORACLE = f"""
WITH {_BM25_CTE_BODY}
SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rnk, score_nano, n_terms_hit
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY qid ORDER BY score_nano DESC, doc_id) AS rnk
  FROM perdoc
) WHERE rnk <= {TOP_K}
"""


def doc_tf(docs: DataFrame) -> DataFrame:
    """(doc_id, token, tf) term frequencies — the ONE tf projection
    shared by batch C150 and the streaming C152 state (only readStream
    + stateful dedup are streaming-specific, so the two cannot
    drift)."""
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def bm25_rank(docs: DataFrame, top_k: int = TOP_K) -> DataFrame:
    """(qid, doc_id, rnk, score_nano, n_terms_hit) for the corpus-derived
    query set — see module docstring for the portability design. tf is
    pinned for the same four-branch reason as the streaming twins'
    drained-state checkpoint (dl, sum_dl, df, scoring join — r15)."""
    n_docs_df = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return bm25_from_tf(doc_tf(docs).localCheckpoint(), n_docs_df, top_k)


def bm25_from_tf(tf: DataFrame, n_docs_df: DataFrame, top_k: int = TOP_K) -> DataFrame:
    """BM25 from a (doc_id, token, tf) term-frequency table — the ONE
    scoring core shared by the batch query (which derives tf from a
    corpus scan) and the streaming twin (which drains an incrementally
    maintained tf state), so the two can never drift. dl, sum_dl and
    df all derive from tf itself (each (doc_id, token) row is distinct
    by construction, so df = rows per token and dl = sum of tf per
    doc); only the document COUNT arrives separately because a
    zero-token document exists in `documents` but not in tf."""
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    consts = n_docs_df.crossJoin(
        tf.agg(F.sum("tf").cast("long").alias("sum_dl"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    from pyspark.sql import Window as W

    # TakeOrdered first (distributed top-QT_TOTAL — no global sort or
    # single-partition window over the vocabulary), THEN rank the tiny
    # result; the unpartitioned window sees QT_TOTAL rows only.
    top = (
        df.filter(~F.col("token").isin(*_STOP))
        .orderBy(F.desc("df"), "token")
        .limit(QT_TOTAL)
    )
    qterms = top.withColumn(
        "rnk", F.row_number().over(W.orderBy(F.desc("df"), "token"))
    ).selectExpr("token", "df", f"CAST((rnk - 1) div {QT_PER} AS BIGINT) AS qid")
    joined = (
        F.broadcast(qterms)
        .join(tf, "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(consts))
    )
    contrib = (
        joined.selectExpr(
            "qid",
            "doc_id",
            "2 * n_docs - 2 * df + 1 AS a",
            "2 * df + 1 AS b2",
            "22 * tf * sum_dl AS num",
            "10 * tf * sum_dl + 3 * sum_dl + 9 * dl * n_docs AS den",
        )
        .selectExpr("qid", "doc_id", f"{_SGN_SQL} AS sgn", f"{_FR_SQL} AS fr", f"{_P_SQL} AS p")
        .selectExpr(
            "qid", "doc_id", "sgn", "fr",
            f"{ln_exp_case('p')} AS e", f"p * {ln_scale_case('p')} AS m",
        )
        .selectExpr("qid", "doc_id", "sgn", "fr", "e", f"{_T_SQL} AS t")
        .selectExpr("qid", "doc_id", "sgn", "fr", "e", "t", "t * t AS t2")
        .selectExpr("qid", "doc_id", f"{_NANO_SQL} AS nano")
    )
    perdoc = contrib.groupBy("qid", "doc_id").agg(
        F.sum("nano").cast("long").alias("score_nano"),
        F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
    )
    w = W.partitionBy("qid").orderBy(F.desc("score_nano"), "doc_id")
    return (
        perdoc.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= top_k)
        .select("qid", "doc_id", "rnk", "score_nano", "n_terms_hit")
    )


@query("q_bm25_rank", oracle=_BM25_ORACLE)
def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C150: BM25 top-k (k = TOP_K) ranking over `documents` for the
    corpus-derived query set — value-hashed end to end: the hash
    certifies every tf/df/dl count, both exact-integer BM25 fractions,
    the pln-kernel idf (sign branch included), the nano quantization,
    and the (score DESC, doc_id) ranking cut."""
    return bm25_rank(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------
# Streaming-maintained inverted index feeding BM25 — round 10 (C152):
# the C138/C147/C151 -State certification pattern applied to
# retrieval. Documents arrive over the duplicate-injecting corpus wire
# (each part file copied with a later mtime), pass stateful doc_id
# dedup, explode into tokens, and a complete-mode
# groupBy(doc_id, token) count maintains the term-frequency state —
# which IS the inverted index, maintained incrementally (state linear
# in index size; at 100 TB the complete-mode memory sink becomes an
# update-mode idempotent upsert keyed by (doc_id, token), same
# semantics). The drained table enters bm25_from_tf — the identical
# scoring core as batch C150 — and the result is checked against the
# batch BM25 oracle VERBATIM: without the dedup state the wire's
# duplicate files DOUBLE every tf and dl (unlike C151's membership,
# tf is count-valued, so duplicate corruption is intrinsic, not
# probe-injected), shifting every score — a loud hash FAIL.
# ---------------------------------------------------------------------


@query("q_stream_bm25", oracle=_BM25_ORACLE)
def q_stream_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C152: BM25 over the STREAMING-MAINTAINED inverted index — the
    tf state accumulated across micro-batches from the duplicate-
    injecting document wire (stateful dedup -> explode -> complete-mode
    counts), drained, and scored by the same bm25_from_tf core as the
    batch C150. One hash certifies incrementally-built index == batch
    index == independent DuckDB replay. The document count enters from
    the drained DEDUP state (distinct doc ids seen), which equals
    count(documents) whenever every document has at least one token —
    any divergence (or a dedup-state failure) hash-fails loudly."""
    import os

    from kafka_clickhouse_implementation_spark.streaming.corpus_stream import document_wire
    from kafka_clickhouse_implementation_spark.streaming.drain import drain_table

    wire, base = document_wire(spark, sf_dir)
    # the streaming frame runs through the SAME doc_tf helper as batch
    # C150 — only readStream + stateful dedup are streaming-specific
    deduped = (
        read_wire(spark, wire, 4)
        .dropDuplicates(["doc_id"])
    )
    tf_state = doc_tf(deduped)
    # UPDATE-mode FILE drain (r16): (doc_id, token) keys are doc-scoped
    # and the stateful dedup emits each document in exactly one batch,
    # so per-trigger updated rows union to the identical final state
    # the complete-mode memory sink re-collected whole to the DRIVER
    # every trigger (see q_stream_dsir). A dedup failure now surfaces
    # as duplicate keys in the drained table — still a loud hash FAIL.
    tf = drain_table(
        spark, tf_state,
        os.path.join(base, "bm25_tf_table"),
        os.path.join(base, "ckpt_bm25_tf"),
    )
    # localCheckpoint: the drained state feeds FOUR plan branches (dl,
    # sum_dl, df->qterms, and the scoring join) — pin it once; it also
    # gives the self-join (qterms derives from tf) fresh attribute ids,
    # which a shared scan otherwise shares across both sides
    # (Spark "conflicting references in Join" internal error).
    tf = tf.localCheckpoint()
    return bm25_from_tf(tf, _wire_doc_count(spark, wire))


# ---------------------------------------------------------------------
# Update-mode upsert-maintained tf index — round 11 (C168): the 100 TB
# path every complete-mode streaming index (C152/C157/C162) declares in
# its docstring, now actually written. The complete-mode memory sink
# re-materializes the WHOLE state per trigger — fine for a drained
# certification run, linear-in-index-size memory in production. Here
# the same streaming aggregation runs in UPDATE mode: each micro-batch
# emits only the CHANGED (doc_id, token) rows, and foreachBatch appends
# them as row VERSIONS (version = the deterministic epoch id) into a
# parquet table — the plans/upsert.py ReplacingMergeTree recipe. The
# read side resolves latest-per-key with one window rank, so the
# maintained index equals the complete-mode state by construction and
# the WHOLE pipeline (wire → dedup → update-mode counts → versioned
# upsert → latest-read → BM25) is checked against the batch oracle
# VERBATIM.
#
# Idempotency is the load-bearing property (exactly-once sinks are
# built from at-least-once delivery + idempotent writes): a REPLAYED
# batch appends byte-identical (key, version) rows, and latest-per-key
# resolution is unchanged — pinned by tests/test_retrieval.py, which
# double-appends a batch and asserts the read-back is identical.
#
# Scale shape: per-trigger write volume is the CHANGED keys only (not
# the index); the read-side rank shuffles once on the key; compaction
# (plans/upsert.compact_versions) bounds growth off-peak.
# ---------------------------------------------------------------------


def _wire_doc_count(spark: SparkSession, wire: str) -> DataFrame:
    """1-row ``n_docs`` frame counting DISTINCT doc ids delivered on
    the document wire — the same population the streaming dedup state
    resolves, INCLUDING documents whose text tokenizes to nothing
    (deriving n_docs from the tf index's key set silently undercounts
    on a corpus with an empty/whitespace-only document and diverges
    from the oracle's count(*) FROM documents — r11 advisory). The
    wire is at-least-once, so distinct-over-the-files is exact."""
    return (
        read_wire(spark, wire, batch=True)
        .select("doc_id")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def stream_index_upsert(spark: SparkSession, sf_dir: str, project, tag: str) -> str:
    """Run the document wire through stateful dedup + ``project`` (an
    aggregated streaming projection — the SAME helper the batch twin
    uses) in UPDATE mode, foreachBatch-appending the changed rows as
    (key..., version=epoch) parquet versions. ONE implementation for
    every upsert-maintained index (tf C168, positional C170); returns
    the table path (rebuilt per call — streaming queries stay
    re-runnable)."""
    import os
    import shutil

    from kafka_clickhouse_implementation_spark.plans.upsert import (
        append_versions,
    )
    from kafka_clickhouse_implementation_spark.streaming.corpus_stream import document_wire
    from kafka_clickhouse_implementation_spark.streaming.drain import drain

    wire, base = document_wire(spark, sf_dir)
    path = os.path.join(base, f"{tag}_upsert")
    ckpt = os.path.join(base, f"ckpt_{tag}_upsert")
    shutil.rmtree(path, ignore_errors=True)
    deduped = (
        read_wire(spark, wire, 4)
        .dropDuplicates(["doc_id"])
    )

    def upsert_batch(bdf: DataFrame, epoch_id: int) -> None:
        append_versions(
            bdf.withColumn("version", F.lit(epoch_id).cast("long")), path
        )

    drain(spark, (project(deduped), upsert_batch, ckpt, "update"))
    return path


def stream_tf_upsert(spark: SparkSession, sf_dir: str) -> str:
    """The C168 tf-index upsert: shared doc_tf projection, keyed
    (doc_id, token)."""
    return stream_index_upsert(spark, sf_dir, doc_tf, "bm25_tf")


@query("q_stream_bm25_upsert", oracle=_BM25_ORACLE)
def q_stream_bm25_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C168: BM25 over the UPDATE-MODE UPSERT-MAINTAINED tf index —
    one hash certifies update-mode incremental maintenance + versioned
    keyed upsert + latest-per-key read == the batch index == the
    independent DuckDB replay."""
    from kafka_clickhouse_implementation_spark.plans.upsert import read_latest
    from kafka_clickhouse_implementation_spark.streaming.corpus_stream import (
        document_wire,
    )

    path = stream_tf_upsert(spark, sf_dir)
    wire, _base = document_wire(spark, sf_dir)  # idempotent — reuses the wire
    tf = (
        read_latest(spark, path, ("doc_id", "token"), "version")
        .select("doc_id", "token", "tf")
        .localCheckpoint()
    )
    return bm25_from_tf(tf, _wire_doc_count(spark, wire))


# ---------------------------------------------------------------------
# Proximity search over a positional index — round 10 (C153): the
# retrieval operator n-gram counting CANNOT express (C19 covers
# adjacent grams; proximity needs positions): documents where two
# query terms co-occur within PROX_W words, with per-doc match counts
# and a deterministic best-doc. This is the positional-inverted-index
# workload (Lucene's SpanNear / ClickHouse's hasTokenPosition-style
# analysis), and the candidate volume is posting-list-bounded: the
# position join touches only rows of the two terms' postings, never
# the corpus.
#
# Portability: pure exact-integer counting — positions, band filter,
# counts, and the min(struct(-cnt, doc_id)) argmax are all BIGINT; no
# float surface at all. Query pairs are corpus-derived like C150's
# terms (top-2·QP_PAIRS df ranks, stopwords excluded), so a testdata
# regeneration cannot invalidate them.
#
# Scale shape: ONE positional explode (the same shuffle family as the
# C20 index build — (token, doc_id, pos), no text), two broadcast
# joins against the 2·QP_PAIRS-row pair table, a per-(qid, doc)
# position band join bounded by per-doc term frequencies, and
# model-sized rollups. Positions are assigned BEFORE the empty-token
# filter on both engines, so offsets agree on any input.
# ---------------------------------------------------------------------

QP_PAIRS = 4  # proximity query pairs (from the top 2*QP_PAIRS df ranks)
PROX_W = 3  # max |pos_a - pos_b| for a proximity match

_PROX_ORACLE = f"""
WITH tp AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS pos, l[CAST(u.i + 1 AS INTEGER)] AS token
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       unnest(range(len(l))) AS u(i)
), toks AS (
  SELECT doc_id, pos, token FROM tp WHERE token <> ''
), df AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT token, doc_id FROM toks) GROUP BY token
), top AS (
  SELECT token, rnk FROM (
    SELECT token, row_number() OVER (ORDER BY df DESC, token) AS rnk
    FROM df WHERE token NOT IN {_STOP!r}
  ) WHERE rnk <= {2 * QP_PAIRS}
), qpairs AS (
  SELECT a.qid, a.token AS term_a, b.token AS term_b
  FROM (SELECT CAST((rnk - 1) // 2 AS BIGINT) AS qid, token FROM top
        WHERE (rnk - 1) % 2 = 0) a
  JOIN (SELECT CAST((rnk - 1) // 2 AS BIGINT) AS qid, token FROM top
        WHERE (rnk - 1) % 2 = 1) b USING (qid)
), a_post AS (
  SELECT q.qid, q.term_a, q.term_b, t.doc_id, t.pos AS pa
  FROM qpairs q JOIN toks t ON t.token = q.term_a
), b_post AS (
  SELECT q.qid, t.doc_id, t.pos AS pb
  FROM qpairs q JOIN toks t ON t.token = q.term_b
), m AS (
  SELECT a.qid, a.term_a, a.term_b, a.doc_id,
         CAST(count(*) AS BIGINT) AS cnt
  FROM a_post a JOIN b_post b
    ON b.qid = a.qid AND b.doc_id = a.doc_id
   AND abs(a.pa - b.pb) <= {PROX_W}
  GROUP BY a.qid, a.term_a, a.term_b, a.doc_id
)
SELECT qid, term_a, term_b,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(cnt) AS BIGINT) AS n_pairs,
       CAST(min(struct_pack(nc := -cnt, d := doc_id)).d AS BIGINT) AS best_doc,
       CAST(-min(struct_pack(nc := -cnt, d := doc_id)).nc AS BIGINT)
         AS best_doc_matches
FROM m GROUP BY qid, term_a, term_b
"""


def positional_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, token, arr=1) positional postings — positions
    assigned BEFORE the empty-token filter (both engines agree on
    offsets for any input)."""
    return (
        docs.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
        )
        .filter(F.col("token") != "")
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            "token",
            F.lit(1).cast("long").alias("arr"),
        )
    )


def proximity_from_postings(post: DataFrame) -> DataFrame:
    """The ONE proximity core shared by batch C153 (postings from a
    corpus scan, arr = 1) and streaming C162 (postings drained from
    the incrementally maintained positional state, arr = arrival
    count): pair counts weigh arr_a * arr_b, which equals plain
    counting when the stream's dedup state holds (every arr = 1) and
    reads exactly 4x without it — so the dedup is hash-load-bearing.
    post: (doc_id, pos, token, arr)."""
    toks = post
    df = (
        toks.select("token", "doc_id")
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    from pyspark.sql import Window as W

    top = (
        df.filter(~F.col("token").isin(*_STOP))
        .orderBy(F.desc("df"), "token")
        .limit(2 * QP_PAIRS)
        .withColumn("rnk", F.row_number().over(W.orderBy(F.desc("df"), "token")))
    )
    a_terms = top.filter((F.col("rnk") - 1) % 2 == 0).selectExpr(
        "CAST((rnk - 1) div 2 AS BIGINT) AS qid", "token AS term_a"
    )
    b_terms = top.filter((F.col("rnk") - 1) % 2 == 1).selectExpr(
        "CAST((rnk - 1) div 2 AS BIGINT) AS qid", "token AS term_b"
    )
    qpairs = a_terms.join(b_terms, "qid")
    a_post = F.broadcast(qpairs).join(
        toks, toks["token"] == qpairs["term_a"]
    ).select(
        "qid", "term_a", "term_b", "doc_id",
        F.col("pos").alias("pa"), F.col("arr").alias("arr_a"),
    )
    b_post = F.broadcast(qpairs.select("qid", "term_b")).join(
        toks, toks["token"] == F.col("term_b")
    ).select(
        "qid", "doc_id", F.col("pos").alias("pb"), F.col("arr").alias("arr_b")
    )
    m = (
        a_post.join(b_post, ["qid", "doc_id"])
        .filter(F.abs(F.col("pa") - F.col("pb")) <= PROX_W)
        .groupBy("qid", "term_a", "term_b", "doc_id")
        .agg(F.sum(F.col("arr_a") * F.col("arr_b")).cast("long").alias("cnt"))
    )
    return m.groupBy("qid", "term_a", "term_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("cnt").cast("long").alias("n_pairs"),
        F.min(
            F.struct((-F.col("cnt")).alias("nc"), F.col("doc_id").alias("d"))
        ).alias("w"),
    ).selectExpr(
        "qid",
        "term_a",
        "term_b",
        "n_docs",
        "n_pairs",
        "CAST(w.d AS BIGINT) AS best_doc",
        "CAST(-w.nc AS BIGINT) AS best_doc_matches",
    )


@query("q_proximity_search", oracle=_PROX_ORACLE)
def q_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C153: proximity retrieval — for each corpus-derived query pair,
    the documents where the two terms co-occur within PROX_W words:
    matching-doc count, total in-window position pairs, and the
    deterministic best doc (max matches, tie -> lowest doc_id, via the
    one-agg min(struct(-cnt, doc_id)) argmax). Pure exact-integer
    relational plan; hash-certified end to end."""
    # pin the postings: proximity_from_postings reads them from THREE
    # plan branches (df, a_post, b_post) — the streaming twins already
    # pin their drained/latest-read postings for the same reason (r15)
    return proximity_from_postings(
        positional_postings(load(spark, sf_dir, "documents")).localCheckpoint()
    )


# ---------------------------------------------------------------------
# Streaming-maintained positional index — round 10 (C162): the -State
# certification pattern applied to the POSITIONAL index (C152 covers
# the tf index; proximity needs positions). Documents arrive over the
# duplicate-injecting corpus wire, pass stateful doc_id dedup, explode
# through the SAME positional projection, and a complete-mode
# groupBy(doc_id, token, pos) arrival count maintains the positional
# postings incrementally (state linear in corpus token count — the
# C152 class; at 100 TB the memory sink becomes an update-mode
# idempotent upsert keyed by (doc_id, token, pos)). The drained state
# enters proximity_from_postings — the identical core as batch C153 —
# and is checked against the batch proximity oracle VERBATIM. The
# dedup state is intrinsically load-bearing: without it every arrival
# count reads 2, every position-pair weight arr_a*arr_b reads 4, and
# n_pairs/best_doc_matches quadruple — a loud hash FAIL (pinned
# exactly in tests/test_retrieval.py).
# ---------------------------------------------------------------------


@query("q_stream_proximity", oracle=_PROX_ORACLE)
def q_stream_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C162: proximity search over the STREAMING-MAINTAINED positional
    index — one hash certifies incrementally-built postings == batch
    postings == independent DuckDB replay."""
    import os

    from kafka_clickhouse_implementation_spark.streaming.corpus_stream import document_wire
    from kafka_clickhouse_implementation_spark.streaming.drain import drain_table

    wire, base = document_wire(spark, sf_dir)
    # the streaming frame runs through the SAME positional_postings
    # helper as batch C153 (its arr=1 literal is re-aggregated into the
    # arrival count here) — only readStream + stateful dedup + the
    # arrival groupBy are streaming-specific, so the two positional
    # projections cannot drift
    deduped = (
        read_wire(spark, wire, 4)
        .dropDuplicates(["doc_id"])
    )
    pos_state = (
        positional_postings(deduped)
        .groupBy("doc_id", "token", "pos")
        .agg(F.sum("arr").cast("long").alias("arr"))
    )
    # UPDATE-mode FILE drain (r16): (doc_id, token, pos) keys are
    # doc-scoped behind the stateful dedup — same argument and same
    # loud-fail posture as the tf drain above.
    post = drain_table(
        spark, pos_state,
        os.path.join(base, "prox_postings_table"),
        os.path.join(base, "ckpt_prox_postings"),
    ).select("doc_id", "pos", "token", "arr").localCheckpoint()
    return proximity_from_postings(post)


@query("q_stream_proximity_upsert", oracle=_PROX_ORACLE)
def q_stream_proximity_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C170: proximity search over the UPDATE-MODE UPSERT-MAINTAINED
    positional index — the C168 recipe applied to the positional state
    (keyed (doc_id, token, pos)), closing the last 'declared upsert
    path' docstring (C162): update-mode emission of changed postings →
    versioned keyed parquet upsert → latest-per-key read → the shared
    proximity core, checked against the batch oracle VERBATIM. With
    C168 this makes the upsert path a reusable component
    (stream_index_upsert), not a one-off."""
    from kafka_clickhouse_implementation_spark.plans.upsert import read_latest

    def project(deduped: DataFrame) -> DataFrame:
        return (
            positional_postings(deduped)
            .groupBy("doc_id", "token", "pos")
            .agg(F.sum("arr").cast("long").alias("arr"))
        )

    path = stream_index_upsert(spark, sf_dir, project, "prox_pos")
    post = (
        read_latest(spark, path, ("doc_id", "token", "pos"), "version")
        .select("doc_id", "pos", "token", "arr")
        .localCheckpoint()
    )
    return proximity_from_postings(post)


# ---------------------------------------------------------------------
# Hybrid lexical+dense retrieval with reciprocal-rank fusion — round 10
# (C154): the standard two-tower retrieval composition (Cormack,
# Clarke & Buettcher, SIGIR 2009: RRF; Rocchio-style pseudo-relevance
# feedback for the dense query) over machinery this repo already
# certifies — the C150 BM25 ranker supplies the LEXICAL list and the
# feedback documents, the embeddings table supplies the DENSE list,
# and the fused ranking is the per-query RRF sum
#     rrf(d) = sum_lists floor(1e9 / (RRF_K + rank_list(d)))
# — pure BIGINT integer division, no float surface.
#
# The dense query vector is the component-wise SUM of the BM25 top-FB_K
# feedback docs' embeddings (embeddings.vec_id == documents.doc_id,
# 1:1 by id in the testdata star schema) — cosine is scale-invariant,
# so the sum IS the Rocchio centroid. Portability: embedding
# components are first quantized to exact micro-unit BIGINTs
# (floor(x*1e6 + 0.5) — the proven C110 clustering recipe), so the
# query vector, every dot product and both norms are ORDER-INDEPENDENT
# exact-integer sums (< 2^53 by range analysis: |x| <= ~0.6 -> micro
# <= 6e5; dot <= 64 * 3*6e5 * 6e5 ~ 7e13); the one float step,
#     cos_nano = floor(dot / sqrt(na * nb) * 1e9)
# is a fixed dag of correctly-rounded IEEE ops over EXACT-double
# inputs, hence bit-identical on both engines BY CONSTRUCTION (the
# dcast/pln argument — no data luck anywhere).
#
# Scale shape: the positional embedding explode is n*d rows (the C110
# shuffle family); the feedback table is QT_TOTAL/QT_PER * FB_K rows
# and the query-vector table (4 qids * 64 dims) broadcasts; dense
# scoring is one partial-aggregated groupBy per (qid, vec). At 100 TB
# the dense arm routes the same query vectors through the C112 IVF
# index (nprobe*sqrt(n) candidates) instead of the full scan — the
# fusion stage is unchanged.
# ---------------------------------------------------------------------

FB_K = 3  # pseudo-relevance feedback docs (from the BM25 ranking)
LEX_K = 10  # lexical list depth entering fusion
DENSE_K = 10  # dense list depth entering fusion
FUSE_K = 8  # fused results returned per query
RRF_K = 60  # the RRF rank constant (Cormack et al. 2009)

# one IEEE dag over exact-double inputs — interpolated into BOTH
# engines' SQL verbatim (dp/na/nb are exact BIGINTs < 2^53)
_COS_NANO_SQL = (
    "CAST(floor(CAST(dp AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * "
    "CAST(nb AS DOUBLE)) * 1.0e9) AS BIGINT)"
)
_QUANT_EMB = "CAST(floor(CAST({x} AS DOUBLE) * 1e6 + 0.5) AS BIGINT)"

# The dense-arm CTE chain (feedback docs -> quantized components ->
# query centroid -> exact-integer cosine -> ranked dense list) — shared
# VERBATIM by the C154 hybrid fusion oracle and the C158 MMR oracle.
_DENSE_CTE_BODY = f"""ranked AS (
  SELECT qid, doc_id, rnk FROM (
    SELECT qid, doc_id, row_number() OVER (
      PARTITION BY qid ORDER BY score_nano DESC, doc_id) AS rnk
    FROM perdoc
  ) WHERE rnk <= {LEX_K}
), fb AS (
  SELECT qid, doc_id FROM ranked WHERE rnk <= {FB_K}
), eq AS (
  SELECT vec_id, CAST(u.i AS BIGINT) AS pos,
         {_QUANT_EMB.format(x='l[CAST(u.i + 1 AS INTEGER)]')} AS x
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS l FROM embeddings),
       unnest(range(len(l))) AS u(i)
), qv AS (
  SELECT f.qid, e.pos, CAST(sum(e.x) AS BIGINT) AS qx
  FROM fb f JOIN eq e ON e.vec_id = f.doc_id
  GROUP BY f.qid, e.pos
), dsc AS (
  SELECT q.qid, e.vec_id AS doc_id,
         CAST(sum(q.qx * e.x) AS BIGINT) AS dp,
         CAST(sum(q.qx * q.qx) AS BIGINT) AS na,
         CAST(sum(e.x * e.x) AS BIGINT) AS nb
  FROM qv q JOIN eq e ON e.pos = q.pos
  GROUP BY q.qid, e.vec_id
), dnano AS (
  SELECT qid, doc_id, {_COS_NANO_SQL} AS cos_nano
  FROM dsc WHERE na > 0 AND nb > 0
), dense_ranked AS (
  SELECT qid, doc_id, cos_nano, rnk AS dense_rnk FROM (
    SELECT qid, doc_id, cos_nano, row_number() OVER (
      PARTITION BY qid ORDER BY cos_nano DESC, doc_id) AS rnk
    FROM dnano
  ) WHERE rnk <= {DENSE_K}
)"""

_HYBRID_ORACLE = f"""
WITH {_BM25_CTE_BODY}, {_DENSE_CTE_BODY}, dense AS (
  SELECT qid, doc_id, dense_rnk FROM dense_ranked
), lex AS (
  SELECT qid, doc_id, rnk AS lex_rnk FROM ranked
), fused AS (
  SELECT qid, doc_id,
         CAST(coalesce({10**9} // ({RRF_K} + lex_rnk), 0)
            + coalesce({10**9} // ({RRF_K} + dense_rnk), 0) AS BIGINT)
           AS rrf_nano,
         CAST(coalesce(lex_rnk, 0) AS BIGINT) AS lex_rnk,
         CAST(coalesce(dense_rnk, 0) AS BIGINT) AS dense_rnk
  FROM lex FULL JOIN dense USING (qid, doc_id)
)
SELECT qid, doc_id, CAST(rn AS BIGINT) AS fused_rnk,
       rrf_nano, lex_rnk, dense_rnk
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY qid ORDER BY rrf_nano DESC, doc_id) AS rn
  FROM fused
) WHERE rn <= {FUSE_K}
"""


def quantized_components(emb: DataFrame) -> DataFrame:
    """(vec_id, pos, x) — embedding components quantized to exact
    micro-unit BIGINTs (the C110 recipe); the portable positional form
    every exact-integer vector op in this module consumes."""
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "xf")
    ).selectExpr(
        "vec_id",
        "CAST(pos AS BIGINT) AS pos",
        _QUANT_EMB.format(x="xf") + " AS x",
    )


def rrf_fuse(lex: DataFrame, dense: DataFrame, fuse_k: int = FUSE_K) -> DataFrame:
    """Reciprocal-rank fusion of two (qid, doc_id, *_rnk) lists —
    integer-exact: contribution = 1e9 div (RRF_K + rank), absent list
    membership contributes 0 (and surfaces as rank 0 in the output)."""
    from pyspark.sql import Window as W

    fused = lex.join(dense, ["qid", "doc_id"], "full").selectExpr(
        "qid",
        "doc_id",
        f"CAST(coalesce({10**9} div ({RRF_K} + lex_rnk), 0)"
        f" + coalesce({10**9} div ({RRF_K} + dense_rnk), 0) AS BIGINT)"
        " AS rrf_nano",
        "CAST(coalesce(lex_rnk, 0) AS BIGINT) AS lex_rnk",
        "CAST(coalesce(dense_rnk, 0) AS BIGINT) AS dense_rnk",
    )
    w = W.partitionBy("qid").orderBy(F.desc("rrf_nano"), "doc_id")
    return (
        fused.withColumn("fused_rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("fused_rnk") <= fuse_k)
        .select("qid", "doc_id", "fused_rnk", "rrf_nano", "lex_rnk", "dense_rnk")
    )


def _bm25_ranked(docs: DataFrame) -> DataFrame:
    """(qid, doc_id, rnk) — one BM25 pass to depth LEX_K: rnk<=FB_K
    seeds the dense query, the full list enters fusion (tiny frame ->
    pin it once)."""
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    # pin tf: bm25_from_tf consumes it from FOUR plan branches (dl,
    # sum_dl, df and the scoring join), so an unpinned tf re-runs the
    # corpus explode+groupBy four times per query (r15 measurement:
    # ~0.5 s/pass saved warm at sf0.1) — the same rationale as the
    # streaming twins' drained-state checkpoint
    tf = (
        toks.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .localCheckpoint()
    )
    n_docs_df = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        bm25_from_tf(tf, n_docs_df, top_k=LEX_K)
        .select("qid", "doc_id", "rnk")
        .localCheckpoint()
    )


def dense_cos_all(ranked: DataFrame, eq: DataFrame) -> DataFrame:
    """(qid, doc_id, cos_nano) — the feedback-centroid cosine for EVERY
    embedded doc (see the section comment for the exactness argument).
    ranked: a (qid, doc_id, rnk) BM25 frame; eq: quantized
    components."""
    fb = ranked.filter(F.col("rnk") <= FB_K).select("qid", "doc_id")
    qv = (
        fb.join(eq, fb["doc_id"] == eq["vec_id"])
        .groupBy("qid", "pos")
        .agg(F.sum("x").cast("long").alias("qx"))
    )
    dsc = (
        F.broadcast(qv)
        .join(eq, "pos")
        .groupBy("qid", "vec_id")
        .agg(
            F.sum(F.col("qx") * F.col("x")).cast("long").alias("dp"),
            F.sum(F.col("qx") * F.col("qx")).cast("long").alias("na"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("nb"),
        )
    )
    return (
        dsc.filter((F.col("na") > 0) & (F.col("nb") > 0))
        .selectExpr("qid", "vec_id AS doc_id", f"{_COS_NANO_SQL} AS cos_nano")
    )


def dense_ranked(ranked: DataFrame, eq: DataFrame) -> DataFrame:
    """(qid, doc_id, cos_nano, dense_rnk) — the dense list cut to depth
    DENSE_K."""
    from pyspark.sql import Window as W

    return (
        dense_cos_all(ranked, eq)
        .withColumn(
            "dense_rnk",
            F.row_number().over(
                W.partitionBy("qid").orderBy(F.desc("cos_nano"), "doc_id")
            ),
        )
        .filter(F.col("dense_rnk") <= DENSE_K)
        .select("qid", "doc_id", "cos_nano", "dense_rnk")
    )


def hybrid_rank(docs: DataFrame, emb: DataFrame, fuse_k: int = FUSE_K) -> DataFrame:
    """C154 core: BM25 lexical list + feedback-centroid dense list,
    RRF-fused. See the section comment for the portability argument."""
    ranked = _bm25_ranked(docs)
    dense = dense_ranked(ranked, quantized_components(emb)).select(
        "qid", "doc_id", "dense_rnk"
    )
    lex = ranked.select("qid", "doc_id", F.col("rnk").alias("lex_rnk"))
    return rrf_fuse(lex, dense, fuse_k)


@query("q_hybrid_rank", oracle=_HYBRID_ORACLE)
def q_hybrid_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C154: hybrid retrieval — BM25 lexical ranking fused with a
    pseudo-relevance-feedback dense cosine ranking via reciprocal-rank
    fusion. The hash certifies the shared BM25 chain, the feedback-doc
    cut, the exact-integer quantized dense scoring (including the
    constructed-exact cos_nano dag), both list cuts, and the integer
    RRF arithmetic with its (rrf DESC, doc_id) tie-break."""
    return hybrid_rank(
        load(spark, sf_dir, "documents"), load(spark, sf_dir, "embeddings")
    )


# ---------------------------------------------------------------------
# MMR diversification of the dense retrieval list — round 10 (C158):
# Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR 1998) — the
# standard redundancy-removal step after retrieval, and the greedy
# operator a plain SQL ranking cannot express (each pick depends on
# all previous picks). Over the C154 dense candidate list:
#
#   pick_1 = argmax rel(d)
#   pick_k = argmax [ LAM*rel(d) - (1-LAM)*max_{s in picked} sim(d, s) ]
#
# with LAM = 0.7 scaled to integers (score = 7*rel - 3*maxsim), rel =
# the feedback-centroid cos_nano and sim = candidate-pairwise cos_nano
# — ALL exact BIGINTs (the C154 quantized dag), so every greedy argmax
# is an exact integer comparison with the (score DESC, doc_id)
# tie-break. MMR_K fixed picks; the Spark side unrolls the greedy loop
# as MMR_K-1 dataframe rounds (the Lloyd-iteration precedent), the
# oracle unrolls the SAME rounds as generated CTE blocks (the BPE
# oracle recipe) — no recursion, no lambdas.
#
# Scale shape: candidates are DENSE_K per query, so the pairwise sim
# matrix is queries * DENSE_K^2 rows built from ONE positional
# self-join of candidate components — MMR cost is always
# candidate-bounded, never corpus-bounded.
# ---------------------------------------------------------------------

MMR_K = 4  # diversified picks per query
MMR_W_REL = 7  # LAM = 0.7 scaled by 10
MMR_W_DIV = 3  # 1 - LAM scaled by 10


def _mmr_round_cte(k: int) -> str:
    """Oracle CTE block for greedy round k (k >= 2)."""
    return f""", pick{k} AS (
  SELECT qid, CAST({k} AS BIGINT) AS step, doc_id, rel_nano, maxsim_nano,
         mmr_nano
  FROM (
    SELECT c.qid, c.doc_id, c.cos_nano AS rel_nano, m.maxsim_nano,
           CAST({MMR_W_REL} * c.cos_nano
              - {MMR_W_DIV} * m.maxsim_nano AS BIGINT) AS mmr_nano,
           row_number() OVER (PARTITION BY c.qid
             ORDER BY ({MMR_W_REL} * c.cos_nano
                     - {MMR_W_DIV} * m.maxsim_nano) DESC, c.doc_id) AS rn
    FROM cand c
    JOIN (SELECT p.qid, p.a, CAST(max(p.sim_nano) AS BIGINT) AS maxsim_nano
          FROM psim p JOIN all{k - 1} s
            ON s.qid = p.qid AND s.doc_id = p.b
          GROUP BY p.qid, p.a) m
      ON m.qid = c.qid AND m.a = c.doc_id
    WHERE NOT EXISTS (SELECT 1 FROM all{k - 1} s2
                      WHERE s2.qid = c.qid AND s2.doc_id = c.doc_id)
  ) WHERE rn = 1
), all{k} AS (SELECT * FROM all{k - 1} UNION ALL SELECT * FROM pick{k})"""


_MMR_ORACLE = (
    f"""
WITH {_BM25_CTE_BODY}, {_DENSE_CTE_BODY}, cand AS (
  SELECT qid, doc_id, cos_nano, dense_rnk FROM dense_ranked
), ce AS (
  SELECT c.qid, c.doc_id, e.pos, e.x
  FROM cand c JOIN eq e ON e.vec_id = c.doc_id
), psim0 AS (
  SELECT a.qid, a.doc_id AS a, b.doc_id AS b,
         CAST(sum(a.x * b.x) AS BIGINT) AS dp,
         CAST(sum(a.x * a.x) AS BIGINT) AS na,
         CAST(sum(b.x * b.x) AS BIGINT) AS nb
  FROM ce a JOIN ce b
    ON b.qid = a.qid AND b.pos = a.pos AND b.doc_id <> a.doc_id
  GROUP BY a.qid, a.doc_id, b.doc_id
), psim AS (
  SELECT qid, a, b, {_COS_NANO_SQL} AS sim_nano
  FROM psim0 WHERE na > 0 AND nb > 0
), sel1 AS (
  SELECT qid, CAST(1 AS BIGINT) AS step, doc_id,
         cos_nano AS rel_nano, CAST(0 AS BIGINT) AS maxsim_nano,
         CAST({MMR_W_REL} * cos_nano AS BIGINT) AS mmr_nano
  FROM cand WHERE dense_rnk = 1
), all1 AS (SELECT * FROM sel1)"""
    + "".join(_mmr_round_cte(k) for k in range(2, MMR_K + 1))
    + f"""
SELECT qid, step, doc_id, rel_nano, maxsim_nano, mmr_nano FROM all{MMR_K}
"""
)


def candidate_pair_sims(cand: DataFrame, eq: DataFrame) -> DataFrame:
    """(qid, a, b, sim_nano) exact pairwise cosines between dense
    candidates of the same query — one positional self-join of
    candidate components, candidate-bounded."""
    ce = (
        F.broadcast(cand.select("qid", "doc_id"))
        .join(eq, cand["doc_id"] == eq["vec_id"])
        .select("qid", "doc_id", "pos", "x")
    )
    a = ce.select(
        "qid", F.col("doc_id").alias("a"), "pos", F.col("x").alias("xa")
    )
    b = ce.select(
        "qid", F.col("doc_id").alias("b"), "pos", F.col("x").alias("xb")
    )
    psim0 = (
        a.join(b, ["qid", "pos"])
        .filter(F.col("a") != F.col("b"))
        .groupBy("qid", "a", "b")
        .agg(
            F.sum(F.col("xa") * F.col("xb")).cast("long").alias("dp"),
            F.sum(F.col("xa") * F.col("xa")).cast("long").alias("na"),
            F.sum(F.col("xb") * F.col("xb")).cast("long").alias("nb"),
        )
    )
    return psim0.filter((F.col("na") > 0) & (F.col("nb") > 0)).selectExpr(
        "qid", "a", "b", f"{_COS_NANO_SQL} AS sim_nano"
    )


def mmr_diversify(cand: DataFrame, psim: DataFrame, k: int = MMR_K) -> DataFrame:
    """Greedy MMR over a (qid, doc_id, cos_nano, dense_rnk) candidate
    list with (qid, a, b, sim_nano) pairwise sims — k greedy rounds of
    exact-integer argmax (max mmr_nano, tie → min doc_id), run on the
    DRIVER over the collected candidate lists.

    The inputs are MODEL-SIZED BY CONFIG, not corpus-sized: cand is at
    most n_queries × DENSE_K rows and psim its pairwise square — the
    same boundedness that lets the Lloyd loops collect their
    centroids. The previous k-round unrolled DataFrame plan evaluated
    each pick's subtree inside every later round's join (O(k²) tiny
    shuffle stages for one action, ~1.5-2 s of pure stage overhead at
    sf0.1 — r15 measurement); the greedy itself is inherently
    sequential, so the driver loop IS the minimal plan. Semantics are
    replicated exactly: step 1 takes dense_rnk == 1; a later step
    scores only not-yet-selected candidates having at least one
    pairwise-sim row against the selected set (the old inner join),
    with maxsim = max over those rows and mmr = W_REL*rel − W_DIV*
    maxsim in exact Python ints."""
    spark = cand.sparkSession
    # Collect gate (the shared driver gate, gate.py): the boundedness
    # is a CONFIG property (n_queries × DENSE_K rows, ~40 at every SF;
    # psim ≤ its pairwise square); a future corpus-scaled caller must
    # fail loudly here, not OOM the driver. The candidate chain is
    # pinned executor-side FIRST (disk-backed, never driver memory),
    # so the gated fetch reads one materialization (r16, guide §1.2).
    cand = cand.select("qid", "doc_id", "cos_nano", "dense_rnk").localCheckpoint()
    crows = gate.driver_rows(cand)
    if crows is None:
        raise ValueError(
            "mmr_diversify: the candidate rows exceed the driver gate "
            f"({gate.DRIVER_MAX_ROWS}); the greedy expects a "
            "config-bounded candidate list (n_queries x DENSE_K)"
        )
    prows = psim.select("qid", "a", "b", "sim_nano").collect()

    by_q: dict[int, dict[int, int]] = {}
    first: dict[int, int] = {}
    for r in crows:
        by_q.setdefault(r.qid, {})[r.doc_id] = r.cos_nano
        if r.dense_rnk == 1:
            first[r.qid] = r.doc_id
    sims: dict[tuple[int, int, int], int] = {
        (r.qid, r.a, r.b): r.sim_nano for r in prows
    }

    out: list[tuple[int, int, int, int, int, int]] = []
    for qid in sorted(by_q):
        if qid not in first:
            continue
        d0 = first[qid]
        rel0 = by_q[qid][d0]
        selected = [d0]
        out.append((qid, 1, d0, rel0, 0, MMR_W_REL * rel0))
        for step in range(2, k + 1):
            best = None
            for d, rel in by_q[qid].items():
                if d in selected:
                    continue
                pair_sims = [
                    sims[(qid, d, b)]
                    for b in selected
                    if (qid, d, b) in sims
                ]
                if not pair_sims:
                    continue
                ms = max(pair_sims)
                mmr = MMR_W_REL * rel - MMR_W_DIV * ms
                key = (-mmr, d)
                if best is None or key < best[0]:
                    best = (key, d, rel, ms, mmr)
            if best is None:
                continue
            _key, d, rel, ms, mmr = best
            selected.append(d)
            out.append((qid, step, d, rel, ms, mmr))
    return spark.createDataFrame(
        out,
        schema="qid long, step long, doc_id long, rel_nano long,"
        " maxsim_nano long, mmr_nano long",
    )


@query("q_mmr_diversify", oracle=_MMR_ORACLE)
def q_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C158: MMR-diversified dense retrieval — MMR_K greedy picks per
    query from the C154 dense candidate list (7*rel - 3*maxsim, exact
    integers end to end). The hash certifies the shared BM25+dense
    chain, the candidate pairwise-cosine matrix, and every greedy
    argmax with its tie-break."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    # pin eq: dense_ranked reads it twice (feedback centroid + scoring)
    # and candidate_pair_sims twice more (both sides of the positional
    # self-join) — four evaluations of the embedding explode otherwise
    eq = quantized_components(emb).localCheckpoint()
    cand = dense_ranked(_bm25_ranked(docs), eq).localCheckpoint()
    psim = candidate_pair_sims(cand, eq).localCheckpoint()
    return mmr_diversify(cand, psim)


# ---------------------------------------------------------------------
# Hard-negative mining for retriever training — round 10 (C161): the
# DPR training-data recipe (Karpukhin et al., EMNLP 2020): for each
# query, a POSITIVE (the top dense match) plus HARD NEGATIVES — docs
# the LEXICAL ranker retrieves highly but the dense model scores LOW
# (lexically confusable, semantically far: exactly the pairs that
# teach an embedding model the most). This is the training-pair
# emitter a corpus pipeline runs after C150/C154 to bootstrap a better
# dense tower from its own retrieval logs.
#
# Selection is fully deterministic and exact-integer: candidates = the
# BM25 top-LEX_K list (minus the positive) joined to the
# feedback-centroid cos_nano (the C154 dag); hard negatives = the
# HN_K LOWEST cos_nano, tie -> doc_id. Scale: candidate-bounded
# (queries x LEX_K rows), windows partitioned by qid.
# ---------------------------------------------------------------------

HN_K = 3  # hard negatives per query

_HARDNEG_ORACLE = f"""
WITH {_BM25_CTE_BODY}, {_DENSE_CTE_BODY}, pos AS (
  SELECT qid, doc_id AS pos_doc FROM dense_ranked WHERE dense_rnk = 1
), negcand AS (
  SELECT r.qid, p.pos_doc, r.doc_id, r.rnk AS neg_lex_rnk, d.cos_nano
  FROM ranked r
  JOIN pos p ON p.qid = r.qid AND r.doc_id <> p.pos_doc
  JOIN dnano d ON d.qid = r.qid AND d.doc_id = r.doc_id
)
SELECT qid, pos_doc, CAST(rn AS BIGINT) AS neg_rnk, doc_id AS neg_doc,
       cos_nano AS neg_cos_nano, neg_lex_rnk
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY qid ORDER BY cos_nano ASC, doc_id) AS rn
  FROM negcand
) WHERE rn <= {HN_K}
"""


@query("q_hard_negatives", oracle=_HARDNEG_ORACLE)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C161: (query, positive, hard-negative) training pairs — positive
    = dense top-1, negatives = the HN_K lexically-retrieved docs with
    the LOWEST dense cosine. The hash certifies the shared BM25+dense
    chains, the positive pick, and the negative ordering cut."""
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    # pin eq: dense_cos_all + dense_ranked read it four times (r15)
    eq = quantized_components(
        load(spark, sf_dir, "embeddings")
    ).localCheckpoint()
    ranked = _bm25_ranked(docs)
    dcos = dense_cos_all(ranked, eq).localCheckpoint()
    pos = (
        dense_ranked(ranked, eq)
        .filter(F.col("dense_rnk") == 1)
        .select("qid", F.col("doc_id").alias("pos_doc"))
    )
    negcand = (
        ranked.join(F.broadcast(pos), "qid")
        .filter(F.col("doc_id") != F.col("pos_doc"))
        .select("qid", "pos_doc", "doc_id", F.col("rnk").alias("neg_lex_rnk"))
        .join(dcos, ["qid", "doc_id"])
    )
    w = W.partitionBy("qid").orderBy(F.asc("cos_nano"), "doc_id")
    return (
        negcand.withColumn("neg_rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("neg_rnk") <= HN_K)
        .select(
            "qid", "pos_doc", "neg_rnk",
            F.col("doc_id").alias("neg_doc"),
            F.col("cos_nano").alias("neg_cos_nano"),
            "neg_lex_rnk",
        )
    )


# ---------------------------------------------------------------------
# Retrieval-quality evaluation — round 11 (C171): nDCG@N_EVAL of the
# LEXICAL (BM25) list vs the HYBRID (RRF-fused) list, per query — the
# standard IR evaluation (Järvelin & Kekäläinen 2002) closing the
# retrieval tier's loop: C150/C154 produce rankings, this operator
# MEASURES them, against graded relevance DERIVED from the certified
# dense arm (no human labels exist in synthetic data; the dense cosine
# ranking is the natural silver standard and is itself hash-certified
# in C154): grade 3 for dense ranks 1-2, 2 for 3-4, 1 for 5-8, 0
# otherwise.
#
# Portability: position discounts 1/log2(i+1) are baked as MICRO-unit
# integer literals computed ONCE in Python and interpolated into BOTH
# engines' SQL (the dlit/LN_COEFFS precedent — no cross-engine libm
# call); DCG/IDCG are then exact BIGINT sums (<= 3 * N_EVAL * 1e6),
# and ndcg_nano = dcg * 1e9 div idcg is exact integer division
# (numerator <= 1.5e16, far inside int64). IDCG comes from each
# query's own grade pool (top-N_EVAL grades, (grade DESC, doc_id)
# order) — not a global constant — so degenerate pools degrade
# honestly.
#
# Scale shape: everything up to the eval lists is the certified C154
# plan; the eval itself joins two <=N_EVAL-per-query lists against an
# 8-per-query grade table and finishes with per-qid rollups. Windows
# partition on qid.
# ---------------------------------------------------------------------

N_EVAL = 5  # nDCG cutoff

import math as _math  # noqa: E402

# micro-quantized 1/log2(pos+1) for pos = 1..N_EVAL — ONE Python
# computation interpolated into both engines (never a runtime log)
_DISC_MICRO = {
    i: int(_math.floor(1e6 / _math.log2(i + 1))) for i in range(1, N_EVAL + 1)
}
_DISC_CASE = (
    "CASE pos "
    + " ".join(f"WHEN {i} THEN {d}" for i, d in _DISC_MICRO.items())
    + " ELSE 0 END"
)
_GRADE_SQL = (
    "CASE WHEN dense_rnk <= 2 THEN 3 WHEN dense_rnk <= 4 THEN 2"
    " WHEN dense_rnk <= 8 THEN 1 ELSE 0 END"
)

_NDCG_ORACLE = f"""
WITH {_BM25_CTE_BODY}, {_DENSE_CTE_BODY}, dense AS (
  SELECT qid, doc_id, dense_rnk FROM dense_ranked
), lex AS (
  SELECT qid, doc_id, rnk AS lex_rnk FROM ranked
), fused AS (
  SELECT qid, doc_id,
         CAST(coalesce({10**9} // ({RRF_K} + lex_rnk), 0)
            + coalesce({10**9} // ({RRF_K} + dense_rnk), 0) AS BIGINT)
           AS rrf_nano
  FROM lex FULL JOIN dense USING (qid, doc_id)
), hyb5 AS (
  SELECT qid, doc_id, CAST(rn AS BIGINT) AS pos FROM (
    SELECT *, row_number() OVER (
      PARTITION BY qid ORDER BY rrf_nano DESC, doc_id) AS rn
    FROM fused
  ) WHERE rn <= {N_EVAL}
), lex5 AS (
  SELECT qid, doc_id, CAST(lex_rnk AS BIGINT) AS pos
  FROM lex WHERE lex_rnk <= {N_EVAL}
), grades AS (
  SELECT qid, doc_id, CAST({_GRADE_SQL} AS BIGINT) AS grade FROM dense
), dcg AS (
  SELECT 'lex' AS arm, l.qid,
         CAST(sum(coalesce(g.grade, 0) * ({_DISC_CASE})) AS BIGINT) AS dcg_micro
  FROM lex5 l LEFT JOIN grades g USING (qid, doc_id)
  GROUP BY l.qid
  UNION ALL
  SELECT 'hyb' AS arm, h.qid,
         CAST(sum(coalesce(g.grade, 0) * ({_DISC_CASE})) AS BIGINT) AS dcg_micro
  FROM hyb5 h LEFT JOIN grades g USING (qid, doc_id)
  GROUP BY h.qid
), ideal AS (
  SELECT qid, CAST(sum(grade * ({_DISC_CASE})) AS BIGINT) AS idcg_micro
  FROM (
    SELECT qid, grade, CAST(row_number() OVER (
             PARTITION BY qid ORDER BY grade DESC, doc_id) AS BIGINT) AS pos
    FROM grades
  ) WHERE pos <= {N_EVAL}
  GROUP BY qid
)
SELECT d.qid,
       CAST(max(CASE WHEN arm = 'lex' THEN dcg_micro END) AS BIGINT)
         AS dcg_lex_micro,
       CAST(max(CASE WHEN arm = 'hyb' THEN dcg_micro END) AS BIGINT)
         AS dcg_hyb_micro,
       CAST(max(i.idcg_micro) AS BIGINT) AS idcg_micro,
       CAST(max(CASE WHEN arm = 'lex' THEN dcg_micro END)
            * {10**9} // max(i.idcg_micro) AS BIGINT) AS ndcg_lex_nano,
       CAST(max(CASE WHEN arm = 'hyb' THEN dcg_micro END)
            * {10**9} // max(i.idcg_micro) AS BIGINT) AS ndcg_hyb_nano
FROM dcg d JOIN ideal i USING (qid)
GROUP BY d.qid
"""


def _dcg(eval_list: DataFrame, grades: DataFrame) -> DataFrame:
    """(qid, dcg_micro) of a (qid, doc_id, pos<=N_EVAL) list under the
    micro-quantized discounts."""
    return (
        eval_list.join(grades, ["qid", "doc_id"], "left")
        .selectExpr(
            "qid",
            f"coalesce(grade, 0) * ({_DISC_CASE}) AS c",
        )
        .groupBy("qid")
        .agg(F.sum("c").cast("long").alias("dcg_micro"))
    )


@query("q_retrieval_ndcg", oracle=_NDCG_ORACLE)
def q_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C171: per-query nDCG@N_EVAL of the BM25 list and the hybrid
    RRF list against dense-derived graded relevance. One hash
    certifies the whole C154 machinery plus the grading, both DCGs,
    the per-query ideal, and the exact-integer normalization."""
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    ranked = _bm25_ranked(docs)
    dense = dense_ranked(ranked, quantized_components(emb)).select(
        "qid", "doc_id", "dense_rnk"
    ).localCheckpoint()  # feeds grades + fusion + ideal
    lex = ranked.select("qid", "doc_id", F.col("rnk").alias("lex_rnk"))
    hyb5 = (
        rrf_fuse(lex, dense, fuse_k=N_EVAL)
        .select("qid", "doc_id", F.col("fused_rnk").alias("pos"))
    )
    lex5 = lex.filter(F.col("lex_rnk") <= N_EVAL).select(
        "qid", "doc_id", F.col("lex_rnk").cast("long").alias("pos")
    )
    grades = dense.selectExpr(
        "qid", "doc_id", f"CAST({_GRADE_SQL} AS BIGINT) AS grade"
    )
    ideal = (
        grades.withColumn(
            "pos",
            F.row_number()
            .over(W.partitionBy("qid").orderBy(F.desc("grade"), "doc_id"))
            .cast("long"),
        )
        .filter(F.col("pos") <= N_EVAL)
        .selectExpr("qid", f"grade * ({_DISC_CASE}) AS c")
        .groupBy("qid")
        .agg(F.sum("c").cast("long").alias("idcg_micro"))
    )
    dl = _dcg(lex5, grades).withColumnRenamed("dcg_micro", "dcg_lex_micro")
    dh = _dcg(hyb5, grades).withColumnRenamed("dcg_micro", "dcg_hyb_micro")
    return (
        dl.join(dh, "qid")
        .join(ideal, "qid")
        .selectExpr(
            "qid",
            "dcg_lex_micro",
            "dcg_hyb_micro",
            "idcg_micro",
            f"CAST(dcg_lex_micro * {10**9} div idcg_micro AS BIGINT)"
            " AS ndcg_lex_nano",
            f"CAST(dcg_hyb_micro * {10**9} div idcg_micro AS BIGINT)"
            " AS ndcg_hyb_nano",
        )
    )
