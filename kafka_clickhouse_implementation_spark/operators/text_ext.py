"""Tier C extension — corpus-engineering operators a training-data
pipeline needs beyond operators/text.py: deterministic stratified
sampling, n-gram statistics, inverted-index construction, Zipf
frequency analysis, and PII redaction accounting.

Everything is built-in Spark expressions (higher-order functions,
windows, regexes) with exact DuckDB oracles — zero Python in the hot
path, so whole-stage codegen covers every operator here.

Scale notes (100 TB):
- Sampling is a pure narrow map (hash of the key column) — no shuffle,
  no RNG state, reproducible across retries/partitionings, and the
  sampled fraction is exact-in-expectation per stratum without a
  per-stratum pass.
- Bigram/Zipf counts shuffle only (ngram, partial_count) pairs after
  map-side combine — traffic is O(vocab), not O(corpus).
- The inverted index is the one genuinely output-heavy op (postings ~
  corpus size); it shuffles (token, doc_id) pairs once and builds each
  posting list inside a single hash aggregation. At 100 TB you'd write
  it bucketed by token; the per-token state here is already the
  posting-list shape that layout needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.io import load
from kafka_clickhouse_implementation_spark.registry import query

# Knuth's multiplicative hash constant. The id is reduced mod a prime
# FIRST so the product stays < 2^63 for any int64 doc_id — Spark would
# silently wrap on overflow (negative remainder -> row never sampled)
# while DuckDB raises, so the guard is a correctness requirement, not
# style.
_MIX = 2654435761
_MOD_PRIME = 1_000_003
_SAMPLE_PERMILLE = 200  # keep ~20% of each stratum


@query(
    "q_stratified_sample",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN ((doc_id % {_MOD_PRIME}) * {_MIX}) % 1000 < {_SAMPLE_PERMILLE}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
    FROM documents GROUP BY lang
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% per-language sample via a multiplicative hash
    of doc_id — reproducible under retries and repartitioning, unlike
    ``df.sample`` (seeded per-partition, so partition layout changes
    the sample). The filter is a narrow map; only the audit counts
    aggregate."""
    docs = load(spark, sf_dir, "documents")
    keep = ((F.col("doc_id") % _MOD_PRIME) * F.lit(_MIX)) % 1000 < _SAMPLE_PERMILLE
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("n_sampled"),
    )


@query(
    "q_bigram_counts",
    oracle="""
    WITH toks AS (
      SELECT string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM toks
    )
    SELECT bigram, CAST(count(*) AS BIGINT) AS n
    FROM grams GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
    """,
)
def q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word bigrams across the corpus. Bigrams are generated
    JVM-side with transform-over-sequence (no UDF, no self-join);
    counting gets map-side partial aggregation, and the top-20 is
    TakeOrdered — no global sort."""
    docs = load(spark, sf_dir, "documents")
    grams = (
        docs.select(F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 2)  # guard: sequence(0, -1) on 1-token docs
        # would descend and emit phantom bigrams the oracle's range() never does
        .select(
            F.explode(
                F.expr("transform(sequence(0, size(t) - 2), i -> concat_ws(' ', t[i], t[i + 1]))")
            ).alias("bigram")
        )
    )
    return (
        grams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


def inverted_index(docs: DataFrame) -> DataFrame:
    """Array-native inverted index: token -> sorted posting list +
    document frequency (the retrieval index build). One shuffle of
    distinct (token, doc_id) pairs; each posting list is assembled
    inside a single hash aggregation (sort_array(collect_set) —
    order-insensitive buffer, deterministic output)."""
    posting = docs.select(
        F.explode(F.split("text", " ")).alias("token"), "doc_id"
    ).distinct()
    return posting.groupBy("token").agg(
        F.count("*").alias("doc_freq"),
        F.sort_array(F.collect_set("doc_id")).alias("postings"),
    )


@query(
    "q_inverted_index",
    oracle="""
    WITH posting AS (
      SELECT DISTINCT t.token, d.doc_id
      FROM documents d, unnest(string_split(d.text, ' ')) AS t(token)
      WHERE d.doc_id < 200
    )
    SELECT token,
           CAST(count(*) AS BIGINT) AS doc_freq,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM posting GROUP BY token
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-boundary view of :func:`inverted_index`: the posting list
    is serialized to a comma-joined string because the correctness
    harness's pandas canonicalizer cannot hash Python lists (the r3 row
    ERRed on the ArrayType cell). Bounded to doc_id < 200 to keep
    oracle outputs reviewable; the plan shape is corpus-size
    independent."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return inverted_index(docs).select(
        "token",
        "doc_freq",
        F.concat_ws(",", F.col("postings").cast("array<string>")).alias("postings"),
    )


@query(
    "q_zipf_rank",
    oracle="""
    WITH counts AS (
      SELECT t.token, CAST(count(*) AS BIGINT) AS n
      FROM documents d, unnest(string_split(d.text, ' ')) AS t(token)
      GROUP BY t.token
    ), ranked AS (
      SELECT token, n,
             CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rnk,
             CAST(sum(n) OVER (ORDER BY n DESC, token
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(sum(n) OVER () AS BIGINT) AS total
      FROM counts
    )
    SELECT token, n, rnk,
           CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
    FROM ranked
    """,
)
def q_zipf_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency table with Zipf rank and cumulative coverage
    share — the 'how much of the corpus do the top-k tokens cover'
    curve used to pick tokenizer vocabularies. Integer counts and one
    final IEEE division keep both engines bit-identical.

    Rank and running sum are DISTRIBUTED (plans/prefix.ranged_prefix):
    range-partitioned sort on (n DESC, token) + per-partition offsets —
    no unpartitioned WindowExec, so a 100 TB sub-word vocabulary (easily
    10^8+ keys) never funnels through one task. ``total`` is a scalar
    aggregate broadcast, not a whole-relation window."""
    from kafka_clickhouse_implementation_spark.plans.prefix import ranged_prefix

    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    ranked = ranged_prefix(
        counts,
        [F.col("n").desc(), F.col("token")],
        sum_cols={"cum": "n"},
        rn_col="rnk",
    )
    # total from the checkpointed prefix output — aggregating `counts`
    # directly would re-tokenize the whole corpus a second time
    total = ranked.agg(F.sum("n").alias("total"))
    return ranked.crossJoin(F.broadcast(total)).select(
        "token",
        "n",
        "rnk",
        (F.col("cum").cast("double") / F.col("total").cast("double")).alias("cum_share"),
    )


@query(
    "q_pii_mask",
    oracle="""
    SELECT event_type,
           CAST(sum(length(props)
                    - length(regexp_replace(props, '[0-9]', '', 'g'))) AS BIGINT)
             AS digits_redacted,
           CAST(count(DISTINCT regexp_replace(props, '[0-9]+', '#', 'g')) AS BIGINT)
             AS distinct_masked_forms
    FROM events GROUP BY event_type
    """,
)
def q_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction accounting for a PII-scrub pass: per event type, how
    many digit characters a ``[0-9]+ -> #`` mask removes from the JSON
    props, and how many distinct masked shapes remain. Pure narrow
    regex maps feeding one aggregation — the scrub itself would be the
    same regexp_replace projected into the rewrite path."""
    ev = load(spark, sf_dir, "events")
    digits = F.length("props") - F.length(F.regexp_replace("props", "[0-9]", ""))
    masked = F.regexp_replace("props", "[0-9]+", "#")
    return ev.groupBy("event_type").agg(
        F.sum(digits).alias("digits_redacted"),
        F.count_distinct(masked).alias("distinct_masked_forms"),
    )


@query(
    "q_edit_distance",
    oracle="""
    WITH heads AS (
      SELECT doc_id, substr(text, 1, 40) AS head FROM documents WHERE doc_id < 15
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
    FROM heads a JOIN heads b ON a.doc_id < b.doc_id
    """,
)
def q_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy matching by Levenshtein distance (exact integers — no
    float portability questions) over 40-char document heads. The demo is an O(n^2) block on 15 docs; the
    scale path is the same predicate applied to LSH/blocking candidates
    (dedup.py), never the full corpus."""
    heads = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 15)
        .select("doc_id", F.substring("text", 1, 40).alias("head"))
    )
    a = heads.alias("a")
    b = heads.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein(F.col("a.head"), F.col("b.head")).cast("long").alias("edit_dist"),
        )
    )


_MG_K = 64
_MG_BUCKETS = 32


def _mg_oneshot(k: int):
    """Per-bucket ONE-SHOT Misra-Gries: exact per-bucket counts first
    (additive across Arrow batches, so arrival order cannot matter),
    then a single prune — subtract the (k+1)-th largest count, keep the
    strictly-positive survivors. Equivalent to running classic MG over
    the bucket with the decrement total theta = c_(k+1), so every
    surviving counter keeps the textbook guarantee
    ``true - n/(k+1) <= est <= true`` while being a pure function of
    the bucket's multiset — the property that makes it oracle-checkable
    under any partition layout."""
    import pandas as pd

    def f(batches):
        acc = None
        for pdf in batches:
            vc = pdf.groupby(["bucket", "token"]).size()
            acc = vc if acc is None else acc.add(vc, fill_value=0)
        if acc is None:
            return
        outs = []
        for _, grp in acc.groupby(level=0):
            g = grp.droplevel(0).astype("int64")
            if len(g) > k:
                sub = g.nlargest(k + 1).iloc[-1]
                g = g[g > sub] - sub
            outs.append(pd.DataFrame({"token": g.index, "est": g.values}))
        if outs:
            yield pd.concat(outs, ignore_index=True)

    return f


@query(
    "q_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id % {_MG_BUCKETS} AS bucket,
             unnest(string_split(text, ' ')) AS token
      FROM documents
    ), cnt AS (
      SELECT bucket, token, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY bucket, token
    ), ranked AS (
      SELECT bucket, token, c,
             row_number() OVER (PARTITION BY bucket ORDER BY c DESC) AS rn
      FROM cnt
    ), thr AS (
      SELECT bucket,
             max(CASE WHEN rn = {_MG_K + 1} THEN c ELSE 0 END) AS sub
      FROM ranked GROUP BY bucket
    ), pruned AS (
      SELECT r.token, r.c - t.sub AS est
      FROM ranked r JOIN thr t USING (bucket)
      WHERE r.c - t.sub > 0
    )
    SELECT token, CAST(sum(est) AS BIGINT) AS est
    FROM pruned GROUP BY token
    ORDER BY est DESC, token LIMIT 10
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``topK`` analogue, oracle-checked: top-10 tokens by a
    mergeable Misra-Gries summary. Documents are split into 32 buckets
    by ``doc_id % 32`` (a data-derived partitioner, so the summary is a
    pure function of the corpus, never of Spark's physical layout);
    each bucket builds a one-shot MG summary (see _mg_oneshot — exact
    histogram, single (k+1)-th-largest decrement, same undercount bound
    as incremental MG); summaries merge by additive groupBy. The
    value at rank k+1 is a multiset order statistic, so tie order
    inside the window never changes the subtrahend — DuckDB's
    row_number over the same counts prunes identically.

    Scale: the shuffle carries O(buckets x k) summary rows, never the
    vocab; the per-bucket histogram inside mapInPandas is
    vocab/buckets-sized, so raise the bucket count when vocab/buckets
    is no longer executor-memory-sized (e.g. web-scale token vocab)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("doc_id") % _MG_BUCKETS).alias("bucket"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    sketch = toks.repartition(_MG_BUCKETS, "bucket").mapInPandas(
        _mg_oneshot(_MG_K), "token string, est long"
    )
    return (
        sketch.groupBy("token")
        .agg(F.sum("est").alias("est"))
        .orderBy(F.desc("est"), "token")
        .limit(10)
    )


@query(
    "q_top_weighted",
    oracle="""
    WITH toks AS (
      SELECT n_chars, unnest(string_split(text, ' ')) AS token FROM documents
    )
    SELECT token,
           CAST(sum(n_chars) AS BIGINT) AS weight,
           CAST(count(*) AS BIGINT) AS n
    FROM toks GROUP BY token
    ORDER BY weight DESC, token LIMIT 10
    """,
)
def q_top_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``topKWeighted`` exact twin: top tokens by summed
    weight (each occurrence contributes its document's n_chars) rather
    than plain frequency. Map-side-combined integer weight sums,
    TakeOrdered top-10 — the sketched variant at 100 TB is C29's
    Misra-Gries with the same weight column fed to the decrement."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "n_chars", F.explode(F.split("text", " ")).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.sum("n_chars").alias("weight"), F.count("*").alias("n"))
        .orderBy(F.desc("weight"), "token")
        .limit(10)
    )


@query(
    "q_collocations",
    oracle="""
    WITH toks AS (
      SELECT string_split(text, ' ') AS t FROM documents
    ), uni AS (
      SELECT unnest(t) AS w FROM toks
    ), uni_counts AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n FROM uni GROUP BY w
    ), total AS (
      SELECT CAST(sum(n) AS BIGINT) AS big_n FROM uni_counts
    ), grams AS (
      SELECT unnest(list_transform(range(1, len(t)),
                                   i -> [t[i], t[i + 1]])) AS bg
      FROM toks WHERE len(t) >= 2
    ), bg_counts AS (
      SELECT bg[1] AS w1, bg[2] AS w2, CAST(count(*) AS BIGINT) AS n_ab
      FROM grams GROUP BY bg[1], bg[2]
    )
    SELECT b.w1, b.w2, b.n_ab,
           CAST(b.n_ab * t.big_n AS DOUBLE)
             / CAST(a.n * c.n AS DOUBLE) AS lift
    FROM bg_counts b
    JOIN uni_counts a ON a.w = b.w1
    JOIN uni_counts c ON c.w = b.w2
    CROSS JOIN total t
    WHERE b.n_ab >= 20
    ORDER BY lift DESC, b.w1, b.w2 LIMIT 20
    """,
)
def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by lift: P(w1 w2) / (P(w1) P(w2)) computed as
    one integer cross-product ratio — (n_ab * N) / (n_a * n_b) — so the
    only float op is a single IEEE division of exact int64 products
    (no logs: transcendental functions are NOT bit-portable across
    engines). Unigram/bigram counts are map-side-combined aggregations;
    the lift join touches vocab-sized tables only; top-20 is
    TakeOrdered."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(F.split("text", " ").alias("t"))
    uni = t.select(F.explode("t").alias("w")).groupBy("w").agg(F.count("*").alias("n"))
    big_n = uni.agg(F.sum("n").alias("big_n"))
    grams = (
        t.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i+1] AS w2))")
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 20)
    )
    a = uni.select(F.col("w").alias("w1"), F.col("n").alias("n_a"))
    c = uni.select(F.col("w").alias("w2"), F.col("n").alias("n_b"))
    return (
        grams.join(F.broadcast(a), "w1")
        .join(F.broadcast(c), "w2")
        .crossJoin(F.broadcast(big_n))
        .select(
            "w1",
            "w2",
            "n_ab",
            (
                (F.col("n_ab") * F.col("big_n")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(20)
    )


# Context-window chunking: 40-token chunks, stride 30 (10-token overlap)
_CHUNK, _STRIDE = 40, 30


@query(
    "q_doc_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 50
    ), idx AS (
      -- chunk count derived from each doc's own length (ceil(len/stride)),
      -- never a hard-coded bound a long document could overflow
      SELECT doc_id, t,
             unnest(range(0, CAST(ceil(len(t) / {_STRIDE}.0) AS BIGINT))) AS c
      FROM toks
    ), chunks AS (
      SELECT doc_id, c AS chunk_idx,
             list_slice(t, c * {_STRIDE} + 1,
                        least(c * {_STRIDE} + {_CHUNK}, len(t))) AS ck
      FROM idx
    )
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(len(ck) AS INT) AS n_tokens,
           md5(array_to_string(ck, ' ')) AS chunk_hash
    FROM chunks
    """,
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking for training data: 40-token chunks with
    a 10-token overlap (stride 30) — every chunk identified by an
    md5 of its reassembled text so the split is value-checked, not just
    counted. Pure higher-order slicing (narrow map); chunk explosion is
    bounded by ceil(len/stride) per doc."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    t = docs.select("doc_id", F.split("text", " ").alias("t"))
    chunks = t.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(t) / {_STRIDE}) AS INT) - 1),"
                f" c -> struct(c AS chunk_idx, slice(t, c * {_STRIDE} + 1,"
                f" least({_CHUNK}, size(t) - c * {_STRIDE})) AS ck))"
            )
        ).alias("x"),
    ).select("doc_id", "x.chunk_idx", "x.ck")
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size("ck").cast("int").alias("n_tokens"),
        F.md5(F.array_join("ck", " ").cast("binary")).alias("chunk_hash"),
    )


_PACK_BUDGET = 2048  # tokens per packed training sequence


@query(
    "q_token_packing",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
    ), placed AS (
      SELECT doc_id, n_tok,
             CAST((sum(n_tok) OVER (ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_tok)
                  // {_PACK_BUDGET} AS BIGINT) AS bin_id
      FROM sized
    )
    SELECT bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM placed GROUP BY bin_id
    """,
)
def q_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: assign docs (in stable doc_id
    order) to ~2048-token bins by cumulative-sum binning — bin_id =
    (running_total_before_me) div budget, over (doc_id, n_tok) pairs,
    never the text.

    The global cumulative sum is DISTRIBUTED (plans/prefix.ranged_prefix:
    range shuffle on doc_id + partitioned window + per-partition base
    offsets), which decomposes the prefix sum EXACTLY — bin boundaries
    are identical to the single-window formulation the oracle states, so
    the oracle is unchanged while no unpartitioned WindowExec remains."""
    from kafka_clickhouse_implementation_spark.plans.prefix import ranged_prefix

    docs = load(spark, sf_dir, "documents")
    sized = docs.select("doc_id", F.size(F.split("text", " ")).alias("n_tok"))
    placed = ranged_prefix(sized, [F.col("doc_id")], sum_cols={"cum": "n_tok"})
    placed = placed.select(
        "n_tok",
        F.expr(f"CAST((cum - n_tok) div {_PACK_BUDGET} AS BIGINT)").alias("bin_id"),
    )
    return placed.groupBy("bin_id").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )


# ---------------------------------------------------------------------
# ngramDistance — round 6 (C122): ClickHouse's fuzzy string match,
# next to C26's levenshtein.
# ---------------------------------------------------------------------

_NGD_N = 4  # ClickHouse ngramDistance uses 4-grams
_NGD_DOCS = 15
_NGD_HEAD = 60

_NGD_ORACLE = f"""
WITH heads AS (
  SELECT doc_id, substr(text, 1, {_NGD_HEAD}) AS head
  FROM documents
  WHERE doc_id < {_NGD_DOCS} AND length(substr(text, 1, {_NGD_HEAD})) >= {_NGD_N}
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(length(head) - {_NGD_N} + 1),
                               i -> substr(head, i + 1, {_NGD_N}))) AS g
  FROM heads
),
cnts AS (
  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM grams GROUP BY doc_id, g
),
tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM cnts GROUP BY doc_id),
ov AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov
  FROM cnts a JOIN cnts b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT ta.doc_id AS doc_a, tb.doc_id AS doc_b,
       CAST(ta.n + tb.n - 2 * coalesce(o.ov, 0) AS BIGINT) AS sym_diff,
       CAST(ta.n + tb.n - 2 * coalesce(o.ov, 0) AS DOUBLE)
         / CAST(ta.n + tb.n AS DOUBLE) AS ngram_dist
FROM tot ta
JOIN tot tb ON ta.doc_id < tb.doc_id
LEFT JOIN ov o ON o.doc_a = ta.doc_id AND o.doc_b = tb.doc_id
"""


@query("q_ngram_distance", oracle=_NGD_ORACLE)
def q_ngram_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``ngramDistance`` parity (the fuzzy string matcher
    next to C26's levenshtein): 4-gram multiset symmetric difference
    over the bounded candidate head set, normalized by the total gram
    count — symdiff = n_a + n_b − 2·Σ_g min(c_a, c_b), all exact
    integers, one IEEE division at the end. The overlap term is an
    equi-join ON THE GRAM (never an all-pairs string scan), so at
    corpus scale the same shape runs against LSH-bucketed candidates
    exactly like C24's verify stage."""
    heads = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _NGD_DOCS)
        .select("doc_id", F.substring("text", 1, _NGD_HEAD).alias("head"))
        # guard degenerate docs: for head shorter than the gram width,
        # Spark's sequence(0, len-4) would DESCEND (negative step) and
        # fabricate grams from non-positive substr starts while the
        # oracle's range() is empty — filter them out on both sides
        # (the q_substring_dup length-guard convention)
        .filter(F.length("head") >= _NGD_N)
    )
    grams = heads.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, length(head) - {_NGD_N}), "
                f"i -> substr(head, i + 1, {_NGD_N}))"
            )
        ).alias("g"),
    )
    cnts = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    tot = cnts.groupBy("doc_id").agg(F.sum("c").cast("long").alias("n"))
    a = cnts.select(F.col("doc_id").alias("doc_a"), "g", F.col("c").alias("ca"))
    b = cnts.select(F.col("doc_id").alias("doc_b"), "g", F.col("c").alias("cb"))
    ov = (
        a.join(b, ["g"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least("ca", "cb")).cast("long").alias("ov"))
    )
    ta = tot.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    tb = tot.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    pairs = (
        ta.join(tb, ta.doc_a < tb.doc_b)
        .join(ov, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("na") + F.col("nb") - F.lit(2) * F.coalesce("ov", F.lit(0))
            )
            .cast("long")
            .alias("sym_diff"),
            (
                (
                    F.col("na")
                    + F.col("nb")
                    - F.lit(2) * F.coalesce("ov", F.lit(0))
                ).cast("double")
                / (F.col("na") + F.col("nb")).cast("double")
            ).alias("ngram_dist"),
        )
    )
    return pairs
