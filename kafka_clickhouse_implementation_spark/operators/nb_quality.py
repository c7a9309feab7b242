"""Portable multinomial Naive-Bayes quality classifier — round 11
(C166): the SUPERVISED rung of the quality family (heuristic C62 →
LM-fluency C142 → unsupervised domain-match C155 → this), the
CCNet/fastText-style trained gate every production pipeline adds once
it has labels. The portable, oracle-expressible form of that
classifier is counts-based multinomial NB (public method — McCallum &
Nigam 1998; CCNet, Wenzek et al. 2020 trains a linear fastText model
the same way a pipeline would train this one).

Protocol (all corpus-derived, no literal labels):
- LABELS: positive class = documents whose ``source`` equals
  min(source) over the corpus (the C155 target-slice rule — a testdata
  regeneration cannot invalidate it); everything else negative.
- SPLIT: md5-derived — a document trains iff the first md5 nibble of
  CAST(doc_id AS STRING) is 0-7 (≈half), else it is held out. NOT the
  C142 even/odd recipe, deliberately: the testdata assigns source by
  doc_id modulo an EVEN period, so every source is entirely even or
  entirely odd and a parity split would put the whole target class on
  one side (no held-out positives — a degenerate evaluation). The md5
  split cuts WITHIN every source and is engine-identical (the C24
  instr/substr/md5 nibble recipe).
- BALANCED TRAINING: all positive train docs + a hash-proportional
  negative sample targeting the same count — negative d trains iff
  nib256(md5(doc_id || '_neg')) < k, k = max(1, 256*npos div nneg),
  a pure filter against one broadcast ratio (NO global rank/sort —
  the sample stays a narrow map at any scale; the realized count is
  binomial-close to npos, and the smoothed priors reflect the ACTUAL
  counts, so approximate balance is principled). Without balancing,
  the ~20x negative feature mass plus add-1 smoothing over B=4096
  buckets drives EVERY document's likelihood ratio deeply negative
  (measured: all 500 docs predicted negative at sf0.01) — class
  balancing is the standard fix (and what CCNet does when it trains
  its gate). Hashing on doc_id spreads the sample across sources.
- FEATURES: the C155 hashed unigram+bigram bucket space VERBATIM
  (dsir.doc_features / FEATS_CTE_BODY — B = 4096 md5-nibble buckets),
  so the supervised and unsupervised domain rungs share one certified
  feature extraction. Char-trigram features and an 8192-bucket space
  both measured no better for this gate (docs/NB_TRIGRAM_J.json,
  docs/NB_BUCKETS_J.json).
- MODEL: per-bucket add-1-smoothed class multinomials over the
  balanced train set + add-1-smoothed class priors; per-bucket
  log-odds
      llr(b) = ln (cpos_b+1)/(tpos+B) - ln (cneg_b+1)/(tneg+B)
  and the prior log-odds ln (npos+1)/(ntr+2) - ln (nneg+1)/(ntr+2)
  both via the pln kernel, floor-quantized to NANO units BEFORE any
  sum (the C63/C155 recipe) — so each held-out document's score
      score_nano(d) = prior_nano + sum_b cnt_db * llr_nano(b)
  is an exact BIGINT sum, partitioning-order independent, and the
  classification (score_nano > 0) is an exact integer compare.
- Docs with ZERO features (empty text) never enter dfc and are not
  scored — documented, same convention as C155.

Overflow headroom: |llr_nano| <= ~2.5e10 and per-doc feature mass
<= 2 * doc length, so scores stay far below 2^53 at any bench sf (the
100 TB path widens to DECIMAL(38,0), the C99 dcast class).

Scale shape: ONE feature explode (shared with C155 — shuffles
(doc_id, bucket) ints, never text); both class models are
4096-row aggregates with map-side partials; the llr table and the
1-row prior BROADCAST to the scoring join; the proportional negative
sample is a pure hash filter against one broadcast ratio (no global
rank/sort anywhere); the confusion rollup groups by source. At 1000
executors nothing exceeds one shuffle of hashed-feature counts.

Measured discrimination (held-out split, score_nano > 0): at the
sf1-equivalent corpus (50k docs, ~1.2k train positives) recall = 0.77
with a 0.28 false-positive rate; at the 500-doc bench SFs the ~12-doc
positive train slice is add-1-smoothing dominated and the scores
carry little signal — an honest small-sample artifact (the synthetic
sources differ only mildly), certified as mechanism either way.

Reference anchor: the reference pipeline's consumer tags and filters
events before insert (kafka+clickhouse.md:127-153); this is that
gatekeeping learned from labels over a text corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.functions.portable_math import (
    ln_exp_case,
    ln_scale_case,
    pln,
)
from kafka_clickhouse_implementation_spark.io import load
from kafka_clickhouse_implementation_spark.operators.dsir import (
    FEATS_CTE_BODY,
    N_BUCKETS,
    features_product,
)
from kafka_clickhouse_implementation_spark.registry import query

_HEX = "0123456789abcdef"
# train iff the first md5 nibble of the doc_id string is 0-7 — splits
# within every source (see module docstring), engine-identical
_IS_TRAIN_SQL = (
    f"(instr('{_HEX}', substr(md5(CAST(doc_id AS STRING)), 1, 1)) <= 8)"
)
# 256-bucket hash of the SALTED doc_id ('_neg' suffix decorrelates it
# from the split nibble) — drives the proportional negative sample
_NEG256_SQL = (
    f"((instr('{_HEX}', substr(md5(CAST(doc_id AS STRING) || '_neg'), 1, 1)) - 1) * 16"
    f" + (instr('{_HEX}', substr(md5(CAST(doc_id AS STRING) || '_neg'), 2, 1)) - 1))"
)

# per-bucket smoothed class probabilities over the balanced train set —
# identical +1/+B smoothing (and the same pln → nano dag) as C155's
# target/source models, over bound columns (cpos, cneg, tpos, tneg)
_PPOS_SQL = f"CAST(cpos + 1 AS DOUBLE) / CAST(tpos + {N_BUCKETS} AS DOUBLE)"
_PNEG_SQL = f"CAST(cneg + 1 AS DOUBLE) / CAST(tneg + {N_BUCKETS} AS DOUBLE)"
# add-1-smoothed class priors over balanced train DOC counts
_PRPOS_SQL = "CAST(npos + 1 AS DOUBLE) / CAST(ntr + 2 AS DOUBLE)"
_PRNEG_SQL = "CAST(nneg + 1 AS DOUBLE) / CAST(ntr + 2 AS DOUBLE)"
# ln(pt) - ln(ps), nano-floored — the exact C155 dag over the staged
# (et, tt, tt2, es, ts, ts2) columns
_LLR_NANO_SQL = (
    f"CAST(floor(({pln('et', 'tt', 'tt2')} - {pln('es', 'ts', 'ts2')})"
    " * 1.0e9) AS BIGINT)"
)


# the pt/ps → nano staging CTEs, parametrized on the input CTE name
# (reused for the bucket llr table AND the 1-row prior)
def _nano_stages(src: str, out: str, keys: str) -> str:
    k = f"{keys}, " if keys else ""
    return f"""{out}_m2 AS (
  SELECT {k}{ln_exp_case('pt')} AS et, pt * {ln_scale_case('pt')} AS mt,
         {ln_exp_case('ps')} AS es, ps * {ln_scale_case('ps')} AS ms
  FROM {src}
), {out}_m3 AS (
  SELECT {k}et, (mt - 1.0) / (mt + 1.0) AS tt,
         es, (ms - 1.0) / (ms + 1.0) AS ts
  FROM {out}_m2
), {out}_m4 AS (
  SELECT {k}et, tt, tt * tt AS tt2, es, ts, ts * ts AS ts2 FROM {out}_m3
), {out} AS (
  SELECT {k}{_LLR_NANO_SQL} AS nano FROM {out}_m4
)"""


def nb_scored_ctes(held_only: bool) -> str:
    """The NB model + scoring CTE chain (lbl → balanced train →
    class models → priors → llr → per-doc scores), parametrized on
    whether scoring covers the held-out split only (the C166
    evaluation) or every document (the C169 classifier-gated clean —
    the fitted model gates everything, the standard deployment).
    Assumes FEATS_CTE_BODY's dfc is in scope."""
    held_pred = "WHERE l2.is_train = 0" if held_only else ""
    return f"""lbl AS (
  SELECT doc_id, source,
         CASE WHEN source = (SELECT min(source) FROM documents)
              THEN 1 ELSE 0 END AS is_target,
         CASE WHEN {_IS_TRAIN_SQL} THEN 1 ELSE 0 END AS is_train
  FROM documents
), posd AS (
  SELECT doc_id FROM lbl WHERE is_train = 1 AND is_target = 1
), negall AS (
  SELECT doc_id, {_NEG256_SQL} AS nb256
  FROM lbl WHERE is_train = 1 AND is_target = 0
), bcnt AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM posd) AS np,
         (SELECT CAST(count(*) AS BIGINT) FROM negall) AS nn
), negd AS (
  -- greatest(nn, 1): a corpus whose train split has ZERO negatives
  -- (single source) must degrade identically on both engines (empty
  -- negd), not error on division by zero in one of them (r11 advisory)
  SELECT n.doc_id FROM negall n, bcnt
  WHERE n.nb256 < greatest((256 * np) // greatest(nn, 1), 1)
), bal AS (
  SELECT doc_id, 1 AS is_target FROM posd
  UNION ALL
  SELECT doc_id, 0 AS is_target FROM negd
), trn AS (
  SELECT d.doc_id, d.b, d.cnt, t.is_target
  FROM dfc d JOIN bal t USING (doc_id)
), cls AS (
  SELECT b,
         CAST(sum(CASE WHEN is_target = 1 THEN cnt ELSE 0 END) AS BIGINT) AS cpos,
         CAST(sum(CASE WHEN is_target = 0 THEN cnt ELSE 0 END) AS BIGINT) AS cneg
  FROM trn GROUP BY b
), ctot AS (
  SELECT CAST(coalesce(sum(cpos), 0) AS BIGINT) AS tpos,
         CAST(coalesce(sum(cneg), 0) AS BIGINT) AS tneg
  FROM cls
), prct AS (
  SELECT CAST(count(CASE WHEN t.is_target = 1 THEN 1 END) AS BIGINT) AS npos,
         CAST(count(CASE WHEN t.is_target = 0 THEN 1 END) AS BIGINT) AS nneg,
         CAST(count(*) AS BIGINT) AS ntr
  FROM bal t
), m1 AS (
  SELECT c.b, {_PPOS_SQL} AS pt, {_PNEG_SQL} AS ps FROM cls c, ctot
), {_nano_stages('m1', 'llr', 'b')}, pr1 AS (
  SELECT {_PRPOS_SQL} AS pt, {_PRNEG_SQL} AS ps FROM prct
), {_nano_stages('pr1', 'prior', '')}, scored AS (
  SELECT d.doc_id,
         CAST((SELECT nano FROM prior)
              + sum(d.cnt * l.nano) AS BIGINT) AS score_nano,
         CAST(sum(d.cnt) AS BIGINT) AS n_feats
  FROM dfc d JOIN llr l USING (b) JOIN lbl l2 USING (doc_id)
  {held_pred}
  GROUP BY d.doc_id
)"""


_NB_ORACLE = f"""
WITH {FEATS_CTE_BODY}, {nb_scored_ctes(held_only=True)}
SELECT l.source,
       CAST(max(l.is_target) AS BIGINT) AS is_target,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN s.score_nano > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pred_target,
       CAST(sum(s.score_nano) AS BIGINT) AS sum_score_nano,
       CAST(min(s.score_nano) AS BIGINT) AS min_score,
       CAST(max(s.score_nano) AS BIGINT) AS max_score,
       CAST(sum(s.n_feats) AS BIGINT) AS sum_feats
FROM scored s JOIN lbl l USING (doc_id)
GROUP BY l.source
"""


def _nano_stage_cols(df: DataFrame, keys: list[str]) -> DataFrame:
    """(pt, ps) → nano via the staged pln dag — Spark twin of
    _nano_stages (the SQL text of each stage is the interpolated
    constant shared with the oracle)."""
    k = list(keys)
    return (
        df.selectExpr(
            *k,
            f"{ln_exp_case('pt')} AS et",
            f"pt * {ln_scale_case('pt')} AS mt",
            f"{ln_exp_case('ps')} AS es",
            f"ps * {ln_scale_case('ps')} AS ms",
        )
        .selectExpr(
            *k, "et", "(mt - 1.0) / (mt + 1.0) AS tt",
            "es", "(ms - 1.0) / (ms + 1.0) AS ts",
        )
        .selectExpr(*k, "et", "tt", "tt * tt AS tt2", "es", "ts", "ts * ts AS ts2")
        .selectExpr(*k, f"{_LLR_NANO_SQL} AS nano")
    )


def nb_label(docs: DataFrame) -> DataFrame:
    """(doc_id, source, is_target, is_train) — positive class = the
    min(source) slice (no collect — the 1-row min broadcasts into the
    compare); train membership from the md5 split."""
    msrc = docs.agg(F.min("source").alias("msrc"))
    return (
        docs.crossJoin(F.broadcast(msrc))
        .select(
            "doc_id",
            "source",
            F.when(F.col("source") == F.col("msrc"), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_target"),
            F.when(F.expr(_IS_TRAIN_SQL), 1).otherwise(0).cast("long").alias("is_train"),
        )
    )


def nb_scores(docs: DataFrame, dfc: DataFrame, held_only: bool = True) -> DataFrame:
    """(doc_id, score_nano, n_feats) — exact-BIGINT NB log-odds under
    the balanced model trained on the md5-split train half, for every
    >=1-feature document of the held split (``held_only``, the C166
    evaluation) or of the WHOLE corpus (the C169 gate). ``dfc`` is the
    (doc_id, b, cnt) feature table of ``docs`` — the persisted
    dsir.features_product in every query."""
    lbl = nb_label(docs)
    posd = lbl.filter("is_train = 1 AND is_target = 1").select("doc_id")
    negall = lbl.filter("is_train = 1 AND is_target = 0").select(
        "doc_id", F.expr(_NEG256_SQL).alias("nb256")
    )
    bcnt = (
        posd.agg(F.count(F.lit(1)).cast("long").alias("np"))
        .crossJoin(negall.agg(F.count(F.lit(1)).cast("long").alias("nn")))
    )
    negd = (
        negall.crossJoin(F.broadcast(bcnt))
        .filter(
            F.col("nb256")
            < F.expr("greatest((256 * np) div greatest(nn, 1), 1)")
        )
        .select("doc_id")
    )
    # Pin the two MODEL-SIZED training frames ON THE GATE PATH ONLY
    # (r15, the r14 verdict's #7 — the real q_corpus_clean_nb
    # bottleneck): bal feeds cls AND the prior counts, cls feeds ctot
    # AND llr, and each consumer sits under its own broadcast
    # boundary, so the unpinned gate plan re-derived the whole train
    # subtree (docs scan → label split → negative sample → feature
    # join) 4-6x — measured 34.6 s vs 7.4 s pinned at sf0.1. Both
    # pins are bounded by the model, never the corpus: bal is the
    # balanced train-id set, cls is one row per feature bucket
    # (N_BUCKETS). The held-only evaluators (q_nb_quality /
    # q_nb_pr_curve) evaluate the subtree ONCE, so for them the four
    # eager materializations are pure overhead (measured sf1:
    # q_nb_pr_curve 2.8 → 5.1 s pinned).
    pin_model = not held_only
    def _pin(df):
        return df.localCheckpoint() if pin_model else df

    bal = _pin(
        posd.withColumn("is_target", F.lit(1))
        .unionByName(negd.withColumn("is_target", F.lit(0)))
    )
    trn = dfc.join(bal, "doc_id")
    cls = trn.groupBy("b").agg(
        F.sum(F.when(F.col("is_target") == 1, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("cpos"),
        F.sum(F.when(F.col("is_target") == 0, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("cneg"),
    )
    cls = _pin(cls)
    ctot = cls.agg(
        F.coalesce(F.sum("cpos"), F.lit(0)).cast("long").alias("tpos"),
        F.coalesce(F.sum("cneg"), F.lit(0)).cast("long").alias("tneg"),
    )
    prct = bal.agg(
        F.count(F.when(F.col("is_target") == 1, 1)).cast("long").alias("npos"),
        F.count(F.when(F.col("is_target") == 0, 1)).cast("long").alias("nneg"),
        F.count(F.lit(1)).cast("long").alias("ntr"),
    )
    # llr/prior are pinned for a different reason than bal/cls: their
    # pln-kernel stages stack selectExprs whose aliases are each
    # referenced several times downstream, and Catalyst's projection
    # collapse re-expands every reference — leaving them lazy made the
    # SCORING plan's optimization itself the cost (measured: the keep
    # set materialized in 27.7 s with the polynomial trees inlined,
    # ~2 s against the pinned 4096-row/1-row tables).
    llr = _pin(
        _nano_stage_cols(
            cls.crossJoin(F.broadcast(ctot)).selectExpr(
                "b", f"{_PPOS_SQL} AS pt", f"{_PNEG_SQL} AS ps"
            ),
            ["b"],
        )
    )
    prior = _pin(
        _nano_stage_cols(
            prct.selectExpr(f"{_PRPOS_SQL} AS pt", f"{_PRNEG_SQL} AS ps"), []
        ).withColumnRenamed("nano", "prior_nano")
    )
    held = (
        dfc.join(lbl.filter("is_train = 0").select("doc_id"), "doc_id")
        if held_only
        else dfc
    )
    return (
        held.join(F.broadcast(llr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * F.col("nano")).cast("long").alias("s"),
            F.sum("cnt").cast("long").alias("n_feats"),
        )
        .crossJoin(F.broadcast(prior))
        .selectExpr(
            "doc_id",
            "CAST(prior_nano + s AS BIGINT) AS score_nano",
            "n_feats",
        )
    )


# ---------------------------------------------------------------------
# C175 — NB threshold calibration (round 12): the PR curve the r11
# verdict asked for. One pass over the held-out scores (the C23
# conditional-aggregation recipe: explode a LITERAL threshold ladder,
# group by threshold) emitting exact confusion counts per integer
# nano-threshold, so an operating point can be CHOSEN from data instead
# of hard-coding score_nano > 0. Precision/recall stay exact-integer
# rationals (tp, fp, fn, tn) — the consumer divides; no float surface.
#
# The ladder is geometric around 0 (nano log-odds units): NB scores are
# prior + sum(cnt·llr) with |llr_nano| up to ~2.5e10, so per-doc scores
# at the bench corpora live in the ±1e11 band; the ladder spans it.
#
# Scale shape: the scored frame is one row per held-out doc; the
# explode multiplies it by the 13-row ladder (a constant), and the
# rollup is a 13-group aggregate with map-side partials.
# ---------------------------------------------------------------------

# integer nano-log-odds ladder: 0 ± {1,5,10,50,100,500} × 1e8
NB_THRESH_NANOS = sorted(
    {0}
    | {s * m * 10**8 for s in (-1, 1) for m in (1, 5, 10, 50, 100, 500)}
)

# C169's gate operating point, CHOSEN from the sf1-equivalent PR curve
# (tools/make_scale_data corpus, 25,001 held-out docs — see ROUNDLOG
# round 12): Youden's J peaks at t = -1e8 (recall 0.797 / FPR 0.298 /
# J 0.499) vs the previously hard-coded t = 0 (recall 0.770 / FPR
# 0.283 / J 0.487) — a pure-recall gain at equal discrimination, which
# is what a KEEP gate wants. The constant is the single knob both
# engines share; re-picking it from a new curve moves the gate on both
# sides at once.
NB_GATE_NANO = -100_000_000

_PR_ORACLE = f"""
WITH {FEATS_CTE_BODY}, {nb_scored_ctes(held_only=True)},
thr(thr_nano) AS (
  VALUES {", ".join(f"(CAST({t} AS BIGINT))" for t in NB_THRESH_NANOS)}
)
SELECT t.thr_nano,
       CAST(sum(CASE WHEN s.score_nano > t.thr_nano AND l.is_target = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(sum(CASE WHEN s.score_nano > t.thr_nano AND l.is_target = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(sum(CASE WHEN s.score_nano <= t.thr_nano AND l.is_target = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       CAST(sum(CASE WHEN s.score_nano <= t.thr_nano AND l.is_target = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS tn
FROM scored s JOIN lbl l USING (doc_id) CROSS JOIN thr t
GROUP BY t.thr_nano
ORDER BY t.thr_nano
"""


@query("q_nb_pr_curve", oracle=_PR_ORACLE)
def q_nb_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C175: exact confusion counts for the C166 classifier at every
    rung of the NB_THRESH_NANOS ladder over the held-out split — the
    calibration sweep that justifies NB_GATE_NANO. One scored pass,
    one 13-group conditional rollup; every count is an exact BIGINT."""
    docs = load(spark, sf_dir, "documents")
    lbl = nb_label(docs)
    scored = nb_scores(docs, dfc=features_product(spark, sf_dir)).join(
        lbl.select("doc_id", "is_target"), "doc_id"
    )
    thr = F.explode(
        F.array(*[F.lit(t).cast("long") for t in NB_THRESH_NANOS])
    ).alias("thr_nano")
    pred = F.col("score_nano") > F.col("thr_nano")
    pos = F.col("is_target") == 1
    return (
        scored.select("score_nano", "is_target", thr)
        .groupBy("thr_nano")
        .agg(
            F.sum(F.when(pred & pos, 1).otherwise(0)).cast("long").alias("tp"),
            F.sum(F.when(pred & ~pos, 1).otherwise(0)).cast("long").alias("fp"),
            F.sum(F.when(~pred & pos, 1).otherwise(0)).cast("long").alias("fn"),
            F.sum(F.when(~pred & ~pos, 1).otherwise(0)).cast("long").alias("tn"),
        )
        .orderBy("thr_nano")
    )


@query("q_nb_quality", oracle=_NB_ORACLE)
def q_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C166: supervised NB quality classification — per-source
    confusion rollup of the held-out split (doc count, predicted-
    target count, exact score sums and extremes). The hash certifies
    the shared C155 feature extraction, the md5 split, the strided
    balanced negative sample, both add-1-smoothed class multinomials,
    the smoothed priors, every pln-kernel log-odds (sign included),
    the nano quantization, the exact per-doc sums, and the integer
    decision threshold."""
    docs = load(spark, sf_dir, "documents")
    lbl = nb_label(docs)
    return (
        nb_scores(docs, dfc=features_product(spark, sf_dir))
        .join(lbl, "doc_id")
        .groupBy("source")
        .agg(
            F.max("is_target").cast("long").alias("is_target"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("score_nano") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_pred_target"),
            F.sum("score_nano").cast("long").alias("sum_score_nano"),
            F.min("score_nano").cast("long").alias("min_score"),
            F.max("score_nano").cast("long").alias("max_score"),
            F.sum("n_feats").cast("long").alias("sum_feats"),
        )
    )
