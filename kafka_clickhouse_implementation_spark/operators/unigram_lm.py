"""C145/C146 — SentencePiece-style unigram-LM tokenizer: hard-EM
(Viterbi) training over the corpus vocabulary, plus corpus tokenization
under the learned model (Kudo 2018, "Subword Regularization").

The EM sibling of the BPE trainer (bpe.py / C135): where BPE greedily
merges the single best pair per round, the unigram LM starts from an
OVER-complete piece inventory and alternates
  E-step: Viterbi-segment every vocab word under the current piece
          log-probabilities,
  M-step: re-estimate piece counts from those segmentations and prune
          to the size budget.
Reference repo scope: the tutorial (kafka+clickhouse.md) has no
tokenizer tier; this is Tier-C training-pipeline closure next to C135,
per the round-8 verdict's optional-depth list.

Spark-first factorization (the C135 shape carries over):

1. ONE corpus pass builds the word-frequency table; everything after
   runs on the VOCABULARY (distinct words) — heavy-hitter-bounded,
   never corpus-sized.
2. The seed inventory is every word substring of length <= UNI_L
   (candidate generation is a per-row HOF explode, vocab x ~L*len
   rows); the kept model is all SINGLE characters (coverage guarantee:
   every word stays segmentable every round) plus the top UNI_MULTI
   multi-character pieces by (count DESC, piece ASC).
3. Per EM round: piece scores are nano-quantized log-probabilities
   computed by the portable pln kernel (functions/portable_math.py) —
   the SAME polynomial SQL text on both engines, so the floored BIGINT
   scores are equal BY CONSTRUCTION. That matters more here than in
   the surprisal queries: a last-ulp libm ln disagreement would flip a
   DISCRETE Viterbi argmax, not nudge a sum, and no guard band can
   bound that.
4. The Viterbi DP is ONE `aggregate` HOF fold per word over a packed-
   BIGINT dp list (DuckDB 1.0's list_reduce silently drops list fields
   inside struct accumulators, so the dp entry packs (score, backptr)
   as (sc + 2^50)*128 + (127 - j) — exact integer arithmetic, argmax =
   array_max, tie order: higher score, then LONGER winning piece
   (smaller j), identical on both engines). Backtracking is a second
   bounded fold; both are vocab-sized, zero shuffle.
5. The M-step recount is one explode + hash agg; pruning is a
   TakeOrdered-style ORDER BY cnt DESC, piece LIMIT — deterministic
   total order.

Driver traffic: NONE per round (scores attach via a broadcast 1-row
total; the trajectory emits as a union of 1-row aggregates). The
DuckDB oracle replays the entire EM loop independently — unrolled
MATERIALIZED CTE rounds (the BPE/Lloyd/CC oracle discipline), the same
pln kernel text, and a FULLY RELATIONAL recursive-CTE Viterbi (see
_o_viterbi: DuckDB 1.0 corrupts lists produced by list_reduce under
parallelism, so the oracle-side DP carries a 4-deep sliding window of
packed dp values through WITH RECURSIVE instead of folding a list).

Words longer than 127 characters are excluded by both engines (the
backpointer packs into 7 bits; a >127-char "word" in a whitespace
corpus is junk by construction — documented, not silent: the word
filter is part of the declared query semantics).

Integer-exactness bounds: T = sum(counts) <= 2^53 assumed (exact
DOUBLE division input); every piece count >= 1 so p >= 1/T >= 2^-53 >
2^-64 = the pln domain floor; |score| <= |floor(ln(2^-53)*1e9)| <
2^36; |dp| <= 127 * 2^36 < 2^43 << OFF = 2^50; the missing-piece
sentinel -2^49 can never win against any real path (real dp totals
stay above -2^44). The per-round log-likelihood sum accumulates in
DECIMAL(38,0)/HUGEINT and divides to micro units through a
negate-divide-negate so both engines do POSITIVE integer division
(Spark div truncates, DuckDB // floors — they agree only for
nonnegative operands).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.functions.portable_math import (
    ln_exp_case,
    ln_scale_case,
    pln,
    pln_py,
)
from kafka_clickhouse_implementation_spark import gate
from kafka_clickhouse_implementation_spark.io import load
from kafka_clickhouse_implementation_spark.registry import query
from kafka_clickhouse_implementation_spark.sources.streams import read_wire

UNI_ROUNDS = 3  # EM rounds in the declared trajectory
UNI_L = 4  # max piece length
UNI_MULTI = 48  # multi-char pieces kept per round
_MAX_WLEN = 127  # backpointer packs into 7 bits

_OFF = 2**50
_SENT = -(2**49)
_ENC0 = _OFF * 128



# ---------------------------------------------------------------------
# Shared score staging — the double math is ONE template; Spark and the
# oracle interpolate identical text (the pln portability contract).
# ---------------------------------------------------------------------

_P_SQL = "CAST(cnt AS DOUBLE) / CAST(t_total AS DOUBLE)"
_T_SQL = "(m - 1.0) / (m + 1.0)"
_SC_SQL = f"CAST(floor({pln('e', 't', 't2')} * 1.0e9) AS BIGINT)"


def _spark_scores(v: DataFrame) -> DataFrame:
    """(piece, cnt) -> (piece, sc): nano-quantized ln(cnt / T)."""
    tt = v.agg(F.sum("cnt").cast("long").alias("t_total"))
    return (
        v.crossJoin(F.broadcast(tt))
        .selectExpr("piece", f"{_P_SQL} AS p")
        .selectExpr("piece", f"{ln_exp_case('p')} AS e", f"p * {ln_scale_case('p')} AS m")
        .selectExpr("piece", "e", f"{_T_SQL} AS t")
        .selectExpr("piece", "e", "t", "t * t AS t2")
        .selectExpr("piece", f"{_SC_SQL} AS sc")
    )


def _seed_words(docs: DataFrame) -> DataFrame:
    """(w, f): distinct corpus words with frequencies, length-capped."""
    return (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(f"w <> '' AND length(w) <= {_MAX_WLEN}")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )


def _candidates(words: DataFrame) -> DataFrame:
    """(w, f, piece): every distinct substring of w up to UNI_L chars —
    round-independent, computed once and checkpointed."""
    spark = words.sparkSession
    cand = words.select(
        "w",
        "f",
        F.explode(
            F.expr(
                f"array_distinct(flatten(transform(sequence(1, length(w)),"
                f" i -> transform(sequence(1, least({UNI_L}, length(w) - i + 1)),"
                f" l -> substring(w, i, l)))))"
            )
        ).alias("piece"),
    )
    return cand.repartition(
        min(8, spark.sparkContext.defaultParallelism)
    ).localCheckpoint()


def _substr_counts(cand: DataFrame) -> DataFrame:
    """Seed counts: substring occurrences are weighted by word
    frequency but counted once per (word, piece) — array_distinct in
    the candidate explode fixes the multiplicity, and the oracle's
    SELECT DISTINCT matches it."""
    return cand.groupBy("piece").agg(F.sum("f").cast("long").alias("cnt"))


def _prune(
    counts: DataFrame, singles: DataFrame, multi: int = UNI_MULTI
) -> DataFrame:
    """V_{r+1} from recounts: every seed single char survives with
    count+1 (Laplace floor — keeps p > 0 and coverage total), plus the
    top ``multi`` multi-char pieces by (cnt DESC, piece ASC)."""
    s = (
        singles.join(counts, "piece", "left")
        .select("piece", (F.coalesce("cnt", F.lit(0)) + 1).cast("long").alias("cnt"))
    )
    m = (
        counts.filter(F.length("piece") >= 2)
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(multi)
    )
    return s.unionByName(m).localCheckpoint()


_DP_SQL = f"""
  aggregate(sequence(1, length(w)), array(CAST({_ENC0} AS BIGINT)),
    (acc, i) -> concat(acc, array(array_max(transform(
        sequence(greatest(0, i - {UNI_L}), i - 1),
        j -> (element_at(acc, j + 1) div 128 - {_OFF}
              + coalesce(try_element_at(sm, substring(w, j + 1, i - j)), {_SENT})
              + {_OFF}) * 128 + CAST(127 - j AS BIGINT)))))) AS dp"""

_PATH_SQL = """
  aggregate(sequence(1, length(w)), array(CAST(length(w) AS BIGINT)),
    (acc, x) -> CASE WHEN element_at(acc, 1) = 0 THEN acc
                ELSE concat(array(127 - (element_at(dp,
                     CAST(element_at(acc, 1) AS INT) + 1) % 128)), acc)
                END) AS path"""

_SEGS_SQL = """
  zip_with(slice(path, 1, size(path) - 1), slice(path, 2, size(path) - 1),
    (a, b) -> substring(w, CAST(a AS INT) + 1, CAST(b - a AS INT))) AS segs"""


def _viterbi(cand: DataFrame, scores: DataFrame) -> DataFrame:
    """E-step: (w, f, segs, ll, npieces) — Viterbi segmentation of
    every vocab word under the current scores. One inner join (every
    word's single chars are always in the model, so no word is lost),
    one map build, two bounded folds. Zero shuffle beyond the join."""
    wm = (
        cand.join(scores, "piece")
        .groupBy("w")
        .agg(
            F.first("f").alias("f"),
            F.map_from_entries(F.collect_list(F.struct("piece", "sc"))).alias("sm"),
        )
    )
    dp = wm.selectExpr("w", "f", _DP_SQL)
    pt = dp.selectExpr("w", "f", "dp", _PATH_SQL)
    return pt.selectExpr(
        "w",
        "f",
        _SEGS_SQL,
        f"element_at(dp, length(w) + 1) div 128 - {_OFF} AS ll",
        "CAST(size(path) - 1 AS BIGINT) AS npieces",
    )


def _recount(seg: DataFrame) -> DataFrame:
    return (
        seg.select("f", F.explode("segs").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("f").cast("long").alias("cnt"))
    )


# ---------------------------------------------------------------------
# Driver EM fast path (r16): the exact loop above in Python over the
# collected vocabulary. Each step replicates its Spark twin's
# arithmetic precisely — see the per-step notes.
# ---------------------------------------------------------------------


def _driver_scores(counts: dict[str, int]) -> dict[str, int]:
    """_spark_scores in Python: sc = floor(pln(cnt / T) * 1e9) as an
    exact int. pln_py executes the same finite IEEE op sequence as the
    SQL kernel text (same literals, same Horner order, same ladder
    branch choice), and CPython floats are binary64 — so the doubles,
    and therefore the floors, are equal by construction."""
    import math

    t_total = float(sum(counts.values()))
    return {
        piece: int(math.floor(pln_py(float(cnt) / t_total) * 1.0e9))
        for piece, cnt in counts.items()
    }


def _driver_viterbi(
    w: str, sc: dict[str, int]
) -> tuple[list[str], int, int]:
    """The packed-BIGINT DP of _DP_SQL/_PATH_SQL/_SEGS_SQL in exact
    Python ints: dp[i] = max over j in [max(0, i-UNI_L), i-1] of
    (dp[j]'s score + score(w[j:i]) or SENT) packed with backptr
    127 - j; ties impossible (distinct j = distinct low bits). All dp
    values are positive (score + OFF > 0), so Python // == Spark div.
    Returns (segs, ll, npieces)."""
    n = len(w)
    dp = [_ENC0]
    for i in range(1, n + 1):
        dp.append(
            max(
                (dp[j] // 128 - _OFF + sc.get(w[j:i], _SENT) + _OFF) * 128
                + (127 - j)
                for j in range(max(0, i - UNI_L), i)
            )
        )
    path = [n]
    while path[0] != 0:
        path.insert(0, 127 - (dp[path[0]] % 128))
    segs = [w[a:b] for a, b in zip(path[:-1], path[1:])]
    return segs, dp[n] // 128 - _OFF, len(path) - 1


def _driver_prune(
    counts: dict[str, int], singles: list[str], multi: int
) -> dict[str, int]:
    """_prune in Python: singles survive with count+1 (Laplace floor),
    plus the top ``multi`` multi-char pieces by (cnt DESC, piece ASC) —
    Python str comparison is by code point, which equals Spark/DuckDB's
    binary UTF-8 order (UTF-8 preserves code-point order)."""
    v = {p: counts.get(p, 0) + 1 for p in singles}
    m = sorted(
        ((p, c) for p, c in counts.items() if len(p) >= 2),
        key=lambda kv: (-kv[1], kv[0]),
    )[:multi]
    v.update(dict(m))
    return v


def _driver_em(
    spark: SparkSession,
    rows: list[tuple[str, int]],
    rounds: int,
    multi: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The full hard-EM loop on the driver over a collected (w, f)
    vocabulary; returns the same (trajectory, final segmentation,
    final model) frames as the distributed loop, bit-identically
    (pinned by test_driver_em_equals_distributed)."""
    # candidate substrings, counted once per (word, piece) like the
    # array_distinct explode
    cand: dict[str, set[str]] = {}
    for w, _f in rows:
        pieces = {
            w[i : i + l]
            for i in range(len(w))
            for l in range(1, min(UNI_L, len(w) - i) + 1)
        }
        cand[w] = pieces
    sub0: dict[str, int] = {}
    for w, f in rows:
        for p in cand[w]:
            sub0[p] = sub0.get(p, 0) + f
    singles = [p for p in sub0 if len(p) == 1]
    v = _driver_prune(sub0, singles, multi)

    traj: list[tuple] = []
    seg_rows: list[tuple] = []
    for r in range(1, rounds + 1):
        n_pieces = len(v)
        t_total = sum(v.values())
        top_cnt, top_piece = min((-c, p) for p, c in v.items())
        sc = _driver_scores(v)
        seg_rows = []
        for w, f in rows:
            segs, ll, npieces = _driver_viterbi(w, sc)
            seg_rows.append((w, f, segs, ll, npieces))
        n_seg_tokens = sum(f * np for _w, f, _s, _ll, np in seg_rows)
        sll = sum(f * ll for _w, f, _s, ll, _np in seg_rows)
        # negate-divide-negate on exact ints: -sll >= 0 (scores are
        # negative), so Python // == Spark's truncating div
        ll_micro = -((-sll) // 1000)
        traj.append(
            (r, n_pieces, t_total, top_piece, -top_cnt, n_seg_tokens, ll_micro)
        )
        if r < rounds:
            rc: dict[str, int] = {}
            for _w, f, segs, _ll, _np in seg_rows:
                for p in segs:
                    rc[p] = rc.get(p, 0) + f
            v = _driver_prune(rc, singles, multi)

    traj_df = spark.createDataFrame(
        traj,
        schema="round int, n_pieces long, t_total long, top_piece string,"
        " top_cnt long, n_seg_tokens long, ll_micro long",
    )
    seg_df = spark.createDataFrame(
        seg_rows,
        schema="w string, f long, segs array<string>, ll long,"
        " npieces long",
    )
    v_df = spark.createDataFrame(
        sorted(v.items()), schema="piece string, cnt long"
    )
    return traj_df, seg_df, v_df


def _em_rounds(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Run UNI_ROUNDS of hard EM over `documents`. Returns (unioned
    per-round trajectory frame, final segmented vocab (w, f, segs, ll,
    npieces))."""
    return _em_rounds_from_words(_seed_words(docs))[:2]


def _em_rounds_from_words(
    words: DataFrame,
    rounds: int = UNI_ROUNDS,
    multi: int = UNI_MULTI,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The EM loop proper, from any (w, f) word-frequency table — the
    batch query seeds it from one corpus pass, the streaming twin from
    the drained complete-mode word state (C147), the export product
    (C191) at its own (rounds, multi) budget. Returns (trajectory,
    final segmentation, final model (piece, cnt))."""
    # Driver EM fast path under the shared gate (gate.py): the whole
    # hard-EM loop runs in Python, replicating candidate generation, the
    # prune order, the nano-quantized pln scores (pln_py IS the same
    # IEEE op sequence as the SQL kernel — CPython doubles are binary64
    # with the identical literal values), and the packed-BIGINT Viterbi
    # DP in exact integer arithmetic; every distributed round costs ~14
    # vocab-sized Spark jobs. Equality is pinned by
    # tests/test_unigram.py::test_driver_em_equals_distributed. An empty
    # vocabulary takes the distributed loop: the driver loop has no
    # model to take a min over or to normalize scores by.
    head = gate.driver_rows(words)
    if head:
        return _driver_em(
            words.sparkSession,
            [(r.w, int(r.f)) for r in head],
            rounds,
            multi,
        )
    cand = _candidates(words)
    sub0 = _substr_counts(cand)
    singles = sub0.filter(F.length("piece") == 1).select("piece").localCheckpoint()
    v = _prune(sub0, singles, multi)

    traj: list[DataFrame] = []
    seg: DataFrame | None = None
    for r in range(1, rounds + 1):
        model_stats = v.agg(
            F.count(F.lit(1)).cast("long").alias("n_pieces"),
            F.sum("cnt").cast("long").alias("t_total"),
            F.min(
                F.struct((-F.col("cnt")).alias("nc"), F.col("piece").alias("pc"))
            ).alias("win"),
        )
        seg = _viterbi(cand, _spark_scores(v)).localCheckpoint()
        estats = seg.agg(
            F.sum(F.col("f") * F.col("npieces")).cast("long").alias("n_seg_tokens"),
            F.sum(F.col("f").cast("decimal(38,0)") * F.col("ll")).alias("sll"),
        )
        traj.append(
            model_stats.crossJoin(estats).selectExpr(
                f"CAST({r} AS INT) AS round",
                "n_pieces",
                "t_total",
                "win.pc AS top_piece",
                "CAST(-win.nc AS BIGINT) AS top_cnt",
                "n_seg_tokens",
                # negate-divide-negate: positive integer division only
                "CAST(-((-sll) div 1000) AS BIGINT) AS ll_micro",
            )
        )
        if r < rounds:
            v = _prune(_recount(seg), singles, multi)
    out = traj[0]
    for t in traj[1:]:
        out = out.unionByName(t)
    assert seg is not None  # rounds >= 1
    return out, seg, v


# ---------------------------------------------------------------------
# DuckDB oracle: the full EM loop replayed as unrolled MATERIALIZED
# rounds (default CTE inlining re-expands the multiply-referenced
# chain exponentially — same discipline as the BPE/Lloyd/CC oracles).
# ---------------------------------------------------------------------


def _o_scores(prev: str, r: int) -> str:
    return f"""sc{r} AS MATERIALIZED (
  SELECT piece, {_SC_SQL} AS sc FROM (
    SELECT piece, e, t, t * t AS t2 FROM (
      SELECT piece, e, {_T_SQL} AS t FROM (
        SELECT piece, {ln_exp_case('p')} AS e, p * {ln_scale_case('p')} AS m FROM (
          SELECT piece, {_P_SQL} AS p
          FROM {prev}, (SELECT CAST(sum(cnt) AS BIGINT) AS t_total FROM {prev}) tt
        ) q0
      ) q1
    ) q2
  ) q3
)"""


def _o_viterbi(r: int) -> str:
    """FULLY RELATIONAL Viterbi — recursive CTEs, zero lambdas.

    The first oracle form folded the DP with list_reduce and indexed
    the resulting list downstream; DuckDB 1.0 corrupts LISTS PRODUCED
    BY list_reduce under parallelism (observed twice this round: list
    fields inside struct accumulators come back holding only the last
    append, and a list_transform indexing a reduce-produced `path`
    list returned truncated segmentations that flapped run-to-run at
    sf0.01 — scalar-accumulator folds like the BPE string fold are
    unaffected). The rewrite carries a 4-deep sliding window of dp
    values through a recursive CTE (dp[i] needs only dp[i-4..i-1]
    because pieces are <= UNI_L chars) and backtracks through a second
    recursion over the materialized (w, i, enc) table — plain joins
    and GROUP BYs, nothing for the lambda engine to mis-vectorize."""
    cand_l = []
    for l in range(1, UNI_L + 1):
        cand_l.append(
            f"coalesce((d.d{l - 1} // 128 - {_OFF} + coalesce(c.sc{l}, {_SENT})"
            f" + {_OFF}) * 128 + (127 - (d.i - {l - 1})), 0)"
        )
    scs = ",\n         ".join(
        f"max(CASE WHEN l = {l} THEN sc END) AS sc{l}" for l in range(1, UNI_L + 1)
    )
    cands = ",\n           ".join(cand_l)
    return f"""cpos{r} AS MATERIALIZED (
  SELECT q.w, q.i, q.l, k.sc
  FROM (
    SELECT s.w, a.i, b.l,
           substring(s.w, CAST(a.i - b.l + 1 AS INT), CAST(b.l AS INT)) AS piece
    FROM seed s,
         unnest(range(1, len(s.w) + 1)) AS a(i),
         unnest(range(1, least({UNI_L}, a.i) + 1)) AS b(l)
  ) q LEFT JOIN sc{r} k ON k.piece = q.piece
),
cs{r} AS MATERIALIZED (
  SELECT w, i,
         {scs}
  FROM cpos{r} GROUP BY w, i
),
dpr{r} AS (
  SELECT s.w, CAST(0 AS BIGINT) AS i, CAST({_ENC0} AS BIGINT) AS d0,
         CAST(NULL AS BIGINT) AS d1, CAST(NULL AS BIGINT) AS d2,
         CAST(NULL AS BIGINT) AS d3, CAST(len(s.w) AS BIGINT) AS n
  FROM seed s
  UNION ALL
  SELECT d.w, d.i + 1,
         greatest(
           {cands}
         ) AS d0,
         d.d0 AS d1, d.d1 AS d2, d.d2 AS d3, d.n
  FROM dpr{r} d JOIN cs{r} c ON c.w = d.w AND c.i = d.i + 1
  WHERE d.i < d.n
),
dpt{r} AS MATERIALIZED (SELECT w, i, d0 AS enc FROM dpr{r}),
btp{r} AS (
  SELECT s.w, CAST(len(s.w) AS BIGINT) AS i FROM seed s
  UNION ALL
  SELECT b.w, 127 - (t.enc % 128) AS i
  FROM btp{r} b JOIN dpt{r} t ON t.w = b.w AND t.i = b.i
  WHERE b.i > 0
),
segp{r} AS MATERIALIZED (
  SELECT b.w, substring(b.w, CAST(127 - (t.enc % 128) AS INT) + 1,
                        CAST(b.i - (127 - (t.enc % 128)) AS INT)) AS piece
  FROM btp{r} b JOIN dpt{r} t ON t.w = b.w AND t.i = b.i
  WHERE b.i > 0
),
seg{r} AS MATERIALIZED (
  SELECT s.w, s.f,
         t.enc // 128 - {_OFF} AS ll,
         bc.np AS npieces
  FROM seed s
  JOIN dpt{r} t ON t.w = s.w AND t.i = len(s.w)
  JOIN (SELECT w, CAST(count(*) AS BIGINT) AS np FROM segp{r} GROUP BY w) bc
    ON bc.w = s.w
)"""


def _o_prune(src: str, out: str, multi: int = UNI_MULTI) -> str:
    return f"""{out} AS MATERIALIZED (
  SELECT s.piece, CAST(coalesce(c.cnt, 0) + 1 AS BIGINT) AS cnt
  FROM singles s LEFT JOIN {src} c USING (piece)
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM {src} WHERE len(piece) >= 2
    ORDER BY cnt DESC, piece LIMIT {multi}) m
)"""


def _oracle(
    rounds: int = UNI_ROUNDS,
    final_select: str | None = None,
    multi: int = UNI_MULTI,
) -> str:
    ctes = [
        f"""seed AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents) u
  WHERE w <> '' AND len(w) <= {_MAX_WLEN} GROUP BY w
)""",
        f"""cand AS MATERIALIZED (
  SELECT DISTINCT s.w, s.f,
         substring(s.w, CAST(a.i AS INT), CAST(b.l AS INT)) AS piece
  FROM seed s, unnest(range(1, len(s.w) + 1)) AS a(i),
       unnest(range(1, least({UNI_L}, len(s.w) - a.i + 1) + 1)) AS b(l)
)""",
        """sub0 AS MATERIALIZED (
  SELECT piece, CAST(sum(f) AS BIGINT) AS cnt FROM cand GROUP BY piece
)""",
        """singles AS MATERIALIZED (
  SELECT piece FROM sub0 WHERE len(piece) = 1
)""",
        _o_prune("sub0", "v0", multi),
    ]
    selects = []
    for r in range(1, rounds + 1):
        ctes.append(_o_scores(f"v{r - 1}", r))
        ctes.append(_o_viterbi(r))
        if r < rounds:
            ctes.append(
                f"""rc{r} AS MATERIALIZED (
  SELECT piece, CAST(sum(f) AS BIGINT) AS cnt FROM (
    SELECT p.piece, s.f FROM segp{r} p JOIN seed s ON s.w = p.w) e
  GROUP BY piece
)"""
            )
            ctes.append(_o_prune(f"rc{r}", f"v{r}", multi))
        selects.append(
            f"""SELECT CAST({r} AS INT) AS round,
  (SELECT CAST(count(*) AS BIGINT) FROM v{r - 1}) AS n_pieces,
  (SELECT CAST(sum(cnt) AS BIGINT) FROM v{r - 1}) AS t_total,
  (SELECT piece FROM v{r - 1} ORDER BY cnt DESC, piece LIMIT 1) AS top_piece,
  (SELECT cnt FROM v{r - 1} ORDER BY cnt DESC, piece LIMIT 1) AS top_cnt,
  CAST(sum(f * npieces) AS BIGINT) AS n_seg_tokens,
  CAST(-((-sum(CAST(f AS HUGEINT) * ll)) // 1000) AS BIGINT) AS ll_micro
FROM seg{r}"""
        )
    if final_select is not None:
        return (
            "WITH RECURSIVE "
            + ",\n".join(ctes)
            + "\n"
            + final_select.format(final=f"seg{rounds}")
        )
    return (
        "WITH RECURSIVE "
        + ",\n".join(ctes)
        + "\nSELECT * FROM (\n"
        + "\nUNION ALL\n".join(selects)
        + "\n) ORDER BY round"
    )


@query("q_unigram_train", oracle=_oracle())
def q_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C145: hard-EM unigram-LM tokenizer training over `documents` —
    UNI_ROUNDS rounds, one trajectory row per round: model size and
    count total BEFORE the round's E-step, the top piece (count DESC,
    piece ASC — the min(struct) argmax), the weighted segmented-token
    total, and the corpus log-likelihood in micro-nats (DECIMAL-
    accumulated BIGINT — exact, so the hash certifies every per-word
    Viterbi DP value across the whole vocabulary)."""
    traj, _seg = _em_rounds(load(spark, sf_dir, "documents"))
    return traj.orderBy("round")


# ---------------------------------------------------------------------
# C147 — streaming-maintained unigram-LM vocabulary: the C138 pattern
# (stateful doc dedup over the duplicate-injecting wire + complete-mode
# word counts) feeding the SAME EM loop and the SAME oracle, so one
# hash certifies streaming-maintained vocab == batch vocab ==
# independent replay.
# ---------------------------------------------------------------------


@query("q_stream_unigram", oracle=_oracle())
def q_stream_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C147: q_unigram_train with the word-frequency table maintained
    INCREMENTALLY by the streaming engine — documents arrive over
    micro-batches on the duplicate-injecting corpus wire, pass through
    stateful doc_id dedup (without it every duplicated file would
    double the counts and the EM trajectory would diverge from the
    oracle), and a complete-mode groupBy(word) keeps the running
    frequencies; the drained table enters _em_rounds_from_words.
    Dedup state is linear in distinct doc ids; the word state is
    vocabulary-sized — both the C138-measured guarantees."""
    import os

    from kafka_clickhouse_implementation_spark.streaming.corpus_stream import document_wire
    from kafka_clickhouse_implementation_spark.streaming.drain import drain

    wire, base = document_wire(spark, sf_dir)
    vocab_counts = (
        read_wire(spark, wire, 4)
        .dropDuplicates(["doc_id"])
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(f"w <> '' AND length(w) <= {_MAX_WLEN}")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    drain(
        spark,
        (
            vocab_counts, "unigram_vocab_stream",
            os.path.join(base, "ckpt_unigram_vocab"), "complete",
        ),
    )
    traj, _seg, _v = _em_rounds_from_words(spark.table("unigram_vocab_stream"))
    return traj.orderBy("round")


_TOKENIZE_FINAL = f"""SELECT cw.source,
  CAST(sum(cw.c) AS BIGINT) AS n_words,
  CAST(sum(cw.c * g.npieces) AS BIGINT) AS n_tokens,
  CAST((1000 * sum(cw.c * g.npieces)) // sum(cw.c) AS BIGINT) AS fertility_milli
FROM (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents) u
  WHERE w <> '' AND len(w) <= {_MAX_WLEN} GROUP BY source, w
) cw JOIN {{final}} g ON cw.w = g.w
GROUP BY cw.source"""

# Broadcast the vocab-sized segmentation only while it is provably
# small — THE bpe guard, imported so the two tokenizer tiers cannot
# drift (at 100 TB the word vocabulary is no longer a broadcast
# candidate; above the cap the join falls back to a key shuffle).
from kafka_clickhouse_implementation_spark.operators.bpe import (  # noqa: E402
    BROADCAST_VOCAB_MAX,
)


@query("q_unigram_tokenize", oracle=_oracle(final_select=_TOKENIZE_FINAL))
def q_unigram_tokenize(
    spark: SparkSession, sf_dir: str, force_shuffle: bool = False
) -> DataFrame:
    """C146: tokenize the corpus under the trained unigram LM — the
    production half of C145 (train once, encode everything), mirroring
    the BPE pair C135/C140. The final per-WORD segmentation falls out
    of the last E-step; ONE equi-join on the word carries it back to
    the per-(source, word) corpus counts — broadcast below
    BROADCAST_VOCAB_MAX distinct words, shuffle-join above
    (`force_shuffle` pins the big-vocab path in tests, mirroring
    q_bpe_tokenize). Fertility = floor(1000 * tokens / words),
    positive ints, so Spark div == DuckDB //."""
    docs = load(spark, sf_dir, "documents")
    _traj, seg = _em_rounds(docs)
    pieces = seg.select("w", "npieces")
    if not force_shuffle and pieces.count() <= BROADCAST_VOCAB_MAX:
        pieces = F.broadcast(pieces)
    cw = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter(f"w <> '' AND length(w) <= {_MAX_WLEN}")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return (
        cw.join(pieces, "w")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.col("npieces")).cast("long").alias("n_tokens"),
        )
        .selectExpr(
            "source",
            "n_words",
            "n_tokens",
            "CAST((1000 * n_tokens) div n_words AS BIGINT) AS fertility_milli",
        )
    )


# ---------------------------------------------------------------------
# C191 — the unigram-LM tokenizer as a WRITTEN artifact (round 15, the
# r14 verdict's #2): C190 ships the BPE merge table as a certified file
# product; the SentencePiece-style sibling had no written form. A
# unigram release is the PIECE table with scores (SentencePiece's
# .model is exactly (piece, log-prob)); beside it we persist the final
# per-word SEGMENTATION (the inference cache the C146 tokenize join
# consumes). Both are written once per testdata identity + trainer
# config at the EXPORT budget (one more EM round and a larger piece
# inventory than the teaching trajectory — the converged model a
# release would ship), read back, and certified row-for-row against
# the independent unrolled-EM DuckDB replay: one hash covers every
# piece's model count, its nano-quantized score, and its weighted
# usage in the final segmentation — so a corrupt/truncated/stale
# pieces OR segmentation file hash-fails. Scale: both artifacts are
# model-sized (pieces: singles + UNI_EXPORT_MULTI rows; segmentation:
# one row per distinct word — vocabulary-, never corpus-sized).
# ---------------------------------------------------------------------

UNI_EXPORT_ROUNDS = 4  # one past the teaching trajectory (converged)
UNI_EXPORT_MULTI = 160  # production-shaped piece inventory


def write_unigram_tokenizer(spark: SparkSession, sf_dir: str) -> str:
    """Persist (pieces, seg) under one source-identity- AND
    config-tagged root (the r15 product-tag rule: a budget change must
    rebuild, not serve stale files); returns the root."""
    from kafka_clickhouse_implementation_spark.cachedirs import (
        product_dir,
        publish_product,
    )

    def build() -> dict[str, DataFrame]:
        words = _seed_words(load(spark, sf_dir, "documents"))
        _traj, seg, model = _em_rounds_from_words(
            words, rounds=UNI_EXPORT_ROUNDS, multi=UNI_EXPORT_MULTI
        )
        pieces = model.join(
            _spark_scores(model).withColumnRenamed("sc", "score_nano"), "piece"
        )
        return {"pieces": pieces, "seg": seg}

    return publish_product(
        product_dir(
            f"unitok_r{UNI_EXPORT_ROUNDS}m{UNI_EXPORT_MULTI}L{UNI_L}",
            sf_dir,
            "documents",
        ),
        build,
    )


def _export_oracle() -> str:
    r = UNI_EXPORT_ROUNDS
    final = f"""
, pu AS MATERIALIZED (
  SELECT p.piece, CAST(sum(s.f) AS BIGINT) AS seg_cnt,
         CAST(count(DISTINCT p.w) AS BIGINT) AS n_words_using
  FROM segp{r} p JOIN seed s ON s.w = p.w GROUP BY p.piece
)
SELECT v.piece, v.cnt, k.sc AS score_nano,
       coalesce(u.seg_cnt, CAST(0 AS BIGINT)) AS seg_cnt,
       coalesce(u.n_words_using, CAST(0 AS BIGINT)) AS n_words_using
FROM v{r - 1} v JOIN sc{r} k USING (piece)
LEFT JOIN pu u USING (piece)
ORDER BY piece"""
    return _oracle(
        rounds=UNI_EXPORT_ROUNDS,
        final_select=final,
        multi=UNI_EXPORT_MULTI,
    )


@query("q_unigram_tokenizer_export", oracle=_export_oracle())
def q_unigram_tokenizer_export(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """C191: the unigram-LM tokenizer certified FROM THE FILES — the
    hard-EM trainer's final model at the export budget
    (UNI_EXPORT_ROUNDS x UNI_EXPORT_MULTI) written once as (piece,
    cnt, score_nano) plus the final per-word segmentation table, both
    read back; each piece row joins its weighted usage (sum of word
    frequencies over its occurrences in the stored segmentations) and
    word coverage, and the whole table hash-checks against the
    independent DuckDB replay of the full EM loop at the same budget.
    Tokenizer-family parity with C190: both tokenizer tiers now ship
    release artifacts, certified row-for-row."""
    from kafka_clickhouse_implementation_spark.cachedirs import read_product

    tok = read_product(spark, write_unigram_tokenizer(spark, sf_dir))
    pieces, seg = tok["pieces"], tok["seg"]
    use = (
        seg.select("w", "f", F.explode("segs").alias("piece"))
        .groupBy("piece")
        .agg(
            F.sum("f").cast("long").alias("seg_cnt"),
            F.countDistinct("w").cast("long").alias("n_words_using"),
        )
    )
    return (
        pieces.join(use, "piece", "left")
        .select(
            "piece",
            "cnt",
            "score_nano",
            F.coalesce("seg_cnt", F.lit(0).cast("long")).alias("seg_cnt"),
            F.coalesce("n_words_using", F.lit(0).cast("long")).alias(
                "n_words_using"
            ),
        )
        .orderBy("piece")
    )


# ---------------------------------------------------------------------
# C194 — UNIGRAM-tokenized packed shards (round 15): the r14 verdict's
# missing-list #2 ended "...and no shard product can ride it". C191
# ships the unigram tokenizer as files; this packs the corpus slice
# THROUGH those files — the C177 recipe with the EM segmentation in
# place of the BPE one, so both tokenizer families now back a written,
# read-back-certified training product. The per-word ordered piece
# table falls out of the persisted segmentation arrays (posexplode);
# the oracle re-derives the SAME ordered pieces from its backtrack
# recursion (start position = 127 - (enc % 128), rank by start), then
# replays vocabulary ranking, the (doc_id, widx, pidx) global order,
# EOS-per-doc, and the per-sequence rollup — the C177 oracle shape
# verbatim over the EM chain.
#
# Scale shape: identical to C177 — the segmentation join is one
# equi-join on the word (byte-gated broadcast), both global orders are
# ranged_prefix, the shuffle carries (seq_id, pos, tok_id) ints. The
# slice (doc_id % 10) bounds the ORACLE's stream volume, the Spark
# side is the full packing plan.
# ---------------------------------------------------------------------


def _unigram_pack_inputs(
    spark: SparkSession, root: str
) -> tuple[DataFrame, DataFrame]:
    """(wpieces, vocab) derived from the PERSISTED C191 segmentation
    table — the ordered per-word piece rows fall out of the stored segs
    arrays (posexplode), the vocabulary is the ranked distinct pieces.
    Shared by the batch product (C194) and its streaming twin (C195) so
    both certify the same release artifact."""
    from kafka_clickhouse_implementation_spark.cachedirs import read_product
    from kafka_clickhouse_implementation_spark.pipelines.shards import (
        token_vocab,
    )

    seg = read_product(spark, root)["seg"]
    wpieces = seg.select(
        "w", F.posexplode("segs").alias("pidx0", "piece")
    ).select(
        "w",
        (F.col("pidx0") + 1).cast("long").alias("pidx"),
        "piece",
    )
    return wpieces, token_vocab(wpieces)


def unigram_shards_product(spark: SparkSession, sf_dir: str) -> str:
    """Write the unigram-tokenized shard product inside the C191 root
    (``packed/shards``, partitioned by shard, so a tokenizer rebuild
    deletes it too); returns the shards dir."""
    import os

    from kafka_clickhouse_implementation_spark.cachedirs import publish_product
    from kafka_clickhouse_implementation_spark.pipelines.shards import (
        pack_sequences,
        wpieces_fits_broadcast,
    )

    root = write_unigram_tokenizer(spark, sf_dir)

    def build() -> dict[str, DataFrame]:
        wpieces, vocab = _unigram_pack_inputs(spark, root)
        docs = (
            load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 10 == 0)
            .select("doc_id", "source", "text")
        )
        shards = pack_sequences(
            docs, wpieces, vocab, wp_broadcast=wpieces_fits_broadcast(wpieces)
        )
        return {"shards": shards}

    packed = publish_product(
        os.path.join(root, "packed"), build, partition_by={"shards": "shard"}
    )
    return os.path.join(packed, "shards")


def _unigram_shards_oracle() -> str:
    r = UNI_EXPORT_ROUNDS
    eos = "</s>"
    eos_widx = 2**31 - 1
    seq_len = 128  # pipelines.shards.SEQ_LEN (kept literal: the oracle
    # string is built at import time, before pipelines load)
    final = f"""
, pord AS MATERIALIZED (
  SELECT b.w,
         substring(b.w, CAST(127 - (t.enc % 128) AS INT) + 1,
                   CAST(b.i - (127 - (t.enc % 128)) AS INT)) AS piece,
         127 - (t.enc % 128) AS s
  FROM btp{r} b JOIN dpt{r} t ON t.w = b.w AND t.i = b.i
  WHERE b.i > 0
), upieces AS MATERIALIZED (
  SELECT w, piece,
         CAST(row_number() OVER (PARTITION BY w ORDER BY s) AS BIGINT)
           AS pidx
  FROM pord
), uvocab AS MATERIALIZED (
  SELECT piece, CAST(row_number() OVER (ORDER BY piece) AS BIGINT) AS tok_id
  FROM (SELECT DISTINCT piece FROM upieces)
  UNION ALL
  SELECT '{eos}' AS piece, CAST(0 AS BIGINT) AS tok_id
), udocs AS MATERIALIZED (
  SELECT doc_id, source, text FROM documents WHERE doc_id % 10 = 0
), uwords AS (
  SELECT doc_id, source, CAST(u.i + 1 AS BIGINT) AS widx,
         l[CAST(u.i + 1 AS INTEGER)] AS w
  FROM (SELECT doc_id, source, string_split(text, ' ') AS l FROM udocs),
       unnest(range(len(l))) AS u(i)
), ustream AS MATERIALIZED (
  SELECT t.doc_id, t.source, v.tok_id,
         row_number() OVER (ORDER BY t.doc_id, t.widx, t.pidx) - 1 AS pos
  FROM (
    SELECT wo.doc_id, wo.source, wo.widx, up.pidx, up.piece
    FROM (SELECT * FROM uwords WHERE w <> '') wo
    JOIN upieces up USING (w)
    UNION ALL
    SELECT doc_id, source, CAST({eos_widx} AS BIGINT) AS widx,
           CAST(1 AS BIGINT) AS pidx, '{eos}' AS piece
    FROM udocs
  ) t JOIN uvocab v USING (piece)
), useqsrc AS (
  SELECT seq_id, string_agg(source, ',' ORDER BY source) AS sources
  FROM (SELECT DISTINCT pos // {seq_len} AS seq_id, source FROM ustream)
  GROUP BY seq_id
), useqs AS (
  SELECT pos // {seq_len} AS seq_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(min(doc_id) AS BIGINT) AS first_doc,
         CAST(max(doc_id) AS BIGINT) AS last_doc,
         md5(string_agg(CAST(tok_id AS VARCHAR), ',' ORDER BY pos)) AS fp
  FROM ustream GROUP BY pos // {seq_len}
)
SELECT CAST(s.seq_id AS BIGINT) AS seq_id, s.n_tokens, s.n_docs,
       s.first_doc, s.last_doc, x.sources, s.fp
FROM useqs s JOIN useqsrc x USING (seq_id)"""
    return _oracle(
        rounds=UNI_EXPORT_ROUNDS,
        final_select=final,
        multi=UNI_EXPORT_MULTI,
    )


@query("q_token_shards_unigram", oracle=_unigram_shards_oracle())
def q_token_shards_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C194: packed training shards tokenized by the UNIGRAM-LM
    release artifact — the corpus slice segmented through the
    persisted C191 segmentation table, token ids from the ranked
    distinct-piece vocabulary (EOS = 0), positions via ranged_prefix
    over (doc_id, widx, pidx), SEQ_LEN rows written partitioned by
    shard, read back with n_tokens and the content fingerprint
    re-derived from the on-disk arrays. One hash certifies the EM
    training, the stored segmentation, the token-id assignment, the
    packing order, and the written files — the BPE pack's C177
    certification, now on the second tokenizer family. Words longer
    than {_MAX_WLEN} chars are outside the tokenizer's domain (module
    docstring) and are skipped by both engines; every doc still
    contributes its EOS."""
    from kafka_clickhouse_implementation_spark.pipelines.shards import read_shards

    return read_shards(spark, unigram_shards_product(spark, sf_dir))


# ---------------------------------------------------------------------
# C195 — STREAMING-built unigram shards (round 15): the -State twin of
# C194, closing the pattern every other shard product already carries
# (C179 for the BPE pack, C185/C186 for the resampled mixture, C192
# for the curriculum pack). The corpus slice arrives over the
# duplicate-injecting document wire; the C152 stateful doc_id dedup
# collapses redeliveries ACROSS micro-batch boundaries (the wire's
# dup-*.json files land in later triggers by mtime order); the drained
# set takes the parquet scan's place in the IDENTICAL segment→pack
# plan over the PERSISTED C191 artifacts — checked against the
# UNCHANGED C194 oracle. One hash certifies that unigram shard content
# built from streamed, duplicate-polluted ingest equals the batch
# product bit for bit. Document text rides the WIRE (a corrupted or
# doubled payload changes segmentation coverage or packing order and
# hash-fails loudly); only `source` — absent from the wire schema —
# joins back from the table by doc_id, exactly the C179 convention.
#
# Scale shape: the streaming stages are the C152 dedup state (digests,
# not text, in the state store) + one availableNow drain; everything
# downstream is the certified C194 plan (one byte-gated broadcast
# equi-join on the word, ranged_prefix global order, int-only shuffle).
# ---------------------------------------------------------------------


@query("q_stream_token_shards_unigram", oracle=_unigram_shards_oracle())
def q_stream_token_shards_unigram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """C195: unigram-tokenized shards from streamed ingest — the C179
    -State certification on the second tokenizer family. The wire
    re-delivers every document; dropDuplicates state must carry across
    micro-batches for the pack to equal the batch product (pytest pins
    the dup-injection is live). The tokenizer artifacts are raw-corpus
    products (train once, encode everything) and load from the C191
    root; only the PACKED SLICE comes from the wire — that is what the
    twin certifies."""
    from kafka_clickhouse_implementation_spark.pipelines.shards import (
        pack_sequences,
        streamed_slice,
        wpieces_fits_broadcast,
    )

    # the C194 slice, drained from the wire
    docs = streamed_slice(spark, sf_dir, "unishard_docs_table", "ckpt_unishard_docs")
    root = write_unigram_tokenizer(spark, sf_dir)
    wpieces, vocab = _unigram_pack_inputs(spark, root)
    return pack_sequences(
        docs, wpieces, vocab,
        wp_broadcast=wpieces_fits_broadcast(wpieces),
    ).select(
        "seq_id",
        "n_tokens",
        "n_docs",
        "first_doc",
        "last_doc",
        "sources",
        F.md5(
            F.concat_ws(
                ",", F.expr("transform(tok_ids, t -> CAST(t AS STRING))")
            ).cast("binary")
        ).alias("fp"),
    )
