"""C135 — distributed BPE merge learning (tokenizer training).

The one first-class LLM-training-data operation the corpus tier did
not yet cover: LEARNING a byte-pair-encoding merge table from the
corpus (Sennrich et al. 2016 — the algorithm every GPT/Llama tokenizer
descends from), as opposed to merely counting tokens with a fixed
BPE-ish regex (q_token_count_bpe). Reference repo scope: the tutorial
(kafka+clickhouse.md) processes raw event/text rows; tokenizer
training is part of the Tier-C training-pipeline closure, not a
reference operator.

Spark-first shape — the classic two-phase factorization:

1. ONE corpus pass builds the word-frequency table (groupBy word,
   map-side partial agg). Everything after runs on the VOCABULARY
   (distinct words), which is heavy-hitter-bounded: millions of rows
   at 100 TB, never corpus-sized.
2. Per merge round over the vocab: adjacent-symbol pairs via
   zip_with(slice, slice) → explode → one vocab-sized shuffle keyed on
   the pair → the winner is a TakeOrdered(1) with a deterministic tie
   order (count DESC, then lexicographic pair). The only driver
   traffic per round is that ONE model row (the winning pair) plus a
   1-row symbol total — bounded by the model, like the Lloyd loops in
   clustering.py.

Merge application is CANONICAL greedy left-to-right, expressed as a
left fold that both engines run with identical semantics: each word is
kept as a space-delimited symbol string ``' s1 s2 ... sk '`` and the
fold appends one symbol at a time, collapsing ``... a | x=b`` into
``... ab`` when the accumulated tail is exactly ``' a '`` (symbols
never contain spaces, so the check is boundary-exact; a freshly merged
token can never cascade within the same round because ``a || b`` is
strictly longer than either side). Spark runs it as an ``aggregate``
HOF, DuckDB as ``list_reduce`` with a prepended ``' '`` seed — a plain
string ``replace`` is NOT canonical on same-symbol runs (a run of six
``a`` must merge to ``aa aa aa``, but space-consuming replace strands
``aa a aa a``; unit-tested in tests/test_bpe.py).

The DuckDB oracle replays the full training loop independently: R
unrolled rounds of MATERIALIZED CTEs (pair counts → winner → fold
apply), the same trick as the Lloyd/connected-components oracles —
MATERIALIZED is load-bearing, DuckDB's default inlining re-expands the
multiply-referenced round chain exponentially.

Portability: symbols are drawn from [a-z] plus the ``_`` end-of-word
marker, so every literal embedded in the fold expression is SQL-safe
and string comparisons are pure-ASCII binary in both engines; all
counts are BIGINT sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_clickhouse_implementation_spark import gate
from kafka_clickhouse_implementation_spark.io import load
from kafka_clickhouse_implementation_spark.registry import query
from kafka_clickhouse_implementation_spark.sources.streams import read_wire

# Number of learned merges. At the test corpus's 31-word vocabulary
# the pair table never exhausts inside 12 rounds (guarded in pytest);
# real corpora exhaust only at vocab-sized R.
BPE_ROUNDS = 12

# End-of-word marker appended as its own symbol (the '</w>' of the
# original paper, shortened to keep fold literals single-char).
_EOW = "_"

_SCHEMA = T.StructType(
    [
        T.StructField("merge_rank", T.IntegerType(), False),
        T.StructField("left_sym", T.StringType(), False),
        T.StructField("right_sym", T.StringType(), False),
        T.StructField("merged", T.StringType(), False),
        T.StructField("pair_count", T.LongType(), False),
        T.StructField("syms_before", T.LongType(), False),
    ]
)


def _fold_step_sql(wa: str, wb: str) -> str:
    """Spark-side canonical-greedy fold step for merging (wa, wb); the
    pair is a driver-known literal (it IS the model, like a Lloyd
    centroid codebook).

    The symbols are interpolated into SQL string literals, so the
    [a-z_] alphabet the module docstring promises is enforced HERE,
    not assumed: a corpus token containing a quote or backslash would
    otherwise break the fold expression (or, worse, diverge from the
    oracle, which binds wa/wb as columns rather than literals)."""
    for sym in (wa, wb):
        if not sym or not all("a" <= c <= "z" or c == _EOW for c in sym):
            raise ValueError(
                f"BPE symbol {sym!r} outside the SQL-literal-safe "
                f"[a-z{_EOW}] alphabet; refusing to interpolate"
            )
    return (
        f"CASE WHEN x = '{wb}' AND endswith(acc, ' {wa} ') "
        f"THEN concat(substring(acc, 1, length(acc) - {len(wa) + 1}), "
        f"'{wa}{wb} ') "
        "ELSE concat(acc, x, ' ') END"
    )


def _driver_vocab(vocab: DataFrame) -> tuple[int, list[tuple] | None]:
    """(wsum, rows) for the trainers' driver fast path under the shared
    gate (gate.py): the symbolized vocab is collected (w, s, f) and the
    merge loop runs in Python, replicating _pair_frame / the
    canonical-greedy fold / the (cnt DESC, a, b) winner order exactly in
    integer+string arithmetic, where every distributed round costs 1-3
    vocab-sized Spark jobs. ``rows`` is None above the gate; ``wsum``
    (the corpus word total) then comes from one aggregate instead of
    the collected rows. An empty vocab stays on the driver path (wsum
    0, no rounds)."""
    got = gate.driver_rows(vocab)
    if got is None:
        wsum = vocab.agg(F.sum("f").alias("wf")).first().wf
        return int(wsum), None
    rows = [(r.w, r.s, int(r.f)) for r in got]
    return sum(f for _, _, f in rows), rows


def _check_syms(*syms: str) -> None:
    """The _fold_step_sql alphabet guard, shared by the driver path
    (same failure mode for symbols outside [a-z_])."""
    for sym in syms:
        if not sym or not all("a" <= c <= "z" or c == _EOW for c in sym):
            raise ValueError(
                f"BPE symbol {sym!r} outside the SQL-literal-safe "
                f"[a-z{_EOW}] alphabet; refusing to interpolate"
            )


def _driver_pair_stats(rows) -> tuple[dict, int]:
    """_pair_frame in Python over [(w, s, f)]: adjacent-symbol pair
    counts weighted by word frequency, plus their total."""
    pc: dict[tuple[str, str], int] = {}
    tot = 0
    for _w, s, f in rows:
        syms = s.strip().split(" ")
        for i in range(len(syms) - 1):
            k = (syms[i], syms[i + 1])
            pc[k] = pc.get(k, 0) + f
            tot += f
    return pc, tot


def _driver_fold(s: str, rules: list[tuple[str, str]]) -> str:
    """The canonical-greedy left fold (_fold_step_sql /
    _fold_step_multi_sql) in Python: acc starts ' ', each symbol either
    completes the first rule whose wb it is while acc ends ' wa '
    (drop the trailing 'wa ', append 'wawb ') or appends as 'x '."""
    acc = " "
    for x in s.strip().split(" "):
        for wa, wb in rules:
            if x == wb and acc.endswith(f" {wa} "):
                acc = acc[: -(len(wa) + 1)] + wa + wb + " "
                break
        else:
            acc = acc + x + " "
    return acc


def _pair_frame(cur: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts over the vocab, weighted by word
    frequency — zip_with over two slices (one evaluation per row; HOFs
    get no CSE, so the structs are built in a single lambda)."""
    return (
        cur.selectExpr("split(trim(s), ' ') AS l", "f")
        .selectExpr(
            "explode(zip_with(slice(l, 1, size(l) - 1),"
            " slice(l, 2, size(l) - 1),"
            " (x, y) -> struct(x AS a, y AS b))) AS p",
            "f",
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("f").alias("cnt"))
    )


def _oracle_sql(rounds: int = BPE_ROUNDS, final_select: str | None = None) -> str:
    """Full independent replay: R unrolled MATERIALIZED rounds of
    (pair counts -> deterministic winner -> canonical fold apply).
    `final_select` overrides the trajectory output (the tokenize query
    reads the final segmented vocab w{rounds} instead); the word
    column rides through every round either way."""
    ctes = [
        "w0 AS MATERIALIZED (\n"
        "  SELECT w, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') || '"
        + _EOW
        + " ' AS s,\n"
        "         CAST(count(*) AS BIGINT) AS f\n"
        "  FROM (SELECT unnest(string_split(text, ' ')) AS w"
        " FROM documents) u\n"
        "  WHERE w <> '' GROUP BY w\n"
        ")",
        "tot AS MATERIALIZED (SELECT CAST(sum(f) AS BIGINT) AS wsum"
        " FROM w0)",
    ]
    selects = []
    for r in range(1, rounds + 1):
        prev = f"w{r - 1}"
        ctes.append(
            f"mp{r} AS MATERIALIZED (\n"
            f"  SELECT a, b, CAST(sum(f) AS BIGINT) AS cnt FROM (\n"
            f"    SELECT unnest(l[1:len(l) - 1]) AS a,"
            f" unnest(l[2:len(l)]) AS b, f\n"
            f"    FROM (SELECT string_split(trim(s), ' ') AS l, f"
            f" FROM {prev}) t{r}) mpp{r}\n"
            f"  GROUP BY a, b\n"
            f")"
        )
        ctes.append(
            f"ms{r} AS MATERIALIZED (SELECT a AS wa, b AS wb, cnt"
            f" FROM mp{r} ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        ctes.append(
            f"w{r} AS MATERIALIZED (\n"
            f"  SELECT w, list_reduce(list_prepend(' ',"
            f" string_split(trim(s), ' ')),\n"
            f"         (acc, x) -> CASE WHEN x = wb AND"
            f" suffix(acc, ' ' || wa || ' ')\n"
            f"           THEN substr(acc, 1, len(acc) - len(wa) - 1)"
            f" || wa || wb || ' '\n"
            f"           ELSE acc || x || ' ' END) AS s, f\n"
            f"  FROM {prev}, ms{r}\n"
            f")"
        )
        selects.append(
            f"SELECT CAST({r} AS INT) AS merge_rank, wa AS left_sym,"
            f" wb AS right_sym,\n"
            f"       wa || wb AS merged, cnt AS pair_count,\n"
            f"       (SELECT CAST(sum(cnt) AS BIGINT) FROM mp{r})"
            f" + (SELECT wsum FROM tot) AS syms_before\n"
            f"FROM ms{r}"
        )
    if final_select is not None:
        return "WITH " + ",\n".join(ctes) + "\n" + final_select.format(
            final=f"w{rounds}"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT * FROM (\n"
        + "\nUNION ALL\n".join(selects)
        + "\n) ORDER BY merge_rank"
    )


@query("q_bpe_train", oracle=_oracle_sql())
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C135: learn the first BPE_ROUNDS BPE merges from `documents`.

    Output, one row per merge round: the learned pair, its weighted
    pair count, and the weighted corpus symbol total BEFORE the merge
    (the compression trajectory; = sum(pair counts) + weighted word
    count, since each word of k symbols contributes k-1 pairs).
    """
    docs = load(spark, sf_dir, "documents")
    vocab = _symbolized_vocab(
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter("w <> ''")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    return _train(spark, vocab)


def _symbolized_vocab(word_freq: DataFrame) -> DataFrame:
    """(w, f) -> (' c1 c2 ... _ ', f), distributed + lineage-truncated
    (vocab is the loop's working set; single-file scans arrive as 1
    partition otherwise)."""
    spark = word_freq.sparkSession
    return (
        word_freq.select(
            "w",
            F.concat(
                F.lit(" "),
                F.regexp_replace("w", "(.)", "$1 "),
                F.lit(_EOW + " "),
            ).alias("s"),
            "f",
        )
        .repartition(min(8, spark.sparkContext.defaultParallelism))
        .localCheckpoint()
    )


def _train_full(
    spark: SparkSession, vocab: DataFrame
) -> tuple[list[tuple], DataFrame]:
    """The shared BPE_ROUNDS merge loop over a symbolized vocab.
    Returns (trajectory rows, final segmented vocab (w, s, f))."""
    wsum, rows = _driver_vocab(vocab)
    if rows is not None:
        out = []
        for r in range(1, BPE_ROUNDS + 1):
            pc, tot = _driver_pair_stats(rows)
            if not pc:  # vocabulary fully merged
                break
            ncnt, wa, wb = min((-c, a, b) for (a, b), c in pc.items())
            _check_syms(wa, wb)
            out.append((r, wa, wb, wa + wb, -ncnt, tot + wsum))
            rules = [(wa, wb)]
            rows = [(w, _driver_fold(s, rules), f) for w, s, f in rows]
        return out, spark.createDataFrame(
            rows, schema="w string, s string, f long"
        )

    out: list[tuple] = []
    cur = vocab
    for r in range(1, BPE_ROUNDS + 1):
        # ONE job per round: the argmax pair and the symbol total fold
        # into a single final aggregation over the pair table —
        # min(struct(-cnt, a, b)) is (count DESC, pair ASC), the same
        # deterministic tie order the oracle's ORDER BY uses. Driver
        # traffic stays one model row per round (the Lloyd pattern).
        row = _pair_frame(cur).agg(
            F.sum("cnt").alias("tot"),
            F.min(
                F.struct((-F.col("cnt")).alias("nc"), "a", "b")
            ).alias("win"),
        ).first()
        if row.tot is None:  # vocabulary fully merged (never at our SFs)
            break
        wa, wb, cnt = row.win.a, row.win.b, int(-row.win.nc)
        syms_before = int(row.tot) + wsum
        out.append((r, wa, wb, wa + wb, cnt, syms_before))
        cur = cur.withColumn(
            "s",
            F.expr(
                f"aggregate(split(trim(s), ' '), ' ', "
                f"(acc, x) -> {_fold_step_sql(wa, wb)})"
            ),
        )
        if r % 4 == 0:
            # truncate the nested-HOF lineage every few rounds
            cur = cur.localCheckpoint()
    return out, cur


def _train(spark: SparkSession, vocab: DataFrame) -> DataFrame:
    out, _final = _train_full(spark, vocab)
    return spark.createDataFrame(out, _SCHEMA).orderBy("merge_rank")


# ---------------------------------------------------------------------------
# C182 — BATCHED BPE merge learning (round 13): one merge per
# distributed round (C135) cannot reach a real 32k vocabulary — 32k
# sequential Spark jobs. Per round, take the top-BATCH_N pair
# candidates (one TakeOrdered, BATCH_N model rows to the driver),
# greedily keep the subset whose symbol TRIOS {a, b, a||b} are
# pairwise disjoint (deterministic rank order: count DESC, pair ASC),
# and apply them all in ONE fold. Trio-disjointness is what makes the
# batch order-independent AND count-exact: no kept rule consumes
# another kept rule's input symbols (their pair counts are therefore
# unchanged by earlier merges in the batch — merging (a,b) never
# creates or destroys a (c,d) adjacency for c,d outside {a,b}) and no
# rule's OUTPUT equals another rule's input (a pre-existing symbol
# equal to a||b would otherwise let the fold merge freshly-created
# symbols at stale counts). O(vocab) rounds become O(vocab / batch):
# the road from 12 teaching merges to a production vocabulary.
# ---------------------------------------------------------------------------

BATCH_N = 6  # candidates fetched per round (merge batch upper bound)
BATCH_ROUNDS = 4  # distributed rounds in the certified query


def _select_batch(
    cands: list[tuple[str, str, int]]
) -> list[tuple[str, str, int]]:
    """Greedy trio-disjoint subset of the ranked candidates — the
    deterministic batch rule both engines replay."""
    used: set[str] = set()
    chosen = []
    for a, b, cnt in cands:
        trio = {a, b, a + b}
        if used & trio:
            continue
        used |= trio
        chosen.append((a, b, cnt))
    return chosen


def _fold_step_multi_sql(rules: list[tuple[str, str]]) -> str:
    """One canonical-greedy fold step applying a trio-disjoint rule
    batch: chained WHENs (at most one can fire — the b symbols are
    pairwise distinct). Alphabet-validated like _fold_step_sql."""
    whens = []
    for wa, wb in rules:
        for sym in (wa, wb):
            if not sym or not all(
                "a" <= c <= "z" or c == _EOW for c in sym
            ):
                raise ValueError(
                    f"BPE symbol {sym!r} outside the SQL-literal-safe "
                    f"[a-z{_EOW}] alphabet; refusing to interpolate"
                )
        whens.append(
            f"WHEN x = '{wb}' AND endswith(acc, ' {wa} ') "
            f"THEN concat(substring(acc, 1, length(acc) - {len(wa) + 1}), "
            f"'{wa}{wb} ')"
        )
    return "CASE " + " ".join(whens) + " ELSE concat(acc, x, ' ') END"


_BATCH_SCHEMA = T.StructType(
    [
        T.StructField("merge_rank", T.LongType(), False),
        T.StructField("round", T.IntegerType(), False),
        T.StructField("left_sym", T.StringType(), False),
        T.StructField("right_sym", T.StringType(), False),
        T.StructField("merged", T.StringType(), False),
        T.StructField("pair_count", T.LongType(), False),
        T.StructField("syms_before", T.LongType(), False),
    ]
)


def _train_batched_full(
    spark: SparkSession,
    vocab: DataFrame,
    rounds: int = BATCH_ROUNDS,
    batch_n: int = BATCH_N,
) -> tuple[list[tuple], DataFrame]:
    """The batched merge loop: per round ONE aggregate (symbol total)
    + ONE TakeOrdered(batch_n) — driver traffic is batch_n model rows
    per round instead of one, and the number of corpus-vocab Spark
    jobs drops by the accepted-batch factor. Returns (trajectory rows,
    final segmented vocab)."""
    from concurrent.futures import ThreadPoolExecutor

    wsum, rows = _driver_vocab(vocab)
    if rows is not None:
        out = []
        rank = 0
        for r in range(1, rounds + 1):
            pc, tot = _driver_pair_stats(rows)
            if not pc:  # vocabulary fully merged
                break
            ranked = sorted(((-c, a, b) for (a, b), c in pc.items()))
            cands = [(a, b, -nc) for nc, a, b in ranked[:batch_n]]
            chosen = _select_batch(cands)
            syms_before = tot + wsum
            for a, b, cnt in chosen:
                _check_syms(a, b)
                rank += 1
                out.append((rank, r, a, b, a + b, cnt, syms_before))
            rules = [(a, b) for a, b, _ in chosen]
            rows = [(w, _driver_fold(s, rules), f) for w, s, f in rows]
        return out, spark.createDataFrame(
            rows, schema="w string, s string, f long"
        )

    out: list[tuple] = []
    cur = vocab
    rank = 0
    for r in range(1, rounds + 1):
        pf = _pair_frame(cur)
        # the symbol total and the top-batch_n candidates are two
        # independent actions over the same pair frame — submit both
        # from driver threads so their jobs overlap (guide §2.6); the
        # per-round wall drops to max of the two instead of their sum
        # (r15 measurement: ~0.28 s → ~0.17 s per round at sf0.1)
        with ThreadPoolExecutor(max_workers=2) as pool:
            tot_f = pool.submit(
                lambda: pf.agg(F.sum("cnt").alias("tot")).first().tot
            )
            cands_f = pool.submit(
                lambda: pf.orderBy(F.col("cnt").desc(), "a", "b")
                .limit(batch_n)
                .collect()
            )
            tot = tot_f.result()
            cand_rows = cands_f.result()
        if tot is None:  # vocabulary fully merged
            break
        cands = [(row.a, row.b, int(row.cnt)) for row in cand_rows]
        chosen = _select_batch(cands)
        syms_before = int(tot) + wsum
        for a, b, cnt in chosen:
            rank += 1
            out.append((rank, r, a, b, a + b, cnt, syms_before))
        cur = cur.withColumn(
            "s",
            F.expr(
                f"aggregate(split(trim(s), ' '), ' ', "
                f"(acc, x) -> {_fold_step_multi_sql([(a, b) for a, b, _ in chosen])})"
            ),
        ).localCheckpoint()  # each round nests a batch-wide CASE HOF
    return out, cur


def _oracle_sql_batched(
    rounds: int = BATCH_ROUNDS,
    batch_n: int = BATCH_N,
    final_select: str | None = None,
) -> str:
    """Independent DuckDB replay of the batched trainer: per unrolled
    round, pair counts -> ranked top-batch_n -> an unrolled greedy
    accept chain over VARCHAR[] state (used trios / rule lists) -> one
    multi-rule list_reduce apply keyed by list_position on the b
    symbol (b's are pairwise distinct by trio-disjointness, so the
    position lookup is unambiguous). ``final_select`` continues the
    WITH chain past the training rounds instead of emitting the
    trajectory (the _oracle_sql convention — the shard/mixture oracles
    tokenize with the final segmented vocab bw{rounds})."""
    ctes = [
        "bw0 AS MATERIALIZED (\n"
        "  SELECT w, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') || '"
        + _EOW
        + " ' AS s,\n"
        "         CAST(count(*) AS BIGINT) AS f\n"
        "  FROM (SELECT unnest(string_split(text, ' ')) AS w"
        " FROM documents) u\n"
        "  WHERE w <> '' GROUP BY w\n"
        ")",
        "btot AS MATERIALIZED (SELECT CAST(sum(f) AS BIGINT) AS wsum"
        " FROM bw0)",
    ]
    selects = []
    for r in range(1, rounds + 1):
        prev = f"bw{r - 1}"
        ctes.append(
            f"bp{r} AS MATERIALIZED (\n"
            f"  SELECT a, b, CAST(sum(f) AS BIGINT) AS cnt FROM (\n"
            f"    SELECT unnest(l[1:len(l) - 1]) AS a,"
            f" unnest(l[2:len(l)]) AS b, f\n"
            f"    FROM (SELECT string_split(trim(s), ' ') AS l, f"
            f" FROM {prev}) t{r}) bpp{r}\n"
            f"  GROUP BY a, b\n"
            f")"
        )
        ctes.append(
            f"bc{r} AS MATERIALIZED (SELECT a, b, cnt,"
            f" row_number() OVER (ORDER BY cnt DESC, a, b) AS rk"
            f" FROM bp{r} ORDER BY cnt DESC, a, b LIMIT {batch_n})"
        )
        ctes.append(
            f"bg{r}_0 AS (SELECT CAST([] AS VARCHAR[]) AS used,"
            f" CAST([] AS VARCHAR[]) AS la, CAST([] AS VARCHAR[]) AS lb,"
            f" CAST([] AS BIGINT[]) AS lc)"
        )
        for k in range(1, batch_n + 1):
            acc = (
                "c.a IS NOT NULL AND NOT list_has_any(g.used,"
                " [c.a, c.b, c.a || c.b])"
            )
            ctes.append(
                f"bg{r}_{k} AS (\n"
                f"  SELECT CASE WHEN {acc} THEN list_concat(g.used,"
                f" [c.a, c.b, c.a || c.b]) ELSE g.used END AS used,\n"
                f"         CASE WHEN {acc} THEN list_append(g.la, c.a)"
                f" ELSE g.la END AS la,\n"
                f"         CASE WHEN {acc} THEN list_append(g.lb, c.b)"
                f" ELSE g.lb END AS lb,\n"
                f"         CASE WHEN {acc} THEN list_append(g.lc, c.cnt)"
                f" ELSE g.lc END AS lc\n"
                f"  FROM bg{r}_{k - 1} g LEFT JOIN"
                f" (SELECT a, b, cnt FROM bc{r} WHERE rk = {k}) c ON true\n"
                f")"
            )
        ctes.append(
            f"br{r} AS MATERIALIZED (\n"
            f"  SELECT CAST(u.i + 1 AS BIGINT) AS j,"
            f" g.la[CAST(u.i + 1 AS INTEGER)] AS wa,"
            f" g.lb[CAST(u.i + 1 AS INTEGER)] AS wb,"
            f" g.lc[CAST(u.i + 1 AS INTEGER)] AS cnt\n"
            f"  FROM bg{r}_{batch_n} g, unnest(range(len(g.la))) AS u(i)\n"
            f")"
        )
        ctes.append(
            f"bw{r} AS MATERIALIZED (\n"
            f"  SELECT w, list_reduce(list_prepend(' ',"
            f" string_split(trim(s), ' ')),\n"
            f"    (acc, x) -> CASE WHEN list_position(lb, x) IS NOT NULL\n"
            f"        AND suffix(acc, ' ' || la[list_position(lb, x)] || ' ')\n"
            f"      THEN substr(acc, 1,"
            f" len(acc) - len(la[list_position(lb, x)]) - 1)\n"
            f"           || la[list_position(lb, x)] || x || ' '\n"
            f"      ELSE acc || x || ' ' END) AS s, f\n"
            f"  FROM {prev}, (SELECT la, lb FROM bg{r}_{batch_n}) rules{r}\n"
            f")"
        )
        selects.append(
            f"SELECT CAST({r} AS INT) AS round, j, wa, wb,"
            f" wa || wb AS merged, cnt,\n"
            f"       (SELECT CAST(sum(cnt) AS BIGINT) FROM bp{r})"
            f" + (SELECT wsum FROM btot) AS syms_before\n"
            f"FROM br{r}"
        )
    if final_select is not None:
        return "WITH " + ",\n".join(ctes) + "\n" + final_select.format(
            final=f"bw{rounds}"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT"
        " CAST(row_number() OVER (ORDER BY round, j) AS BIGINT)"
        " AS merge_rank,\n"
        "       round, wa AS left_sym, wb AS right_sym, merged,\n"
        "       cnt AS pair_count, syms_before\nFROM (\n"
        + "\nUNION ALL\n".join(selects)
        + "\n) ORDER BY merge_rank"
    )


@query("q_bpe_train_batched", oracle=_oracle_sql_batched())
def q_bpe_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C182: batched BPE merge learning — BATCH_ROUNDS distributed
    rounds, each applying up to BATCH_N trio-disjoint merges in one
    fold. Output, one row per accepted merge: global merge_rank, the
    round it landed in, the pair, its weighted count (exact at
    application time — trio-disjointness, see the section comment),
    and the round's pre-merge weighted symbol total. A pytest pins
    batch_n=1 == C135's sequential trajectory exactly
    (tests/test_bpe.py)."""
    docs = load(spark, sf_dir, "documents")
    vocab = _symbolized_vocab(
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter("w <> ''")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    out, _final = _train_batched_full(spark, vocab)
    return spark.createDataFrame(out, _BATCH_SCHEMA).orderBy("merge_rank")


# ---------------------------------------------------------------------------
# C136 — KMV set-operation estimates (ClickHouse uniq-state set algebra;
# the Theta-sketch-style intersection/Jaccard that ClickHouse itself
# approximates by combining uniq states). Lives next to the BPE trainer
# purely for module-registration convenience this round.
# ---------------------------------------------------------------------------

from kafka_clickhouse_implementation_spark.operators.sketches import (  # noqa: E402
    _EST_SQL,
    K,
)

_SETOPS_ORACLE = f"""
WITH uh AS (
  SELECT DISTINCT (CAST(ts AS DATE) - DATE '1970-01-01') % 2 AS p,
         md5(CAST(user_id AS VARCHAR)) AS h
  FROM events
),
ka AS (SELECT h FROM uh WHERE p = 0 ORDER BY h LIMIT {K}),
kb AS (SELECT h FROM uh WHERE p = 1 ORDER BY h LIMIT {K}),
ku AS (
  SELECT h FROM (
    SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb) uu
  ) d ORDER BY h LIMIT {K}
),
j AS (
  SELECT CAST(count(*) AS BIGINT) AS k_kept,
         max(h) AS kth_hash,
         CAST(sum(CASE WHEN h IN (SELECT h FROM ka)
                        AND h IN (SELECT h FROM kb)
                   THEN 1 ELSE 0 END) AS BIGINT) AS j_num
  FROM ku
),
ex AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_union,
         CAST(sum(CASE WHEN np = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS exact_inter
  FROM (SELECT h, count(DISTINCT p) AS np FROM uh GROUP BY h) g
)
SELECT k_kept, j_num,
       CAST(j_num AS DOUBLE) / CAST(k_kept AS DOUBLE) AS jaccard_est,
       ({_EST_SQL})
         * (CAST(j_num AS DOUBLE) / CAST(k_kept AS DOUBLE)) AS est_inter,
       exact_inter, exact_union,
       CAST(exact_inter AS DOUBLE) / CAST(exact_union AS DOUBLE)
         AS exact_jaccard
FROM j CROSS JOIN ex
"""


@query("q_kmv_setops", oracle=_SETOPS_ORACLE)
def q_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C136: KMV set algebra — Jaccard / intersection estimates from
    bottom-k sketches (Beyer et al. 2007; the Theta-sketch idea), over
    the even- vs odd-epoch-day user sets of `events`.

    The estimator is exact-by-construction to replay: J = |bottom_k(A
    UNION B) ∩ A ∩ B| / k, where membership of a union-bottom-k digest
    in A is EQUIVALENT to membership in bottom_k(A) (a digest among the
    k smallest of the union and belonging to A is necessarily among the
    k smallest of A) — so the whole computation touches only three
    64-row sketches after the distinct pass, and every output column
    (integer counters + IEEE-exact quotients/products) hashes
    bit-identically on both engines. Exact intersection/union ride
    along to show the estimate against the truth.

    Plan shape: one distinct shuffle on (parity, digest), TakeOrdered
    bottom-k per side (never a global sort), broadcast joins of 64-row
    sketches, one exact groupBy(digest) pass.
    """
    ev = load(spark, sf_dir, "events")
    # Parity via `%`: Spark and DuckDB both use truncated remainder
    # (sign follows the dividend), so pre-epoch odd days land in p=-1
    # on BOTH engines — a third, cross-engine-consistent group rather
    # than a divergence (same truncation agreement pinned by
    # tests/test_agg_state.py::test_week_key_portable_pre_epoch).
    uh = ev.select(
        F.expr(
            "datediff(CAST(ts AS DATE), DATE '1970-01-01') % 2"
        ).alias("p"),
        F.md5(F.col("user_id").cast("string").cast("binary")).alias("h"),
    ).distinct()
    ka = uh.filter("p = 0").select("h").orderBy("h").limit(K)
    kb = uh.filter("p = 1").select("h").orderBy("h").limit(K)
    ku = ka.union(kb).distinct().orderBy("h").limit(K)
    j = (
        ku.join(
            F.broadcast(ka.withColumnRenamed("h", "ha")),
            F.col("h") == F.col("ha"),
            "left",
        )
        .join(
            F.broadcast(kb.withColumnRenamed("h", "hb")),
            F.col("h") == F.col("hb"),
            "left",
        )
        .agg(
            F.count("*").cast("long").alias("k_kept"),
            F.max("h").alias("kth_hash"),
            F.sum(
                F.when(
                    F.col("ha").isNotNull() & F.col("hb").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("j_num"),
        )
    )
    ex = (
        uh.groupBy("h")
        .agg(F.countDistinct("p").alias("np"))
        .agg(
            F.count("*").cast("long").alias("exact_union"),
            F.sum(F.when(F.col("np") == 2, 1).otherwise(0))
            .cast("long")
            .alias("exact_inter"),
        )
    )
    return j.crossJoin(F.broadcast(ex)).selectExpr(
        "k_kept",
        "j_num",
        "CAST(j_num AS DOUBLE) / CAST(k_kept AS DOUBLE) AS jaccard_est",
        f"({_EST_SQL})"
        " * (CAST(j_num AS DOUBLE) / CAST(k_kept AS DOUBLE)) AS est_inter",
        "exact_inter",
        "exact_union",
        "CAST(exact_inter AS DOUBLE) / CAST(exact_union AS DOUBLE)"
        " AS exact_jaccard",
    )


# ---------------------------------------------------------------------------
# C138 — streaming-maintained BPE vocabulary: the word-frequency table
# is itself an AggregatingMergeTree-style running state (the C132/C134
# pattern applied to the tokenizer), composed with stateful document
# dedup because the wire re-delivers every file as a duplicate.
# ---------------------------------------------------------------------------


@query("q_stream_bpe", oracle=_oracle_sql_batched())
def q_stream_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C138: BPE training with the vocabulary maintained INCREMENTALLY
    by the streaming engine — documents arrive over micro-batches on
    the duplicate-injecting corpus wire (corpus_stream.document_wire),
    pass through stateful doc_id dedup (the state store must remember
    ids across batches or duplicated files double every count), and a
    complete-mode groupBy(word) keeps the running frequencies. The
    drained table feeds the BATCHED trainer (_train_batched_full — the
    loop every shipped shard product rides, r14 verdict #1; the
    sequential _train loop it replaced certified a trainer the
    products no longer use) and the SAME batched DuckDB oracle as
    C182, so one hash certifies streaming-maintained vocab == batch
    vocab == independent batched replay. Dedup state is linear in
    distinct doc ids (the C9/C123 guarantee, measured in
    STREAM_THROUGHPUT.json); the word state is vocabulary-sized."""
    import os

    from kafka_clickhouse_implementation_spark.streaming.corpus_stream import document_wire
    from kafka_clickhouse_implementation_spark.streaming.drain import drain

    wire, base = document_wire(spark, sf_dir)
    vocab_counts = (
        read_wire(spark, wire, 4)
        .dropDuplicates(["doc_id"])
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter("w <> ''")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    drain(
        spark,
        (
            vocab_counts, "bpe_vocab_stream",
            os.path.join(base, "ckpt_bpe_vocab"), "complete",
        ),
    )
    out, _final = _train_batched_full(
        spark, _symbolized_vocab(spark.table("bpe_vocab_stream"))
    )
    return spark.createDataFrame(out, _BATCH_SCHEMA).orderBy("merge_rank")


# ---------------------------------------------------------------------------
# C140 — BPE corpus tokenization (inference): apply the learned merge
# table back to the corpus and account tokens per source — the
# production half of the tokenizer story (train once, encode 100 TB).
# ---------------------------------------------------------------------------

_TOKENIZE_FINAL = """
, dw AS MATERIALIZED (
  SELECT source, w
  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents) u
  WHERE w <> ''
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(string_split(trim(s), ' '))) AS BIGINT) AS n_tokens,
       CAST(sum(length(w)) AS BIGINT) AS n_chars,
       CAST((1000 * CAST(sum(len(string_split(trim(s), ' '))) AS BIGINT))
            // CAST(count(*) AS BIGINT) AS BIGINT) AS fertility_milli
FROM dw JOIN {final} USING (w)
GROUP BY source
ORDER BY source
"""


# Segmentation-join broadcast ceiling (distinct words). Below it the
# per-word segmentation table is hinted broadcast (it is vocab-sized,
# tiny at every tested SF); above it the hint is DROPPED so the join
# shuffles on the word key — a 100 TB corpus's vocabulary does not fit
# an executor, and a forced broadcast there is an OOM, not a speedup.
# Same shape as clustering.LIT_MAX: the driver-known small-model fast
# path with an explicit size guard instead of a docstring promise.
BROADCAST_VOCAB_MAX = 1_000_000


@query("q_bpe_tokenize", oracle=_oracle_sql(final_select=_TOKENIZE_FINAL))
def q_bpe_tokenize(
    spark: SparkSession, sf_dir: str, force_shuffle: bool = False
) -> DataFrame:
    """C140: tokenize the corpus with the learned BPE merges — the
    inference path: train the BPE_ROUNDS merge table (same loop as
    C135), keep the final per-WORD segmentation, and join it back to
    the corpus words (the vocabulary factorization again: segmentation
    runs once per distinct word, the corpus join is a plain equi-join
    on the word — broadcast below BROADCAST_VOCAB_MAX distinct words,
    shuffle-join above; `force_shuffle` pins the big-vocab path in
    tests). Per source: word/token/char totals and fertility (tokens
    per 1000 words, floor-divided — positive ints, so Spark div ==
    DuckDB //). Token counts include the fused end-of-word marker
    symbol, the Sennrich convention."""
    docs = load(spark, sf_dir, "documents")
    vocab = _symbolized_vocab(
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter("w <> ''")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    _trajectory, final = _train_full(spark, vocab)
    seg = final.selectExpr("w", "size(split(trim(s), ' ')) AS ntok")
    # vocab is localCheckpointed, so this count is a cheap cached scan,
    # and its row count IS the distinct-word count seg will carry.
    small_vocab = not force_shuffle and vocab.count() <= BROADCAST_VOCAB_MAX
    dw = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter("w <> ''")
    )
    return (
        dw.join(F.broadcast(seg) if small_vocab else seg, "w")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("ntok").cast("long").alias("n_tokens"),
            F.sum(F.length("w")).cast("long").alias("n_chars"),
        )
        .selectExpr(
            "source", "n_words", "n_tokens", "n_chars",
            "(1000 * n_tokens) div n_words AS fertility_milli",
        )
        .orderBy("source")
    )
