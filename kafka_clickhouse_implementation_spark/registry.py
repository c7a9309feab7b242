"""Declared-query registry — the contract surface the driver checks.

Every operator from SURVEY.md §2 registers here via the ``@query``
decorator, pairing a Spark callable ``(spark, sf_dir) -> DataFrame``
with an equivalent DuckDB oracle SQL string (or ``None`` for
non-SQL-expressible operators → driver does a rows-only check).

Discipline (SURVEY §2 notes): identical column aliases on both sides;
every float-emitting column ROUNDs identically on both sides; integer
sums in the oracle are CAST to BIGINT (DuckDB sum(BIGINT) → HUGEINT,
Spark sum(long) → long).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}
_ORIGIN: dict[str, tuple[str, int]] = {}  # name -> (defining module, registration seq)
_SEQ = 0

# The driver's correctness window — DERIVED, not hand-curated:
#   python tools/make_window.py --changed q_stream_mv_daily q_nb_quality \
#       q_nb_pr_curve q_corpus_clean_nb q_asof_join q_stream_dict_get
# (see tests/test_registry_window.py). The changed queries come first,
# then the oracle-backed queries the driver has never hashed, then the
# oracle-backed queries whose newest green row is oldest.
# Queries not listed here sort after the window, by _MODULE_RANK.
_WINDOW_50 = [
    "q_stream_mv_daily",  # changed/new
    "q_nb_quality",  # changed/new
    "q_nb_pr_curve",  # changed/new
    "q_corpus_clean_nb",  # changed/new
    "q_asof_join",  # changed/new
    "q_stream_dict_get",  # changed/new
    "q_ann_ivfsq8",  # last green r-never-
    "q_ann_sq8_delete",  # last green r-never-
    "q_ann_sq8_index",  # last green r-never-
    "q_stream_token_shards_unigram",  # last green r-never-
    "q_histogram",  # last green r8
    "q_hll_sketch_union",  # last green r8
    "q_map_funcs",  # last green r8
    "q_multimodal_flac",  # last green r8
    "q_multimodal_flac_stereo",  # last green r8
    "q_multimodal_gif89a",  # last green r8
    "q_multimodal_png_adam7",  # last green r8
    "q_pii_mask",  # last green r8
    "q_range_join",  # last green r8
    "q_salted_agg",  # last green r8
    "q_scd2_join",  # last green r8
    "q_semantic_clean",  # last green r8
    "q_sequence_count",  # last green r8
    "q_sequence_match",  # last green r8
    "q_session_bounds",  # last green r8
    "q_sliding_counts",  # last green r8
    "q_sliding_window",  # last green r8
    "q_stratified_sample",  # last green r8
    "q_stream_agg_state",  # last green r8
    "q_systematic_sample",  # last green r8
    "q_tpch_q21_shape",  # last green r8
    "q_tpch_q22_shape",  # last green r8
    "q_tpch_q4_shape",  # last green r8
    "q_tpch_q7_shape",  # last green r8
    "q_tpch_q8_shape",  # last green r8
    "q_twolevel_kmeans",  # last green r8
    "q_weekly_rollup",  # last green r8
    "q_zipf_rank",  # last green r8
    "q_ann_portable",  # last green r9
    "q_ann_recall",  # last green r9
    "q_cosine_topk",  # last green r9
    "q_csv_roundtrip",  # last green r9
    "q_decontaminate",  # last green r9
    "q_doc_signals",  # last green r9
    "q_embedding_truncate",  # last green r9
    "q_first_seen_cumulative",  # last green r9
    "q_group_array",  # last green r9
    "q_inverted_index",  # last green r9
    "q_json_extract",  # last green r9
    "q_kmv_setops",  # last green r9
]

# Canonical module order for queries OUTSIDE the curated window above.
_MODULE_RANK = [
    "kafka_clickhouse_implementation_spark.operators.tier_a",
    "kafka_clickhouse_implementation_spark.operators.tpch",
    "kafka_clickhouse_implementation_spark.operators.text",
    "kafka_clickhouse_implementation_spark.operators.similarity",
    "kafka_clickhouse_implementation_spark.operators.sessions",
    "kafka_clickhouse_implementation_spark.operators.udx",
    "kafka_clickhouse_implementation_spark.operators.dedup",
    "kafka_clickhouse_implementation_spark.operators.multimodal",
    "kafka_clickhouse_implementation_spark.operators.relational",
    "kafka_clickhouse_implementation_spark.operators.relational_ext",
    "kafka_clickhouse_implementation_spark.operators.components",
    "kafka_clickhouse_implementation_spark.operators.embeddings_ext",
    "kafka_clickhouse_implementation_spark.operators.funnels",
    "kafka_clickhouse_implementation_spark.operators.text_ext",
    "kafka_clickhouse_implementation_spark.operators.minhash_portable",
    "kafka_clickhouse_implementation_spark.pipelines.corpus",
    "kafka_clickhouse_implementation_spark.streaming.pipeline",
    "kafka_clickhouse_implementation_spark.streaming.funnel",
    "kafka_clickhouse_implementation_spark.streaming.retention",
    "kafka_clickhouse_implementation_spark.streaming.sessions",
    "kafka_clickhouse_implementation_spark.operators.sketches",
    "kafka_clickhouse_implementation_spark.operators.relational_ext2",
    "kafka_clickhouse_implementation_spark.operators.corpus_ext",
    "kafka_clickhouse_implementation_spark.streaming.watermark",
    "kafka_clickhouse_implementation_spark.operators.quality_ext",
    "kafka_clickhouse_implementation_spark.sources.formats",
    "kafka_clickhouse_implementation_spark.streaming.corpus_stream",
    "kafka_clickhouse_implementation_spark.streaming.sketches_stream",
    "kafka_clickhouse_implementation_spark.operators.jpeg_codec",
    "kafka_clickhouse_implementation_spark.operators.analytics_ext",
    "kafka_clickhouse_implementation_spark.streaming.bloom_stream",
    "kafka_clickhouse_implementation_spark.streaming.analytics_stream",
    "kafka_clickhouse_implementation_spark.operators.gif_codec",
    "kafka_clickhouse_implementation_spark.operators.stats_ext",
    "kafka_clickhouse_implementation_spark.operators.parity_ext",
    "kafka_clickhouse_implementation_spark.operators.clustering",
    "kafka_clickhouse_implementation_spark.operators.mutations",
    "kafka_clickhouse_implementation_spark.streaming.vector_stream",
    "kafka_clickhouse_implementation_spark.operators.flac_codec",
    "kafka_clickhouse_implementation_spark.operators.pvalues",
    "kafka_clickhouse_implementation_spark.operators.agg_state",
    "kafka_clickhouse_implementation_spark.streaming.agg_state_stream",
    "kafka_clickhouse_implementation_spark.operators.bpe",
    "kafka_clickhouse_implementation_spark.operators.unigram_lm",
    "kafka_clickhouse_implementation_spark.operators.retrieval",
    "kafka_clickhouse_implementation_spark.operators.dsir",
    "kafka_clickhouse_implementation_spark.operators.nb_quality",
    "kafka_clickhouse_implementation_spark.pipelines.shards",
]


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a declared query (and its DuckDB oracle, if any)."""

    def deco(fn: QueryFn) -> QueryFn:
        global _SEQ
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        _QUERIES[name] = fn
        _ORIGIN[name] = (fn.__module__, _SEQ)
        _SEQ += 1
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _canonical_order(name: str) -> tuple[int, int, str, int]:
    try:
        return (0, _WINDOW_50.index(name), "", 0)
    except ValueError:
        pass
    mod, seq = _ORIGIN[name]
    try:
        rank = _MODULE_RANK.index(mod)
    except ValueError:
        rank = len(_MODULE_RANK)
    # Within a module, decorators run top-to-bottom, so the global seq
    # is monotonic within each module no matter when it was imported.
    return (1, rank, mod, seq)


def all_queries() -> dict[str, QueryFn]:
    _load_operator_modules()
    return {n: _QUERIES[n] for n in sorted(_QUERIES, key=_canonical_order)}


def all_oracles() -> dict[str, str]:
    _load_operator_modules()
    return {n: _ORACLES[n] for n in sorted(_ORACLES, key=_canonical_order)}


_loaded = False


def _load_operator_modules() -> None:
    """Import every operator module exactly once so decorators run.
    _MODULE_RANK is the single source of truth: it is both the import
    list and the canonical ordering, so registration and the driver's
    50-entry correctness window cannot drift apart (the window itself
    is pinned by tests/test_registry_window.py)."""
    global _loaded
    if _loaded:
        return
    import importlib

    for mod in _MODULE_RANK:
        importlib.import_module(mod)

    _loaded = True
