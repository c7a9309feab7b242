"""Physical-plan invariants — the scale contract, asserted, not hoped:
filters push to scans, dims broadcast, top-k never globally sorts,
bucketed joins don't shuffle."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.plans.bucketing import bucketed_join, write_bucketed
from kafka_clickhouse_implementation_spark.registry import all_queries

# Same override as conftest.sf_dir, so the whole suite can be pointed at
# the self-generated sf1-equivalent dataset (tools/make_scale_data.py).
SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    """q_opens_for_campaign's equality filters must appear as scan-level
    DataFilters (pushed to parquet), not post-scan Filter only."""
    df = all_queries()["q_opens_for_campaign"](spark, SF)
    plan = _plan(df)
    scan_lines = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert any("user_id" in l and "click" in l for l in scan_lines), plan


def test_column_pruning(spark):
    """A two-column projection must not read all six event columns."""
    df = all_queries()["q_mv_daily"](spark, SF)
    plan = _plan(df)
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "value" not in scan and "props" not in scan, scan


def test_dim_join_broadcasts(spark):
    plan = _plan(all_queries()["q_join_broadcast_nation"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_topk_is_take_ordered_not_global_sort(spark):
    plan = _plan(all_queries()["q_topk_spenders"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_q6_partial_aggregation(spark):
    """Q6 must partial-aggregate before any exchange (map-side combine)."""
    plan = _plan(all_queries()["q_tpch_q6"](spark, SF))
    assert "partial_sum" in plan, plan


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Same-bucketed tables joined on the bucket key: no Exchange under
    the join — the write-time shuffle amortizes across joins."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        lineitem = spark.read.parquet(f"{SF}/lineitem.parquet").withColumnRenamed(
            "l_orderkey", "o_orderkey"
        )
        write_bucketed(orders, "t_orders_b", ("o_orderkey",), 8)
        write_bucketed(lineitem, "t_lineitem_b", ("o_orderkey",), 8)
        j = bucketed_join(spark, "t_orders_b", "t_lineitem_b", on=["o_orderkey"])
        plan = _plan(j)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        # and the join actually works
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_semi_join_prunes_payload(spark):
    """Left-semi join must not carry right-side payload columns."""
    plan = _plan(all_queries()["q_semi_anti"](spark, SF))
    assert "LeftSemi" in plan, plan


def test_embedding_near_dup_is_cogrouped_not_collected(spark):
    """The exact all-pairs near-dup must be the distributed block-pair
    shape: a cogrouped Pandas product partitioned on (blk_a, blk_b) —
    never a cartesian join, and never a driver-side collect+broadcast
    (the round-1 design this replaced)."""
    plan = _plan(all_queries()["q_embedding_near_dup"](spark, SF))
    assert "FlatMapCoGroupsInPandas" in plan
    assert "hashpartitioning(blk_a" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # both sides stay column-pruned to (vec_id, embedding)
    assert plan.count("ReadSchema: struct<vec_id:bigint,embedding:array<float>>") == 2


def test_connected_components_rounds_are_joins_not_crossjoins(spark):
    """Each CC iteration must be an equi-join + aggregate over the edge
    relation; a regression to a cross join would be quadratic."""
    from kafka_clickhouse_implementation_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    plan = _plan(connected_components(edges, max_iter=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_prefix_sum_windows_are_partitioned(spark):
    """Round-2 perf-weak fix: q_token_packing / q_zipf_rank global
    cumulative sums are distributed via plans/prefix.ranged_prefix, so
    every WindowExec must carry the physical-partition-id partition spec
    — a bare windowspecdefinition would be the single-task 'No Partition
    Defined' cliff this replaced."""
    for q in ("q_token_packing", "q_zipf_rank"):
        plan = _plan(all_queries()[q](spark, SF))
        win_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
        assert win_lines, (q, plan)
        for l in win_lines:
            assert "__prefix_pid" in l, (q, l)


def test_kmv_bottom_k_is_take_ordered(spark):
    """The KMV sketch's bottom-k must be TakeOrdered (per-partition
    heads + merge), never a global sort of the digest space."""
    plan = _plan(all_queries()["q_kmv_sketch"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """100x-survival evidence for selective fact-dim joins: Spark's
    runtime bloom-filter injection plants a might_contain predicate on
    the FACT side built from the filtered dim side, so most fact rows
    die at the scan instead of crossing the shuffle. Size thresholds
    are shrunk so sf-scale data trips the same code path a 100 TB scan
    would (the application side must normally exceed 10 GB)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        sel = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
        j = li.join(sel, li.l_orderkey == sel.o_orderkey)
        plan = _plan(j)
        assert "might_contain" in plan, plan
        assert j.count() > 0
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partition(spark):
    """100x-survival evidence for skewed facts: with AQE skew handling
    on (session.py defaults), a hot join key gets split at runtime —
    the FINAL adaptive plan marks the sort-merge join skew=true.
    Thresholds are shrunk so sf-scale data trips the same code path a
    100 TB hot key would."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        from pyspark.sql import functions as F

        left = spark.range(20_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))  # 90% of rows on key 0
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(100).select(F.col("id").alias("k"), F.lit("dim").alias("name"))
        j = left.join(right, "k")
        j.collect()  # materialize THIS plan so AQE finalizes it
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ann_portable_bucketing_is_narrow_codegen_map(spark):
    """The portable sign-LSH bucket must be ONE whole-stage-codegen
    projection over the scan — no explode, no aggregation, no Exchange.
    At 100 TB bucketing a corpus is then a pure map; only the
    candidate equi-join shuffles (and the probe side broadcasts)."""
    from kafka_clickhouse_implementation_spark.io import load
    from kafka_clickhouse_implementation_spark.operators.similarity import (
        ann_bucket_column,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    bucketed = emb.select("vec_id", ann_bucket_column().alias("bucket"))
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan  # no explode
    assert plan.lstrip().startswith("*"), plan  # WholeStageCodegen project


def test_dict_get_broadcasts_dictionary(spark):
    """C67: the dictionary ships as a broadcast hash relation (LeftOuter
    BuildRight); the fact side is never shuffled for the lookup — the
    only exchange is the final aggregation's."""
    plan = _plan(all_queries()["q_dict_get"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_derived_partsupp_prunes_lineitem_scan(spark):
    """The derived partsupp's distinct must read ONLY the two key
    columns — a scan that drags the five measure columns through the
    distinct would be a 100 TB disaster."""
    plan = _plan(all_queries()["q_tpch_q11_shape"](spark, SF))
    scan = next(
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "l_partkey" in l
    )
    assert "ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>" in scan, scan
    # threshold is a 1-row broadcast, result a TakeOrdered - no global sort
    assert "TakeOrderedAndProject" in plan, plan


def test_analytics_windows_are_all_partitioned(spark):
    """The statistical/behavioral aggregate batch (analytics_ext.py)
    must never plan a global window: every windowspecdefinition carries
    a user_id / event_type / l_returnflag partition spec. A bare window
    here would serialize the whole fact table through one task at
    scale."""
    for q in (
        "q_interval_length_sum",
        "q_max_intersections",
        "q_bounding_ratio",
        "q_rank_corr",
        "q_sequence_next_node",
        "q_moving_sum",
        "q_weighted_median",
    ):
        plan = _plan(all_queries()[q](spark, SF))
        win_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
        assert win_lines, (q, plan)
        for l in win_lines:
            assert (
                "user_id" in l or "event_type" in l or "l_returnflag" in l
            ), (q, l)


def test_entropy_cohort_totals_broadcast(spark):
    """q_entropy's cohort-total join must broadcast the 10-row totals
    side, never shuffle the counts relation for it."""
    plan = _plan(all_queries()["q_entropy"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_welch_and_student_share_one_scan_shape(spark):
    """Both t-tests reduce the fact table through ONE partial+final
    hash aggregation (map-side combine) and finish on a 1-row x 1-row
    join — no window, no sort of the fact table."""
    for q in ("q_welch_ttest", "q_student_ttest"):
        plan = _plan(all_queries()[q](spark, SF))
        assert "windowspecdefinition" not in plan, q
        assert "HashAggregate" in plan, q


# Queries excluded from the registry-wide audit: streaming drains (the
# plan of interest is the batch finish, and running every stream here
# would dominate suite time) and the ones that WRITE layouts/files as
# part of their contract.
_AUDIT_SKIP_PREFIXES = ("q_stream_",)
# q_ann_index_upsert: runs a streaming upsert + writes the index
# product before returning; its batch search tail is the SHARED
# _ivfpq_search plan already audited via q_ann_ivfpq.
_AUDIT_SKIP = {"q_ingest_roundtrip", "q_partition_prune", "q_partition_detach", "q_csv_roundtrip", "q_orc_roundtrip", "q_ann_index_upsert", "q_ann_index_delete"}

def _bare_window_line(line: str) -> bool:
    """True if the plan line holds a windowspecdefinition(...) whose
    args before specifiedwindowframe are ALL ordering expressions
    (ASC/DESC) — i.e., no partition key: the single-task 'No Partition
    Defined' cliff."""
    import re

    for m in re.finditer(
        r"windowspecdefinition\(([^()]*?)specifiedwindowframe", line
    ):
        args = [a.strip() for a in m.group(1).split(",") if a.strip()]
        if not any(a for a in args if " ASC" not in a and " DESC" not in a):
            return True
    return False


def _tree_depth(line: str) -> int:
    """Indentation depth of a node line in executedPlan().toString()'s
    tree drawing (prefix alphabet: spaces, ':', '+', '-')."""
    i = 0
    while i < len(line) and line[i] in " :+-":
        i += 1
    return i


def _bare_windows(plan: str) -> list[str]:
    """Unpartitioned windows NOT bounded by a limit cut on their
    direct INPUT SPINE. A bare window is exempt iff a
    TakeOrderedAndProject (or GlobalLimit) node appears on the
    first-child chain below the window BEFORE any multi-input node
    (join/union): only there does the limit bound the full frame row
    count. This tightens the r11 per-window descendant pairing (r12
    advisory): a limit on one branch of a join/union feeding the
    window bounds that branch, not the join output, and must not
    exempt a genuinely unbounded window (the old rule was fail-open
    on exactly that shape)."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if not _bare_window_line(line):
            continue
        d = _tree_depth(line)
        bounded = False
        cur_depth = d
        for sub in lines[i + 1 :]:
            sd = _tree_depth(sub)
            # pre-order: the first child of the current spine node is
            # the next line at strictly greater depth; any line at
            # <= cur_depth means we've left the unary input chain
            # (a sibling branch of some ancestor — off-spine).
            if sd <= cur_depth:
                break
            cur_depth = sd
            if "TakeOrderedAndProject" in sub or "GlobalLimit" in sub:
                bounded = True
                break
            if any(
                t in sub
                for t in ("Join", "Union", "CartesianProduct")
            ):
                # below a multi-input node a limit bounds only one
                # branch, never the window's frame — stop the walk
                break
        if not bounded:
            out.append(line.strip()[:120])
    return out


def _cogroup_shared_lineage(plan: str) -> list[str]:
    """FlatMapCoGroupsInPandas nodes whose Python-lambda argument
    binding draws NO expression ids from the right child's own
    subtree — the r12 lineage-dedup trap: when both cogroup sides
    come from one lineage, Spark re-aliases the right child's SUBTREE
    (fresh expr ids) but binds the lambda's right-frame arguments to
    the LEFT side's attrs (observed:
    ``<lambda>(k#1L, v#2L, k#1L, v#2L)`` over children emitting
    #1L/#2L and #7L/#8L), which is exactly the shape that strips the
    right group's frames to the grouping keys
    (session-state-dependent KeyError in the Python worker) — the bug
    found and fixed in q_embedding_near_dup by giving each side its
    own scan. This audit makes the fix structural: no future
    self-cogroup can reintroduce the class unnoticed."""
    import re

    lines = plan.splitlines()
    bad = []
    for i, line in enumerate(lines):
        if "FlatMapCoGroupsInPandas" not in line:
            continue
        lam = re.search(r"<lambda>\(([^)]*)\)", line)
        if not lam:
            continue
        lam_ids = set(re.findall(r"#\d+", lam.group(1)))
        d = _tree_depth(line)
        subtree = []
        for sub in lines[i + 1 :]:
            if _tree_depth(sub) <= d:
                break
            subtree.append(sub)
        if not subtree:
            continue
        child_depth = min(_tree_depth(s) for s in subtree)
        groups: list[list[str]] = []
        for s in subtree:
            if _tree_depth(s) == child_depth:
                groups.append([])
            if groups:
                groups[-1].append(s)
        if len(groups) < 2:
            continue
        left_ids = set(re.findall(r"#\d+", "\n".join(groups[0])))
        right_ids = set(re.findall(r"#\d+", "\n".join(groups[1])))
        right_own = right_ids - left_ids
        if right_own and not (lam_ids & right_own):
            bad.append(line.strip()[:120])
    return bad


def test_registry_wide_plan_audit(spark):
    """EVERY registered batch query's physical plan is free of the
    three scale anti-patterns: CartesianProduct (quadratic joins —
    1-row finishes plan as BroadcastNestedLoopJoin, which is fine and
    bounded), BatchEvalPython (row-at-a-time Python UDFs — all Python
    must be Arrow-vectorized), and unpartitioned windows over
    unbounded inputs. This is the mechanical form of the per-operator
    scale arguments in docs/SCALE.md."""
    from kafka_clickhouse_implementation_spark.registry import all_queries as aq

    offenders: dict[str, list[str]] = {
        "cartesian": [],
        "batch_python": [],
        "bare_window": [],
        "cogroup_shared_lineage": [],
    }
    for name, fn in aq().items():
        if name.startswith(_AUDIT_SKIP_PREFIXES) or name in _AUDIT_SKIP:
            continue
        plan = _plan(fn(spark, SF))
        if "CartesianProduct" in plan:
            offenders["cartesian"].append(name)
        if "BatchEvalPython" in plan:
            offenders["batch_python"].append(name)
        if _bare_windows(plan):
            offenders["bare_window"].append(name)
        if _cogroup_shared_lineage(plan):
            offenders["cogroup_shared_lineage"].append(name)
    assert offenders == {
        "cartesian": [],
        "batch_python": [],
        "bare_window": [],
        "cogroup_shared_lineage": [],
    }


def test_bare_window_detector_catches_global_windows(spark):
    """Negative control for the audit and for
    ``test_unpartitioned_windows_rank_a_limited_frame``: a deliberately
    unpartitioned window MUST trip the detectors (otherwise the audits
    are vacuous)."""
    df = spark.range(10).selectExpr(
        "id", "sum(id) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s"
    )
    assert _bare_windows(_plan(df))
    ok = spark.range(10).selectExpr(
        "id",
        "sum(id) OVER (PARTITION BY id % 3 ORDER BY id"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s",
    )
    assert not _bare_windows(_plan(ok))
    optimized = df._jdf.queryExecution().optimizedPlan()
    assert _bare_window_inputs(optimized, []) == ["Range"]


def test_cogroup_lineage_detector_catches_self_cogroup(spark):
    """Negative control: a SELF-cogroup (both sides from one lineage)
    MUST trip the detector, and a cogroup of two independent scans
    must not."""
    df = spark.range(20).selectExpr("id % 3 AS k", "id AS v")
    self_cg = (
        df.groupBy("k")
        .cogroup(df.groupBy("k"))
        .applyInPandas(lambda lg, rg: lg, schema="k long, v long")
    )
    assert _cogroup_shared_lineage(_plan(self_cg))
    a = spark.range(20).selectExpr("id % 3 AS k", "id AS v")
    b = spark.range(30).selectExpr("id % 3 AS k", "id AS w")
    indep = (
        a.groupBy("k")
        .cogroup(b.groupBy("k"))
        .applyInPandas(lambda lg, rg: lg, schema="k long, v long")
    )
    assert not _cogroup_shared_lineage(_plan(indep))


def test_asof_join_is_jvm_side(spark):
    """C-tier ASOF (r11 rewrite): union + last_value(ignorenulls) over
    a user-partitioned window — no Python anywhere in the plan (no
    cogrouped merge_asof), and the window is key-partitioned (no
    single-partition cliff)."""
    plan = _plan(all_queries()["q_asof_join"](spark, SF))
    assert "FlatMapCoGroupsInPandas" not in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan
    assert not _bare_windows(plan), plan


def test_heavy_hitters_shuffles_summaries_not_vocab(spark):
    """C29 (r8 oracle upgrade): the merge after the one-shot MG must
    aggregate the mapInPandas SUMMARY rows (<= buckets x k), and the
    final top-10 must be TakeOrdered, never a global sort."""
    df = all_queries()["q_heavy_hitters"](spark, SF)
    plan = _plan(df)
    assert "MapInPandas" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", ""), plan


def test_portable_hll_is_pure_codegen(spark):
    """C31 (r8 rewrite): the register-exact HLL is md5/instr/bin
    arithmetic — no Python evaluator anywhere in the plan, and the
    1-row finishers ride broadcast joins."""
    df = all_queries()["q_hll_sketch_union"](spark, SF)
    plan = _plan(df)
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_portable_kernels_stay_codegen(spark):
    """C105/C108 (r8 rewrite): the polynomial exp/haversine kernels are
    plain expressions — WholeStageCodegen covers them, no Python (the
    frame is executed first so AQE finalizes the plan)."""
    for name in ("q_exp_decay", "q_geo_distance"):
        df = all_queries()[name](spark, SF)
        df.collect()
        plan = _plan(df)
        assert "EvalPython" not in plan and "MapInPandas" not in plan, (name, plan)
        # AQE final plans render whole-stage codegen as "*(n)" markers
        assert "*(" in plan, (name, plan)


def test_bpe_round_is_one_sortless_job_and_join_broadcasts(spark):
    """C135/C140 (r8): each training round is ONE aggregation job —
    winner and symbol total fused via min(struct(-cnt,a,b)) — with
    map-side partial aggregation and NO sort anywhere; the corpus-side
    tokenize join must broadcast the segmented vocab, not shuffle the
    corpus words."""
    from kafka_clickhouse_implementation_spark.operators.bpe import (
        _pair_frame,
        _symbolized_vocab,
    )
    from kafka_clickhouse_implementation_spark.io import load

    docs = load(spark, SF, "documents")
    vocab = _symbolized_vocab(
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter("w <> ''")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    round_job = _pair_frame(vocab).agg(
        F.sum("cnt").alias("tot"),
        F.min(F.struct((-F.col("cnt")).alias("nc"), "a", "b")).alias("win"),
    )
    plan = _plan(round_job)
    # struct-min compiles to SortAggregate (key=[], sorts nothing);
    # what must NOT appear is a row-sorting Sort node
    assert "Sort [" not in plan, plan
    assert "partial_min" in plan and "partial_sum" in plan, plan
    tok = all_queries()["q_bpe_tokenize"](spark, SF)
    assert "BroadcastHashJoin" in _plan(tok)


def test_kmv_setops_sketches_never_globally_sort(spark):
    """C136 (r8): every bottom-k is TakeOrdered; the only joins are
    broadcast (64-row sketches)."""
    plan = _plan(all_queries()["q_kmv_setops"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_with_totals_is_single_pass_expand(spark):
    """C141 (r8): WITH TOTALS must be ONE scan through an Expand (the
    rollup), not a union of two aggregations."""
    plan = _plan(all_queries()["q_with_totals"](spark, SF))
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1, plan


def _logical_nodes(plan):
    """Every node of a JVM logical plan, depth first."""
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _logical_nodes(kids.apply(i))


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def test_substring_clip_islands_merge_per_doc_no_global_window(spark):
    """C143 (r9, re-pinned r15 and for the h-partitioned gram windows):
    the clip must stay parallel.
    The duplicated-gram gate runs as windows partitioned by the gram
    hash h, and the interval-island merge is one groupBy(doc_id)
    sorted-array fold. The invariant guarded: no window has an empty
    partition spec (a global window serializes every row through one
    task), and the island merge aggregates keyed on doc_id alone.
    Asserted on the clip BUILDER's optimized plan (substring_clip over
    the raw corpus — what clipped_corpus materializes)."""
    from kafka_clickhouse_implementation_spark.io import load
    from kafka_clickhouse_implementation_spark.operators.corpus_ext import (
        substring_clip,
    )

    df = substring_clip(load(spark, SF, "documents"))
    nodes = list(_logical_nodes(df._jdf.queryExecution().optimizedPlan()))
    windows = [n for n in nodes if n.nodeName() == "Window"]
    for w in windows:
        assert w.partitionSpec().size() > 0, w.toString()
    merges = [
        n
        for n in nodes
        if n.nodeName() == "Aggregate"
        and [e.toString().split("#")[0] for e in _seq(n.groupingExpressions())] == ["doc_id"]
        and "collect_list" in n.aggregateExpressions().toString()
    ]
    assert len(merges) == 1, [n.toString() for n in nodes if n.nodeName() == "Aggregate"]


def test_kn_gated_clean_model_joins_never_broadcast_vocab(spark):
    """C144 (r9): the KN gate's three model-table joins key on words —
    the vocabulary scales with the corpus, so none of them may be
    planned as a broadcast of the model side (the only broadcast is
    the 1-row Ntot). Guarded by asserting every BroadcastExchange in
    the gate subtree is the single-row aggregate, not a word-keyed
    model table."""
    from kafka_clickhouse_implementation_spark.io import load
    from kafka_clickhouse_implementation_spark.pipelines.corpus import (
        kn_quality_gate,
    )

    df = kn_quality_gate(load(spark, SF, "documents"))
    # Catalyst MAY choose broadcast at tiny SFs (size-based, correct);
    # what must never exist is a HAND-FORCED broadcast hint on a
    # word-keyed model join. The only hint in the tree is Ntot's
    # keyless 1-row cross join.
    analyzed = df._jdf.queryExecution().analyzed().toString()
    hints = [l for l in analyzed.splitlines() if "ResolvedHint" in l]
    assert len(hints) == 1, hints
    assert "w1" not in hints[0] and "w2" not in hints[0], hints[0]


def test_unigram_prune_is_takeordered_and_estep_windowless(spark):
    """C145 (r9): the per-round multi-piece prune must plan as
    TakeOrderedAndProject (top-K, never a global sort of the piece
    table), and the Viterbi E-step is joins + HOF folds — no window
    operator anywhere (a window would serialize the vocab)."""
    from kafka_clickhouse_implementation_spark.io import load
    from kafka_clickhouse_implementation_spark.operators import unigram_lm as U

    words = U._seed_words(load(spark, SF, "documents"))
    cand = U._candidates(words)
    counts = U._substr_counts(cand)
    m = (
        counts.filter(F.length("piece") >= 2)
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(U.UNI_MULTI)
    )
    assert "TakeOrderedAndProject" in _plan(m)
    seg = U._viterbi(cand, U._spark_scores(counts))
    assert "windowspecdefinition" not in _plan(seg)


def test_dsir_llr_model_broadcasts(spark):
    """C155: the 4096-row llr model must ride a broadcast join onto the
    per-doc feature table (never a shuffle keyed on bucket), and the
    whole scoring path stays codegen (no Python evaluator)."""
    df = all_queries()["q_dsir_weights"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan


def test_dsir_scan_prunes_documents(spark):
    """C155 reads only (doc_id, source, text) from the documents scan."""
    df = all_queries()["q_dsir_weights"](spark, SF)
    plan = _plan(df)
    for line in plan.splitlines():
        if "FileScan parquet" in line and "documents" in line:
            assert "lang" not in line, line


def test_hybrid_dense_arm_broadcasts_query_vectors(spark):
    """C154: the (qids x dims) query-vector table and the fusion's
    QT-bounded lists ride broadcast joins; the dense scoring join must
    not shuffle the exploded component table on anything but its
    aggregation key."""
    df = all_queries()["q_hybrid_rank"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_mmr_rounds_are_joins_not_crossjoins(spark):
    """C158: every greedy round is an equi-join + one-agg argmax —
    no CartesianProduct, no Python, no unpartitioned window."""
    df = all_queries()["q_mmr_diversify"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan
    assert not _bare_windows(plan), plan


def _bare_window_inputs(node, out):
    """For every Window with no partition spec in the optimized plan
    under ``node``: the first node on its unary input chain that is a
    GlobalLimit or does not have one child."""
    name = node.getClass().getSimpleName()
    if name == "Window" and node.partitionSpec().isEmpty():
        cur = node.children().apply(0)
        while cur.getClass().getSimpleName() != "GlobalLimit" and cur.children().size() == 1:
            cur = cur.children().apply(0)
        out.append(cur.getClass().getSimpleName())
    for i in range(node.children().size()):
        _bare_window_inputs(node.children().apply(i), out)
    return out


@pytest.mark.parametrize("name", ["q_dsir_weights", "q_proximity_search", "q_bm25_rank"])
def test_unpartitioned_windows_rank_a_limited_frame(spark, name):
    """The package's bare ``W.orderBy`` rank windows (dsir ``_select_top``,
    retrieval's query-term and query-pair picks) each rank a frame a
    TakeOrdered limit has already cut to TOP_N, QT_TOTAL or 2*QP_PAIRS
    rows, so Spark's single-partition warning for them moves no whole
    input. A rank over an unbounded frame fails here."""
    plan = all_queries()[name](spark, SF)._jdf.queryExecution().optimizedPlan()
    inputs = _bare_window_inputs(plan, [])
    assert inputs and set(inputs) == {"GlobalLimit"}, plan.toString()
