"""Plan-shape tests: scale rules enforced as assertions (SURVEY.md §4.2,
the 100 TB design review in executable form). A query that returns right
answers through a wrong plan (no pushdown, shuffled dim join, cartesian)
fails here even though the oracle tests pass."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_exercise_spark.plans.inspect import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    assert_read_schema_only,
    formatted_plan,
)
from flink_exercise_spark.registry import specs
from flink_exercise_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_q6_filters_push_into_scan(spark):
    """TPC-H Q6's predicates must reach the parquet reader."""
    df = specs()["tpch_q6_forecast_revenue"].fn(spark, SF_SMOKE)
    assert_pushed_filters(
        df,
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_quantity,24.0)",
        "GreaterThanOrEqual(l_discount,0.03)",
    )


def test_q6_column_pruning(spark):
    """Q6 must read only the 4 referenced columns of lineitem's 11."""
    df = specs()["tpch_q6_forecast_revenue"].fn(spark, SF_SMOKE)
    assert_read_schema_only(
        df, "lineitem", "l_quantity", "l_extendedprice", "l_discount",
        "l_shipdate",
    )


def test_q3_broadcasts_dimension(spark):
    """The customer side of TPC-H Q3 must broadcast, not shuffle."""
    df = specs()["tpch_q3_shipping_priority"].fn(spark, SF_SMOKE)
    assert_broadcast_join(df, at_least=1)


def test_q5_broadcasts_all_dims(spark):
    """Q5's 6-table chain: every dim join broadcast (4+), no cartesian."""
    df = specs()["tpch_q5_local_supplier_volume"].fn(spark, SF_SMOKE)
    assert_broadcast_join(df, at_least=4)
    assert_no_cartesian(df)


def test_knn_broadcasts_queries_not_corpus(spark):
    """Brute-force kNN: the query set broadcasts; the corpus streams.
    (BroadcastNestedLoopJoin over the small side is the accepted shape
    for an un-keyed cross score.)"""
    df = specs()["sim_knn_brute_force"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Broadcast" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_topk_uses_take_ordered(spark):
    """Global ORDER BY + LIMIT must plan as TakeOrderedAndProject
    (per-partition top-k + driver merge), not a full sort."""
    df = specs()["sort_limit_top_orders"].fn(spark, SF_SMOKE)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_agg_is_partial_final(spark):
    """A1 grouped count: two-phase hash aggregate (map-side combine),
    so the shuffle carries one row per key, not per event."""
    df = specs()["a1_requests_per_host"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2, plan
    assert "partial_count" in plan, plan


def test_events_scan_prunes_for_counts(spark):
    """Q2 windowed distinct: scan must read only ts + user_id."""
    df = specs()["ref_q2_distinct_hosts"].fn(spark, SF_SMOKE)
    assert_read_schema_only(df, "events", "ts", "user_id")


def test_reference_queries_hash_aggregate_only(spark):
    """The reference queries must plan as (codegen-able) hash
    aggregates — no SortAggregate fallback. Q1's arg-max is the
    regression this guards: a struct-ordered max_by silently planned
    as SortAggregate (full sort of per-key counts) until rewritten to
    a packed-BIGINT max (operators/aggregates.py)."""
    for name in ["ref_q1_top_host", "ref_q2_distinct_hosts",
                 "ref_q3_avg_reply_size"]:
        plan = formatted_plan(specs()[name].fn(spark, SF_SMOKE))
        assert "SortAggregate" not in plan, f"{name}:\n{plan}"
        assert "HashAggregate" in plan, f"{name}:\n{plan}"


def test_knn_ranking_tail_is_two_phase_topk(spark):
    """The kNN ranking tail must be the two-phase sort_array/slice
    top-k (partial per (input partition, query), then merge) — never a
    row_number window, which would shuffle every scored candidate to
    ONE task per query and full-sort it there. Window-free is the
    assertable signature: the only sorts left are per-group
    sort_array()s inside hash aggregates."""
    for name in ("sim_knn_brute_force", "sim_knn_lsh_bucketed",
                 "sim_knn_ivf"):
        plan = formatted_plan(specs()[name].fn(spark, SF_SMOKE))
        assert "Window" not in plan, f"{name}:\n{plan}"
        assert "SortAggregate" not in plan, f"{name}:\n{plan}"


def test_ivf_assignment_is_hash_agg_with_broadcast_codebook(spark):
    """IVF cell assignment must be: broadcast codebook (map-side cross)
    + two-phase hash aggregation for the arg-max — no window sort over
    corpus x cells rows, no shuffled codebook join."""
    df = specs()["sim_knn_ivf"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert plan.count("BroadcastNestedLoopJoin") >= 1  # codebook cross
    assert "HashAggregate" in plan
    assert_no_cartesian(df)
    # the corpus-side arg-max must not be a Window (queries-side
    # row_number over 10 rows is fine — assert no window PARTITION BY
    # the corpus id)
    assert "windowspecdefinition(neighbor_id" not in plan.lower()


def test_pipeline_is_single_declarative_plan(spark):
    """The composed LLM-prep pipeline: filters collapse into the scan
    stage, dedup gate is a hash-agg + shuffled equi-join, final agg is
    two-phase — and the text column is pruned before any exchange."""
    df = specs()["pipeline_llm_data_prep"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert_no_cartesian(df)
    assert "HashAggregate" in plan
    # the wide text payload must not cross a shuffle: no Exchange input
    # schema may contain the raw text column
    import re
    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "text#" not in m.group(0)


def test_clf_parse_single_regex_execution(spark):
    """P1 must execute the 13-group pattern once per row: one
    regexp_replace + one split in the whole plan, never one
    regexp_extract per group (Catalyst does not CSE across group
    indices — ~20 full matches per line before this guard existed)."""
    import re

    from flink_exercise_spark.sources.clf import parse_clf

    raw = spark.createDataFrame([("x",)], ["value"])
    plan = formatted_plan(parse_clf(raw))
    assert plan.count("regexp_replace") == 1
    assert len(re.findall(r"\bsplit\(", plan)) == 1
    assert "regexp_extract" not in plan


def test_clf_valid_filter_does_not_redrive_regex(spark):
    """valid_lines must stay a single-regex pipeline (r13): the
    non-deterministic ``_p`` projection barrier pins the validity
    filter above the parse, so the filter reads the computed split
    array instead of Catalyst substituting the regexp_replace chain
    into the Filter (and, on a derived input, dragging it below the
    spread repartition onto one core — the r12 plan paid two renders
    and two regex matches per row that way, 0.97 s vs 0.42 s on the
    sf0.1 round-trip).

    SPARK-UPGRADE COUPLING: parse_clf has two determinism barriers,
    both an arithmetic ``rand(seed=0) * 0.0`` term that relies on
    Catalyst NOT constant-folding rand*0 (it does fold the
    ``CASE WHEN rand(0) >= 0`` form, so neither may become a CASE).
    The ``_p`` barrier (split limit) blocks the regex re-drive: the
    RLIKE/regexp_replace counts and the Filter-above-Exchange assertion
    below fail without it (10.2 s vs 0.85 s of task CPU for the
    (window, host) counts of 80k lines on 4 cores). The output-
    projection barrier (``host``'s group index) blocks the re-parse by
    pushed or inferred filters; test_clf_filters_read_computed_columns
    is its tripwire (Q1's scan stage paid 4.6-5.1 s of task CPU
    without it, 0.85 s for the same counts without the join). Both
    tests must stay in the must-run gate on any Spark upgrade."""
    import re

    from flink_exercise_spark.sources.clf import parse_clf, valid_lines

    raw = spark.createDataFrame([("x",)], ["value"])
    plan = formatted_plan(
        valid_lines(parse_clf(raw)).select("host", "reply_bytes")
    )
    assert plan.count("regexp_replace") == 1
    assert len(re.findall(r"\bsplit\(", plan)) == 1
    assert "RLIKE" not in plan

    df = specs()["clf_parse_roundtrip"].fn(spark, SF_SMOKE)
    rplan = formatted_plan(df)
    assert rplan.count("regexp_replace") == 1
    assert rplan.count("format_string") == 1
    # The filter must sit ABOVE the spread Exchange: in formatted
    # explain the operator list is printed root-first, so the Filter
    # line must come before (= downstream of) the DEEPEST Exchange —
    # the round-robin spread one just above the scan. (The first
    # Exchange in print order is the aggregate's, above the filter.)
    ops = rplan[: rplan.index("(1) Scan")]
    assert ops.index("Filter") < ops.rindex("Exchange")


def _optimized_nodes(df) -> list:
    """Every node of ``df``'s optimized logical plan (JVM objects)."""
    nodes = []
    stack = [df._jdf.queryExecution().optimizedPlan()]  # noqa: SLF001
    while stack:
        node = stack.pop()
        nodes.append(node)
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return nodes


def _optimized_filter_conditions(df) -> list[str]:
    """Every Filter condition in ``df``'s optimized logical plan."""
    return [
        n.condition().toString()
        for n in _optimized_nodes(df)
        if n.nodeName() == "Filter"
    ]


def test_clf_filters_read_computed_columns(spark):
    """Filters above parse_clf must read its computed columns, never
    re-derive them: the output-projection barrier stops valid_lines'
    ``host != ''`` and the isnotnull filters Catalyst infers from Q1's
    join key from sinking below the typed-column projection, where they
    would re-run the timestamp parse and its ``ok`` guard (``_p[0]``,
    ``size(_p)``, ``Contains(value, \\x01)``) per row before the
    projection computes it all again. The CLI's batch queries parse
    under a checkpoint, so their half inspects the relation that
    ``batch_queries`` checkpoints."""
    from flink_exercise_spark.__main__ import host_window_counts
    from flink_exercise_spark.sources.clf import (
        GOLDEN_LOG_PATH,
        parse_clf,
        valid_lines,
    )

    logs = valid_lines(parse_clf(spark.read.text(GOLDEN_LOG_PATH)))
    shared = host_window_counts(logs)
    golden = specs()["clf_golden_log"].fn(spark, SF_SMOKE)
    for df in (shared, golden):
        conds = _optimized_filter_conditions(df)
        for c in conds:
            for banned in ("gettimestamp", "regexp_replace", "split(",
                           "Contains(value"):
                assert banned not in c, f"{banned} re-derived in Filter: {c}"
        # Not vacuous: the validity filter is there, reading ``host``.
        assert any("host#" in c for c in conds)


def test_batch_queries_share_one_checkpointed_scan(spark):
    """The CLI's batch Q1-Q3 read one checkpointed per-(window, host)
    relation, as the reference feeds one parsed stream to all three:
    no query scans the input itself, and the shared relation scans it
    once."""
    from flink_exercise_spark.__main__ import (
        batch_queries,
        host_window_counts,
    )
    from flink_exercise_spark.sources.clf import (
        GOLDEN_LOG_PATH,
        parse_clf,
        valid_lines,
    )

    logs = valid_lines(parse_clf(spark.read.text(GOLDEN_LOG_PATH)))
    for df in batch_queries(logs):
        names = [n.nodeName() for n in _optimized_nodes(df)]
        assert not [n for n in names if "Relation" in n], names
        assert "LogicalRDD" in names, names
        executed = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "FileScan" not in executed, executed
    shared = host_window_counts(logs)
    executed = shared._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert executed.count("FileScan") == 1, executed


def test_string_key_argmax_stays_hash_aggregate(spark):
    """The two-pass string-key arg-max (ref_q1_top_host_str) must plan
    as HashAggregates + a broadcast join of the tiny per-window maxima:
    no SortAggregate, no window function over the counts relation."""
    df = specs()["ref_q1_top_host_str"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    # Both FULL-relation aggregations (per-(window,host) counts and
    # per-window maxima) must be two-phase HashAggregates...
    assert plan.count("HashAggregate") >= 4
    # ...and any SortAggregate may only sit ABOVE the broadcast join,
    # i.e. over the already-reduced rows-at-max relation (string agg
    # buffers can't hash-aggregate in Spark; sorting ~#windows rows is
    # the right trade). The join's inputs must be sort-free.
    join_pos = plan.find("BroadcastHashJoin")
    assert join_pos > 0
    first_sort_agg = plan.find("SortAggregate")
    assert first_sort_agg == -1 or first_sort_agg < join_pos, (
        "SortAggregate below the reduction join:\n" + plan
    )
    assert "windowspecdefinition" not in plan.lower()
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_packed_argmax_rejects_string_key(spark):
    """The packed-BIGINT arg-max must refuse non-integral keys instead
    of silently corrupting results (ADVICE round 1)."""
    import pytest as _pytest

    from flink_exercise_spark.operators.aggregates import (
        top_host_per_window,
    )
    from flink_exercise_spark.sources.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "host", F.concat(F.lit("u"), F.col("user_id").cast("string"))
    )
    with _pytest.raises(TypeError, match="integral key"):
        top_host_per_window(ev, key="host")


def test_q14_broadcasts_part(spark):
    df = specs()["tpch_q14_promo_revenue"].fn(spark, SF_SMOKE)
    assert_broadcast_join(df)
    assert_pushed_filters(df, "GreaterThanOrEqual(l_shipdate")


def test_lsh_verified_pairs_gated_join(spark):
    """The LSH-gated Jaccard verify must join the shingle index against
    the (broadcast) candidate pairs — never an unblocked token
    self-join, and no cartesian anywhere. The broadcast hint is
    count-gated: at fixture scale the candidates broadcast; with the
    gate forced shut (broadcast_limit=0) the same pipeline must plan a
    non-broadcast candidates join instead of OOMing a huge build side."""
    import re

    from flink_exercise_spark.operators.dedup import lsh_verified_pairs
    from flink_exercise_spark.sources.tables import load_table

    df = specs()["dedup_lsh_verified_pairs"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert_no_cartesian(df)
    assert "BroadcastHashJoin" in plan

    docs = load_table(spark, SF_SMOKE, "documents")
    forced = lsh_verified_pairs(docs, broadcast_limit=0)
    fplan = formatted_plan(forced)
    assert_no_cartesian(forced)
    # The doc_a-side candidates join must not be a broadcast of the
    # candidate relation: the forced plan keeps at least one shuffled
    # join where the default plan broadcasts, so it carries strictly
    # fewer BroadcastHashJoins and at least one shuffle-side join.
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin)", fplan)
    assert fplan.count("BroadcastHashJoin") < plan.count("BroadcastHashJoin")


def test_cli_batch_q1_no_sortaggregate(spark):
    """The CLI batch Q1 must use the library's two-pass HashAggregate
    arg-max: no SortAggregate over the full counts relation (the
    max_by(host, struct(...)) trap this replaced planned one)."""
    from flink_exercise_spark.__main__ import batch_queries
    from flink_exercise_spark.sources.clf import (
        GOLDEN_LOG_PATH,
        parse_clf,
        valid_lines,
    )

    logs = valid_lines(parse_clf(spark.read.text(GOLDEN_LOG_PATH)))
    q1, q2, q3 = batch_queries(logs)
    plan = formatted_plan(q1)
    join_pos = plan.find("BroadcastHashJoin")
    assert join_pos != -1
    # Any SortAggregate may only sit above the broadcast join (the tiny
    # rows-at-max tie-break), never over the full counts relation.
    sort_pos = plan.find("SortAggregate")
    assert sort_pos == -1 or sort_pos < join_pos  # formatted: above = earlier
    assert plan.count("HashAggregate") >= 4


def test_text_entries_are_shuffle_free_projections(spark):
    """text_stats and text_fingerprints stay scan-project shaped: the
    round-6 columns (repetition fold, PII scrub) must not introduce a
    join or aggregate — the only allowed exchange is spread()'s
    input repartition (round-robin, no key)."""
    for name in ("text_stats", "text_fingerprints"):
        plan = formatted_plan(specs()[name].fn(spark, SF_SMOKE))
        for op in ("SortMergeJoin", "BroadcastHashJoin", "HashAggregate",
                   "Window", "Sort "):
            assert op not in plan, f"{name}: unexpected {op}\n{plan}"


def test_pack_chunks_windows_are_bucket_partitioned(spark):
    """pipeline_pack_chunks' doc-relation window must be partitioned by
    the hash bucket (256-way parallel); the only global window runs
    over the 256-row bucket-totals relation, and the offsets join back
    by broadcast."""
    df = specs()["pipeline_pack_chunks"].fn(spark, SF_SMOKE)
    # the executed-plan string inlines each Window's partition spec
    # (formatted_plan splits it into detail sections)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    doc_windows = [
        m.group(0)
        for m in re.finditer(r"Window \[sum\(n_tok[^\]]*\], \[([^\]]*)\]", plan)
    ]
    assert doc_windows, f"expected a running-sum window in:\n{plan}"
    for w in doc_windows:
        assert "_bucket" in w, f"unpartitioned doc window: {w}"
    assert "BroadcastExchange" in plan


def test_decontaminate_broadcasts_eval_grams(spark):
    """Decontamination joins on the n-gram key via BROADCAST: the
    held-out side is a fixed-size benchmark, so the corpus-sized train
    side must never shuffle on the n-gram (a SortMergeJoin here would
    move every 13-gram of a 100 TB corpus across the wire)."""
    df = specs()["pipeline_decontaminate"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # The 13-gram array must be built ONCE per row, in a Project — not
    # re-derived inside a scan-side Filter. Both an explicit
    # size(_g) > 0 filter and the predicate Catalyst infers from a
    # non-outer explode inline the whole shingle expression into the
    # pushed-down condition (the reason the operator uses
    # explode_outer + isnotnull(tok)).
    for node in plan.split("\n\n"):
        if node.lstrip().startswith("(") and "Filter" in node.split("\n")[0]:
            assert "sequence(1," not in node, f"shingle expr in filter:\n{node[:500]}"


def test_substring_dedup_plan_shape(spark):
    """Exact-substring dedup: gram-keyed equi-joins only (no
    cartesian), and the positioned-gram expression is built once in a
    Project — never inlined into a pushed-down Filter (explode_outer
    discipline, same as decontaminate)."""
    df = specs()["dedup_exact_substring"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    for node in plan.split("\n\n"):
        if node.lstrip().startswith("(") and "Filter" in node.split("\n")[0]:
            assert "sequence(1," not in node, f"gram expr in filter:\n{node[:500]}"


def test_vocab_topk_uses_take_ordered(spark):
    """Both top-k facets of the tokenizer-induction query must plan as
    TakeOrderedAndProject (per-partition heap + driver merge) — a full
    sort of the vocabulary would own the whole relation on one task."""
    df = specs()["text_vocab_topk"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert plan.count("TakeOrderedAndProject") >= 2, plan
    assert "SortAggregate" not in plan, plan


def _exchange_inputs(plan: str) -> list[str]:
    """The detail segments of every Exchange node in a formatted plan."""
    return [
        seg for seg in plan.split("\n\n")
        if seg.strip()
        and seg.splitlines()[0].lstrip("(0123456789) ").startswith("Exchange")
    ]


def test_video_neardup_payload_never_shuffles(spark):
    """Video near-dup: the binary payload reduces to (doc_id, fp)
    landmarks inside the Arrow kernel — no Exchange carries the
    payload column, there is no row-at-a-time Python node, and the
    pairing is hash-join-only. (Kernel single-execution is pinned
    behaviorally: the landmark relation is persist_tracked, and a
    formatted pre-materialization plan legitimately repeats the
    persisted subtree under each consumer, so node COUNTS are not
    asserted here.)"""
    df = specs()["video_neardup_pairs"].fn(spark, SF_SMOKE)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan
    for seg in _exchange_inputs(plan):
        assert "payload" not in seg, seg


def test_mm_front_door_router_is_codegen_no_payload_shuffle(spark):
    """The registered front door: the modality router adds no
    row-at-a-time Python node (the prefix checks are codegen Column
    expressions), the corpus payload bytes appear in no Exchange, and
    nothing is cartesian."""
    df = specs()["mm_dedup_front_door"].fn(spark, SF_SMOKE)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan
    for seg in _exchange_inputs(plan):
        assert "payload" not in seg, seg


def test_fuzzy_decontam_benchmark_broadcasts_both_stages(spark):
    """Registered fuzzy decontamination: the benchmark side enters
    BroadcastExchange (band gate AND shingle verify), there is no
    cartesian, no row-at-a-time Python, and no SHUFFLE-REQUIRED
    Exchange carries the text column — the corpus never shuffles its
    payload or its n-grams to meet the benchmark. (The one permitted
    text-carrying exchange is sources.tables.spread's
    REPARTITION_BY_NUM, the under-partitioned-fixture scan fix that
    is a no-op at scale — its own docstring carries the measured
    rationale.)"""
    df = specs()["pipeline_decontaminate_fuzzy"].fn(spark, SF_SMOKE)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan
    for seg in _exchange_inputs(plan):
        if "REPARTITION_BY_NUM" in seg:
            continue
        assert "text#" not in seg, seg


def test_image_decontam_is_single_broadcast_join(spark):
    """mm_image_decontaminate: corpus bands probe a BROADCAST
    benchmark band set — BroadcastHashJoin present, no cartesian/
    BNLJ, and no Exchange on the corpus side below the join (the
    only wide exchange is the post-join candidate distinct, whose
    volume the benchmark's size bounds)."""
    df = specs()["mm_image_decontaminate"].fn(spark, SF_SMOKE)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    for seg in _exchange_inputs(plan):
        assert "payload" not in seg, seg
