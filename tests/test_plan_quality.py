"""Physical-plan regression guards — the properties that matter at
100 TB, asserted so a refactor can't silently lose them:

  * no row-at-a-time Python evaluation (BatchEvalPython) anywhere;
  * Arrow-based Python ops only in the queries sanctioned to use them;
  * dimension joins broadcast (no SortMergeJoin for enrich/TPC-H Q3);
  * parquet pushdown reaches the scan for pushable predicates;
  * column pruning: narrow queries never read the wide text column.

Plans are compiled at sf0.001 (explain only, nothing executes)."""

import re

import pytest

from file_d_spark.queries import QUERIES


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_of(spark, sf_dir, name: str) -> str:
    return executed_plan(QUERIES[name](spark, sf_dir))


# Arrow-vectorized Python is sanctioned only where Column expressions
# genuinely can't express the op (SURVEY.md §2 notes per op)
ARROW_PY_ALLOWED = {
    "kitchen_sink_actions",   # convert_utf8_bytes pandas UDF
    "convert_suite",          # same UDF via its folded utf8 leg (r12)
    "multimodal_meta",        # mapInPandas decode plumbing
    # throttle's exact limit_distribution is a JVM-side generated
    # aggregate() fold for every schema, so the throttle_modes dist leg
    # runs under the strict no-Python bar above
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_row_at_a_time_python(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan, f"{name} fell back to row-UDF"
    if name not in ARROW_PY_ALLOWED:
        assert not re.search(
            r"ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas", plan
        ), f"{name} unexpectedly runs Python"
    elif name == "convert_suite":
        # only the folded utf8 leg carries the sanctioned Arrow UDF —
        # cap at one node so the date/log_level legs can't silently
        # regress to Python under the suite's allowance
        assert len(re.findall(r"ArrowEvalPython", plan)) <= 1, (
            "convert_suite: a non-utf8 leg grew an Arrow UDF"
        )
        assert not re.search(r"FlatMapGroupsInPandas|MapInPandas", plan)


def test_enrich_joins_broadcast(spark, sf_dir):
    for name in ["join_enrich_broadcast", "tpch_q3"]:
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join"
        assert "SortMergeJoin" not in plan, (
            f"{name}: dimension join degraded to sort-merge"
        )


def test_tpch_q5_broadcasts_dims(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q5")
    assert "BroadcastHashJoin" in plan, "Q5: dimension joins not broadcast"
    assert "CartesianProduct" not in plan
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("o_orderdate" in p for p in pushed), (
        "Q5 orderdate predicate did not reach the parquet scan"
    )


def test_tpch_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q1")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("l_shipdate" in p for p in pushed), (
        "Q1 shipdate predicate did not reach the parquet scan"
    )
    reads = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    read_cols = {c.split(":")[0] for rs in reads for c in rs.split(",") if c}
    assert "l_comment" not in read_cols, "Q1 reads unreferenced columns"


def test_narrow_queries_prune_text(spark, sf_dir):
    """Queries that don't consume document text must not scan it —
    text dominates the table's bytes."""
    for name in ["hash_split_stats", "multimodal_meta"]:
        plan = plan_of(spark, sf_dir, name)
        reads = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        read_cols = {
            c.split(":")[0] for rs in reads for c in rs.split(",") if c
        }
        if name == "multimodal_meta":
            continue  # text IS the blob stand-in here
        assert "text" not in read_cols, f"{name} scans the text column"


def test_bucketed_enrich_no_exchange(spark, sf_dir):
    """The registered bucketed join must read both sides as bucketed
    scans and merge-join them with ZERO Exchange under the join — the
    layout-pinned shuffle is the whole point of the query.  The only
    Exchange in the plan is the final few-row segment aggregation."""
    plan = plan_of(spark, sf_dir, "bucketed_enrich")
    assert "SortMergeJoin" in plan, "bucketed join degraded"
    assert plan.count("Bucketed: true") == 2, "scan lost bucketing info"
    assert plan.count("Exchange") == 1, (
        "bucketed_enrich: join sides re-shuffled despite bucketed layout"
    )


def test_stateful_ops_single_shuffle(spark, sf_dir):
    """throttle/sessionize shuffle once on their key (plus AQE reads);
    a second Exchange on a different key means the plan regressed."""
    for name, max_exchanges in [("sessionize", 1), ("topk_per_group", 1)]:
        plan = plan_of(spark, sf_dir, name)
        n = len(re.findall(r"Exchange hashpartitioning", plan))
        assert n <= max_exchanges, (
            f"{name}: {n} hash exchanges (expected <= {max_exchanges})"
        )


def test_action_chain_fuses_into_few_projections(spark, sf_dir):
    """A long scalar-action chain must compile into a handful of fused
    projections (CollapseProject + codegen), NOT one operator per
    action — the engine's per-event plugin chain becomes one pass."""
    from file_d_spark.engine import Pipeline
    from file_d_spark.tables import load_table

    p = Pipeline.from_dict(
        {
            "actions": [
                {"type": "add_host"},
                {"type": "set_time", "field": "reset_time", "format": "rfc3339"},
                {"type": "modify", "tag": "u${user_id}-${event_type}"},
                {"type": "rename", "value": "val2"},
                {"type": "json_encode", "field": "props"},
                {"type": "mask", "masks": [{"re": r"\d{4}", "replace_word": "X"}],
                 "process_fields": ["props"]},
                {"type": "remove_fields", "fields": ["event_id"]},
                {"type": "discard", "do_if": {"op": "equal", "field": "event_type",
                                              "values": ["view"]}},
            ]
        }
    )
    df = p.apply(load_table(spark, sf_dir, "events"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_project = plan.count("Project ")
    assert n_project <= 3, f"8-action chain produced {n_project} Project nodes"
    # "*(n)" prefixes mark whole-stage-codegen stages in the plan string
    assert re.search(r"\*\(\d+\) Project", plan), "projection left codegen"


def test_hll_sketch_shuffles_registers_only(spark, sf_dir):
    """HLL's two exchanges must both be partial-aggregated register
    shuffles — map-side HashAggregate below each Exchange — never a
    raw-value exchange."""
    plan = plan_of(spark, sf_dir, "sketch_hll_distinct")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2
    assert plan.count("partial_max") >= 1, "register max lost map-side combine"
    assert "CartesianProduct" not in plan


def test_kmv_overlap_uses_distributed_topk(spark, sf_dir):
    """The per-side bottom-k must plan as TakeOrderedAndProject (the
    distributed heap), NOT a global Sort — a global sort over the
    distinct-hash frame is the single-task failure mode at scale."""
    plan = plan_of(spark, sf_dir, "sketch_overlap")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_incremental_bucketed_shuffles_only_new_side(spark, sf_dir):
    """The bucketed seen-digest anti-join must read the seen corpus as
    a bucketed scan and shuffle ONLY the new batch — one Exchange in
    the whole plan."""
    plan = plan_of(spark, sf_dir, "dedup_incremental_bucketed")
    assert "SortMergeJoin" in plan and "LeftAnti" in plan
    assert plan.count("Bucketed: true") == 1, "seen scan lost bucketing"
    assert plan.count("Exchange") == 1, (
        "seen side re-shuffled despite bucketed layout"
    )


def test_quantile_thresholds_window_on_histogram(spark, sf_dir):
    """quantile_thresholds' cumulative window must run over the
    (group, score) HISTOGRAM — partial aggregation below the window's
    exchange — never over raw rows (the adaptive_quality_filter
    doctrine).  Registered at r13 (was staged)."""
    plan = plan_of(spark, sf_dir, "quantile_thresholds")
    assert "Window" in plan
    assert re.search(r"HashAggregate.*partial_count", plan) or "partial_count" in plan, (
        "histogram groupBy lost its map-side partial aggregation"
    )
