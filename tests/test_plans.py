"""Physical-plan quality gates: the properties that make these plans
survive a 100x scale-up. Regressions here are perf bugs even when
results stay correct."""

from __future__ import annotations

import re

from end_to_end_data_engineering_job_listings_etl_spark.plans import bi, corpus, functional, pricing, star
from tests.conftest import SF_DIR


def _plan(df) -> str:
    # default maxMetadataStringLength=100 truncates PushedFilters lists
    df.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "2000")
    return df._jdf.queryExecution().executedPlan().toString()


def test_fact_assembly_join_strategy_contract(spark):
    """Bounded-domain dims (segment/priority/location/date) are
    broadcast; fact-scale frames (the per-order keymap, the O(data)
    employer dim) are NOT broadcast-PINNED — a pinned 15M-row build
    OOMed the sf10 gate, so those joins are left to Catalyst
    estimates + AQE (they broadcast while they fit, shuffle past the
    threshold). At this SF that leaves at most the two unpinned joins
    as shuffle joins; everything else stays broadcast and nothing is
    a cross product."""
    p = _plan(star.fact_orders(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert p.count("SortMergeJoin") <= 2
    assert "CartesianProduct" not in p


def test_watermark_predicate_reaches_scan(spark):
    # micros-physical NTZ ts: the plain `ts > lit(wm)` predicate pushes
    # straight into the parquet scan (no nanos rewrite needed anymore).
    p = _plan(functional.inc_watermark_agg(spark, SF_DIR))
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert pushed and any(
        re.search(r"PushedFilters: \[[^\]]*GreaterThan\(ts", l) for l in pushed
    ), pushed


def test_loading_events_leaves_session_conf_alone(spark):
    """events.ts is stored as timestamp[us], so reading it needs no
    legacy parquet flag: a fresh events load must not change session
    conf."""
    from end_to_end_data_engineering_job_listings_etl_spark import cachereg, catalog

    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "false")
    try:
        cachereg.evict(spark, SF_DIR)  # force a fresh read
        ev = catalog.load_table(spark, SF_DIR, "events")
        assert spark.conf.get(key) == "false"
        assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
    finally:
        spark.conf.unset(key)


def test_pricing_filter_reaches_scan(spark):
    p = _plan(pricing.li_pricing_summary(spark, SF_DIR))
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert pushed and any("LessThan(l_shipdate" in l for l in pushed), pushed


def test_topk_compiles_to_take_ordered(spark):
    p = _plan(bi.bi_top15_employers(spark, SF_DIR))
    assert "TakeOrderedAndProject" in p


def test_text_stats_prunes_columns(spark):
    p = _plan(corpus.text_stats(spark, SF_DIR))
    scans = [l for l in p.splitlines() if "ReadSchema" in l]
    assert scans
    # only doc_id + text should be read; lang/source/n_chars pruned
    assert any("doc_id" in l and "text" in l for l in scans)
    assert all("lang" not in l and "source" not in l for l in scans)


def test_knn_broadcasts_probe_side(spark):
    p = _plan(corpus.sim_knn_join(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_lsh_no_global_pair_explosion(spark):
    """The LSH candidate join must join on the band bucket (hash
    partitioned), never a cross product."""
    p = _plan(corpus.dd_lsh_candidates(spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_tpch3_q6_filters_reach_scan(spark):
    from end_to_end_data_engineering_job_listings_etl_spark.plans import tpch3

    p = _plan(tpch3.q6_forecast_revenue(spark, SF_DIR))
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("GreaterThanOrEqual(l_shipdate" in l for l in pushed), pushed
    assert any("LessThan(l_quantity" in l for l in pushed), pushed
    # projection pruned to the four columns the query touches
    scans = [l for l in p.splitlines() if "ReadSchema" in l]
    assert any(
        "l_quantity" in l and "l_orderkey" not in l and "l_partkey" not in l
        for l in scans
    ), scans


def test_tpch3_q4_quarter_filter_reaches_scan(spark):
    from end_to_end_data_engineering_job_listings_etl_spark.plans import tpch3

    p = _plan(tpch3.q4_order_priority(spark, SF_DIR))
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("GreaterThanOrEqual(o_orderdate" in l for l in pushed), pushed
