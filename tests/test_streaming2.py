"""Chained aggs, outer interval joins, dedup-within-watermark and the
multi-batch twins vs the batch oracle, plus emission invariants."""

from __future__ import annotations

import pytest

from end_to_end_data_engineering_job_listings_etl_spark.plans import streaming2
from tests.conftest import SF_DIR
from tests.oracle_check import compare


@pytest.mark.parametrize("name", sorted(streaming2.QUERIES))
def test_streaming2_matches_oracle(spark, duck, name):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    got = streaming2.QUERIES[name](spark, SF_DIR)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    compare(got, duck, streaming2.ORACLES[name], name)


def test_leftouter_join_emits_null_rows(spark):
    rows = streaming2.stream_leftouter_interval_join(spark, SF_DIR).collect()
    nulls = [r for r in rows if r["view_id"] is None]
    matched = [r for r in rows if r["view_id"] is not None]
    assert nulls and matched
    # a purchase is either null-padded or matched, never both
    null_ids = {r["purchase_id"] for r in nulls}
    matched_ids = {r["purchase_id"] for r in matched}
    assert not (null_ids & matched_ids)


def test_dedup_within_watermark_is_exactly_distinct(spark):
    got = streaming2.stream_dedup_within_watermark(spark, SF_DIR)
    n = got.count()
    assert n == got.distinct().count()


def test_multibatch_dedup_equals_single_batch(spark):
    """The ≥4-batch drain must produce exactly the single-batch plan's
    rows (cross-batch state suppressed the same
    duplicate set)."""
    single = {
        (r["user_id"], r["event_type"])
        for r in streaming2.stream_dedup_within_watermark(spark, SF_DIR).collect()
    }
    multi = {
        (r["user_id"], r["event_type"])
        for r in streaming2.stream_dedup_multibatch(spark, SF_DIR).collect()
    }
    assert multi == single


def test_multibatch_cdc_equals_single_batch(spark):
    """The 4-slice CDC drain lands on the identical snapshot the
    one-batch stream (and the one-shot batch merge) produces."""
    from end_to_end_data_engineering_job_listings_etl_spark.plans import media_stream

    single = sorted(
        map(tuple, media_stream.stream_cdc_apply(spark, SF_DIR).collect())
    )
    multi = sorted(
        map(tuple, streaming2.stream_cdc_multibatch(spark, SF_DIR).collect())
    )
    assert multi == single


def test_multibatch_session_equals_single_batch_append(spark):
    """Append-mode parity: a SINGLE-batch append drain of the same
    session plan (one staged file, same closing watermark) emits
    exactly the multi-batch drain's rows — mid-drain eviction changed
    when sessions were emitted, never what was emitted."""
    from end_to_end_data_engineering_job_listings_etl_spark.streaming.watermark import (
        drain_to_memory,
        events_stream_dir,
        session_counts,
        stream_events,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = stream_events(spark, events_stream_dir(SF_DIR))
    single = sorted(map(tuple, drain_to_memory(session_counts(ev), "append").collect()))
    multi = sorted(
        map(tuple, streaming2.stream_session_multibatch(spark, SF_DIR).collect())
    )
    assert multi == single
