"""Streaming / multimodal / sink-roundtrip registry queries vs oracle,
plus the reference-shaped job-listings pipeline's parquet-derived
oracle pair."""

from __future__ import annotations

import pytest

from end_to_end_data_engineering_job_listings_etl_spark.plans import joblistings, media_stream
from tests.conftest import SF_DIR
from tests.oracle_check import compare


@pytest.mark.parametrize("name", sorted(media_stream.ORACLES))
def test_media_stream_matches_oracle(spark, duck, name):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    got = media_stream.QUERIES[name](spark, SF_DIR)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    compare(got, duck, media_stream.ORACLES[name], name)


@pytest.mark.parametrize("name", sorted(joblistings.ORACLES))
def test_joblistings_checked_matches_oracle(spark, duck, name):
    compare(
        joblistings.QUERIES[name](spark, SF_DIR),
        duck,
        joblistings.ORACLES[name],
        name,
    )


def test_mm_features_deterministic_and_shaped(spark):
    from end_to_end_data_engineering_job_listings_etl_spark.multimodal.binary_ops import extract_features

    full = extract_features(media_stream.media_from_documents(spark, SF_DIR))
    rows = {r["media_id"]: r for r in full.collect()}
    assert len(rows) > 0
    # stubbed decode is pure in the payload: re-run must be identical
    b = {
        r["media_id"]: r
        for r in extract_features(
            media_stream.media_from_documents(spark, SF_DIR)
        ).collect()
    }
    assert rows == b
    r0 = next(iter(rows.values()))
    assert len(r0["sha1"]) == 40
    assert len(r0["feature"]) == 8
    assert 16 <= r0["width"] <= 255 and 16 <= r0["height"] <= 255
