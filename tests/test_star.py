"""Star-schema pipeline vs DuckDB oracle (driver-gate replica)."""

from __future__ import annotations

import pytest

from end_to_end_data_engineering_job_listings_etl_spark import cachereg
from end_to_end_data_engineering_job_listings_etl_spark.plans import star
from tests.conftest import SF_DIR
from tests.oracle_check import compare


@pytest.mark.parametrize("name", sorted(star.QUERIES))
def test_star_query_matches_oracle(spark, duck, name):
    compare(star.QUERIES[name](spark, SF_DIR), duck, star.ORACLES[name], name)


def test_dim_company_keys_dense_and_unique(spark):
    df = star.dim_company(spark, SF_DIR).collect()
    sks = sorted(r["company_sk"] for r in df)
    assert sks == list(range(1, len(sks) + 1))


def test_bucketed_dim_dense_unique(spark):
    """Bucketed SK assigner: dense 1..N ids, same key set as the ranked
    dim."""
    from pyspark.sql import functions as F

    from end_to_end_data_engineering_job_listings_etl_spark.functions.normalize import norm_upper
    from end_to_end_data_engineering_job_listings_etl_spark.operators.dims import build_dim

    base = star.landing(spark, SF_DIR)
    dim = build_dim(
        base, [norm_upper("c_name").alias("employer_name")], "company_sk", n_buckets=16
    )
    rows = dim.collect()
    sks = sorted(r["company_sk"] for r in rows)
    assert sks == list(range(1, len(sks) + 1))
    names_bucketed = {r["employer_name"] for r in rows}
    names_global = {r["employer_name"] for r in star.dim_company(spark, SF_DIR).collect()}
    assert names_bucketed == names_global


def test_fact_left_joins_preserve_orders(spark):
    from end_to_end_data_engineering_job_listings_etl_spark.catalog import load_table

    n_orders = load_table(spark, SF_DIR, "orders").count()
    assert star.fact_orders(spark, SF_DIR).count() == n_orders


def _entries(spark, family: str) -> list[tuple]:
    return [k for k in cachereg._MEMO.get(spark, {}) if k[:2] == (SF_DIR, family)]


def test_clear_caches_evicts_and_unpersists(spark):
    """The memo layers must not retain persisted frames for the process
    lifetime: evicting the star family must drop this dataset's star
    entries and unpersist the dims bundle's shared ranked frame — and a
    rebuild afterwards must still produce the same dimension."""
    before = {r["company_sk"]: r["employer_name"] for r in star.dim_company(spark, SF_DIR).collect()}
    shared = cachereg._MEMO[spark][(SF_DIR, "star", "dims_bundle")].pins
    # shared holds the memory-persisted ranked frame plus the ids-layer
    # checkpoint pins (LogicalRDD frames, not cache-manager entries)
    assert any(f.storageLevel.useMemory for f in shared)
    assert (SF_DIR, "star", "landing") in _entries(spark, "star")
    cachereg.evict(spark, SF_DIR, family="star")
    assert not _entries(spark, "star")
    assert all(not f.storageLevel.useMemory for f in shared)
    after = {r["company_sk"]: r["employer_name"] for r in star.dim_company(spark, SF_DIR).collect()}
    assert after == before


def test_jl_clear_caches_roundtrip(spark):
    from end_to_end_data_engineering_job_listings_etl_spark.plans import joblistings as jl

    before = jl.jl_fact_checked(spark, SF_DIR).count()
    shared = cachereg._MEMO[spark][(SF_DIR, "jl_star", "star")].pins
    # shared holds persisted ranked frames plus ids-layer checkpoint
    # pins (LogicalRDD frames, which never show a cache storage level)
    assert any(f.storageLevel.useMemory for f in shared)
    cachereg.evict(spark, SF_DIR, family="jl_star")
    assert not _entries(spark, "jl_star")
    assert all(not f.storageLevel.useMemory for f in shared)
    assert jl.jl_fact_checked(spark, SF_DIR).count() == before
