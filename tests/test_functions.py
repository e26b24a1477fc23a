"""Function-library unit tests (skew operator exactness; bucketed SKs
are covered in test_star)."""

from __future__ import annotations

from pyspark.sql import functions as F

from end_to_end_data_engineering_job_listings_etl_spark.catalog import load_table
from tests.conftest import SF_DIR


def test_salted_distinct_exact(spark):
    from end_to_end_data_engineering_job_listings_etl_spark.operators.skew import salted_distinct_count

    ev = load_table(spark, SF_DIR, "events")
    got = {
        r["event_type"]: r["n_distinct"]
        for r in salted_distinct_count(ev, "event_type", "user_id", 16).collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want
