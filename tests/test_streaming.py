"""Structured Streaming path: batch parity of the windowed rollup."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from end_to_end_data_engineering_job_listings_etl_spark.catalog import load_table
from end_to_end_data_engineering_job_listings_etl_spark.streaming.watermark import (
    events_stream_dir,
    run_to_memory_sink,
    stream_events,
    windowed_event_counts,
)
from tests.conftest import SF_DIR


def test_streaming_windowed_counts_match_batch(spark):
    streamed = windowed_event_counts(stream_events(spark, events_stream_dir(SF_DIR)))
    with tempfile.TemporaryDirectory() as ckpt:
        run_to_memory_sink(streamed, "stream_counts", ckpt)
    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM stream_counts").collect()
    }

    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events")
    )
    want = {(r["window_start"], r["event_type"]): r["n_events"] for r in batch.collect()}
    assert got == want
    assert len(want) > 0


def test_stateful_running_totals_match_batch(spark):
    import math
    import tempfile

    from end_to_end_data_engineering_job_listings_etl_spark.streaming.stateful import running_user_totals

    stream = running_user_totals(stream_events(spark, events_stream_dir(SF_DIR)))
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream.writeStream.format("memory")
            .queryName("user_totals")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM user_totals").collect()
    }
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
        .collect()
    )
    assert len(got) == len(batch) > 0
    for r in batch:
        n, t = got[r["user_id"]]
        assert n == r["n"]
        assert math.isclose(t, r["t"], rel_tol=1e-9)


def test_checkpoint_resume_two_batches_exactly_once(spark, tmp_path):
    """Restarting an availableNow drain from the SAME checkpoint after
    a second file lands must process only the new file (exactly-once):
    final complete-mode counts equal one batch aggregation over the
    union, with no double-counting of batch 1."""
    import os

    from pyspark.sql import types as T

    src = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    os.symlink(
        os.path.join(SF_DIR, "events.parquet"),
        os.path.join(src, "events.parquet"),
    )
    agg = windowed_event_counts(stream_events(spark, src))
    run_to_memory_sink(agg, "resume_counts", ckpt)
    n1 = spark.sql("SELECT sum(n_events) AS s FROM resume_counts").collect()[0]["s"]

    # a second micro-batch: 7 fresh events in one already-seen window
    base = load_table(spark, SF_DIR, "events")
    late_ts = base.agg(F.max("ts")).collect()[0][0]
    extra = spark.createDataFrame(
        [(10_000_000 + i, late_ts, 1, "view", 1.0, "{}") for i in range(7)],
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampNTZType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        ),
    )
    staging = str(tmp_path / "staging")
    extra.coalesce(1).write.parquet(staging)
    part = next(
        f for f in os.listdir(staging) if f.endswith(".parquet")
    )
    os.rename(os.path.join(staging, part), os.path.join(src, "extra.parquet"))

    agg2 = windowed_event_counts(stream_events(spark, src))
    run_to_memory_sink(agg2, "resume_counts", ckpt)
    n2 = spark.sql("SELECT sum(n_events) AS s FROM resume_counts").collect()[0]["s"]
    assert n2 == n1 + 7


def test_tws_operator_gated_without_protobuf(spark):
    """transformWithStateInPandas is implemented but its Python state
    protocol needs google.protobuf; this container lacks it, so the
    plan-level wrapper must raise NotImplementedError (and run for
    real wherever protobuf exists)."""
    import pytest

    try:
        import google.protobuf  # noqa: F401

        has_protobuf = True
    except ImportError:
        has_protobuf = False
    from end_to_end_data_engineering_job_listings_etl_spark.plans.media_stream import stream_tws_user_totals

    if has_protobuf:
        got = {
            r["user_id"]: r["n_events"]
            for r in stream_tws_user_totals(spark, SF_DIR).collect()
        }
        batch = load_table(spark, SF_DIR, "events").groupBy("user_id").count().collect()
        assert got == {r["user_id"]: r["count"] for r in batch}
    else:
        with pytest.raises(NotImplementedError):
            stream_tws_user_totals(spark, SF_DIR)


def test_state_partitions_override_semantics(spark, monkeypatch):
    """ADVICE r12: an explicit SPARK_GRAFT_STREAM_STATE_PARTITIONS
    override is honored verbatim — including ABOVE the session's
    shuffle-partition count (the operator is sizing for a target
    cluster, not this session) — and a malformed or non-positive value
    warns and falls back to the source-bytes derivation instead of
    being silently swallowed or floored."""
    import warnings

    from end_to_end_data_engineering_job_listings_etl_spark.streaming.watermark import (
        derived_state_partitions,
    )

    d = events_stream_dir(SF_DIR)
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))

    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", str(cur + 7))
    assert derived_state_partitions(spark, d) == cur + 7

    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
    derivation = derived_state_partitions(spark, d)
    for bad in ("0", "-3", "not-an-int"):
        monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", bad)
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            derived = derived_state_partitions(spark, d)
        assert any("override ignored" in str(w.message) for w in caught), bad
        assert derived == derivation, bad
