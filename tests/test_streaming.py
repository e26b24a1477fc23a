"""Structured Streaming path: batch parity of the windowed rollup, the
stateful operators and checkpoint resume, plus the drain's contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from end_to_end_data_engineering_job_listings_etl_spark.catalog import load_table
from end_to_end_data_engineering_job_listings_etl_spark.streaming.watermark import (
    derived_state_partitions,
    drain,
    drain_to_memory,
    events_stream_dir,
    scoped_conf,
    stream_events,
    windowed_event_counts,
)
from tests.conftest import SF_DIR


def test_streaming_windowed_counts_match_batch(spark):
    streamed = windowed_event_counts(stream_events(spark, events_stream_dir(SF_DIR)))
    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in drain_to_memory(streamed, "complete").collect()
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

    from end_to_end_data_engineering_job_listings_etl_spark.streaming.stateful import running_user_totals

    stream = running_user_totals(stream_events(spark, events_stream_dir(SF_DIR)))
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in drain_to_memory(stream, "update").collect()
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
    first = drain_to_memory(agg, "complete", checkpoint=ckpt)
    n1 = first.agg(F.sum("n_events")).collect()[0][0]

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
    second = drain_to_memory(agg2, "complete", checkpoint=ckpt)
    n2 = second.agg(F.sum("n_events")).collect()[0][0]
    assert n2 == n1 + 7


def test_tws_operator_gated_without_protobuf(spark):
    """transformWithStateInPandas is implemented but its Python state
    protocol needs google.protobuf; this container lacks it, so the
    plan-level wrapper must raise NotImplementedError (and run for
    real wherever protobuf exists)."""
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


def test_derived_state_partitions_sized_from_source(spark, tmp_path):
    """State partitions follow the landing's bytes (~32 MB each): one
    for the small events landing, and never above the session's
    shuffle partitions however large the landing is. The large landing
    is a sparse file, so its size costs no disk."""
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert derived_state_partitions(spark, events_stream_dir(SF_DIR)) == 1

    big = tmp_path / "landing"
    big.mkdir()
    with open(big / "events.parquet", "wb") as f:
        f.truncate((cur + 5) * (32 << 20))
    assert derived_state_partitions(spark, str(big)) == cur


def test_failed_drain_reraises_and_restores_conf(spark):
    """A drain whose foreachBatch raises must surface the error and
    still restore spark.sql.shuffle.partitions, which it set from the
    source for the drain; the batch ran under the sized value."""
    src = events_stream_dir(SF_DIR)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    seen = []

    def boom(bdf, _batch_id):
        seen.append(bdf.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        raise ValueError("boom in foreachBatch")

    try:
        sized = str(derived_state_partitions(spark, src))
        with pytest.raises(Exception, match="boom in foreachBatch"):
            drain(stream_events(spark, src).writeStream.foreachBatch(boom), state_from=src)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert seen == [sized]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_scoped_conf_unsets_a_key_it_introduced(spark):
    """A key with no value before the block is unset again after it,
    the path the RocksDB provider of stream_tws_user_totals takes."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    if prev is not None:
        spark.conf.unset(key)
    try:
        with scoped_conf(spark, {key: "x.Provider"}):
            assert spark.conf.get(key) == "x.Provider"
        assert spark.conf.get(key, None) is None
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
