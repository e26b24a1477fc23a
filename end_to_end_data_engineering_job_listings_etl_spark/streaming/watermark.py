"""Streaming ingest, the event-stream plans, and the one drain.

Reference analog: the batch high-watermark incremental extract
(``scripts/pyspark/extract_postgres_table.py:28-34,72-76``) is the
reference's only "streaming" — a poll-filter-persist loop. Here it is
also expressed natively as Structured Streaming: file source →
event-time watermark → stateful operator → sink, with the checkpoint
carrying the watermark state the reference kept in an Airflow
Variable.

Every streaming query in the engine runs through ``drain``: an
``availableNow`` trigger (process everything that landed, then stop),
so a result is a pure function of the input files and batch parity is
what correctness requires (SURVEY.md §2.10). The streaming path must
produce the same answers as the batch plan under complete processing
(tested in tests/test_streaming.py and the registry oracle tests).
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from ..util import scratch_dir

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
) -> str:
    """Stage a frame as ``n_slices`` parquet files RANGE-PARTITIONED on
    ``order_cols`` with strictly increasing mtimes — the multi-batch
    landing fixture. A ``maxFilesPerTrigger=1`` availableNow drain
    then processes one file per micro-batch in mtime order, and
    because file i's rows all order BELOW file i+1's on the slice key,
    the stream sees a time-ordered feed: the watermark advances
    between batches yet no row ever arrives late, so cross-batch state
    and eviction are exercised WITHOUT changing the answer. (Real
    changelogs/landings are time-ordered the same way; this is the
    production shape, not a trick.)"""
    d = scratch_dir(prefix=prefix)
    (
        df.repartitionByRange(n_slices, *[F.col(c) for c in order_cols])
        .write.mode("overwrite")
        .parquet(d)
    )
    parts = sorted(glob.glob(os.path.join(d, "part-*")))
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
    return d


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
        # micro-batch. The outer interval-join oracles depend on that
        # invariant (the watermark must not advance mid-drain and
        # evict matches the oracle counts) — a multi-file landing
        # without this option could silently split into
        # watermark-advancing batches. The *_multibatch variants pass 1
        # over a sliced_stage_dir landing instead: time-ordered slices
        # make watermark advancement safe, and exercising the
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


def session_counts(events: DataFrame) -> DataFrame:
    """Per-user session windows (30-minute gap, 2-hour watermark) with
    their event counts. Session semantics are end-exclusive: an event
    exactly one gap after the previous one starts a NEW session.
    Session merging is per user_id key, so the emitted set does not
    depend on the state layout."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def purchase_view_join(spark: SparkSession, source_dir: str, how: str) -> DataFrame:
    """Stream-stream event-time interval join of purchases to views of
    the same user within the preceding hour, as ``(purchase_id,
    view_id)``. Two readers of one landing, each with a 2-hour
    watermark; the join condition bounds event time on both sides, so
    join state is evictable. ``how`` is a Spark join type (``inner``,
    ``left_outer``, ``full_outer``); outer rows are emitted only once
    the watermark proves no match can still arrive."""

    def side(event_type: str, user: str, id_col: str, ts: str) -> DataFrame:
        return (
            stream_events(spark, source_dir)
            .filter(F.col("event_type") == event_type)
            .withWatermark("ts", "2 hours")
            .select(
                F.col("user_id").alias(user),
                F.col("event_id").alias(id_col),
                F.col("ts").alias(ts),
            )
        )

    purchases = side("purchase", "p_user", "purchase_id", "p_ts")
    views = side("view", "v_user", "view_id", "v_ts")
    return purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") <= F.col("p_ts")),
        how,
    ).select("purchase_id", "view_id")


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
    watermark), only their layout."""
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    total = 0
    for root, _dirs, files in os.walk(source_dir, followlinks=True):
        for f in files:
            try:  # os.stat follows the staged symlinks to the parquet
                total += os.stat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return max(1, min(cur, -(-total // (32 << 20))))


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Set session conf keys for the duration of a block, then restore
    each key's previous value (or unset it if it had none), also when
    the block raises.

    The keys are SESSION-global for the duration, so a query planned
    concurrently on the same SparkSession would inherit them. This
    engine's query layer is single-threaded per session (registry
    queries run sequentially; the bench and sweep harnesses are
    one-query-at-a-time), which makes the scoping exact. A caller
    that drains concurrently with other queries isolates the drain on
    ``spark.newSession()`` (shares the SparkContext, owns its conf)."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def drain(
    writer: DataStreamWriter,
    checkpoint: str | None = None,
    state_from: str | None = None,
    min_batches: int = 0,
) -> int:
    """Run a configured stream writer as one ``availableNow`` drain and
    return how many micro-batches carried rows.

    - ``checkpoint``: a fresh scratch directory unless given; a caller
      that restarts a query against its committed offsets passes the
      same directory to each drain.
    - ``state_from``: a source directory to size the state store from
      (``derived_state_partitions``). ``spark.sql.shuffle.partitions``
      is read at micro-batch planning, so setting it around the
      synchronous drain scopes it exactly; it is restored afterwards.
      Left ``None``, the drain runs at the session's value — the right
      choice for drains with no keyed state store (``foreachBatch``,
      stateless passthroughs).
    - ``min_batches``: raise if fewer micro-batches carried rows, so a
      multi-batch drain's "cross-batch state was exercised" is a live
      check rather than a comment."""
    spark = writer._spark  # the writer's own session; no public accessor
    conf = {}
    if state_from is not None:
        n = derived_state_partitions(spark, state_from)
        conf["spark.sql.shuffle.partitions"] = str(n)
    with scoped_conf(spark, conf):
        q = (
            writer.option(
                "checkpointLocation", checkpoint or scratch_dir(prefix="ckpt_")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    n_batches = sum(1 for p in q.recentProgress if (p.get("numInputRows") or 0) > 0)
    if n_batches < min_batches:
        raise RuntimeError(
            f"drain ran {n_batches} micro-batches with rows (< {min_batches}): "
            "the cross-batch contract was not exercised"
        )
    return n_batches


def drain_to_memory(
    stream: DataFrame,
    output_mode: str,
    checkpoint: str | None = None,
    state_from: str | None = None,
    min_batches: int = 0,
) -> DataFrame:
    """``drain`` into an in-memory sink under a unique table name and
    return that table. ``output_mode`` follows the query shape:
    complete for full-rewrite aggregations, update for stateful
    per-key operators, append for dedup, joins and windows closed by
    the watermark."""
    name = f"drain_{uuid.uuid4().hex[:12]}"
    drain(
        stream.writeStream.format("memory").queryName(name).outputMode(output_mode),
        checkpoint=checkpoint,
        state_from=state_from,
        min_batches=min_batches,
    )
    return stream.sparkSession.table(name)


def write_snapshot(df: DataFrame, target: str) -> None:
    """Replace the parquet snapshot at ``target`` with ``df`` — the
    cross-batch state of a ``foreachBatch`` merge. The new snapshot is
    written beside the target, and the old one is renamed ASIDE before
    the new one is renamed in, so a crash between the two renames
    leaves the previous snapshot recoverable at ``<target>__old``
    instead of leaving no snapshot at all."""
    staged, old = target + "__tmp", target + "__old"
    df.write.mode("overwrite").parquet(staged)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(target):
        os.rename(target, old)
    os.rename(staged, target)
    shutil.rmtree(old, ignore_errors=True)
