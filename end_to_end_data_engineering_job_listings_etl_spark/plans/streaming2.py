"""Structured Streaming beyond the single stateful operator: chained
stateful aggregations, stream-stream LEFT and FULL OUTER interval
joins, bounded-state dedup (dropDuplicatesWithinWatermark), and
multi-batch twins of the single-batch drains in plans/media_stream.py.

Every query drains through ``streaming.watermark.drain`` (an
``availableNow`` trigger), so results are a pure function of the
input files, and each is oracle-checked against the equivalent batch
SQL. Append-mode emission semantics are part of the contract being
verified:

- A windowed agg in append mode emits a window only once the event-
  time watermark passes its END; with a final no-data micro-batch the
  closing watermark is max(ts) - delay, so windows ending after that
  stay unemitted. The oracle encodes exactly that cutoff.
- An OUTER interval join emits null-padded rows only for rows whose
  join window is fully below the closing watermark.

State boundedness is the 100 TB story: every operator here carries a
watermark, so state size is O(keys in the watermark horizon), not
O(stream length).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.watermark import (
    drain_to_memory,
    events_stream_dir,
    purchase_view_join,
    session_counts,
    sliced_stage_dir,
    stream_events,
)
from .media_stream import cdc_drain

_N_SLICES = 4


def stream_chained_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two chained stateful aggregations in ONE streaming query:
    10-minute counts per event_type, re-aggregated into hourly
    (sum, n_buckets) — the multi-stage rollup that previously required
    two jobs and an intermediate topic. Spark chains the stateful
    operators when the second groupBy uses window_time() of the first.

    Append mode ⇒ only hourly windows whose end the closing watermark
    passed are emitted; the oracle applies the same cutoff. State is
    sized from the source: each micro-batch commits one store
    instance per state partition for each of the two operators."""
    src = events_stream_dir(sf_dir)
    per_10m = (
        stream_events(spark, src)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_10m"))
    )
    hourly = (
        per_10m.groupBy(
            F.window(F.window_time("win"), "1 hour").alias("win2"), "event_type"
        )
        .agg(F.sum("n_10m").alias("n_events"), F.count("*").alias("n_buckets"))
        .select(
            F.col("win2.start").alias("window_start"),
            "event_type",
            "n_events",
            "n_buckets",
        )
    )
    return drain_to_memory(hourly, "append", state_from=src)


def stream_leftouter_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER event-time interval join: every
    purchase, matched to same-user views in the preceding hour, OR
    emitted once with a null view after the watermark proves no match
    can still arrive. The outer row is the state-timeout path — the
    part the inner interval join (``stream_interval_join``) never
    exercises.

    Append emission: null-padded rows appear only for purchases whose
    p_ts the closing watermark passed; matched rows are emitted as
    they join. The oracle is the batch left join restricted to that
    same watermark-closed left set.

    Single-batch invariant: the oracle counts every matched pair with
    no watermark restriction, which is exact ONLY because
    events_stream_dir stages one parquet file ⇒ one micro-batch (the
    watermark is still the init value while every row joins; it
    advances only at batch end). A multi-file landing could advance
    the watermark between batches and drop late-arriving matches the
    oracle still counts — production callers with multi-file input
    should pin maxFilesPerTrigger/latestFirst or use the inner-join
    oracle form. Boundary note: Spark's eviction predicates differ per
    operator (windowed-agg eviction is window.end <= wm; join state
    eviction is strict <); the fixture's microsecond timestamps never
    land exactly on max(ts) - delay, so the <= cutoffs in these
    oracles are safe here."""
    src = events_stream_dir(sf_dir)
    joined = purchase_view_join(spark, src, "left_outer")
    return drain_to_memory(joined, "append", state_from=src)


def stream_fullouter_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER event-time interval join — BOTH
    unmatched sides surface once the watermark proves their window
    closed, completing the inner / left-outer / full-outer join
    matrix.

    Eviction bounds differ per side because the condition is
    asymmetric (``v_ts ∈ [p_ts - 1h, p_ts]``): a purchase can be
    null-emitted once the watermark passes ``p_ts`` (no future view
    can be ≤ it), but a view only once the watermark passes
    ``v_ts + 1h`` (a future purchase up to one hour later could still
    reach back). The oracle encodes exactly those two cutoffs; the
    same single-batch invariant and microsecond-boundary note as the
    left-outer query apply."""
    src = events_stream_dir(sf_dir)
    joined = purchase_view_join(spark, src, "full_outer")
    return drain_to_memory(joined, "append", state_from=src)


def _dedup_keys(
    spark: SparkSession,
    src: str,
    max_files_per_trigger: int = 1_000_000,
    min_batches: int = 0,
) -> DataFrame:
    """Distinct (user_id, event_type) through dropDuplicatesWithinWatermark
    (60-day delay). The output projects the dedup KEYS only, so any
    survivor row projects identically and the state layout is free to
    follow the source size."""
    deduped = (
        stream_events(spark, src, max_files_per_trigger)
        .select("user_id", "event_type", "ts")
        .withWatermark("ts", "60 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return drain_to_memory(
        deduped, "append", state_from=src, min_batches=min_batches
    )


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup: dropDuplicatesWithinWatermark
    evicts a key's state once the watermark passes its last sighting +
    delay — unlike ``stream_dedup``, whose exact-dedup state grows with
    distinct keys forever. With the delay (60 days) wider than the
    fixture's 30-day span, suppression is total and the result equals
    batch DISTINCT; in production the delay caps state at the keys
    seen within the horizon."""
    return _dedup_keys(spark, events_stream_dir(sf_dir))


def _events_sliced(spark: SparkSession, sf_dir: str) -> str:
    """Events staged as ≥4 event-time-ordered parquet slices (see
    sliced_stage_dir): one file per micro-batch under
    maxFilesPerTrigger=1, watermark advancing between batches, no row
    ever late."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sliced_stage_dir(ev, ["ts"], _N_SLICES, prefix="events_mb_")


def stream_dedup_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``stream_dedup_within_watermark`` drained across ≥4 watermark-
    advancing micro-batches — the single-batch variant never carries
    state between triggers. Each batch's duplicates of keys FIRST SEEN
    IN EARLIER BATCHES must be suppressed by state restored from the
    previous trigger. The delay (60 days) spans the fixture, so no
    state evicts mid-drain and the result still equals batch DISTINCT
    — same oracle as the single-batch plan. The batch count is
    checked live by the drain; it follows the input file slices, not
    the state layout."""
    src = _events_sliced(spark, sf_dir)
    return _dedup_keys(spark, src, 1, min_batches=_N_SLICES)


def stream_session_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows drained across ≥4 micro-batches in APPEND mode —
    the one emission mode where mid-drain watermark advancement
    actually EVICTS state (a session is emitted and dropped once the
    watermark passes its end), unlike the complete-mode single-batch
    twin (``stream_session_counts``) which retains everything.

    Equality argument: with in-order slices (sliced_stage_dir) an
    emitted session can never be extended later — a future event is ≥
    the watermark + delay (2 h), which is ≥ the emitted session's end
    + 2 h, far beyond the 30-minute merge gap — so early emission is
    safe and the multi-batch append result equals the single-batch
    append result: all sessions whose end the CLOSING watermark
    (max ts − 2 h) passed. The oracle is the batch sessionization with
    exactly that cutoff; the tail sessions still open at close are
    withheld BY CONTRACT (append semantics), which is the part of the
    streaming surface the complete-mode twin can't show."""
    src = _events_sliced(spark, sf_dir)
    return drain_to_memory(
        session_counts(stream_events(spark, src, 1)),
        "append",
        state_from=src,
        min_batches=_N_SLICES,
    )


def stream_cdc_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``stream_cdc_apply`` with the changelog sliced into ≥4
    micro-batches, range-ordered on exactly the latest-wins order
    columns (o_orderdate, o_orderkey) — so per-batch latest-wins
    provably composes to global latest-wins (any later batch's change
    for a key orders above any earlier batch's, the property real
    binlog feeds have). Each batch's foreachBatch merge reads the
    snapshot the PREVIOUS batch persisted — cross-batch state through
    the table, not operator memory. Same fixture, same oracle as the
    batch ``inc_cdc_apply`` and the single-batch stream."""
    return cdc_drain(spark, sf_dir, n_slices=_N_SLICES)


QUERIES = {
    "stream_chained_window_agg": stream_chained_window_agg,
    "stream_leftouter_interval_join": stream_leftouter_interval_join,
    "stream_fullouter_interval_join": stream_fullouter_interval_join,
    "stream_dedup_within_watermark": stream_dedup_within_watermark,
    "stream_dedup_multibatch": stream_dedup_multibatch,
    "stream_session_multibatch": stream_session_multibatch,
    "stream_cdc_multibatch": stream_cdc_multibatch,
}

# Closing watermark for single-stream queries: max(ts) - delay.
_CLOSE_WM = "(SELECT max(ts) - INTERVAL 2 HOUR FROM events)"

# Closing watermark for the two-reader join: EACH reader computes its
# own watermark from the rows that pass through it (the filters sit
# upstream of withWatermark), and Spark's multi-watermark policy takes
# the MIN — so the join's closing watermark is the slower side's.
_CLOSE_WM_JOIN = (
    "(SELECT least("
    " (SELECT max(ts) FROM events WHERE event_type = 'purchase'),"
    " (SELECT max(ts) FROM events WHERE event_type = 'view')"
    ") - INTERVAL 2 HOUR)"
)

_DISTINCT_KEYS = "SELECT DISTINCT user_id, event_type FROM events"

ORACLES = {
    "stream_chained_window_agg": f"""
        WITH e AS (
            SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS b10, event_type
            FROM events
        ), per10 AS (
            SELECT b10, event_type, count(*) AS n_10m
            FROM e GROUP BY b10, event_type
        )
        SELECT time_bucket(INTERVAL 1 HOUR, b10) AS window_start, event_type,
               CAST(sum(n_10m) AS BIGINT) AS n_events, count(*) AS n_buckets
        FROM per10
        GROUP BY time_bucket(INTERVAL 1 HOUR, b10), event_type
        HAVING time_bucket(INTERVAL 1 HOUR, b10) + INTERVAL 1 HOUR
               <= {_CLOSE_WM}
    """,
    "stream_leftouter_interval_join": f"""
        WITH p AS (
            SELECT user_id AS p_user, event_id AS purchase_id, ts AS p_ts
            FROM events WHERE event_type = 'purchase'
        ), v AS (
            SELECT user_id AS v_user, event_id AS view_id, ts AS v_ts
            FROM events WHERE event_type = 'view'
        ), matched AS (
            SELECT purchase_id, view_id
            FROM p JOIN v
              ON p_user = v_user
             AND v_ts >= p_ts - INTERVAL 1 HOUR
             AND v_ts <= p_ts
        ), unmatched AS (
            SELECT purchase_id, NULL AS view_id
            FROM p
            WHERE p_ts <= {_CLOSE_WM_JOIN}
              AND NOT EXISTS (
                SELECT 1 FROM v
                WHERE v_user = p_user
                  AND v_ts >= p_ts - INTERVAL 1 HOUR
                  AND v_ts <= p_ts)
        )
        SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
    "stream_fullouter_interval_join": f"""
        WITH p AS (
            SELECT user_id AS p_user, event_id AS purchase_id, ts AS p_ts
            FROM events WHERE event_type = 'purchase'
        ), v AS (
            SELECT user_id AS v_user, event_id AS view_id, ts AS v_ts
            FROM events WHERE event_type = 'view'
        ), matched AS (
            SELECT purchase_id, view_id
            FROM p JOIN v
              ON p_user = v_user
             AND v_ts >= p_ts - INTERVAL 1 HOUR
             AND v_ts <= p_ts
        ), unmatched_p AS (
            SELECT purchase_id, NULL AS view_id
            FROM p
            WHERE p_ts <= {_CLOSE_WM_JOIN}
              AND NOT EXISTS (
                SELECT 1 FROM v
                WHERE v_user = p_user
                  AND v_ts >= p_ts - INTERVAL 1 HOUR
                  AND v_ts <= p_ts)
        ), unmatched_v AS (
            SELECT NULL AS purchase_id, view_id
            FROM v
            WHERE v_ts <= {_CLOSE_WM_JOIN} - INTERVAL 1 HOUR
              AND NOT EXISTS (
                SELECT 1 FROM p
                WHERE p_user = v_user
                  AND v_ts >= p_ts - INTERVAL 1 HOUR
                  AND v_ts <= p_ts)
        )
        SELECT * FROM matched
        UNION ALL SELECT * FROM unmatched_p
        UNION ALL SELECT * FROM unmatched_v
    """,
    "stream_dedup_within_watermark": _DISTINCT_KEYS,
    # same answer as the single-batch plan — the multi-batch drain must
    # not change it (in-order slices, no eviction under the 60-day delay)
    "stream_dedup_multibatch": _DISTINCT_KEYS,
    # batch sessionization (end-exclusive >= gap rule, as
    # stream_session_counts) restricted to sessions the CLOSING
    # watermark emitted — append-mode semantics; the mid-drain
    # emissions must union to exactly this set
    "stream_session_multibatch": f"""
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessed AS (
          SELECT user_id, ts,
                 sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_id
          FROM flagged
        )
        SELECT min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               user_id,
               count(*) AS n_events
        FROM sessed GROUP BY user_id, session_id
        HAVING max(ts) + INTERVAL 30 MINUTE <= {_CLOSE_WM}
    """,
}

# the CDC multi-batch drain must land on exactly the one-shot batch
# merge — same oracle as inc_cdc_apply / stream_cdc_apply
from .functional import ORACLES as _FUNCTIONAL_ORACLES  # noqa: E402

ORACLES["stream_cdc_multibatch"] = _FUNCTIONAL_ORACLES["inc_cdc_apply"]
