"""Distributed global ordinals: ``row_number() OVER (ORDER BY ...)``
values WITHOUT the single-partition window exchange.

The reference assigns surrogate/primary keys with a global
``row_number`` (``dags/spark_etl_script.py:95-168``), which Spark
executes as a one-partition WindowExec ("No Partition Defined") — a
funnel that caps at one task regardless of cluster size. At 100 TB a
fact PK assignment would push every key through that task.

The scale path here keeps the VALUES identical (so every existing
ANSI-SQL oracle still matches) and removes the funnel:

1. ``repartitionByRange`` on the ordering key — partitions become
   ordered, non-overlapping key ranges (Spark samples boundaries;
   where they land does not affect the final ordinal).
2. ``row_number`` / running-sum *within* each partition — parallel,
   whole-stage-codegen windows partitioned by ``spark_partition_id``.
3. Per-partition totals (one tiny agg, ≤ #partitions rows) turned
   into exclusive prefix offsets and broadcast back
   (``prefix_offsets`` — the one offsets join, also behind the
   md5-bucketed ordinals of ``dims.build_dim`` and
   ``traindata.samp_global_shuffle``).

Ordinal = within-partition number + offset of all lower ranges — the
exact global ``row_number`` (ties co-locate: range partitioning sends
equal keys to one partition, matching the global window's
arbitrary-within-ties semantics).

Cost: one extra narrow shuffle (the range exchange) plus a sampling
pass, both O(rows/partitions) per task. At 1000 executors the old plan
is 1 task wide; this one is cluster-wide.

Correctness hinge: ``spark_partition_id`` is only meaningful per
MATERIALIZATION — two plan subtrees consuming the same
``repartitionByRange`` can see DIFFERENT physical layouts (AQE
coalesces each query stage independently; exchange reuse is not
guaranteed), which silently mis-aligns the offsets and yields
duplicate/gapped ordinals. The ranged+pid frame is therefore
``localCheckpoint``-pinned before fan-out: one materialization, both
consumers read the same pids, and lineage truncation makes loss
fail-stop instead of silently renumbering. (The checkpointed frame is
the NARROW key projection, not the caller's wide rows.)

Pin contract: every operator whose result reads a frame it persisted
or checkpointed takes a required ``pins`` list and appends each such
frame to it. The caller owns those frames and frees them with
``release_pins`` — directly, or by building inside ``cachereg.memo``,
whose entry releases its build's ``pins`` on eviction.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "__range_pid"


def _as_sort_exprs(order_cols: Sequence[Column | str]) -> list[Column]:
    # Spark's Window.orderBy defaults to ASC NULLS FIRST; pin the same
    # order explicitly so the range exchange and the in-partition
    # window agree (and the contract is visible, not incidental).
    return [
        (F.col(c) if isinstance(c, str) else c).asc_nulls_first()
        for c in order_cols
    ]


def release_pins(frames: Sequence[DataFrame]) -> None:
    """Unpersist the checkpoint blocks behind localCheckpoint-pinned
    frames (``DataFrame.unpersist`` can't: a checkpointed frame is a
    ``LogicalRDD``, not a cache-manager entry — its blocks are pinned
    at the RDD level), so a released pin list leaves ZERO orphaned
    persisted RDDs. Plain persisted frames in ``frames`` are
    unpersisted normally. After release, a retained handle to a pinned
    frame FAIL-STOPS on next access (the module's designed loss
    semantics)."""
    for df in frames:
        try:
            df.unpersist()
            plan = df._jdf.queryExecution().analyzed()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                plan.rdd().unpersist(True)
        except Exception:  # noqa: BLE001 - release is best-effort:
            # a stopped session's frames are already gone with its
            # executors; eviction of a dead session must not raise
            pass


def _ranged_with_pid(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    pins: list[DataFrame],
    pin_input: bool,
) -> DataFrame:
    """Range-repartition on the ordering key and PIN the resulting
    (pid, row) assignment with a lazy localCheckpoint — see module
    docstring for why an unpinned pid is a correctness bug."""
    # Pin the (narrow) input too: repartitionByRange's boundary-sampling
    # pass and the exchange itself would otherwise EACH recompute the
    # caller's upstream (typically a distinct over a join chain) — with
    # the input checkpointed, upstream runs once and both passes read
    # the materialized keys. Perf-only (the CORRECTNESS pin is the one
    # on the ranged+pid frame below): callers whose upstream is already
    # a persisted frame (dim distincts over the cached landing) pass
    # pin_input=False and skip this materialization's job entirely.
    pinned = df.localCheckpoint(eager=False) if pin_input else df
    # An explicit partition count (the session's shuffle partitions)
    # keeps AQE from coalescing the range exchange.
    n_ranges = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ranged = (
        pinned.repartitionByRange(n_ranges, *_as_sort_exprs(order_cols))
        .select(F.spark_partition_id().alias(_PID), "*")
        .localCheckpoint(eager=False)
    )
    if pin_input:
        pins.append(pinned)
    pins.append(ranged)
    return ranged


def prefix_offsets(
    frame: DataFrame, part: str, weight: Column, group: Sequence[str] = ()
) -> DataFrame:
    """``frame`` plus ``__offset``: the sum of ``weight`` over the rows
    of the same ``group`` whose ``part`` is lower than the row's own.
    Every dense ordinal here is a within-part number plus this offset
    (``part`` is a range partition id or an ordered hash bucket).

    The offsets frame has one row per (group, part) — a few hundred at
    most — and its prefix sum is a broadcast triangular self-join
    (O(P²) on that frame) rather than a cumulative window: a
    constant-partitioned window gets its foldable key optimized away
    and regenerates the single-partition exchange this module exists
    to remove."""
    keys = [*group, part]
    totals = frame.groupBy(*keys).agg(F.sum(weight).alias("__total"))
    a, b = totals.alias("a"), totals.alias("b")
    cond = F.col(f"b.{part}") < F.col(f"a.{part}")
    for g in group:
        cond = (F.col(f"a.{g}") == F.col(f"b.{g}")) & cond
    offsets = (
        a.join(F.broadcast(b), cond, "left")
        .groupBy(*[F.col(f"a.{k}").alias(k) for k in keys])
        .agg(F.coalesce(F.sum("b.__total"), F.lit(0)).alias("__offset"))
    )
    return frame.join(F.broadcast(offsets), keys)


def ranked_ids(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    id_name: str,
    pins: list[DataFrame],
    group: Sequence[str] = (),
    start: int = 0,
    pin_input: bool = True,
) -> DataFrame:
    """``start + row_number() OVER (PARTITION BY group ORDER BY
    order_cols)`` as an INT column, computed with the range/two-phase
    plan above. Output columns: ``df``'s columns plus ``id_name``.
    ``pins`` receives the checkpointed frames (the module's pin
    contract). ``pin_input=False`` skips the input checkpoint when the
    caller's upstream is already persisted (cheap to scan twice).

    With ``group`` this is the BATCHED surrogate-key assigner: a star
    build that needs independent dense keys for N dimensions unions
    their tagged keys and ranks them in ONE sampling pass, ONE range
    exchange and ONE offsets broadcast. The range exchange keys on
    (group, order_cols), so each group occupies contiguous partitions,
    and offsets accumulate over the group's own lower partitions only:
    the values equal ranking each group separately."""
    ranged = _ranged_with_pid(df, [*group, *order_cols], pins, pin_input)
    w_in = Window.partitionBy(_PID, *group).orderBy(*_as_sort_exprs(order_cols))
    numbered = ranged.select("*", F.row_number().over(w_in).alias("__rn"))
    out = prefix_offsets(numbered, _PID, F.lit(1), group)
    return out.select(
        *df.columns,
        (F.col("__rn") + F.col("__offset") + F.lit(start))
        .cast("int")
        .alias(id_name),
    )


def exclusive_prefix_sum(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    weight_col: str,
    out_name: str,
    pins: list[DataFrame],
    pin_input: bool = True,
) -> DataFrame:
    """``sum(weight) OVER (ORDER BY order_cols ROWS UNBOUNDED
    PRECEDING AND 1 PRECEDING)`` (0 for the first row) via the same
    two-phase plan — the running-start form used to seed dense key
    blocks (e.g. first ordinal of each duplicate-tuple group).
    ``pins`` / ``pin_input`` as in ``ranked_ids``."""
    ranged = _ranged_with_pid(df, order_cols, pins, pin_input)
    w_in = (
        Window.partitionBy(_PID)
        .orderBy(*_as_sort_exprs(order_cols))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.select(
        "*", F.coalesce(F.sum(weight_col).over(w_in), F.lit(0)).alias("__local")
    )
    out = prefix_offsets(local, _PID, F.col(weight_col))
    return out.select(
        *df.columns, (F.col("__local") + F.col("__offset")).alias(out_name)
    )
