"""Distributed global ordinals: ``row_number() OVER (ORDER BY ...)``
values WITHOUT the single-partition window exchange.

The reference assigns surrogate/primary keys with a global
``row_number`` (``dags/spark_etl_script.py:95-168``), which Spark
executes as a one-partition WindowExec ("No Partition Defined") — a
funnel that caps at one task regardless of cluster size. At 100 TB a
fact PK assignment would push every key through that task.

The one rule (``ordinals``): split the rows into numbered parts. A
row's ordinal is the running total of a weight (1 per row: a row
number) inside its part, in key order, plus the total of every lower
part of the same group. The per-part totals are one tiny aggregate
(≤ #parts rows) whose exclusive prefix sum is broadcast back. The
ordinals are dense; when the part order agrees with the key order,
they equal the global window's values, so every ANSI-SQL oracle still
matches. The work is cluster-wide instead of one task wide.

``ranked_ids`` makes the parts for a caller's ordering key:
``repartitionByRange`` on the key (Spark samples the boundaries; where
they land does not affect the ordinal, and ties co-locate, matching
the global window's arbitrary-within-ties semantics), tagged with
``spark_partition_id``. ``traindata.samp_global_shuffle``'s parts are
the key's own hex prefix, so they agree with the key order too;
``dims.build_dim``'s md5 buckets do not, and its ids are dense but not
in key order.

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

Pin rule for the input: the boundary-sampling pass and the range
exchange each read the input, so it is checkpointed too — unless its
analyzed plan ends in an aggregation (``Aggregate``, ``Distinct`` or
``Deduplicate``: a ``groupBy``, ``distinct`` or ``dropDuplicates``),
whose shuffle output both passes reuse. The analyzed plan is the one
the frame already holds, so the rule costs no optimizer pass.

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
# analyzed-plan roots whose shuffle output the range passes reuse
_AGGREGATIONS = ("Aggregate", "Distinct", "Deduplicate")


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
) -> DataFrame:
    """Range-repartition on the ordering key and PIN the resulting
    (pid, row) assignment with a lazy localCheckpoint — see module
    docstring for why an unpinned pid is a correctness bug. The input
    is pinned by the module's pin rule."""
    root = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
    if root not in _AGGREGATIONS:
        df = df.localCheckpoint(eager=False)
        pins.append(df)
    # An explicit partition count (the session's shuffle partitions)
    # keeps AQE from coalescing the range exchange.
    n_ranges = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ranged = (
        df.repartitionByRange(n_ranges, *_as_sort_exprs(order_cols))
        .select(F.spark_partition_id().alias(_PID), "*")
        .localCheckpoint(eager=False)
    )
    pins.append(ranged)
    return ranged


def ordinals(
    frame: DataFrame,
    part: str,
    order_cols: Sequence[Column | str],
    id_name: str,
    group: Sequence[str] = (),
    weight: str | None = None,
) -> DataFrame:
    """``frame`` plus ``id_name`` (a long): the running total of
    ``weight`` (1 per row when ``None``: a row number; a null weight
    counts as 0) within ``(part, *group)`` in ``order_cols`` order, ASC
    NULLS FIRST, plus the total of every lower ``part`` in the same
    ``group``. The values
    are dense per group; when ``part`` orders the rows as
    ``order_cols`` do, they equal ``sum(weight) OVER (PARTITION BY
    group ORDER BY order_cols ROWS UNBOUNDED PRECEDING)``.

    The part totals have one row per (group, part) — a few hundred at
    most — and their prefix sum is a broadcast triangular self-join
    (O(P²) on that frame) rather than a cumulative window: a
    constant-partitioned window gets its foldable key optimized away
    and regenerates the single-partition exchange this module exists
    to remove."""
    w = (
        Window.partitionBy(part, *group)
        .orderBy(*_as_sort_exprs(order_cols))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if weight is None:
        run, per_row = F.row_number().over(w), F.lit(1)
    else:
        # coalesce: a bare running sum is nullable, and so would be
        # every key column derived from it
        run, per_row = F.coalesce(F.sum(weight).over(w), F.lit(0)), F.col(weight)
    numbered = frame.select("*", run.alias("__run"))
    keys = [*group, part]
    totals = numbered.groupBy(*keys).agg(F.sum(per_row).alias("__total"))
    a, b = totals.alias("a"), totals.alias("b")
    cond = F.col(f"b.{part}") < F.col(f"a.{part}")
    for g in group:
        cond = (F.col(f"a.{g}") == F.col(f"b.{g}")) & cond
    offsets = (
        a.join(F.broadcast(b), cond, "left")
        .groupBy(*[F.col(f"a.{k}").alias(k) for k in keys])
        .agg(F.coalesce(F.sum("b.__total"), F.lit(0)).alias("__offset"))
    )
    return numbered.join(F.broadcast(offsets), keys).select(
        *frame.columns, (F.col("__run") + F.col("__offset")).alias(id_name)
    )


def ranked_ids(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    id_name: str,
    pins: list[DataFrame],
    group: Sequence[str] = (),
    weight: str | None = None,
) -> DataFrame:
    """``sum(weight) OVER (PARTITION BY group ORDER BY order_cols ROWS
    UNBOUNDED PRECEDING)`` — ``row_number()`` when ``weight`` is
    ``None`` — as an INT column: ``ordinals`` over range partitions of
    ``df``. Output columns: ``df``'s columns plus ``id_name``.
    ``pins`` receives the checkpointed frames (the module's pin
    contract).

    With ``group`` this is the BATCHED surrogate-key assigner: a star
    build that needs independent dense keys for N dimensions unions
    their tagged keys and ranks them in ONE sampling pass, ONE range
    exchange and ONE offsets broadcast. The range exchange keys on
    (group, order_cols), so each group occupies contiguous partitions,
    and offsets accumulate over the group's own lower partitions only:
    the values equal ranking each group separately."""
    ranged = _ranged_with_pid(df, [*group, *order_cols], pins)
    out = ordinals(ranged, _PID, order_cols, id_name, group, weight)
    return out.select(*df.columns, F.col(id_name).cast("int").alias(id_name))
