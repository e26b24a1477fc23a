"""Incremental / high-watermark operators.

Reference analogs:
- High-watermark extract: ``scripts/pyspark/extract_postgres_table.py``
  — read rows with ``ts > watermark`` via a pushed-down predicate
  (:47-56); the new watermark, ``max(ts)`` (:72-76), is a plain
  aggregate (``plans/functional.py::inc_watermark_agg``).
- Incremental dimension upsert: the deleted ``populate_star_schema``
  loader (bytecode) — left-merge-with-indicator anti-join keeps only
  NEW dimension rows, appended to the existing dim (J8).

Both are expressed so Catalyst pushes the watermark predicate into the
parquet scan (verify with `.explain`: PushedFilters).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def filter_after(df: DataFrame, ts_col: str, watermark) -> DataFrame:
    """Rows strictly newer than the watermark — the incremental scan
    (reference S6). A plain Catalyst filter: pushed into the parquet
    footer/row-group pruning at scale."""
    return df.filter(F.col(ts_col) > F.lit(watermark))


def filter_upto(df: DataFrame, ts_col: str, watermark) -> DataFrame:
    """Rows at or before the watermark (the 'already loaded' slice)."""
    return df.filter(F.col(ts_col) <= F.lit(watermark))


def anti_join_new(
    incoming: DataFrame, existing: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Rows of ``incoming`` whose key is absent from ``existing`` —
    the reference's merge-indicator 'left_only' pattern (J8) as a
    native left_anti join (broadcast-eligible when existing dim is
    small; Catalyst/AQE picks the strategy)."""
    return incoming.join(existing.select(*keys), list(keys), "left_anti")


def upsert_dim(
    incoming: DataFrame,
    existing: DataFrame,
    keys: Sequence[str],
    sk_name: str,
    pins: list[DataFrame],
) -> DataFrame:
    """Append-only dimension upsert: new natural keys get surrogate
    keys continuing after max(existing sk) — assigned via the
    range/two-phase rank (``operators.ids``), so a large backfill of
    new keys never funnels through a one-partition window. Returns the
    unioned dim; ``pins`` receives the rank's checkpoints (the
    ``operators.ids`` pin contract)."""
    from .ids import ranked_ids

    new_rows = anti_join_new(incoming.select(*keys).distinct(), existing, keys)
    start = existing.agg(F.coalesce(F.max(sk_name), F.lit(0)).alias("m")).collect()[0][
        "m"
    ]
    new_with_sk = ranked_ids(new_rows, list(keys), sk_name, pins).select(
        (F.col(sk_name) + start).alias(sk_name), *keys
    )
    return existing.select(sk_name, *keys).unionByName(new_with_sk)


def merge_scd1(
    existing: DataFrame, updates: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """SCD Type-1 merge (MERGE … WHEN MATCHED UPDATE, WHEN NOT MATCHED
    INSERT, without a transactional table format): keys present in
    ``updates`` take the update row wholesale; all other existing rows
    pass through. ``updates`` must be 1 row/key (pre-dedup last-wins
    upstream).

    One anti-join (broadcast-eligible when the update batch is small —
    the common incremental case) + a union; no full-table shuffle of
    ``existing``."""
    return existing.join(updates.select(*keys), list(keys), "left_anti").unionByName(
        updates
    )


def scd2_history(
    df: DataFrame,
    key: str,
    attr: str,
    order_cols: Sequence[str],
) -> DataFrame:
    """Slowly-changing-dimension Type 2: collapse an attribute's
    change-log into validity intervals per key.

    The reference's star schema is Type-1 only (overwrite, no history
    — ``dags/spark_etl_script.py:181-189`` rewrites every dim each
    run); this adds the history-preserving form a warehouse needs for
    late analysis ("what was the status when…").

    Mechanics: one hash shuffle on ``key``, then two window passes on
    the SAME partitioning (Catalyst reuses the exchange + sort):
    lag() drops rows whose attribute equals the previous row's
    (no-op changes), lead() closes each surviving interval with the
    next change's start. Open intervals (valid_to NULL) are current.
    ``order_cols`` must be a per-key total order for determinism."""
    w = Window.partitionBy(key).orderBy(*[F.asc(c) for c in order_cols])
    changed = df.withColumn("__prev", F.lag(attr).over(w)).filter(
        F.col("__prev").isNull() | (F.col(attr) != F.col("__prev"))
    )
    w2 = Window.partitionBy(key).orderBy(*[F.asc(c) for c in order_cols])
    valid_from = F.col(order_cols[0])
    return changed.select(
        F.col(key),
        F.col(attr),
        valid_from.alias("valid_from"),
        F.lead(valid_from).over(w2).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    order_cols: Sequence[str],
    op_col: str = "op",
    upsert_ops: Sequence[str] = ("I", "U"),
    delete_op: str = "D",
) -> DataFrame:
    """Apply a CDC changelog (insert/update/delete events) onto a base
    snapshot — the engine-side MERGE a warehouse runs per micro-batch
    when consuming Debezium/binlog-style feeds, without a
    transactional table format.

    Semantics: per key, ONLY the latest change (by ``order_cols``, a
    per-key total order) decides — latest op in ``upsert_ops``
    replaces/creates the row with the change's columns; latest op ==
    ``delete_op`` removes the key; keys with no change pass through
    from ``base`` untouched. Intermediate changes never matter, so
    the changelog collapses FIRST (one window on the key, max_by
    shape) and only 1 row/key ever reaches the join.

    Scale shape: the rank is one hash shuffle of the (narrow)
    changelog — and Spark's WindowGroupLimit collapses it to 1
    row/key map-side BEFORE that shuffle (verified on the executed
    plan). The apply is then an ANTI-JOIN + UNION, deliberately not a
    full-outer join: every changed key's row is rebuilt from the
    change feed alone, so base only needs "drop my changed keys" —
    a left-anti that BROADCASTS when the per-batch change set is
    small (the common incremental case), leaving the 100 TB base
    entirely unshuffled. (A full-outer MERGE join can never
    broadcast and would shuffle base on the key.) ``changes``
    columns must be ``[key, *order_cols, op_col, *value_cols]`` with
    value columns matching ``base``'s non-key columns by name.
    """
    w = Window.partitionBy(key).orderBy(*[F.desc(c) for c in order_cols])
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", *[c for c in order_cols if c != key])
    )
    val_cols = [c for c in base.columns if c != key]
    untouched = base.join(latest.select(key), key, "left_anti")
    upserts = latest.filter(F.col(op_col).isin(*upsert_ops)).select(
        key, *val_cols
    )
    return untouched.unionByName(upserts)
