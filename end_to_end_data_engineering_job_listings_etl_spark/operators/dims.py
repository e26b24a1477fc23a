"""Dimension builder: project → normalize → drop-null → distinct →
surrogate key.

Reference analog: the seven dimension subplans at
``dags/spark_etl_script.py:92-144`` — each is
``select(normalized).filter(isNotNull).distinct()`` plus
``row_number().over(Window.orderBy(key))`` for the surrogate key
(:95,:100,:105,:110,:130,:144).

Three SK modes (SURVEY.md §7.3):
- ``mode="range"`` (default): the scale path with reference-exact
  VALUES — ``operators.ids.ranked_ids`` computes the same global
  ``row_number`` via range repartition + in-partition windows +
  prefix offsets, so no single-partition exchange exists anywhere in
  the plan and every ANSI-SQL ``row_number() OVER (ORDER BY key)``
  oracle still matches cell-for-cell.
- ``mode="global"``  : the literal reference plan — ``row_number``
  over a global ORDER BY, i.e. a one-partition WindowExec. Kept as
  the opt-in parity mode; do not use above ~10M distinct keys.
- ``mode="bucketed"``: md5-hash-bucketed dense ids (two narrow
  shuffles). Keys are dense and deterministic for a given
  (data, n_buckets) but NOT in global sort order — the variant for
  engines whose oracle must reproduce bucket assignment instead of a
  sort (kept oracle-checkable via the portable md5 bucket hash).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .ids import ranked_ids, ranked_ids_grouped


def build_dim(
    df: DataFrame,
    key_exprs: Sequence[Column],
    sk_name: str,
    mode: str = "range",
    n_buckets: int = 256,
) -> DataFrame:
    """Build a dimension from normalized natural-key expressions.

    ``key_exprs`` must be aliased columns; nulls in the FIRST key column
    are rejected (reference P2 semantics: one natural key per dim, the
    multi-column location dim filters on its first column only —
    ``dags/spark_etl_script.py:109``).
    """
    projected = df.select(*key_exprs)
    key_names = list(projected.columns)
    distinct = projected.filter(F.col(key_names[0]).isNotNull()).distinct()
    if mode == "range":
        # pin_input=False: the distinct is a shuffle whose map output
        # Spark reuses across the sampling and exchange jobs (skipped
        # stages), so checkpointing it first only adds a job.
        return ranked_ids(
            distinct, key_names, sk_name, pin_input=False
        ).select(sk_name, *key_names)
    if mode == "global":
        w = Window.orderBy(*key_names)
        return distinct.select(
            F.row_number().over(w).alias(sk_name), *key_names
        )
    if mode == "bucketed":
        # Dense ids without a single-partition sort: row_number within a
        # hash bucket, then add the running count of all lower buckets.
        # Bucket hash is md5-based (not Murmur) so the assignment is
        # portable across engines — the scale path stays oracle-checkable.
        bucket = F.pmod(
            F.conv(F.substring(F.md5(F.concat_ws("\x1f", *key_names)), 1, 8), 16, 10)
            .cast("long"),
            F.lit(n_buckets),
        ).alias("__bucket")
        bucketed = distinct.select(bucket, *key_names)
        w_in = Window.partitionBy("__bucket").orderBy(*key_names)
        counts = bucketed.groupBy("__bucket").count()
        # ≤ n_buckets rows: exclusive prefix counts via a broadcast
        # triangular self-join — a cumulative window here would plan a
        # single-partition exchange (constant partition keys fold away).
        ca, cb = counts.alias("ca"), counts.alias("cb")
        offsets = (
            ca.join(
                F.broadcast(cb), F.col("cb.__bucket") < F.col("ca.__bucket"), "left"
            )
            .groupBy(F.col("ca.__bucket").alias("__bucket"))
            .agg(F.coalesce(F.sum("cb.count"), F.lit(0)).alias("__offset"))
        )
        return (
            bucketed.withColumn("__rn", F.row_number().over(w_in))
            .join(F.broadcast(offsets), "__bucket")
            .select(
                (F.col("__rn") + F.col("__offset")).cast("int").alias(sk_name),
                *key_names,
            )
        )
    raise ValueError(f"unknown surrogate-key mode: {mode}")


def build_dims_batched(
    specs: Sequence[tuple[str, DataFrame, Sequence[Column], str]],
    n_parts: int | None = None,
    shared_out: list[DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """Build MANY dimensions in one pass: union every dim's (tagged,
    normalized, null-rejected) key projection, distinct ONCE, rank
    ONCE with the grouped two-phase plan (``ids.ranked_ids_grouped``)
    — a star build's 6 distinct shuffles + 6 rank pipelines collapse
    to one of each. Values are identical to per-dim
    ``build_dim(mode="range")``: per-tag distinct tuples are the
    dim's own distinct keys, and the per-group rank over aligned key
    positions (shorter key lists padded with typed nulls, which sort
    as a constant) is the dim's own ``row_number() OVER (ORDER BY
    keys ASC NULLS FIRST)``.

    ``specs``: (tag, source, key_exprs, sk_name) per dim. Aligned key
    positions across specs must share a type (string keys here — mixed
    types would need per-position casts).

    Lifetime: every returned dim is a slice of ONE internally
    ``persist()``-ed ranked frame, retained until the session ends or
    the caller unpersists it — pass ``shared_out`` (a list the shared
    frame is appended to) to take ownership; memo layers above
    (plans/star.py, plans/joblistings.py) pass their ``cachereg.memo``
    pins list."""
    arity = max(len(k) for _, _, k, _ in specs)
    parts = []
    names: dict[str, tuple[list[str], str]] = {}
    for tag, src, key_exprs, sk_name in specs:
        proj = src.select(*key_exprs)
        cols = list(proj.columns)
        sel: list[Column] = [F.lit(tag).alias("__tag")]
        for i in range(arity):
            sel.append(
                (
                    F.col(cols[i])
                    if i < len(cols)
                    else F.lit(None).cast("string")
                ).alias(f"__k{i}")
            )
        parts.append(proj.filter(F.col(cols[0]).isNotNull()).select(*sel))
        names[tag] = (cols, sk_name)
    tagged = parts[0]
    for p in parts[1:]:
        tagged = tagged.unionByName(p)
    ranked = ranked_ids_grouped(
        tagged.distinct(),
        "__tag",
        [f"__k{i}" for i in range(arity)],
        "__sk",
        n_parts=n_parts,
        # the distinct's shuffle output is stage-reused by the
        # sampling and exchange jobs — no input pin needed
        pin_input=False,
        # hand the internal checkpoint to the same owner as the
        # persisted frame, so eviction releases BOTH (ids.release_pins)
        pinned_out=shared_out,
    ).persist()
    if shared_out is not None:
        shared_out.append(ranked)
    out: dict[str, DataFrame] = {}
    for tag, (cols, sk_name) in names.items():
        out[tag] = ranked.filter(F.col("__tag") == tag).select(
            F.col("__sk").alias(sk_name),
            *[F.col(f"__k{i}").alias(c) for i, c in enumerate(cols)],
        )
    return out
