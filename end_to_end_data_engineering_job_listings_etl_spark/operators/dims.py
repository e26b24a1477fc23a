"""Dimension builders: project → normalize → drop-null → distinct →
surrogate key.

Reference analog: the dimension subplans at
``dags/spark_etl_script.py:92-144``. Each is
``select(normalized).filter(isNotNull).distinct()`` plus
``row_number().over(Window.orderBy(key))`` for the surrogate key.

A star states each ranked dimension once, as a ``DimSpec``:
``build_dims_batched`` ranks every spec in one pass, and
``operators.fact.join_star`` joins the fact on the same key
expressions. Surrogate keys are the reference's global ``row_number``
values, computed without a single-partition window
(``operators.ids``). ``build_dim`` is the one alternative: dense
md5-bucketed ids that are not in key order (SURVEY.md §7.3).
``build_date_dim`` is the calendar dimension, whose key is the
yyyyMMdd date itself.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.dates import date_attributes
from .ids import ordinals, ranked_ids


class DimSpec(NamedTuple):
    """One ranked dimension of a star: rows ``source.select(*keys)``
    (aliased, normalized key expressions), surrogate key ``sk``. When
    ``source`` is the fact base, ``join_star`` left-joins the fact on
    the same ``keys``; ``broadcast`` pins the broadcast hint for dims
    whose size is fixed by the schema, not by the data."""

    tag: str
    source: DataFrame
    keys: Sequence[Column]
    sk: str
    broadcast: bool = True


def build_dim(
    df: DataFrame,
    key_exprs: Sequence[Column],
    sk_name: str,
    n_buckets: int = 256,
) -> DataFrame:
    """A dimension with dense surrogate keys assigned within md5 hash
    buckets (``ids.ordinals`` with the bucket as the part): row_number
    inside a bucket plus the count of all lower buckets, with no
    single-partition sort. The ids are dense and unique but not in key
    order.

    ``key_exprs`` must be aliased columns; nulls in the FIRST key column
    are rejected (reference P2 semantics: one natural key per dim, the
    multi-column location dim filters on its first column only —
    ``dags/spark_etl_script.py:109``). The bucket hash is md5-based
    (not Murmur) so the assignment is portable across engines and
    stays oracle-checkable.
    """
    projected = df.select(*key_exprs)
    key_names = list(projected.columns)
    distinct = projected.filter(F.col(key_names[0]).isNotNull()).distinct()
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.concat_ws("\x1f", *key_names)), 1, 8), 16, 10)
        .cast("long"),
        F.lit(n_buckets),
    ).alias("__bucket")
    bucketed = distinct.select(bucket, *key_names)
    return ordinals(bucketed, "__bucket", key_names, sk_name).select(
        F.col(sk_name).cast("int").alias(sk_name), *key_names
    )


def build_dims_batched(
    specs: Sequence[DimSpec], pins: list[DataFrame]
) -> dict[str, DataFrame]:
    """Build MANY dimensions in one pass: union every dim's (tagged,
    normalized, null-rejected) key projection, distinct ONCE, rank
    ONCE with the grouped two-phase plan (``ids.ranked_ids`` with
    ``group``) — a star build's distinct shuffles and rank pipelines
    collapse to one of each. Each dim's values are the reference's
    ``row_number() OVER (ORDER BY keys ASC NULLS FIRST)`` over its own
    distinct non-null keys: per-tag distinct tuples are the dim's own
    distinct keys, and shorter key lists are padded with typed nulls,
    which sort as a constant. Aligned key positions across specs must
    share a type (string keys here — mixed types would need
    per-position casts).

    Returns ``{tag: dim}``. Every dim is a slice of ONE ``persist()``-ed
    ranked frame; ``pins`` receives it and the rank's checkpoint (the
    ``operators.ids`` pin contract)."""
    arity = max(len(s.keys) for s in specs)
    parts = []
    names: dict[str, tuple[list[str], str]] = {}
    for s in specs:
        proj = s.source.select(*s.keys)
        cols = list(proj.columns)
        sel: list[Column] = [F.lit(s.tag).alias("__tag")]
        for i in range(arity):
            sel.append(
                (
                    F.col(cols[i])
                    if i < len(cols)
                    else F.lit(None).cast("string")
                ).alias(f"__k{i}")
            )
        parts.append(proj.filter(F.col(cols[0]).isNotNull()).select(*sel))
        names[s.tag] = (cols, s.sk)
    tagged = parts[0]
    for p in parts[1:]:
        tagged = tagged.unionByName(p)
    ranked = ranked_ids(
        tagged.distinct(),
        [f"__k{i}" for i in range(arity)],
        "__sk",
        pins,
        group=["__tag"],
    ).persist()
    pins.append(ranked)
    out: dict[str, DataFrame] = {}
    for tag, (cols, sk_name) in names.items():
        out[tag] = ranked.filter(F.col("__tag") == tag).select(
            F.col("__sk").alias(sk_name),
            *[F.col(f"__k{i}").alias(c) for i, c in enumerate(cols)],
        )
    return out


def build_date_dim(df: DataFrame, date_col: str) -> DataFrame:
    """The calendar dimension over ``date_col`` (reference
    ``dags/spark_etl_script.py:112-120``): its SK is the yyyyMMdd int
    itself, not a row_number."""
    return (
        df.select(*date_attributes(date_col))
        .filter(F.col("full_date").isNotNull())
        .distinct()
    )
