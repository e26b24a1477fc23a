"""Fact-table assembly: the left-join chain from a fact base onto its
dimensions, plus the fact primary key.

Reference analog: ``dags/spark_etl_script.py:157-173``. Each dim is
left-joined on *normalized expressions* of the base
(``trim(upper(raw.employer_name)) == dim.employer_name``), the date dim
on the derived date, and the fact PK is ``row_number`` over the natural
key. ``join_star`` is that chain for any star: the join keys are the
same ``DimSpec.keys`` the dims were ranked from, so a dimension's
normalization is written once.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dims import DimSpec
from .ids import ranked_ids


def join_star(
    base: DataFrame,
    dims: Mapping[str, DataFrame],
    specs: Sequence[DimSpec],
    date_col: str,
    dim_date: DataFrame,
    pk_key: str,
    pk_name: str,
    pins: list[DataFrame],
) -> tuple[DataFrame, DataFrame]:
    """Left-join ``base`` onto ``dims[spec.tag]`` for every spec whose
    source is ``base`` (other specs, such as a bridge's dim, are ranked
    but not joined), then onto ``dim_date`` by ``to_date(date_col)``,
    then inner-join the PK map. Returns ``(joined, pk_map)``. Each dim
    is ``(sk, *keys)``, as ``build_dims_batched`` returns it.

    ``joined`` keeps the base columns and every dim column; where both
    have a column of the same name, the dim's wins. ``pk_map`` is
    ``(pk_key, pk_name)`` with ``pk_name = row_number() OVER (ORDER BY
    pk_key)`` from the range/two-phase rank (``operators.ids``), so
    neither the keys nor the wide joined rows pass through one task;
    its checkpoints go to ``pins``. ``pk_key`` must be unique in
    ``base``. The PK map has one row per fact row, so it is never
    broadcast-pinned; AQE still broadcasts it while it fits."""
    joined = [s for s in specs if s.source is base]
    hidden = [
        [f"__{s.tag}_{i}" for i in range(len(s.keys))] for s in joined
    ]
    dim_cols = {c for s in joined for c in dims[s.tag].columns} | set(dim_date.columns)
    j = base.select(
        "*",
        *[k.alias(h) for s, hs in zip(joined, hidden) for k, h in zip(s.keys, hs)],
        F.to_date(date_col).alias("__date"),
    ).drop(*(dim_cols & set(base.columns)))
    for s, hs in zip(joined, hidden):
        d = dims[s.tag]
        on = reduce(
            lambda a, b: a & b,
            [j[h] == d[c] for h, c in zip(hs, d.columns[1:])],
        )
        j = j.join(F.broadcast(d) if s.broadcast else d, on, "left")
    j = j.join(F.broadcast(dim_date), j["__date"] == dim_date["full_date"], "left")
    # pin_input (the default): the range sampling and the exchange both
    # read the one-column checkpoint instead of scanning the wide base
    pk_map = ranked_ids(base.select(pk_key), [pk_key], pk_name, pins)
    j = j.join(pk_map, pk_key).drop("__date", *[h for hs in hidden for h in hs])
    return j, pk_map
