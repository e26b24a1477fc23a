"""Fact-table assembly: the left-join chain from a fact base onto its
dimensions.

Reference analog: ``dags/spark_etl_script.py:157-173``. Each dim is
left-joined on *normalized expressions* of the base
(``trim(upper(raw.employer_name)) == dim.employer_name``) and the date
dim on the derived date. ``join_star`` is that chain for any star: the
join keys are the same ``DimSpec.keys`` the dims were ranked from, so a
dimension's normalization is written once. The fact PK is the caller's:
the job-listings star's natural key is already dense 1..N, and the
order star ranks its sparse order keys itself.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dims import DimSpec


def join_star(
    base: DataFrame,
    dims: Mapping[str, DataFrame],
    specs: Sequence[DimSpec],
    date_col: str,
    dim_date: DataFrame,
) -> DataFrame:
    """Left-join ``base`` onto ``dims[spec.tag]`` for every spec whose
    source is ``base`` (other specs, such as a bridge's dim, are ranked
    but not joined), then onto ``dim_date`` by ``to_date(date_col)``.
    Each dim is ``(sk, *keys)``, as ``build_dims_batched`` returns it.

    The result has one row per base row. It keeps the base columns and
    every dim column; where both have a column of the same name, the
    dim's wins."""
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
    return j.drop("__date", *[h for hs in hidden for h in hs])
