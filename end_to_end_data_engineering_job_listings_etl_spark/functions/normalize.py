"""String-normalization expressions.

Reference analog: the dimension-key normalizers in
``dags/spark_etl_script.py`` — ``trim(upper(col))`` for company names
(:93), ``trim(initcap(col))`` for publisher / employment type / skill
(:98,:103,:142), and the serialized-array parser
``split(translate(col, "[]'\"", ""), ", ")`` (:132-135).

All pure column expressions: whole-stage-codegen-friendly, pushdown-safe.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def norm_upper(col: Column | str) -> Column:
    """trim + upper — the reference's company-name normalizer (:93)."""
    return F.trim(F.upper(F.col(col) if isinstance(col, str) else col))


def norm_initcap(col: Column | str) -> Column:
    """trim + initcap — publisher/type/skill normalizer (:98,:103,:142)."""
    return F.trim(F.initcap(F.col(col) if isinstance(col, str) else col))


def parse_string_array(col: Column | str, sep: str = ", ") -> Column:
    """Parse a Python-repr-style serialized list ("['a', 'b']") into
    array<string>: delete ``[]'"`` then split — reference :132-135."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.translate(c, "[]'\"", ""), sep)
