"""Keyword-dictionary extraction as compiled column expressions.

Reference analog: ``extract_skills_from_desc`` — a pandas ``.apply``
substring matcher over a ~50-term skill dictionary returning
``list(set(matches))`` (``dags/test_extraction.py:119-129``;
75-term variant ``dags/extraction.py:91-107``). That shape is a Python
loop per row; here the dictionary is compiled into ONE array expression
evaluated JVM-side, and the set-nondeterminism is fixed with
``array_sort`` (SURVEY.md §2.10, §7).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# Dictionary tuned to the synthetic `documents.text` vocabulary — the
# engine analog of the reference's skill list (sql/python/aws/...).
DEFAULT_KEYWORDS: tuple[str, ...] = (
    "spark",
    "join",
    "agg",
    "window",
    "stream",
    "vector",
    "hash",
    "sort",
    "merge",
    "filter",
    "query",
    "scan",
)


def extract_keywords(
    col: Column | str, keywords: Sequence[str] = DEFAULT_KEYWORDS
) -> Column:
    """Sorted distinct array of dictionary terms contained (as
    substrings, reference-exact F6 semantics) in ``lower(col)``."""
    c = F.col(col) if isinstance(col, str) else col
    lowered = F.lower(c)
    hits = [F.when(lowered.contains(kw.lower()), F.lit(kw.lower())) for kw in keywords]
    return F.array_sort(F.array_distinct(F.array_compact(F.array(*hits))))

