"""Central query registry: merges every plan/operator module's
(QUERIES, ORACLES) pair into the driver contract surface
(`__spark_entry__.py`).

Each module contributes:
- QUERIES: dict[name, callable(spark, sf_dir) -> DataFrame]
- ORACLES: dict[name, ANSI-SQL string for DuckDB]  (a query missing
  here gets the driver's weaker rows-only check — reserved for
  genuinely non-SQL-expressible ops).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import cachereg
from .plans import (
    bi,
    corpus,
    curation,
    extended,
    functional,
    joblistings,
    media_stream,
    mlx,
    pricing,
    profiling,
    relational,
    selection,
    sketch,
    sqlviews,
    star,
    streaming2,
    tpch3,
    tpch4,
    tpch_more,
    traindata,
    windowfns,
)

_MODULES = [
    star,
    bi,
    functional,
    corpus,
    curation,
    extended,
    pricing,
    tpch_more,
    relational,
    sqlviews,
    joblistings,
    media_stream,
    streaming2,
    mlx,
    traindata,
    windowfns,
    tpch3,
    tpch4,
    profiling,
    sketch,
    selection,
]


def _pinned(fn: Callable[[SparkSession, str], DataFrame]):
    """Pin session settings a query's semantics depend on. The driver
    owns the SparkSession; timestamps in the parquet are UTC instants,
    so date derivation must happen in UTC regardless of host TZ.

    The pin is part of the registry's contract: calling a registry
    query leaves its session's ``spark.sql.session.timeZone`` at UTC,
    and nothing restores the previous zone. It cannot be scoped to the
    call, because the returned frame is lazy and reads the zone when
    it executes, after the call has returned. It is the package's one
    ``spark.conf.set`` outside ``streaming.watermark.scoped_conf``.

    Also the engine's QUERY BOUNDARY: before each registry query —
    the only point where no memo build is in flight —
    ``cachereg.query_boundary`` bounds within-dataset session state
    (evicts least-recently-touched family memos past the state budget,
    drops terminated streaming handles), so a long-lived driver
    walking hundreds of queries against ONE dataset stays inside a
    fixed heap instead of accumulating every family's pinned frames."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        cachereg.query_boundary(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    return wrapped


# The driver's correctness gate checks the FIRST 50 entries of
# all_queries() each round. Queries already driver-verified in a prior
# round keep their banked rows, so each round this list rotates fresh
# or least-recently-checked surface into the window (every name here
# has a DuckDB oracle — no rows-only checks waste a slot).
#
# Rotation rule, in window order:
# 1. the near-dup cluster queries, which share one memoized
#    connected-components build, so the driver checks them first;
# 2. the oracled names whose plan changed since their last driver row;
# 3. the oracled names whose last driver row is oldest, oldest round
#    first, alphabetical within a round, until the window holds 50.
_WINDOW = [
    # 1. near-dup cluster queries over the shared labels memo
    "dd_keep_best",
    "dd_duplicate_clusters",
    "samp_split_by_cluster",
    # 2. changed since their last driver row: the staged-token and
    # staged-set readers, the token-window and shingle-set readers,
    # the ordinal callers, the packed argmins and the job-listings star
    "text_stats",
    "text_langid",
    "corpus_curation",
    "text_quality_classifier",
    "dd_jaccard_pairs",
    "dd_prefix_filter_pairs",
    "dd_containment_pairs",
    "text_repetition_metrics",
    "text_bigram_lm_score",
    "text_quality_buckets",
    "text_chunk_dedup",
    "text_chunk_overlap",
    "text_dup_spans",
    "text_repetition_signals",
    "text_top_bigrams",
    "text_decontaminate",
    "samp_dsir_select",
    "dd_minhash_signatures",
    "dd_lsh_candidates",
    "dd_minhash_estimate",
    "inc_lsh_merge",
    "dim_company_bucketed",
    "samp_global_shuffle",
    "inc_upsert_dim",
    "stream_upsert_dim",
    "q2_min_balance_supplier",
    "er_best_match",
    "jl_bridge_checked",
    "jl_dim_company_checked",
    "jl_dim_date_checked",
    "jl_dim_employment_type_checked",
    "jl_dim_job_details_checked",
    "jl_dim_location_checked",
    "jl_dim_publisher_checked",
    "jl_dim_skill_checked",
    "jl_fact_checked",
    "jl_fact_fallback_checked",
    # 3. oldest last driver row first
    "star_wide",
    "w_latest_per_customer",
    "agg_approx_distinct_checked",
    "agg_grouping_sets",
    "agg_multi_distinct",
    "cust_idle_above_avg",
    "cust_order_distribution",
    "emb_int8_quantize",
    "er_blocking_refined",
    "er_name_blocking_pairs",
]


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        overlap = set(merged) & set(m.QUERIES)
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        merged.update({k: _pinned(v) for k, v in m.QUERIES.items()})
    missing = [n for n in _WINDOW if n not in merged]
    if missing:
        raise ValueError(f"_WINDOW names not registered: {missing}")
    out = {n: merged[n] for n in _WINDOW}
    out.update({k: v for k, v in merged.items() if k not in out})
    return out


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(getattr(m, "ORACLES", {}))
    return out
