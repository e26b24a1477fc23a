"""Property-based tests (hypothesis): the expression rewrites must
match a direct Python model of the reference's semantics on arbitrary
inputs, not just the fixtures."""

from __future__ import annotations

import datetime as dt
import re

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_NOW = dt.datetime(2025, 7, 1, 12, 0, 0)


def _model_relative(s: str):
    """Pure-Python model of the reference grammar
    (dags/spark_etl_script.py:16-28): hours/days/yesterday, else None."""
    t = s.strip().lower()
    if re.fullmatch(r"\d+ hours? ago", t):
        return _NOW - dt.timedelta(hours=int(re.search(r"\d+", t).group()))
    if re.fullmatch(r"\d+ days? ago", t):
        return _NOW - dt.timedelta(days=int(re.search(r"\d+", t).group()))
    if t == "yesterday":
        return _NOW - dt.timedelta(days=1)
    return None


_rel_valid = st.builds(
    lambda n, unit, s: f"{n} {unit}{s} ago",
    st.integers(0, 9999),
    st.sampled_from(["hour", "day"]),
    st.sampled_from(["", "s"]),
)
_rel_junk = st.sampled_from(
    ["yesterday", "Yesterday ", "3 weeks ago", "just posted", "", "now",
     "5 months ago", " 7 days ago ", "7days ago", "ago 7 days"]
)


@settings(max_examples=8, deadline=None)
@given(st.lists(_rel_valid | _rel_junk, min_size=1, max_size=40))
def test_relative_time_matches_python_model(strings):
    from end_to_end_data_engineering_job_listings_etl_spark.functions.relative_time import parse_relative_time
    from end_to_end_data_engineering_job_listings_etl_spark.session import get_spark

    spark = get_spark(cpus=8)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    out = df.select(
        parse_relative_time("s", F.lit(_NOW.isoformat(sep=" ")).cast("timestamp")).alias("ts")
    ).collect()
    got = [r["ts"] for r in out]
    want = [_model_relative(s) for s in strings]
    assert got == want


_token = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=1,
    max_size=12,
)


@settings(max_examples=8, deadline=None)
@given(st.lists(st.lists(_token, min_size=1, max_size=6), min_size=1, max_size=20))
def test_parse_string_array_inverts_python_repr(lists):
    """The translate/split parser (reference :132-135) must invert the
    reference's str(list) serialization for bracket/quote-free tokens."""
    from end_to_end_data_engineering_job_listings_etl_spark.functions.normalize import parse_string_array
    from end_to_end_data_engineering_job_listings_etl_spark.session import get_spark

    spark = get_spark(cpus=8)
    df = spark.createDataFrame([(str(l),) for l in lists], "s string")
    out = df.select(parse_string_array("s").alias("a")).collect()
    assert [r["a"] for r in out] == lists


@settings(max_examples=8, deadline=None)
@given(st.sets(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=4))
def test_conform_schema_nullfills_and_orders(present):
    from pyspark.sql import types as T

    from end_to_end_data_engineering_job_listings_etl_spark.session import get_spark
    from end_to_end_data_engineering_job_listings_etl_spark.sources.readers import conform_schema

    spark = get_spark(cpus=8)
    target = T.StructType(
        [T.StructField(c, T.StringType()) for c in ("a", "b", "c", "d")]
    )
    if present:
        row = tuple("v_" + c for c in sorted(present))
        schema = ", ".join(f"{c} string" for c in sorted(present))
        df = spark.createDataFrame([row], schema)
    else:
        df = spark.createDataFrame([(1,)], "x int")
    out = conform_schema(df, target)
    assert out.columns == ["a", "b", "c", "d"]
    r = out.collect()[0]
    for c in ("a", "b", "c", "d"):
        assert r[c] == (("v_" + c) if c in present else None)


# ---------------------------------------------------------------------------
# connected_components vs a union-find model
# ---------------------------------------------------------------------------

_node = st.integers(min_value=0, max_value=15)


@settings(max_examples=6, deadline=None)
@given(st.lists(st.tuples(_node, _node), min_size=0, max_size=25))
def test_connected_components_match_union_find(spark, edges):
    """Distributed min-label propagation must equal a sequential
    union-find on arbitrary graphs (self-loops, duplicates, isolated
    vertices included)."""
    from end_to_end_data_engineering_job_listings_etl_spark.operators.dedup import connected_components
    from end_to_end_data_engineering_job_listings_etl_spark.operators.ids import release_pins

    nodes = sorted({n for e in edges for n in e} | set(range(4)))
    # model: union-find with min representative
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    # the larger root always attaches under the smaller, so every
    # tree's root IS its component minimum
    expected = {n: find(n) for n in nodes}

    verts = spark.createDataFrame([(n,) for n in nodes], "doc_id long")
    edf = spark.createDataFrame(edges or [(0, 0)], "id_a long, id_b long")
    if not edges:
        edf = edf.limit(0)
    # a local list, not the ``pins`` fixture: hypothesis reruns the
    # body per example, and each example's checkpoint is released here
    pins = []
    try:
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(verts, edf, pins, id_col="doc_id").collect()
        }
    finally:
        release_pins(pins)
    assert got == expected


def test_connected_components_long_chain(spark, pins):
    """A 40-node path graph: diameter 39 forces several pointer-jumping
    rounds, pinning the changed-label count (the previous label rides
    through the min-aggregate as the tagged ``__own`` row) across the
    multi-round convergence path, including the final no-change
    round."""
    from end_to_end_data_engineering_job_listings_etl_spark.operators.dedup import connected_components

    n = 40
    verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edf = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(verts, edf, pins, id_col="doc_id").collect()
    }
    assert got == {i: 0 for i in range(n)}


_tok = st.sampled_from(
    ["alpha", "bravo", "charlie", "delta", "echo", "fox", "golf", "hotel",
     "india", "kilo", "lima", "mike", "oscar", "papa", "romeo", "tango"]
)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(_tok, min_size=12, max_size=60),
    st.integers(0, 60),
    _tok,
)
def test_cdc_chunker_localizes_an_insertion(toks, idx, ins):
    """Content-defined chunking's load-bearing property on ARBITRARY
    token streams: inserting one token anywhere changes only the
    chunk(s) overlapping the 3-token re-sync window around the edit —
    every other chunk fingerprint survives verbatim. The window spans
    TWO trailing-gram positions of the base document (the grams ending
    at the edit index and one past it), so up to two base boundaries
    can vanish at once, merging THREE old chunks → at most 3 base
    fingerprints may disappear. (r13: hypothesis found the two-
    boundary case on a low-entropy repeated-token stream — the old ≤2
    bound assumed at most one vanishing boundary, which the gram
    geometry never guaranteed.)"""
    from end_to_end_data_engineering_job_listings_etl_spark.plans.sketch import cdc_chunk_tokens
    from end_to_end_data_engineering_job_listings_etl_spark.session import get_spark

    spark = get_spark(cpus=8)
    idx = min(idx, len(toks))
    edited = toks[:idx] + [ins] + toks[idx:]
    docs = spark.createDataFrame(
        [(1, " ".join(toks)), (2, " ".join(edited))], ["doc_id", "text"]
    )
    fps = (
        cdc_chunk_tokens(docs)
        .groupBy("doc_id", "chunk_id")
        .agg(F.concat_ws(" ", F.collect_list("tok")).alias("fp"))
        .collect()
    )
    base = [r["fp"] for r in fps if r["doc_id"] == 1]
    edit = {r["fp"] for r in fps if r["doc_id"] == 2}
    # multiset-ish check on the set level: at most 3 base chunks vanish
    # (two re-sync-window boundaries gone → three chunks merge)
    missing = [fp for fp in set(base) if fp not in edit]
    assert len(missing) <= 3, (toks, idx, ins, missing)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 9), st.integers(0, 99)),
             min_size=1, max_size=30),
    st.lists(st.integers(0, 9), min_size=1, max_size=8, unique=True),
    st.integers(2, 7),
)
def test_salted_join_property(fact_rows, dim_keys, buckets):
    """salted_equi_join == plain inner join for arbitrary fact/dim key
    multisets and any salt count (duplicates on both sides included:
    dim is deduped to model a dimension; fact keeps duplicates)."""
    from end_to_end_data_engineering_job_listings_etl_spark.plans.sketch import salted_equi_join
    from end_to_end_data_engineering_job_listings_etl_spark.session import get_spark

    spark = get_spark(cpus=8)
    fact = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(fact_rows)], ["rid", "k", "v"]
    )
    dim = spark.createDataFrame([(k, k * 10) for k in dim_keys], ["k", "attr"])
    salted = salted_equi_join(fact, dim, "k", buckets=buckets, salt_src="rid")
    plain = fact.join(dim, "k")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
