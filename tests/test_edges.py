"""Edge-case behavior: empty inputs, nulls, degenerate documents."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from end_to_end_data_engineering_job_listings_etl_spark.functions.keywords import extract_keywords
from end_to_end_data_engineering_job_listings_etl_spark.functions.relative_time import parse_relative_time
from end_to_end_data_engineering_job_listings_etl_spark.functions.text import (
    explode_staged,
    token_windows,
    tokens,
    word_shingles,
)
from end_to_end_data_engineering_job_listings_etl_spark.operators.dedup import (
    SIMHASH_MAX_TOKENS,
    containment_pairs,
    jaccard_pairs,
    minhash_signature,
    shingle_sets,
    simhash60,
)
from end_to_end_data_engineering_job_listings_etl_spark.operators.dims import (
    DimSpec,
    build_dim,
    build_dims_batched,
)

_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def _both_dim_builders(df, pins):
    """The ranked (``build_dims_batched`` with one spec) and the
    bucketed (``build_dim``) dimension over ``text`` as ``k``."""
    keys = [F.col("text").alias("k")]
    ranked = build_dims_batched([DimSpec("t", df, keys, "sk")], pins)["t"]
    return ranked, build_dim(df, keys, "sk")


def test_build_dim_empty_input_both_modes(spark, pins):
    empty = spark.createDataFrame([], _DOC_SCHEMA)
    for dim in _both_dim_builders(empty, pins):
        assert dim.count() == 0
        assert dim.columns == ["sk", "k"]


def test_build_dim_null_keys_rejected(spark, pins):
    df = spark.createDataFrame([(1, "a"), (2, None), (3, "a")], _DOC_SCHEMA)
    for dim in _both_dim_builders(df, pins):
        rows = dim.collect()
        assert [(r["sk"], r["k"]) for r in rows] == [(1, "a")]


def test_extract_keywords_null_and_empty_text(spark):
    df = spark.createDataFrame([(1, None), (2, ""), (3, "spark join")], _DOC_SCHEMA)
    out = {r["doc_id"]: r["kw"] for r in df.select(
        "doc_id", extract_keywords("text").alias("kw")
    ).collect()}
    assert out[1] == [] and out[2] == []
    assert out[3] == ["join", "spark"]


def test_relative_time_junk_is_null(spark):
    df = spark.createDataFrame(
        [(1, "3 weeks ago"), (2, "just now"), (3, None), (4, "-5 days ago"),
         (5, "2 days ago")],
        T.StructType([T.StructField("id", T.LongType()), T.StructField("s", T.StringType())]),
    )
    now = F.lit("2024-02-01 00:00:00").cast("timestamp")
    out = {r["id"]: r["p"] for r in df.select(
        "id", parse_relative_time("s", now).alias("p")
    ).collect()}
    assert out[1] is None and out[2] is None and out[3] is None and out[4] is None
    assert out[5] is not None


def test_short_docs_yield_no_shingles_or_pairs(spark):
    """Docs shorter than the shingle width have the empty set and no
    signature. ``k == 1`` is the distinct lower-cased token set, the
    set the Jaccard and containment joins read: a null doc's set is
    null and an empty or blank doc's is empty, so neither explodes to
    a row or gets a signature."""
    df = spark.createDataFrame([(1, "one two"), (2, "a"), (3, ""), (4, None)], _DOC_SCHEMA)
    sh = df.select(F.size(word_shingles("text", 3)).alias("n")).collect()
    assert all(r["n"] == 0 for r in sh)
    assert minhash_signature(shingle_sets(df, "text", "doc_id", 3), "doc_id", 4).count() == 0

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "A a b  B c")], _DOC_SCHEMA
    )
    sets = shingle_sets(df, "text", "doc_id", 1)
    assert {r["doc_id"]: r["set"] for r in sets.collect()} == {
        1: None,
        2: [],
        3: [],
        4: ["a", "b", "c"],
    }
    assert sets.select(F.explode("set")).count() == 3
    sig = minhash_signature(sets, "doc_id", 4)
    assert [r["doc_id"] for r in sig.collect()] == [4]


def _windows_reference(text, size, stride, partial):
    """``token_windows`` over ``tokens(text)``, in Python."""
    toks = [] if text is None else text.split()
    last = len(toks) - (1 if partial else size)
    return [" ".join(toks[i : i + size]) for i in range(0, last + 1, stride)]


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_token_windows_match_python_reference(spark, ansi):
    """Null and empty documents, one token, exactly ``size`` tokens and
    ``size + 1``, and stride 2 with ``partial`` over an exact multiple
    of the stride (4 tokens) and one off it (5): full windows only
    unless ``partial``, in order, repeats kept. ``size(null)`` is -1
    with ANSI off and null with it on; both give the empty array."""
    from end_to_end_data_engineering_job_listings_etl_spark.streaming.watermark import (
        scoped_conf,
    )

    docs = [None, "", "a", "a b", "a b c", "a b a b", "a b c d e"]
    cases = [(2, 1, False), (3, 1, False), (2, 2, False), (2, 2, True), (3, 2, True)]
    df = spark.createDataFrame(list(enumerate(docs)), _DOC_SCHEMA)
    cols = [
        token_windows(tokens("text"), size, stride, partial).alias(f"w{i}")
        for i, (size, stride, partial) in enumerate(cases)
    ]
    with scoped_conf(spark, {"spark.sql.ansi.enabled": ansi}):
        rows = {r["doc_id"]: r for r in df.select("doc_id", *cols).collect()}
    for doc_id, text in enumerate(docs):
        for i, case in enumerate(cases):
            want = _windows_reference(text, *case)
            assert rows[doc_id][f"w{i}"] == want, (text, case)
    # any tokenizer: a plain split keeps the empty token of ""
    got = df.select(token_windows(F.split("text", " "), 1, partial=True)).collect()
    assert [r[0] for r in got] == [[], [""], ["a"], ["a", "b"], ["a", "b", "c"],
                                   ["a", "b", "a", "b"], ["a", "b", "c", "d", "e"]]


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_explode_staged_matches_explode(spark, ansi):
    """``explode_staged`` gives the rows ``F.explode`` gives for a null
    array, an empty one, one element and repeated elements. Over a
    staged token array, ``F.explode`` plans an inferred
    ``size(...) > 0`` filter that re-tokenizes below the staging
    projection; the helper plans none."""
    from end_to_end_data_engineering_job_listings_etl_spark.streaming.watermark import (
        scoped_conf,
    )

    arrays = [None, [], ["a"], ["a", "b", "a", "a"]]
    df = spark.createDataFrame(
        list(enumerate(arrays)), "id long, arr array<string>"
    )
    staged = spark.range(3).select(
        "id", tokens(F.col("id").cast("string")).alias("arr")
    )
    with scoped_conf(spark, {"spark.sql.ansi.enabled": ansi}):
        want = df.select("id", F.explode("arr").alias("e")).collect()
        got = explode_staged(df, "arr", "e", "id").collect()
        plans = [
            f._jdf.queryExecution().optimizedPlan().toString()
            for f in (
                staged.select("id", F.explode("arr").alias("e")),
                explode_staged(staged, "arr", "e", "id"),
            )
        ]
    assert sorted(got) == sorted(want)
    assert [tuple(r) for r in sorted(got)] == [
        (2, "a"), (3, "a"), (3, "a"), (3, "a"), (3, "b")
    ]
    assert [p.count("split(") for p in plans] == [2, 1]


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_simhash60_token_bound(spark, ansi):
    """simhash60 packs its per-bit counts in 16-bit lanes whose top lane
    sits at bit 48 of a signed long, so a document may hold at most
    SIMHASH_MAX_TOKENS (32,767) tokens. At the bound, repeats of one
    token give that token's signature; one token more fails with an
    error naming the bound, with ANSI mode on and off (off, the lanes
    would overflow silently)."""
    from end_to_end_data_engineering_job_listings_etl_spark.streaming.watermark import (
        scoped_conf,
    )

    assert SIMHASH_MAX_TOKENS == 32_767

    def doc(n):
        return spark.createDataFrame([(1, " ".join(["x"] * n))], _DOC_SCHEMA)

    with scoped_conf(spark, {"spark.sql.ansi.enabled": ansi}):
        for n in (1, SIMHASH_MAX_TOKENS):
            [row] = simhash60(doc(n), "text", "doc_id").collect()
            assert row["simhash"] == 710810379057940483, n
        with pytest.raises(Exception, match="has more than 32767 tokens"):
            simhash60(doc(SIMHASH_MAX_TOKENS + 1), "text", "doc_id").collect()


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_er_best_match_packed_domain(spark, ansi):
    """er_best_match's argmin packs (lev, id_a) as lev·2⁴⁴ + id_a,
    exact while id_a ∈ [0, 2⁴⁴) and lev ∈ [0, 2¹⁹). At the edges of
    that domain the argmin is exact; one step outside raises an error
    naming the query, the value and the bound, with ANSI on and off
    (off, the long would wrap silently)."""
    from end_to_end_data_engineering_job_listings_etl_spark.plans.extended import _best_links
    from end_to_end_data_engineering_job_listings_etl_spark.streaming.watermark import (
        scoped_conf,
    )

    id_end, lev_end = 1 << 44, 1 << 19

    def best(rows):
        df = spark.createDataFrame(rows, "id_b long, id_a long, lev int")
        return sorted(tuple(r) for r in _best_links(df).collect())

    with scoped_conf(spark, {"spark.sql.ansi.enabled": ansi}):
        assert best(
            [
                (1, id_end - 1, 0), (1, 0, 1),
                (2, id_end - 1, lev_end - 1), (2, id_end - 2, lev_end - 1),
                (3, 5, 0), (3, 0, 0),
            ]
        ) == [(1, id_end - 1, 0), (2, id_end - 2, lev_end - 1), (3, 0, 0)]
        for row, message in [
            ((1, id_end, 0), f"er_best_match: id_a {id_end} outside [0, {id_end})"),
            ((1, -1, 0), f"er_best_match: id_a -1 outside [0, {id_end})"),
            ((1, 0, lev_end), f"er_best_match: lev {lev_end} outside [0, {lev_end})"),
            ((1, 0, -1), f"er_best_match: lev -1 outside [0, {lev_end})"),
        ]:
            with pytest.raises(Exception, match=re.escape(message)):
                best([row])


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_q2_min_balance_packed_domain(spark, ansi):
    """q2_min_balance_supplier's argmin packs (bal_cents, s_suppkey) as
    (bal_cents + 2²¹)·2⁴⁰ + s_suppkey, exact while bal_cents ∈ [−2²¹,
    2²³ − 2²¹) and s_suppkey ∈ [0, 2⁴⁰). At the edges the argmin is
    exact; one step outside raises, with ANSI on and off."""
    from end_to_end_data_engineering_job_listings_etl_spark.plans.tpch4 import (
        _cheapest_supplier,
    )
    from end_to_end_data_engineering_job_listings_etl_spark.streaming.watermark import (
        scoped_conf,
    )

    lo, hi, supp_end = -(1 << 21), (1 << 23) - (1 << 21), 1 << 40
    q = "q2_min_balance_supplier"

    def best(rows):
        df = spark.createDataFrame(
            rows, "p_partkey long, p_name string, bal_cents long, s_suppkey long"
        )
        return sorted(tuple(r) for r in _cheapest_supplier(df).collect())

    with scoped_conf(spark, {"spark.sql.ansi.enabled": ansi}):
        assert best(
            [
                (1, "a", lo, supp_end - 1), (1, "a", lo + 1, 0),
                (2, "b", hi - 1, supp_end - 1), (2, "b", hi - 1, supp_end - 2),
                (3, "c", 0, 7), (3, "c", 0, 0),
            ]
        ) == [
            (1, "a", supp_end - 1, lo),
            (2, "b", supp_end - 2, hi - 1),
            (3, "c", 0, 0),
        ]
        for row, message in [
            ((1, "a", lo - 1, 0), f"{q}: bal_cents {lo - 1} outside [{lo}, {hi})"),
            ((1, "a", hi, 0), f"{q}: bal_cents {hi} outside [{lo}, {hi})"),
            ((1, "a", 0, -1), f"{q}: s_suppkey -1 outside [0, {supp_end})"),
            ((1, "a", 0, supp_end), f"{q}: s_suppkey {supp_end} outside [0, {supp_end})"),
        ]:
            with pytest.raises(Exception, match=re.escape(message)):
                best([row])


@pytest.mark.parametrize(
    "op, subset_score",
    [(jaccard_pairs, 0.5), (containment_pairs, 1.0)],
    ids=["jaccard_pairs", "containment_pairs"],
)
def test_jaccard_single_doc_no_pairs(spark, op, subset_score):
    """Degenerate inputs yield no pairs even at threshold 0: a single
    doc, and empty- and null-text docs (no tokens to share). "a b"
    inside "A b c d" scores Jaccard 2/4 = 0.5 but containment
    2/min(2, 4) = 1.0 — the near-subset case containment exists for."""
    df = spark.createDataFrame([(1, "alpha beta gamma")], _DOC_SCHEMA)
    assert op(df, "text", "doc_id", threshold=0.0).count() == 0
    df = spark.createDataFrame([(1, ""), (2, None), (3, "   "), (4, None)], _DOC_SCHEMA)
    assert op(df, "text", "doc_id", threshold=0.0).count() == 0
    df = spark.createDataFrame([(1, "a b"), (2, "A b c d")], _DOC_SCHEMA)
    assert [tuple(r) for r in op(df, "text", "doc_id", threshold=0.0).collect()] == [
        (1, 2, subset_score)
    ]


def test_ranked_ids_partition_count_independent(spark, pins):
    """The driver owns its SparkSession; its shuffle-partition default
    (200) differs from ours (cpus). Surrogate-key VALUES must not
    depend on it: the range/two-phase rank is partition-count-
    independent by construction — pin that with hostile session
    counts (1, 3, 200) against the 32-partition result."""
    import pyspark.sql.functions as F

    from end_to_end_data_engineering_job_listings_etl_spark.operators.ids import ranked_ids
    from end_to_end_data_engineering_job_listings_etl_spark.streaming.watermark import (
        scoped_conf,
    )

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    keys = cust.select(F.upper("c_name").alias("k")).distinct()
    n_keys = keys.count()

    def ranked(n: int) -> list[tuple[str, int]]:
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(n)}):
            rows = ranked_ids(keys, ["k"], "sk", pins).collect()
        # the range exchange ran at the session's count (capped by the
        # number of distinct keys it can split on)
        assert pins[-1].rdd.getNumPartitions() == min(n, n_keys)
        return sorted((r["k"], r["sk"]) for r in rows)

    expect = ranked(32)
    for n in (1, 3, 200):
        assert ranked(n) == expect, f"shuffle.partitions={n} diverged"


def test_rank_input_pin_follows_the_input_plan(spark, pins, monkeypatch):
    """``ranked_ids`` checkpoints its input unless the input's
    analyzed plan ends in an Aggregate, whose shuffle output the
    sampling and exchange jobs reuse. Each caller's choice, pinned: the
    batched dims (a distinct) and the natural-key tuples (a groupBy)
    take no input checkpoint; ``star_wide``'s order keys (a projection
    of the landing) and ``upsert_dim``'s new rows (an anti-join) do."""
    from end_to_end_data_engineering_job_listings_etl_spark import cachereg
    from end_to_end_data_engineering_job_listings_etl_spark.operators import ids
    from end_to_end_data_engineering_job_listings_etl_spark.operators.incremental import (
        upsert_dim,
    )
    from end_to_end_data_engineering_job_listings_etl_spark.plans.joblistings import (
        build_star_schema,
        synth_job_listings,
    )
    from end_to_end_data_engineering_job_listings_etl_spark.plans.star import star_wide
    from tests.conftest import SF_DIR

    pinned: dict[str, bool] = {}
    ranged_with_pid = ids._ranged_with_pid

    def spy(df, order_cols, pins):
        before = len(pins)
        out = ranged_with_pid(df, order_cols, pins)
        pinned[order_cols[-1]] = len(pins) - before == 2
        return out

    monkeypatch.setattr(ids, "_ranged_with_pid", spy)
    landing = synth_job_listings(spark, 50)
    build_star_schema(landing, pins, now=F.lit("2025-07-01").cast("timestamp"))
    existing = spark.createDataFrame([(1, "a")], "sk int, k string")
    upsert_dim(spark.createDataFrame([("b",)], "k string"), existing, ["k"], "sk", pins)
    cachereg.evict(spark, SF_DIR, "star")
    try:
        star_wide(spark, SF_DIR)
    finally:
        cachereg.evict(spark, SF_DIR, "star")
    assert pinned == {
        # build_dims_batched: the job-listings dims (the location dim
        # has 4 keys) and the reference star's (2 keys)
        "__k3": False,
        "__k1": False,
        "job_posted_at_datetime_utc": False,  # _fact_base
        "k": True,  # upsert_dim
        "o_orderkey": True,  # star_wide's order PK
    }


def test_upsert_dim_continues_after_existing_max(spark, pins):
    """New keys continue after the existing dim's max key, gaps and
    all ({1, 5} → 6, 7), and start at 1 over an empty dim; existing
    keys keep theirs."""
    from end_to_end_data_engineering_job_listings_etl_spark.operators.incremental import (
        upsert_dim,
    )

    incoming = spark.createDataFrame([("c",), ("b",), ("a",), ("c",)], "k string")
    existing = spark.createDataFrame([(1, "a"), (5, "z")], "sk int, k string")
    got = upsert_dim(incoming, existing, ["k"], "sk", pins).collect()
    assert sorted((r["sk"], r["k"]) for r in got) == [(1, "a"), (5, "z"), (6, "b"), (7, "c")]
    empty = spark.createDataFrame([], "sk int, k string")
    got = upsert_dim(incoming, empty, ["k"], "sk", pins).collect()
    assert sorted((r["sk"], r["k"]) for r in got) == [(1, "a"), (2, "b"), (3, "c")]


def test_batched_dims_equal_per_dim_build(spark, pins):
    """build_dims_batched must produce exactly each dim's own global
    ``row_number() OVER (ORDER BY keys)`` over its distinct non-null
    keys, as (sk, keys) rows for every spec — including a multi-column
    dim whose shorter siblings are null-padded in the shared frame."""
    from pyspark.sql import Window

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    specs = [
        DimSpec("seg", cust, [F.upper(F.col("c_mktsegment")).alias("k")], "sk"),
        DimSpec("prio", orders, [F.col("o_orderpriority").alias("k")], "sk"),
        DimSpec(
            "two",
            orders,
            [
                F.col("o_orderstatus").alias("k1"),
                F.col("o_orderpriority").alias("k2"),
            ],
            "sk",
        ),
    ]
    batched = build_dims_batched(specs, pins)
    for tag, src, keys, sk, _ in specs:
        projected = src.select(*keys)
        names = projected.columns
        ref = (
            projected.filter(F.col(names[0]).isNotNull())
            .distinct()
            .select(
                F.row_number().over(Window.orderBy(*names)).cast("int").alias(sk),
                *names,
            )
        )
        expect = sorted(map(tuple, ref.collect()))
        got = sorted(map(tuple, batched[tag].collect()))
        assert got == expect, tag


def test_apply_cdc_semantics(spark):
    """apply_cdc edge semantics: latest-wins per key, delete of an
    absent key is a no-op, insert creates a new key, a delete followed
    by a later upsert resurrects the row, untouched keys pass through."""
    from end_to_end_data_engineering_job_listings_etl_spark.operators.incremental import apply_cdc

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    changes = spark.createDataFrame(
        [
            # k=2: update then delete (delete is latest -> gone)
            (2, 1, "U", "b2"),
            (2, 2, "D", None),
            # k=3: delete then update (update is latest -> resurrected)
            (3, 1, "D", None),
            (3, 2, "U", "c2"),
            # k=4: brand-new key inserted
            (4, 1, "I", "d"),
            # k=5: delete of a key base never had -> no-op
            (5, 1, "D", None),
        ],
        "k int, seq int, op string, v string",
    )
    out = {
        r["k"]: r["v"]
        for r in apply_cdc(base, changes, "k", ("seq",)).collect()
    }
    assert out == {1: "a", 3: "c2", 4: "d"}


def test_minhash_estimate_short_dup_docs_excluded(spark, tmp_path):
    """A doc shorter than the shingle width has an EMPTY shingle set, so
    the per-doc plan never banded it and it was never a candidate —
    the fp-collapsed plan must not emit its exact duplicates either. Long exact-dups still surface with Jaccard 1,
    and the DuckDB oracle agrees bit-for-bit on the same corpus."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry
    from end_to_end_data_engineering_job_listings_etl_spark.plans.corpus import dd_minhash_estimate
    from tests.oracle_check import compare

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "text": [
                "tiny doc",  # 2 tokens < shingle width 3 -> empty set
                "tiny doc",  # exact duplicate of the short doc
                "alpha beta gamma delta epsilon",
                "alpha beta gamma delta epsilon",  # long exact dup
                "zeta eta theta iota kappa lambda",
            ],
        }
    )
    docs["doc_id"] = docs["doc_id"].astype("int64")
    docs.to_parquet(tmp_path / "documents.parquet", index=False)

    out = dd_minhash_estimate(spark, str(tmp_path))
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (0, 1) not in pairs, "short-doc exact dup must not surface"
    assert (2, 3) in pairs, "long exact dup must surface with jacc 1"

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path / 'documents.parquet'}'"
    )
    compare(
        out,
        con,
        entry.oracle_sql()["dd_minhash_estimate"],
        "dd_minhash_estimate_short_docs",
    )
