"""Static lint of every DuckDB oracle's OUTPUT TYPES — the cheap guard
against reintroducing the round-2 hash-red class.

The driver hashes both result sets at the pandas level, where DuckDB
1.0's ``.df()`` converts DECIMAL and HUGEINT columns to float64 while
Spark keeps Decimal/int64 — so any oracle emitting those physical
types can hash-mismatch even when every value is identical (see
tests/oracle_check.py module docstring). ``DESCRIBE`` binds the query
without executing it, so this covers all 175+ oracles in seconds.

Banned output types:
- DECIMAL(...)  → emit scaled-BIGINT (*_e2/_e4/_e6) money instead
- HUGEINT       → an uncast ``sum()`` over BIGINT; CAST(... AS BIGINT)
- BLOB          → bytes vs bytearray repr mismatch; hex() instead
- LIST/STRUCT/MAP → the driver hasher can't hash container cells;
  flatten with array_to_string / to_json
"""

from __future__ import annotations

import re

from end_to_end_data_engineering_job_listings_etl_spark import registry

from tests.oracle_check import duckdb_conn

SF_DIR = "/root/testdata/sf0.001"

# Columns that intentionally violate the lint, each with a reason.
ALLOWED = {
    # Faithful reproduction of the reference's F12 schema bug: the
    # column is CAST(NULL AS VARCHAR[]) — all-NULL on both engines, so
    # the container type never carries a value into the hash.
    ("jl_dim_job_details_checked", "job_highlights_array"),
}

_BANNED = re.compile(
    r"^(DECIMAL\(|HUGEINT|UHUGEINT|BLOB|.*\[\]$|STRUCT|MAP)", re.IGNORECASE
)


def test_every_oracle_output_type_is_driver_hash_safe():
    con = duckdb_conn(SF_DIR)
    bad: list[str] = []
    for name, sql in sorted(registry.all_oracles().items()):
        try:
            cols = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as exc:  # noqa: BLE001 — surface as lint failure
            bad.append(f"{name}: DESCRIBE failed: {exc}")
            continue
        for col_name, col_type, *_ in cols:
            if (name, col_name) in ALLOWED:
                continue
            if _BANNED.match(col_type.strip()):
                bad.append(f"{name}.{col_name}: {col_type}")
    assert not bad, (
        "oracle output columns with driver-hash-unsafe physical types "
        "(DECIMAL/HUGEINT float64-ize in .df(); containers are "
        "unhashable):\n  " + "\n  ".join(bad)
    )


def test_window_is_exactly_50_oracled_names():
    names = list(registry.all_queries())[:50]
    oracles = registry.all_oracles()
    assert len(registry._WINDOW) == 50
    assert names == registry._WINDOW
    missing = [n for n in names if n not in oracles]
    assert not missing, f"window names without oracles waste slots: {missing}"


def test_ranked_ids_matches_global_row_number(spark, pins):
    """The scale-mode surrogate-key path must produce the EXACT global
    row_number values (this is what keeps every ANSI-SQL oracle valid),
    including under duplicate ordering keys and nulls."""
    import pyspark.sql.functions as F

    from end_to_end_data_engineering_job_listings_etl_spark.operators.dims import (
        DimSpec,
        build_dims_batched,
    )

    df = spark.range(2000).select(
        F.when(F.col("id") % 13 != 0, (F.col("id") * 7919) % 500)
        .cast("string")
        .alias("k")
    )
    spec = DimSpec("k", df, [F.col("k").alias("key_name")], "sk")
    dim = build_dims_batched([spec], pins)["k"]
    rows = sorted((r["key_name"], r["sk"]) for r in dim.collect())
    # distinct non-null keys, ranked 1..n in Python sort order
    keys = sorted({r["k"] for r in df.collect()} - {None})
    assert rows == [(k, i + 1) for i, k in enumerate(keys)]


def test_ranked_ids_edge_cases(spark, pins):
    """Dense 1..n ids under: empty input, duplicate keys (ties get
    arbitrary order but ids stay dense+unique and key-blocks stay
    ordered), NULL keys first — and the weighted running total, alone
    and grouped."""
    import pyspark.sql.functions as F

    from end_to_end_data_engineering_job_listings_etl_spark.operators.ids import ranked_ids

    empty = spark.range(0).select(F.col("id").cast("string").alias("k"))
    assert ranked_ids(empty, ["k"], "rk", pins).count() == 0

    dup = spark.range(100).select((F.col("id") % 7).cast("string").alias("k"))
    rows = ranked_ids(dup, ["k"], "rk", pins).collect()
    assert sorted(r["rk"] for r in rows) == list(range(1, 101))
    by_key: dict[str, list[int]] = {}
    for r in rows:
        by_key.setdefault(r["k"], []).append(r["rk"])
    hi = 0
    for k in sorted(by_key):
        assert min(by_key[k]) == hi + 1  # contiguous blocks in key order
        hi = max(by_key[k])

    nulls = spark.range(10).select(
        F.when(F.col("id") % 2 == 0, F.col("id").cast("string")).alias("k")
    )
    rows = ranked_ids(nulls, ["k"], "rk", pins).collect()
    null_ids = [r["rk"] for r in rows if r["k"] is None]
    assert null_ids and max(null_ids) < min(
        r["rk"] for r in rows if r["k"] is not None
    )

    t = spark.createDataFrame([("a", 2), ("b", 3), ("c", 5)], "k string, w int")
    got = {
        r["k"]: r["end"] - r["w"]
        for r in ranked_ids(t, ["k"], "end", pins, weight="w").collect()
    }
    assert got == {"a": 0, "b": 2, "c": 5}

    # grouped and weighted, with tied keys, null keys and zero weights,
    # against a Python reference: within a group, key blocks come in
    # ascending key order (nulls first) and each block starts at the
    # total weight of the lower blocks. Tied rows come in any order, so
    # a block is checked as the running totals of SOME order of its
    # rows: sorted by (total, -weight), each row adds its own weight.
    data = [
        (g, k, w)
        for g in ("x", "y")
        for k, w in [
            (None, 2), (None, 0), ("a", 1), ("a", 0), ("a", 4), ("b", 0),
            ("c", 3), ("c", 3), ("d", 0), ("e", 7),
        ]
        if not (g == "y" and k == "e")
    ] + [("z", None, 0), ("z", "q", 0)]
    df = spark.createDataFrame(data, "g string, k string, w int")
    rows = ranked_ids(df, ["k"], "rk", pins, group=["g"], weight="w").collect()
    got: dict[tuple, list[tuple[int, int]]] = {}
    for r in rows:
        got.setdefault((r["g"], r["k"]), []).append((r["rk"], -r["w"]))
    want: dict[tuple, list[int]] = {}
    for g, k, w in data:
        want.setdefault((g, k), []).append(w)
    assert {gk: len(v) for gk, v in got.items()} == {gk: len(v) for gk, v in want.items()}
    run: dict[str, int] = {}
    for g, k in sorted(want, key=lambda gk: (gk[0], gk[1] is not None, gk[1] or "")):
        total = run.get(g, 0)
        for rk, neg_w in sorted(got[(g, k)]):
            total -= neg_w
            assert rk == total, (g, k, sorted(got[(g, k)]))
        assert total == run.get(g, 0) + sum(want[(g, k)])
        run[g] = total
