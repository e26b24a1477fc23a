"""Scalar-function, set-op, window and incremental operator coverage —
one oracle-backed query per SURVEY.md §2 operator family not already
exercised by the star pipeline.

- fn_normalize_strings   : F1-F3 trim/upper/initcap + P4 distinct
- fn_parse_string_array  : F4 translate + F5 split (serialized-list parse)
- fn_relative_time       : F11 relative-time grammar vs injected now
- fn_json_extract        : F12/F13 JSON text → typed column + A6-style agg
- fn_union_by_country    : §2.10 unionByName (the per-country append)
- fn_boolean_sum         : A10 sum(bool-cast)
- w_latest_per_customer  : partitioned window (engine extra beyond W1)
- inc_watermark_agg      : S6 watermark filter + A2 max(ts) high-watermark
- inc_upsert_dim         : J8 anti-join incremental dimension upsert
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import cachereg
from ..catalog import load_table
from ..functions.keywords import extract_keywords
from ..functions.normalize import norm_initcap, norm_upper, parse_string_array
from ..functions.relative_time import parse_relative_time
from ..operators.ids import ranked_ids
from ..operators.incremental import (
    filter_after,
    filter_upto,
    merge_scd1,
    scd2_history,
    upsert_dim,
)
from .star import STAR_PREFIX, _initcap

_NOW = "2024-02-01 00:00:00"
_WM = "2024-01-25 00:00:00"


def fn_normalize_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        norm_upper("p_brand").alias("brand_u"),
        norm_initcap("p_type").alias("type_ic"),
        F.trim("p_name").alias("name_t"),
    ).distinct()


def fn_parse_string_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip the reference's serialized-skills format: build
    "['<brand>', '<type>']" then parse with translate+split
    (``dags/spark_etl_script.py:132-135`` semantics)."""
    part = load_table(spark, sf_dir, "part")
    ser = F.concat(F.lit("['"), F.col("p_brand"), F.lit("', '"), F.col("p_type"), F.lit("']"))
    arr = parse_string_array(ser)
    return part.select(
        "p_partkey",
        F.size(arr).cast("int").alias("n_items"),
        F.array_join(arr, "|").alias("items_joined"),
    )


def fn_relative_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: synthesize the reference's relative-time strings from event
    ids, parse against an injected now; weeks/junk → null (faithful)."""
    ev = load_table(spark, sf_dir, "events")
    rel = (
        F.when(F.pmod("event_id", F.lit(5)) == 0,
               F.concat((F.pmod("event_id", F.lit(23)) + 1).cast("string"), F.lit(" hours ago")))
        .when(F.pmod("event_id", F.lit(5)) == 1,
              F.concat((F.pmod("event_id", F.lit(6)) + 1).cast("string"), F.lit(" days ago")))
        .when(F.pmod("event_id", F.lit(5)) == 2, F.lit("yesterday"))
        .when(F.pmod("event_id", F.lit(5)) == 3,
              F.concat((F.pmod("event_id", F.lit(3)) + 2).cast("string"), F.lit(" weeks ago")))
        .otherwise(F.lit("just now"))
    )
    now = F.lit(_NOW).cast("timestamp")
    parsed = parse_relative_time(rel, now)
    return ev.select(
        "event_id",
        rel.alias("rel_str"),
        F.unix_micros(parsed).alias("parsed_epoch_us"),
    )


def fn_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12/F13: JSON string column → typed value, aggregated."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


def fn_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: Snowflake PARSE_JSON → VARIANT, Spark-4 native. The
    reference lands semi-structured payloads as VARIANT
    (``dags/postgres_snowflake.py:84-86``; `job_highlights` VARIANT in
    superset.db table_columns); Spark 4's VARIANT type is the direct
    analog — parse once, typed `variant_get` paths after (missing paths
    via try_variant_get → null, exactly VARIANT's permissive shape)."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    missing = F.try_variant_get(v, "$.missing", "string")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.count(missing).alias("n_missing_nonnull"),
    )


def fn_union_by_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: the multi-country extract appends page batches into one
    relation — expressed as unionByName with a lineage tag (F18)."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", F.lit("US").alias("src_country")
    )
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", F.lit("IN").alias("src_country")
    )
    return a.unionByName(b).groupBy("src_country").agg(F.count("*").alias("n"))


def fn_boolean_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: how many docs matched ≥1 dictionary keyword."""
    docs = load_table(spark, sf_dir, "documents")
    has_kw = (F.size(extract_keywords("text")) > 0).cast("int")
    return docs.agg(F.sum(has_kw).alias("n_docs_with_keywords"))


def w_latest_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned ranking window: each customer's latest order."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def inc_watermark_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 + A2: rows after the stored watermark, plus the new
    high-watermark the run would persist."""
    ev = load_table(spark, sf_dir, "events")
    fresh = filter_after(ev, "ts", _WM)
    return fresh.agg(
        F.count("*").alias("n_new"),
        # events.ts is physically timestamp[us] with no TZ → TIMESTAMP_NTZ;
        # unix_micros requires TIMESTAMP. The session TZ is pinned UTC
        # (registry._pinned) so the cast is value-preserving.
        F.unix_micros(F.max("ts").cast("timestamp")).alias("new_wm_epoch_us"),
    )


def inc_upsert_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: incremental dimension upsert — types seen before the
    watermark keep their SKs; genuinely-new post-watermark keys get
    appended SKs (anti-join + offset row_number). Memoized per
    (session, sf_dir) in the ``incremental`` family, whose entry owns
    both ranks' checkpoints."""

    def build(pins: list[DataFrame]) -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        existing = (
            filter_upto(ev, "ts", _WM)
            .select(norm_upper("event_type").alias("event_type_name"))
            .filter(F.col("event_type_name").isNotNull())
            .distinct()
        )
        existing_dim = ranked_ids(
            existing, ["event_type_name"], "event_type_sk", pins
        ).select("event_type_sk", "event_type_name")
        incoming = filter_after(ev, "ts", _WM).select(
            norm_upper("event_type").alias("event_type_name")
        )
        return upsert_dim(
            incoming, existing_dim, ["event_type_name"], "event_type_sk", pins
        )

    return cachereg.memo(spark, sf_dir, "incremental", "upsert_dim", build)


def inc_scd1_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-1 keyed merge: the pre-watermark per-user profile
    (last event type) updated by the post-watermark batch — matched
    keys take the new value, unmatched keep the old, new keys insert.
    Merged result ≡ "last event type overall", which is the oracle."""

    def last_type(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        return (
            df.select(
                "user_id", "event_type", F.row_number().over(w).alias("rn")
            )
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("event_type").alias("last_event_type"))
        )

    ev = load_table(spark, sf_dir, "events")
    existing = last_type(filter_upto(ev, "ts", _WM))
    updates = last_type(filter_after(ev, "ts", _WM))
    return merge_scd1(existing, updates, ["user_id"])


def inc_scd2_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history: each customer's order-status change-log
    collapsed into validity intervals (valid_from / valid_to /
    is_current) — the history-preserving upgrade of the reference's
    overwrite-only dims. See operators/incremental.py::scd2_history."""
    orders = load_table(spark, sf_dir, "orders")
    return scd2_history(
        orders,
        key="o_custkey",
        attr="o_orderstatus",
        order_cols=["o_orderdate", "o_orderkey"],
    )


def fn_map_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: per-user event profile built as a real map
    column (map_from_entries over collected (type, count) structs —
    the engine-native form of the reference's VARIANT-ish
    ``job_highlights`` object, SURVEY.md §1.2), then consumed with
    map_keys / element_at. Output flattens to arrays + scalars so the
    cross-engine hash stays exact; the map itself lives in the plan."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    profile = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("profile")
    )
    return profile.select(
        "user_id",
        # pipe-flatten: the driver's value-hasher can't hash raw array
        # cells (same trick as fn_parse_string_array above).
        F.array_join(F.array_sort(F.map_keys("profile")), "|").alias("types_seen"),
        F.element_at("profile", "click").alias("n_click"),
        F.element_at("profile", "view").alias("n_view"),
        F.size("profile").cast("int").alias("n_types"),
    )


def fn_json_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 faithful + corrected parse modes (SURVEY.md §7.3).

    The reference parses its object-shaped ``job_highlights`` with an
    ARRAY schema (``dags/spark_etl_script.py:126``) — PERMISSIVE mode
    nulls every well-formed record. Faithful mode reproduces exactly
    that (array-parse of the object-shaped ``props`` ⇒ always null);
    corrected mode uses the right struct schema and extracts values."""
    ev = load_table(spark, sf_dir, "events")
    arr = F.from_json("props", "array<string>")
    st = F.from_json("props", "struct<k:int>")
    return ev.agg(
        F.count("*").alias("n_rows"),
        F.sum(arr.isNull().cast("int")).alias("n_null_array_parse"),
        F.sum(st["k"].isNotNull().cast("int")).alias("n_struct_parsed"),
        F.sum(st["k"]).alias("sum_k"),
    )


def fn_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: to_json / from_json array round-trip is the identity."""
    part = load_table(spark, sf_dir, "part")
    js = F.to_json(F.array("p_brand", "p_type"))
    back = F.from_json(js, "array<string>")
    return part.select(
        "p_partkey",
        F.size(back).cast("int").alias("n_items"),
        F.element_at(back, 1).alias("first_item"),
        F.element_at(back, 2).alias("second_item"),
    )


def inc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two table snapshots: full-outer
    join on the primary key, rows classified insert / delete / update
    by key presence and an md5 row fingerprint (the wide-row CDC
    convention — one portable hash comparison instead of N column
    comparisons). Snapshots are derived deterministically from orders:
    the "old" snapshot lacks every 10th key, the "new" lacks every 7th
    and bumps every 5th key's price — so all three change classes are
    non-empty at every SF.

    Scale shape: one key-equi full-outer shuffle join on the PK;
    fingerprints are narrow maps computed before the join, so the
    compare moves one 32-char column per side, not the row."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("price_cents"),
    )
    k = F.col("o_orderkey")

    def fingerprint(df):
        return df.select(
            "o_orderkey",
            F.md5(
                F.concat_ws(
                    "\x1f", "o_orderstatus", F.col("price_cents").cast("string")
                )
            ).alias("fp"),
        )

    old = fingerprint(orders.filter(k % 10 != 0))
    new = fingerprint(
        orders.filter(k % 7 != 0).select(
            "o_orderkey",
            "o_orderstatus",
            F.when(k % 5 == 0, F.col("price_cents") + 100)
            .otherwise(F.col("price_cents"))
            .alias("price_cents"),
        )
    )
    o, n = old.alias("o"), new.alias("n")
    j = o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer")
    change = (
        F.when(F.col("o.o_orderkey").isNull(), F.lit("insert"))
        .when(F.col("n.o_orderkey").isNull(), F.lit("delete"))
        .when(F.col("o.fp") != F.col("n.fp"), F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey")).alias(
                "o_orderkey"
            ),
            change.alias("change_type"),
        )
        .filter(F.col("change_type") != "unchanged")
        .orderBy("o_orderkey")
    )


def inc_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium/binlog-style CDC changelog applied onto a base
    snapshot (operators.incremental.apply_cdc): per key only the
    LATEST change decides — upsert ops replace/create the row, a
    delete op removes the key, untouched keys pass through. The
    fixture derives a multi-change-per-key feed deterministically
    from orders (op classes by o_orderkey residue; base drops every
    17th customer so inserts of genuinely-new keys are exercised),
    so all three classes are non-empty at every SF.

    Scale shape: the changelog collapses on its own key shuffle
    BEFORE touching base (1 row/key reaches the join), then one
    key-equi join — broadcast-eligible for the common small-batch
    case, so base is never shuffled in that regime."""
    from ..operators.incremental import apply_cdc

    base, changes = cdc_fixture(spark, sf_dir)
    return apply_cdc(
        base, changes, "c_custkey", ("o_orderdate", "o_orderkey")
    ).orderBy("c_custkey")


def cdc_fixture(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The deterministic (base snapshot, CDC changelog) pair behind
    ``inc_cdc_apply`` — shared with the streaming variant
    (``plans/media_stream.py::stream_cdc_apply``) so both check the
    identical oracle."""

    def cents(c: str):
        return (F.col(c).cast("decimal(12,2)") * 100).cast("bigint")

    base = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 17 != 0)
        .select("c_custkey", "c_name", cents("c_acctbal").alias("balance_cents"))
    )
    changes = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        "o_orderdate",
        "o_orderkey",
        F.when(F.col("o_orderkey") % 10 == 0, "D")
        .when(F.col("o_orderkey") % 3 == 0, "I")
        .otherwise("U")
        .alias("op"),
        F.concat(F.lit("CDC#"), F.col("o_orderkey").cast("string")).alias("c_name"),
        cents("o_totalprice").alias("balance_cents"),
    )
    return base, changes


def inc_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: per-key partial
    aggregate STATES (count / sum / min / max — all algebraically
    mergeable) computed separately over an existing partition and a
    newly-arrived one, then MERGED (count→sum, sum→sum, min→min,
    max→max) instead of re-aggregating the full table. The oracle
    recomputes from scratch over everything — the merge must be
    value-identical, which is exactly the algebraic property that
    lets a 100 TB rollup absorb a new partition by aggregating ONLY
    that partition and merging 1-row-per-key states. Derived metrics
    (avg) come from the merged sums, never from merging averages.

    Fixture: orders split deterministically on o_orderkey % 7 into
    "existing" and "delta" partitions; both non-empty at every SF.
    Scale shape: the delta agg touches only delta data; the merge is
    a groupBy over two state frames (state rows ≪ fact rows)."""
    orders = load_table(spark, sf_dir, "orders")

    def partial_state(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count("*").alias("n_orders"),
            F.sum((F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint"))
            .alias("sum_price_cents"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )

    existing = partial_state(orders.filter(F.col("o_orderkey") % 7 != 0))
    delta = partial_state(orders.filter(F.col("o_orderkey") % 7 == 0))
    return (
        existing.unionByName(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("sum_price_cents").alias("sum_price_cents"),
            F.min("first_order").alias("first_order"),
            F.max("last_order").alias("last_order"),
        )
        .select(
            "o_custkey",
            "n_orders",
            "sum_price_cents",
            F.expr("sum_price_cents div n_orders").alias("avg_price_cents"),
            "first_order",
            "last_order",
        )
    )


def inc_join_view_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a materialized JOIN view — the join
    twin of ``inc_agg_merge``'s aggregate-state merge. The stored view
    V = orders ⋈ customer is materialized to parquet for the base
    partition (o_orderkey % 5 != 0); when the delta partition arrives,
    maintenance joins ONLY the delta against the (broadcast) dimension
    and appends: V' = V ∪ (Δorders ⋈ customer). For an insert-only
    fact feed this is exact delta propagation — the base join never
    re-executes (the plan reads the stored view back, it does not
    re-derive it).

    The oracle recomputes the full join from scratch: the maintained
    view must be value-identical, aggregated per nation so the output
    is compact and order-free.

    100 TB posture: maintenance cost is O(|Δ|) scan + one broadcast
    join, independent of |V|; the alternative — re-joining the full
    fact — is the thing a daily 100 TB pipeline cannot afford.
    Update/delete feeds compose this with apply_cdc's anti-join
    collapse (operators/incremental.py)."""
    import os as _os

    from ..util import scratch_dir

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    base = orders.filter(F.col("o_orderkey") % 5 != 0)
    delta = orders.filter(F.col("o_orderkey") % 5 == 0)

    view_path = _os.path.join(scratch_dir(prefix="inc_mview_"), "orders_cust_view")
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "c_nationkey"]
    base.join(F.broadcast(cust), "o_custkey").select(*cols).write.mode(
        "overwrite"
    ).parquet(view_path)

    stored = spark.read.parquet(view_path)
    maintained = stored.unionByName(
        delta.join(F.broadcast(cust), "o_custkey").select(*cols)
    )
    price_e2 = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    return (
        maintained.groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(price_e2).cast("bigint").alias("revenue_e2"),
        )
        .orderBy("c_nationkey")
    )


def fn_collation_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware semantics (Spark 4 ``collate``): the same
    entity arriving with different casing — here each customer name
    deterministically duplicated as UPPER and lower variants — counts
    once under UTF8_LCASE and twice under binary collation. At 100 TB
    the collated column makes case-insensitive joins/dedup a property
    of the TYPE (hash-partitionable, codegen-compiled) instead of a
    lower() wrapped around every use site (which breaks stats and
    sargability). The oracle derives both counts from the base table."""
    cust = load_table(spark, sf_dir, "customer").select("c_name")
    variants = cust.select(F.upper("c_name").alias("v")).unionAll(
        cust.select(F.lower("c_name").alias("v"))
    )
    return variants.agg(
        F.countDistinct("v").cast("bigint").alias("n_binary_distinct"),
        F.expr("count(DISTINCT collate(v, 'UTF8_LCASE'))")
        .cast("bigint")
        .alias("n_lcase_distinct"),
    )


def fn_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest surface (Spark 4 built-in ``from_xml``): orders
    rendered to XML order records, parsed back with a declared schema,
    and rolled up — the semi-structured format trio alongside JSON
    (``fn_json_modes``/``from_json``) and VARIANT
    (``fn_variant_extract``). The oracle aggregates the SOURCE columns
    directly, so any loss in the render→parse roundtrip (type
    coercion, whitespace, element order) breaks the value hash.

    (Avro is the remaining columnar wire format; its data source
    module is not deployed in this container — format gated, like
    transformWithState's protobuf dependency.)"""
    orders = load_table(spark, sf_dir, "orders")
    price_e2 = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
    xml = F.concat(
        F.lit("<order><k>"),
        F.col("o_orderkey"),
        F.lit("</k><status>"),
        F.col("o_orderstatus"),
        F.lit("</status><price>"),
        price_e2,
        F.lit("</price></order>"),
    )
    parsed = orders.select(xml.alias("xml")).select(
        F.expr(
            "from_xml(xml, 'k BIGINT, status STRING, price BIGINT')"
        ).alias("r")
    )
    return (
        parsed.groupBy(F.col("r.status").alias("status"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("r.price").cast("bigint").alias("revenue_e2"),
        )
        .orderBy("status")
    )


def inc_topk_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k maintenance from BOUNDED per-partition states:
    the global top-10 orders by price equals the top-10 of the union of
    each partition's top-10 — the k-bounded merge property that lets a
    100 TB feed maintain a leaderboard by shipping k rows per partition
    instead of re-scanning history. (Valid for per-ROW metrics like
    max/price; a SUM-ranked top-k is NOT k-bounded-mergeable — for
    those, merge full aggregate states first (``inc_agg_merge``) and
    rank after.)

    Fixture: the same %7 existing/delta split as inc_agg_merge; both
    sides reduce to ≤10 rows before the merge, so the maintenance step
    touches 20 rows regardless of history size. Oracle = top-10 over
    everything."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("price_e2"),
    )

    def topk(df: DataFrame) -> DataFrame:
        return df.orderBy(F.desc("price_e2"), F.asc("o_orderkey")).limit(10)

    existing = topk(orders.filter(F.col("o_orderkey") % 7 != 0))
    delta = topk(orders.filter(F.col("o_orderkey") % 7 == 0))
    return topk(existing.unionByName(delta))


QUERIES = {
    "fn_collation_dedup": fn_collation_dedup,
    "fn_xml_roundtrip": fn_xml_roundtrip,
    "inc_topk_merge": inc_topk_merge,
    "inc_snapshot_diff": inc_snapshot_diff,
    "inc_cdc_apply": inc_cdc_apply,
    "inc_agg_merge": inc_agg_merge,
    "inc_join_view_maintain": inc_join_view_maintain,
    "fn_normalize_strings": fn_normalize_strings,
    "fn_parse_string_array": fn_parse_string_array,
    "fn_relative_time": fn_relative_time,
    "fn_json_extract": fn_json_extract,
    "fn_variant_extract": fn_variant_extract,
    "fn_union_by_country": fn_union_by_country,
    "fn_boolean_sum": fn_boolean_sum,
    "w_latest_per_customer": w_latest_per_customer,
    "inc_watermark_agg": inc_watermark_agg,
    "inc_upsert_dim": inc_upsert_dim,
    "inc_scd1_merge": inc_scd1_merge,
    "inc_scd2_status": inc_scd2_status,
    "fn_map_column": fn_map_column,
    "fn_json_modes": fn_json_modes,
    "fn_json_roundtrip": fn_json_roundtrip,
}

ORACLES = {
    "inc_agg_merge": """
        SELECT o_custkey,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS BIGINT) AS sum_price_cents,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS BIGINT)
                 // CAST(count(*) AS BIGINT) AS avg_price_cents,
               min(o_orderdate) AS first_order,
               max(o_orderdate) AS last_order
        FROM orders
        GROUP BY o_custkey
    """,
    "fn_collation_dedup": """
        WITH variants AS (
          SELECT upper(c_name) AS v FROM customer
          UNION ALL
          SELECT lower(c_name) AS v FROM customer
        )
        SELECT CAST((SELECT count(DISTINCT v) FROM variants) AS BIGINT)
                 AS n_binary_distinct,
               CAST(count(DISTINCT lower(c_name)) AS BIGINT) AS n_lcase_distinct
        FROM customer
    """,
    "fn_xml_roundtrip": """
        SELECT o_orderstatus AS status,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                    AS BIGINT) AS revenue_e2
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY status
    """,
    "inc_topk_merge": """
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_e2
        FROM orders
        ORDER BY price_e2 DESC, o_orderkey
        LIMIT 10
    """,
    "inc_join_view_maintain": """
        SELECT c.c_nationkey,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) AS revenue_e2
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_nationkey
        ORDER BY c.c_nationkey
    """,
    "inc_cdc_apply": """
        WITH base AS (
          SELECT c_custkey, c_name,
                 CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS balance_cents
          FROM customer WHERE c_custkey % 17 != 0
        ), changes AS (
          SELECT o_custkey AS c_custkey, o_orderdate, o_orderkey,
                 CASE WHEN o_orderkey % 10 = 0 THEN 'D'
                      WHEN o_orderkey % 3 = 0 THEN 'I'
                      ELSE 'U' END AS op,
                 'CDC#' || CAST(o_orderkey AS VARCHAR) AS c_name,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS balance_cents
          FROM orders
        ), latest AS (
          SELECT c_custkey, op, c_name, balance_cents
          FROM changes
          QUALIFY row_number() OVER (PARTITION BY c_custkey
                                     ORDER BY o_orderdate DESC,
                                              o_orderkey DESC) = 1
        )
        SELECT coalesce(b.c_custkey, c.c_custkey) AS c_custkey,
               CASE WHEN c.op IN ('I','U') THEN c.c_name
                    ELSE b.c_name END AS c_name,
               CASE WHEN c.op IN ('I','U') THEN c.balance_cents
                    ELSE b.balance_cents END AS balance_cents
        FROM base b FULL OUTER JOIN latest c ON b.c_custkey = c.c_custkey
        WHERE c.op IS NULL OR c.op IN ('I', 'U')
        ORDER BY c_custkey
    """,
    "inc_snapshot_diff": """
        WITH base AS (
          SELECT o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS price_cents
          FROM orders
        ), old AS (
          SELECT o_orderkey,
                 md5(o_orderstatus || chr(31) || CAST(price_cents AS VARCHAR))
                   AS fp
          FROM base WHERE o_orderkey % 10 != 0
        ), new AS (
          SELECT o_orderkey,
                 md5(o_orderstatus || chr(31) || CAST(
                   CASE WHEN o_orderkey % 5 = 0 THEN price_cents + 100
                        ELSE price_cents END AS VARCHAR)) AS fp
          FROM base WHERE o_orderkey % 7 != 0
        )
        SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                    WHEN n.o_orderkey IS NULL THEN 'delete'
                    WHEN o.fp != n.fp THEN 'update'
                    ELSE 'unchanged' END AS change_type
        FROM old o FULL OUTER JOIN new n USING (o_orderkey)
        WHERE CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                   WHEN n.o_orderkey IS NULL THEN 'delete'
                   WHEN o.fp != n.fp THEN 'update'
                   ELSE 'unchanged' END != 'unchanged'
        ORDER BY o_orderkey
    """,
    "fn_json_modes": """
        SELECT count(*) AS n_rows,
               CAST(sum(CASE WHEN json_type(TRY_CAST(props AS JSON)) != 'ARRAY'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_null_array_parse,
               CAST(sum(CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_struct_parsed,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
        FROM events
    """,
    "fn_json_roundtrip": """
        SELECT p_partkey, CAST(2 AS INTEGER) AS n_items,
               p_brand AS first_item, p_type AS second_item
        FROM part
    """,
    "fn_normalize_strings": f"""
        SELECT DISTINCT
          trim(upper(p_brand)) AS brand_u,
          trim({_initcap('p_type')}) AS type_ic,
          trim(p_name) AS name_t
        FROM part
    """,
    "fn_parse_string_array": """
        WITH ser AS (
          SELECT p_partkey,
                 '[''' || p_brand || ''', ''' || p_type || ''']' AS s
          FROM part
        ), parsed AS (
          SELECT p_partkey,
                 string_split(replace(replace(replace(replace(s, '[', ''), ']', ''),
                                              '''', ''), '"', ''), ', ') AS arr
          FROM ser
        )
        SELECT p_partkey, CAST(len(arr) AS INTEGER) AS n_items,
               array_to_string(arr, '|') AS items_joined
        FROM parsed
    """,
    "fn_relative_time": f"""
        WITH rel AS (
          SELECT event_id,
            CASE event_id % 5
              WHEN 0 THEN CAST(event_id % 23 + 1 AS VARCHAR) || ' hours ago'
              WHEN 1 THEN CAST(event_id % 6 + 1 AS VARCHAR) || ' days ago'
              WHEN 2 THEN 'yesterday'
              WHEN 3 THEN CAST(event_id % 3 + 2 AS VARCHAR) || ' weeks ago'
              ELSE 'just now'
            END AS rel_str
          FROM events
        )
        SELECT event_id, rel_str,
          CAST(epoch_us(
            CASE
              WHEN regexp_matches(rel_str, '^\\d+ hours? ago$')
                THEN TIMESTAMP '{_NOW}' - CAST(regexp_extract(rel_str, '(\\d+)', 1) AS BIGINT) * INTERVAL 1 HOUR
              WHEN regexp_matches(rel_str, '^\\d+ days? ago$')
                THEN TIMESTAMP '{_NOW}' - CAST(regexp_extract(rel_str, '(\\d+)', 1) AS BIGINT) * INTERVAL 1 DAY
              WHEN rel_str = 'yesterday' THEN TIMESTAMP '{_NOW}' - INTERVAL 1 DAY
              ELSE NULL
            END) AS BIGINT) AS parsed_epoch_us
        FROM rel
    """,
    "fn_json_extract": """
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
               CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
        FROM events GROUP BY event_type
    """,
    "fn_variant_extract": """
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
               count(json_extract_string(props, '$.missing')) AS n_missing_nonnull
        FROM events GROUP BY event_type
    """,
    "fn_union_by_country": """
        SELECT src_country, count(*) AS n FROM (
          SELECT o_orderkey, 'US' AS src_country FROM orders WHERE o_orderstatus = 'O'
          UNION ALL
          SELECT o_orderkey, 'IN' AS src_country FROM orders WHERE o_orderstatus = 'F'
        ) GROUP BY src_country
    """,
    "fn_boolean_sum": f"""
        {STAR_PREFIX}
        SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_with_keywords
        FROM doc_keywords
    """,
    "w_latest_per_customer": """
        SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date
        FROM (
          SELECT o_custkey, o_orderkey, o_orderdate,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders
        ) WHERE rn = 1
    """,
    "inc_watermark_agg": f"""
        SELECT count(*) AS n_new,
               CAST(epoch_us(max(ts)) AS BIGINT) AS new_wm_epoch_us
        FROM events WHERE ts > TIMESTAMP '{_WM}'
    """,
    "inc_upsert_dim": f"""
        WITH existing AS (
          SELECT CAST(row_number() OVER (ORDER BY event_type_name) AS INTEGER) AS event_type_sk,
                 event_type_name
          FROM (SELECT DISTINCT trim(upper(event_type)) AS event_type_name
                FROM events WHERE ts <= TIMESTAMP '{_WM}')
          WHERE event_type_name IS NOT NULL
        ), incoming AS (
          SELECT DISTINCT trim(upper(event_type)) AS event_type_name
          FROM events WHERE ts > TIMESTAMP '{_WM}'
        ), fresh AS (
          SELECT i.event_type_name FROM incoming i
          WHERE NOT EXISTS (SELECT 1 FROM existing e
                            WHERE e.event_type_name = i.event_type_name)
        ), numbered AS (
          SELECT CAST(row_number() OVER (ORDER BY event_type_name)
                      + (SELECT coalesce(max(event_type_sk), 0) FROM existing)
                 AS INTEGER) AS event_type_sk,
                 event_type_name
          FROM fresh
        )
        SELECT * FROM existing UNION ALL SELECT * FROM numbered
    """,
    "fn_map_column": """
        SELECT user_id,
               array_to_string(list_sort(list(event_type)), '|') AS types_seen,
               CAST(sum(CASE WHEN event_type = 'click' THEN n END) AS BIGINT) AS n_click,
               CAST(sum(CASE WHEN event_type = 'view' THEN n END) AS BIGINT) AS n_view,
               CAST(count(*) AS INTEGER) AS n_types
        FROM (SELECT user_id, event_type, count(*) AS n
              FROM events GROUP BY user_id, event_type)
        GROUP BY user_id
    """,
    "inc_scd1_merge": """
        SELECT user_id, event_type AS last_event_type FROM (
          SELECT user_id, event_type,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        ) WHERE rn = 1
    """,
    "inc_scd2_status": """
        WITH ordered AS (
          SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
                 lag(o_orderstatus) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ) AS prev
          FROM orders
        ), changes AS (
          SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
          FROM ordered WHERE prev IS NULL OR o_orderstatus <> prev
        )
        SELECT o_custkey, o_orderstatus,
               o_orderdate AS valid_from,
               lead(o_orderdate) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS valid_to,
               lead(o_orderdate) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) IS NULL AS is_current
        FROM changes
    """,
}
