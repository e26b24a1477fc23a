"""Extended operator surface: multi-dimensional aggregation (rollup /
cube / grouping_id), set operations, semi/anti joins, as-of join,
sessionization, approximate distinct, n-gram rollups.

These go beyond the reference's operator inventory (SURVEY.md §2.6
notes it has no grouping sets / distinct-count / approx aggregates;
§2.5 no semi/anti in live code; §2.10 no set ops) — they complete the
surface a user of a general analytics engine expects, each still
DuckDB-oracle-checked where exactly reproducible.

Scale notes: rollup/cube are one shuffle with partial aggregation of
all grouping sets; the as-of join is the union-window formulation (one
shuffle on user_id — never an exploding range join); sessionization is
two window passes over the same partitioning (single exchange)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import cachereg
from ..catalog import load_table, load_table_dist
from ..functions.normalize import norm_initcap
from ..functions.packed import packed_pair, unpacked
from ..functions.text import tokens_sql, word_shingles
from .star import STAR_PREFIX, star_wide

_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min


def agg_rollup_year_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(year, month) posting counts with grouping_id — subtotals
    and grand total in one pass."""
    return (
        star_wide(spark, sf_dir)
        .rollup("year_number", "month_number")
        .agg(F.grouping_id().cast("int").alias("gid"), F.count("*").alias("postings"))
    )


def agg_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, normalized priority) — all 4 grouping sets."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.col("o_orderstatus").alias("status"),
            norm_initcap("o_orderpriority").alias("priority"),
        )
        .cube("status", "priority")
        .agg(F.grouping_id().cast("int").alias("gid"), F.count("*").alias("n"))
    )


def set_except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers ordering in 1995 but not in 1996 (EXCEPT)."""
    orders = load_table(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    return y95.exceptAll(y96)


def set_intersect_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers ordering in both 1995 and 1996 (INTERSECT)."""
    orders = load_table(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    return y95.intersect(y96)


def j_semi_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi: customers with ≥1 order above 400k."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = orders.filter(F.col("o_totalprice") > 400_000)
    return customer.join(
        big, customer.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


def j_anti_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti: customers with no orders at all."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def op_asof_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward): for every purchase event, the same
    user's most recent view at-or-before it.

    Spark lacks a native as-of join; this is the union-window
    formulation — one shuffle on user_id, a running max over the
    ordered frame, then filter to the probe side. No range-join pair
    explosion at any scale."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # ts is TIMESTAMP_NTZ (micros-physical parquet); cast for unix_micros
    # under the pinned-UTC session (value-preserving).
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    last_view = F.max(F.when(F.col("event_type") == "view", ts_us)).over(w)
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            ts_us.alias("ts_us"),
            last_view.alias("last_view_us"),
        )
        .filter(F.col("event_type") == "purchase")
        .drop("event_type")
    )


def op_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts after a >30 min
    silence per user; emits per-event session ordinals."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(ts_us).over(w)
    new_sess = F.when(
        prev.isNull() | ((ts_us - prev) > _SESSION_GAP_US), F.lit(1)
    ).otherwise(F.lit(0))
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum(new_sess).over(cum).cast("int").alias("session_id"),
    )


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) — algorithm-specific result, so
    rows-only driver check; the pytest asserts <5% relative error vs
    exact. At 100 TB this replaces the exact distinct's full shuffle
    with mergeable sketches."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
    )


def agg_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-split exact distinct users per event type (two-phase salted
    aggregation — no hot reducer; see operators/skew.py)."""
    from ..operators.skew import salted_distinct_count

    ev = load_table(spark, sf_dir, "events")
    return salted_distinct_count(ev, "event_type", "user_id", buckets=16)


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p50/p90) per event type — both
    engines implement the same (n-1)*p linear interpolation, so
    floor-scaled outputs are bit-exact. (approx_percentile is the
    sketch-based scale path; like HLL it gets a tolerance test, not an
    oracle.)"""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.floor(F.expr("percentile(value, 0.5)") * 1e6).cast("long").alias("p50_e6"),
        F.floor(F.expr("percentile(value, 0.9)") * 1e6).cast("long").alias("p90_e6"),
    )


def agg_approx_percentile_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL-ish quantile sketch under the hash gate (the
    approx_count_distinct pattern): exact interpolated percentiles
    pinned by the oracle plus booleans asserting the
    ``approx_percentile`` sketch landed within 5% relative error. A
    drifting sketch fails the gate, not just a pytest."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.floor(F.expr("percentile(value, 0.5)") * 1e6).cast("long").alias("p50_e6"),
        F.floor(F.expr("percentile(value, 0.9)") * 1e6).cast("long").alias("p90_e6"),
        F.expr("approx_percentile(value, 0.5, 1000)").alias("ap50"),
        F.expr("approx_percentile(value, 0.9, 1000)").alias("ap90"),
        F.expr("percentile(value, 0.5)").alias("ex50"),
        F.expr("percentile(value, 0.9)").alias("ex90"),
    )
    tol = lambda ap, ex: (  # noqa: E731
        F.abs(F.col(ap) - F.col(ex)) / F.greatest(F.abs(F.col(ex)), F.lit(1.0)) < 0.05
    )
    return agg.select(
        "event_type",
        "p50_e6",
        "p90_e6",
        tol("ap50", "ex50").alias("approx_p50_ok"),
        tol("ap90", "ex90").alias("approx_p90_ok"),
    )


def ev_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel (signup → view → click → purchase): per
    user, the first timestamp of each stage; a stage counts only if it
    strictly follows the previous stage's first occurrence. One
    hash-aggregate on user_id then a scalar rollup — no self-joins, no
    windows (the conditional-min trick scales as a single shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    first = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    per_user = ev.groupBy("user_id").agg(
        first("signup").alias("t_signup"),
        first("view").alias("t_view"),
        first("click").alias("t_click"),
        first("purchase").alias("t_purchase"),
    )
    s2 = F.col("t_signup").isNotNull() & (F.col("t_view") > F.col("t_signup"))
    s3 = s2 & (F.col("t_click") > F.col("t_view"))
    s4 = s3 & (F.col("t_purchase") > F.col("t_click"))
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("t_signup").alias("n_signup"),
        F.sum(s2.cast("long")).alias("n_signup_view"),
        F.sum(s3.cast("long")).alias("n_signup_view_click"),
        F.sum(s4.cast("long")).alias("n_full_funnel"),
    )


def agg_filtered_bools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregate surface: count_if / bool_and / bool_or /
    min-as-deterministic-any per order status — the FILTER(WHERE ...)
    idiom family. One grouped pass, no second scan for the
    conditions."""
    orders = load_table(spark, sf_dir, "orders")
    big = F.col("o_totalprice") > 100_000
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count_if(big).alias("n_big"),
            F.bool_and(big).alias("all_big"),
            F.bool_or(big).alias("any_big"),
            F.min("o_orderpriority").alias("first_priority"),
        )
        .orderBy("o_orderstatus")
    )


_ER_MAX_LEV = 2


def er_name_blocking_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution record linkage with BLOCKING: a second
    'source' of customer names carries deterministic typos (every 3rd
    key: trailing char replaced; every 3rd+1: trailing char doubled);
    candidate (clean, dirty) pairs form only inside a block keyed on
    four STABLE digit positions of the name (untouched by the typo
    model), then Levenshtein ≤ 2 confirms the link. Blocking is what
    keeps fuzzy matching sub-quadratic at 100 TB — candidates per
    record stay O(block size) regardless of corpus size — at the
    standard recall trade (a typo inside the blocking key would be
    missed). Both engines implement classic Levenshtein, so the
    distance is oracle-exact.

    NOT a default-pipeline operator: on duplicate-heavy keys the pair
    OUTPUT this query semantically demands grows quadratically inside
    a block (77x per data decade measured at sf1). Production
    pipelines should call ``er_blocking_refined`` — the skew-capped
    twin (oversized blocks sub-split on an extra stable digit) with
    identical link semantics and ~7x the throughput at sf1."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.lower(F.trim("c_name")).alias("name")
    )
    k = F.col("c_custkey")
    dirty = (
        F.when(k % 3 == 0, F.concat(F.expr("substring(name, 1, length(name) - 1)"), F.lit("x")))
        .when(k % 3 == 1, F.concat(F.col("name"), F.expr("substring(name, length(name), 1)")))
        .otherwise(F.col("name"))
    )
    blk = F.substring("name", 14, 4)  # digits 5-8 of the 9-digit id: typo-stable
    a = cust.select(
        F.col("c_custkey").alias("id_a"), F.col("name").alias("name_a"), blk.alias("blk")
    )
    b = cust.select(
        F.col("c_custkey").alias("id_b"), dirty.alias("name_b"), blk.alias("blk")
    )
    return (
        a.join(b, "blk")
        .select("id_a", "id_b", F.levenshtein("name_a", "name_b").alias("lev"))
        .filter(F.col("lev") <= _ER_MAX_LEV)
    )


_ER_BLOCK_CAP = 16  # refine any block wider than this


def er_blocking_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER blocking with OVERSIZED-BLOCK REFINEMENT TO THE FULL STABLE
    PREFIX — the production answer to the quadratic blowup the plain
    block join shows on duplicate-heavy data (er_name_blocking_pairs
    ran 80x slower on 10x data, sf0.1 → sf1, because every name block
    widened 10x and pair count is quadratic in block width).

    Mechanism: measure block widths on the clean side in one tiny
    aggregate (broadcast back); a block wider than _ER_BLOCK_CAP (16)
    joins on ALL EIGHT typo-stable name digits (the typo model only
    ever touches the LAST character, so positions 10-17 of the
    lowercased name are stable by construction) PLUS a stable record
    ATTRIBUTE (nationkey) — the multi-attribute blocking real linkage
    pipelines use. The full prefix splits last-digit neighborhoods
    where digits carry entropy; the attribute splits records whose
    names collide entirely (distinct customers with equal stable
    digits). What remains co-blocked is records agreeing on every
    stable name digit AND the attribute — on duplicate-heavy data
    that is the verbatim-copy multiplicity itself, i.e. pairs that
    genuinely ARE lev≤2 matches: the refined pair count tracks the
    OUTPUT, the best any blocking can do without dropping true links.

    Two narrower keys fail. Base block + nationkey alone re-enters the
    quadratic regime once block width outgrows the 25-way nation split
    (sf10 exponent 1.21). Lengthening the digit key by one per decade
    of width assumes every digit splits ~10 ways, which is false when
    the next digit carries no entropy (the 10^5 digit at sf1 key
    ranges: 14 s → 97 s on ~100-wide sub-blocks), and NO name-derived
    key can separate verbatim copies. Prefix + attribute subsumes
    both: digits and the attribute each split where they have signal,
    and the residual is output-driven.

    True links keep 100% recall BY CONSTRUCTION: a customer's clean
    and dirty rows agree on all stable digits, on nationkey, AND on
    the measured width of their shared base block, so they always
    land in the same refined block; refinement can only drop
    coincidental cross-customer pairs inside oversized blocks — the
    standard, documented skew trade (the oracle mirrors the rule and
    tests/test_extended.py::test_er_refined_invariants pins recall
    and pair-subset against the unrefined query). Everything stays
    one tiny broadcast aggregate + one equi-join — no new shuffle.
    """
    a, b = _er_refined_sides(spark, sf_dir)
    return (
        a.join(b, "rk")
        .select("id_a", "id_b", F.levenshtein("name_a", "name_b").alias("lev"))
        .filter(F.col("lev") <= _ER_MAX_LEV)
    )


def _er_refined_sides(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(clean, dirty) sides keyed by the refined block — shared by the
    all-pairs query and the best-match reduction."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.lower(F.trim("c_name")).alias("name"),
        F.col("c_nationkey").cast("long").alias("nat"),
    )
    k = F.col("c_custkey")
    dirty = (
        F.when(k % 3 == 0, F.concat(F.expr("substring(name, 1, length(name) - 1)"), F.lit("x")))
        .when(k % 3 == 1, F.concat(F.col("name"), F.expr("substring(name, length(name), 1)")))
        .otherwise(F.col("name"))
    )
    blk = F.substring("name", 14, 4)
    sizes = (
        cust.select(blk.alias("blk"))
        .groupBy("blk")
        .agg(F.count("*").alias("__n"))
    )
    # width ≤ cap → the 4-digit base block; wider → the full 8-digit
    # stable prefix (positions 10-17) + the nationkey attribute.
    n = F.col("__n")
    rk = F.when(n <= _ER_BLOCK_CAP, F.expr("substring(name, 14, 4)")).otherwise(
        F.concat(
            F.expr("substring(name, 10, 8)"),
            F.lit("|"),
            F.col("nat").cast("string"),
        )
    )
    a = (
        cust.select("c_custkey", "name", "nat", blk.alias("blk"))
        .join(F.broadcast(sizes), "blk")
        .select(
            F.col("c_custkey").alias("id_a"),
            F.col("name").alias("name_a"),
            F.col("nat").alias("nat_a"),
            rk.alias("rk"),
        )
    )
    b = (
        cust.select("c_custkey", dirty.alias("name"), "nat", blk.alias("blk"))
        .join(F.broadcast(sizes), "blk")
        .select(F.col("c_custkey").alias("id_b"), F.col("name").alias("name_b"), rk.alias("rk"))
    )
    return a, b


def er_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BOUNDED-OUTPUT production default for the ER family: per
    DIRTY record, its single best clean link — lowest Levenshtein
    within the refined block, ties → lowest clean id — the (record →
    canonical match) shape real linkage pipelines emit. Output is ≤ 1
    row per dirty record, so it is O(N) BY CONSTRUCTION no matter how
    duplicate-heavy the blocks get.

    Candidate stage — linear even on verbatim-duplicate corpora: under
    the (lev, id_a) lexicographic order, identical clean NAMES are
    interchangeable except for the id tie-break, and the id tie-break
    always resolves to the smallest id among them. So the clean side
    collapses to DISTINCT (rk, name) with min(id) BEFORE the join —
    values provably identical to joining every copy (min over copies
    of (lev, id) = (lev, min id) because lev is a function of the name
    alone), while candidates drop from Θ(N · copies-per-block) to
    Θ(N · distinct-names-per-block). The all-pairs twin
    ``er_blocking_refined`` intentionally keeps per-copy pairs (its
    OUTPUT is the pairs); this query's output is per-record, so its
    candidate volume can be bounded where the pair query's cannot.
    The reduction is the (lev, id_a) minimum per dirty id
    (``_best_links``) — an associative partial aggregate (map-side
    combine), NOT a sort window, so no per-key ordering shuffle
    survives the agg.

    Dirty records with no candidate under the lev cap are dropped
    (inner semantics — the unlinked-residual report is a trivial
    anti-join the caller owns). True links keep 100% recall by the
    refined-blocking construction: the dirty record's own clean name
    survives the collapse (some copy of it, carrying an id ≤ its own),
    so on this fixture every dirty record links."""
    a, b = _er_refined_sides(spark, sf_dir)
    a_names = a.groupBy("rk", "name_a").agg(F.min("id_a").alias("id_a"))
    pairs = (
        a_names.join(b, "rk")
        .select("id_b", "id_a", F.levenshtein("name_a", "name_b").alias("lev"))
        .filter(F.col("lev") <= _ER_MAX_LEV)
    )
    return _best_links(pairs)


def _best_links(pairs: DataFrame) -> DataFrame:
    """Per ``id_b``, the (lev, id_a) lexicographic minimum of the
    (id_b, id_a, lev) candidate pairs, as a min over one packed long
    (``functions.packed``): no per-partition sort of the widest frame
    in the query. Exact while id_a ∈ [0, 2⁴⁴) — 2⁴⁴ ≈ 1.8e13, far above
    the 15B customers of a 100 TB run — and lev ∈ [0, 2¹⁹) (the cap
    keeps it ≤ 2); a pair outside raises."""
    enc = packed_pair("lev", "id_a", 44, "er_best_match")
    lev, id_a = unpacked(F.col("m"), 44)
    return (
        pairs.groupBy("id_b")
        .agg(F.min(enc).alias("m"))
        .select("id_b", id_a.alias("id_a"), lev.cast("int").alias("lev"))
    )


_ER_MISSING_NATION = 3


def er_unlinked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNLINKED-RESIDUAL report that completes the ER production
    triple (pairs → best-match → residual): dirty
    records with NO clean candidate under the lev cap. On the base
    fixture every dirty record links by construction, so the residual
    is demonstrated against the realistic failure mode instead: an
    INCOMPLETE master registry — the clean side is missing one
    nation's customers (``c_nationkey = 3``), the "entity never
    registered" case real linkage pipelines route to manual review.

    Link semantics are ``er_best_match``'s verbatim (same refined
    blocks, same collapsed clean-name candidates, same lev ≤ 2 cap);
    the residual is one ``left_anti`` on the dirty id — O(N) output,
    no new shuffle shape. Block widths are measured on the FULL clean
    side (the width statistic predates the registry gap), so a dirty
    record's rk is unchanged and the report isolates exactly the
    registry's coverage hole: nation-3 records in attribute-keyed
    oversized blocks are unlinked by construction, while small-block
    records may still cross-link to a lev ≤ 2 neighbor — both
    behaviors are the semantics, not noise."""
    a, b = _er_refined_sides(spark, sf_dir)
    registry = a.filter(F.col("nat_a") != _ER_MISSING_NATION)
    reg_names = registry.groupBy("rk", "name_a").agg(F.min("id_a").alias("id_a"))
    linked_ids = (
        reg_names.join(b, "rk")
        .filter(F.levenshtein("name_a", "name_b") <= _ER_MAX_LEV)
        .select("id_b")
    )
    return b.select("id_b", "name_b").join(linked_ids, "id_b", "left_anti")


def agg_listagg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG / string_agg surface with a deterministic order:
    comma-joined sorted nation names per region. collect_list's
    arrival order is partition-dependent, so the sort inside the
    aggregate is what makes string aggregation reproducible — the
    same discipline every distinct-order-sensitive aggregate needs at
    scale."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    j = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return (
        j.groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
            F.count("*").alias("n_nations"),
        )
        .orderBy("r_name")
    )


def agg_exact_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed statistical moments in EXACT integer math: per
    order status, n / Σx / Σy / Σx² / Σy² / Σxy over e2-scaled price
    and e0 quantity-proxy columns — the single-pass mergeable form
    from which mean, variance, covariance, and correlation all derive
    driver-side. The float corr()/covar_samp() aggregates are
    aggregation-order dependent (can't hash-gate); the moments are
    not, and at 100 TB this is how you compute them anyway: one pass,
    partials merge associatively.

    Domain bound: sum(x*x) with e2-scaled prices reaches ~4e18 at
    sf0.01 and OVERFLOWS int64 at sf1 (an sf1 sweep caught it). The
    second-order sums therefore accumulate in DECIMAL(38,0) (DuckDB:
    HUGEINT) and are emitted as exact decimal DIGIT STRINGS —
    bit-identical across engines, hash-gate-stable (no DECIMAL output
    column), and exact to 10^38, i.e. far past any reachable scale
    factor. First-order sums stay BIGINT (headroom to ~sf10000)."""
    orders = load_table(spark, sf_dir, "orders")
    x = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
    y = F.col("o_custkey").cast("bigint")
    xd = x.cast("decimal(19,0)")
    yd = y.cast("decimal(19,0)")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(x).alias("sum_x"),
            F.sum(y).alias("sum_y"),
            F.sum(xd * xd).cast("string").alias("sum_x2"),
            F.sum(yd * yd).cast("string").alias("sum_y2"),
            F.sum(xd * yd).cast("string").alias("sum_xy"),
        )
        .orderBy("o_orderstatus")
    )


_HIST_BIN = 50_000  # price histogram bin width


def agg_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (integer bucket = price
    div bin-width) — the distribution profile a warehouse computes
    before choosing partition bounds / salting thresholds. One grouped
    pass on the bucket key; bucket count is bounded by the value
    domain, not the row count."""
    orders = load_table(spark, sf_dir, "orders")
    # integer div end to end (float / then truncate could mis-bucket a
    # boundary value)
    bucket = F.expr(
        f"cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint)"
        f" div {_HIST_BIN * 100}"
    )
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n_orders"))
        .select(
            "bucket",
            (F.col("bucket") * _HIST_BIN).alias("bin_low"),
            "n_orders",
        )
        .orderBy("bucket")
    )


def ev_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-cohort retention matrix: users grouped by first-active
    month; n_active counts how many are active again k months later —
    the standard warehouse retention triangle. Shape: one distinct on
    (user, month) — events collapse ~30× before any join — a per-user
    min, then a broadcast-back join and one grouped count. The month
    offset is integer year/month arithmetic (no months_between
    float)."""
    ev = load_table(spark, sf_dir, "events")
    months = ev.select(
        "user_id", F.to_date(F.date_trunc("month", F.col("ts"))).alias("m")
    ).distinct()
    cohorts = months.groupBy("user_id").agg(F.min("m").alias("cohort_month"))
    j = months.join(cohorts, "user_id")
    offset = (
        (F.year("m") - F.year("cohort_month")) * 12
        + (F.month("m") - F.month("cohort_month"))
    ).cast("int")
    return (
        j.groupBy("cohort_month", offset.alias("month_offset"))
        .agg(F.count("*").alias("n_active"))
        .orderBy("cohort_month", "month_offset")
    )


_PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")


def agg_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): per-user event counts, one column per
    event type. The value list is DECLARED — an undeclared pivot runs
    an extra distinct job to discover values and breaks schema
    stability at scale. Missing cells are null (Spark pivot-count
    semantics; the oracle mirrors with sum(CASE...) which nulls on
    empty, not count(CASE...) which would give 0)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", list(_PIVOT_TYPES))
        .count()
    )


def agg_unpivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide → long), the inverse of ``agg_pivot_events``:
    melting the pivoted matrix and dropping the null cells recovers
    exactly the long-form per-(user, type) counts — round-trip proven
    under the hash gate."""
    wide = agg_pivot_events(spark, sf_dir)
    return (
        wide.unpivot(
            "user_id", list(_PIVOT_TYPES), "event_type", "n_events"
        )
        .filter(F.col("n_events").isNotNull())
    )


def jl_star_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference-shaped job-listings pipeline end to end (rows-only
    check: its landing is synthesized in-engine, outside the oracle's
    parquet views — full assertions live in tests/test_joblistings.py).
    Memoized in the ``jl_star`` family, which owns the build's pins."""
    from .joblistings import build_star_schema, synth_job_listings

    def build(pins: list[DataFrame]) -> DataFrame:
        landing = synth_job_listings(spark, 200)
        now = F.lit("2025-07-01 00:00:00").cast("timestamp")
        return build_star_schema(landing, pins, now=now)["FACT_JOB_POSTINGS"]

    return cachereg.memo(spark, sf_dir, "jl_star", "synth_fact", build)


def dim_company_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalable surrogate-key path, oracle-checked: row_number
    within md5-hash buckets plus per-bucket offsets — dense unique ids
    with no single-partition window (SURVEY.md §7.3 mitigation)."""
    from ..functions.normalize import norm_upper
    from ..operators.dims import build_dim
    from .star import landing

    return build_dim(
        landing(spark, sf_dir),
        [norm_upper("c_name").alias("employer_name")],
        "company_sk",
        n_buckets=16,
    )


def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word bigrams across the corpus (tie-broken on the bigram
    so the selected set is engine-independent)."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    grams = docs.select(F.explode(word_shingles("text", 2)).alias("bigram"))
    return (
        grams.groupBy("bigram")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("bigram"))
        .limit(20)
    )


def fn_explode_outer_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-preserving explode (explode_outer): documents with an
    empty extracted-keyword set keep one row with NULL keyword — the
    left-lateral form E1 loses (its inner explode drops keyword-less
    parents entirely). Pure narrow map, no shuffle."""
    from ..functions.keywords import extract_keywords

    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    return docs.select(
        "doc_id", F.explode_outer(extract_keywords("text")).alias("keyword")
    )


def agg_argmax_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group mode (argmax-by-count): each user's most
    frequent event type, ties broken lexicographically. One count
    shuffle on (user, type), then a window on user — the second pass
    repartitions on a prefix of the first's keys, so AQE can satisfy
    it from the existing partitioning."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_event_type"), "n")
    )


QUERIES = {
    "agg_rollup_year_month": agg_rollup_year_month,
    "fn_explode_outer_keywords": fn_explode_outer_keywords,
    "agg_argmax_event": agg_argmax_event,
    "agg_cube_status_priority": agg_cube_status_priority,
    "set_except_customers": set_except_customers,
    "set_intersect_customers": set_intersect_customers,
    "j_semi_big_spenders": j_semi_big_spenders,
    "j_anti_no_orders": j_anti_no_orders,
    "op_asof_last_view": op_asof_last_view,
    "op_sessionize": op_sessionize,
    "agg_approx_distinct": agg_approx_distinct,
    "agg_salted_distinct": agg_salted_distinct,
    "agg_percentiles": agg_percentiles,
    "agg_approx_percentile_checked": agg_approx_percentile_checked,
    "ev_funnel": ev_funnel,
    "ev_cohort_retention": ev_cohort_retention,
    "agg_filtered_bools": agg_filtered_bools,
    "agg_listagg_nations": agg_listagg_nations,
    "agg_exact_moments": agg_exact_moments,
    "agg_price_histogram": agg_price_histogram,
    "er_name_blocking_pairs": er_name_blocking_pairs,
    "er_blocking_refined": er_blocking_refined,
    "er_best_match": er_best_match,
    "er_unlinked": er_unlinked,
    "agg_pivot_events": agg_pivot_events,
    "agg_unpivot_events": agg_unpivot_events,
    "dim_company_bucketed": dim_company_bucketed,
    "jl_star_fact": jl_star_fact,
    "text_top_bigrams": text_top_bigrams,
}

_INITCAP_PRIO = (
    "array_to_string(list_transform(string_split(o_orderpriority, ' '), "
    "w -> upper(w[1]) || lower(w[2:])), ' ')"
)

_BIGRAMS = f"""
CASE WHEN len({tokens_sql('lower(text)')}) >= 2
     THEN list_distinct(list_transform(
            range(1, len({tokens_sql('lower(text)')}) - 2 + 2),
            i -> array_to_string({tokens_sql('lower(text)')}[i:i+1], ' ')))
     ELSE [] END
"""

from ..functions.keywords import DEFAULT_KEYWORDS as _KWS

_KW_VALUES_SQL = ", ".join(f"('{k.lower()}')" for k in sorted({k.lower() for k in _KWS}))

ORACLES = {
    "fn_explode_outer_keywords": f"""
        SELECT d.doc_id, t.kw AS keyword
        FROM documents d
        LEFT JOIN (VALUES {_KW_VALUES_SQL}) t(kw)
          ON contains(lower(d.text), t.kw)
    """,
    "agg_argmax_event": """
        SELECT user_id, event_type AS mode_event_type, n FROM (
          SELECT user_id, event_type, count(*) AS n,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY count(*) DESC, event_type) AS rn
          FROM events GROUP BY user_id, event_type
        ) WHERE rn = 1
    """,
    "agg_rollup_year_month": (
        f"{STAR_PREFIX} SELECT year_number, month_number,"
        " CAST(GROUPING(year_number, month_number) AS INTEGER) AS gid,"
        " count(*) AS postings FROM star_wide"
        " GROUP BY ROLLUP(year_number, month_number)"
    ),
    "agg_cube_status_priority": f"""
        SELECT status, priority, CAST(GROUPING(status, priority) AS INTEGER) AS gid,
               count(*) AS n
        FROM (SELECT o_orderstatus AS status, trim({_INITCAP_PRIO}) AS priority FROM orders)
        GROUP BY CUBE(status, priority)
    """,
    "set_except_customers": """
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        EXCEPT
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
    "set_intersect_customers": """
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        INTERSECT
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
    "j_semi_big_spenders": """
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
    "j_anti_no_orders": """
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "op_asof_last_view": """
        SELECT event_id, user_id, ts_us, last_view_us FROM (
          SELECT event_id, user_id, event_type,
                 epoch_us(ts) AS ts_us,
                 max(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS last_view_us
          FROM events
        ) WHERE event_type = 'purchase'
    """,
    "op_sessionize": f"""
        SELECT user_id, event_id,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_id
        FROM (
          SELECT user_id, event_id, ts,
                 CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                           > {_SESSION_GAP_US}
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
        )
    """,
    # agg_approx_distinct: intentionally no oracle (HLL++-specific values).
    "agg_salted_distinct": """
        SELECT event_type, count(DISTINCT user_id) AS n_distinct
        FROM events GROUP BY event_type
    """,
    "agg_percentiles": """
        SELECT event_type,
               CAST(floor(quantile_cont(value, 0.5) * 1000000) AS BIGINT) AS p50_e6,
               CAST(floor(quantile_cont(value, 0.9) * 1000000) AS BIGINT) AS p90_e6
        FROM events GROUP BY event_type
    """,
    "agg_approx_percentile_checked": """
        SELECT event_type,
               CAST(floor(quantile_cont(value, 0.5) * 1000000) AS BIGINT) AS p50_e6,
               CAST(floor(quantile_cont(value, 0.9) * 1000000) AS BIGINT) AS p90_e6,
               TRUE AS approx_p50_ok,
               TRUE AS approx_p90_ok
        FROM events GROUP BY event_type
    """,
    "agg_pivot_events": """
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
               CAST(sum(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
        FROM events GROUP BY user_id
    """,
    "agg_unpivot_events": """
        SELECT user_id, event_type, count(*) AS n_events
        FROM events GROUP BY user_id, event_type
    """,
    "agg_filtered_bools": """
        SELECT o_orderstatus,
               count(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
               bool_and(o_totalprice > 100000) AS all_big,
               bool_or(o_totalprice > 100000) AS any_big,
               min(o_orderpriority) AS first_priority
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "agg_listagg_nations": """
        SELECT r.r_name,
               array_to_string(list_sort(list(n.n_name)), ',') AS nations,
               count(*) AS n_nations
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name ORDER BY r.r_name
    """,
    "agg_exact_moments": """
        SELECT o_orderstatus, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
               CAST(sum(CAST(x AS HUGEINT) * x) AS VARCHAR) AS sum_x2,
               CAST(sum(CAST(y AS HUGEINT) * y) AS VARCHAR) AS sum_y2,
               CAST(sum(CAST(x AS HUGEINT) * y) AS VARCHAR) AS sum_xy
        FROM (
          SELECT o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS x,
                 CAST(o_custkey AS BIGINT) AS y
          FROM orders
        )
        GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "agg_price_histogram": """
        SELECT bucket, bucket * 50000 AS bin_low, count(*) AS n_orders
        FROM (
          SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   // 5000000 AS bucket
          FROM orders
        )
        GROUP BY bucket ORDER BY bucket
    """,
    "er_blocking_refined": """
        WITH c AS (
          SELECT c_custkey, c_nationkey, lower(trim(c_name)) AS name,
                 substr(lower(trim(c_name)), 14, 4) AS blk
          FROM customer
        ), d AS (
          SELECT c_custkey, c_nationkey, blk,
                 CASE WHEN c_custkey % 3 = 0
                        THEN substr(name, 1, length(name) - 1) || 'x'
                      WHEN c_custkey % 3 = 1
                        THEN name || substr(name, length(name), 1)
                      ELSE name END AS name
          FROM c
        ), sz AS (
          SELECT blk, count(*) AS n FROM c GROUP BY blk
        ), ca AS (
          SELECT c.c_custkey, c.name,
                 CASE WHEN s.n <= 16 THEN substr(c.name, 14, 4)
                      ELSE substr(c.name, 10, 8) || '|' ||
                           CAST(c.c_nationkey AS VARCHAR)
                 END AS rk
          FROM c JOIN sz s USING (blk)
        ), db AS (
          SELECT d.c_custkey, d.name,
                 CASE WHEN s.n <= 16 THEN substr(d.name, 14, 4)
                      ELSE substr(d.name, 10, 8) || '|' ||
                           CAST(d.c_nationkey AS VARCHAR)
                 END AS rk
          FROM d JOIN sz s USING (blk)
        )
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               CAST(levenshtein(a.name, b.name) AS INTEGER) AS lev
        FROM ca a JOIN db b USING (rk)
        WHERE levenshtein(a.name, b.name) <= 2
    """,
    "er_best_match": """
        WITH c AS (
          SELECT c_custkey, c_nationkey, lower(trim(c_name)) AS name,
                 substr(lower(trim(c_name)), 14, 4) AS blk
          FROM customer
        ), d AS (
          SELECT c_custkey, c_nationkey, blk,
                 CASE WHEN c_custkey % 3 = 0
                        THEN substr(name, 1, length(name) - 1) || 'x'
                      WHEN c_custkey % 3 = 1
                        THEN name || substr(name, length(name), 1)
                      ELSE name END AS name
          FROM c
        ), sz AS (
          SELECT blk, count(*) AS n FROM c GROUP BY blk
        ), ca AS (
          SELECT c.c_custkey, c.name,
                 CASE WHEN s.n <= 16 THEN substr(c.name, 14, 4)
                      ELSE substr(c.name, 10, 8) || '|' ||
                           CAST(c.c_nationkey AS VARCHAR)
                 END AS rk
          FROM c JOIN sz s USING (blk)
        ), db AS (
          SELECT d.c_custkey, d.name,
                 CASE WHEN s.n <= 16 THEN substr(d.name, 14, 4)
                      ELSE substr(d.name, 10, 8) || '|' ||
                           CAST(d.c_nationkey AS VARCHAR)
                 END AS rk
          FROM d JOIN sz s USING (blk)
        ), ca_names AS (
          -- identical clean names are interchangeable under the
          -- (lev, id) order except that the id tie-break picks the
          -- smallest id among them — so collapsing copies to
          -- (rk, name, min id) BEFORE the join leaves every dirty
          -- record's best match unchanged (the engine does the same;
          -- lev is a function of the name alone)
          SELECT rk, name, min(c_custkey) AS id_a
          FROM ca GROUP BY rk, name
        ), pairs AS (
          SELECT a.id_a, b.c_custkey AS id_b,
                 levenshtein(a.name, b.name) AS lev
          FROM ca_names a JOIN db b USING (rk)
          WHERE levenshtein(a.name, b.name) <= 2
        )
        SELECT id_b, id_a, CAST(lev AS INTEGER) AS lev FROM (
          SELECT id_b, id_a, lev,
                 row_number() OVER (PARTITION BY id_b
                                    ORDER BY lev, id_a) AS rn
          FROM pairs
        ) WHERE rn = 1
    """,
    "er_unlinked": """
        WITH c AS (
          SELECT c_custkey, c_nationkey, lower(trim(c_name)) AS name,
                 substr(lower(trim(c_name)), 14, 4) AS blk
          FROM customer
        ), d AS (
          SELECT c_custkey, c_nationkey, blk,
                 CASE WHEN c_custkey % 3 = 0
                        THEN substr(name, 1, length(name) - 1) || 'x'
                      WHEN c_custkey % 3 = 1
                        THEN name || substr(name, length(name), 1)
                      ELSE name END AS name
          FROM c
        ), sz AS (
          SELECT blk, count(*) AS n FROM c GROUP BY blk
        ), ca AS (
          -- block widths from the FULL clean side; the registry gap
          -- (nation 3 missing) is applied after rk assignment
          SELECT c.c_custkey, c.name,
                 CASE WHEN s.n <= 16 THEN substr(c.name, 14, 4)
                      ELSE substr(c.name, 10, 8) || '|' ||
                           CAST(c.c_nationkey AS VARCHAR)
                 END AS rk
          FROM c JOIN sz s USING (blk)
          WHERE c.c_nationkey <> 3
        ), db AS (
          SELECT d.c_custkey, d.name,
                 CASE WHEN s.n <= 16 THEN substr(d.name, 14, 4)
                      ELSE substr(d.name, 10, 8) || '|' ||
                           CAST(d.c_nationkey AS VARCHAR)
                 END AS rk
          FROM d JOIN sz s USING (blk)
        ), ca_names AS (
          SELECT rk, name, min(c_custkey) AS id_a
          FROM ca GROUP BY rk, name
        )
        SELECT b.c_custkey AS id_b, b.name AS name_b
        FROM db b
        WHERE NOT EXISTS (
          SELECT 1 FROM ca_names a
          WHERE a.rk = b.rk AND levenshtein(a.name, b.name) <= 2
        )
    """,
    "er_name_blocking_pairs": """
        WITH c AS (
          SELECT c_custkey, lower(trim(c_name)) AS name,
                 substr(lower(trim(c_name)), 14, 4) AS blk
          FROM customer
        ), d AS (
          SELECT c_custkey, blk,
                 CASE WHEN c_custkey % 3 = 0
                        THEN substr(name, 1, length(name) - 1) || 'x'
                      WHEN c_custkey % 3 = 1
                        THEN name || substr(name, length(name), 1)
                      ELSE name END AS name
          FROM c
        )
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               CAST(levenshtein(a.name, b.name) AS INTEGER) AS lev
        FROM c a JOIN d b USING (blk)
        WHERE levenshtein(a.name, b.name) <= 2
    """,
    "ev_cohort_retention": """
        WITH m AS (
          SELECT DISTINCT user_id, CAST(date_trunc('month', ts) AS DATE) AS m
          FROM events
        ), cu AS (
          SELECT user_id, min(m) AS cohort_month FROM m GROUP BY user_id
        )
        SELECT cu.cohort_month,
               CAST((year(m.m) - year(cu.cohort_month)) * 12
                    + (month(m.m) - month(cu.cohort_month)) AS INTEGER)
                 AS month_offset,
               count(*) AS n_active
        FROM m JOIN cu USING (user_id)
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "ev_funnel": """
        WITH per_user AS (
          SELECT user_id,
                 min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
                 min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                 min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                 min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
          FROM events GROUP BY user_id
        )
        SELECT count(*) AS n_users,
               count(t_signup) AS n_signup,
               CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_view,
               CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
                              AND t_click > t_view
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_view_click,
               CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
                              AND t_click > t_view AND t_purchase > t_click
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
        FROM per_user
    """,
    # jl_star_fact: rows-only (landing synthesized in-engine).
    "dim_company_bucketed": f"""
        {STAR_PREFIX},
        d AS (SELECT DISTINCT trim(upper(c_name)) AS employer_name FROM landing
              WHERE trim(upper(c_name)) IS NOT NULL),
        bk AS (SELECT employer_name,
                      CAST(concat('0x', substr(md5(employer_name), 1, 8)) AS BIGINT) % 16 AS b
               FROM d),
        r AS (SELECT employer_name, b,
                     row_number() OVER (PARTITION BY b ORDER BY employer_name) AS rn
              FROM bk),
        o AS (SELECT b, count(*) AS c FROM bk GROUP BY b),
        off AS (SELECT b, sum(c) OVER (ORDER BY b) - c AS ofs FROM o)
        SELECT CAST(r.rn + off.ofs AS INTEGER) AS company_sk, r.employer_name
        FROM r JOIN off USING (b)
    """,
    "text_top_bigrams": f"""
        SELECT bigram, count(*) AS n_docs
        FROM (SELECT unnest({_BIGRAMS}) AS bigram FROM documents)
        GROUP BY bigram
        ORDER BY n_docs DESC, bigram
        LIMIT 20
    """,
}
