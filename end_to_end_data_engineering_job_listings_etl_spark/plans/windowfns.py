"""Window-function surface beyond the reference's single global
row_number (SURVEY.md §2.8 W1): ranked top-N per group, time-range
sliding frames, quantile bucketing (ntile / percent_rank), GROUPING
SETS, higher-order array functions, and positional explode.

The reference does ranking via ORDER BY + LIMIT only (§2.9 O2) and
has no frame specs at all; these complete the window/aggregation
surface a warehouse user expects, each DuckDB-oracle-checked.

Scale notes:
- Every window here is PARTITIONED (custkey / orderpriority): one hash
  shuffle, in-partition sort — never the single-partition global
  window that W1's reference-exact mode needs.
- w_moving_sum_30d uses a RANGE frame over epoch-micros, so peers
  (same-day orders) enter the frame together — tie-order independent,
  hence deterministic without a unique sort key.
- percent_rank is computed as integer math ((rank-1)*1e6 div (n-1)):
  cross-engine float division would round differently at the 6th
  decimal; integral div cannot.
- fn_array_hof keeps the per-key array bounded (orders per customer,
  ~10-30 rows); at 100 TB the same pattern holds wherever group
  cardinality is bounded — for unbounded groups use the streaming /
  window forms instead of collect_list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.text import tokens, tokens_sql

_30D_US = 30 * 86400 * 1_000_000

def _price() -> "F.Column":
    return F.col("o_totalprice").cast("decimal(12,2)")


def w_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price — rank-based top-N per group
    (the window form of the reference's ORDER BY+LIMIT top-k, A4/O2).

    One shuffle on o_custkey; row_number over (price DESC, orderkey)
    is a total order per partition, so results are deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        _price().desc(), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            (_price() * 100).cast("bigint").alias("price_e2"),
            F.row_number().over(w).cast("int").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


def w_moving_sum_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer 30-day trailing spend: RANGE frame over event-time
    (micros), so all orders within the trailing window — including
    same-timestamp peers — aggregate together regardless of tie order."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        # o_orderdate is TIMESTAMP_NTZ; the session TZ is pinned UTC,
        # so the cast to instant is lossless and matches epoch_us.
        .orderBy(F.unix_micros(F.col("o_orderdate").cast("timestamp")))
        .rangeBetween(-_30D_US, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum((_price() * 100).cast("bigint"))
        .over(w)
        .alias("trailing_30d_spend_e2"),
    )


def w_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucketing + percent_rank per order-priority class.

    pr_e6 is exact integer math: (rank-1)*1e6 div (n-1) — both engines
    agree on integral division where float percent_rank() could differ
    in the last ulp."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        _price().asc(), F.asc("o_orderkey")
    )
    wp = Window.partitionBy("o_orderpriority")
    rank = F.row_number().over(w).cast("long")
    n = F.count("*").over(wp)
    return (
        orders.select(
            "o_orderkey",
            F.col("o_orderpriority").alias("priority"),
            F.ntile(4).over(w).cast("int").alias("quartile"),
            ((rank - 1) * 1_000_000).alias("__num"),
            n.alias("__n"),
        )
        .select(
            "o_orderkey",
            "priority",
            "quartile",
            F.expr("__num div (__n - 1)").cast("long").alias("pr_e6"),
        )
    )


_EWMA_FRAME = 8  # events per decay window


def w_ewma_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed running metric (half-life decay) per user
    — the time-series smoothing primitive (alerting baselines, session
    engagement scores) in EXACT integer arithmetic: over each row's
    trailing 8-event frame, fold acc ← acc div 2 + q (q = ⌊1e6·value⌋),
    oldest first. alpha = 1/2 makes the recurrence a truncating shift,
    so both engines' folds are bit-identical where a float EWMA's
    pow(α, k) would drift in the last ulp.

    Plan: one partitioned window collects the bounded frame, one
    higher-order ``aggregate`` folds it — per-row state is 8 longs,
    no UDF, no recursion. (An unbounded-history EWMA at scale keeps
    the same shape via the segment-merge identity; the bounded frame
    is the form dashboards actually use.)"""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EWMA_FRAME - 1), 0)
    )
    q = F.floor(F.col("value") * 1_000_000).cast("long")
    return (
        ev.select(
            "event_id",
            "user_id",
            F.collect_list(q).over(w).alias("__frame"),
        )
        .select(
            "event_id",
            "user_id",
            F.expr(
                "aggregate(slice(__frame, 2, size(__frame) - 1),"
                " element_at(__frame, 1), (acc, x) -> acc div 2 + x)"
            )
            .cast("bigint")
            .alias("ewma_e6"),
        )
        .orderBy("event_id")
    )


def w_cume_dist_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining ranked-window trio: cume_dist (as exact integer
    rank·1e6 div n — the same integral-division discipline as
    w_ntile_buckets' percent_rank), nth_value(…, 2) over the full
    frame, and frame-bounded first/last values per order-priority
    class. One PARTITIONED window spec shared by every expression —
    a single hash partition + sort, no global ordering."""
    orders = load_table(spark, sf_dir, "orders")
    price_e2 = (_price() * 100).cast("bigint")
    w = Window.partitionBy("o_orderpriority").orderBy(
        price_e2.asc(), F.asc("o_orderkey")
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wp = Window.partitionBy("o_orderpriority")
    # cume_dist = rank-of-last-peer / n; with the unique (price, key)
    # order, rank() == row_number(), so cd_e6 = rank·1e6 div n exactly
    rank = F.row_number().over(w).cast("long")
    n = F.count("*").over(wp)
    return orders.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        (rank * 1_000_000).alias("__num"),
        n.alias("__n"),
        F.nth_value(price_e2, 2).over(wf).alias("second_cheapest_e2"),
        F.first(price_e2).over(wf).alias("cheapest_e2"),
        F.last(price_e2).over(wf).alias("priciest_e2"),
    ).select(
        "o_orderkey",
        "priority",
        F.expr("__num div __n").cast("long").alias("cd_e6"),
        "second_cheapest_e2",
        "cheapest_e2",
        "priciest_e2",
    )


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((year), (status), ()) in one pass — the explicit
    grouping-set form rollup/cube can't express (disjoint sets, no
    (year,status) cell). One shuffle; each input row expands to its
    grouping-set replicas with partial aggregation below the exchange."""
    orders = load_table(spark, sf_dir, "orders")
    orders.select(
        F.year("o_orderdate").alias("yr"),
        F.col("o_orderstatus").alias("status"),
    ).createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT yr, status, CAST(grouping_id(yr, status) AS INT) AS gid,
               count(*) AS n
        FROM __gs_orders
        GROUP BY GROUPING SETS ((yr), (status), ())
        """
    )


def fn_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over per-customer order history:
    aggregate (fold-sum), filter (+size), array_max — all JVM-side
    lambda expressions inside whole-stage codegen, no UDFs.

    Cents as BIGINT (decimal-cast then ×100) so the fold is exact
    integer math in both engines."""
    orders = load_table(spark, sf_dir, "orders")
    cents = (_price() * 100).cast("long")
    grouped = (
        orders.select("o_custkey", cents.alias("cents"))
        .groupBy("o_custkey")
        .agg(F.array_sort(F.collect_list("cents")).alias("arr"))
    )
    return grouped.select(
        "o_custkey",
        F.aggregate(
            "arr", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("total_cents"),
        F.size(F.filter("arr", lambda x: x > F.lit(20_000_000))).alias("n_big"),
        F.array_max("arr").alias("max_cents"),
    )


def fn_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (pos, value) of each document's first three
    tokens — the ordinal-aware UDTF the reference's explode (E1)
    lacks. Narrow map + one count shuffle on (pos, token)."""
    docs = load_table(spark, sf_dir, "documents")
    first3 = F.slice(tokens(F.lower(F.col("text"))), 1, 3)
    return (
        docs.select(F.posexplode(first3).alias("pos0", "token"))
        .select((F.col("pos0") + 1).cast("int").alias("pos"), "token")
        .groupBy("pos", "token")
        .agg(F.count("*").alias("n"))
    )


def w_locf_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF forward fill via last_value(... IGNORE NULLS): the priority
    column is synthetically nulled on every 7th order key; each row
    takes the most recent non-null value in its customer's order
    history — the standard gap-fill for sparse attributes (sensor
    readings, slowly-arriving dimensions). One partitioned window, no
    self-join."""
    orders = load_table(spark, sf_dir, "orders")
    sparse = F.when(F.col("o_orderkey") % 7 != 0, F.col("o_orderpriority"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        sparse.alias("sparse_priority"),
        F.last(sparse, ignorenulls=True).over(w).alias("filled_priority"),
    )


def fn_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression surface: TRY_CAST over a dirty numeric
    string column (every 3rd value 'n/a', every 3rd+1 empty) and
    try_divide's null-on-zero — the ingest-hardening idioms that keep
    one malformed record from failing a 100 TB job. Decimal sums keep
    the aggregate exact."""
    part = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    dirty = (
        F.when(k % 3 == 0, F.lit("n/a"))
        .when(k % 3 == 1, F.lit(""))
        .otherwise(F.col("p_retailprice").cast("string"))
    )
    parsed = F.expr(
        "try_cast(CASE WHEN p_partkey % 3 = 0 THEN 'n/a' "
        "WHEN p_partkey % 3 = 1 THEN '' "
        "ELSE CAST(p_retailprice AS STRING) END AS DECIMAL(12,2))"
    )
    return part.select(
        dirty.alias("dirty"), parsed.alias("v"), F.try_divide(F.lit(10), k % 5).alias("d")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("v").isNull().cast("long")).alias("n_unparseable"),
        F.sum((F.col("v") * 100).cast("bigint")).alias("sum_parsed_e2"),
        F.sum(F.col("d").isNull().cast("long")).alias("n_div_by_zero"),
    )


def w_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line max concurrency: peak number of simultaneously-open
    30-minute sessions per (event_type, day). Every session start is a
    +1 boundary, every end a −1; the peak is the max of the running
    sum over time-ordered boundaries.

    Scale shape — the naive form is a running sum over each type's
    ENTIRE history (few partitions, unbounded length: the sequential
    trap). Here the prefix decomposes exactly: running sum within
    (type, day) + carry-in of all prior days' net deltas (a second
    window over the tiny (type, day) aggregate — same two-level
    prefix-sum idea as operators/ids.py). Ordering (t, delta) puts
    ends before starts at the same instant (end-exclusive sessions
    never overlap their successor), and the default RANGE frame gives
    every tied boundary the post-group sum — identical in both
    engines, so the per-day max is deterministic. The oracle states
    the naive single-window form; the decomposition is value-exact.

    One pass: the carry is CONSTANT within a (type, day) group,
    so max(run_in + carry) = max(run_in) + carry — the per-day max
    and the day's net delta come out of ONE aggregate directly over
    the windowed boundaries (which reuses the window's (type, day)
    partitioning), and the carry window runs on that tiny aggregate,
    so the boundary frame is built once, not twice and re-joined on
    (type, day)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    starts = ev.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("delta")
    )
    ends = ev.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    pts = starts.unionByName(ends).withColumn("day", F.to_date("t"))
    w_in = Window.partitionBy("event_type", "day").orderBy("t", "delta")
    run_in = pts.select("*", F.sum("delta").over(w_in).alias("run_in"))
    per_day = run_in.groupBy("event_type", "day").agg(
        F.max("run_in").alias("max_in"), F.sum("delta").alias("day_delta")
    )
    w_day = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        per_day.select(
            "event_type",
            "day",
            "max_in",
            F.coalesce(F.sum("day_delta").over(w_day), F.lit(0)).alias("carry"),
        )
        .select(
            "event_type",
            "day",
            (F.col("max_in") + F.col("carry")).cast("bigint").alias(
                "max_concurrent"
            ),
        )
        .orderBy("event_type", "day")
    )


QUERIES = {
    "w_topk_per_group": w_topk_per_group,
    "w_max_concurrency": w_max_concurrency,
    "w_locf_forward_fill": w_locf_forward_fill,
    "fn_try_arithmetic": fn_try_arithmetic,
    "w_moving_sum_30d": w_moving_sum_30d,
    "w_ntile_buckets": w_ntile_buckets,
    "w_cume_dist_nth": w_cume_dist_nth,
    "w_ewma_decay": w_ewma_decay,
    "agg_grouping_sets": agg_grouping_sets,
    "fn_array_hof": fn_array_hof,
    "fn_posexplode_tokens": fn_posexplode_tokens,
}


ORACLES = {
    "w_max_concurrency": """
        WITH pts AS (
          SELECT event_type, ts AS t, 1 AS delta FROM events
          UNION ALL
          SELECT event_type, ts + INTERVAL 30 MINUTE, -1 FROM events
        ), run AS (
          SELECT event_type, CAST(t AS DATE) AS day,
                 sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta)
                   AS conc
          FROM pts
        )
        SELECT event_type, day, CAST(max(conc) AS BIGINT) AS max_concurrent
        FROM run GROUP BY event_type, day ORDER BY event_type, day
    """,
    "w_locf_forward_fill": """
        SELECT o_custkey, o_orderkey,
               CASE WHEN o_orderkey % 7 != 0 THEN o_orderpriority END
                 AS sparse_priority,
               last_value(CASE WHEN o_orderkey % 7 != 0 THEN o_orderpriority END
                          IGNORE NULLS) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS filled_priority
        FROM orders
    """,
    "fn_try_arithmetic": """
        SELECT count(*) AS n_rows,
               CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_unparseable,
               CAST(sum(CAST(v * 100 AS BIGINT)) AS BIGINT) AS sum_parsed_e2,
               CAST(sum(CASE WHEN p_partkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_div_by_zero
        FROM (
          SELECT p_partkey,
                 TRY_CAST(CASE WHEN p_partkey % 3 = 0 THEN 'n/a'
                               WHEN p_partkey % 3 = 1 THEN ''
                               ELSE CAST(p_retailprice AS VARCHAR) END
                          AS DECIMAL(12,2)) AS v
          FROM part
        )
    """,
    "w_topk_per_group": """
        SELECT o_custkey, o_orderkey, price_e2, CAST(rk AS INTEGER) AS rk FROM (
          SELECT o_custkey, o_orderkey,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_e2,
                 row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC, o_orderkey
                 ) AS rk
          FROM orders
        ) WHERE rk <= 3
    """,
    "w_moving_sum_30d": """
        SELECT o_custkey, o_orderkey,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) OVER (
                 PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
                 RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS trailing_30d_spend_e2
        FROM orders
    """,
    "w_ntile_buckets": """
        SELECT o_orderkey, priority, CAST(quartile AS INTEGER) AS quartile,
               ((rk - 1) * 1000000) // (n - 1) AS pr_e6
        FROM (
          SELECT o_orderkey, o_orderpriority AS priority,
                 ntile(4) OVER w AS quartile,
                 row_number() OVER w AS rk,
                 count(*) OVER (PARTITION BY o_orderpriority) AS n
          FROM orders
          WINDOW w AS (PARTITION BY o_orderpriority
                       ORDER BY CAST(o_totalprice AS DECIMAL(12,2)), o_orderkey)
        )
    """,
    "w_ewma_decay": """
        SELECT event_id, user_id,
               CAST(list_reduce(frame, (acc, x) -> acc // 2 + x) AS BIGINT)
                 AS ewma_e6
        FROM (
          SELECT event_id, user_id,
                 list(CAST(floor(value * 1000000) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW
                 ) AS frame
          FROM events
        )
        ORDER BY event_id
    """,
    "w_cume_dist_nth": """
        SELECT o_orderkey, priority,
               (rk * 1000000) // n AS cd_e6,
               second_cheapest_e2, cheapest_e2, priciest_e2
        FROM (
          SELECT o_orderkey, o_orderpriority AS priority,
                 row_number() OVER w AS rk,
                 count(*) OVER (PARTITION BY o_orderpriority) AS n,
                 nth_value(price_e2, 2) OVER wf AS second_cheapest_e2,
                 first_value(price_e2) OVER wf AS cheapest_e2,
                 last_value(price_e2) OVER wf AS priciest_e2
          FROM (SELECT o_orderkey, o_orderpriority,
                       CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                         AS price_e2
                FROM orders)
          WINDOW w AS (PARTITION BY o_orderpriority ORDER BY price_e2, o_orderkey),
                 wf AS (PARTITION BY o_orderpriority ORDER BY price_e2, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        )
    """,
    "agg_grouping_sets": """
        SELECT yr, status, CAST(GROUPING(yr, status) AS INTEGER) AS gid,
               count(*) AS n
        FROM (SELECT year(o_orderdate) AS yr, o_orderstatus AS status FROM orders)
        GROUP BY GROUPING SETS ((yr), (status), ())
    """,
    "fn_array_hof": """
        SELECT o_custkey,
               CAST(list_aggregate(list(cents), 'sum') AS BIGINT) AS total_cents,
               CAST(len(list_filter(list(cents), x -> x > 20000000)) AS INTEGER) AS n_big,
               CAST(list_max(list(cents)) AS BIGINT) AS max_cents
        FROM (SELECT o_custkey,
                     CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
              FROM orders)
        GROUP BY o_custkey
    """,
    "fn_posexplode_tokens": f"""
        WITH t AS (SELECT {tokens_sql('lower(text)')} AS toks FROM documents)
        SELECT pos, token, count(*) AS n FROM (
          SELECT 1 AS pos, toks[1] AS token FROM t WHERE len(toks) >= 1
          UNION ALL SELECT 2, toks[2] FROM t WHERE len(toks) >= 2
          UNION ALL SELECT 3, toks[3] FROM t WHERE len(toks) >= 3
        ) GROUP BY pos, token
    """,
}
