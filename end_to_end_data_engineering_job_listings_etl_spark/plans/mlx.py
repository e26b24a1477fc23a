"""ML-adjacent analytics pushed through the oracle gate: TF-IDF term
ranking, one k-means (Lloyd) iteration over the embedding column, and
the REST paginated-ingest front door.

Beyond-reference training-data layer (BASELINE.json). Determinism
discipline:
- TF-IDF uses an integer inverse-document-frequency
  (floor(1e6·N/(df+1))) so scores and ranks are exact integers in both
  engines — no libm log whose last ulp could flip a rank.
- k-means distances are double arithmetic over arrays in fixed element
  order (identical IEEE operation sequence in Spark's ``aggregate`` and
  DuckDB's list fold → bit-equal), and centroid accumulation is exact
  integer sums of floor(val·1e9) — one IEEE multiply plus floor, both
  bit-identical across engines (a double→DECIMAL(…,9) cast is NOT: the
  9th-digit rounding is engine-specific); the query returns
  (sum, count) per dimension rather than a divided mean so no
  engine-specific division rounds.
- REST ingest runs the reference's retry/backoff + projection pipeline
  against a deterministic offline transport (a 429 on one page
  exercises the S2 retry path); the oracle pins the expected
  aggregate as literals.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf's typing resolution sees it

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, load_table_dist
from ..functions.text import tokens, tokens_sql
from ..functions.vectors import lit_vector

# ---------------------------------------------------------------------------
# TF-IDF top terms
# ---------------------------------------------------------------------------

_TOP_K = 5
_IDF_SCALE = 1_000_000


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per document by tf·idf with an integer idf
    (floor(1e6·N / (df+1))): term-frequency grid → document-frequency →
    integer score → per-doc ranked window. Two shuffles (tf grid, df)
    plus one partitioned window — no global sort, no driver loop."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    n_docs = docs.count()
    toks = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # document frequency as a window count over the tf grid: one pass,
    # no self-join (a groupBy+join would compute the grid twice).
    scored = tf.withColumn(
        "df_t", F.count("*").over(Window.partitionBy("term"))
    ).withColumn(
        "score",
        F.col("tf") * F.expr(f"{_IDF_SCALE} * {n_docs}L div (df_t + 1)"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("doc_id", "term", "tf", "df_t", "score", "rank")
    )


# ---------------------------------------------------------------------------
# k-means Lloyd step
# ---------------------------------------------------------------------------

_KM_SEED_IDS = (0, 7, 13, 42)


def _centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    emb = load_table_dist(spark, sf_dir, "embeddings", cols=("vec_id", "embedding"))
    rows = emb.filter(F.col("vec_id").isin(*_KM_SEED_IDS)).collect()
    by_id = {r["vec_id"]: [float(v) for v in r["embedding"]] for r in rows}
    return [by_id[i] for i in _KM_SEED_IDS]


def _sq_dist(v, c) -> F.Column:
    return F.aggregate(
        F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def ml_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration: assign every embedding to the nearest of 4
    fixed seed centroids (squared L2, ties → lowest cluster id), then
    accumulate per-(cluster, dimension) decimal-exact sums + counts —
    the caller divides for the new centroid. Iterating = re-running
    with the returned centroids; each step is one scan + one shuffle
    keyed on (cluster, dim), the textbook distributed k-means shape."""
    emb = load_table_dist(spark, sf_dir, "embeddings", cols=("vec_id", "embedding"))
    v = F.col("embedding").cast("array<double>")
    cents = _centroids(spark, sf_dir)
    d = [_sq_dist(v, lit_vector(c)) for c in cents]
    cluster = (
        F.when((d[0] <= d[1]) & (d[0] <= d[2]) & (d[0] <= d[3]), F.lit(0))
        .when((d[1] <= d[2]) & (d[1] <= d[3]), F.lit(1))
        .when(d[2] <= d[3], F.lit(2))
        .otherwise(F.lit(3))
    )
    assigned = emb.select(cluster.alias("cluster"), v.alias("vd"))
    ex = assigned.select("cluster", F.posexplode("vd").alias("dim", "val"))
    # floor(val*1e9), not a decimal(…,9) cast: double→decimal rounding
    # is engine-specific at the 9th digit (diverged by 1 at sf0.1),
    # while the single IEEE multiply and floor are bit-identical.
    return ex.groupBy("cluster", "dim").agg(
        F.count("*").alias("n_members"),
        F.sum(F.floor(F.col("val") * 1000000000).cast("bigint")).alias(
            "sum_val_e9"
        ),
    )


def graph_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One fixed-point PageRank iteration over the customer→supplier
    purchase graph (edges = DISTINCT (c_custkey, s_suppkey) via
    lineitem⋈orders). Exact integer arithmetic end to end: uniform
    init rank 1.0 ≡ 1e6; each customer's contribution is
    ``1_000_000 div out_degree`` (integer division — identical in
    both engines, where float division sums would drift with
    aggregation order); damped rank_e6 = 150000 + (85 * Σcontrib)
    div 100. Suppliers with no inlinks keep the teleport rank.
    Iterating = feeding rank_e6 back as the next init; each step is
    two hash aggregations and one join — the textbook distributed
    PR shape with none of the float nondeterminism.

    Plan shape: the edge distinct, the out-degree and the
    per-edge contribution all share ONE exchange keyed on o_custkey —
    an explicit repartition establishes hashpartitioning(o_custkey),
    which satisfies the distinct's (o_custkey, l_suppkey) clustering
    (subset rule), and out-degree is a window over the same key
    instead of a groupBy + self-join. The self-join form scans
    lineitem (and shuffles the distinct) TWICE — once per side of an
    edges ⋈ outdeg sort-merge join."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .repartition("o_custkey")
        .dropDuplicates(["o_custkey", "l_suppkey"])
    )
    w_cust = Window.partitionBy("o_custkey")
    contrib = edges.withColumn(
        "deg", F.count(F.lit(1)).over(w_cust)
    ).select("l_suppkey", F.expr("1000000 div deg").alias("c"))
    inflow = contrib.groupBy("l_suppkey").agg(F.sum("c").alias("sum_c"))
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    return (
        supplier.join(inflow, supplier.s_suppkey == inflow.l_suppkey, "left")
        .select(
            "s_suppkey",
            (
                F.lit(150000)
                + F.expr("(85 * coalesce(sum_c, 0)) div 100")
            ).cast("bigint").alias("rank_e6"),
        )
    )


_TRI_CAP = 100  # vertex bound for the demo co-purchase graph
_TRI_MIN_SHARED = 12  # sparsification: edge iff >= this many shared suppliers


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts over the customer co-purchase graph
    (edge iff two customers share ≥ ``_TRI_MIN_SHARED`` suppliers,
    vertices bounded to the demo cap) — the standard distributed
    triangle algorithm: orient every edge low→high so each triangle
    (a<b<c) is enumerated exactly once as wedge (a→b, b→c) closed by
    (a→c), then credit all three corners.

    Scale shape: edge orientation bounds the wedge join by the SMALLER
    endpoint's out-degree (the classic skew fix — a hub vertex's
    wedges are generated from its low-degree neighbors, not from the
    hub); both joins are key-equi hash joins, no cartesian. Corner
    credits are an explode over the triangle rows instead of a
    3-branch unionAll — the union re-planned the whole triple-join
    subtree once per corner (36 fact-scan nodes in one plan); with
    the explode each edge subtree appears 3× but AQE reuses their
    canonical shuffle stages at runtime. (A bounded-collect
    LocalRelation of the edge list was also tried — measured neutral
    at sf0.1, reverted to keep the plan lazy.)"""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    cs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("o_custkey") < _TRI_CAP)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a, b = cs.alias("a"), cs.alias("b")
    edges = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.c") < F.col("b.c")))
        .groupBy(F.col("a.c").alias("ea"), F.col("b.c").alias("eb"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= _TRI_MIN_SHARED)
        .select("ea", "eb")
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.eb") == F.col("e2.ea"))
        .join(
            e3,
            (F.col("e1.ea") == F.col("e3.ea")) & (F.col("e2.eb") == F.col("e3.eb")),
        )
        .select(
            F.col("e1.ea").alias("va"),
            F.col("e1.eb").alias("vb"),
            F.col("e2.eb").alias("vc"),
        )
    )
    corners = tri.select(
        F.explode(F.array(F.col("va"), F.col("vb"), F.col("vc"))).alias("v")
    )
    return (
        corners.groupBy("v")
        .agg(F.count("*").alias("n_triangles"))
        .orderBy("v")
    )


# ---------------------------------------------------------------------------
# REST paginated ingest (S1+S2+S3) with an offline deterministic transport
# ---------------------------------------------------------------------------


def src_rest_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2/S3 through the Spark 4 Python DataSource API
    (``spark.read.format("rest_jobs")``): one input partition per
    country, pages fetched ON EXECUTORS with the same retry/backoff
    and 429 path — the distributed form of ``src_rest_ingest``'s
    driver-side loop, same pinned-literal oracle."""
    from ..sources.rest_datasource import register

    register(spark)
    df = (
        spark.read.format("rest_jobs")
        .option("countries", "us,in,jp,ru")
        .option("num_pages", "5")
        .load()
    )
    return df.groupBy("job_country").agg(
        F.count("*").alias("n_records"),
        F.countDistinct("employer_name").alias("n_employers"),
        F.sum(F.col("job_publisher").isNotNull().cast("long")).alias(
            "n_publisher_nonnull"
        ),
    )


def src_rest_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's extraction front door end to end
    (``dags/test_extraction.py:17-84``): 4 countries × 5 pages through
    the retry wrapper (one page 429s once — the S2 backoff path), each
    record projected onto a declared schema with null back-fill and
    tagged with the upper-cased country (S3). The oracle pins the
    resulting per-country aggregate as literals."""
    from pyspark.sql import types as T

    from ..sources.rest import HttpStatusError, extract_paginated

    seen: dict[tuple[str, int], int] = {}

    def fetch_page(country: str, page: int) -> list[dict]:
        key = (country, page)
        seen[key] = seen.get(key, 0) + 1
        if country == "in" and page == 3 and seen[key] == 1:
            raise HttpStatusError(429, "rate limited")
        return [
            {"job_title": f"T{page}-{i}", "employer_name": f"E{i % 3}"}
            for i in range(10)
        ]

    schema = T.StructType(
        [
            T.StructField("job_title", T.StringType()),
            T.StructField("employer_name", T.StringType()),
            T.StructField("job_publisher", T.StringType()),  # absent → null
            T.StructField("job_country", T.StringType()),
        ]
    )
    df = extract_paginated(
        spark,
        fetch_page,
        schema,
        countries=("us", "in", "jp", "ru"),
        num_pages=5,
        sleep=lambda _s: None,
    )
    return df.groupBy("job_country").agg(
        F.count("*").alias("n_records"),
        F.count_distinct("employer_name").alias("n_employers"),
        F.count("job_publisher").alias("n_publisher_nonnull"),
    )


# ---------------------------------------------------------------------------
# Grouped-map applyInPandas under the gate
# ---------------------------------------------------------------------------


def op_grouped_seq_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user arrival sequencing via grouped-map ``applyInPandas``
    (custom-operator tier (b)): groups arrive as pandas frames, Python
    sorts and numbers them, output is integers — so the Arrow
    group-exchange machinery itself sits under the value-hash gate
    (the SQL oracle is the equivalent window function). Ordering ties
    break on event_id."""
    from ..operators.grouped import grouped_sequence

    ev = load_table(spark, sf_dir, "events")
    return grouped_sequence(ev, "user_id", ["ts", "event_id"], "event_id")


def op_cogroup_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map ``applyInPandas`` under the gate: per-key order /
    event reconciliation — both tables hash-partition on the key and
    each key's two pandas frames arrive together in one Python call.
    Output is integer-exact (counts + cents total), so the cogroup
    exchange machinery itself is value-hash-checked against a FULL
    OUTER join oracle."""
    from ..operators.grouped import cogrouped_balance

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    events = load_table(spark, sf_dir, "events").select("user_id")
    return cogrouped_balance(orders, events, "o_custkey", "user_id", "cents")


def op_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) applied laterally per input row —
    the UDTF analog of explode for logic a set-returning expression
    can't state. Splits each document on '.' and emits (idx, piece)
    for non-empty pieces.

    Slow-path discipline: UDTFs run Python per row; this one is
    Arrow-batched (``useArrow=True``) and kept off hot paths — the
    registry's explode/posexplode forms are the scale path. It exists
    to cover the API surface with exact (string/int) output under the
    hash gate."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, idx int, piece string", useArrow=True)
    class SentenceSplit:
        def eval(self, doc_id: int, text: str):
            i = 0
            for part in (text or "").split("."):
                if part != "":
                    i += 1
                    yield doc_id, i, part

    spark.udtf.register("sentence_split", SentenceSplit)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT s.doc_id, s.idx, s.piece
        FROM __udtf_docs d, LATERAL sentence_split(d.doc_id, d.text) s
        """
    )


# ---------------------------------------------------------------------------
# Binned range join under the gate
# ---------------------------------------------------------------------------


def op_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join done the scale-safe way: lineitems
    shipped within 31 days of a probe order's date, via month-bin
    equi-join + residual filter (operators/rangejoin.py) — never a
    cartesian/nested-loop (the plan-audit gate enforces it). Probe set
    is every 97th order to bound the pair count; the oracle states the
    same join as a bare BETWEEN.

    Eager-aggregation pushdown: the residual predicate reads ONLY
    ``l_shipdate`` and both final aggregates are decomposable, so
    lineitem partial-aggregates on the exact join-relevant column
    BEFORE the join — the range join then sees one row per distinct
    ship timestamp (~2.5k) instead of every lineitem (~600k at
    sf0.1), and the per-order rollup sums the partials. Keying the
    partial agg on the raw timestamp (not a truncation) keeps it
    semantics-preserving at any granularity: worst case (all
    timestamps unique) it degrades to the unaggregated join."""
    from ..operators.rangejoin import range_join_binned

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 97 == 0
    )
    li_by_ts = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_shipdate")
        .agg(
            F.count("*").alias("__cnt"),
            F.sum(
                (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast(
                    "bigint"
                )
            ).alias("__s_e2"),
        )
    )
    joined = range_join_binned(
        li_by_ts,
        orders.select("o_orderkey", "o_orderdate"),
        "l_shipdate",
        F.col("o_orderdate"),
        F.col("o_orderdate") + F.expr("INTERVAL 31 DAYS"),
        bin_width="month",
    )
    return joined.groupBy("o_orderkey").agg(
        F.sum("__cnt").alias("n_shipped"),
        F.sum("__s_e2").alias("sum_price_e2"),
    )


# The spec is the bare BETWEEN join (probe orders x lineitems shipped
# within [o_orderdate, +31d)); stated here through the standard
# eager-aggregation identity — sum over a join whose predicate reads
# ONLY l_shipdate equals the join of per-shipdate partial sums — so
# the oracle stays O(probes · days-in-window) instead of
# O(probes · lineitems-in-window). The raw-BETWEEN formulation
# measured quadratic across decades (6.5 s at sf1 → ~10 min at
# sf10) with values identical by construction; DuckDB SUMs of BIGINT
# widen to HUGEINT, hence the outer BIGINT casts.
_RANGE_JOIN_ORACLE = """
WITH li AS (
  SELECT l_shipdate, COUNT(*) AS cnt,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS s_e2
  FROM lineitem GROUP BY l_shipdate
)
SELECT o.o_orderkey, CAST(SUM(li.cnt) AS BIGINT) AS n_shipped,
       CAST(SUM(li.s_e2) AS BIGINT) AS sum_price_e2
FROM orders o
JOIN li
  ON li.l_shipdate >= o.o_orderdate
 AND li.l_shipdate < o.o_orderdate + INTERVAL 31 DAY
WHERE o.o_orderkey % 97 = 0
GROUP BY o.o_orderkey"""


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------


_SQD_SQL = (
    "list_aggregate(list_transform(range(1, len({a}) + 1),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum')"
)


# Seed centroids come from the embeddings view itself (they ARE rows
# vec_id ∈ {0,7,13,42}), so the oracle is scale-factor-independent and
# both engines compute distances on bit-identical doubles.
_E = "CAST(e.embedding AS DOUBLE[])"
_KM_DS = [
    _SQD_SQL.format(a=_E, b=f"c{i}.v") for i in range(len(_KM_SEED_IDS))
]

_KM_ORACLE = f"""
WITH {", ".join(
    f"c{i} AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings"
    f" WHERE vec_id = {vid})"
    for i, vid in enumerate(_KM_SEED_IDS)
)},
assigned AS (
  SELECT CASE
           WHEN {_KM_DS[0]} <= {_KM_DS[1]} AND {_KM_DS[0]} <= {_KM_DS[2]}
                AND {_KM_DS[0]} <= {_KM_DS[3]} THEN 0
           WHEN {_KM_DS[1]} <= {_KM_DS[2]} AND {_KM_DS[1]} <= {_KM_DS[3]} THEN 1
           WHEN {_KM_DS[2]} <= {_KM_DS[3]} THEN 2
           ELSE 3
         END AS cluster,
         {_E} AS vd
  FROM embeddings e, c0, c1, c2, c3
),
ex AS (
  SELECT cluster,
         CAST(unnest(range(1, len(vd) + 1)) - 1 AS INT) AS dim,
         unnest(vd) AS val
  FROM assigned
)
SELECT cluster, dim, COUNT(*) AS n_members,
       CAST(SUM(CAST(floor(val * 1000000000) AS BIGINT)) AS BIGINT)
         AS sum_val_e9
FROM ex GROUP BY cluster, dim"""


_TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({tokens_sql('lower(text)')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS nd FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, d.df_t,
         tf.tf * (({_IDF_SCALE} * n.nd) // (d.df_t + 1)) AS score
  FROM tf JOIN dfreq d USING (term), n
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term
  ) AS INT) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df_t, score, rank FROM ranked WHERE rank <= {_TOP_K}"""

_REST_ORACLE = """
SELECT * FROM (VALUES
  ('US', CAST(50 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT)),
  ('IN', 50, 3, 0),
  ('JP', 50, 3, 0),
  ('RU', 50, 3, 0)
) t(job_country, n_records, n_employers, n_publisher_nonnull)"""


_GROUPED_SEQ_ORACLE = """
SELECT user_id, event_id,
       CAST(row_number() OVER (
         PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
       ) AS INT) AS seq
FROM events"""

# ---------------------------------------------------------------------------
# Distributed gram matrix (X^T X) over the embedding column
# ---------------------------------------------------------------------------

_GRAM_DIMS = 16
_GRAM_BUCKETS = 32


def ml_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed gram matrix X^T X over the first 16 embedding
    dimensions — the kernel inside distributed PCA / covariance /
    linear-probe fitting. The d×d result is tiny; the work is the scan,
    so the right shape is per-bucket PARTIAL gram matrices (one
    vectorized integer matmul per Arrow batch group) merged by an
    elementwise sum over d(d+1)/2 = 136 keys — never a d²-explode of
    every row into the shuffle.

    Determinism: each component is quantized floor(x·1000) as int64
    BEFORE multiplication (one IEEE float64 multiply + floor, bit-equal
    in numpy / Spark / DuckDB), and integer sums are associative — so
    the partial-sum merge order can differ between engines without
    changing a single output value (a float accumulation could not
    promise that; see ml_kmeans_step's same discipline).

    100 TB posture: O(buckets) Python invocations regardless of row
    count, each an O(rows_in_bucket · d²) numpy matmul; the merge
    shuffles 136·buckets integer rows. Upper triangle only (the matrix
    is symmetric)."""
    import numpy as np
    import pandas as pd

    from .sketch import _h32

    emb = load_table_dist(spark, sf_dir, "embeddings", cols=("vec_id", "embedding"))
    q = emb.select(
        F.expr(f"{_h32('cast(vec_id as string)')} % {_GRAM_BUCKETS}").alias(
            "bucket"
        ),
        F.slice(F.col("embedding").cast("array<double>"), 1, _GRAM_DIMS).alias("v"),
    )

    def partial(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        qm = np.floor(m * 1000.0).astype(np.int64)
        g = qm.T @ qm
        iu = np.triu_indices(_GRAM_DIMS)
        return pd.DataFrame(
            {"i": iu[0].astype("int32"), "j": iu[1].astype("int32"), "s": g[iu]}
        )

    partials = q.groupBy("bucket").applyInPandas(partial, "i int, j int, s long")
    return (
        partials.groupBy("i", "j")
        .agg(F.sum("s").cast("bigint").alias("gram_s"))
        .orderBy("i", "j")
    )


_GRAM_ORACLE = f"""
WITH cells AS (
  SELECT CAST(i.i AS INTEGER) AS i, CAST(j.j AS INTEGER) AS j,
         CAST(floor(CAST(embedding[CAST(i.i AS INTEGER) + 1] AS DOUBLE) * 1000) AS BIGINT)
       * CAST(floor(CAST(embedding[CAST(j.j AS INTEGER) + 1] AS DOUBLE) * 1000) AS BIGINT) AS p
  FROM embeddings, range({_GRAM_DIMS}) i(i), range({_GRAM_DIMS}) j(j)
  WHERE i.i <= j.j
)
SELECT i, j, CAST(sum(p) AS BIGINT) AS gram_s
FROM cells GROUP BY i, j ORDER BY i, j
"""


# ---------------------------------------------------------------------------
# mapInArrow L2 normalization
# ---------------------------------------------------------------------------


def emb_l2_normalize_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norms of the embedding column via ``mapInArrow`` — the
    zero-copy executor-Python tier below mapInPandas (no pandas
    conversion: the ListArray's flat value buffer reshapes straight
    into a numpy matrix). Completes the engine's Python-API ladder:
    pandas_udf → applyInPandas → cogroup → applyInPandasWithState →
    UDTF → mapInPandas → mapInArrow, each tier oracle-gated.

    Output per vector: floor(1e6·‖v‖) and floor(1e6·v₀/‖v‖) as
    BIGINTs. Determinism: the squared-norm accumulates dimension-by-
    dimension in ascending order — the SAME IEEE operation sequence as
    DuckDB's sequential list_aggregate fold and Spark's F.aggregate
    (ml_kmeans_step's discipline); sqrt and divide are correctly
    rounded, so both engines produce bit-identical doubles before the
    floor.

    100 TB posture: a narrow map, no shuffle; Arrow batches stream
    through the Python worker at memory-bandwidth speed."""
    import numpy as np
    import pyarrow as pa

    emb = load_table_dist(spark, sf_dir, "embeddings", cols=("vec_id", "embedding"))

    def normalize(batches):
        for b in batches:
            ids = b.column(b.schema.get_field_index("vec_id"))
            la = b.column(b.schema.get_field_index("embedding"))
            flat = np.asarray(la.flatten(), dtype=np.float64)
            m = flat.reshape(len(la), -1)
            acc = np.zeros(m.shape[0], dtype=np.float64)
            for k in range(m.shape[1]):  # fixed ascending-dim order
                acc = acc + m[:, k] * m[:, k]
            norm = np.sqrt(acc)
            comp0 = np.zeros_like(norm)
            np.divide(m[:, 0], norm, out=comp0, where=norm > 0.0)
            yield pa.record_batch(
                [
                    ids,
                    pa.array(np.floor(norm * 1e6).astype(np.int64)),
                    pa.array(np.floor(comp0 * 1e6).astype(np.int64)),
                ],
                names=["vec_id", "norm_e6", "comp0_e6"],
            )

    return emb.mapInArrow(
        normalize, "vec_id long, norm_e6 long, comp0_e6 long"
    ).orderBy("vec_id")


_L2_SQ = (
    "list_aggregate(list_transform(range(1, len(v) + 1),"
    " i -> v[i] * v[i]), 'sum')"
)

_L2_ORACLE = f"""
WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt({_L2_SQ}) AS nrm FROM d)
SELECT vec_id,
       CAST(floor(nrm * 1000000) AS BIGINT) AS norm_e6,
       CAST(floor(CASE WHEN nrm > 0 THEN v[1] / nrm ELSE 0 END * 1000000) AS BIGINT)
         AS comp0_e6
FROM n
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# Grouped-aggregate pandas UDF (the UDAF tier)
# ---------------------------------------------------------------------------


def op_grouped_agg_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via the GROUPED_AGG pandas_udf tier — the remaining
    rung of the Python-API ladder (scalar pandas_udf, grouped-map,
    cogroup, withState, UDTF, mapInPandas, mapInArrow are all covered
    elsewhere): an integer-exact weighted mean of event values per
    event type, weights derived from user_id. Arrow ships each group's
    columns once; the Python side is two int64 reductions.

    Determinism: values are quantized floor(1e6·v) BEFORE the UDF (one
    IEEE multiply+floor, bit-equal across engines), weights are
    integers, and the weighted mean is integer division — so the UDAF's
    result is oracle-pinned exactly, like every other Python-tier
    operator here.

    100 TB posture: grouped-agg UDFs get partial Arrow batches per
    group; the shuffle moves raw rows (no map-side combine for custom
    UDAFs — the documented trade-off vs built-in aggregates, which is
    why the quantization happens JVM-side first).

    Division semantics: Python ``//`` floors, DuckDB ``//`` truncates —
    they agree only on non-negative numerators. events.value ≥ 0 (the
    fixture's domain) and weights ≥ 1, so the quotient domain is
    non-negative; a signed-value variant would need explicit
    floor-division on the SQL side."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def wmean_e6(q: pd.Series, w: pd.Series) -> int:
        num = (q.astype("int64") * w.astype("int64")).sum()
        den = w.astype("int64").sum()
        return int(num // den)

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 1_000_000).cast("long").alias("q"),
        (F.col("user_id") % 5 + 1).cast("long").alias("w"),
    )
    return (
        ev.groupBy("event_type")
        .agg(wmean_e6("q", "w").alias("wmean_e6"))
        .orderBy("event_type")
    )


_WMEAN_ORACLE = """
SELECT event_type,
       CAST(sum(CAST(floor(value * 1000000) AS BIGINT) * (user_id % 5 + 1))
            // sum(user_id % 5 + 1) AS BIGINT) AS wmean_e6
FROM events
GROUP BY event_type
ORDER BY event_type
"""


_RP_IN = 64  # embedding dim
_RP_OUT = 8  # projected dim
_RP_SEED = 42424242


def _rp_matrix() -> list[list[float]]:
    """Deterministic Achlioptas-style +/-1 projection matrix (seeded,
    data-independent — the same literals are embedded in the static
    SQL oracle)."""
    import random

    rng = random.Random(_RP_SEED)
    return [
        [1.0 if rng.random() < 0.5 else -1.0 for _ in range(_RP_IN)]
        for _ in range(_RP_OUT)
    ]


_RP_SCALE = 1.0 / (_RP_OUT**0.5)


def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection 64 -> 8 dims: the
    standard pre-shrink before LSH bucketing / clustering at corpus
    scale (Achlioptas ±1 rows, scaled 1/sqrt(d_out), expected norm
    preserved). Output: per vector, the 8 projected coordinates as
    floor(x·1e6) integers.

    Scale posture: a pure narrow map — the matrix is 512 literal
    doubles baked into ONE Project's expressions (no join, no
    shuffle, no Python; higher-order array folds evaluate outside
    whole-stage codegen, same as every cosine query here); projected
    vectors are 8x smaller, so every downstream distance pass (IVF
    assign, LSH, k-means) reads 8x fewer bytes.
    The fold order of each dot product matches the DuckDB oracle's
    list fold bit for bit (same discipline as ml_kmeans_step)."""
    from ..functions.vectors import dot

    emb = load_table_dist(spark, sf_dir, "embeddings", cols=("vec_id", "embedding"))
    v = F.col("embedding").cast("array<double>")
    mat = _rp_matrix()
    return emb.select(
        "vec_id",
        *[
            F.floor((dot(v, lit_vector(mat[d])) * F.lit(_RP_SCALE)) * 1_000_000)
            .cast("long")
            .alias(f"p_{d}_e6")
            for d in range(_RP_OUT)
        ],
    )


def _rp_sql_row(row: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in row) + "]::DOUBLE[]"


_RP_ORACLE = f"""
    WITH m AS (
      SELECT {", ".join(f"{_rp_sql_row(row)} AS r{d}" for d, row in enumerate(_rp_matrix()))}
    ), e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )
    SELECT e.vec_id,
           {", ".join(
               f"CAST(floor((list_aggregate(list_transform(range(1, {_RP_IN + 1}), "
               f"i -> e.v[i] * m.r{d}[i]), 'sum') * {_RP_SCALE!r}) * 1000000) AS BIGINT) "
               f"AS p_{d}_e6"
               for d in range(_RP_OUT)
           )}
    FROM e CROSS JOIN m
"""


QUERIES = {
    "text_tfidf_top_terms": text_tfidf_top_terms,
    "emb_random_projection": emb_random_projection,
    "ml_kmeans_step": ml_kmeans_step,
    "ml_gram_matrix": ml_gram_matrix,
    "emb_l2_normalize_arrow": emb_l2_normalize_arrow,
    "op_grouped_agg_pandas": op_grouped_agg_pandas,
    "src_rest_ingest": src_rest_ingest,
    "src_rest_datasource": src_rest_datasource,
    "graph_pagerank_step": graph_pagerank_step,
    "graph_triangle_count": graph_triangle_count,
    "op_grouped_seq_pandas": op_grouped_seq_pandas,
    "op_cogroup_pandas": op_cogroup_pandas,
    "op_udtf_sentences": op_udtf_sentences,
    "op_range_join": op_range_join,
}

ORACLES = {
    "text_tfidf_top_terms": _TFIDF_ORACLE,
    "emb_random_projection": _RP_ORACLE,
    "ml_kmeans_step": _KM_ORACLE,
    "ml_gram_matrix": _GRAM_ORACLE,
    "emb_l2_normalize_arrow": _L2_ORACLE,
    "op_grouped_agg_pandas": _WMEAN_ORACLE,
    "src_rest_ingest": _REST_ORACLE,
    "src_rest_datasource": _REST_ORACLE,
    "graph_triangle_count": f"""
        WITH cs AS (
          SELECT DISTINCT o_custkey AS c, l_suppkey AS s
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_custkey < {_TRI_CAP}
        ), e AS (
          SELECT a.c AS ea, b.c AS eb
          FROM cs a JOIN cs b USING (s)
          WHERE a.c < b.c
          GROUP BY a.c, b.c
          HAVING count(*) >= {_TRI_MIN_SHARED}
        ), tri AS (
          SELECT e1.ea AS va, e1.eb AS vb, e2.eb AS vc
          FROM e e1
          JOIN e e2 ON e1.eb = e2.ea
          JOIN e e3 ON e1.ea = e3.ea AND e2.eb = e3.eb
        ), corners AS (
          SELECT va AS v FROM tri
          UNION ALL SELECT vb FROM tri
          UNION ALL SELECT vc FROM tri
        )
        SELECT v, CAST(count(*) AS BIGINT) AS n_triangles
        FROM corners GROUP BY v ORDER BY v
    """,
    "graph_pagerank_step": """
        WITH edges AS (
          SELECT DISTINCT o.o_custkey, l.l_suppkey
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ), outdeg AS (
          SELECT o_custkey, count(*) AS deg FROM edges GROUP BY o_custkey
        ), inflow AS (
          SELECT e.l_suppkey, sum(1000000 // d.deg) AS sum_c
          FROM edges e JOIN outdeg d USING (o_custkey)
          GROUP BY e.l_suppkey
        )
        SELECT s.s_suppkey,
               CAST(150000 + (85 * coalesce(i.sum_c, 0)) // 100 AS BIGINT)
                 AS rank_e6
        FROM supplier s LEFT JOIN inflow i ON s.s_suppkey = i.l_suppkey
    """,
    "op_grouped_seq_pandas": _GROUPED_SEQ_ORACLE,
    "op_cogroup_pandas": """
        WITH oc AS (
          SELECT o_custkey AS key, count(*) AS n_left,
                 sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS total
          FROM orders GROUP BY o_custkey
        ), ec AS (
          SELECT user_id AS key, count(*) AS n_right FROM events GROUP BY user_id
        )
        SELECT coalesce(oc.key, ec.key) AS key,
               coalesce(n_left, 0) AS n_left,
               coalesce(n_right, 0) AS n_right,
               CAST(coalesce(total, 0) AS BIGINT) AS total_amount
        FROM oc FULL OUTER JOIN ec ON oc.key = ec.key
    """,
    "op_udtf_sentences": """
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split(text, '.'), x -> x != '') AS parts
          FROM documents
        )
        SELECT doc_id, CAST(i AS INTEGER) AS idx, parts[i] AS piece
        FROM t, UNNEST(range(1, len(parts) + 1)) AS u(i)
    """,
    "op_range_join": _RANGE_JOIN_ORACLE,
}
