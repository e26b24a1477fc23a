"""The star-schema build pipeline, mapped onto the driver's synthetic
tables (FIXTURES.md mapping).

Reference analog: ``dags/spark_etl_script.py:41-192`` — the analytical
core. Domain mapping (reference → synthetic):

- landing.job_listings → ``orders`` enriched with ``customer`` /
  ``nation`` / ``region`` attributes
- DIM_COMPANY   (trim+upper employer)   → dim_company over ``c_name``
- DIM_PUBLISHER (trim+initcap)          → dim_segment over ``c_mktsegment``
- DIM_EMPLOYMENT_TYPE (trim+initcap)    → dim_priority over ``o_orderpriority``
- DIM_LOCATION  (multi-col distinct)    → dim_location over (n_name, r_name)
- DIM_DATE      (yyyyMMdd sk + attrs)   → dim_date over ``o_orderdate``
- DIM_SKILL     (keyword explode)       → dim_keyword over ``documents.text``
- FACT_JOB_POSTINGS (left-join chain)   → fact_orders
- BRIDGE_JOB_SKILL                      → bridge_doc_keyword

Each ranked dim is stated once, in ``_dim_specs``: the dims are ranked
in one batched pass (``operators.dims.build_dims_batched``) and the
fact is ``operators.fact.join_star`` over the same specs, with the
order PK ranked over ``o_orderkey`` (``operators.ids.ranked_ids``).
The landing, the ranked dims, the date dim and the star view are
memoized and persisted per (session, sf_dir) in the ``star`` family of
``cachereg`` — the reference's ``.cache()`` cut points
(``dags/spark_etl_script.py:146-153``). Each ranked dim query is a
slice of the one persisted ranked frame.

Every query here has a colocated DuckDB oracle (ORACLES) sharing the
same CTE text, so Spark results hash-match ANSI SQL exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cachereg
from ..catalog import load_table, load_table_dist
from ..functions.keywords import DEFAULT_KEYWORDS, extract_keywords
from ..functions.normalize import norm_initcap, norm_upper
from ..operators.dims import DimSpec, build_date_dim, build_dims_batched
from ..operators.fact import join_star
from ..operators.ids import ranked_ids

# ---------------------------------------------------------------------------
# Spark builders
# ---------------------------------------------------------------------------


def landing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'landing.job_listings' analog: orders + customer + geo
    attributes (reference S5 scan, ``dags/spark_etl_script.py:65-72``).

    Cached per (session, sf_dir): the star plan references landing from
    every dimension subtree AND the fact base — without a shared
    InMemoryRelation, one fact build scans orders/customer six times
    (the reference hit the same issue and caches eight frames,
    ``dags/spark_etl_script.py:146-153``; this is its Spark-idiomatic
    form — reuse the same cached plan object so even a single action
    computes the landing join once)."""
    return cachereg.memo(
        spark, sf_dir, "star", "landing", lambda pins: _landing(spark, sf_dir, pins)
    )


def _landing(spark: SparkSession, sf_dir: str, pins: list[DataFrame]) -> DataFrame:
    # orders through the parallel loader: a single-row-group file scans
    # as ONE task, and a persist inherits that single partition — every
    # dim build and the fact join would then run single-threaded off
    # the cache. load_table_dist pre-spreads narrow scans; on big
    # inputs (many row groups) it is a plain load_table.
    orders = load_table_dist(spark, sf_dir, "orders", persist=False)
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    df = (
        # customer is O(SF) — 1.5k rows at sf0.01, 15B at 100 TB — so
        # the join strategy is left to Catalyst's size estimate + AQE
        # (broadcast while it fits, shuffle join past the threshold);
        # nation (25) and region (5) are schema-bounded and keep the
        # explicit hint.
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            orders["*"],
            customer["c_name"],
            customer["c_mktsegment"],
            nation["n_name"],
            region["r_name"],
        )
        .persist()
    )
    pins.append(df)
    return df


def _dim_specs(spark: SparkSession, sf_dir: str) -> list[DimSpec]:
    l = landing(spark, sf_dir)
    return [
        # employers scale with |customers|, O(data): no broadcast pin;
        # Catalyst/AQE broadcast the dim while it fits
        DimSpec(
            "company", l, [norm_upper("c_name").alias("employer_name")],
            "company_sk", broadcast=False,
        ),
        DimSpec(
            "segment", l, [norm_initcap("c_mktsegment").alias("segment_name")],
            "segment_sk",
        ),
        DimSpec(
            "priority", l, [norm_initcap("o_orderpriority").alias("priority_name")],
            "priority_sk",
        ),
        DimSpec(
            "location", l,
            [F.col("n_name").alias("nation_name"), F.col("r_name").alias("region_name")],
            "location_sk",
        ),
        DimSpec(
            "keyword", doc_keywords(spark, sf_dir),
            [norm_initcap("keyword_raw").alias("keyword_name")], "keyword_sk",
        ),
    ]


def _dims_bundle(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DimSpec], dict[str, DataFrame]]:
    """The dim specs and every ranked dim from ONE batched pass
    (operators.dims.build_dims_batched): a tagged union of every dim's
    normalized keys, one distinct, one grouped two-phase rank. Each
    registered dim query serves its slice."""

    def build(pins: list[DataFrame]) -> tuple[list[DimSpec], dict[str, DataFrame]]:
        specs = _dim_specs(spark, sf_dir)
        return specs, build_dims_batched(specs, pins)

    return cachereg.memo(spark, sf_dir, "star", "dims_bundle", build)


def dim_company(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIM_COMPANY analog (``dags/spark_etl_script.py:92-95``)."""
    return _dims_bundle(spark, sf_dir)[1]["company"]


def dim_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIM_PUBLISHER analog — trim+initcap (``:97-100``)."""
    return _dims_bundle(spark, sf_dir)[1]["segment"]


def dim_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIM_EMPLOYMENT_TYPE analog — trim+initcap (``:102-105``)."""
    return _dims_bundle(spark, sf_dir)[1]["priority"]


def dim_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIM_LOCATION analog — multi-column distinct (``:107-110``)."""
    return _dims_bundle(spark, sf_dir)[1]["location"]


def dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIM_DATE analog — calendar attributes (``:112-120``). SK is the
    yyyyMMdd int itself (not a row_number), reference-exact."""

    def build(pins: list[DataFrame]) -> DataFrame:
        df = build_date_dim(landing(spark, sf_dir), "o_orderdate").persist()
        pins.append(df)
        return df

    return cachereg.memo(spark, sf_dir, "star", "dim_date", build)


def doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document extracted keyword set (skills analog, §2.10) then
    exploded — E1 + P3 empty-filter."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    return (
        docs.select(
            "doc_id", F.explode(extract_keywords("text")).alias("keyword_raw")
        )
        .filter(F.col("keyword_raw") != "")
    )


def dim_keyword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIM_SKILL analog (``:141-144``)."""
    return _dims_bundle(spark, sf_dir)[1]["keyword"]


def fact_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FACT analog: left-join chain on normalized expressions + derived
    date, fact PK, lit(1) measure (``:157-173``)."""
    return star_wide(spark, sf_dir).select(
        "order_pk",
        "o_orderkey",
        "company_sk",
        "segment_sk",
        "priority_sk",
        "location_sk",
        "date_sk",
        "o_totalprice",
        "order_count",
    )


def star_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact join-chain keeping both SKs and dimension names — this
    is simultaneously the fact builder (project SKs) and the BI star
    view V1/V2 (project names): one plan, two consumers."""

    def build(pins: list[DataFrame]) -> DataFrame:
        specs, dims = _dims_bundle(spark, sf_dir)
        l = landing(spark, sf_dir)
        j = join_star(l, dims, specs, "o_orderdate", dim_date(spark, sf_dir))
        # order keys are sparse, so the PK is their rank; the input
        # pin lets the range sampling and the exchange read the
        # one-column checkpoint instead of the wide landing
        pk = ranked_ids(l.select("o_orderkey"), ["o_orderkey"], "order_pk", pins)
        df = j.join(pk, "o_orderkey").select(
            F.col("order_pk"),
            "o_orderkey",
            "company_sk",
            "employer_name",
            "segment_sk",
            "segment_name",
            "priority_sk",
            "priority_name",
            "location_sk",
            "nation_name",
            "region_name",
            "date_sk",
            "full_date",
            "month_name",
            "month_number",
            "quarter_number",
            "year_number",
            "o_totalprice",
            F.lit(1).alias("order_count"),
        ).persist()
        pins.append(df)
        return df

    return cachereg.memo(spark, sf_dir, "star", "star_wide", build)


def bridge_doc_keyword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIDGE analog: exploded keywords ⋈ dim → distinct pairs
    (``:175-179``)."""
    specs, _ = _dims_bundle(spark, sf_dir)
    kw = next(s for s in specs if s.tag == "keyword")
    return (
        kw.source.select("doc_id", *kw.keys)
        .join(F.broadcast(dim_keyword(spark, sf_dir)), "keyword_name")
        .select("doc_id", "keyword_sk")
        .distinct()
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL (shared CTE text)
# ---------------------------------------------------------------------------

# DuckDB (v1.0) has no initcap; emulate Spark's whitespace-word initcap.
def _initcap(expr: str) -> str:
    return (
        "array_to_string(list_transform(string_split({e}, ' '), "
        "w -> upper(w[1]) || lower(w[2:])), ' ')"
    ).format(e=expr)


LANDING_CTE = """
landing AS (
  SELECT o.*, c.c_name, c.c_mktsegment, n.n_name, r.r_name
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
)"""

DIM_COMPANY_CTE = """
dim_company AS (
  SELECT CAST(row_number() OVER (ORDER BY employer_name) AS INTEGER) AS company_sk,
         employer_name
  FROM (SELECT DISTINCT trim(upper(c_name)) AS employer_name FROM landing)
  WHERE employer_name IS NOT NULL
)"""

DIM_SEGMENT_CTE = f"""
dim_segment AS (
  SELECT CAST(row_number() OVER (ORDER BY segment_name) AS INTEGER) AS segment_sk,
         segment_name
  FROM (SELECT DISTINCT trim({_initcap('c_mktsegment')}) AS segment_name FROM landing)
  WHERE segment_name IS NOT NULL
)"""

DIM_PRIORITY_CTE = f"""
dim_priority AS (
  SELECT CAST(row_number() OVER (ORDER BY priority_name) AS INTEGER) AS priority_sk,
         priority_name
  FROM (SELECT DISTINCT trim({_initcap('o_orderpriority')}) AS priority_name FROM landing)
  WHERE priority_name IS NOT NULL
)"""

DIM_LOCATION_CTE = """
dim_location AS (
  SELECT CAST(row_number() OVER (ORDER BY nation_name, region_name) AS INTEGER) AS location_sk,
         nation_name, region_name
  FROM (SELECT DISTINCT n_name AS nation_name, r_name AS region_name FROM landing)
  WHERE nation_name IS NOT NULL
)"""

DIM_DATE_CTE = """
dim_date AS (
  SELECT DISTINCT
    CAST(strftime(CAST(o_orderdate AS DATE), '%Y%m%d') AS INTEGER) AS date_sk,
    CAST(o_orderdate AS DATE) AS full_date,
    dayname(CAST(o_orderdate AS DATE)) AS day_of_week,
    monthname(CAST(o_orderdate AS DATE)) AS month_name,
    CAST(month(o_orderdate) AS INTEGER) AS month_number,
    CAST(quarter(o_orderdate) AS INTEGER) AS quarter_number,
    CAST(year(o_orderdate) AS INTEGER) AS year_number
  FROM landing
  WHERE o_orderdate IS NOT NULL
)"""

_KW_VALUES = ", ".join(f"('{k}')" for k in DEFAULT_KEYWORDS)

DOC_KEYWORDS_CTE = f"""
doc_keywords AS (
  SELECT d.doc_id, t.kw AS keyword_raw
  FROM documents d, (VALUES {_KW_VALUES}) t(kw)
  WHERE contains(lower(d.text), t.kw)
)"""

DIM_KEYWORD_CTE = f"""
dim_keyword AS (
  SELECT CAST(row_number() OVER (ORDER BY keyword_name) AS INTEGER) AS keyword_sk,
         keyword_name
  FROM (SELECT DISTINCT trim({_initcap('keyword_raw')}) AS keyword_name FROM doc_keywords)
  WHERE keyword_name IS NOT NULL
)"""

STAR_WIDE_CTE = f"""
star_wide AS (
  SELECT
    CAST(row_number() OVER (ORDER BY l.o_orderkey) AS INTEGER) AS order_pk,
    l.o_orderkey,
    dc.company_sk, dc.employer_name,
    ds.segment_sk, ds.segment_name,
    dp.priority_sk, dp.priority_name,
    dl.location_sk, dl.nation_name, dl.region_name,
    dd.date_sk, dd.full_date, dd.month_name, dd.month_number,
    dd.quarter_number, dd.year_number,
    l.o_totalprice,
    1 AS order_count
  FROM landing l
  LEFT JOIN dim_company dc ON trim(upper(l.c_name)) = dc.employer_name
  LEFT JOIN dim_segment ds ON trim({_initcap('l.c_mktsegment')}) = ds.segment_name
  LEFT JOIN dim_priority dp ON trim({_initcap('l.o_orderpriority')}) = dp.priority_name
  LEFT JOIN dim_location dl ON l.n_name = dl.nation_name AND l.r_name = dl.region_name
  LEFT JOIN dim_date dd ON CAST(l.o_orderdate AS DATE) = dd.full_date
)"""

STAR_PREFIX = (
    "WITH "
    + ",".join(
        [
            LANDING_CTE,
            DIM_COMPANY_CTE,
            DIM_SEGMENT_CTE,
            DIM_PRIORITY_CTE,
            DIM_LOCATION_CTE,
            DIM_DATE_CTE,
            DOC_KEYWORDS_CTE,
            DIM_KEYWORD_CTE,
            STAR_WIDE_CTE,
        ]
    )
)

QUERIES = {
    "dim_company": dim_company,
    "dim_segment": dim_segment,
    "dim_priority": dim_priority,
    "dim_location": dim_location,
    "dim_date": dim_date,
    "dim_keyword": dim_keyword,
    "fact_orders": fact_orders,
    "star_wide": star_wide,
    "bridge_doc_keyword": bridge_doc_keyword,
}

ORACLES = {
    "dim_company": f"{STAR_PREFIX} SELECT * FROM dim_company",
    "dim_segment": f"{STAR_PREFIX} SELECT * FROM dim_segment",
    "dim_priority": f"{STAR_PREFIX} SELECT * FROM dim_priority",
    "dim_location": f"{STAR_PREFIX} SELECT * FROM dim_location",
    "dim_date": f"{STAR_PREFIX} SELECT * FROM dim_date",
    "dim_keyword": f"{STAR_PREFIX} SELECT * FROM dim_keyword",
    "fact_orders": (
        f"{STAR_PREFIX} SELECT order_pk, o_orderkey, company_sk, segment_sk,"
        " priority_sk, location_sk, date_sk, o_totalprice, order_count"
        " FROM star_wide"
    ),
    "star_wide": f"{STAR_PREFIX} SELECT * FROM star_wide",
    "bridge_doc_keyword": (
        f"{STAR_PREFIX} SELECT DISTINCT k.doc_id, dk.keyword_sk"
        f" FROM doc_keywords k JOIN dim_keyword dk"
        f" ON trim({_initcap('k.keyword_raw')}) = dk.keyword_name"
    ),
}
