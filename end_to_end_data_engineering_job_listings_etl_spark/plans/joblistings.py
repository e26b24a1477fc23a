"""The reference pipeline itself, reference-shaped: landing
``job_listings`` → 7 dims + fact + bridge with the reference's own
table and column names. A user of the reference points
``build_star_schema(landing, pins)`` at their landing table and gets
the same star schema out; ``ids.release_pins(pins)`` frees what the
build pinned.

Reference analog: the whole of ``dags/spark_etl_script.py:41-192``,
rebuilt on this engine's operators:
- UDF ``parse_relative_time`` (:12-29,:86-87) → native expressions
  with an injected deterministic ``now`` (functions/relative_time.py)
- ``monotonically_increasing_id`` natural key (:88) → a deterministic,
  dense rank over the landing's natural ordering (documented
  deviation, SURVEY.md §7.3), derived one way for every landing
- fact PK ``row_number() OVER (ORDER BY job_natural_key)``
  (:157-173) → the natural key itself: over a dense 1..N key that rank
  is the identity
- per-dim select→filter→distinct→row_number (:92-144) → one
  ``DimSpec`` per dim, ranked together by
  ``operators.dims.build_dims_batched``
- ``from_json`` with the reference's (wrong) array schema (:126) →
  reproduced faithfully: ``job_highlights_array`` is null for every
  object-shaped payload; the corrected map parse ships alongside as
  ``job_highlights_map``
- fact join chain (:157-173) → ``operators.fact.join_star`` over the
  same specs; skill bridge (:175-179) → the skill spec's keys joined to
  the dim, with the natural key as the fact PK
- the 9 ``write_to_snowflake`` overwrite sinks (:181-189) →
  ``sinks.writers.overwrite_parquet_table`` / ``write_counted``

The registered ``jl_*`` queries run the pipeline over a landing derived
from the parquet fixture tables (``landing_from_orders``), memoized in
the ``jl_star`` family of ``cachereg``. Tested end-to-end in
tests/test_joblistings.py on a deterministic synthetic landing
(FIXTURES.md fixture-2 shape).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import cachereg
from ..functions.normalize import norm_initcap, norm_upper, parse_string_array
from ..functions.relative_time import parse_relative_time
from ..operators.dims import DimSpec, build_date_dim, build_dims_batched
from ..operators.fact import join_star
from ..operators.ids import ranked_ids
from .star import _initcap
from .star import landing as enriched_orders

SKILL_KEYWORDS = (
    "sql", "python", "spark", "aws", "excel", "tableau", "java", "airflow",
    "docker", "kubernetes", "snowflake", "etl",
)

# The landing's natural ordering: job_natural_key ranks it.
_NK_ORDER = ["job_title", "employer_name", "job_posted_at_datetime_utc"]


def _fact_base(landing: DataFrame, now: Column, pins: list[DataFrame]) -> DataFrame:
    """The landing with parsed posting times and ``job_natural_key``:
    a dense, unique 1..N key, deterministic over the ordering tuples.

    It is derived WITHOUT funneling the full-width landing through a
    single-partition window: rank the DISTINCT ordering tuples on a
    narrow aggregate (tuple + count) by their running count, join each
    tuple's start (running count minus its own) back on the tuple
    (null-safe: posting dates can be null), and number duplicate
    tuples with a per-tuple partitioned ordinal. Values equal
    ``row_number() over (order by title, employer, utc)`` whenever the
    tuple is unique (it is, in every shipped landing); duplicate tuples
    get consecutive keys in arbitrary order."""
    base = landing.withColumn(
        "job_posted_at_ts", parse_relative_time("job_posted_at", now)
    ).withColumn(
        "job_posted_at_utc", F.to_timestamp("job_posted_at_datetime_utc")
    )
    tuples = base.groupBy(*_NK_ORDER).agg(F.count("*").alias("__cnt"))
    starts = ranked_ids(tuples, _NK_ORDER, "__end", pins, weight="__cnt").select(
        *[F.col(c).alias(f"__k{i}") for i, c in enumerate(_NK_ORDER)],
        (F.col("__end") - F.col("__cnt")).alias("__start"),
    )
    cond = None
    for i, c in enumerate(_NK_ORDER):
        eq = base[c].eqNullSafe(starts[f"__k{i}"])
        cond = eq if cond is None else (cond & eq)
    w_tuple = Window.partitionBy(*_NK_ORDER).orderBy(*_NK_ORDER)
    return (
        base.join(starts, cond, "left")
        .drop(*[f"__k{i}" for i in range(len(_NK_ORDER))])
        .withColumn(
            "job_natural_key",
            (F.col("__start") + F.row_number().over(w_tuple)).cast("int"),
        )
        .drop("__start")
    )


def _dim_specs(base: DataFrame) -> list[DimSpec]:
    skills = base.select(
        "job_natural_key",
        F.explode(
            F.coalesce(
                parse_string_array("skills"), F.array().cast("array<string>")
            )
        ).alias("skill_raw"),
    ).filter(F.col("skill_raw") != "")
    return [
        # employers scale with the data: no broadcast pin; Catalyst/AQE
        # broadcast the dim while it fits
        DimSpec(
            "company", base, [norm_upper("employer_name").alias("employer_name")],
            "company_sk", broadcast=False,
        ),
        DimSpec(
            "publisher", base, [norm_initcap("job_publisher").alias("publisher_name")],
            "publisher_sk",
        ),
        DimSpec(
            "employment_type", base,
            [norm_initcap("job_employment_type").alias("employment_type_name")],
            "employment_type_sk",
        ),
        DimSpec(
            "location", base,
            [F.col(c) for c in ("job_location", "job_city", "job_state", "job_country")],
            "location_sk",
        ),
        DimSpec(
            "skill", skills, [norm_initcap("skill_raw").alias("skill_name")], "skill_sk"
        ),
    ]


def build_star_schema(
    landing: DataFrame, pins: list[DataFrame], now: Column | None = None
) -> dict[str, DataFrame]:
    """Landing job_listings → the 9 warehouse tables (reference
    ``dags/spark_etl_script.py:92-189``).

    ``pins`` receives every frame the build persists or checkpoints;
    the caller owns them and frees them with ``ids.release_pins`` (the
    ``jl_*`` queries hand them to ``cachereg.memo``). ``now`` anchors
    relative-time parsing (pass a literal for replayable runs; defaults
    to current_timestamp() like the reference's utcnow()).

    The fact PK ``job_posting_pk`` and the dim key ``job_sk`` are both
    the natural key, so the bridge keys on it without a fact join."""
    base = _fact_base(landing, F.current_timestamp() if now is None else now, pins)
    specs = _dim_specs(base)
    dims = build_dims_batched(specs, pins)
    dim_date = build_date_dim(base, "job_posted_at_utc")
    dim_job_details = base.select(
        F.col("job_natural_key").alias("job_sk"),
        F.trim("job_title").alias("job_title"),
        "job_description",
        # faithful F12: array schema on an object payload → always null
        F.from_json("job_highlights", "array<string>").alias("job_highlights_array"),
        # corrected default the engine actually serves
        F.from_json("job_highlights", "map<string,array<string>>").alias(
            "job_highlights_map"
        ),
        F.col("job_is_remote").cast("boolean").alias("job_is_remote"),
        "job_posted_at",
        "job_posted_at_utc",
    )
    fact = join_star(base, dims, specs, "job_posted_at_utc", dim_date).select(
        F.col("job_natural_key").alias("job_posting_pk"),
        F.col("job_natural_key").alias("job_sk"),
        "company_sk",
        "location_sk",
        "date_sk",
        "employment_type_sk",
        "publisher_sk",
        F.lit(1).alias("job_count"),
    )
    skill = specs[-1]
    bridge = (
        skill.source.select("job_natural_key", *skill.keys)
        .join(F.broadcast(dims["skill"]), "skill_name")
        .select(F.col("job_natural_key").alias("job_posting_pk"), "skill_sk")
        .distinct()
    )
    return {
        **{f"DIM_{tag.upper()}": d for tag, d in dims.items()},
        "DIM_DATE": dim_date,
        "DIM_JOB_DETAILS": dim_job_details,
        "FACT_JOB_POSTINGS": fact,
        "BRIDGE_JOB_SKILL": bridge,
    }


def landing_from_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A reference-shaped ``job_listings`` landing derived from the
    driver's parquet tables with pure column expressions — every column
    is reproducible in ANSI SQL, which makes the ENTIRE reference
    pipeline (relative-time parse, dirty-string normalization,
    serialized-skills parse → explode → bridge) DuckDB-oracle-checkable
    end to end, not just rows-only.

    Mapping: one landing row per order; employer ← customer (with
    case dirt), publisher ← order priority, employment type ← order
    status, geography ← nation/region, posting date ← order date
    (nulled for every 7th key), relative-time strings cycle through the
    reference grammar incl. unparseable forms (F11 null path), skills ←
    a Python-repr-style serialized pair of keywords indexed by order
    key (the reference's CSV transport shape,
    ``dags/spark_etl_script.py:132-135``). Titles carry the order key,
    so the ordering tuples are unique."""
    k = F.col("o_orderkey")
    kws = F.array(*[F.lit(x) for x in SKILL_KEYWORDS])
    kw1 = F.element_at(kws, (k % 12 + 1).cast("int"))
    kw2 = F.element_at(kws, ((k * 5 + 2) % 12 + 1).cast("int"))
    return enriched_orders(spark, sf_dir).select(
        F.concat(F.lit("Engineer "), k.cast("string")).alias("job_title"),
        F.when(k % 3 == 0, F.upper("c_name"))
        .otherwise(F.lower("c_name"))
        .alias("employer_name"),
        F.col("o_orderpriority").alias("job_publisher"),
        F.when(F.col("o_orderstatus") == "O", F.lit(" full-time "))
        .when(F.col("o_orderstatus") == "F", F.lit("PART-TIME"))
        .otherwise(F.lit("contract"))
        .alias("job_employment_type"),
        F.concat(F.lit("We use "), kw1, F.lit(" and "), kw2, F.lit(" daily.")).alias(
            "job_description"
        ),
        (k % 4 == 0).alias("job_is_remote"),
        F.when(k % 5 == 0, F.concat((k % 23 + 1).cast("string"), F.lit(" days ago")))
        .when(k % 5 == 1, F.concat((k % 11 + 1).cast("string"), F.lit(" hours ago")))
        .when(k % 5 == 2, F.lit("yesterday"))
        .when(k % 5 == 3, F.lit("3 weeks ago"))
        .otherwise(F.lit("just posted"))
        .alias("job_posted_at"),
        F.when(k % 7 != 0, F.date_format("o_orderdate", "yyyy-MM-dd")).alias(
            "job_posted_at_datetime_utc"
        ),
        F.concat("n_name", F.lit(", "), "r_name").alias("job_location"),
        F.col("n_name").alias("job_city"),
        F.col("r_name").alias("job_state"),
        F.col("n_name").alias("job_country"),
        F.concat(
            F.lit('{"Qualifications": ["'), kw1, F.lit('"], "Benefits": []}')
        ).alias("job_highlights"),
        F.concat(F.lit('["'), kw1, F.lit('", "'), kw2, F.lit('"]')).alias("skills"),
    )


def _jl_star(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Memoized star build over the parquet-derived landing: the nine
    per-table checked queries share one plan-construction pass."""
    return cachereg.memo(
        spark,
        sf_dir,
        "jl_star",
        "star",
        lambda pins: build_star_schema(landing_from_orders(spark, sf_dir), pins),
    )


def jl_fact_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference-shaped FACT_JOB_POSTINGS over the parquet-derived
    landing — the full ``dags/spark_etl_script.py`` fact path under the
    DuckDB value-hash gate. The oracle ranks the natural key a second
    time, as the reference does, so the gate also checks that
    ``job_posting_pk`` equals that rank; ``jl_fact_fallback_checked``
    is the same plan and oracle."""
    return _jl_star(spark, sf_dir)["FACT_JOB_POSTINGS"]


def jl_bridge_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIDGE_JOB_SKILL over the parquet-derived landing: serialized
    skills → translate/split parse → explode → initcap dim → distinct
    (natural key as fact PK, skill) pairs
    (``dags/spark_etl_script.py:132-144,175-179``), oracle-checked
    against the reference's fact join."""
    return _jl_star(spark, sf_dir)["BRIDGE_JOB_SKILL"]


def _jl_table(name: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _jl_star(spark, sf_dir)[name]

    q.__name__ = f"jl_{name.lower()}_checked"
    q.__doc__ = (
        f"{name} of the reference-shaped warehouse over the parquet-"
        "derived landing (dags/spark_etl_script.py:92-144), under the "
        "DuckDB value-hash gate."
    )
    return q


def jl_dim_job_details_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIM_JOB_DETAILS (``dags/spark_etl_script.py:122-130``) minus the
    corrected map-parse column (map values are not ANSI-SQL-hashable;
    the faithful always-null ``job_highlights_array`` — the reference's
    F12 schema bug reproduced — IS checked)."""
    return _jl_star(spark, sf_dir)["DIM_JOB_DETAILS"].drop("job_highlights_map")


# --- DuckDB oracles -------------------------------------------------------

_KW_LIST = "[" + ", ".join(f"'{k}'" for k in SKILL_KEYWORDS) + "]"

_JL_PREFIX = f"""
WITH enriched AS (
  SELECT o.*, c.c_name, n.n_name, r.r_name
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
),
jl AS (
  SELECT
    'Engineer ' || CAST(o_orderkey AS VARCHAR) AS job_title,
    CASE WHEN o_orderkey % 3 = 0 THEN upper(c_name) ELSE lower(c_name) END AS employer_name,
    o_orderpriority AS job_publisher,
    CASE o_orderstatus WHEN 'O' THEN ' full-time ' WHEN 'F' THEN 'PART-TIME'
         ELSE 'contract' END AS job_employment_type,
    'We use ' || {_KW_LIST}[CAST(o_orderkey % 12 AS INT) + 1] || ' and '
      || {_KW_LIST}[CAST((o_orderkey * 5 + 2) % 12 AS INT) + 1] || ' daily.'
      AS job_description,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN CAST(o_orderkey % 23 + 1 AS VARCHAR) || ' days ago'
      WHEN 1 THEN CAST(o_orderkey % 11 + 1 AS VARCHAR) || ' hours ago'
      WHEN 2 THEN 'yesterday'
      WHEN 3 THEN '3 weeks ago'
      ELSE 'just posted' END AS job_posted_at,
    o_orderkey % 4 = 0 AS job_is_remote,
    CASE WHEN o_orderkey % 7 != 0 THEN strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') END
      AS job_posted_at_datetime_utc,
    n_name || ', ' || r_name AS job_location,
    n_name AS job_city, r_name AS job_state, n_name AS job_country,
    {_KW_LIST}[CAST(o_orderkey % 12 AS INT) + 1] AS kw1,
    {_KW_LIST}[CAST((o_orderkey * 5 + 2) % 12 AS INT) + 1] AS kw2
  FROM enriched
),
base AS (
  SELECT jl.*,
    CAST(row_number() OVER (
      ORDER BY job_title NULLS FIRST, employer_name NULLS FIRST,
               job_posted_at_datetime_utc NULLS FIRST
    ) AS INT) AS job_natural_key,
    CAST(job_posted_at_datetime_utc AS TIMESTAMP) AS job_posted_at_utc
  FROM jl
),
dim_company AS (
  SELECT CAST(row_number() OVER (ORDER BY employer_name) AS INT) AS company_sk,
         employer_name
  FROM (SELECT DISTINCT trim(upper(employer_name)) AS employer_name FROM base)
  WHERE employer_name IS NOT NULL
),
dim_publisher AS (
  SELECT CAST(row_number() OVER (ORDER BY publisher_name) AS INT) AS publisher_sk,
         publisher_name
  FROM (SELECT DISTINCT trim({_initcap('job_publisher')}) AS publisher_name FROM base)
  WHERE publisher_name IS NOT NULL
),
dim_employment_type AS (
  SELECT CAST(row_number() OVER (ORDER BY employment_type_name) AS INT) AS employment_type_sk,
         employment_type_name
  FROM (SELECT DISTINCT trim({_initcap('job_employment_type')}) AS employment_type_name FROM base)
  WHERE employment_type_name IS NOT NULL
),
dim_location AS (
  SELECT CAST(row_number() OVER (
           ORDER BY job_location, job_city, job_state, job_country
         ) AS INT) AS location_sk,
         job_location, job_city, job_state, job_country
  FROM (SELECT DISTINCT job_location, job_city, job_state, job_country FROM base)
  WHERE job_location IS NOT NULL
),
dim_date AS (
  SELECT DISTINCT
    CAST(strftime(CAST(job_posted_at_utc AS DATE), '%Y%m%d') AS INT) AS date_sk,
    CAST(job_posted_at_utc AS DATE) AS full_date,
    dayname(CAST(job_posted_at_utc AS DATE)) AS day_of_week,
    monthname(CAST(job_posted_at_utc AS DATE)) AS month_name,
    CAST(month(job_posted_at_utc) AS INT) AS month_number,
    CAST(quarter(job_posted_at_utc) AS INT) AS quarter_number,
    CAST(year(job_posted_at_utc) AS INT) AS year_number
  FROM base WHERE job_posted_at_utc IS NOT NULL
),
skills AS (
  SELECT job_natural_key, unnest([kw1, kw2]) AS skill_raw FROM base
),
dim_skill AS (
  SELECT CAST(row_number() OVER (ORDER BY skill_name) AS INT) AS skill_sk, skill_name
  FROM (SELECT DISTINCT trim({_initcap('skill_raw')}) AS skill_name
        FROM skills WHERE skill_raw != '')
  WHERE skill_name IS NOT NULL
),
fact AS (
  SELECT
    CAST(row_number() OVER (ORDER BY b.job_natural_key) AS INT) AS job_posting_pk,
    b.job_natural_key AS job_sk,
    dc.company_sk, dl.location_sk, dd.date_sk,
    de.employment_type_sk, dp.publisher_sk,
    1 AS job_count
  FROM base b
  LEFT JOIN dim_company dc ON trim(upper(b.employer_name)) = dc.employer_name
  LEFT JOIN dim_publisher dp
    ON trim({_initcap('b.job_publisher')}) = dp.publisher_name
  LEFT JOIN dim_employment_type de
    ON trim({_initcap('b.job_employment_type')}) = de.employment_type_name
  LEFT JOIN dim_location dl
    ON b.job_location = dl.job_location AND b.job_city = dl.job_city
   AND b.job_state = dl.job_state AND b.job_country = dl.job_country
  LEFT JOIN dim_date dd ON CAST(b.job_posted_at_utc AS DATE) = dd.full_date
)"""

QUERIES = {
    "jl_fact_checked": jl_fact_checked,
    "jl_fact_fallback_checked": jl_fact_checked,
    "jl_bridge_checked": jl_bridge_checked,
    "jl_dim_company_checked": _jl_table("DIM_COMPANY"),
    "jl_dim_publisher_checked": _jl_table("DIM_PUBLISHER"),
    "jl_dim_employment_type_checked": _jl_table("DIM_EMPLOYMENT_TYPE"),
    "jl_dim_location_checked": _jl_table("DIM_LOCATION"),
    "jl_dim_date_checked": _jl_table("DIM_DATE"),
    "jl_dim_skill_checked": _jl_table("DIM_SKILL"),
    "jl_dim_job_details_checked": jl_dim_job_details_checked,
}

_JL_FACT_ORACLE = f"{_JL_PREFIX} SELECT * FROM fact"

ORACLES = {
    "jl_fact_checked": _JL_FACT_ORACLE,
    "jl_fact_fallback_checked": _JL_FACT_ORACLE,
    "jl_bridge_checked": f"""{_JL_PREFIX}
SELECT DISTINCT f.job_posting_pk, ds.skill_sk
FROM skills s
JOIN dim_skill ds ON trim({_initcap('s.skill_raw')}) = ds.skill_name
JOIN fact f ON s.job_natural_key = f.job_sk""",
    "jl_dim_company_checked": f"{_JL_PREFIX} SELECT * FROM dim_company",
    "jl_dim_publisher_checked": f"{_JL_PREFIX} SELECT * FROM dim_publisher",
    "jl_dim_employment_type_checked": (
        f"{_JL_PREFIX} SELECT * FROM dim_employment_type"
    ),
    "jl_dim_location_checked": f"{_JL_PREFIX} SELECT * FROM dim_location",
    "jl_dim_date_checked": f"{_JL_PREFIX} SELECT * FROM dim_date",
    "jl_dim_skill_checked": f"{_JL_PREFIX} SELECT * FROM dim_skill",
    "jl_dim_job_details_checked": f"""{_JL_PREFIX}
SELECT job_natural_key AS job_sk,
       trim(job_title) AS job_title,
       job_description,
       CAST(NULL AS VARCHAR[]) AS job_highlights_array,
       job_is_remote,
       job_posted_at,
       job_posted_at_utc
FROM base""",
}


def synth_job_listings(spark: SparkSession, n: int = 200) -> DataFrame:
    """Deterministic reference-shaped landing table (FIXTURES.md
    fixture 2): dirty employment types (en-dash variants), relative
    posting times, JSON-object highlights, serialized skills lists."""
    import json

    from ..sources.readers import JOB_LISTINGS_SCHEMA, conform_schema

    companies = ["acme corp", " ACME CORP", "Globex", "initech ", "Umbrella", "Stark Industries"]
    publishers = ["linkedin", "INDEED", "glassdoor ", "ziprecruiter"]
    emp_types = ["Full-time", "full–time", "Part-time", "CONTRACT", "Full-time and Part-time"]
    cities = [("Washington", "District of Columbia", "US", "Washington, DC"),
              ("Tokyo", "Tokyo", "JP", "Tokyo"),
              ("Pune", "Maharashtra", "IN", "Pune, Maharashtra"),
              ("Moscow", "Moscow", "RU", "Moscow")]
    rel = ["{} hours ago", "{} days ago", "yesterday", "3 weeks ago", "just posted"]
    rows = []
    for i in range(n):
        city, state, country, loc = cities[i % len(cities)]
        sk = sorted({SKILL_KEYWORDS[i % 12], SKILL_KEYWORDS[(i * 5 + 2) % 12]})
        highlights = {
            "Qualifications": [f"{sk[0]} experience", "BS degree"],
            "Benefits": ["health", "dental"] if i % 3 else [],
            "Responsibilities": [f"build {sk[-1]} pipelines"],
        }
        r = rel[i % len(rel)]
        rows.append(
            {
                "job_title": f"  Engineer {i % 17} ",
                "employer_name": companies[i % len(companies)],
                "job_publisher": publishers[i % len(publishers)],
                "job_employment_type": emp_types[i % len(emp_types)],
                "job_description": f"We use {sk[0]} and {sk[-1]} daily. Requires {sk[0]}.",
                "job_is_remote": i % 4 == 0,
                "job_posted_at": r.format((i % 23) + 1),
                "job_posted_at_datetime_utc": f"2025-06-{(i % 28) + 1:02d}T00:00:00.000Z",
                "job_location": loc,
                "job_city": city,
                "job_state": state,
                "job_country": country,
                "job_highlights": json.dumps(highlights),
                "skills": json.dumps(sk),
            }
        )
    return conform_schema(spark.createDataFrame(rows), JOB_LISTINGS_SCHEMA)
