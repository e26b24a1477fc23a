"""The reference pipeline itself, reference-shaped: landing
``job_listings`` → 7 dims + fact + bridge with the reference's own
table and column names. A user of the reference points this at their
landing table and gets the same star schema out.

Reference analog: the whole of ``dags/spark_etl_script.py:41-192``,
rebuilt on this engine's operators:
- UDF ``parse_relative_time`` (:12-29,:86-87) → native expressions
  with an injected deterministic ``now`` (functions/relative_time.py)
- ``monotonically_increasing_id`` natural key (:88) → deterministic
  row_number over the landing's natural ordering (documented
  deviation, SURVEY.md §7.3)
- per-dim select→filter→distinct→row_number (:92-144) → build_dim
- ``from_json`` with the reference's (wrong) array schema (:126) →
  reproduced faithfully: ``job_highlights_array`` is null for every
  object-shaped payload; the corrected map parse ships alongside as
  ``job_highlights_map``
- fact join chain (:157-173) and skill bridge (:175-179) → broadcast
  left joins on the same normalized expressions
- the 9 ``write_to_snowflake`` overwrite sinks (:181-189) →
  ``sinks.writers.overwrite_parquet_table`` / ``write_counted``

Tested end-to-end in tests/test_joblistings.py on a deterministic
synthetic landing (FIXTURES.md fixture-2 shape).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import cachereg
from ..functions.dates import date_attributes
from ..functions.keywords import extract_keywords
from ..functions.normalize import norm_initcap, norm_upper, parse_string_array
from ..functions.relative_time import parse_relative_time
from ..operators.dims import build_dim, build_dims_batched
from ..operators.ids import exclusive_prefix_sum, ranked_ids

SKILL_KEYWORDS = (
    "sql", "python", "spark", "aws", "excel", "tableau", "java", "airflow",
    "docker", "kubernetes", "snowflake", "etl",
)


def build_star_schema(
    landing: DataFrame,
    now: Column | None = None,
    sk_mode: str = "range",
    shared_out: list[DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """Landing job_listings → the 9 warehouse tables (reference
    ``dags/spark_etl_script.py:92-189``).

    ``now`` anchors relative-time parsing (pass a literal for
    replayable runs; defaults to current_timestamp() like the
    reference's utcnow()).

    With ``sk_mode="range"`` the five ranked dims are slices of one
    internally persisted frame (operators.dims.build_dims_batched);
    pass ``shared_out`` to take ownership of its lifetime (the memoized
    ``jl_*`` query layer hands it to ``cachereg.memo``)."""
    if now is None:
        now = F.current_timestamp()

    base = landing.withColumn(
        "job_posted_at_ts", parse_relative_time("job_posted_at", now)
    ).withColumn(
        "job_posted_at_utc", F.to_timestamp("job_posted_at_datetime_utc")
    )
    if "job_natural_key" not in base.columns:
        # Deterministic natural key (vs monotonically_increasing_id),
        # derived WITHOUT funneling the full-width landing through a
        # single-partition window: rank the DISTINCT ordering tuples on
        # a narrow 3-column aggregate (the only partitionless window —
        # it carries tuple + count, nothing wide), join the start-rank
        # back on the tuple (null-safe: posting dates can be null), and
        # disambiguate duplicate tuples with a per-tuple partitioned
        # ordinal. Values are identical to the reference-exact
        # ``row_number() over (order by title, employer, utc)`` whenever
        # the tuple is unique (it is, in every shipped landing); for
        # duplicate tuples the key stays dense + unique with arbitrary
        # tie order — exactly the old single-window behavior.
        ordering = ["job_title", "employer_name", "job_posted_at_datetime_utc"]
        tuples = (
            base.select(*ordering)
            .groupBy(*ordering)
            .agg(F.count("*").alias("__cnt"))
        )
        # Exclusive running start per distinct tuple via the
        # range/two-phase plan (operators.ids) — same values as the
        # old partitionless cumulative window (ASC NULLS FIRST pinned
        # on both, and in the oracle SQL), no one-partition stage.
        starts = exclusive_prefix_sum(
            # pin_input=False: `tuples` is a groupBy output whose
            # shuffle files are reused across the sampling + exchange
            # jobs (skipped stages).
            tuples,
            ordering,
            "__cnt",
            "__start",
            pin_input=False,
            pinned_out=shared_out,
        ).select(
            *[F.col(c).alias(f"__k{i}") for i, c in enumerate(ordering)],
            "__start",
        )
        cond = None
        for i, c in enumerate(ordering):
            eq = base[c].eqNullSafe(starts[f"__k{i}"])
            cond = eq if cond is None else (cond & eq)
        w_tuple = Window.partitionBy(*ordering).orderBy(*ordering)
        base = (
            base.join(starts, cond, "left")
            .drop(*[f"__k{i}" for i in range(len(ordering))])
            .withColumn(
                "job_natural_key",
                (F.col("__start") + F.row_number().over(w_tuple)).cast("int"),
            )
            .drop("__start")
        )

    skills = base.select(
        "job_natural_key",
        F.explode(
            F.coalesce(
                parse_string_array("skills"), F.array().cast("array<string>")
            )
        ).alias("skill_raw"),
    ).filter(F.col("skill_raw") != "")

    dim_specs = [
        (
            "company",
            base,
            [norm_upper("employer_name").alias("employer_name")],
            "company_sk",
        ),
        (
            "publisher",
            base,
            [norm_initcap("job_publisher").alias("publisher_name")],
            "publisher_sk",
        ),
        (
            "employment_type",
            base,
            [norm_initcap("job_employment_type").alias("employment_type_name")],
            "employment_type_sk",
        ),
        (
            "location",
            base,
            [
                F.col("job_location"),
                F.col("job_city"),
                F.col("job_state"),
                F.col("job_country"),
            ],
            "location_sk",
        ),
        ("skill", skills, [norm_initcap("skill_raw").alias("skill_name")], "skill_sk"),
    ]
    if sk_mode == "range":
        # One tagged union → one distinct → one grouped two-phase rank
        # for all five ranked dims (operators.dims.build_dims_batched)
        # instead of five independent distinct+rank pipelines.
        batched = build_dims_batched(dim_specs, shared_out=shared_out)
        dim_company = batched["company"]
        dim_publisher = batched["publisher"]
        dim_employment_type = batched["employment_type"]
        dim_location = batched["location"]
        dim_skill = batched["skill"]
    else:
        dim_company = build_dim(base, dim_specs[0][2], "company_sk", mode=sk_mode)
        dim_publisher = build_dim(base, dim_specs[1][2], "publisher_sk", mode=sk_mode)
        dim_employment_type = build_dim(
            base, dim_specs[2][2], "employment_type_sk", mode=sk_mode
        )
        dim_location = build_dim(base, dim_specs[3][2], "location_sk", mode=sk_mode)
        dim_skill = build_dim(skills, dim_specs[4][2], "skill_sk", mode=sk_mode)
    dim_date = (
        base.select(*date_attributes("job_posted_at_utc"))
        .filter(F.col("full_date").isNotNull())
        .distinct()
    )

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

    f = base
    # dim_company scales with the employer population (O(data)) — no
    # broadcast pin; Catalyst/AQE broadcast it while it fits. The
    # bounded-domain dims below (publisher/employment type/location/
    # date: small fixed vocabularies) keep the explicit hint.
    j = f.join(
        dim_company,
        norm_upper(f["employer_name"]) == dim_company["employer_name"],
        "left",
    ).drop(dim_company["employer_name"])
    j = j.join(
        F.broadcast(dim_publisher),
        norm_initcap(j["job_publisher"]) == dim_publisher["publisher_name"],
        "left",
    )
    j = j.join(
        F.broadcast(dim_employment_type),
        norm_initcap(j["job_employment_type"])
        == dim_employment_type["employment_type_name"],
        "left",
    )
    j = j.join(F.broadcast(dim_location), ["job_location", "job_city", "job_state", "job_country"], "left")
    j = j.join(
        F.broadcast(dim_date),
        F.to_date(j["job_posted_at_utc"]) == dim_date["full_date"],
        "left",
    )
    # fact PK on a narrow projection of the (unique) natural key via
    # the range/two-phase rank (operators.ids — no single-partition
    # window), joined back 1:1: neither the wide joined frame nor the
    # keys funnel through one task.
    pk_map = ranked_ids(
        base.select("job_natural_key"),
        ["job_natural_key"],
        "job_posting_pk",
        pinned_out=shared_out,
    )
    # the pk map has one row per posting — fact-scale, never pinned
    # to broadcast (a pinned 15M-row build OOMed the sf10 gate)
    j = j.join(pk_map, "job_natural_key")
    fact = j.select(
        F.col("job_posting_pk"),
        F.col("job_natural_key").alias("job_sk"),
        "company_sk",
        "location_sk",
        "date_sk",
        "employment_type_sk",
        "publisher_sk",
        F.lit(1).alias("job_count"),
    )

    bridge = (
        skills.select(
            "job_natural_key", norm_initcap("skill_raw").alias("skill_name")
        )
        .join(F.broadcast(dim_skill), "skill_name")
        .join(
            fact.select("job_posting_pk", "job_sk"),
            F.col("job_natural_key") == F.col("job_sk"),
        )
        .select("job_posting_pk", "skill_sk")
        .distinct()
    )

    return {
        "DIM_COMPANY": dim_company,
        "DIM_PUBLISHER": dim_publisher,
        "DIM_EMPLOYMENT_TYPE": dim_employment_type,
        "DIM_LOCATION": dim_location,
        "DIM_DATE": dim_date,
        "DIM_JOB_DETAILS": dim_job_details,
        "DIM_SKILL": dim_skill,
        "FACT_JOB_POSTINGS": fact,
        "BRIDGE_JOB_SKILL": bridge,
    }


def landing_from_orders(
    spark: SparkSession,
    sf_dir: str,
    with_natural_key: bool = True,
    pinned_out: list[DataFrame] | None = None,
) -> DataFrame:
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
    ``dags/spark_etl_script.py:132-135``)."""
    from .star import landing as enriched

    l = enriched(spark, sf_dir)
    k = F.col("o_orderkey")
    kws = F.array(*[F.lit(x) for x in SKILL_KEYWORDS])
    kw1 = F.element_at(kws, (k % 12 + 1).cast("int"))
    kw2 = F.element_at(kws, ((k * 5 + 2) % 12 + 1).cast("int"))
    # Natural key on a narrow 4-column projection, broadcast-joined
    # back on the unique order key: build_star_schema then skips its
    # full-width derivation (same values — row_number over the same
    # (title, employer, utc) ordering). Callers exercising the
    # no-key fallback pass with_natural_key=False so the key machinery
    # isn't built only to be dropped.
    key_cols = []
    if with_natural_key:
        nk_map = ranked_ids(
            l.select(
                "o_orderkey",
                F.concat(F.lit("Engineer "), k.cast("string")).alias("__t"),
                F.when(k % 3 == 0, F.upper("c_name"))
                .otherwise(F.lower("c_name"))
                .alias("__e"),
                F.when(k % 7 != 0, F.date_format("o_orderdate", "yyyy-MM-dd")).alias(
                    "__u"
                ),
            ),
            ["__t", "__e", "__u"],
            "job_natural_key",
            pinned_out=pinned_out,
        ).select("o_orderkey", "job_natural_key")
        l = l.join(nk_map, "o_orderkey")  # one row per order: fact-scale, no pin
        key_cols = [F.col("job_natural_key")]
    return l.select(
        *key_cols,
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
        lambda pins: build_star_schema(
            landing_from_orders(spark, sf_dir, pinned_out=pins), shared_out=pins
        ),
    )


def jl_fact_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference-shaped FACT_JOB_POSTINGS over the parquet-derived
    landing — the full ``dags/spark_etl_script.py`` fact path under the
    DuckDB value-hash gate."""
    return _jl_star(spark, sf_dir)["FACT_JOB_POSTINGS"]


def jl_fact_fallback_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FACT_JOB_POSTINGS with the natural key DERIVED by
    ``build_star_schema``'s fallback path (the landing arrives without
    ``job_natural_key``) — proves the scale-safe narrow-tuple
    derivation produces exactly the reference's
    ``row_number() over (order by title, employer, utc)`` values, under
    the DuckDB hash gate. The landing's titles are unique, so the
    distinct-tuple rank is a total order and the result is
    deterministic."""
    landing = landing_from_orders(spark, sf_dir, with_natural_key=False)
    return build_star_schema(landing)["FACT_JOB_POSTINGS"]


def jl_bridge_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIDGE_JOB_SKILL over the parquet-derived landing: serialized
    skills → translate/split parse → explode → initcap dim → fact join
    → distinct pairs (``dags/spark_etl_script.py:132-144,175-179``),
    oracle-checked."""
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

# DuckDB has no initcap; emulate Spark's whitespace-word initcap
# (upper first letter, lower the rest, whitespace preserved by
# split/join on single spaces).
def _initcap(expr: str) -> str:
    return (
        "array_to_string(list_transform(string_split({e}, ' '), "
        "w -> upper(w[1]) || lower(w[2:])), ' ')"
    ).format(e=expr)


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
    "jl_fact_fallback_checked": jl_fact_fallback_checked,
    "jl_bridge_checked": jl_bridge_checked,
    "jl_dim_company_checked": _jl_table("DIM_COMPANY"),
    "jl_dim_publisher_checked": _jl_table("DIM_PUBLISHER"),
    "jl_dim_employment_type_checked": _jl_table("DIM_EMPLOYMENT_TYPE"),
    "jl_dim_location_checked": _jl_table("DIM_LOCATION"),
    "jl_dim_date_checked": _jl_table("DIM_DATE"),
    "jl_dim_skill_checked": _jl_table("DIM_SKILL"),
    "jl_dim_job_details_checked": jl_dim_job_details_checked,
}

ORACLES = {
    "jl_fact_checked": f"{_JL_PREFIX} SELECT * FROM fact",
    "jl_fact_fallback_checked": f"{_JL_PREFIX} SELECT * FROM fact",
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
