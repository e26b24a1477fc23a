"""The benchmark's workloads: which registry queries one iteration runs,
how each is forced, and how its output is checked.

- ``etl_rebuild``: ``cachereg.evict`` then the reference pipeline
  rebuilt and written through ``sinks.writers.overwrite_parquet_table``,
  each table read back (``dags/spark_etl_script.py``, one spark-submit
  per run).
- ``curation_batch``: ten dedup / text-quality / pandas / similarity
  queries, each forced with the noop sink.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

from end_to_end_data_engineering_job_listings_etl_spark import cachereg
from end_to_end_data_engineering_job_listings_etl_spark.sinks import writers

from tests.oracle_check import compare

ETL_TABLES = (
    "fact_orders",
    "jl_fact_checked",
    "jl_bridge_checked",
    "jl_dim_company_checked",
    "jl_dim_publisher_checked",
    "jl_dim_employment_type_checked",
    "jl_dim_location_checked",
    "jl_dim_date_checked",
    "jl_dim_skill_checked",
    "jl_dim_job_details_checked",
)
# Tables whose read-back values are compared with the oracle; the
# others are checked by row count.
ETL_HASHED = ("fact_orders", "jl_fact_checked")
CURATION = (
    "dd_keep_best",
    "dd_duplicate_clusters",
    "dd_minhash_estimate",
    "text_gopher_rules",
    "text_quality_classifier",
    "text_decontaminate",
    "op_cogroup_pandas",
    "ml_kmeans_step",
    "sem_dedup_scaled",
    "er_best_match",
)


@dataclass
class Sample:
    """One query of one iteration: plan build and Spark execution."""

    name: str
    build_s: float
    exec_s: float
    build_jobs: int
    exec_jobs: int


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    out_dir: str
    queries: dict
    oracles: dict
    tracer: object
    spark_probe: object
    con: object = None
    readback_rows: dict[str, int] = field(default_factory=dict)
    # The frame each query returned in its latest iteration.
    frames: dict[str, object] = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    # cachereg.evict before each iteration, so the star is rebuilt
    evict_first: bool
    # write each result through the sinks and read it back, instead of
    # forcing it with the noop sink
    write_tables: bool


# Each run measures one cold iteration in a fresh process, as a
# scheduled job pays it.
WORKLOADS = {
    "etl_rebuild": Workload(ETL_TABLES, evict_first=True, write_tables=True),
    "curation_batch": Workload(CURATION, evict_first=False, write_tables=False),
}


def _force(ctx: Ctx, workload: Workload, name: str, df) -> None:
    if workload.write_tables:
        path = os.path.join(ctx.out_dir, name)
        writers.overwrite_parquet_table(df, path)
        ctx.readback_rows[name] = ctx.spark.read.parquet(path).count()
    else:
        df.write.format("noop").mode("overwrite").save()


def run_query(ctx: Ctx, workload: Workload, name: str) -> Sample:
    """Build the query through its registry callable, then force it.
    Job ids are read outside the timed spans."""
    tr, probe = ctx.tracer, ctx.spark_probe
    j0 = probe.job_id()
    try:
        t0 = time.perf_counter()
        with tr.span("plans.build"):
            df = ctx.queries[name](ctx.spark, ctx.sf_dir)
        t1 = time.perf_counter()
        ctx.frames[name] = df
        j1 = probe.job_id()
        t2 = time.perf_counter()
        with tr.span("spark.exec"):
            _force(ctx, workload, name, df)
        t3 = time.perf_counter()
    except Exception as exc:  # noqa: BLE001 - a failed query is counted, the run goes on
        ctx.failures.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
        return Sample(name, 0.0, 0.0, 0, 0)
    j2 = probe.job_id()
    return Sample(name, t1 - t0, t3 - t2, j1 - j0, j2 - j1)


def run_iteration(ctx: Ctx, workload: Workload, iteration: int, order: list[str]) -> tuple[float, list[Sample]]:
    """One iteration, queries in the given order. Returns its wall time
    and per-query samples."""
    ctx.tracer.iteration = iteration
    t0 = time.perf_counter()
    with ctx.tracer.span("iteration"):
        if workload.evict_first:
            cachereg.evict(ctx.spark, ctx.sf_dir)
        samples = [run_query(ctx, workload, name) for name in order]
    return time.perf_counter() - t0, samples


def counted_iteration(
    ctx: Ctx, workload: Workload, iteration: int, order: list[str]
) -> tuple[dict, list[Sample]]:
    """``run_iteration`` plus the counts read around it (outside the
    timed region): jobs and stages submitted, build/exec job split and
    the ETL output footprint."""
    probe = ctx.spark_probe
    j0, s0 = probe.job_id(), probe.stage_id()
    wall, samples = run_iteration(ctx, workload, iteration, order)
    sink_bytes, sink_files = sink_footprint(ctx.out_dir)
    rec = {
        "iteration": iteration,
        "wall_s": wall,
        "spark.jobs": probe.job_id() - j0,
        "spark.stages": probe.stage_id() - s0,
        "plans.build_jobs": sum(s.build_jobs for s in samples),
        "spark.exec_jobs": sum(s.exec_jobs for s in samples),
        "sinks.bytes_written": sink_bytes,
        "sinks.files_written": sink_files,
    }
    return rec, samples


def _check(ctx: Ctx, name: str, fn, *args) -> None:
    """Run one output check; a mismatch or an error is recorded as a
    failure of ``name``."""
    try:
        fn(*args)
    except AssertionError as exc:
        ctx.failures.append(f"{name}: {str(exc)[:400]}")
    except Exception as exc:  # noqa: BLE001 - a failed check is counted, the run goes on
        ctx.failures.append(f"{name}: check raised {type(exc).__name__}: {str(exc)[:300]}")


def _check_table(ctx: Ctx, name: str) -> None:
    path = os.path.join(ctx.out_dir, name)
    if name in ETL_HASHED:
        compare(ctx.spark.read.parquet(path), ctx.con, ctx.oracles[name], name)
        return
    want = ctx.con.execute(f"SELECT count(*) FROM ({ctx.oracles[name]})").fetchone()[0]
    got = ctx.readback_rows.get(name)
    assert got == want, f"read back {got} rows, oracle has {want}"


def _check_frame(ctx: Ctx, name: str, future) -> None:
    """Wait for the comparison of the query's frame with its oracle.
    When a later query has released localCheckpoint pins the frame
    depends on, Spark fails it on access (the package's designed
    fail-stop); the query is then built again through its registry
    callable and compared."""
    try:
        future.result()
    except Py4JJavaError:
        compare(ctx.queries[name](ctx.spark, ctx.sf_dir), ctx.con, ctx.oracles[name], name)


def check_against_oracle(ctx: Ctx, workload: Workload) -> int:
    """Compare every query of the workload with its DuckDB oracle
    (``tests/oracle_check.compare``). A written table is read back and
    compared value for value (``ETL_HASHED``) or by row count; a
    noop-forced query's frame is collected, four at a time. Returns the
    number of checks made."""
    names = list(workload.queries)
    if workload.write_tables:
        for name in names:
            _check(ctx, name, _check_table, ctx, name)
        return len(names)
    with ThreadPoolExecutor(max_workers=4) as pool:
        # one DuckDB cursor per comparison: a connection is not shared
        # between threads
        futures = {
            n: pool.submit(compare, ctx.frames[n], ctx.con.cursor(), ctx.oracles[n], n)
            for n in names
            if n in ctx.frames
        }
    # every collection has ended: a rebuild below runs alone
    for name in names:
        if name not in futures:
            ctx.failures.append(f"{name}: the query produced no frame")
            continue
        _check(ctx, name, _check_frame, ctx, name, futures[name])
    return len(names)


def sink_footprint(out_dir: str) -> tuple[int, int]:
    """(bytes, data files) under the ETL output directory."""
    n_bytes = n_files = 0
    for root, _, files in os.walk(out_dir):
        for f in files:
            if f.startswith("part-"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(root, f))
    return n_bytes, n_files


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
