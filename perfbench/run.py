"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload etl_rebuild --seed 1 --seconds 10 --trace 0

Run from the repository root. The tables are generated once, from a
fixed seed (``perfbench/datagen.py``), under ``.perfbench_work/`` in the
current directory; ``--seed`` permutes the order of the workload's
queries. That directory also receives every file Spark, DuckDB and the
run itself write: the run artifact (iteration record, host context,
failures) and, with ``--trace 1``, the spans.

A run measures one cold iteration in a fresh process, which takes
longer than ``--seconds``; ``--seconds`` is recorded in the artifact.

The last line of stdout is ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The exit code is non-zero when any query
fails or returns a wrong result, and 2 when the package is missing.
See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PKG = "end_to_end_data_engineering_job_listings_etl_spark"
SF = 0.01
# Every run reads the same tables; the package's fixtures use seed 42.
DATA_SEED = 42

# End-to-end metrics (tracing off) and their units.
E2E_UNITS = {
    "setup_s": "s",
    "iter_s": "s",
    "state_mb": "MB",
}

# Per-layer metrics (tracing on) and their units. Times are self times,
# summed over the measured iteration. A layer that the workload does not
# load reads 0 (no bound applies to a per-layer metric).
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "spark.exec_s": "s",
    "spark.exec_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.python_run_s": "s",
    "spark.python_start_s": "s",
    "spark.python_bytes_sent": "B",
    "catalog.load_s": "s",
    "catalog.load_calls": "count",
    "operators.dims.build_s": "s",
    "operators.ids.rank_s": "s",
    "operators.dedup.cc_s": "s",
    "operators.dedup.cc_jobs": "count",
    "cachereg.boundary_s": "s",
    "cachereg.evict_s": "s",
    "cachereg.pinned_mb": "MB",
    "sinks.write_s": "s",
    "sinks.bytes_written": "B",
    "sinks.files_written": "count",
    "jvm.gc_s": "s",
    "jvm.heap_used_mb": "MB",
    "trace.iter_s": "s",
}

# Span name -> per-layer self-time metric.
SPAN_METRICS = {
    "plans.build": "plans.build_s",
    "spark.exec": "spark.exec_s",
    "catalog.load": "catalog.load_s",
    "operators.dims.build": "operators.dims.build_s",
    "operators.ids.rank": "operators.ids.rank_s",
    "operators.dedup.cc": "operators.dedup.cc_s",
    "cachereg.boundary": "cachereg.boundary_s",
    "cachereg.evict": "cachereg.evict_s",
    "sinks.write": "sinks.write_s",
}

# (module under the package, attribute, span name): the public
# functions traced from outside.
TRACED = (
    ("catalog", "load_table", "catalog.load"),
    ("catalog", "load_table_dist", "catalog.load"),
    ("operators.dims", "build_dims_batched", "operators.dims.build"),
    ("operators.ids", "ranked_ids", "operators.ids.rank"),
    ("operators.dedup", "connected_components", "operators.dedup.cc"),
    ("cachereg", "query_boundary", "cachereg.boundary"),
    ("cachereg", "evict", "cachereg.evict"),
    ("sinks.writers", "overwrite_parquet_table", "sinks.write"),
)

# Counts that must repeat exactly from one run to the next, whatever
# the query order, per workload (perfbench/test_exact_counts.py shows
# it). Other counts are only reported and never gated on: job counts
# follow the query order, which decides which builder pays a shared
# build.
EXACT_COUNTS = {
    "etl_rebuild": ("sinks.files_written",),
    "curation_batch": (),
}


def _parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _isolate(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: HotSpot writes its perf-counter file under /tmp
    # whatever java.io.tmpdir says.
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def main() -> int:
    args = _parse_args()
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG}/ not found under {ROOT}; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import datagen
    import workloads as wl
    from spans import Tracer, overhead, self_times

    from probes import HostProbe, JvmProbe, SparkProbe

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    workload = wl.WORKLOADS[args.workload]
    host = HostProbe()
    work = os.path.join(ROOT, ".perfbench_work")
    _isolate(work)

    t_gen = time.perf_counter()
    sf_dir = datagen.ensure_dataset(os.path.join(work, "data", f"seed{DATA_SEED}_sf{SF}"), DATA_SEED, SF)
    gen_s = time.perf_counter() - t_gen

    # ---- set-up: session + table loads (timed from process start) ----
    t_sess = time.perf_counter()
    from end_to_end_data_engineering_job_listings_etl_spark import cachereg, catalog, registry
    from end_to_end_data_engineering_job_listings_etl_spark.session import get_spark

    spark = get_spark(cpus=len(os.sched_getaffinity(0)))
    session_start_s = time.perf_counter() - t_sess
    catalog.load_tables(spark, sf_dir, register=False)
    setup_s = time.perf_counter() - T_START - gen_s

    from tests.oracle_check import duckdb_conn

    con = duckdb_conn(sf_dir)
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb_tmp')}'")
    spark_probe = SparkProbe(spark)
    jvm = JvmProbe(spark)
    tracer = Tracer(bool(args.trace), counter=spark_probe.job_id)
    if args.trace:
        import importlib

        for mod, attr, span in TRACED:
            tracer.patch_everywhere(importlib.import_module(f"{PKG}.{mod}"), attr, span, PKG)

    out_dir = os.path.join(work, "etl_out", f"seed{args.seed}")
    wl.reset_dir(out_dir)
    ctx = wl.Ctx(
        spark=spark, sf_dir=sf_dir, out_dir=out_dir,
        queries=registry.all_queries(), oracles=registry.all_oracles(),
        tracer=tracer, spark_probe=spark_probe, con=con,
    )
    order = list(workload.queries)
    random.Random(args.seed).shuffle(order)

    # ---- the measured iteration: cold, in this fresh process ----
    gc0 = jvm.gc_s()
    rec, samples = wl.counted_iteration(ctx, workload, 0, order)
    iter_s = rec["wall_s"]
    state_mb = cachereg.pinned_bytes(spark) / 2**20
    rec.update({
        "order": order,
        "jvm.gc_s": jvm.gc_s() - gc0,
        "jvm.heap_used_mb": jvm.heap_used_mb(),
        "cachereg.pinned_mb": state_mb,
        "queries": {s.name: {"build_s": s.build_s, "exec_s": s.exec_s,
                             "build_jobs": s.build_jobs, "exec_jobs": s.exec_jobs}
                    for s in samples},
    })
    if args.trace:
        rec.update(spark_probe.drain())
    tracer.unpatch()  # the checks below are not traced

    # ---- checks outside the timed region ----
    t_check = time.perf_counter()
    checks = wl.check_against_oracle(ctx, workload)
    check_s = time.perf_counter() - t_check

    e2e = {"setup_s": setup_s, "iter_s": iter_s, "state_mb": state_mb}
    failed = len(ctx.failures)
    attempted = len(samples) + checks

    per_layer: dict[str, float] = {}
    trace_overhead = None
    if args.trace:
        st = self_times(tracer.spans)
        per_layer = {k: rec[k] for k in PER_LAYER_UNITS if k in rec}
        per_layer.update({metric: st.get(span, {}).get("self_s", 0.0) for span, metric in SPAN_METRICS.items()})
        per_layer["catalog.load_calls"] = st.get("catalog.load", {}).get("calls", 0)
        per_layer["operators.dedup.cc_jobs"] = st.get("operators.dedup.cc", {}).get("jobs", 0)
        per_layer["session.start_s"] = session_start_s
        per_layer["trace.iter_s"] = iter_s
        base = _untraced_baseline(work, args.workload, args.seed)
        if base is None:
            print(f"perfbench: no untraced run of {args.workload} with seed {args.seed} here; "
                  "run one first for the tracing overhead")
        else:
            trace_overhead = {"untraced_iter_s": base, **overhead(iter_s, base)}
            print(f"perfbench: tracing overhead {json.dumps(trace_overhead)}")

    host_ctx = host.read()
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "sf": SF, "data_seed": DATA_SEED, "datagen_s": gen_s, "session_start_s": session_start_s,
        "check_s": check_s, "end_to_end": e2e, "per_layer": per_layer, "trace_overhead": trace_overhead,
        "host": host_ctx, "exact_counts": list(EXACT_COUNTS[args.workload]),
        "attempted": attempted, "failed": failed, "failures": ctx.failures, "iteration": rec,
    }
    runs = os.path.join(work, "runs")
    os.makedirs(runs, exist_ok=True)
    stem = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time() * 1000)}")
    with open(stem + ".json", "w") as fh:
        json.dump(artifact, fh, indent=1)
    if args.trace:
        tracer.dump(stem + ".spans.jsonl")
        with open(stem + ".self_times.json", "w") as fh:
            json.dump(st, fh, indent=1)
    print(f"perfbench: artifact {os.path.relpath(stem, ROOT)}.json; host {json.dumps(host_ctx)}")
    for f in ctx.failures:
        print(f"perfbench: FAILED {f}")

    _shutdown(spark)
    units, values = (PER_LAYER_UNITS, per_layer) if args.trace else (E2E_UNITS, e2e)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if failed == 0 else 1


def _untraced_baseline(work: str, workload: str, seed: int) -> float | None:
    """iter_s of the newest correct untraced run of ``workload`` with
    the same seed in this checkout: same tables, same query order."""
    paths = glob.glob(os.path.join(work, "runs", f"{workload}-seed{seed}-trace0-*.json"))
    for path in sorted(paths, key=os.path.getmtime, reverse=True):
        with open(path) as fh:
            art = json.load(fh)
        if not art["failed"]:
            return art["end_to_end"]["iter_s"]
    return None


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
