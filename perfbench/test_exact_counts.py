"""The counts ``run.py`` declares exact repeat exactly across two short
iterations at sf0.01 (after the cold one), on the benchmark's tables.
The two iterations run the queries in different orders, as runs with
different seeds do.

Starts a local Spark session (about two minutes on 4 cores):

    python3 -m pytest perfbench/test_exact_counts.py -q

Run from the repository root.
"""

from __future__ import annotations

import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
import workloads as wl  # noqa: E402
from probes import SparkProbe  # noqa: E402
from spans import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def ctx():
    work = os.path.join(ROOT, ".perfbench_work")
    run._isolate(work)
    from end_to_end_data_engineering_job_listings_etl_spark import registry
    from end_to_end_data_engineering_job_listings_etl_spark.session import get_spark

    spark = get_spark(cpus=len(os.sched_getaffinity(0)))
    sf_dir = datagen.ensure_dataset(
        os.path.join(work, "data", f"seed{run.DATA_SEED}_sf{run.SF}"), run.DATA_SEED, run.SF
    )
    out_dir = os.path.join(work, "etl_out", "test")
    wl.reset_dir(out_dir)
    yield wl.Ctx(
        spark=spark, sf_dir=sf_dir, out_dir=out_dir,
        queries=registry.all_queries(), oracles=registry.all_oracles(),
        tracer=Tracer(False), spark_probe=SparkProbe(spark),
    )
    spark.stop()


@pytest.mark.parametrize("name", [n for n, keys in run.EXACT_COUNTS.items() if keys])
def test_declared_exact_counts_repeat(ctx, name):
    workload = wl.WORKLOADS[name]
    orders = [list(workload.queries) for _ in range(3)]
    for seed, order in enumerate(orders[1:], start=1):
        random.Random(seed).shuffle(order)
    wl.counted_iteration(ctx, workload, 0, orders[0])  # cold
    first, _ = wl.counted_iteration(ctx, workload, 1, orders[1])
    second, _ = wl.counted_iteration(ctx, workload, 2, orders[2])
    for key in run.EXACT_COUNTS[name]:
        assert first[key] == second[key], (key, first[key], second[key])
    assert first["spark.jobs"] > 0


def test_exact_counts_are_declared_for_every_workload():
    assert set(run.EXACT_COUNTS) == set(wl.WORKLOADS)
