"""Single-JVM session-state probe (VERDICT r9 next-round #1).

Runs headline queries SEQUENTIALLY in ONE process at the given SF and
records, after each query (post System.gc()): JVM heap used, unified
storage memory in use, count/bytes of persisted RDDs, metaspace, and
live/terminated stream counts — so the "what accumulates across ~24
sf10 queries in a 16 GB heap" question is answered by measurement,
not archaeology.

Usage:
    SPARK_GRAFT_DRIVER_MEM=16g python scripts_dev/heap_probe.py \
        [SF_DIR] [N_NAMES] [--boundary] [OUT.json]

--boundary: after each query, run the cachereg query-boundary sweep
(evict within-dataset caches + drop Derby + resetTerminated) — the
A/B arm that shows whether bounding state removes the growth.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import bench  # noqa: E402
from end_to_end_data_engineering_job_listings_etl_spark import registry  # noqa: E402
from end_to_end_data_engineering_job_listings_etl_spark.session import get_spark  # noqa: E402


def jvm_stats(spark) -> dict:
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    time.sleep(0.3)
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap = mx.getHeapMemoryUsage()
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    meta = code = 0
    for i in range(pools.size()):
        p = pools.get(i)
        n = p.getName()
        if "Metaspace" in n:
            meta += p.getUsage().getUsed()
        if "CodeHeap" in n or "Code Cache" in n:
            code += p.getUsage().getUsed()
    sc = spark.sparkContext
    infos = sc._jsc.sc().getRDDStorageInfo()
    n_rdd = len(infos)
    mem = sum(i.memSize() for i in infos)
    disk = sum(i.diskSize() for i in infos)
    return {
        "heap_mb": round(heap.getUsed() / 2**20),
        "heap_max_mb": round(heap.getMax() / 2**20),
        "metaspace_mb": round(meta / 2**20),
        "codecache_mb": round(code / 2**20),
        "persisted_rdds": n_rdd,
        "storage_mem_mb": round(mem / 2**20),
        "storage_disk_mb": round(disk / 2**20),
        "streams_active": len(spark.streams.active),
    }


def derby_calibration(sf_dir: str, out: Path) -> int:
    """VERDICT r10 #6: the Derby landing's unmanaged-heap estimate
    is a staged-CSV-bytes proxy; calibrate it against MEASURED heap
    growth. Protocol: gc'd heap before → build the Derby landing
    (src_jdbc_landing) → gc'd heap after (Derby page cache + staged
    state now live) → read the estimate → evict the family → gc'd heap
    once more (how much the eviction actually returns). The heap delta
    is an upper bound on Derby's true footprint (it also includes
    residual Spark session state from the query itself), so
    estimate/delta < 1 means the proxy UNDER-counts at most by the
    stated ratio; the post-evict heap shows the recoverable share."""
    from end_to_end_data_engineering_job_listings_etl_spark import cachereg

    spark = get_spark(app_name="derby-calib")
    qs = registry.all_queries()
    before = jvm_stats(spark)
    t0 = time.time()
    qs["src_jdbc_landing"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    sec = round(time.time() - t0, 1)
    after = jvm_stats(spark)
    est = cachereg.unmanaged_estimates(spark)
    est_mb = round(est.get("derby", 0) / 2**20, 1)
    # evict ONLY the derby family, then measure what came back
    cachereg.evict(spark, family="derby")
    post = jvm_stats(spark)
    delta_mb = after["heap_mb"] - before["heap_mb"]
    row = {
        "sf_dir": sf_dir,
        "query_sec": sec,
        "heap_before_mb": before["heap_mb"],
        "heap_after_mb": after["heap_mb"],
        "heap_after_evict_mb": post["heap_mb"],
        "heap_delta_mb": delta_mb,
        "recovered_on_evict_mb": after["heap_mb"] - post["heap_mb"],
        "estimated_unmanaged_mb": est_mb,
        "estimate_over_delta": round(est_mb / delta_mb, 2) if delta_mb else None,
        "estimates_all": {k: round(v / 2**20, 1) for k, v in est.items()},
    }
    out.write_text(json.dumps(row, indent=1) + "\n")
    print(json.dumps(row, indent=1))
    return 0


def main() -> int:
    flags = {"--boundary", "--derby"}
    args = [a for a in sys.argv[1:] if a not in flags]
    boundary = "--boundary" in sys.argv[1:]
    if "--derby" in sys.argv[1:]:
        return derby_calibration(
            args[0] if args else "/tmp/sf10",
            Path(args[1]) if len(args) > 1 else (
                REPO / "scripts_dev" / "derby_calib.json"
            ),
        )
    sf_dir = args[0] if len(args) > 0 else "/tmp/sf10"
    n_names = int(args[1]) if len(args) > 1 else 30
    out = Path(args[2]) if len(args) > 2 else (
        REPO / "scripts_dev" / f"heap_probe{'_boundary' if boundary else ''}.json"
    )

    spark = get_spark(app_name="heap-probe")
    qs = registry.all_queries()
    names = bench.HEADLINE[:n_names]

    rows = []
    rows.append({"name": "__start__", "sec": 0.0, **jvm_stats(spark)})
    print(json.dumps(rows[-1]), flush=True)
    for name in names:
        t0 = time.time()
        err = None
        try:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            err = f"{type(e).__name__}: {e}"[:200]
        if boundary:
            from end_to_end_data_engineering_job_listings_etl_spark import cachereg

            cachereg.query_boundary(spark)
        row = {
            "name": name,
            "sec": round(time.time() - t0, 1),
            **jvm_stats(spark),
            **({"err": err} if err else {}),
        }
        rows.append(row)
        print(json.dumps(row), flush=True)
        out.write_text(json.dumps(rows, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
