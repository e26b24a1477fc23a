"""Eviction-rebuild proof (VERDICT r10 next-round #2): force the
cachereg state budget to fire mid-surface, then prove that re-running
an evicted family's query rebuilds from source and is ORACLE-GREEN —
the one lifecycle path the r10 artifacts exercised only implicitly.

Protocol (one JVM):
  1. Set a deliberately small state budget (default 1024 MB via
     $SPARK_GRAFT_STATE_BUDGET_MB unless the caller already set one).
  2. Walk N headline names (default 45) at the given SF with the noop
     sink, recording every query_boundary eviction event.
  3. For each FAMILY evicted at least once: evict it once more
     explicitly (so the checked run is guaranteed a cold rebuild),
     re-run a representative oracled query of that family, and compare
     against DuckDB — digest gate above the row threshold, strict
     (driver-hash) below, exactly like the sweep harness.
  4. Artifact: walk events + per-family rebuild verdicts; exit 1 if no
     eviction fired (probe inconclusive) or any rebuild is not green.

Usage:
    SPARK_GRAFT_DRIVER_MEM=16g python scripts_dev/evict_rebuild_probe.py \
        [SF_DIR] [N_NAMES] [OUT.json]
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

os.environ.setdefault("SPARK_GRAFT_STATE_BUDGET_MB", "1024")

import bench  # noqa: E402
from end_to_end_data_engineering_job_listings_etl_spark import (  # noqa: E402
    cachereg,
    registry,
)
from end_to_end_data_engineering_job_listings_etl_spark.session import (  # noqa: E402
    get_spark,
)

# One oracled representative per evictable family — the query whose
# memo the family pins (star: landing+dims+fact persist; jl_star: the
# jl star bundle; catalog: the shared table scans; dedup_cc: the
# label-propagation checkpoint pins; derby: the embedded JDBC landing;
# corpus: the curation working set).
FAMILY_REPS = {
    "star": "fact_orders",
    "jl_star": "jl_fact_checked",
    "catalog": "li_pricing_summary",
    "dedup_cc": "dd_duplicate_clusters",
    "derby": "src_jdbc_landing",
    "corpus": "corpus_curation",
}


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if len(args) > 0 else "/tmp/sf1"
    n_names = int(args[1]) if len(args) > 1 else 45
    out = Path(args[2]) if len(args) > 2 else (
        REPO / "scripts_dev" / "evict_rebuild_r11.json"
    )

    from tests.oracle_check import (
        compare,
        digest_compare,
        digest_unsupported,
        duckdb_conn,
    )

    spark = get_spark(app_name="evict-rebuild-probe")
    qs = registry.all_queries()
    oracles = registry.all_oracles()
    digest_rows = int(os.environ.get("SWEEP_DIGEST_ROWS", "1000000"))

    # ---- phase 1: the forced-eviction walk --------------------------
    # PROBE_NAMES overrides the default headline-prefix walk with an
    # explicit ordering (VERDICT r11 next-round #1): to prove the
    # FAIL-STOP checkpoint-pinned dedup_cc family rebuilds after a
    # BUDGET eviction (not an explicit evict), run its query FIRST so
    # the family ages to the LRU cold end, then heavy star/catalog
    # builders so the boundary fires while dedup_cc is outside the
    # protected most-recent-2 — the eviction itself still comes from
    # cachereg.query_boundary, same mechanism as production.
    walk: list[dict] = []
    probe_names = os.environ.get("PROBE_NAMES")
    names = (
        [n for n in probe_names.split(",") if n]
        if probe_names
        else bench.HEADLINE[:n_names]
    )
    for i, name in enumerate(names):
        n0 = len(cachereg.boundary_stats()["events"])
        t0 = time.time()
        err = None
        try:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            err = f"{type(e).__name__}: {e}"[:200]
        events = cachereg.boundary_stats()["events"][n0:]
        walk.append(
            {
                "name": name,
                "sec": round(time.time() - t0, 1),
                "evictions": events,
                **({"err": err} if err else {}),
            }
        )
        print(
            f"[walk {i + 1}/{len(names)}] {name}: "
            f"{[e['evicted'] for e in events] or 'no eviction'} "
            f"({walk[-1]['sec']}s)",
            flush=True,
        )

    counts = cachereg.boundary_stats()["counts"]
    evicted_families = sorted(
        {f for row in walk for e in row["evictions"] for f in e["evicted"]}
    )
    print(f"\nwalk done: {counts}; families evicted: {evicted_families}\n")

    # ---- phase 2: oracle-checked rebuild per evicted family ---------
    con = duckdb_conn(sf_dir)
    rebuilds: list[dict] = []
    n_fail = 0
    for family in evicted_families:
        rep = FAMILY_REPS.get(family)
        if rep is None or rep not in oracles:
            rebuilds.append({"family": family, "status": "no-oracled-rep"})
            continue
        # guarantee the checked run starts cold for this family
        cachereg.evict(spark, family=family)
        t0 = time.time()
        try:
            df = qs[rep](spark, sf_dir)
            fields = {f.name: f.dataType for f in df.schema.fields}
            mode = "strict"
            if not digest_unsupported(fields):
                n_oracle = con.execute(
                    f"SELECT count(*) FROM ({oracles[rep]})"
                ).fetchone()[0]
                if n_oracle > digest_rows:
                    digest_compare(df, con, oracles[rep], rep)
                    mode = "digest"
                else:
                    compare(df, con, oracles[rep], rep)
            else:
                compare(df, con, oracles[rep], rep)
            status = f"GREEN-{mode}"
        except Exception as e:  # noqa: BLE001
            status = "FAIL"
            n_fail += 1
            traceback.print_exc()
            rebuilds.append(
                {
                    "family": family,
                    "query": rep,
                    "status": status,
                    "err": f"{type(e).__name__}: {e}"[:300],
                }
            )
            continue
        rebuilds.append(
            {
                "family": family,
                "query": rep,
                "status": status,
                "sec": round(time.time() - t0, 1),
            }
        )
        print(f"[rebuild] {family} via {rep}: {status}", flush=True)

    artifact = {
        "sf_dir": sf_dir,
        "budget_mb": int(os.environ["SPARK_GRAFT_STATE_BUDGET_MB"]),
        "n_walk": len(names),
        "boundary_counts": counts,
        "families_evicted": evicted_families,
        "rebuilds": rebuilds,
        "walk": walk,
    }
    out.write_text(json.dumps(artifact, indent=1) + "\n")
    n_green = sum(1 for r in rebuilds if r["status"].startswith("GREEN"))
    print(
        f"\n{counts['evictions']} evictions over {len(names)} queries; "
        f"{n_green}/{len(evicted_families)} evicted families rebuild "
        f"oracle-green → {out}"
    )
    if counts["evictions"] == 0:
        print("INCONCLUSIVE: no eviction fired — lower the budget")
        return 1
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
