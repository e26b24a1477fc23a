#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with the noop sink (computes every
column, writes nothing) — .count() would let Catalyst prune the
projection and under-measure.

Since round 4 the default invocation runs $SPARK_GRAFT_BENCH_RUNS
(default 3) COLD passes — each a fresh ``python bench.py --once``
subprocess, so per-pass JVM/memo state never leaks between samples —
and reports the per-query MEDIAN plus per-run totals. Host timing
noise swung single-run totals ±25-50% round over round (ADVICE r3
task 6); medians pin that down while "value" stays sum-of-medians,
comparable at equal n_timed.

Since round 5: queries whose base-run spread exceeds ±20% of their
median get $SPARK_GRAFT_BENCH_EXTRA (default 2) additional cold
subset passes — median-of-5 for the noisy tail, median-of-3 for the
quiet majority — and the COMPLETE result JSON (all medians, spreads,
sample counts, config) is persisted to ``bench_last.json`` so the
committed artifact survives the driver's stdout-tail truncation.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from end_to_end_data_engineering_job_listings_etl_spark import cachereg, registry  # noqa: E402
from end_to_end_data_engineering_job_listings_etl_spark.session import get_spark  # noqa: E402

# Headline = the timed denominator (119 of 258 registered queries).
# A registered query is OMITTED from the headline iff it falls in one
# of four classes (every omission is one of these — the remaining 139
# names are enumerable from registry.all_queries() minus HEADLINE):
#   1. plan-sharing twin: same physical plan as a timed name, kept
#      only to lock a distinct public API entry point or an oracle
#      variant (e.g. dd_jaccard_pairs vs dd_prefix_filter_pairs,
#      jl_dim_*_checked vs the fact build that materializes them,
#      *_checked exact twins of timed approximate defaults);
#   2. fixed-overhead floor: sub-100 ms dimension/lookup/metadata
#      queries whose wall time is session overhead, not engine work
#      (dims, fn_* scalar-expression demos, tiny SQL-surface probes);
#   3. harness-bound transport: cost dominated by a deliberately
#      embedded single-node fixture, not the engine under test
#      (Derby ingest, driver-side JSON staging, stream drains that
#      sleep on wall-clock triggers);
#   4. demonstration bound: queries whose semantics make timing
#      meaningless or anti-representative at any SF — constant-slice
#      demos (_JACCARD_MAX_ID), er_name_blocking_pairs (pair OUTPUT
#      quadratic by definition — a documented anti-pattern demo,
#      dropped r9), and er_blocking_refined (dropped r10, verdict r9
#      #2: its OUTPUT is the thing that grows — 100× pairs for 10×
#      data on the verbatim-replica fixture, measured in
#      scripts_dev/er_output_counts_r10.json — so at sf10 it was 30%
#      of the headline total while timing pair materialization, not
#      the engine; the linear production twins er_best_match and
#      er_unlinked represent the ER family in the headline).
# The artifact carries this criterion plus the omitted count, so the
# "119 of 258 timed" split is self-explaining.
OMISSION_CRITERIA = (
    "omitted = plan-sharing twin | fixed-overhead floor (<100ms dim/"
    "scalar demo) | harness-bound transport fixture | demonstration "
    "bound (constant-slice or output-superlinear-by-semantics pair "
    "reports); see bench.py HEADLINE comment"
)

HEADLINE = [
    "li_pricing_summary",
    "li_revenue_topk",
    "li_running_total",
    "li_supplier_nation_revenue",
    "fact_orders",
    "star_wide",
    "bi_top15_employers",
    "bi_monthly_trend",
    "bi_revenue_by_segment",
    "bi_top_keywords",
    "w_latest_per_customer",
    "inc_watermark_agg",
    "fn_json_extract",
    "text_stats",
    "dd_lsh_candidates",
    "dd_simhash",
    "sim_cosine_topk",
    "sim_knn_join",
    "jl_fact_checked",
    "text_winnow_fingerprints",
    "mm_meta_checked",
    "stream_window_counts",
    "text_decontaminate",
    "text_redact",
    "dd_duplicate_clusters",
    "sink_bucketed_join",
    "ev_funnel",
    "corpus_curation",
    "li_shipping_priority",
    "li_late_shipment_priority",
    "inc_scd2_status",
    "w_moving_sum_30d",
    "src_jdbc_landing",
    "op_cogroup_pandas",
    "bi_daily_spine",
    "agg_argmax_event",
    # round-2 representatives (first driver-recorded bench is r2, so
    # these enter the recorded baseline from the start)
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q17_small_quantity",
    "samp_global_shuffle",
    "emb_int8_quantize",
    "text_bigram_lm_score",
    "dd_minhash_estimate",
    "graph_pagerank_step",
    # er_name_blocking_pairs was timed here through r8 — dropped in r9
    # (verdict r8 #4): its pair OUTPUT is quadratic by semantics, so
    # its 95.7 s was 29% of the sf1 headline while measuring a
    # documented anti-pattern demo, not the engine. Its scale twins
    # er_blocking_refined and er_best_match are both timed below.
    "sink_zorder_roundtrip",
    "sql_recursive_month_spine",
    # round-3 representatives: the newly window-verified LLM-pipeline
    # layer enters the recorded baseline the same round it is banked
    # (totals are comparable only at equal n_timed — recorded since r3)
    # sem_dedup_clusters was timed here r3–r11 — swapped for its twin
    # sem_dedup_scaled in r12 (VERDICT r11 "what's wrong" #3): above
    # the 5000-vector size gate clusters routes to the SAME physical
    # plan as scaled (plans/curation.py), so at every benched SF the
    # two are one plan and only one belongs in the headline (omission
    # class 1, plan-sharing twin); the SCALED name is the one kept
    # because its semantics are identical at every SF (always k ∝ N,
    # no routing branch), while the clusters slot accumulated a
    # standing PARITY adjudication for warm-state sampling variance
    # (in-bench sf10 samples 38.6/14.2/36.6 s on byte-identical code).
    # The SemDeDup scale signal is carried by this name's sf1→sf10
    # exponent plus the committed cold-solo artifact
    # (scripts_dev/semdedup_cold_r11.json).
    "sem_dedup_scaled",
    "text_quality_classifier",
    "samp_mixture",
    "stream_chained_window_agg",
    "w_ntile_buckets",
    "op_range_join",
    "ml_kmeans_step",
    "dd_containment_pairs",
    # round-3 additions: the remaining TPC-H shapes and the exact
    # duplicated-span dedup measurement
    "q5_local_supplier_volume",
    "q2_min_balance_supplier",
    "q11_nation_stock_share",
    "q16_supplier_variety",
    "q20_dominant_suppliers",
    "q21_sole_late_suppliers",
    "text_dup_spans",
    "graph_triangle_count",
    "agg_hll_partition_merge",
    "w_max_concurrency",
    "inc_snapshot_diff",
    "text_chunk_overlap",
    # round-4 additions: CDC apply, Gopher/temperature curation, the
    # sketch layer (CMS/Bloom/KMV/salted/CDC-chunking/BM25), and the
    # distributed gram matrix — banked the round they land
    "inc_cdc_apply",
    "stream_cdc_apply",
    "text_repetition_signals",
    "samp_temperature_mixture",
    "profile_table_approx_checked",
    "inc_agg_merge",
    "agg_cms_frequency",
    "agg_kmv_distinct_checked",
    "j_bloom_filter_prune",
    "j_salted_skew_join",
    "text_cdc_chunks",
    "text_bm25_topk",
    "ml_gram_matrix",
    "emb_l2_normalize_arrow",
    "sink_inverted_index_roundtrip",
    "inc_join_view_maintain",
    "w_cume_dist_nth",
    "src_schema_evolution",
    "src_csv_malformed",
    "op_grouped_agg_pandas",
    "agg_bitmap_distinct",
    "samp_stratified_exact",
    "rag_hybrid_retrieval",
    "agg_kmv_intersection_checked",
    "inc_topk_merge",
    "fn_xml_roundtrip",
    "w_ewma_decay",
    "sql_parameterized",
    "profile_catalog_stats",
    "fn_sql_udf",
    "sql_scripted_pipeline",
    "agg_session_window_batch",
    "fn_collation_dedup",
    "samp_weighted_bernoulli",
    "sql_pivot_clause",
    # round-5 additions: greedy sequence packing. (er_blocking_refined
    # was timed here r5–r9 — moved to omission class 4 in r10: output-
    # superlinear by semantics, see the HEADLINE comment above.)
    "samp_pack_sequences",
    # round-6 additions: incremental cross-batch dedup and CCNet-style
    # per-language quality bucketing — banked the round they land
    "inc_dedup_merge",
    "text_quality_buckets",
    # incremental LSH merge, keep-best canonical selection, PQ/ADC scan
    "inc_lsh_merge",
    "dd_keep_best",
    "sim_pq_adc",
    "emb_random_projection",
    "sim_ivfpq_topk",
    # round-6 selection/eval layer: DSIR importance resampling, the
    # Gopher rule battery, ANN recall measurement, audio windowing
    "samp_dsir_select",
    "text_gopher_rules",
    "ev_ann_recall",
    "mm_audio_energy_checked",
    "text_c4_filters",
    "rag_mmr_rerank",
    "dd_soft_dedup_weights",
    "text_boilerplate_lines",
    # round-8 addition: the bounded-output ER production default —
    # banked the round it lands. (The three stream_*_multibatch
    # variants stay omitted under classes 1+3: same logical plans as
    # their timed single-batch twins, wall time dominated by the
    # sliced-landing staging + per-file trigger plumbing.)
    "er_best_match",
    # round-9 addition: the unlinked-residual report that completes
    # the ER production triple (pairs / best-match / residual)
    "er_unlinked",
]

# Queries that share a per-(session, sf_dir) memo cache: the FIRST
# group member to run in a pass pays the one-time materialization
# (landing + dims + star persist). A noisy-query subset pass must
# therefore include the noisy query's memo peers — otherwise the
# resampled query pays a build cost it never pays in a full pass, and
# the mixed median drifts (ADVICE r5 item 2). Peers run (and are timed)
# in the subset, but only the NOISY names' extra samples are merged
# back into the medians.
MEMO_PEER_GROUPS: list[set[str]] = [
    # cachereg memo family "star" (plans/star.py)
    {
        "fact_orders",
        "star_wide",
        "bi_top15_employers",
        "bi_monthly_trend",
        "bi_revenue_by_segment",
        "bi_top_keywords",
    },
]


def _with_memo_peers(names: set[str]) -> set[str]:
    out = set(names)
    for group in MEMO_PEER_GROUPS:
        if out & group:
            out |= group
    return out


def run_once() -> dict:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    spark = get_spark(app_name="end_to_end_data_engineering_job_listings_etl_spark-bench")

    # Optional subset pass (used by the adaptive median-of-5 re-sampling
    # of noisy queries): comma-separated query names, still cold —
    # each subset pass is its own subprocess with a fresh JVM.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    headline = (
        [n for n in HEADLINE if n in set(only.split(","))] if only else HEADLINE
    )

    queries = registry.all_queries()
    # Warm each headline plan once at the smallest SF: whole-stage
    # codegen JIT + classloading are per-plan-shape one-time costs
    # (~0.5-2 s each) that would otherwise dominate sf0.1 timings. The
    # timed section then measures the engine's steady-state plan
    # execution at the bench scale factor, which is what scales to a
    # long-lived cluster. (Memoized caches are keyed by sf_dir, so no
    # sf0.001 data survives into the timed runs.)
    for name in headline:
        try:
            queries[name](spark, "/root/testdata/sf0.001").write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception:
            pass  # warmup must never fail the bench

    # Fixed-overhead probe (VERDICT r9 #6): time an empty-plan 1-row
    # query with the SAME noop-sink path as every timed query. Its
    # wall time is pure session/submission overhead — JVM scheduling,
    # Py4J round-trips, noop-commit protocol — so round-over-round
    # sf0.1 ratios can be overhead-corrected with one division instead
    # of a git-archaeology session (the r9 1.23x sf0.1 "regression"
    # was exactly this overhead drifting with the host). Timed AFTER
    # warmup so codegen/classloading one-timers don't pollute it; not
    # part of the headline total.
    t0 = time.perf_counter()
    spark.range(1).selectExpr("id", "id * 2 AS x").write.format("noop").mode(
        "overwrite"
    ).save()
    overhead_probe = round(time.perf_counter() - t0, 3)

    # Per-query fault isolation: one broken query must not zero the
    # whole round's bench signal — record its error and keep timing the
    # rest. (Errored queries contribute 0 to the total.)
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    # Per-query JOB counts (VERDICT r12 ask #7): at sf0.1 the suite is
    # overhead-bound (8 cores beat 32), and the per-query fixed cost is
    # proportional to how many Spark JOBS a builder launches, not just
    # engine work. Job ids are global and sequential; the delta of the
    # max known id across a query's timed action counts its jobs. Read
    # OUTSIDE the timed region (one status-tracker call each side) so
    # the timing methodology is unchanged.
    jobs: dict[str, int] = {}
    tracker = spark.sparkContext.statusTracker()

    def _max_job_id() -> int:
        # getJobIdsForGroup(None) returns only jobs run OUTSIDE a job
        # group: jobs a builder launches under setJobGroup are not
        # counted, so a query's figure is a lower bound.
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1
    # Boundary observability (VERDICT r10 #7): attribute cachereg
    # eviction churn to the query whose boundary fired it, so at sf10 —
    # where the state budget actively evicts — the artifact shows
    # before/after/families/seconds per evicting query. At sf ≤ 1 the
    # boundary is a no-op and this records nothing.
    boundary_per_query: dict[str, list[dict]] = {}
    # cachereg counters are process-cumulative; snapshot here so the
    # artifact's per-run "counts" really are per-run deltas even with
    # SPARK_GRAFT_BENCH_RUNS>1 (ADVICE r11).
    counts0 = cachereg.boundary_stats()["counts"]
    for name in headline:
        fn = queries[name]
        n_events0 = len(cachereg.boundary_stats()["events"])
        jid0 = _max_job_id()
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            # Eviction events fired during an errored query must keep
            # their attribution (ADVICE r11) — capture before skipping.
            new_events = cachereg.boundary_stats()["events"][n_events0:]
            if new_events:
                boundary_per_query[name] = new_events
            continue
        timings[name] = round(time.perf_counter() - t0, 3)
        jobs[name] = _max_job_id() - jid0
        new_events = cachereg.boundary_stats()["events"][n_events0:]
        if new_events:
            boundary_per_query[name] = new_events

    # An errored query contributes 0 to the sum, which would silently
    # *improve* the headline total — publish the timed denominator
    # alongside so totals are only comparable at equal n_timed, and
    # null the headline entirely when any query errored.
    total = round(sum(timings.values()), 3)
    return {
        "metric": "headline_total_wall",
        "value": total if not errors else None,
        "total_timed": total,
        "n_timed": len(timings),
        "n_queries": len(headline),
        "unit": "sec",
        "queries": timings,
        "jobs": jobs,
        "errors": errors,
        "sf": sf,
        "overhead_probe_sec": overhead_probe,
        "boundary": {
            "counts": {
                k: round(v - counts0[k], 3)
                for k, v in cachereg.boundary_stats()["counts"].items()
            },
            "per_query": boundary_per_query,
        },
    }


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


# The driver's BENCH capture keeps only the LAST 2000 characters of
# stdout and json-parses the final line within that window. With 100+
# headline queries the full result line is ~3-4 KB, so r4 and r5 both
# recorded ``parsed: None`` — the committed bench_last.json survived,
# but the driver-side artifact carried no numbers at all. The printed
# line must therefore fit the tail window; the COMPLETE result still
# goes to bench_last.json.
_TAIL_LIMIT = 1850


def _tail_safe_line(result: dict, limit: int = _TAIL_LIMIT) -> str:
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "sf": result.get("sf"),
        "total_timed": result.get("total_timed"),
        "n_timed": result.get("n_timed"),
        "n_queries": result.get("n_queries"),
        "n_runs": result.get("n_runs"),
        "run_totals": result.get("run_totals"),
        "overhead_probe_sec": result.get("overhead_probe_sec"),
        "queries": {},
        "queries_omitted": 0,
        "full": "bench_last.json",
        "errors": {
            k: str(v)[:120] for k, v in list(result["errors"].items())[:3]
        },
    }
    dumps = lambda: json.dumps(compact, separators=(",", ":"))  # noqa: E731
    # Fill queries in HEADLINE (= recorded-baseline) priority order until
    # the serialized line would exceed the tail window.
    timings = result["queries"]
    names = [n for n in HEADLINE if n in timings]
    names += [n for n in timings if n not in set(names)]
    for name in names:
        compact["queries"][name] = timings[name]
        if len(dumps()) > limit:
            del compact["queries"][name]
            compact["queries_omitted"] = len(timings) - len(
                compact["queries"]
            )
            break
    compact["queries_omitted"] = len(timings) - len(compact["queries"])
    line = dumps()
    if len(line) > limit:  # pathological error strings — drop them too
        compact["errors"] = {"__truncated__": str(len(result["errors"]))}
        line = dumps()
    return line


def main() -> None:
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    if n_runs <= 1:
        result = run_once()
        try:
            (Path(__file__).resolve().parent / "bench_last.json").write_text(
                json.dumps(result, indent=1) + "\n"
            )
        except OSError:
            pass
        print(_tail_safe_line(result))
        return

    import subprocess

    runs: list[dict] = []
    run_errors: list[str] = []
    for i in range(n_runs):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--once"],
            capture_output=True,
            text=True,
        )
        # the child prints exactly one JSON line on stdout (Spark logs
        # go to stderr); take the last non-empty line defensively
        line = next(
            (ln for ln in reversed(proc.stdout.splitlines()) if ln.strip()), ""
        )
        try:
            runs.append(json.loads(line))
        except json.JSONDecodeError:
            run_errors.append(
                f"run {i}: exit={proc.returncode} stderr_tail="
                + proc.stderr[-300:]
            )
    if not runs:
        print(
            json.dumps(
                {
                    "metric": "headline_total_wall",
                    "value": None,
                    "unit": "sec",
                    "queries": {},
                    "errors": {"__runs__": "; ".join(run_errors)[:900]},
                }
            )
        )
        return

    samples: dict[str, list[float]] = {}
    job_samples: dict[str, list[int]] = {}
    errors: dict[str, str] = {}
    for r in runs:
        for name, sec in r["queries"].items():
            samples.setdefault(name, []).append(sec)
        for name, nj in r.get("jobs", {}).items():
            job_samples.setdefault(name, []).append(nj)
        errors.update(r["errors"])
    if run_errors:
        errors["__runs__"] = "; ".join(run_errors)[:900]

    # Adaptive median-of-5 (VERDICT r4 item 3): queries whose cold-run
    # spread exceeds ±20% of their median get EXTRA cold subset passes
    # (fresh subprocess each, SPARK_GRAFT_BENCH_ONLY narrows the pass to
    # just the noisy names) so their medians settle over 5 samples while
    # the quiet majority stays at 3.
    n_extra = int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA", "2"))
    noisy = sorted(
        name
        for name, xs in samples.items()
        if len(xs) == len(runs)
        and name not in errors
        and max(xs) - min(xs) > 0.4 * _median(xs)
    )
    if noisy and n_extra > 0:
        subset = sorted(_with_memo_peers(set(noisy)))
        env = dict(os.environ, SPARK_GRAFT_BENCH_ONLY=",".join(subset))
        for _ in range(n_extra):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--once"],
                capture_output=True,
                text=True,
                env=env,
            )
            line = next(
                (ln for ln in reversed(proc.stdout.splitlines()) if ln.strip()),
                "",
            )
            try:
                extra = json.loads(line)
            except json.JSONDecodeError:
                continue  # extra samples are best-effort
            for name, sec in extra["queries"].items():
                if name in noisy:  # peers ran only to pay the memo build
                    samples.setdefault(name, []).append(sec)

    medians = {
        name: round(_median(xs), 3)
        for name, xs in samples.items()
        # a query must have a sample from EVERY base run: a
        # sometimes-erroring query's partial median is not comparable
        # (extra noisy-query samples only ever extend a full set)
        if len(xs) >= len(runs) and name not in errors
    }
    total = round(sum(medians.values()), 3)
    result = {
        "metric": "headline_total_wall",
        "value": total if not errors else None,
        "total_timed": total,
        "n_timed": len(medians),
        "n_queries": len(HEADLINE),
        "n_runs": len(runs),
        "unit": "sec",
        # per-query median across cold runs; spread records the
        # [min, max] sample so variance is visible per query
        "queries": medians,
        "spread": {
            name: [round(min(xs), 3), round(max(xs), 3)]
            for name, xs in samples.items()
            if name in medians
        },
        "n_samples": {
            name: len(xs) for name, xs in samples.items() if len(xs) > len(runs)
        },
        # per-query Spark JOB counts (median across base runs) — the
        # fixed-overhead multiplier the r12 verdict asked the probe to
        # expose (ask #7); measured outside the timed region
        "jobs": {
            name: int(_median(xs)) for name, xs in job_samples.items()
        },
        "resampled": noisy,
        # Noisy-window stamp (VERDICT r11 "what's wrong" #2): when more
        # than half the timed queries trip the ±20% resample rule, the
        # host window itself is degraded (r11 measured: 84/120 tripped
        # on a bad window vs ~50/120 on a quiet one) and the artifact's
        # totals are not comparable round-over-round. The stamp makes
        # the "re-run on a quiet host" protocol mechanical:
        # scripts_dev/scaling_exponents_r9.py refuses noisy inputs.
        "noisy": len(runs) > 1 and len(noisy) > 0.5 * max(len(medians), 1),
        "run_totals": [r["total_timed"] for r in runs],
        # per-pass fixed-overhead probe (empty-plan 1-row noop write):
        # median is the session-overhead floor a sub-second query pays
        # regardless of engine work — divide it out before comparing
        # sf0.1 totals across rounds/hosts
        "overhead_probe_sec": round(
            _median([r.get("overhead_probe_sec", 0.0) for r in runs]), 3
        ),
        "overhead_probe_runs": [r.get("overhead_probe_sec") for r in runs],
        "errors": errors,
        # per-run boundary counters (+ per-query eviction events from
        # each pass) — meaningful at sf10 where the state budget evicts;
        # the sf10 artifact is single-run (SPARK_GRAFT_BENCH_RUNS=1) and
        # carries the full per-query detail via run_once directly
        "boundary_runs": [r.get("boundary") for r in runs],
        "sf": runs[0].get("sf"),
        # why n_timed < len(registry): every non-headline query falls
        # in one of the four documented omission classes (see the
        # HEADLINE comment)
        "n_registry": len(registry.all_queries()),
        "headline_omission_criteria": OMISSION_CRITERIA,
    }
    # Persist the FULL result (all medians, spreads, config) to the
    # committed artifact, then print a line guaranteed to fit the
    # driver's 2000-char stdout-tail capture (see _tail_safe_line).
    try:
        (Path(__file__).resolve().parent / "bench_last.json").write_text(
            json.dumps(result, indent=1) + "\n"
        )
    except OSError:
        pass  # read-only checkout must not break the bench line
    print(_tail_safe_line(result))


if __name__ == "__main__":
    if "--once" in sys.argv[1:]:
        print(json.dumps(run_once()))
    else:
        main()
