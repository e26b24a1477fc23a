"""Cache lifecycle (cachereg) and localCheckpoint loss semantics.

Automatic eviction of the per-(session, sf_dir) memo caches (LRU
dataset cap + session-stop hook), no persisted RDD left behind by any
memo family after eviction, and proof that operators/ids.py's
correctness pin FAIL-STOPS on checkpoint loss instead of silently
renumbering.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from end_to_end_data_engineering_job_listings_etl_spark import cachereg, catalog, registry
from end_to_end_data_engineering_job_listings_etl_spark.plans import star

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


def _entries(spark, family=None) -> list[tuple]:
    """(sf_dir, family, key) of the session's memo entries, LRU first."""
    return [
        k for k in cachereg._MEMO.get(spark, {}) if family is None or k[1] == family
    ]


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _persistent_ids(spark) -> set[int]:
    out = set()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        out.add(it.next()._1())
    return out


def _drop_persistent_blocks(spark, only_ids=None) -> None:
    """Simulate executor/block loss: unpersist persisted RDDs
    (including localCheckpoint block stores). ``only_ids`` restricts
    the blast radius to a known id set."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    entries = []
    while it.hasNext():
        entries.append(it.next())
    for e in entries:
        if only_ids is None or e._1() in only_ids:
            e._2().unpersist(True)


_BI_SURFACE = ("fact_orders", "star_wide")  # + every bi_* query
# one query per remaining memo family (jl_star, dedup_cc, corpus,
# derby, incremental), plus queries that pin frames they release
# themselves
_OTHER_FAMILIES = (
    "jl_fact_checked",
    "jl_fact_fallback_checked",
    "jl_star_fact",
    "dd_keep_best",
    "dd_minhash_estimate",
    "src_jdbc_landing",
    "inc_upsert_dim",
    "stream_upsert_dim",
)


def _run_bi_surface(spark, sf_dir: str) -> None:
    qs = registry.all_queries()
    names = list(_BI_SURFACE) + sorted(n for n in qs if n.startswith("bi_"))
    names += _OTHER_FAMILIES
    for name in names:
        qs[name](spark, sf_dir).count()


def test_two_datasets_full_bi_zero_orphans(spark):
    """Two sequential sf_dirs through the full BI surface plus one
    query of every other memo family, then eviction, leave ZERO
    orphaned persisted RDDs and zero unmanaged bytes — and the surface
    rebuilds green afterwards. (Baseline is an RDD-id snapshot, so
    stray pins from OTHER test modules in a full suite run don't bleed
    into the delta.)"""
    cachereg.evict()  # clean slate (other tests may have memoized)
    baseline = _persistent_ids(spark)
    _run_bi_surface(spark, SF_A)
    _run_bi_surface(spark, SF_B)
    created = _persistent_ids(spark) - baseline
    assert created  # the memos really did pin frames
    families = {f for _, f, _ in _entries(spark)}
    assert families == {
        "catalog", "star", "jl_star", "dedup_cc", "corpus", "derby", "incremental"
    }
    assert cachereg.unmanaged_estimates(spark)["derby"] > 0
    cachereg.evict(spark)
    assert not (_persistent_ids(spark) & created)  # zero orphans
    assert not _entries(spark)
    assert cachereg.unmanaged_estimates(spark) == {}
    # post-eviction rebuild: caches repopulate and results still flow
    qs = registry.all_queries()
    assert qs["bi_total_postings"](spark, SF_A).count() == 1
    cachereg.evict(spark)


def test_documents_text_lang_cached_once(spark):
    """samp_dsir_select (through its DSIR gram buckets) and text_langid
    read the same documents columns, so they share ONE catalog entry:
    one persisted copy of documents.text, not one per column order."""
    cachereg.evict(spark, SF_B)
    try:
        qs = registry.all_queries()
        for name in ("samp_dsir_select", "text_langid"):
            qs[name](spark, SF_B).count()
        docs = [
            key
            for sf, _, key in _entries(spark, "catalog")
            if sf == SF_B and key[0] == "documents"
            and set(key[1] or ()) == {"doc_id", "text", "lang"}
        ]
        assert len(docs) == 1, docs
    finally:
        cachereg.evict(spark, SF_B)


def test_sf_dir_scoped_eviction(spark):
    """evict(spark, sf_dir) drops exactly that dataset's entries."""
    cachereg.evict()
    star.landing(spark, SF_A)
    star.landing(spark, SF_B)
    assert {d for d, _, k in _entries(spark, "star") if k == "landing"} == {SF_A, SF_B}
    cachereg.evict(spark, SF_A)
    assert {d for d, _, _ in _entries(spark)} == {SF_B}
    cachereg.evict(spark)


def test_lru_dataset_cap_evicts_oldest(spark, monkeypatch):
    """Memoizing more than ``_DATASET_CAP`` distinct sf_dirs
    auto-evicts the least-recently-used dataset's entries."""
    monkeypatch.setattr(cachereg, "_DATASET_CAP", 2)
    cachereg.evict()
    star.landing(spark, SF_A)  # dataset 1 (and pin frames)
    star.landing(spark, SF_B)  # dataset 2
    assert {d for d, _, k in _entries(spark, "star") if k == "landing"} == {SF_A, SF_B}
    catalog.load_table(spark, "/root/testdata/sf0.1", "region").count()  # dataset 3
    # SF_A was least-recently-used → its pinned landing is gone
    assert {d for d, _, k in _entries(spark, "star") if k == "landing"} == {SF_B}
    assert SF_A not in {d for d, _, _ in _entries(spark)}
    cachereg.evict(spark)


def test_session_stop_hook_wraps_and_evicts():
    """hook_session wraps .stop so closing a session evicts its caches
    first (exercised on a stand-in so the shared fixture survives)."""

    class FakeSession:
        def __init__(self):
            self.stopped = False

        def stop(self):
            self.stopped = True

    calls = []
    fake = FakeSession()
    cachereg.memo(
        fake, "/x", "spy", "k", lambda pins: None, release=lambda: calls.append(fake)
    )
    try:
        cachereg.hook_session(fake)
        assert fake._sg_cache_stop_hooked
        fake.stop()
        assert fake.stopped
        assert calls == [fake]  # the entry was released on stop
        assert fake not in cachereg._MEMO
        # idempotent: re-hooking must not double-wrap
        saved = fake.stop
        cachereg.hook_session(fake)
        assert fake.stop is saved
    finally:
        cachereg._MEMO.pop(fake, None)


def test_real_session_is_stop_hooked(spark):
    """get_spark sessions carry the stop hook (without stopping the
    shared fixture session)."""
    assert getattr(spark, "_sg_cache_stop_hooked", False)


def test_local_checkpoint_loss_fail_stop(spark, pins):
    """ids.py pins the ranged+pid frame with
    localCheckpoint so pid misalignment is impossible — and LOSS of
    the checkpoint must fail-stop (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND),
    never silently renumber."""
    from end_to_end_data_engineering_job_listings_etl_spark.operators.ids import ranked_ids

    cachereg.evict()  # no other pinned frames in the blast radius
    try:
        baseline = _persistent_ids(spark)
        df = spark.range(0, 1000, 1, 8).select(F.col("id").alias("k"))
        out = ranked_ids(df, ["k"], "sk", pins)
        assert out.count() == 1000  # materializes the checkpoint
        created = _persistent_ids(spark) - baseline
        assert created
        _drop_persistent_blocks(spark, created)
        with pytest.raises(Exception) as exc_info:
            out.count()
        assert "CHECKPOINT" in str(exc_info.value).upper()
    finally:
        # dead memo handles (if any appeared) must not leak into later
        # tests that would reuse them
        cachereg.evict()


def test_connected_components_pins_released_on_reinvocation(spark):
    """connected_components hands its final labels checkpoint to the
    caller through ``pins`` and keeps nothing itself; the
    near-dup labels memo owns that pin. Re-invoking the cluster
    queries reuses it — at most ONE labels checkpoint lives per
    (session, dataset) — and cachereg eviction releases it."""
    from end_to_end_data_engineering_job_listings_etl_spark.operators import dedup
    from end_to_end_data_engineering_job_listings_etl_spark.operators.ids import release_pins

    cachereg.evict()
    baseline = _persistent_ids(spark)
    verts = spark.range(0, 100).select(F.col("id").alias("doc_id"))
    edges = spark.range(0, 99).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    pins = []
    out = dedup.connected_components(verts, edges, pins)
    assert out.count() == 100
    assert len(pins) == 1
    assert _persistent_ids(spark) - baseline  # the checkpoint is pinned
    release_pins(pins)
    assert not (_persistent_ids(spark) - baseline)

    qs = registry.all_queries()
    qs["dd_duplicate_clusters"](spark, SF_A).count()
    first_created = _persistent_ids(spark) - baseline
    labels = (SF_A, "dedup_cc", "labels")
    assert _entries(spark, "dedup_cc") == [labels]
    assert len(cachereg._MEMO[spark][labels].pins) == 1
    qs["dd_duplicate_clusters"](spark, SF_A).count()
    qs["samp_split_by_cluster"](spark, SF_A).count()
    # re-invocation pins nothing new and keeps one memo entry
    assert _persistent_ids(spark) - baseline == first_created
    assert _entries(spark, "dedup_cc") == [labels]
    assert len(cachereg._MEMO[spark][labels].pins) == 1
    # eviction releases the survivor: zero orphans
    cachereg.evict(spark, SF_A)
    assert not _entries(spark, "dedup_cc")
    assert not (_persistent_ids(spark) - baseline)


def test_near_dup_labels_built_once_per_dataset(spark, monkeypatch):
    """The three cluster queries share one connected-components build
    per (session, dataset): the later two launch no Spark job while
    building, all three stay oracle-exact, and eviction leaves no
    orphaned pins before the next consumer rebuilds."""
    from end_to_end_data_engineering_job_listings_etl_spark.operators import dedup
    from tests.oracle_check import compare, duckdb_conn

    calls = []
    real_cc = dedup.connected_components

    def counting_cc(*args, **kwargs):
        calls.append(1)
        return real_cc(*args, **kwargs)

    monkeypatch.setattr(dedup, "connected_components", counting_cc)
    tracker = spark.sparkContext.statusTracker()

    def max_job_id() -> int:
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    cachereg.evict()
    baseline = _persistent_ids(spark)
    qs, oracles = registry.all_queries(), registry.all_oracles()
    con = duckdb_conn(SF_A)
    names = ("dd_keep_best", "dd_duplicate_clusters", "samp_split_by_cluster")
    for i, name in enumerate(names):
        j0 = max_job_id()
        df = qs[name](spark, SF_A)
        if i > 0:
            assert max_job_id() == j0, f"{name} launched jobs while building"
        compare(df, con, oracles[name], name)
    assert len(calls) == 1

    created = _persistent_ids(spark) - baseline
    assert created
    cachereg.evict(spark, SF_A)
    assert not (_persistent_ids(spark) & created)

    compare(qs["dd_keep_best"](spark, SF_A), con, oracles["dd_keep_best"], "dd_keep_best")
    assert len(calls) == 2
    cachereg.evict(spark)


def test_dead_session_pruned_on_touch(spark):
    """A session stopped OUTSIDE the hooked spark.stop (sc.stop(), or
    never hooked at all) must not retain its memo entries forever: the
    next memo insertion by a live session releases the entries of
    every session whose SparkContext reports stopped."""

    class DeadSession:  # no sparkContext at all → _is_stopped() True
        pass

    dead = DeadSession()
    calls = []
    cachereg.memo(
        dead, "/some/sf_dir", "spy", "k", lambda pins: None,
        release=lambda: calls.append(dead),
    )
    try:
        cachereg.memo(spark, SF_A, "probe", "k", lambda pins: None)
        assert calls == [dead]  # its entry was released
        assert dead not in cachereg._MEMO
        assert spark in cachereg._MEMO  # the live session is untouched
    finally:
        cachereg._MEMO.pop(dead, None)
        cachereg.evict(spark)


def test_lru_is_weakly_keyed():
    """A session object whose last user reference dies leaves no memo
    table behind (WeakKeyDictionary), independent of any stop path."""
    import gc

    class GhostSession:
        pass

    ghost = GhostSession()
    cachereg.memo(ghost, "/x", "f", "k", lambda pins: None)
    n_with_ghost = len(cachereg._MEMO)
    del ghost
    gc.collect()
    assert len(cachereg._MEMO) == n_with_ghost - 1


def test_evictor_failure_does_not_wedge_eviction():
    """evict() swallows a single entry's failing release so every
    other entry is still released (dead-JVM unpersist tolerance)."""

    calls = []

    def bad():
        raise RuntimeError("dead JVM")

    class Sentinel:
        pass

    sentinel = Sentinel()
    cachereg.memo(sentinel, "/x", "f", "bad", lambda pins: None, release=bad)
    cachereg.memo(
        sentinel, "/x", "f", "good", lambda pins: None,
        release=lambda: calls.append(sentinel),
    )
    try:
        cachereg.evict(sentinel)
        assert calls == [sentinel]
        assert sentinel not in cachereg._MEMO
    finally:
        cachereg._MEMO.pop(sentinel, None)


# ---------------------------------------------------------------------------
# Within-dataset state budget: query_boundary evicts
# least-recently-touched FAMILY memos once pinned state exceeds the
# budget, keeping the two most-recently-touched families (the active
# burst's own memo plus the catalog scans nested under it).
# ---------------------------------------------------------------------------


def test_query_boundary_noop_under_budget(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STATE_BUDGET_MB", raising=False)
    qs = registry.all_queries()
    qs["fact_orders"](spark, SF_A).write.format("noop").mode("overwrite").save()
    star_keys = {(SF_A, "star", "landing"), (SF_A, "star", "star_wide")}
    assert star_keys <= set(_entries(spark, "star"))
    stats = cachereg.query_boundary(spark)
    # sf0.001 pinned state is far below the default 40%-of-heap budget
    assert stats["before"] <= stats["budget"]
    assert stats["evicted"] == []
    assert star_keys <= set(_entries(spark, "star"))
    cachereg.evict(spark)


def test_query_boundary_evicts_lru_family_over_budget(spark, monkeypatch):
    """Walk three families through the registry with a 1 MB budget:
    the boundary before each query evicts the least-recently-touched
    families beyond the protect-2 window, and a direct boundary call
    afterwards drains down toward the budget oldest-first."""
    monkeypatch.setenv("SPARK_GRAFT_STATE_BUDGET_MB", "1")
    cachereg.evict(spark)
    qs = registry.all_queries()
    qs["fact_orders"](spark, SF_A).write.format("noop").mode("overwrite").save()
    qs["jl_fact_checked"](spark, SF_A).write.format("noop").mode("overwrite").save()
    assert _entries(spark, "jl_star")
    lru_before = [f for _, f in cachereg._family_lru(spark)]
    assert set(lru_before) >= {"star", "jl_star", "catalog"}
    stats = cachereg.query_boundary(spark)
    assert stats["before"] > stats["budget"]
    assert stats["evicted"], "over-budget boundary must evict something"
    # the two most-recently-touched families survive
    survivors = [f for _, f in cachereg._family_lru(spark)]
    assert len(survivors) >= 2
    assert survivors == lru_before[-2:]
    for f in stats["evicted"]:
        assert f not in survivors
    cachereg.evict(spark)
    monkeypatch.delenv("SPARK_GRAFT_STATE_BUDGET_MB", raising=False)


def test_unmanaged_note_and_derby_drop(spark):
    """src_jdbc_landing's memo entry carries its in-memory Derby
    footprint for the budget; evicting the derby family drops the DB
    (expected SQLException 08006 = success) and its estimate. A fresh
    call rebuilds the DB from scratch."""
    from end_to_end_data_engineering_job_listings_etl_spark.plans import media_stream

    df = media_stream.src_jdbc_landing(spark, SF_A)
    n1 = df.count()
    assert n1 > 0
    assert cachereg.unmanaged_estimates(spark).get("derby", 0) > 0
    assert _entries(spark, "derby") == [(SF_A, "derby", "landing_db")]

    cachereg.evict(spark, family="derby")
    assert "derby" not in cachereg.unmanaged_estimates(spark)
    # the DB is gone: connecting WITHOUT create raises (XJ004)
    with pytest.raises(Exception):
        spark._jvm.java.sql.DriverManager.getConnection(
            "jdbc:derby:memory:landing_db"
        )
    # and the query rebuilds end-to-end after the drop
    assert media_stream.src_jdbc_landing(spark, SF_A).count() == n1
    cachereg.evict(spark)


# ---------------------------------------------------------------------------
# Env guard on the budget override, boundary observability, and the
# unmanaged-estimate accessor.
# ---------------------------------------------------------------------------


def test_state_budget_malformed_env_falls_back(spark, monkeypatch):
    """A malformed $SPARK_GRAFT_STATE_BUDGET_MB must fall through to
    the heap-derived default instead of raising on the registry hot
    path (query_boundary runs before EVERY registry query)."""
    monkeypatch.setenv("SPARK_GRAFT_STATE_BUDGET_MB", "sixteen-gigs")
    with pytest.warns(UserWarning, match="SPARK_GRAFT_STATE_BUDGET_MB"):
        budget = cachereg.state_budget_bytes(spark)
    assert budget > 0  # heap-derived, no ValueError
    # the boundary itself stays a working no-op under that budget
    with pytest.warns(UserWarning, match="SPARK_GRAFT_STATE_BUDGET_MB"):
        stats = cachereg.query_boundary(spark)
    assert stats["budget"] == budget
    monkeypatch.setenv("SPARK_GRAFT_STATE_BUDGET_MB", "7")
    assert cachereg.state_budget_bytes(spark) == 7 * 2**20


def test_env_override_warns_and_falls_back(monkeypatch):
    """Every package env override goes through one validator: a
    well-formed value is returned, and a malformed one (not an integer,
    an integer below 1, a memory size that is not ``<digits>[kmgt]``)
    warns naming the variable and yields the default."""
    from end_to_end_data_engineering_job_listings_etl_spark.session import (
        MEMORY_SIZE,
        env_override,
    )

    name = "SPARK_GRAFT_TEST_OVERRIDE"
    monkeypatch.delenv(name, raising=False)
    assert env_override(name, "32") == "32"
    monkeypatch.setenv(name, "6")
    assert env_override(name, "32") == "6"
    monkeypatch.setenv(name, "12g")
    assert env_override(name, "8g", MEMORY_SIZE) == "12g"
    for raw, default, pattern in (
        ("four", "32", None),
        ("0", "32", None),
        ("8 GB", "8g", MEMORY_SIZE),
    ):
        monkeypatch.setenv(name, raw)
        kw = {"pattern": pattern} if pattern else {}
        with pytest.warns(UserWarning, match=name):
            assert env_override(name, default, **kw) == default


def test_boundary_stats_counters_and_events(spark, monkeypatch):
    """boundary_stats() exposes cumulative counters plus an event per
    EVICTING boundary (no-op boundaries are counted but not logged) —
    the feed bench.py attributes eviction churn from."""
    monkeypatch.delenv("SPARK_GRAFT_STATE_BUDGET_MB", raising=False)
    cachereg.evict(spark)
    before = cachereg.boundary_stats()
    cachereg.query_boundary(spark)  # under budget: counted, not logged
    mid = cachereg.boundary_stats()
    assert mid["counts"]["boundaries"] == before["counts"]["boundaries"] + 1
    assert len(mid["events"]) == len(before["events"])

    monkeypatch.setenv("SPARK_GRAFT_STATE_BUDGET_MB", "1")
    qs = registry.all_queries()
    qs["fact_orders"](spark, SF_A).write.format("noop").mode("overwrite").save()
    qs["jl_fact_checked"](spark, SF_A).write.format("noop").mode(
        "overwrite"
    ).save()
    stats = cachereg.query_boundary(spark)
    assert stats["evicted"]
    after = cachereg.boundary_stats()
    assert (
        after["counts"]["evicting_boundaries"]
        > mid["counts"]["evicting_boundaries"]
    )
    assert after["counts"]["evictions"] >= len(stats["evicted"])
    ev = after["events"][-1]
    assert ev["evicted"] == stats["evicted"]
    assert ev["before_mb"] > ev["budget_mb"]
    assert ev["sec"] >= 0
    # the LIST is a copy (appends to the live log don't retro-grow a
    # snapshot a harness already took); elements are shared read-only
    assert after["events"] is not cachereg._BOUNDARY_EVENTS
    assert after["counts"] is not cachereg._BOUNDARY_COUNTS
    cachereg.evict(spark)
    monkeypatch.delenv("SPARK_GRAFT_STATE_BUDGET_MB", raising=False)


def test_unmanaged_estimates_accessor(spark):
    """unmanaged_estimates returns a copy of the session's per-family
    estimates; evicting the entry clears it."""
    cachereg.memo(
        spark, SF_A, "probe_fam", "k", lambda pins: None,
        release=lambda: None, unmanaged=123,
    )
    est = cachereg.unmanaged_estimates(spark)
    assert est["probe_fam"] == 123
    est["probe_fam"] = 999  # a copy — must not write through
    assert cachereg.unmanaged_estimates(spark)["probe_fam"] == 123
    cachereg.evict(spark, family="probe_fam")
    assert "probe_fam" not in cachereg.unmanaged_estimates(spark)
