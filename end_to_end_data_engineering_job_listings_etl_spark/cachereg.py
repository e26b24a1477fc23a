"""Session memo state: one table owns every memoized frame and pin.

Builders that reuse work across queries (reader plans, the star and
job-listings stars, the near-dup labels, the MinHash estimate, the
incremental dim upsert, the Derby landing) go through
``memo(spark, sf_dir, family, key, build)``. The table is weakly keyed
by session; per session it maps (sf_dir, family, key) to an entry,
most recently used last. An entry holds the memoized value, the frames
its build pinned, and a release action: ``ids.release_pins(frames)``
unless the caller passes another one (the Derby landing drops its
database and also carries an unmanaged-heap estimate, state the block
manager cannot see).

Pin contract: every frame that is persisted or checkpointed and
outlives the call that made it goes into a ``pins`` list, which every
such operator takes as a required parameter (``operators/ids.py``).
A memoized builder is one ``memo(..., build)`` call whose
``build(pins)`` builds and pins; the entry owns that list. A caller
outside the memo table releases its own list with
``ids.release_pins``.

``evict(spark, sf_dir, family)`` is the one release path; ``None`` is
a wildcard on any axis. Its callers are the eviction scopes:

1. **Dataset cap.** A session keeps at most ``_DATASET_CAP`` datasets
   (sf_dirs) memoized; inserting an entry for one more evicts the
   least-recently-used dataset. Insertion also evicts sessions whose
   SparkContext has stopped outside the hooked ``stop``.
2. **State budget.** ``query_boundary`` runs before every registry
   query. When block-manager memory plus unmanaged estimates exceed
   $SPARK_GRAFT_STATE_BUDGET_MB (default 40% of the driver heap), it
   evicts least-recently-used (sf_dir, family) groups, always keeping
   the two most recent: a query's own family and the catalog scans it
   nests over.
3. **Session stop.** ``hook_session`` wraps ``spark.stop`` so the
   session's entries are released first.
4. **Explicit callers**: ``evict(spark[, sf_dir])``.

Fail-stop: after release, a plain-persisted frame recomputes on next
use, but a localCheckpoint-pinned frame (operators/ids.py) or the
dropped Derby landing fails on next access. Their lineage was cut on
purpose, so a caller holding result frames across an eviction must
re-run the registry query, which rebuilds from source and re-pins.

Datasets are immutable: entries are keyed by path, not by file
content, so replacing a file under a live session's sf_dir needs
``evict(spark, sf_dir)`` before the next query.
"""

from __future__ import annotations

import time
import weakref
from collections import OrderedDict
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .operators.ids import release_pins
from .session import env_override

_DATASET_CAP = 4


@dataclass
class _Entry:
    value: Any
    pins: list[DataFrame]
    release: Callable[[], None]
    unmanaged: int = 0


_MEMO: "weakref.WeakKeyDictionary[SparkSession, OrderedDict[tuple, _Entry]]" = (
    weakref.WeakKeyDictionary()
)


def _is_stopped(sess: SparkSession) -> bool:
    try:
        return bool(sess.sparkContext._jsc.sc().isStopped())
    except Exception:  # noqa: BLE001 - unreachable JVM == stopped
        return True


def memo(
    spark: SparkSession,
    sf_dir: str,
    family: str,
    key: Any,
    build: Callable[[list[DataFrame]], Any],
    release: Callable[[], None] | None = None,
    unmanaged: int = 0,
) -> Any:
    """The value memoized under (spark, sf_dir, family, key). On a miss
    ``build(pins)`` runs once; it appends every frame it pins to
    ``pins``, which the entry releases on eviction (or ``release``
    replaces that action). ``unmanaged`` is the entry's off-block-
    manager heap estimate, counted by the state budget."""
    k = (sf_dir, family, key)
    table = _MEMO.get(spark)
    hit = table.get(k) if table is not None else None
    if hit is not None:
        table.move_to_end(k)
        return hit.value
    pins: list[DataFrame] = []
    try:
        value = build(pins)
    except Exception:
        release_pins(pins)
        raise
    # re-fetch: an eviction during a nested build may have dropped the
    # session's table
    table = _MEMO.setdefault(spark, OrderedDict())
    table[k] = _Entry(value, pins, release or (lambda: release_pins(pins)), unmanaged)
    for sess in [s for s in list(_MEMO) if s is not spark and _is_stopped(s)]:
        evict(sess)
    datasets = list(dict.fromkeys(d for d, _, _ in reversed(table)))
    for old in datasets[_DATASET_CAP:]:
        evict(spark, old)
    return value


def evict(
    spark: SparkSession | None = None,
    sf_dir: str | None = None,
    family: str | None = None,
) -> None:
    """Release every entry in the (session, dataset, family) scope;
    ``None`` is a wildcard, so ``evict()`` clears the process. A
    failing release (a stopped session's unpersist) is swallowed so
    every other entry is still released."""
    for sess in list(_MEMO) if spark is None else [spark]:
        table = _MEMO.get(sess)
        if table is None:
            continue
        for k in [
            k
            for k in table
            if (sf_dir is None or k[0] == sf_dir) and (family is None or k[1] == family)
        ]:
            try:
                table.pop(k).release()
            except Exception:  # noqa: BLE001
                pass
        if not table:
            _MEMO.pop(sess, None)


def _family_lru(spark: SparkSession) -> list[tuple[str, str]]:
    """The session's (sf_dir, family) groups, least recently used
    first."""
    table = _MEMO.get(spark) or {}
    return list(dict.fromkeys((d, f) for d, f, _ in reversed(table)))[::-1]


def unmanaged_estimates(spark: SparkSession) -> dict[str, int]:
    """Unmanaged-heap estimates per family (a fresh dict) — read by
    calibration probes that compare the estimate against measured heap
    growth."""
    out: dict[str, int] = {}
    for (_, family, _), e in (_MEMO.get(spark) or {}).items():
        if e.unmanaged:
            out[family] = out.get(family, 0) + e.unmanaged
    return out


def pinned_bytes(spark: SparkSession) -> int:
    """Session state the budget governs: block-manager memSize over
    every persisted RDD (memo persists + localCheckpoint pins; disk
    spill is not heap and is not counted) plus unmanaged estimates."""
    try:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        mem = sum(i.memSize() for i in infos)
    except Exception:  # noqa: BLE001 - stopped JVM pins nothing
        mem = 0
    return mem + sum(unmanaged_estimates(spark).values())


def state_budget_bytes(spark: SparkSession) -> int:
    """$SPARK_GRAFT_STATE_BUDGET_MB, default 40% of driver max heap —
    leaves the unified pool execution headroom plus unmanaged slack
    even when a query's working set peaks."""
    # query_boundary sits on the registry hot path, so a malformed
    # override warns and falls through to the heap-derived default
    # instead of failing every query
    env = env_override("SPARK_GRAFT_STATE_BUDGET_MB", None)
    if env is not None:
        return int(env) * 2**20
    try:
        max_heap = int(
            spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
        )
    except Exception:  # noqa: BLE001
        max_heap = 8 * 2**30
    return int(max_heap * 0.40)


# Boundary observability: cumulative counters for process lifetime,
# plus a bounded log of the boundaries that actually evicted (the
# no-op case is ~1 ms and unbounded in count).
_BOUNDARY_COUNTS = {"boundaries": 0, "evicting_boundaries": 0, "evictions": 0, "evict_sec": 0.0}
_BOUNDARY_EVENTS: list[dict] = []
_BOUNDARY_EVENTS_CAP = 500


def boundary_stats() -> dict:
    """Snapshot of boundary activity since process start: cumulative
    counters plus the (capped) list of evicting-boundary events. Cheap;
    returns copies so callers can diff before/after a query."""
    return {
        "counts": dict(_BOUNDARY_COUNTS),
        "events": list(_BOUNDARY_EVENTS),
    }


def query_boundary(spark: SparkSession) -> dict:
    """Bound session state at a safe point — between registry queries,
    where no memo build is in flight. Called by registry._pinned before
    every query.

    Always drops terminated streaming-query handles (their retained
    progress buffers accumulate per stream drain). Then, only if pinned
    state exceeds the budget, evicts least-recently-used
    (sf_dir, family) groups, never the two most recent, until back
    under budget (the fail-stop contract is in the module docstring)."""
    try:
        spark.streams.resetTerminated()
    except Exception:  # noqa: BLE001 - no streaming, stopped JVM
        pass
    budget = state_budget_bytes(spark)
    before = pinned_bytes(spark)
    stats = {"before": before, "budget": budget, "evicted": []}
    _BOUNDARY_COUNTS["boundaries"] += 1
    if before <= budget:
        return stats
    t0 = time.monotonic()
    for sf_dir, family in _family_lru(spark)[:-2]:
        evict(spark, sf_dir, family)
        stats["evicted"].append(family)
        # unpersist is async for plain persists — poll the block
        # manager (capped) so the re-measure neither over-evicts the
        # next group for blocks already on their way out nor pays the
        # full wait when the release lands immediately
        deadline = time.monotonic() + 0.15
        while pinned_bytes(spark) > budget and time.monotonic() < deadline:
            time.sleep(0.03)
        if pinned_bytes(spark) <= budget:
            break
    stats["after"] = pinned_bytes(spark)
    stats["sec"] = round(time.monotonic() - t0, 3)
    if not stats["evicted"]:
        # over budget with every group protected: not an evicting
        # boundary, and no event slot spent on it
        return stats
    _BOUNDARY_COUNTS["evicting_boundaries"] += 1
    _BOUNDARY_COUNTS["evictions"] += len(stats["evicted"])
    _BOUNDARY_COUNTS["evict_sec"] = round(
        _BOUNDARY_COUNTS["evict_sec"] + stats["sec"], 3
    )
    if len(_BOUNDARY_EVENTS) < _BOUNDARY_EVENTS_CAP:
        _BOUNDARY_EVENTS.append(
            {
                "evicted": list(stats["evicted"]),
                "before_mb": round(before / 2**20, 3),
                "after_mb": round(stats["after"] / 2**20, 3),
                "budget_mb": round(budget / 2**20, 3),
                "sec": stats["sec"],
            }
        )
    return stats


def hook_session(spark: SparkSession) -> None:
    """Wrap ``spark.stop`` so session shutdown evicts the session's
    entries first. Safe to call repeatedly (guards on a marker)."""
    if getattr(spark, "_sg_cache_stop_hooked", False):
        return
    orig_stop = spark.stop

    def stop() -> None:
        try:
            evict(spark)
        finally:
            orig_stop()

    spark.stop = stop
    spark._sg_cache_stop_hooked = True
