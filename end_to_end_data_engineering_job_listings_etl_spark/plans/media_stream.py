"""Registry surface for the streaming, multimodal, and sink layers —
the operators that normally dodge the SQL gate, pushed through it.

- Structured Streaming drained with ``trigger(availableNow)`` into a
  memory sink equals the batch aggregation over the same files, so the
  windowed rollup and the custom ``applyInPandasWithState`` operator
  both get real DuckDB oracles (batch parity per SURVEY.md §2.10).
- Multimodal binary columns are derived from ``documents`` with
  ASCII-hex payloads (payload = utf8(md5(text) × 4)), which keeps every
  byte-level operation (binary substring, hex, md5-of-payload)
  reproducible in ANSI SQL while the plumbing (binary columns, typed
  metadata, mapInPandas featurization, frame-offset explode) is the
  real 100 TB shape.
- The partitioned-parquet sink (reference K5,
  ``scripts/pyspark/extract_postgres_table.py:68-70``) is checked as a
  write→scan→prune→aggregate roundtrip: the oracle aggregates the
  source directly, so a wrong partition layout or a broken pruned scan
  fails the hash.
"""

from __future__ import annotations

from ..util import scratch_dir

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cachereg
from ..catalog import load_table, load_table_dist
from ..functions.text import tokens, tokens_sql
from ..streaming.watermark import (
    drain,
    drain_to_memory,
    events_stream_dir,
    purchase_view_join,
    scoped_conf,
    session_counts,
    sliced_stage_dir,
    stream_events,
    windowed_event_counts,
    write_snapshot,
)

# ---------------------------------------------------------------------------
# Streaming through the gate
# ---------------------------------------------------------------------------


def stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window event counts computed BY THE STREAMING
    ENGINE (file source → watermark → window agg → availableNow drain →
    memory sink), returned as a batch DataFrame. Epoch-aligned '1 hour'
    windows are exactly date_trunc('hour') buckets, so the oracle is
    plain SQL."""
    src = events_stream_dir(sf_dir)
    agg = windowed_event_counts(stream_events(spark, src))
    return drain_to_memory(agg, "complete", state_from=src)


def _latest_totals(totals: DataFrame) -> DataFrame:
    """Update mode emits one row per user per state VERSION; keep each
    user's final state. total_value is taken FROM the max-n_events row
    (max_by), not as an independent column max — with negative event
    values total_value is non-monotone, and column-wise maxes could
    pair a final count with a non-final total. Totals are rounded in
    BOTH engines to absorb float-association noise (pandas pairwise
    sum vs scan-order sum)."""
    latest = totals.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.expr("max_by(total_value, n_events)").alias("total_value"),
    )
    return latest.select(
        "user_id", "n_events", F.round("total_value", 2).alias("total_value_r")
    )


def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState`` running
    per-user totals) drained with availableNow: the final state per
    user equals the batch GROUP BY."""
    from ..streaming.stateful import running_user_totals

    src = events_stream_dir(sf_dir)
    stream = running_user_totals(stream_events(spark, src))
    return _latest_totals(drain_to_memory(stream, "update", state_from=src))


def stream_tws_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same per-user running totals through Spark 4's
    ``transformWithStateInPandas`` (StatefulProcessor + typed
    ValueState, RocksDB state store) — the arbitrary-stateful-operator
    API that supersedes applyInPandasWithState. Drained availableNow
    with the RocksDB provider scoped to the drain; final state equals
    the batch GROUP BY. State stays at the session default: update-mode
    TWS emits one row per state version, so the sink's row multiset is
    trigger/layout-sensitive by design (``_latest_totals`` absorbs it).

    NOT registered in QUERIES: the API's Python state protocol needs
    ``google.protobuf``, absent from this container (no installs) —
    raises NotImplementedError here; the operator itself
    (streaming/stateful.py::running_user_totals_tws) is real and runs
    wherever protobuf exists. applyInPandasWithState
    (stream_user_totals) is the oracle-gated stateful path."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf"
        ) from exc
    from ..streaming.stateful import running_user_totals_tws

    rocksdb = {
        "spark.sql.streaming.stateStore.providerClass": "org.apache.spark.sql."
        "execution.streaming.state.RocksDBStateStoreProvider"
    }
    with scoped_conf(spark, rocksdb):
        stream = running_user_totals_tws(
            stream_events(spark, events_stream_dir(sf_dir))
        )
        totals = drain_to_memory(stream, "update")
    return _latest_totals(totals)


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: ``dropDuplicates`` on (user_id,
    event_type) over the event stream, drained with availableNow — the
    continuous form of the corpus dedup layer (first occurrence wins).
    Under complete processing the emitted key set equals batch
    DISTINCT, so it gets a real SQL oracle. The output projects the
    dedup KEYS only — survivor-independent, so the state layout
    follows the source size.

    State honesty: exact streaming dedup keeps one state entry per
    distinct key FOREVER — the watermark does not evict
    ``dropDuplicates`` state unless the event-time column is part of
    the key set. That is the price of the exact '= batch DISTINCT'
    contract. When bounded state matters more than exactness beyond
    the horizon, the operator to swap in is
    ``dropDuplicatesWithinWatermark`` (evicts by watermark; duplicates
    farther apart than the delay can re-emit)."""
    src = events_stream_dir(sf_dir)
    dd = stream_events(spark, src).dropDuplicates(["user_id", "event_type"])
    return drain_to_memory(
        dd.select("user_id", "event_type"), "append", state_from=src
    )


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins the
    static customer dimension (batch DataFrame) inside the streaming
    engine, then aggregates per market segment — the continuous form
    of the star-schema dim join (J2-J6). The static side is re-read
    per micro-batch, planned as a broadcast while the dim fits; no
    stream-side state is needed for inner stream-static joins.

    availableNow drain ⇒ result equals the batch join+agg, so it gets
    a real SQL oracle. Values decimal-cast before summation."""
    src = events_stream_dir(sf_dir)
    stream = stream_events(spark, src)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = stream.join(cust, stream.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.sum(
            (F.col("value").cast("decimal(18,6)") * 1000000).cast("bigint")
        ).alias("sum_value_e6"),
    )
    return drain_to_memory(agg, "complete", state_from=src)


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time interval join: purchases join views of
    the same user within the preceding hour, inside the streaming
    engine. Both sides carry watermarks and the join condition bounds
    event time on both, so state is evictable — the canonical bounded
    stream-stream join (attribution / conversion tracking shape).

    availableNow drain ⇒ emitted pairs equal the batch time-bounded
    self-join, which is the oracle."""
    src = events_stream_dir(sf_dir)
    joined = purchase_view_join(spark, src, "inner")
    return drain_to_memory(joined, "append", state_from=src)


def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-warehouse co-located join: write orders and customer
    ``bucketBy(8, custkey)`` (hash-bucketed + per-bucket sorted files),
    read back, sort-merge join WITHOUT a shuffle exchange on the join
    key — the layout strategy that amortizes one write-time shuffle
    across every subsequent join at 100 TB (plan asserted shuffle-free
    in tests/test_io_multimodal.py).

    Names/paths are deterministic per (user, sf), unlike the per-call
    ``scratch_dir`` of every other sink here: ``saveAsTable``
    registers each name in the session catalog, so repeat invocations
    overwrite the same two tables instead of leaking a catalog entry
    and a temp directory per call."""
    import re

    try:
        import getpass

        user = getpass.getuser()
    except Exception:  # bare containers may lack a resolvable user
        user = "default"
    sf_tag = re.sub(r"[^A-Za-z0-9]", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    wh = os.path.join(tempfile.gettempdir(), f"bucketed_wh_{user}", sf_tag)
    os.makedirs(wh, exist_ok=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    to_name, tc_name = f"orders_b_{sf_tag}", f"customer_b_{sf_tag}"
    (
        orders.write.bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .option("path", os.path.join(wh, to_name))
        .mode("overwrite")
        .saveAsTable(to_name)
    )
    (
        customer.write.bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .option("path", os.path.join(wh, tc_name))
        .mode("overwrite")
        .saveAsTable(tc_name)
    )
    ob, cb = spark.table(to_name), spark.table(tc_name)
    j = ob.hint("merge").join(cb, ob["o_custkey"] == cb["c_custkey"])
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        ).alias("sum_price_e2"),
    )


def agg_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` in BATCH mode — the same operator
    stream_session_counts exercises through the streaming state store,
    here compiled to sort-within-partition + merging aggregation over
    the static table (one shuffle on the grouping key; no state store,
    no watermark). Grouped per event_type (the streaming twin slices
    per user) with the same end-exclusive gap rule, so both
    session-window physical paths are independently oracle-pinned."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.col("ts").cast("timestamp").alias("ts"), "event_type")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "event_type")
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "event_type",
            "n_events",
        )
    )


def stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows IN THE STREAMING ENGINE:
    ``session_window(ts, '30 minutes')`` merges events into
    gap-separated sessions as state (``watermark.session_counts``),
    drained with availableNow in complete mode. Session semantics are
    end-exclusive — an event exactly gap-after the previous one starts
    a NEW session — so the batch oracle's island rule is `diff >= gap`
    (the batch ``op_sessionize`` ordinal query uses strict `>` on
    purpose: both conventions exist, each is pinned by its own
    oracle)."""
    src = events_stream_dir(sf_dir)
    agg = session_counts(stream_events(spark, src))
    return drain_to_memory(agg, "complete", state_from=src)


def stream_upsert_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's incremental dimension loader as a CONTINUOUS
    job: ``foreachBatch`` applies the anti-join upsert
    (``operators.incremental.upsert_dim`` — J8, the deleted
    populate_star_schema semantics) to each micro-batch, persisting
    the dim to a parquet snapshot between batches. After the
    availableNow drain the dim holds every distinct natural key
    exactly once, with dense surrogate keys — checked against batch
    DISTINCT + row_number. Each batch releases its rank's pins once
    its write has landed, so the query leaves nothing pinned."""
    from ..operators.ids import release_pins
    from ..operators.incremental import upsert_dim

    target = os.path.join(scratch_dir(prefix="stream_dim_"), "dim_type")
    stream = stream_events(spark, events_stream_dir(sf_dir)).select(
        F.col("event_type").alias("type_name")
    ).filter(F.col("type_name").isNotNull())

    def apply_batch(bdf: DataFrame, _batch_id: int) -> None:
        s = bdf.sparkSession
        if os.path.isdir(target):
            existing = s.read.parquet(target)
        else:
            existing = s.createDataFrame([], "type_sk int, type_name string")
        pins: list[DataFrame] = []
        try:
            merged = upsert_dim(bdf, existing, ["type_name"], "type_sk", pins)
            write_snapshot(merged, target)
        finally:
            release_pins(pins)

    drain(stream.writeStream.foreachBatch(apply_batch))
    return spark.read.parquet(target)


def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction roundtrip: fragment documents into 64
    tiny files, compact them by on-disk byte budget
    (``sinks.writers.compact_parquet``), aggregate off the compacted
    copy. The oracle aggregates the source directly — a lossy rewrite
    breaks the hash; the file-count collapse is asserted in
    tests/test_io_multimodal.py."""
    from ..sinks.writers import compact_parquet

    base = scratch_dir(prefix="compact_rt_")
    frag, compacted = os.path.join(base, "frag"), os.path.join(base, "compact")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    docs.repartition(64).write.mode("overwrite").parquet(frag)
    compact_parquet(spark, frag, compacted, target_bytes=256 << 20)
    back = spark.read.parquet(compacted)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


# ---------------------------------------------------------------------------
# Multimodal binary columns, oracle-checkable derivation
# ---------------------------------------------------------------------------

_KINDS = ("image", "audio", "video")


def media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary payloads + typed metadata derived from the
    ``documents`` table: payload = utf8 bytes of md5(text) repeated 4×
    (128 ASCII bytes — char ops == byte ops, so DuckDB can reproduce
    every slice/hash)."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    kind = F.element_at(
        F.array(*[F.lit(k) for k in _KINDS]),
        (F.col("doc_id") % 3).cast("int") + 1,
    )
    payload_text = F.repeat(F.md5("text"), 4)
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(payload_text, "UTF-8").alias("payload"),
        F.concat(F.lit("application/x-fake-"), kind).alias("mime"),
        F.lit(128).cast("long").alias("n_bytes"),
    )


def mm_meta_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata + content-hash plan over the binary column: md5 runs on
    the payload BYTES in Spark and on the equivalent varchar in DuckDB
    (identical utf8 bytes). A metadata-only projection of this plan
    prunes the payload at the parquet scan."""
    media = media_from_documents(spark, sf_dir)
    return media.select(
        "media_id",
        "kind",
        "n_bytes",
        F.md5("payload").alias("payload_md5"),
    )


def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Arrow-batched mapInPandas featurization under the hash
    gate: the stub codec derives width/height from md5(payload) bytes,
    which the oracle recomputes with hex-digit arithmetic — so the
    Python-worker path (Arrow batches, pickled stub, schema contract)
    is value-checked, not just row-counted. The sha1 content column
    and the feature vector stay in the full API (tests cover them);
    this projection keeps the gate SQL-expressible."""
    from ..multimodal.binary_ops import extract_features

    return extract_features(media_from_documents(spark, sf_dir)).select(
        "media_id", "kind", "n_bytes", "width", "height"
    )


def mm_frame_sample_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over video payloads: explode byte offsets, slice
    8 'frame' bytes at each — binary substring semantics under the
    hash gate (hex-encoded; lowercased to normalize engines' case)."""
    from ..multimodal.binary_ops import frame_sample

    frames = frame_sample(media_from_documents(spark, sf_dir), every_n_bytes=64)
    return frames.select(
        "media_id",
        "frame_offset",
        F.lower(F.hex("frame_bytes")).alias("frame_hex"),
    )


# ---------------------------------------------------------------------------
# Partitioned sink roundtrip (K5) + sketch accuracy gate
# ---------------------------------------------------------------------------


def mm_resize_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image 'resize' (stride-2 byte downsample, the stubbed-codec
    stand-in for a real pixel resampler) through the Arrow-batched
    ``mapInPandas`` path, under the hash gate: the oracle recomputes
    the strided payload + md5 with a list_transform over char offsets
    and the halved stub dims with hex-digit arithmetic — completing
    the decode / featurize / resize / frame-sample quartet."""
    from ..multimodal.binary_ops import resize

    return resize(media_from_documents(spark, sf_dir), factor=2)


def sink_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 partitioned parquet write → re-scan with a partition filter →
    aggregate. The oracle computes the same aggregate off the source
    table, so a broken partition layout, dropped rows, or a bad pruned
    read all fail the value hash. Decimal-cast before summing (exact
    decimal math both engines)."""
    path = os.path.join(scratch_dir(prefix="sink_k5_"), "events_by_type")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_d", F.col("value").cast("decimal(18,6)")
    )
    ev.write.partitionBy("event_type").mode("overwrite").parquet(path)
    back = spark.read.parquet(path).filter(
        F.col("event_type").isin("click", "purchase")
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("value_d") * 1000000).cast("bigint")).alias("sum_value_e6"),
    )


def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 CSV sink (the reference's transport between transform and
    load, ``dags/test_extraction.py:156``): project orders → write CSV
    with header → re-read with the declared schema → aggregate. The
    oracle aggregates the source directly, so lossy type round-trips or
    dropped rows fail the hash. Doubles survive CSV exactly (shortest
    round-trip repr both ways)."""
    from ..sinks.writers import write_csv
    from ..sources.readers import read_csv_landing

    path = os.path.join(scratch_dir(prefix="sink_k1_"), "orders_csv")
    proj = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    write_csv(proj, path)
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    back = read_csv_landing(spark, path, schema)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        ).alias("sum_price_e2"),
    )


def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source roundtrip (columnar format surface beyond the
    reference's CSV/parquet): project orders → write ORC → re-read →
    aggregate. ORC carries types natively (no schema re-declaration),
    and Spark's vectorized ORC reader gives the same predicate
    pushdown / column pruning as parquet. The oracle aggregates the
    source, so dropped rows or type drift fail the hash."""
    path = os.path.join(scratch_dir(prefix="sink_orc_"), "orders_orc")
    proj = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    proj.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        ).alias("sum_price_e2"),
    )


def sink_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustered parquet layout under the oracle gate:
    orders written range-partitioned + sorted on the interleaved
    (o_orderkey, o_custkey) key (functions/layout.py), re-read, and
    aggregated with 10% range slices on BOTH z dimensions — the
    predicates multi-dim clustering exists to serve. The hash proves
    the layout rewrite lost/duplicated nothing and both slices count
    exactly; the row-group pruning the layout buys is measured in
    tests/test_layout.py. Max-key normalization uses one 1-row
    collect (bounded; at 100 TB keep table stats instead)."""
    from ..functions.layout import write_zordered

    path = os.path.join(scratch_dir(prefix="sink_z_"), "orders_z")
    proj = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    hi = proj.agg(
        F.max("o_orderkey").alias("k"), F.max("o_custkey").alias("c")
    ).collect()[0]
    write_zordered(
        proj, path, ["o_orderkey", "o_custkey"], [hi["k"], hi["c"]], num_files=8
    )
    back = spark.read.parquet(path)
    return back.agg(
        F.count("*").alias("n_orders"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        ).alias("sum_price_e2"),
        F.sum((F.col("o_orderkey") * 10 <= F.lit(int(hi["k"]))).cast("long")).alias(
            "n_low_orderkey"
        ),
        F.sum((F.col("o_custkey") * 10 <= F.lit(int(hi["c"]))).cast("long")).alias(
            "n_low_custkey"
        ),
    )


def sink_observed_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality metrics attached to a production write via the
    Observation API: row count, exact decimal total, and null counter
    accumulate DURING the parquet write — no second scan of the data
    (the naive pattern re-aggregates after writing, doubling IO at
    100 TB). The observed metrics come back as a 1-row frame the
    oracle recomputes from the source, so a write that dropped or
    mutated rows fails the hash."""
    from pyspark.sql import Observation

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    obs = Observation("write_quality")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint"))
        .alias("sum_price_e2"),
        F.sum(F.col("o_orderstatus").isNull().cast("long")).alias("n_null_status"),
    )
    path = os.path.join(scratch_dir(prefix="sink_obs_"), "orders_observed")
    observed.write.mode("overwrite").parquet(path)
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["sum_price_e2"], m["n_null_status"])],
        "n_rows bigint, sum_price_e2 bigint, n_null_status bigint",
    )


# Measured Derby-heap-bytes per staged-CSV-byte at sf10 in a 16 GB
# JVM (scripts_dev/derby_calib_r11.json: 990 MB gc'd heap delta /
# 389 MB staged CSV ≈ 2.5) — see the landing's memo entry.
_DERBY_HEAP_PER_CSV_BYTE = 2.5


def _drop_derby_landing(spark: SparkSession) -> None:
    """Release action of the embedded Derby landing's memo entry: an
    in-memory Derby database lives in unmanaged driver heap until
    explicitly dropped (``;drop=true``), which Derby signals with the
    EXPECTED SQLException 08006 — so the handler treats the exception
    as success. One ``landing_db`` exists per JVM regardless of
    sf_dir; a retained ``src_jdbc_landing`` result frame read after
    the drop fail-stops, and re-running the query rebuilds the DB from
    scratch."""
    try:
        spark._jvm.java.sql.DriverManager.getConnection(
            "jdbc:derby:memory:landing_db;drop=true"
        )
    except Exception:  # noqa: BLE001 - 08006 'database dropped' = success
        pass


def src_jdbc_landing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S6 as a REAL JDBC source (not the parquet stand-in): stage
    orders into an embedded Derby database via bulk COPY (the
    landing-zone RDBMS analog of the reference's Postgres,
    ``dags/spark_etl_script.py:65-72``; the stage+COPY load itself is
    the reference's write_pandas idiom, ``:31-39``), then read it back
    as a PARTITIONED JDBC scan — 4 parallel range-bounded queries on
    o_orderkey, the way a real cluster divides a JDBC table — with an
    incremental-style predicate that Spark pushes into the remote SQL
    (PushedFilters, reference S6's hand-built subquery done by
    Catalyst). Aggregate afterwards so the oracle checks the whole
    transport."""
    # the previous call's landing DB is superseded: drop it first
    cachereg.evict(spark, family="derby")
    url = "jdbc:derby:memory:landing_db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    # Ingest via STAGE + bulk COPY — the reference's own warehouse-load
    # idiom (write_pandas stages parquet then COPYs it into Snowflake,
    # ``dags/spark_etl_script.py:31-39``), here as Spark CSV stage +
    # Derby SYSCS_IMPORT_TABLE. Row-at-a-time JDBC INSERT was the
    # query's whole cost at scale (superlinear, and batchsize /
    # parallel-connection tuning is flat — embedded Derby serializes
    # same-table writers), while the bulk path is 3.4×
    # faster at sf1 and keeps the landing-table setup off the measured
    # scan. In production the landing DB belongs to the SOURCE system;
    # the operator under test is the partitioned read below.
    # Stage-path contract: SYSCS_IMPORT_TABLE reads the
    # staged CSV DRIVER-side, so the stage dir must be visible to both
    # the executors that wrote it and the driver JVM importing it —
    # true in local mode and whenever the stage is a shared mount
    # (NFS / object-store fuse); on a shared-nothing cluster, point
    # the stage at a shared location. Escaping contract: Spark CSV
    # backslash-escapes quotes while Derby's import expects doubled
    # quotes, so the load is only byte-faithful when no value contains
    # a quote/delimiter/newline/backslash — asserted below via an
    # Observation folded into the staging write (zero extra passes).
    import glob
    import shutil

    from pyspark.sql import Observation

    stage = os.path.join(tempfile.gettempdir(), f"jdbc_stage_{uuid.uuid4().hex}")
    csv_obs = Observation("csv_stage_contract")
    # Guard EVERY string column of the staged frame, not a hardcoded
    # one: the check must stay coupled to the staged
    # projection, so widening the stage (e.g. adding o_comment, whose
    # TPC-H text contains commas) trips the guard instead of silently
    # corrupting the Derby import.
    str_cols = [
        f.name for f in orders.schema.fields if f.dataType.simpleString() == "string"
    ]
    unsafe = [
        F.coalesce(F.col(c).rlike('["\\\\,\r\n]').cast("long"), F.lit(0))
        for c in str_cols
    ]
    unsafe_expr = unsafe[0] if unsafe else F.lit(0)
    for e in unsafe[1:]:
        unsafe_expr = unsafe_expr + e
    staged = orders.observe(csv_obs, F.sum(unsafe_expr).alias("n_unsafe"))
    # No coalesce(1): every input partition writes its own CSV file in
    # parallel (a single-task stage serializes every row through one
    # writer — 15M rows at sf10), then one
    # SYSCS_IMPORT_TABLE call per file appends it (mode 0 = INSERT).
    # The parallel win is the STAGE side; the import calls stay serial
    # driver-side because embedded Derby serializes same-table writers
    # anyway (parallel connections measure flat).
    staged.write.mode("overwrite").option("header", False).csv(stage)
    try:
        parts = sorted(glob.glob(os.path.join(stage, "part-*.csv")))
        if not parts:
            raise FileNotFoundError(
                f"JDBC stage wrote no part file under {stage} — "
                "empty input or a non-shared stage filesystem"
            )
        if csv_obs.get["n_unsafe"]:
            raise ValueError(
                f"string columns {str_cols} contain CSV metacharacters; "
                "Spark's backslash escaping differs from Derby's "
                "doubled-quote convention — widen the import contract "
                "before loading"
            )
        jvm = spark._jvm
        jvm.java.lang.Class.forName(driver)
        conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            st = conn.createStatement()
            meta = conn.getMetaData().getTables(None, "APP", "ORDERS_LANDING", None)
            if meta.next():
                st.execute("DROP TABLE ORDERS_LANDING")
            # quoted lowercase identifiers — the exact shape Spark's
            # own JDBC writer (DerbyDialect) created, so the read-back
            # schema and output column names are unchanged
            st.execute(
                'CREATE TABLE ORDERS_LANDING ("o_orderkey" BIGINT, '
                '"o_custkey" BIGINT, "o_orderstatus" VARCHAR(8), '
                '"o_totalprice" DOUBLE)'
            )
            cs = conn.prepareCall(
                "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE (?, ?, ?, ?, ?, ?, ?)"
            )
            for csv_file in parts:
                cs.setString(1, "APP")
                cs.setString(2, "ORDERS_LANDING")
                cs.setString(3, csv_file)
                cs.setString(4, None)
                cs.setString(5, None)
                cs.setString(6, None)
                cs.setInt(7, 0)  # 0 = append, so per-file imports compose
                cs.execute()
        finally:
            conn.close()
    finally:
        stage_bytes = sum(
            os.path.getsize(p) for p in glob.glob(os.path.join(stage, "part-*.csv"))
        ) if os.path.isdir(stage) else 0
        shutil.rmtree(stage, ignore_errors=True)
    # The in-memory Derby DB holds the whole staged table in UNMANAGED
    # driver heap (invisible to the block manager) until dropped, and
    # it accumulates across a long sf10 session. Its memo entry carries a heap estimate for the state
    # budget and drops the DB on release, so cachereg.query_boundary
    # reclaims it when the session runs past the budget.
    # Calibration (scripts_dev/derby_calib_r11.json, measured at sf10
    # in a 16 GB JVM): staged-CSV bytes UNDER-estimate Derby's actual
    # heap footprint ~2.5x (389 MB estimate vs 990 MB gc'd heap delta;
    # Derby stores rows uncompressed plus btree index pages and page
    # slack, while the CSV stage is compact text). Scaling the proxy by
    # the measured factor makes a tight SPARK_GRAFT_STATE_BUDGET_MB
    # fire on time; the estimate stays deterministic and cheap.
    cachereg.memo(
        spark,
        sf_dir,
        "derby",
        "landing_db",
        lambda pins: None,
        release=lambda: _drop_derby_landing(spark),
        unmanaged=int(stage_bytes * _DERBY_HEAP_PER_CSV_BYTE),
    )
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "ORDERS_LANDING")
        .option("driver", driver)
        .option("partitionColumn", "o_orderkey")
        .option("lowerBound", "1")
        .option("upperBound", str(hi))
        .option("numPartitions", "4")
        .load()
        .filter(F.col("o_totalprice") > 100_000)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        ).alias("sum_price_e2"),
    )


def src_json_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 JSON list-of-records source (the raw_jobs.json transport,
    ``dags/test_extraction.py:96-97``): stage the first 200 documents
    as ONE multiLine JSON array file, read through read_json_records
    with a declared schema (schema-on-read, null back-fill), aggregate.
    Driver-side staging mirrors the reference's API-extract shape —
    production ingest lands many such page files and reads them as a
    directory."""
    import json

    from pyspark.sql import types as T

    from ..sources.readers import read_json_records

    rows = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
        .limit(200)
        .collect()
    )
    path = os.path.join(scratch_dir(prefix="src_s4_"), "docs.json")
    with open(path, "w") as f:
        json.dump(
            [{"doc_id": r["doc_id"], "text": r["text"], "lang": r["lang"]} for r in rows],
            f,
        )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            # declared-but-absent column: schema-on-read null back-fill
            T.StructField("source", T.StringType()),
        ]
    )
    df = read_json_records(spark, path, schema)
    return df.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("sum_chars"),
        F.count("source").alias("n_source_nonnull"),
    )


def agg_approx_distinct_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch accuracy under the hash gate: exact distinct counts
    plus booleans asserting the sketch landed within 5% relative error
    (rsd=0.02). The oracle pins the exact counts and TRUE — a drifting
    sketch fails the gate, not just a pytest.

    Memory shape: two count_distincts in ONE
    aggregate made Catalyst plan an Expand (every row duplicated per
    distinct column) feeding one stage that holds both exact hash sets
    AND the HLL buffers — at 60M rows that stage OOMed a 16g local
    JVM. Each exact count now runs as its own column-pruned
    ``distinct → count`` (partial distinct per partition, shuffle on
    the key, mergeable final count — the standard partitioned exact
    NDV), the sketches run in one narrow pass, and the three one-row
    frames broadcast-join. No Expand, no multi-set stage; every hash
    map is per-key-partition and spillable, so the sf10 gate fits the
    default heap."""
    li = load_table(spark, sf_dir, "lineitem")
    exact_parts = (
        li.select("l_partkey")
        .distinct()
        .agg(F.count("*").alias("exact_parts"))
    )
    exact_orders = (
        li.select("l_orderkey")
        .distinct()
        .agg(F.count("*").alias("exact_orders"))
    )
    sketches = li.agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("ap"),
        F.approx_count_distinct("l_orderkey", 0.02).alias("ao"),
    )
    agg = exact_parts.crossJoin(F.broadcast(exact_orders)).crossJoin(
        F.broadcast(sketches)
    )
    return agg.select(
        "exact_parts",
        "exact_orders",
        (F.abs(F.col("ap") - F.col("exact_parts")) / F.col("exact_parts") < 0.05).alias(
            "approx_parts_ok"
        ),
        (
            F.abs(F.col("ao") - F.col("exact_orders")) / F.col("exact_orders") < 0.05
        ).alias("approx_orders_ok"),
    )


def agg_hll_partition_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting — the 100 TB property the
    one-shot ``approx_count_distinct`` doesn't exercise: build ONE
    Datasketches HLL sketch per partition-like group (here per
    l_returnflag), then ``hll_union_agg`` the binary sketches and
    estimate the GLOBAL distinct count without ever rescanning the
    fact — how incremental NDV maintenance works (sketch per new
    partition, union with the stored roll-up).

    Gate (same pattern as agg_approx_distinct_checked): exact global
    count plus a boolean asserting the merged estimate landed within
    5%; the oracle pins the exact count and TRUE."""
    li = load_table(spark, sf_dir, "lineitem")
    per_group = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey", 14).alias("sk")
    )
    merged = per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = li.agg(F.count_distinct("l_partkey").alias("exact_parts"))
    return exact.crossJoin(F.broadcast(merged)).select(
        "exact_parts",
        (
            F.abs(F.col("est") - F.col("exact_parts"))
            / F.col("exact_parts")
            < 0.05
        ).alias("merged_estimate_ok"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (rolling hash) — beyond-reference text layer
# ---------------------------------------------------------------------------

_K, _W = 5, 4  # shingle chars, winnow window
_COEFS = [31 ** (_K - 1 - j) for j in range(_K)]


def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    char 5-gram polynomial rolling hashes, min-sampled over a sliding
    window of 4 — all as array expressions inside codegen (no UDF).
    Per-doc fingerprint-set stats keep the output compact; the same
    arithmetic runs in DuckDB list comprehensions."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    poly = " + ".join(
        f"ascii(substring(txt, i + {j}, 1)) * {c}" for j, c in enumerate(_COEFS)
    )
    return (
        docs.selectExpr("doc_id", "lower(substring(text, 1, 400)) AS txt")
        .where(f"length(txt) >= {_K + _W - 1}")
        .selectExpr(
            "doc_id",
            f"transform(sequence(1, length(txt) - {_K} + 1), i -> {poly}) AS hashes",
        )
        .selectExpr(
            "doc_id",
            f"array_distinct(transform(sequence(1, size(hashes) - {_W} + 1),"
            f" ws -> array_min(slice(hashes, ws, {_W})))) AS fps",
        )
        .selectExpr(
            "doc_id",
            "cast(size(fps) AS bigint) AS n_fingerprints",
            "cast(array_min(fps) AS bigint) AS min_fp",
            "cast(array_max(fps) AS bigint) AS max_fp",
        )
    )


def cdc_drain(spark: SparkSession, sf_dir: str, n_slices: int = 1) -> DataFrame:
    """Drain the (base, changelog) CDC fixture through a ``foreachBatch``
    merge: each micro-batch applies ``operators.incremental.apply_cdc``
    (latest-wins I/U/D) to the parquet snapshot the previous batch
    persisted, and promotes the result with ``write_snapshot``. The
    snapshot lives under a per-call scratch directory.

    ``n_slices == 1`` stages the changelog as ONE file (``coalesce(1)``:
    one write job, where ``repartitionByRange(1)`` would add a sampling
    job) and drains it in one micro-batch. More slices stage it with
    ``sliced_stage_dir`` range-ordered on the latest-wins order
    columns, one file per micro-batch, and the drain checks that it
    ran at least that many batches. No state sizing: foreachBatch has
    no keyed state store — cross-batch state is the snapshot itself,
    and each batch's merge is a plain batch job."""
    from ..operators.incremental import apply_cdc
    from .functional import cdc_fixture

    target = os.path.join(scratch_dir(prefix="stream_cdc_"), "base")
    base, changes = cdc_fixture(spark, sf_dir)
    base.write.mode("overwrite").parquet(target)
    if n_slices == 1:
        stage = scratch_dir(prefix="cdc_feed_")
        changes.coalesce(1).write.mode("overwrite").parquet(stage)
    else:
        stage = sliced_stage_dir(
            changes, ["o_orderdate", "o_orderkey"], n_slices, prefix="cdc_feed_"
        )
    feed = (
        spark.readStream.schema(changes.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )

    def apply_batch(bdf: DataFrame, _batch_id: int) -> None:
        existing = bdf.sparkSession.read.parquet(target)
        merged = apply_cdc(existing, bdf, "c_custkey", ("o_orderdate", "o_orderkey"))
        write_snapshot(merged, target)

    drain(feed.writeStream.foreachBatch(apply_batch), min_batches=n_slices)
    return spark.read.parquet(target).orderBy("c_custkey")


def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC consumer as a CONTINUOUS job: ``foreachBatch`` applies
    ``operators.incremental.apply_cdc`` (latest-wins I/U/D merge) to
    each micro-batch against the parquet-persisted base snapshot —
    how a warehouse actually drains a Debezium/binlog topic. Uses the
    same deterministic (base, changelog) fixture as the batch
    ``inc_cdc_apply`` and checks the IDENTICAL oracle: after the
    availableNow drain the persisted snapshot must equal the one-shot
    batch merge.

    Per-batch latest-wins composes to global latest-wins when the
    feed is time-ordered across batches (real changelogs are; the
    staged fixture here is one file ⇒ one micro-batch, and
    ``stream_cdc_multibatch`` drains the sliced form)."""
    return cdc_drain(spark, sf_dir)


# ---------------------------------------------------------------------------
# Streaming corpus curation pipeline
# ---------------------------------------------------------------------------


def stream_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-curation funnel AS A STREAM — quality gate → streaming
    exact dedup → leakage-stable split tag — in ONE continuous query
    over a monitored landing directory, the shape a perpetually-fed
    100 TB corpus actually runs (the batch twin is corpus_curation +
    samp_hash_split):

      documents stream → length ≥ 100 filter (narrow, scan-side)
        → dropDuplicates on the md5 TEXT fingerprint (streaming state:
          one entry per distinct text, the exact-dedup contract)
        → split = md5(fingerprint) bucket (hash-split on the DEDUP KEY,
          so whichever duplicate row survives, its split is identical —
          survivor-independence is what makes the result deterministic
          AND what keeps near-identical docs from straddling splits)
        → parquet sink, availableNow drain.

    The rollup (per-split doc count + character mass) is
    survivor-independent by construction; the oracle is the batch
    equivalent over DISTINCT text fingerprints."""
    docs_dir = scratch_dir(prefix="docs_stream_")
    os.symlink(
        os.path.join(sf_dir, "documents.parquet"),
        os.path.join(docs_dir, "documents.parquet"),
    )
    schema = (
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1_000_000)
        .parquet(docs_dir)
    )
    bucket = F.expr(
        "cast(conv(substring(md5(concat('split|', fp)), 1, 8), 16, 10) as bigint)"
        " % 100"
    )
    cur = (
        stream.where(F.length("text") >= 100)
        .withColumn("fp", F.md5("text"))
        .dropDuplicates(["fp"])
        .withColumn("bucket", bucket)
        .withColumn(
            "split",
            F.when(F.col("bucket") < 80, F.lit("train"))
            .when(F.col("bucket") < 90, F.lit("val"))
            .otherwise(F.lit("test")),
        )
        .select("fp", F.length("text").alias("n_chars"), "split")
    )
    # dedup state sized from the source: the split tag keys on the
    # DEDUP KEY and n_chars is identical across duplicates of a
    # fingerprint, so the post-sink rollup is survivor-independent by
    # construction (docstring above) — state layout cannot change it;
    # the parquet sink's file count is irrelevant (the query reads the
    # directory back and aggregates)
    out = scratch_dir(prefix="stream_cur_")
    drain(cur.writeStream.format("parquet").option("path", out), state_from=docs_dir)
    return (
        spark.read.parquet(out)
        .groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("split")
    )


_STREAM_CUR_ORACLE = """
WITH kept AS (
  SELECT md5(text) AS fp, min(len(text)) AS n_chars
  FROM documents
  WHERE len(text) >= 100
  GROUP BY md5(text)
),
tagged AS (
  SELECT fp, n_chars,
         CAST(concat('0x', substr(md5('split|' || fp), 1, 8)) AS BIGINT) % 100
           AS bucket
  FROM kept
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM tagged
GROUP BY 1
ORDER BY split
"""


# ---------------------------------------------------------------------------
# Python streaming data source (restart-resume drain)
# ---------------------------------------------------------------------------


def src_python_stream_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the custom PYTHON streaming source
    (sources/pages_stream.py) through FIVE sequential
    ``availableNow`` runs against ONE checkpoint — each restart
    resumes from the committed offset, so the parquet sink ends up
    with every page exactly once no matter how many pages any single
    run batches. This is the restart-resume/exactly-once property a
    checkpointed ingest job lives on, exercised end-to-end through
    the Spark 4 Python data source API (offsets as JSON dicts,
    ``readBetweenOffsets`` replay).

    The rollup is per-page counts + the first title; the oracle is
    fully static (the feed is deterministic), so a dropped page, a
    duplicated batch, or a mis-resumed offset all break the hash."""
    from ..sources.pages_stream import N_PAGES, register

    register(spark)
    base = scratch_dir(prefix="pys_resume_")
    out, ck = os.path.join(base, "rows"), os.path.join(base, "ck")
    # no state sizing: a stateless passthrough has no state store;
    # wall time is the five restart round-trips the query demonstrates
    for _ in range(N_PAGES):
        pages = spark.readStream.format("pages_stream").load()
        drain(pages.writeStream.format("parquet").option("path", out), checkpoint=ck)
    rows = spark.read.parquet(out)
    return (
        rows.groupBy("page")
        .agg(
            F.count("*").cast("bigint").alias("n_recs"),
            F.min("title").alias("first_title"),
        )
        .orderBy("page")
    )


_PYS_ORACLE = """
SELECT CAST(p AS INTEGER) AS page,
       CAST(10 AS BIGINT) AS n_recs,
       'T' || p || '-0' AS first_title
FROM generate_series(1, 5) t(p)
ORDER BY page
"""


# ---------------------------------------------------------------------------
# Malformed-record CSV ingest (PERMISSIVE mode)
# ---------------------------------------------------------------------------


def src_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode ingest of a CSV landing with injected corrupt
    rows (every o_orderkey ≡ 0 mod 13 is written as a garbage line):
    parse failures land in ``columnNameOfCorruptRecord`` instead of
    killing the job — the quarantine pattern every large-scale ingest
    needs, since at 100 TB a landing WILL contain malformed rows and
    FAILFAST means an un-runnable pipeline. The audit row carries the
    good/bad split and the revenue total over parsed rows only; the
    oracle derives all three from the injection rule, so a row
    mis-quarantined in either direction breaks the hash.

    (DROPMALFORMED is the lossy sibling — same parse path, silently
    discards; PERMISSIVE + explicit quarantine accounting is the
    auditable choice and the one exercised here.)"""
    orders = load_table(spark, sf_dir, "orders")
    path = os.path.join(scratch_dir(prefix="src_csv_bad_"), "orders_lines")
    line = F.when(
        F.col("o_orderkey") % 13 == 0, F.lit("!!corrupt;;not,a,number,line")
    ).otherwise(
        F.concat_ws(
            ",",
            F.col("o_orderkey"),
            F.col("o_custkey"),
            F.col("o_totalprice").cast("decimal(12,2)").cast("string"),
        )
    )
    orders.select(line.alias("value")).write.mode("overwrite").text(path)

    parsed = (
        spark.read.schema(
            "o_orderkey bigint, o_custkey bigint, price decimal(12,2), "
            "_corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    good = F.col("_corrupt").isNull()
    return parsed.agg(
        F.sum(good.cast("long")).cast("bigint").alias("n_good"),
        F.sum((~good).cast("long")).cast("bigint").alias("n_quarantined"),
        F.sum(F.when(good, (F.col("price") * 100).cast("bigint")))
        .cast("bigint")
        .alias("revenue_e2_good"),
    )


_CSV_BAD_ORACLE = """
SELECT CAST(sum(CASE WHEN o_orderkey % 13 != 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_good,
       CAST(sum(CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_quarantined,
       CAST(sum(CASE WHEN o_orderkey % 13 != 0
                     THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                END) AS BIGINT) AS revenue_e2_good
FROM orders
"""


# ---------------------------------------------------------------------------
# Schema-evolution source
# ---------------------------------------------------------------------------


def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read evolution: a landing directory whose early
    batches were written with a NARROW schema and later batches with
    two added columns, scanned as one dataset via
    ``mergeSchema=true`` — the standard ingestion reality when an
    upstream producer adds fields mid-stream. Early rows surface the
    new columns as NULL; the rollup below groups on an added column so
    a wrong fill (dropped rows, misaligned columns, default-instead-of-
    null) breaks the value hash.

    100 TB posture: schema merging is a FOOTER-only operation (one
    small read per file at planning time, no data scan), and the
    per-batch physical schemas stay pruned — each file decodes only
    the columns it actually has. The alternative — rewriting history
    to the new schema — is the thing a petabyte landing cannot afford.
    """
    orders = load_table(spark, sf_dir, "orders")
    path = os.path.join(scratch_dir(prefix="src_evo_"), "orders_landing")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
        "o_orderpriority",
    )
    v1.write.mode("overwrite").parquet(os.path.join(path, "batch=1"))
    v2.write.mode("overwrite").parquet(os.path.join(path, "batch=2"))

    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "batch=1"), os.path.join(path, "batch=2")
    )
    price_e2 = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    return (
        merged.groupBy(
            F.coalesce(F.col("o_orderstatus"), F.lit("<pre-evolution>")).alias(
                "status"
            )
        )
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(price_e2).cast("bigint").alias("revenue_e2"),
            F.sum(F.col("o_orderpriority").isNull().cast("long"))
            .cast("bigint")
            .alias("n_null_priority"),
        )
        .orderBy("status")
    )


_EVO_ORACLE = """
WITH unioned AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         CAST(NULL AS VARCHAR) AS o_orderstatus,
         CAST(NULL AS VARCHAR) AS o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT coalesce(o_orderstatus, '<pre-evolution>') AS status,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
         AS revenue_e2,
       CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_priority
FROM unioned
GROUP BY coalesce(o_orderstatus, '<pre-evolution>')
ORDER BY status
"""


# ---------------------------------------------------------------------------
# Inverted-index sink
# ---------------------------------------------------------------------------

_IDX_SHARDS = 16
_IDX_LOOKUP = ("spark", "window", "vector", "merge")


def sink_inverted_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index warehouse artifact: build term → posting-list
    rows from ``documents``, write them PARTITIONED BY an md5 term
    shard, re-read with a shard filter, and serve a 4-term lookup.

    The scale story is the layout: a term's postings live in exactly
    one of 16 shard partitions, so a lookup prunes 15/16 of the index
    at the parquet-directory level (partition pruning — the same
    mechanism tests/test_dpp.py asserts) and the posting list arrives
    as ONE row, not a scan-and-regroup. This is the serving-side
    complement of text_bm25_topk's scoring (plans/sketch.py): BM25
    ranks with tf/df; the index ships df and the doc list per term.

    Posting lists are ``array_sort(collect_set(...))`` joined to a
    comma string — deterministic regardless of partition arrival
    order, and hash-safe for the driver (no array cells). The oracle
    recomputes the same lists straight off ``documents``, so a
    dropped shard, a bad partition filter, or an unsorted list all
    break the hash."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    posting = (
        docs.select(
            "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
        )
        .distinct()
        .groupBy("term")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_set(F.col("doc_id"))),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("doc_list"),
        )
        .withColumn(
            "shard",
            F.expr(
                "cast(conv(substring(md5(concat('idx|', term)), 1, 8), 16, 10)"
                f" as bigint) % {_IDX_SHARDS}"
            ),
        )
    )
    path = os.path.join(scratch_dir(prefix="sink_idx_"), "inverted_index")
    posting.write.partitionBy("shard").mode("overwrite").parquet(path)

    # the lookup's shard set is computable driver-side from the terms
    # alone (same md5 rule) — this is what makes the partition filter a
    # static prune, no index scan needed to find the shards
    import hashlib

    shards = sorted(
        {
            int(hashlib.md5(f"idx|{t}".encode()).hexdigest()[:8], 16) % _IDX_SHARDS
            for t in _IDX_LOOKUP
        }
    )
    back = spark.read.parquet(path).where(
        F.col("shard").isin(*shards) & F.col("term").isin(*_IDX_LOOKUP)
    )
    return back.select("term", "n_docs", "doc_list").orderBy("term")


_IDX_ORACLE = f"""
WITH raw AS (
  SELECT doc_id,
         unnest({tokens_sql('lower(text)')}) AS term
  FROM documents
),
toks AS (SELECT DISTINCT doc_id, term FROM raw)
SELECT t.term,
       CAST(count(*) AS BIGINT) AS n_docs,
       array_to_string(list_sort(list(doc_id)), ',') AS doc_list
FROM toks t
JOIN (VALUES {", ".join(f"('{t}')" for t in _IDX_LOOKUP)}) q(term)
  ON t.term = q.term
GROUP BY t.term
ORDER BY t.term
"""


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

_WINNOW_POLY = " + ".join(
    f"ascii(substr(txt, i + {j}, 1)) * {c}" for j, c in enumerate(_COEFS)
)

QUERIES = {
    "stream_window_counts": stream_window_counts,
    "stream_user_totals": stream_user_totals,
    "stream_dedup": stream_dedup,
    "stream_session_counts": stream_session_counts,
    "agg_session_window_batch": agg_session_window_batch,
    "stream_upsert_dim": stream_upsert_dim,
    "sink_bucketed_join": sink_bucketed_join,
    "sink_compaction": sink_compaction,
    "mm_meta_checked": mm_meta_checked,
    "mm_features": mm_features,
    "mm_frame_sample_checked": mm_frame_sample_checked,
    "mm_resize_checked": mm_resize_checked,
    "stream_static_join": stream_static_join,
    "stream_interval_join": stream_interval_join,
    "sink_partitioned_roundtrip": sink_partitioned_roundtrip,
    "sink_csv_roundtrip": sink_csv_roundtrip,
    "sink_orc_roundtrip": sink_orc_roundtrip,
    "sink_inverted_index_roundtrip": sink_inverted_index_roundtrip,
    "src_schema_evolution": src_schema_evolution,
    "src_csv_malformed": src_csv_malformed,
    "src_python_stream_resume": src_python_stream_resume,
    "stream_curation_pipeline": stream_curation_pipeline,
    "sink_zorder_roundtrip": sink_zorder_roundtrip,
    "sink_observed_write": sink_observed_write,
    "src_jdbc_landing": src_jdbc_landing,
    "src_json_records": src_json_records,
    "agg_approx_distinct_checked": agg_approx_distinct_checked,
    "agg_hll_partition_merge": agg_hll_partition_merge,
    "text_winnow_fingerprints": text_winnow_fingerprints,
    "stream_cdc_apply": stream_cdc_apply,
}


def _cdc_oracle() -> str:
    from .functional import ORACLES as _F

    return _F["inc_cdc_apply"]


ORACLES = {
    "sink_compaction": """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY lang
""",
    "stream_dedup": "SELECT DISTINCT user_id, event_type FROM events",
    "stream_interval_join": """
SELECT p.event_id AS purchase_id, v.event_id AS view_id
FROM events p JOIN events v
  ON p.user_id = v.user_id
 AND p.event_type = 'purchase' AND v.event_type = 'view'
 AND v.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
""",
    "stream_static_join": """
SELECT c_mktsegment, count(*) AS n_events,
       CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT)
         AS sum_value_e6
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
""",
    "src_jdbc_landing": """
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
         AS sum_price_e2
FROM orders WHERE o_totalprice > 100000
GROUP BY o_orderstatus
""",
    "sink_orc_roundtrip": """
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
         AS sum_price_e2
FROM orders GROUP BY o_orderstatus
""",
    "sink_inverted_index_roundtrip": _IDX_ORACLE,
    "src_schema_evolution": _EVO_ORACLE,
    "src_csv_malformed": _CSV_BAD_ORACLE,
    "src_python_stream_resume": _PYS_ORACLE,
    "stream_curation_pipeline": _STREAM_CUR_ORACLE,
    "sink_observed_write": """
SELECT count(*) AS n_rows,
       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)
         AS sum_price_e2,
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_status
FROM orders
""",
    "sink_zorder_roundtrip": """
SELECT count(*) AS n_orders,
       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
         AS sum_price_e2,
       CAST(sum(CASE WHEN o_orderkey * 10 <= (SELECT max(o_orderkey) FROM orders)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low_orderkey,
       CAST(sum(CASE WHEN o_custkey * 10 <= (SELECT max(o_custkey) FROM orders)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low_custkey
FROM orders
""",
    "stream_upsert_dim": """
SELECT CAST(row_number() OVER (ORDER BY type_name) AS INTEGER) AS type_sk,
       type_name
FROM (SELECT DISTINCT event_type AS type_name FROM events
      WHERE event_type IS NOT NULL)
""",
    "agg_session_window_batch": """
WITH flagged AS (
  SELECT event_type, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
), sessed AS (
  SELECT event_type, ts,
         sum(new_sess) OVER (PARTITION BY event_type ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events
FROM sessed GROUP BY event_type, session_id
""",
    "stream_session_counts": """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessed AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id,
       count(*) AS n_events
FROM sessed GROUP BY user_id, session_id
""",
    "sink_bucketed_join": """
SELECT c_mktsegment,
       count(*) AS n_orders,
       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
         AS sum_price_e2
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    "stream_window_counts": """
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
       date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2, 3""",
    "stream_user_totals": """
SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value_r
FROM events GROUP BY user_id""",
    "mm_meta_checked": """
SELECT doc_id AS media_id,
       (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
       CAST(128 AS BIGINT) AS n_bytes,
       md5(repeat(md5(text), 4)) AS payload_md5
FROM documents""",
    "mm_features": """
WITH h AS (
  SELECT doc_id, md5(repeat(md5(text), 4)) AS hx FROM documents
),
b AS (
  SELECT doc_id,
    (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
      + strpos('0123456789abcdef', substr(hx, 2, 1)) - 1 AS b0,
    (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
      + strpos('0123456789abcdef', substr(hx, 4, 1)) - 1 AS b1
  FROM h
)
SELECT doc_id AS media_id,
       (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
       CAST(128 AS BIGINT) AS n_bytes,
       CAST(16 + b0 % 240 AS INT) AS width,
       CAST(16 + b1 % 240 AS INT) AS height
FROM b""",
    "mm_frame_sample_checked": """
SELECT doc_id AS media_id,
       off AS frame_offset,
       lower(hex(encode(substr(repeat(md5(text), 4), CAST(off AS INT) + 1, 8)))) AS frame_hex
FROM documents
CROSS JOIN (SELECT unnest(generate_series(0, 127, 64)) AS off) t
WHERE doc_id % 3 = 2""",
    "mm_resize_checked": """
WITH h AS (
  SELECT doc_id, repeat(md5(text), 4) AS hx
  FROM documents WHERE doc_id % 3 = 0
),
s AS (
  SELECT doc_id, hx,
         array_to_string(list_transform(generate_series(1, 128, 2),
           o -> substr(hx, CAST(o AS INT), 1)), '') AS strided
  FROM h
),
b AS (
  SELECT doc_id, strided,
    (strpos('0123456789abcdef', substr(md5(hx), 1, 1)) - 1) * 16
      + strpos('0123456789abcdef', substr(md5(hx), 2, 1)) - 1 AS b0,
    (strpos('0123456789abcdef', substr(md5(hx), 3, 1)) - 1) * 16
      + strpos('0123456789abcdef', substr(md5(hx), 4, 1)) - 1 AS b1
  FROM s
)
SELECT doc_id AS media_id,
       CAST(length(strided) AS BIGINT) AS resized_bytes,
       md5(strided) AS resized_md5,
       CAST(GREATEST((16 + b0 % 240) // 2, 1) AS INT) AS new_width,
       CAST(GREATEST((16 + b1 % 240) // 2, 1) AS INT) AS new_height
FROM b""",
    "sink_partitioned_roundtrip": """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT)
         AS sum_value_e6
FROM events WHERE event_type IN ('click', 'purchase')
GROUP BY event_type""",
    "sink_csv_roundtrip": """
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
         AS sum_price_e2
FROM orders GROUP BY o_orderstatus""",
    "src_json_records": """
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
       0 AS n_source_nonnull
FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 200)
GROUP BY lang""",
    "agg_approx_distinct_checked": """
SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
       COUNT(DISTINCT l_orderkey) AS exact_orders,
       TRUE AS approx_parts_ok,
       TRUE AS approx_orders_ok
FROM lineitem""",
    "agg_hll_partition_merge": """
SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
       TRUE AS merged_estimate_ok
FROM lineitem""",
    "text_winnow_fingerprints": f"""
WITH prepared AS (
  SELECT doc_id, lower(substr(text, 1, 400)) AS txt FROM documents
),
hashed AS (
  SELECT doc_id,
         list_transform(range(1, length(txt) - {_K} + 2),
                        i -> {_WINNOW_POLY}) AS hashes
  FROM prepared WHERE length(txt) >= {_K + _W - 1}
),
winnowed AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(hashes) - {_W} + 2),
                       ws -> list_min(hashes[ws:ws + {_W} - 1]))) AS fps
  FROM hashed
)
SELECT doc_id,
       CAST(len(fps) AS BIGINT) AS n_fingerprints,
       CAST(list_min(fps) AS BIGINT) AS min_fp,
       CAST(list_max(fps) AS BIGINT) AS max_fp
FROM winnowed""",
}

# Identical oracle to the batch inc_cdc_apply: the availableNow drain
# must land the same snapshot the one-shot merge produces.
ORACLES["stream_cdc_apply"] = _cdc_oracle()
