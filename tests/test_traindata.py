"""Training-data-pipeline operators (split / pack / cluster) vs the
DuckDB oracle, plus structural invariants the hash comparison can't
express."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from end_to_end_data_engineering_job_listings_etl_spark.plans import corpus, traindata
from tests.conftest import SF_DIR
from tests.oracle_check import compare


@pytest.mark.parametrize("name", sorted(traindata.ORACLES))
def test_traindata_query_matches_oracle(spark, duck, name):
    compare(traindata.QUERIES[name](spark, SF_DIR), duck, traindata.ORACLES[name], name)


def test_hash_split_is_stable_under_subsetting(spark):
    """Hash-split membership is a pure function of the id: computing
    the split over a *filtered* corpus assigns the surviving docs
    exactly the same buckets (the property rand()-splits lack)."""
    from pyspark.sql import functions as F

    from end_to_end_data_engineering_job_listings_etl_spark.catalog import load_table

    full = {
        r["doc_id"]: (r["bucket"], r["split"])
        for r in traindata.samp_hash_split(spark, SF_DIR).collect()
    }
    subset_docs = load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") % 3 == 0
    )
    sub = {
        r["doc_id"]: (r["bucket"], r["split"])
        for r in traindata.hash_split(subset_docs, "doc_id").collect()
    }
    assert sub, "subset should be non-empty"
    for doc_id, assignment in sub.items():
        assert full[doc_id] == assignment


def test_pack_batches_respect_capacity_prefix(spark):
    """Within each shard, tokens strictly before a doc in batch b total
    >= b*capacity (batch boundaries are exact prefix-sum cuts), and
    batch_seq is nondecreasing in doc_id order."""
    rows = traindata.text_pack_batches(spark, SF_DIR).collect()
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    cap = traindata._PACK_CAPACITY
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r["doc_id"])
        cum = 0
        prev_seq = 0
        for r in shard_rows:
            assert r["batch_seq"] == cum // cap
            assert r["batch_seq"] >= prev_seq
            prev_seq = r["batch_seq"]
            cum += r["n_tokens"]


def test_duplicate_clusters_are_consistent_with_pairs(spark):
    """Every near-dup pair lands in one cluster; every cluster id is
    the min member; exactly one canonical doc per cluster."""
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in traindata.dd_duplicate_clusters(spark, SF_DIR).collect()
    }
    pairs = corpus.dd_jaccard_pairs(spark, SF_DIR).collect()
    assert pairs, "fixture should contain at least one near-dup pair"
    for p in pairs:
        assert labels[p["id_a"]] == labels[p["id_b"]]
    clusters: dict[int, list[int]] = {}
    for doc_id, cid in labels.items():
        clusters.setdefault(cid, []).append(doc_id)
    for cid, members in clusters.items():
        assert cid == min(members)


def test_token_budget_boundary_doc_crosses(spark):
    """Greedy fill contract: every source either kept ALL its docs, or
    its kept token total is >= the budget (the boundary doc crossed
    it) while the total minus the LAST kept doc is under budget."""
    import pyspark.sql.functions as F

    from end_to_end_data_engineering_job_listings_etl_spark.catalog import load_table_dist
    from end_to_end_data_engineering_job_listings_etl_spark.functions import text as T

    out = {
        r["source"]: r
        for r in traindata.samp_token_budget(spark, SF_DIR).collect()
    }
    docs = (
        load_table_dist(spark, SF_DIR, "documents", cols=("doc_id", "text", "source"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(T.tokens("text"))).alias("n_tokens"),
        )
        .collect()
    )
    totals = {r["source"]: r for r in docs}
    assert set(out) == set(totals)
    for src, r in out.items():
        if r["n_docs_kept"] == totals[src]["n_docs"]:
            continue  # budget never bound for this source
        assert r["n_tokens_kept"] >= traindata._BUDGET_TOKENS


def test_cluster_split_never_splits_a_cluster(spark):
    rows = traindata.samp_split_by_cluster(spark, SF_DIR).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())


def test_pack_sequences_invariants(spark):
    """Greedy packing contract: every bin fits the capacity unless it
    holds a single oversized document; docs are never split (total
    docs and tokens conserved); bins within a shard are densely
    numbered from 0."""
    from end_to_end_data_engineering_job_listings_etl_spark.plans.traindata import (
        _PACK_CAP,
        samp_pack_sequences,
    )
    from end_to_end_data_engineering_job_listings_etl_spark.functions import text as T
    from end_to_end_data_engineering_job_listings_etl_spark.catalog import load_table

    rows = samp_pack_sequences(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_tokens"] <= _PACK_CAP or r["n_docs"] == 1
    total_docs = sum(r["n_docs"] for r in rows)
    total_tokens = sum(r["n_tokens"] for r in rows)
    docs = load_table(spark, SF_DIR, "documents")
    agg = docs.agg(
        F.count("*").alias("n"),
        F.sum(F.size(T.tokens("text"))).alias("t"),
    ).collect()[0]
    assert total_docs == agg["n"] and total_tokens == agg["t"]
    by_chunk = {}
    for r in rows:
        by_chunk.setdefault(r["chunk_id"], []).append(r["bin_id"])
    for bins in by_chunk.values():
        assert sorted(bins) == list(range(len(bins)))


def test_inc_dedup_merge_invariants(spark):
    """Verdict semantics the hash gate can't express directly: every
    batch document gets exactly one verdict, all three verdicts occur,
    accepted fingerprints are unique among accepted AND absent from
    the corpus side (so replaying the merge can never admit a dup)."""
    out = traindata.inc_dedup_merge(spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_batch = docs.filter(F.col("doc_id") % 10 >= 2).count()
    assert len(out) == n_batch
    assert len({r["doc_id"] for r in out}) == n_batch
    statuses = {r["status"] for r in out}
    assert statuses == {"accepted", "dup_batch", "dup_corpus"}
    accepted = [r["fp"] for r in out if r["status"] == "accepted"]
    assert len(accepted) == len(set(accepted))
    # recompute corpus fingerprints independently
    from pyspark.sql import functions as SF
    fps = docs.select(
        "doc_id",
        SF.md5(
            SF.concat_ws(" ", SF.slice(SF.split("text", " "), 1, 8))
        ).alias("fp"),
    )
    corpus = {
        r["fp"] for r in fps.filter(SF.col("doc_id") % 10 < 2).collect()
    }
    assert not (set(accepted) & corpus)
    # corpus precedence: anything whose fp is in the corpus is dup_corpus
    for r in out:
        if r["fp"] in corpus:
            assert r["status"] == "dup_corpus"


def test_inc_lsh_merge_invariants(spark):
    """Recall-side semantics the hash gate can't express: every batch
    doc gets exactly one verdict; a batch doc whose TEXT is byte-equal
    to a corpus doc's must be flagged (identical shingle set ->
    identical signature -> identical bands: LSH recall on exact dups
    is 1 by construction)."""
    out = {r["doc_id"]: r for r in traindata.inc_lsh_merge(spark, SF_DIR).collect()}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_batch = docs.filter(F.col("doc_id") % 10 >= 2).count()
    assert len(out) == n_batch
    corpus_texts = {
        r["text"]
        for r in docs.filter(F.col("doc_id") % 10 < 2)
        .select("text")
        .collect()
    }
    exact_dups = [
        r["doc_id"]
        for r in docs.filter(F.col("doc_id") % 10 >= 2).collect()
        if r["text"] in corpus_texts
    ]
    for did in exact_dups:
        assert out[did]["status"] == "dup_near_corpus", did
        assert out[did]["n_corpus_hits"] >= 1
    for r in out.values():
        assert (r["status"] == "dup_near_corpus") == (r["n_corpus_hits"] > 0)


def test_dd_keep_best_invariants(spark):
    """Exactly one keeper per cluster; the keeper maximizes quality
    (ties -> lowest doc_id); labels agree with dd_duplicate_clusters."""
    rows = traindata.dd_keep_best(spark, SF_DIR).collect()
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in traindata.dd_duplicate_clusters(spark, SF_DIR).collect()
    }
    assert {r["doc_id"]: r["cluster_id"] for r in rows} == labels
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for members in by_cluster.values():
        keepers = [r for r in members if r["keep"]]
        assert len(keepers) == 1
        best = min(members, key=lambda r: (-r["quality_e6"], r["doc_id"]))
        assert keepers[0]["doc_id"] == best["doc_id"]
