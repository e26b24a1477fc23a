"""Corpus operators over documents/embeddings: text analysis, dedup
(exact / MinHash-LSH / Jaccard / SimHash) and similarity search.

Beyond-reference training-data-pipeline layer (BASELINE.json north
star) — the reference stops at `.distinct()`; a 100 TB corpus engine
needs near-dup detection, quality scoring and ANN as first-class
operators. All Spark-side logic is pure column expressions / joins —
no Python in the row path.

Oracle notes (determinism across engines):
- every hash is md5 (bit-stable everywhere);
- ratio outputs are floor(x * 1e6) integers — floor of an identical
  IEEE double is engine-independent, while round-half ties are not;
- cosine oracles compute the dot product with an explicit
  index-ordered sum (list_transform(range ...)), matching Spark's
  left-to-right aggregate fold bit for bit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cachereg
from ..catalog import load_table, load_table_dist
from ..functions import text as T
from ..operators import dedup as D
from ..operators import similarity as S

# ---------------------------------------------------------------------------
# Spark queries
# ---------------------------------------------------------------------------

_JACCARD_MAX_ID = 100  # bound the exact-pairs demo; the scale path is LSH
_MINHASH_K = 8
_LSH_BANDS = 4
_SHINGLE_K = 3

def _e6(col) -> F.Column:
    return F.floor(col * 1_000_000).cast("long")


def _predicted_lang() -> F.Column:
    """The language whose ``score_<lang>`` is highest; the first max
    wins, in declared language order."""
    langs = list(T.LANG_MARKERS)
    pred = None
    for lang in langs:
        cond = None
        for other in langs:
            c = F.col(f"score_{lang}") >= F.col(f"score_{other}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    return pred


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_dist(
        spark, sf_dir, "documents", cols=("doc_id", "text")
    ).withColumn("__toks", T.tokens("text"))
    return docs.select(
        "doc_id",
        T.char_count("text").alias("n_chars"),
        F.size("__toks").alias("n_tokens"),
        T.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        _e6(T.punct_ratio("text")).alias("punct_e6"),
        _e6(T.stopword_ratio("__toks")).alias("stop_e6"),
        _e6(T.mean_word_length("__toks")).alias("mwl_e6"),
        _e6(T.quality_score("text", "__toks")).alias("quality_e6"),
        T.fingerprint("text").alias("fp"),
    )


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_dist(
        spark, sf_dir, "documents", cols=("doc_id", "text", "lang")
    ).withColumn("__toks", T.tokens("text"))
    scored = docs.select("doc_id", "lang", *T.lang_scores("__toks"))
    scores = [f"score_{l}" for l in T.LANG_MARKERS]
    return scored.select("doc_id", "lang", *scores, _predicted_lang().alias("predicted"))


def dd_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    return docs.select(T.fingerprint("text").alias("fp")).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
    )


def dd_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard pairs (τ = 0.5) over a bounded demo slice, through
    the prefix-filtered ``jaccard_pairs``. Registered under two names:
    ``dd_prefix_filter_pairs`` is the same plan and oracle."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text")).filter(
        F.col("doc_id") < _JACCARD_MAX_ID
    )
    return D.jaccard_pairs(docs, "text", "doc_id", threshold=0.5)


def dd_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-subset duplicates by overlap coefficient (n_inter /
    min(|A|,|B|)) — the Jaccard complement that catches a short doc
    contained in a long one. Same bounded demo slice and token sets as
    ``dd_jaccard_pairs``."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text")).filter(
        F.col("doc_id") < _JACCARD_MAX_ID
    )
    return D.containment_pairs(docs, "text", "doc_id", threshold=0.8)


def dd_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    sets = D.shingle_sets(docs, "text", "doc_id", _SHINGLE_K)
    return D.minhash_signature(sets, "doc_id", _MINHASH_K)


def dd_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = dd_minhash_signatures(spark, sf_dir)
    return D.minhash_lsh_pairs(sig, "doc_id", _MINHASH_K, _LSH_BANDS)


def dd_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator calibration for the MinHash pipeline: for every LSH
    candidate pair, the signature-agreement Jaccard ESTIMATE
    (matching positions / k, exactly n_match·125000 in e6) next to the
    EXACT shingle-set Jaccard — the measurement a production dedup
    runs to tune k/bands/threshold.

    Memoized per (session, sf_dir) in the ``corpus`` family; the entry
    owns every frame the build pins.

    Scale shape: ALL per-pair machinery — signatures, band buckets,
    the exact shingle-set intersection — runs per DISTINCT text
    fingerprint, never per document. One ``shingle_sets`` frame per
    fingerprint feeds the signatures; its candidate slice feeds the
    exact Jaccard, checked in-row with ``array_intersect`` (the same
    check as ``jaccard_pairs``). Exact duplicates share a
    fingerprint (md5 of the same whitespace/case normalization the
    tokenizer applies, so fp equality ⟹ identical token stream ⟹
    identical signature and shingle set), and a boilerplate-heavy
    corpus has dup multiplicity that GROWS with scale: verifying each
    doc pair separately would make this query quadratic inside dup
    groups. Same-fp pairs need no verification at all — their Jaccard
    is exactly 1 and they agree on every band — and distinct-fp
    metrics are computed once and fanned out to doc pairs by two hash
    joins whose cost is the (semantically demanded) output size.
    Values are bit-identical to the per-doc plan, including one edge:
    docs shorter than the shingle width have empty shingle sets, were
    never candidates in the per-doc plan, and are excluded from
    same-fp emission by a left-semi against the signature frame (the
    oracle mirrors the gate with an IN (SELECT doc_id FROM
    signatures))."""
    return cachereg.memo(
        spark,
        sf_dir,
        "corpus",
        "minhash",
        lambda pins: _minhash_estimate(spark, sf_dir, pins),
    )


def _minhash_estimate(
    spark: SparkSession, sf_dir: str, pins: list[DataFrame]
) -> DataFrame:
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    doc_fp = docs.select("doc_id", T.fingerprint("text").alias("fp"))
    # one representative text per fingerprint (min(text) — any member
    # tokenizes identically) + the group multiplicity
    reps = (
        docs.select(T.fingerprint("text").alias("fp"), "text")
        .groupBy("fp")
        .agg(F.min("text").alias("text"), F.count("*").alias("n_docs"))
    ).persist()
    # One shingle set per fingerprint feeds both the signatures and the
    # exact Jaccard.
    sets = D.shingle_sets(reps, "text", "fp", _SHINGLE_K)
    # ONE signature pass over distinct fingerprints, persisted and
    # shared by the LSH banding AND the per-pair agreement join.
    sigs = D.minhash_signature(sets, "fp", _MINHASH_K).persist()
    # fp-level candidate pairs from band buckets; consumed twice
    # (candidate-fp projection + final metrics) — pin it so the
    # banding join runs once.
    fp_pairs = D.minhash_lsh_pairs(
        sigs, "fp", _MINHASH_K, _LSH_BANDS
    ).localCheckpoint(eager=False)
    # The exact Jaccard reads only the sets of fingerprints that appear
    # in a candidate pair (at scale |candidates| ≪ |corpus|), on both
    # sides of each pair, so that slice is pinned once.
    cand_fps = (
        fp_pairs.select(F.col("id_a").alias("fp"))
        .unionByName(fp_pairs.select(F.col("id_b").alias("fp")))
        .distinct()
    )
    cand_sets = sets.join(cand_fps, "fp", "left_semi").localCheckpoint(eager=False)
    pins.extend([reps, sigs, fp_pairs, cand_sets])
    sa = sigs.select(
        F.col("fp").alias("id_a"),
        *[F.col(f"mh_{i}").alias(f"ma_{i}") for i in range(_MINHASH_K)],
    )
    sb = sigs.select(
        F.col("fp").alias("id_b"),
        *[F.col(f"mh_{i}").alias(f"mb_{i}") for i in range(_MINHASH_K)],
    )
    n_match = sum(
        (F.col(f"ma_{i}") == F.col(f"mb_{i}")).cast("int")
        for i in range(_MINHASH_K)
    )
    jacc_e6 = F.floor(
        F.col("__inter").cast("double")
        * F.lit(1000000.0)
        / F.col("__union").cast("double")
    ).cast("bigint")
    cross_fp = D._with_overlap(
        fp_pairs.join(sa, "id_a").join(sb, "id_b"), cand_sets, "fp"
    ).select(
        F.col("id_a").alias("fp_a"),
        F.col("id_b").alias("fp_b"),
        "n_bands_shared",
        n_match.alias("n_match_k"),
        (n_match.cast("bigint") * F.lit(125000)).alias("est_e6"),
        jacc_e6.alias("jacc_e6"),
    )
    # exact-duplicate groups: identical signatures agree on every band
    # and position, and shingle Jaccard is exactly 1 — no metric joins
    # needed. The left-semi against sigs is the per-doc parity gate:
    # a doc shorter than the shingle width has an EMPTY shingle set,
    # so the per-doc plan never gave it a signature or band row and it
    # was never a candidate — its exact duplicates must not surface
    # here either.
    same_fp = reps.filter(F.col("n_docs") >= 2).join(
        sigs.select("fp"), "fp", "left_semi"
    ).select(
        F.col("fp").alias("fp_a"),
        F.col("fp").alias("fp_b"),
        F.lit(_LSH_BANDS).cast("bigint").alias("n_bands_shared"),
        F.lit(_MINHASH_K).cast("int").alias("n_match_k"),
        F.lit(_MINHASH_K * 125000).cast("bigint").alias("est_e6"),
        F.lit(1000000).cast("bigint").alias("jacc_e6"),
    )
    # fan the fp-level metrics back out to document pairs: two hash
    # joins, output-sized work only. Same-fp rows keep ia<ib once;
    # distinct-fp rows orient each doc pair by least/greatest.
    da = doc_fp.select(F.col("fp").alias("fp_a"), F.col("doc_id").alias("__ia"))
    db = doc_fp.select(F.col("fp").alias("fp_b"), F.col("doc_id").alias("__ib"))
    return (
        cross_fp.unionByName(same_fp)
        .join(da, "fp_a")
        .join(db, "fp_b")
        .filter((F.col("fp_a") != F.col("fp_b")) | (F.col("__ia") < F.col("__ib")))
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            "n_bands_shared",
            "n_match_k",
            "est_e6",
            "jacc_e6",
        )
    )


def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    return D.simhash60(docs, "text", "doc_id")


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    return _query_vecs(spark, sf_dir, [vec_id])[vec_id]


def _query_vecs(
    spark: SparkSession, sf_dir: str, vec_ids: "Sequence[int]"
) -> dict[int, list[float]]:
    """Fetch several seed/query vectors in ONE bounded collect (≤ a few
    rows) — builders that seed 4 centroids plus a probe were paying one
    filter-scan job per id (guide §1.2: don't run five jobs where one
    serves)."""
    emb = load_table_dist(spark, sf_dir, "embeddings", cols=("vec_id", "embedding"))
    rows = (
        emb.filter(F.col("vec_id").isin(*[int(i) for i in vec_ids]))
        .select("vec_id", "embedding")
        .collect()
    )
    return {
        int(r["vec_id"]): [float(v) for v in r["embedding"]] for r in rows
    }


def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = _query_vec(spark, sf_dir, 0)
    emb = load_table_dist(spark, sf_dir, "embeddings", cols=("vec_id", "embedding"))
    return S.cosine_topk(emb, "embedding", "vec_id", q, k=20)


def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_dist(spark, sf_dir, "embeddings", cols=("vec_id", "embedding"))
    probes = emb.filter(F.col("vec_id") < 5)
    return S.knn_join(emb, probes, "embedding", "vec_id", k=5)


_NEARDUP_MAX_ID = 80
_NEARDUP_THRESHOLD = 0.3


def dd_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs on a bounded candidate set (the
    exact verifier stage; LSH/IVF bucketing is the candidate
    generator at scale)."""
    emb = load_table_dist(spark, sf_dir, "embeddings", cols=("vec_id", "embedding")).filter(
        F.col("vec_id") < _NEARDUP_MAX_ID
    )
    return D.embedding_neardup_pairs(emb, "embedding", "vec_id", _NEARDUP_THRESHOLD)


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN. Value-gated: the oracle replays
    the whole approximate path in SQL (centroid ranking, nprobe=2
    probe set, cell assignment, in-cell top-k) with the engine's exact
    tie-break contract — see ``_IVF_TOPK_ORACLE``. Also
    invariant-tested against the brute-force ranking in tests."""
    emb = load_table_dist(spark, sf_dir, "embeddings", cols=("vec_id", "embedding"))
    vecs = _query_vecs(spark, sf_dir, [0, 7, 13, 42, 1])
    centroids = [(i, vecs[vid]) for i, vid in enumerate([0, 7, 13, 42])]
    q = vecs[1]
    return S.ivf_topk(emb, "embedding", "vec_id", q, centroids, k=10, nprobe=2)


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation funnel a training corpus ships: every
    document attributed to its first-failing filter (exact-dup →
    too-short → low-quality → non-English) or retained. Composes the
    dedup fingerprint, quality score, and language-ID layers in ONE
    plan: a fingerprint-partitioned min-window (parallel, no global
    sort) plus narrow maps, then a tiny group-by on the reason code.

    On the synthetic corpus only too_short fires besides retained (the
    fixture has no exact dups and its "non-English" docs are English
    token soup) — the zero branches are still verified: a single doc
    attributed differently by Spark vs the oracle breaks the reason
    histogram hash."""
    docs = load_table_dist(
        spark, sf_dir, "documents", cols=("doc_id", "text")
    ).withColumn("__toks", T.tokens("text"))
    from pyspark.sql import Window

    scored = docs.select(
        "doc_id",
        T.fingerprint("text").alias("fp"),
        T.char_count("text").alias("n_chars"),
        T.quality_score("text", "__toks").alias("q"),
        *T.lang_scores("__toks"),
    )
    keyed = scored.select(
        "*",
        F.min("doc_id").over(Window.partitionBy("fp")).alias("keep_id"),
        _predicted_lang().alias("predicted"),
    )
    reason = (
        F.when(F.col("doc_id") != F.col("keep_id"), F.lit("exact_dup"))
        .when(F.col("n_chars") < 100, F.lit("too_short"))
        .when(F.col("q") < 0.5, F.lit("low_quality"))
        .when(F.col("predicted") != "en", F.lit("non_english"))
        .otherwise(F.lit("retained"))
    )
    return keyed.groupBy(reason.alias("reason")).agg(F.count("*").alias("n_docs"))


def sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN. Value-gated: the oracle
    embeds the seeded hyperplanes as SQL literals and replays the
    signature → single-bucket probe → top-k path (``_lsh_plane_bits``),
    so the APPROXIMATE default carries a hash-match gate.
    (``sim_lsh_ann_checked`` keeps the exhaustive max_hamming=6 probe
    whose expected answer is the brute-force ranking.)"""
    q = _query_vec(spark, sf_dir, 0)
    emb = load_table_dist(spark, sf_dir, "embeddings", cols=("vec_id", "embedding"))
    return S.lsh_ann(emb, "embedding", "vec_id", q, k=10, n_planes=6)


def sim_lsh_ann_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN with max_hamming = n_planes: probing every bucket
    makes the search exact, so the full signature → Hamming-probe →
    per-bucket scan → top-k path runs under the hash-match oracle gate
    — the brute-force SQL ranking IS the expected answer.
    (``sim_lsh_ann`` keeps the single-bucket probe: the approximate
    scale posture, invariant-tested.)"""
    q = _query_vec(spark, sf_dir, 0)
    emb = load_table_dist(spark, sf_dir, "embeddings", cols=("vec_id", "embedding"))
    return S.lsh_ann(emb, "embedding", "vec_id", q, k=10, n_planes=6, max_hamming=6)


_PQ_M = 4  # subspaces
_PQ_DSUB = 16  # dims per subspace (4 x 16 = embedding dim 64)
_PQ_NCODES = 8  # codewords per subspace = subvectors of vec_id 0..7
_PQ_QUERY_ID = 1
_PQ_TOPK = 20


def _pq_base_and_codebook(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    emb = load_table_dist(spark, sf_dir, "embeddings", cols=("vec_id", "embedding"))
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cb = base.filter(F.col("vec_id") < _PQ_NCODES).select(
        F.col("vec_id").alias("j"), F.col("v").alias("cv")
    )
    return base, cb


def _pq_encode(base: DataFrame, cb: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """(vec_id, *extra, code_0..3): broadcast-codebook join, then
    argmin per subspace as ONE map-side-combining aggregation —
    min(struct(d, j)) picks the lexicographic minimum (smallest
    distance, ties -> lowest codeword index), the exact selection
    rule the oracle's row_number() OVER (ORDER BY d, j) applies.
    (vs same-key window sorts: one exchange, partial agg before it,
    no sort at all.)"""
    from ..functions.vectors import sq_l2

    per_j = base.crossJoin(F.broadcast(cb)).select(
        "vec_id",
        *extra,
        "j",
        *[
            sq_l2(
                F.slice("v", m * _PQ_DSUB + 1, _PQ_DSUB),
                F.slice("cv", m * _PQ_DSUB + 1, _PQ_DSUB),
            ).alias(f"d_{m}")
            for m in range(_PQ_M)
        ],
    )
    return per_j.groupBy("vec_id", *extra).agg(
        *[
            F.min(F.struct(F.col(f"d_{m}").alias("d"), F.col("j").alias("j")))
            .getField("j")
            .cast("int")
            .alias(f"code_{m}")
            for m in range(_PQ_M)
        ]
    )


def _py_fold_sq(a: list[float], b: list[float]) -> float:
    """Python replay of ``sq_l2``'s exact IEEE op order
    (0.0 + (x-y)*(x-y) + ...) — bit-identical to the engine fold on
    the same doubles."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


def _pq_adc_column(cbv: list[list[float]], qv: list[float]) -> F.Column:
    """ADC distance as 4 literal CASE lookups over the code columns.
    The 8x4 LUT comes from one O(8)-row codebook collect (the
    _query_vec precedent) — no joins re-scanning the corpus subtree;
    literals are bit-identical to what an in-engine join would have
    produced (see _py_fold_sq)."""
    lut = [
        [
            _py_fold_sq(
                qv[m * _PQ_DSUB : (m + 1) * _PQ_DSUB],
                cbv[j][m * _PQ_DSUB : (m + 1) * _PQ_DSUB],
            )
            for j in range(_PQ_NCODES)
        ]
        for m in range(_PQ_M)
    ]

    def lut_case(m: int) -> F.Column:
        expr = F.when(F.col(f"code_{m}") == 0, F.lit(lut[m][0]))
        for j in range(1, _PQ_NCODES):
            expr = expr.when(F.col(f"code_{m}") == j, F.lit(lut[m][j]))
        return expr

    adc = lut_case(0)
    for m in range(1, _PQ_M):
        adc = adc + lut_case(m)
    return adc


def _pq_topk(codes: DataFrame, adc: F.Column, extra: tuple[str, ...] = ()) -> DataFrame:
    return (
        codes.select(
            "vec_id",
            *extra,
            *[f"code_{m}" for m in range(_PQ_M)],
            adc.alias("__adc"),
            _e6(adc).alias("adc_e6"),
        )
        .orderBy(F.asc("__adc"), F.asc("vec_id"))
        .limit(_PQ_TOPK)
        .drop("__adc")
    )


def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization with asymmetric-distance (ADC) scan — the
    compression tier under IVF for billion-vector ANN (IVF-PQ). Each
    64-d vector is encoded as 4 sub-codes (argmin squared-L2 to a
    per-subspace codebook); query distance is the sum of 4 LUT entries
    (query-subvector -> codeword distances), never touching the raw
    vector. Output: top-20 vec_ids by ADC distance with their codes.

    The codebook is derived from the data itself (subvectors of
    vec_id < 8) so the WHOLE path — encode, LUT, ADC ranking — runs
    under the strict hash gate: the DuckDB oracle recomputes identical
    codes and distances (same left-to-right fold, same tie rules).

    Scale posture: codes are 4 small ints per vector (~64x smaller
    than 64 float32s) — the ADC scan reads ONLY the code columns plus
    a broadcast 8x4 LUT; the encode pass is one broadcast join of the
    corpus against the codebook (at real k this becomes the blocked
    GEMM pass of ``ivf_assign_blocked``, see sem_dedup_scaled). Nothing
    shuffles except the one encode-agg exchange and the final
    TakeOrdered."""
    base, cb = _pq_base_and_codebook(spark, sf_dir)
    codes = _pq_encode(base, cb)
    cb_rows = sorted(cb.collect(), key=lambda r: r["j"])
    cbv = [[float(x) for x in r["cv"]] for r in cb_rows]
    return _pq_topk(codes, _pq_adc_column(cbv, cbv[_PQ_QUERY_ID]))


_IVFPQ_SEEDS = (0, 7, 13, 42)  # centroid source vec_ids (cell_id = index)
_IVFPQ_NPROBE = 2


def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ, composed: coarse quantization bounds the scan to the
    ``nprobe`` cells closest to the query, PQ/ADC ranks WITHIN the
    probed cells — the candidate list a billion-vector index serves
    before exact rerank. Output: top-20 (vec_id, cell_id, codes,
    adc_e6) among vectors whose cell is probed.

    Everything is derived from the data (centroids = embeddings of
    vec_ids 0/7/13/42, codebook = subvectors of vec_id < 8), so the
    ENTIRE composition — cell assignment (max-cosine, ties -> higher
    cell), probe-set selection (top-2 cells by query cosine), PQ
    encode, ADC ranking — is recomputed by the DuckDB oracle and
    hash-gated. Probe selection happens driver-side from an O(4)-row
    collect whose cosines replay the engine fold bit for bit, so both
    engines probe the same cells even under exact ties.

    Scale posture: assignment + cell filter is ONE narrow map fused
    into the scan (``ivf_assign(keep=...)``, no join back); the
    encode join then sees only |probed cells| worth of vectors
    (~nprobe/n_cells of the corpus); ADC adds are literal CASE maps.
    One agg exchange over the surviving fraction + TakeOrdered."""
    import math

    base, cb = _pq_base_and_codebook(spark, sf_dir)
    seed_vecs = _query_vecs(spark, sf_dir, _IVFPQ_SEEDS)
    centroids = [(i, seed_vecs[vid]) for i, vid in enumerate(_IVFPQ_SEEDS)]
    cb_rows = sorted(cb.collect(), key=lambda r: r["j"])
    cbv = [[float(x) for x in r["cv"]] for r in cb_rows]
    qv = cbv[_PQ_QUERY_ID]

    def fold_dot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def cos(a: list[float], b: list[float]) -> float:
        denom = math.sqrt(fold_dot(a, a)) * math.sqrt(fold_dot(b, b))
        return fold_dot(a, b) / denom

    probed = [
        cid
        for cid, _ in sorted(
            ((cid, cos(qv, cv)) for cid, cv in centroids),
            key=lambda t: (-t[1], -t[0]),
        )[:_IVFPQ_NPROBE]
    ]
    cand = S.ivf_assign(base, "v", "vec_id", centroids, keep=("v",)).filter(
        F.col("centroid_id").isin(probed)
    )
    codes = _pq_encode(
        cand.select("vec_id", "v", F.col("centroid_id").alias("cell_id")),
        cb,
        extra=("cell_id",),
    )
    return _pq_topk(codes, _pq_adc_column(cbv, qv), extra=("cell_id",))


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_PUNCT_CLASS = "[!-/:-@\\[-`{-~]"
_FP = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"

_SHINGLES = f"""
CASE WHEN len({T.tokens_sql('lower(text)')}) >= {_SHINGLE_K}
     THEN list_distinct(list_transform(
            range(1, len({T.tokens_sql('lower(text)')}) - {_SHINGLE_K} + 2),
            i -> array_to_string({T.tokens_sql('lower(text)')}[i:i+{_SHINGLE_K - 1}], ' ')))
     ELSE [] END
"""

_SHINGLED_CTE = f"""
shingled AS (
  SELECT doc_id, unnest({_SHINGLES}) AS sh FROM documents
)"""

_MH_PARAMS = D.minhash_params(_MINHASH_K)
_MINHASH_CTE = (
    "based AS (SELECT doc_id,"
    " CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) AS h0 FROM shingled),"
    " signatures AS (SELECT doc_id, "
    + ", ".join(
        f"min(({a} * h0 + {b}) % {D.MINHASH_PRIME}) AS mh_{i}"
        for i, (a, b) in enumerate(_MH_PARAMS)
    )
    + " FROM based GROUP BY doc_id)"
)

_ROWS_PER_BAND = _MINHASH_K // _LSH_BANDS
_BAND_EXPRS = ", ".join(
    "md5(concat_ws('|', '%d', %s)) AS band_%d"
    % (b, ", ".join(f"mh_{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)), b)
    for b in range(_LSH_BANDS)
)

_QUALITY = f"""
( (CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.5 END)
+ (1.0 - least(((length(text) - length(regexp_replace(text, '{_PUNCT_CLASS}', '', 'g')))
                / greatest(length(text), 1)) * 4, 1.0))
+ (CASE WHEN (list_aggregate(list_transform({T.tokens_sql('text')}, t -> length(t)), 'sum')
              / greatest(len({T.tokens_sql('text')}), 1)) BETWEEN 2.0 AND 12.0
        THEN 1.0 ELSE 0.3 END) ) / 3.0
"""

_LANGS = list(T.LANG_MARKERS)
_SCORE_EXPRS = ", ".join(
    "CAST(len(list_filter({toks}, t -> lower(t) IN ({mk}))) AS INTEGER) AS score_{lang}".format(
        toks=T.tokens_sql("text"),
        mk=", ".join(f"'{m}'" for m in T.LANG_MARKERS[lang]),
        lang=lang,
    )
    for lang in _LANGS
)
_PRED_CASE = (
    "CASE "
    + " ".join(
        "WHEN "
        + " AND ".join(f"score_{lang} >= score_{o}" for o in _LANGS)
        + f" THEN '{lang}'"
        for lang in _LANGS
    )
    + " END"
)

# cosine: explicit index-ordered sums, bit-identical to Spark's fold
_DOT = (
    "list_aggregate(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]), 'sum')"
)


def _cos(a: str, b: str) -> str:
    return (
        f"(CASE WHEN sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)}) != 0 "
        f"THEN {_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)})) END)"
    )


def _lsh_plane_bits(vec_expr: str) -> str:
    """The sign-LSH signature of ``vec_expr`` as a SQL string literal:
    one '1'/'0' char per hyperplane, planes embedded as DOUBLE[]
    literals from the SAME seeded generator the engine uses
    (operators/similarity.py::random_hyperplanes, seed 42) — Python
    float repr round-trips to the identical IEEE double, and the dot
    fold is index-ordered on both engines, so every sign bit is
    bit-exact."""
    from ..operators.similarity import random_hyperplanes

    planes = random_hyperplanes(64, 6, 42)  # embeddings are 64-dim
    bits = []
    for p in planes:
        # explicit left-associated sum (same IEEE fold order as the
        # engine's F.aggregate and the _DOT helper) — scalar exprs run
        # ~50x faster than per-row list_transform in DuckDB
        dot = " + ".join(
            f"{vec_expr}[{i + 1}] * {repr(float(x))}" for i, x in enumerate(p)
        )
        bits.append(f"(CASE WHEN ({dot}) >= 0 THEN '1' ELSE '0' END)")
    return "concat(" + ", ".join(bits) + ")"


# sim_ivf_topk's IVF path replayed in SQL (the ev_ann_recall /
# _IVFPQ_ORACLE pattern): centroids are embedding rows 0/7/13/42 with
# cid = list position; probe ranking breaks ties by LOWER cid (the
# engine's driver-side sort key (-cos_e6, cid)), cell assignment by
# HIGHER cid (array_max over struct(sim, cid)). Both rank by
# floor(cos*1e6) — the engine's quantized grid (``ivf_assign``'s e6
# argmax), so a ~ULP fold difference between Python / Catalyst /
# DuckDB cannot flip the probe set or a cell assignment.
_IVF_TOPK_ORACLE = f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), cents AS (
      SELECT CASE vec_id WHEN 0 THEN 0 WHEN 7 THEN 1
                         WHEN 13 THEN 2 WHEN 42 THEN 3 END AS cid,
             v AS cv
      FROM base WHERE vec_id IN (0, 7, 13, 42)
    ), q AS (
      SELECT v AS qv FROM base WHERE vec_id = 1
    ), probe AS (
      SELECT cid FROM (
        SELECT c.cid,
               row_number() OVER (
                 ORDER BY CAST(floor(({_cos('q.qv', 'c.cv')}) * 1000000) AS BIGINT) DESC,
                          c.cid ASC) AS rn
        FROM cents c CROSS JOIN q
      ) WHERE rn <= 2
    ), assigned AS (
      SELECT vec_id, cid FROM (
        SELECT b.vec_id, c.cid,
               row_number() OVER (PARTITION BY b.vec_id
                 ORDER BY CAST(floor(({_cos('b.v', 'c.cv')}) * 1000000) AS BIGINT) DESC,
                          c.cid DESC) AS rn
        FROM base b CROSS JOIN cents c
      ) WHERE rn = 1
    ), scored AS (
      SELECT b.vec_id, round({_cos('b.v', 'q.qv')}, 6) AS cos_sim
      FROM base b
      JOIN assigned a ON a.vec_id = b.vec_id
      JOIN probe ON probe.cid = a.cid
      CROSS JOIN q
    )
    SELECT vec_id, cos_sim FROM scored
    ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


_SIMHASH_TOKS_CTE = f"""
toks AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(unnest({T.tokens_sql('lower(text)')})), 1, 15)) AS BIGINT) AS h60
  FROM documents
)"""
_SIMHASH_BITSUMS = "count(*) AS n_tok, " + ", ".join(
    f"sum((h60 >> {i}) & 1) AS c_{i}" for i in range(D.SIMHASH_BITS)
)
_SIMHASH_RECON = " + ".join(
    f"(CASE WHEN c_{i} * 2 > n_tok THEN CAST(1 AS BIGINT) ELSE 0 END << {i})"
    for i in range(D.SIMHASH_BITS)
)

QUERIES = {
    "text_stats": text_stats,
    "text_langid": text_langid,
    "dd_dedup_stats": dd_dedup_stats,
    "dd_jaccard_pairs": dd_jaccard_pairs,
    "dd_prefix_filter_pairs": dd_jaccard_pairs,
    "dd_containment_pairs": dd_containment_pairs,
    "dd_minhash_estimate": dd_minhash_estimate,
    "dd_minhash_signatures": dd_minhash_signatures,
    "dd_lsh_candidates": dd_lsh_candidates,
    "dd_simhash": dd_simhash,
    "dd_embedding_neardup": dd_embedding_neardup,
    "corpus_curation": corpus_curation,
    "sim_cosine_topk": sim_cosine_topk,
    "sim_knn_join": sim_knn_join,
    "sim_lsh_ann": sim_lsh_ann,
    "sim_lsh_ann_checked": sim_lsh_ann_checked,
    "sim_ivf_topk": sim_ivf_topk,
    "sim_pq_adc": sim_pq_adc,
    "sim_ivfpq_topk": sim_ivfpq_topk,
}


def _pq_sql_dist(m: int, a: str, b: str) -> str:
    off = m * _PQ_DSUB
    return (
        f"list_aggregate(list_transform(range(1, {_PQ_DSUB + 1}), "
        f"i -> ({a}[{off} + i] - {b}[{off} + i]) * ({a}[{off} + i] - {b}[{off} + i])), 'sum')"
    )


_PQ_ORACLE = f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), cb AS (
      SELECT vec_id AS j, v AS cv FROM base WHERE vec_id < {_PQ_NCODES}
    ), per_j AS (
      SELECT b.vec_id, c.j,
             {", ".join(f"{_pq_sql_dist(m, 'b.v', 'c.cv')} AS d_{m}" for m in range(_PQ_M))}
      FROM base b CROSS JOIN cb c
    ), ranked AS (
      SELECT vec_id, j,
             {", ".join(f"row_number() OVER (PARTITION BY vec_id ORDER BY d_{m}, j) AS rn_{m}" for m in range(_PQ_M))}
      FROM per_j
    ), codes AS (
      SELECT vec_id,
             {", ".join(f"CAST(max(CASE WHEN rn_{m} = 1 THEN j END) AS INTEGER) AS code_{m}" for m in range(_PQ_M))}
      FROM ranked GROUP BY vec_id
    ), qd AS (
      SELECT j, {", ".join(f"d_{m} AS qd_{m}" for m in range(_PQ_M))}
      FROM per_j WHERE vec_id = {_PQ_QUERY_ID}
    ), scored AS (
      SELECT c.vec_id, {", ".join(f"c.code_{m}" for m in range(_PQ_M))},
             {" + ".join(f"q{m}.qd_{m}" for m in range(_PQ_M))} AS adc
      FROM codes c
      {" ".join(f"JOIN qd q{m} ON q{m}.j = c.code_{m}" for m in range(_PQ_M))}
    )
    SELECT vec_id, {", ".join(f"code_{m}" for m in range(_PQ_M))},
           CAST(floor(adc * 1000000) AS BIGINT) AS adc_e6
    FROM scored ORDER BY adc, vec_id LIMIT {_PQ_TOPK}
"""

_IVFPQ_CELL_CASE = "CASE vec_id " + " ".join(
    f"WHEN {vid} THEN {i}" for i, vid in enumerate(_IVFPQ_SEEDS)
) + " END"

_IVFPQ_ORACLE = f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), cents AS (
      SELECT {_IVFPQ_CELL_CASE} AS cell_id, v AS cv
      FROM base WHERE vec_id IN ({", ".join(str(v) for v in _IVFPQ_SEEDS)})
    ), q AS (
      SELECT v AS qv FROM base WHERE vec_id = {_PQ_QUERY_ID}
    ), qcell AS (
      SELECT cell_id FROM (
        SELECT c.cell_id,
               row_number() OVER (ORDER BY {_cos('q.qv', 'c.cv')} DESC,
                                  c.cell_id DESC) AS rn
        FROM cents c CROSS JOIN q
      ) WHERE rn <= {_IVFPQ_NPROBE}
    ), assigned AS (
      SELECT vec_id, v, cell_id FROM (
        SELECT b.vec_id, b.v, c.cell_id,
               row_number() OVER (PARTITION BY b.vec_id
                                  ORDER BY {_cos('b.v', 'c.cv')} DESC,
                                  c.cell_id DESC) AS rn
        FROM base b CROSS JOIN cents c
      ) WHERE rn = 1
    ), cand AS (
      SELECT a.vec_id, a.v, a.cell_id
      FROM assigned a JOIN qcell USING (cell_id)
    ), cb AS (
      SELECT vec_id AS j, v AS cv FROM base WHERE vec_id < {_PQ_NCODES}
    ), per_j AS (
      SELECT b.vec_id, b.cell_id, c.j,
             {", ".join(f"{_pq_sql_dist(m, 'b.v', 'c.cv')} AS d_{m}" for m in range(_PQ_M))}
      FROM cand b CROSS JOIN cb c
    ), ranked AS (
      SELECT vec_id, cell_id, j,
             {", ".join(f"row_number() OVER (PARTITION BY vec_id ORDER BY d_{m}, j) AS rn_{m}" for m in range(_PQ_M))}
      FROM per_j
    ), codes AS (
      SELECT vec_id, cell_id,
             {", ".join(f"CAST(max(CASE WHEN rn_{m} = 1 THEN j END) AS INTEGER) AS code_{m}" for m in range(_PQ_M))}
      FROM ranked GROUP BY vec_id, cell_id
    ), qd AS (
      SELECT j, {", ".join(f"d_{m} AS qd_{m}" for m in range(_PQ_M))}
      FROM per_j WHERE vec_id = {_PQ_QUERY_ID}
    ), scored AS (
      SELECT c.vec_id, c.cell_id, {", ".join(f"c.code_{m}" for m in range(_PQ_M))},
             {" + ".join(f"q{m}.qd_{m}" for m in range(_PQ_M))} AS adc
      FROM codes c
      {" ".join(f"JOIN qd q{m} ON q{m}.j = c.code_{m}" for m in range(_PQ_M))}
    )
    SELECT vec_id, cell_id, {", ".join(f"code_{m}" for m in range(_PQ_M))},
           CAST(floor(adc * 1000000) AS BIGINT) AS adc_e6
    FROM scored ORDER BY adc, vec_id LIMIT {_PQ_TOPK}
"""

# Both registry names of dd_jaccard_pairs share this oracle.
_JACCARD_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct({T.tokens_sql('lower(text)')})) AS tok
      FROM documents WHERE doc_id < {_JACCARD_MAX_ID}
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM toks a JOIN toks b USING (tok)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(n_inter / (sa.sz + sb.sz - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(n_inter / (sa.sz + sb.sz - n_inter), 6) >= 0.5
"""


ORACLES = {
    "text_stats": f"""
        SELECT doc_id,
          CAST(length(text) AS INTEGER) AS n_chars,
          CAST(len({T.tokens_sql('text')}) AS INTEGER) AS n_tokens,
          CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens,
          CAST(floor(((length(text) - length(regexp_replace(text, '{_PUNCT_CLASS}', '', 'g')))
               / greatest(length(text), 1)) * 1000000) AS BIGINT) AS punct_e6,
          CAST(floor((len(list_filter({T.tokens_sql('text')},
                 t -> lower(t) IN ({", ".join(f"'{w}'" for w in T.LANG_MARKERS['en'])})))
               / greatest(len({T.tokens_sql('text')}), 1)) * 1000000) AS BIGINT) AS stop_e6,
          CAST(floor((list_aggregate(list_transform({T.tokens_sql('text')}, t -> length(t)), 'sum')
               / greatest(len({T.tokens_sql('text')}), 1)) * 1000000) AS BIGINT) AS mwl_e6,
          CAST(floor(({_QUALITY}) * 1000000) AS BIGINT) AS quality_e6,
          {_FP} AS fp
        FROM documents
    """,
    "text_langid": f"""
        SELECT doc_id, lang, {", ".join(f"score_{l}" for l in _LANGS)},
               {_PRED_CASE} AS predicted
        FROM (SELECT doc_id, lang, {_SCORE_EXPRS} FROM documents)
    """,
    "dd_dedup_stats": f"""
        SELECT count(*) AS n_docs,
               count(DISTINCT {_FP}) AS n_unique
        FROM documents
    """,
    "dd_jaccard_pairs": _JACCARD_ORACLE,
    "dd_prefix_filter_pairs": _JACCARD_ORACLE,
    "dd_containment_pairs": f"""
        WITH toks AS (
          SELECT doc_id, unnest(list_distinct({T.tokens_sql('lower(text)')})) AS tok
          FROM documents WHERE doc_id < {_JACCARD_MAX_ID}
        ), sizes AS (
          SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
          FROM toks a JOIN toks b USING (tok)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(n_inter / least(sa.sz, sb.sz), 6) AS containment
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE round(n_inter / least(sa.sz, sb.sz), 6) >= 0.8
    """,
    "dd_minhash_signatures": f"WITH {_SHINGLED_CTE}, {_MINHASH_CTE} SELECT * FROM signatures",
    "dd_lsh_candidates": f"""
        WITH {_SHINGLED_CTE}, {_MINHASH_CTE},
        banded AS (SELECT doc_id, {_BAND_EXPRS} FROM signatures),
        stacked AS (
          SELECT doc_id, unnest([{", ".join(f"band_{b}" for b in range(_LSH_BANDS))}]) AS bucket
          FROM banded
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_bands_shared
        FROM stacked a JOIN stacked b USING (bucket)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    """,
    # Mirrors the engine's fp-collapsed shape (dd_minhash_estimate
    # docstring): every signature/band/shingle step runs once per
    # DISTINCT text fingerprint (reps aliases fp AS doc_id so the
    # shared CTE strings apply verbatim), same-fp pairs are emitted
    # constant-time (all bands agree, Jaccard exactly 1), and fp-level
    # metrics fan out to doc pairs by two hash joins. Values are
    # bit-identical to the per-document formulation — the per-doc
    # oracle OOMed at sf10, where exact-dup multiplicity makes the
    # doc-level shingle self-join quadratic inside dup groups.
    "dd_minhash_estimate": f"""
        WITH fps AS (SELECT doc_id, {_FP} AS fp FROM documents),
        reps AS (
          SELECT {_FP} AS fp, min(text) AS text, count(*) AS n_docs
          FROM documents GROUP BY 1
        ),
        shingled AS (SELECT fp AS doc_id, unnest({_SHINGLES}) AS sh FROM reps),
        {_MINHASH_CTE},
        banded AS (SELECT doc_id, {_BAND_EXPRS} FROM signatures),
        stacked AS (
          SELECT doc_id, unnest([{", ".join(f"band_{b}" for b in range(_LSH_BANDS))}]) AS bucket
          FROM banded
        ),
        cands AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_bands_shared
          FROM stacked a JOIN stacked b USING (bucket)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM shingled GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
          FROM shingled a JOIN shingled b USING (sh)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        fp_metrics AS (
          SELECT c.id_a AS fp_a, c.id_b AS fp_b, c.n_bands_shared,
                 CAST({" + ".join(f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END" for i in range(_MINHASH_K))} AS INTEGER)
                   AS n_match_k,
                 CAST(({" + ".join(f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END" for i in range(_MINHASH_K))}) * 125000 AS BIGINT)
                   AS est_e6,
                 CAST(floor(CAST(coalesce(i.n_inter, 0) AS DOUBLE) * 1000000.0
                      / CAST(za.sz + zb.sz - coalesce(i.n_inter, 0) AS DOUBLE)) AS BIGINT)
                   AS jacc_e6
          FROM cands c
          JOIN signatures sa ON sa.doc_id = c.id_a
          JOIN signatures sb ON sb.doc_id = c.id_b
          LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
          JOIN sizes za ON za.doc_id = c.id_a
          JOIN sizes zb ON zb.doc_id = c.id_b
          UNION ALL
          SELECT fp, fp, CAST({_LSH_BANDS} AS BIGINT), CAST({_MINHASH_K} AS INTEGER),
                 CAST(1000000 AS BIGINT), CAST(1000000 AS BIGINT)
          FROM reps WHERE n_docs >= 2
            AND fp IN (SELECT doc_id FROM signatures)
        )
        SELECT least(da.doc_id, db.doc_id) AS id_a,
               greatest(da.doc_id, db.doc_id) AS id_b,
               m.n_bands_shared, m.n_match_k, m.est_e6, m.jacc_e6
        FROM fp_metrics m
        JOIN fps da ON da.fp = m.fp_a
        JOIN fps db ON db.fp = m.fp_b
        WHERE m.fp_a != m.fp_b OR da.doc_id < db.doc_id
    """,
    "dd_simhash": f"""
        WITH {_SIMHASH_TOKS_CTE},
        bitsums AS (SELECT doc_id, {_SIMHASH_BITSUMS} FROM toks GROUP BY doc_id)
        SELECT doc_id, CAST({_SIMHASH_RECON} AS BIGINT) AS simhash FROM bitsums
    """,
    "dd_embedding_neardup": f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id < {_NEARDUP_MAX_ID}
        ), pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round({_cos('a.v', 'b.v')}, 6) AS cos_sim
          FROM e a, e b WHERE a.vec_id < b.vec_id
        )
        SELECT * FROM pairs WHERE cos_sim >= {_NEARDUP_THRESHOLD}
    """,
    "sim_cosine_topk": f"""
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        scored AS (
          SELECT e.vec_id,
                 round({_cos('CAST(e.embedding AS DOUBLE[])', 'q.qv')}, 6) AS cos_sim
          FROM embeddings e, q
        )
        SELECT vec_id, cos_sim FROM scored
        ORDER BY cos_sim DESC, vec_id LIMIT 20
    """,
    "sim_lsh_ann_checked": f"""
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        scored AS (
          SELECT e.vec_id,
                 round({_cos('CAST(e.embedding AS DOUBLE[])', 'q.qv')}, 6) AS cos_sim
          FROM embeddings e, q
        )
        SELECT vec_id, cos_sim FROM scored
        ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    # the single-bucket (max_hamming=0) APPROXIMATE path replayed in
    # SQL: the seeded hyperplanes are embedded as literals, the
    # signature recomputed per row, and only the query-bucket rows
    # ranked — so the default probe is value-gated, not rows-only.
    "sim_lsh_ann": f"""
        WITH base AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), q AS (
          SELECT v AS qv, {_lsh_plane_bits('v')} AS qsig
          FROM base WHERE vec_id = 0
        ), bucket AS (
          SELECT b.vec_id, b.v, q.qv
          FROM base b CROSS JOIN q
          WHERE {_lsh_plane_bits('b.v')} = q.qsig
        )
        SELECT vec_id, round({_cos('v', 'qv')}, 6) AS cos_sim
        FROM bucket
        ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    "sim_ivf_topk": _IVF_TOPK_ORACLE,
    "sim_knn_join": f"""
        WITH probes AS (
          SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
          FROM embeddings WHERE vec_id < 5
        ), scored AS (
          SELECT p.probe_id, e.vec_id AS corpus_id,
                 round({_cos('CAST(e.embedding AS DOUBLE[])', 'p.pv')}, 6) AS cos_sim
          FROM embeddings e, probes p
          WHERE e.vec_id != p.probe_id
        ), ranked AS (
          SELECT probe_id, corpus_id, cos_sim,
                 CAST(row_number() OVER (PARTITION BY probe_id
                                         ORDER BY cos_sim DESC, corpus_id) AS INTEGER) AS rank
          FROM scored
        )
        SELECT * FROM ranked WHERE rank <= 5
    """,
    "corpus_curation": f"""
        WITH base AS (
          SELECT doc_id, {_FP} AS fp, length(text) AS n_chars,
                 ({_QUALITY}) AS q, {_SCORE_EXPRS}
          FROM documents
        ), keyed AS (
          SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep_id,
                 {_PRED_CASE} AS predicted
          FROM base
        )
        SELECT CASE WHEN doc_id != keep_id THEN 'exact_dup'
                    WHEN n_chars < 100 THEN 'too_short'
                    WHEN q < 0.5 THEN 'low_quality'
                    WHEN predicted != 'en' THEN 'non_english'
                    ELSE 'retained' END AS reason,
               count(*) AS n_docs
        FROM keyed GROUP BY 1
    """,
    # sim_lsh_ann: intentionally no oracle (rows-only) — see docstring.
    "sim_pq_adc": _PQ_ORACLE,
    "sim_ivfpq_topk": _IVFPQ_ORACLE,
}
