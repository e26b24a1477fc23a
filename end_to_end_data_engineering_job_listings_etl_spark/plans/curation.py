"""Training-corpus curation, second stage: the document-interior and
embedding-space filters a 100 TB pretraining pipeline runs after the
first-stage layers (exact/MinHash/SimHash dedup, lang-ID, quality,
decontamination — plans/corpus.py, plans/traindata.py).

- Repetition metrics (Gopher-style): within-document duplicate-token /
  duplicate-bigram fractions — the strongest single predictor of
  degenerate machine-generated text.
- Chunk-level dedup (CCNet-style): the corpus-wide first-occurrence
  filter at sub-document granularity, so boilerplate shared across
  documents dies without killing the documents.
- Semantic dedup (SemDeDup-style): cluster-bucketed embedding
  near-duplicate removal — candidate pairs only form inside a
  centroid cell, turning O(n²) cosine pairs into O(n²/k).

Determinism: ratios are floor(1e6·num/den) integers over exact counts
(the shared e6 idiom); every bigram and chunk is cut by
``functions.text.token_windows`` from the caller's own tokenizer;
chunk identity is md5 text hashing; cosine uses the index-ordered
fold that is bit-identical between Spark's F.aggregate and DuckDB's
list_aggregate (plans/corpus.py oracle machinery, reused here).

Scale shapes: token/bigram metrics are explode → two-level partial
aggs (shuffle on (doc_id, gram) then doc_id); chunk dedup shuffles
once on the chunk hash; SemDeDup shuffles on centroid_id and the
within-cell pair join is quadratic only in cell size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table_dist
from ..functions.text import token_windows
from ..operators.similarity import ivf_assign, ivf_assign_blocked
from .corpus import _cos


def _e6(num, den):
    """floor(num * 1e6 / den) as BIGINT — exact cross-engine (both
    operands < 2^53, identical IEEE op order both sides)."""
    return (
        F.floor(num.cast("double") * F.lit(1000000.0) / den.cast("double"))
        .cast("bigint")
    )


_E6_SQL = "CAST(floor(CAST({num} AS DOUBLE) * 1000000.0 / CAST({den} AS DOUBLE)) AS BIGINT)"


def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition profile: distinct-token ratio, top-token
    fraction, top-bigram fraction (all e6 integers).

    Two explode pipelines (tokens, bigrams), each a two-level partial
    agg — count per (doc, gram), then max/sum per doc — joined on
    doc_id. No windows, no driver loops."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    tok_stats = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.max("c").alias("top_tok"),
        )
    )
    # a single-token doc has no bigram, so it drops out at the join
    # (the oracle's empty range(1,1) drops it on the DuckDB side)
    bigrams = docs.select(
        "doc_id", F.explode(token_windows(F.split("text", " "), 2)).alias("bg")
    )
    bg_stats = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bg"))
    )
    return tok_stats.join(bg_stats, "doc_id").select(
        "doc_id",
        "n_tokens",
        _e6(F.col("n_distinct"), F.col("n_tokens")).alias("distinct_ratio_e6"),
        _e6(F.col("top_tok"), F.col("n_tokens")).alias("top_token_frac_e6"),
        _e6(F.col("top_bg"), F.col("n_bigrams")).alias("top_bigram_frac_e6"),
    )


def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM fluency scoring: per document, the mean corpus
    bigram transition likelihood — the count-based stand-in for the
    perplexity filter a pretraining pipeline runs (low scores flag
    token soup / shuffled text; high scores flag natural word order).

    Model and scoring in exact integer math (no log/exp — libm differs
    across engines): transition score of bigram (w1,w2) is
    ``(1e6 * C(w1,w2)) div C(w1·)`` where C(w1·) counts w1 as a bigram
    prefix; a document's lm_score_e6 is the integer mean over its
    bigram occurrences.

    Scale shape: the model IS a DataFrame (bigram counts + prefix
    counts), joined back to the corpus on the bigram key (hash
    shuffle, no broadcast assumption: a real corpus model has
    billions of rows); per-doc rollup is one more hash agg. The
    prefix counts are DERIVED from the bigram counts
    (``C(w1·) = Σ_w2 C(w1,w2)``) — a second agg over the already-
    reduced model frame instead of a second corpus-wide explode +
    shuffle.

    The bigram explode runs twice, once for the model and once for the
    score join, and that is the scale-correct trade (the same one
    samp_dsir_select makes). The only shuffles come after aggregation
    (model counts, per-doc sums); the occurrence rows meet the model
    through a join and partial aggregation, never a corpus-wide
    exchange. Two ways to share the explode lose:

    - A shared ``repartition("bg")`` for the model aggregate and the
      score join: divergent column pruning keeps the two exchanges
      non-identical, so nothing is reused, and the explicit exchange
      forfeits the model branch's map-side partial aggregate.
    - A per-(doc_id, bg) pre-aggregate feeding both consumers: the
      join needs (doc_id, bg, count) while the model prunes doc_id, so
      the exchange subtrees still differ (3 shuffle stages, each
      re-running the explode; 12 → 15 jobs, solo-cold median
      1.97 → 2.35 s at sf0.1), and it adds a corpus-scale
      (doc_id, bg) exchange this plan does not have."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    bigrams = docs.select(
        "doc_id", F.explode(token_windows(F.split("text", " "), 2)).alias("bg")
    )
    c2 = bigrams.groupBy("bg").agg(F.count("*").alias("c2"))
    c1 = (
        c2.groupBy(F.substring_index("bg", " ", 1).alias("w1"))
        .agg(F.sum("c2").alias("c1"))
    )
    model = c2.join(
        c1, F.substring_index(c2.bg, " ", 1) == c1.w1
    ).select("bg", F.expr("(1000000 * c2) div c1").alias("s"))
    return (
        bigrams.join(model, "bg")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("s").alias("sum_s"))
        .select(
            "doc_id",
            "n_bigrams",
            F.expr("sum_s div n_bigrams").cast("bigint").alias("lm_score_e6"),
        )
    )


def text_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language quality bucketing: rank every document
    by its statistical-LM fluency score WITHIN its language and cut
    head / middle / tail thirds — the partition CCNet feeds to
    downstream sampling (train mostly on head+middle, keep tail for
    ablations). Composes ``text_bigram_lm_score`` (the count-based
    perplexity stand-in) with a per-language ntile; ties broken by
    doc_id so the cut is engine-independent.

    Scale shape: the scorer is two corpus aggs + one model join
    (see text_bigram_lm_score); bucketing shuffles once on lang.
    Exact ntile ranks inside each language partition — per-language
    sorts run in parallel across languages, and a heavily skewed
    language (en at 100 TB) swaps to threshold bucketing from an
    approx_percentile sketch of the same scores (two fixed cutpoints
    instead of a full sort); the exact form here is what the oracle
    gate can hash."""
    from pyspark.sql import Window

    scores = text_bigram_lm_score(spark, sf_dir)
    langs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "lang"))
    t = F.ntile(3).over(
        Window.partitionBy("lang").orderBy(
            F.desc("lm_score_e6"), F.asc("doc_id")
        )
    )
    return (
        scores.join(langs, "doc_id")
        .select(
            "doc_id",
            "lang",
            "lm_score_e6",
            F.when(t == 1, F.lit("head"))
            .when(t == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


_CHUNK = 10  # tokens per dedup chunk
_ORD_BASE = 100_000  # ord_key = doc_id * base + chunk_idx (idx ≪ base)


def text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide chunk-level dedup: split every document into
    10-token chunks, keep each distinct chunk's FIRST occurrence
    (document order, then position), report per-document survival.

    The only shuffle is the group-by on the chunk hash; first-
    occurrence is min(ord_key) — no global sort, no window."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            token_windows(F.split("text", " "), _CHUNK, _CHUNK, partial=True)
        ).alias("idx", "chunk"),
    ).select(
        "doc_id",
        "idx",
        F.md5("chunk").alias("h"),
        (F.col("doc_id") * _ORD_BASE + F.col("idx")).alias("ord_key"),
    )
    first = chunks.groupBy("h").agg(F.min("ord_key").alias("first_key"))
    return (
        chunks.join(first, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum((F.col("ord_key") == F.col("first_key")).cast("bigint")).alias(
                "n_kept"
            ),
        )
    )


_RAG_SIZE = 10  # tokens per retrieval chunk
_RAG_STRIDE = 5  # chunk start stride (50% overlap)


def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping (sliding) chunking — the RAG indexing convention,
    distinct from ``text_chunk_dedup``'s disjoint packing: a chunk of
    ``_RAG_SIZE`` tokens starts every ``_RAG_STRIDE`` tokens so no
    retrieval boundary splits a fact across two unreachable chunks;
    the trailing partial chunk is kept. Emits per chunk its ordinal,
    start offset, length, and md5 fingerprint (the join key an
    embedding/index stage consumes — chunk text itself stays out of
    the hash gate).

    Pure array expressions over a staged token array: one narrow map +
    one explode, no shuffle at all until a consumer aggregates."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    toked = docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("__t"))
    chunks = toked.select(
        "doc_id",
        F.size("__t").alias("__n"),
        F.posexplode(
            token_windows(F.col("__t"), _RAG_SIZE, _RAG_STRIDE, partial=True)
        ).alias("chunk_idx", "__chunk"),
    )
    start0 = F.col("chunk_idx") * _RAG_STRIDE  # 0-based first token
    return chunks.select(
        "doc_id",
        "chunk_idx",
        (start0 + 1).alias("start_tok"),
        F.least(F.lit(_RAG_SIZE), F.col("__n") - start0).alias("n_chunk_tokens"),
        F.md5("__chunk").alias("chunk_fp"),
    )


_SEM_CENTROID_IDS = [0, 7, 13, 42]
_SEM_THRESHOLD = 0.3
# Above this corpus size the fixed-k=4 contrast stops being a demo and
# becomes an O(N²/4) footgun (sf10 exponent 1.88 measured — 75x its
# sf1 time); route to the k ∝ N production path instead. 5000 keeps
# the pedagogical k=4 shape at the demo SFs (200 / 2000 embeddings)
# and hands sf0.1+ to sem_dedup_scaled.
_SEM_FIXED_K_MAX_N = 5000


def sem_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: assign every embedding to its
    max-cosine centroid, form candidate pairs only WITHIN a cell, drop
    the higher vec_id of any pair with cosine ≥ 0.3. Returns per-cell
    assigned/dropped counts.

    Scale shape: assignment is a narrow map over a literal centroid
    list; the quadratic-within-cell pair stage is a per-cell
    ``applyInPandas`` block matmul (ONE shuffle on centroid_id) — the
    shape SemDeDup actually runs in production (GEMM per cluster),
    here blocked so peak memory is O(block × cell), never cell².
    Expression-join and vectorized paths were both measured at sf0.1:
    the exprs-only self-join folds the 64-dim dot per pair in the
    interpreter (~6.5 s); the Arrow-batched matmul is ~10× less.

    Exactness note (why a BLAS matmul may replace the fold-left
    expression dot under a strict value-hash gate): the outputs are
    COUNTS gated on ``round(cos, 6) ≥ 0.3``, and the closest any
    within-cell pair's cosine comes to the 0.2999995 decision boundary
    is 1.3e-4 (sf0.01) / 1.0e-6 (sf0.1) — measured, see
    tests/test_curation.py::test_sem_dedup_threshold_margin — while
    summation-order (reassociation) error on 64-term float64 dots is
    ~1e-15. No pair can flip, so the counts are bit-stable against the
    fold-left oracle formula.

    SIZE GATE: the fixed-k=4 contrast is
    pedagogical — within-cell pair work is O(N²/4), measured exponent
    1.88 at sf10. Above ``_SEM_FIXED_K_MAX_N`` vectors this query
    ROUTES TO ``sem_dedup_scaled`` (k ∝ N, target cell ≈ 500 — the
    production shape, same output contract), so no registered query
    keeps a super-linear profile a user could hit at scale. The
    oracle branches on the same corpus-size scalar."""
    emb = load_table_dist(spark, sf_dir, "embeddings", cols=("vec_id", "embedding"))
    if emb.count() > _SEM_FIXED_K_MAX_N:
        return sem_dedup_scaled(spark, sf_dir)
    rows = (
        emb.filter(F.col("vec_id").isin(_SEM_CENTROID_IDS))
        .select("vec_id", "embedding")
        .collect()
    )
    by_id = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows}
    centroids = [(i, by_id[vid]) for i, vid in enumerate(_SEM_CENTROID_IDS)]

    assigned = ivf_assign(emb, "embedding", "vec_id", centroids)
    va = emb.join(assigned, "vec_id").select(
        "centroid_id",
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    )

    return _sem_cell_stats(va)


def _sem_cell_stats(va: DataFrame) -> DataFrame:
    """Per-cell assigned/dropped counts: blocked within-cell GEMM over
    (centroid_id, vec_id, v) — shared by the fixed-k and scaled-k
    SemDeDup queries. Peak memory O(block × cell), compute O(cell²)."""
    threshold = _SEM_THRESHOLD

    def cell_stats(key, pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        x = np.stack(pdf["v"].to_numpy())[order].astype(np.float64)
        nrm = np.sqrt((x * x).sum(axis=1))
        n = len(ids)
        is_dropped = np.zeros(n, dtype=bool)
        block = 1024
        for s in range(0, n, block):
            g = x[s : s + block] @ x.T
            denom = np.outer(nrm[s : s + block], nrm)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom != 0, g / denom, np.nan)
            hit = np.round(cos, 6) >= threshold
            for bi in range(hit.shape[0]):
                i = s + bi  # pair (i, j), i < j drops j
                is_dropped[i + 1 :] |= hit[bi, i + 1 :]
        return pd.DataFrame(
            [
                {
                    "centroid_id": int(key[0]),
                    "n_assigned": n,
                    "n_dropped": int(is_dropped.sum()),
                }
            ]
        )

    return va.groupBy("centroid_id").applyInPandas(
        cell_stats, "centroid_id int, n_assigned bigint, n_dropped bigint"
    )


_SEM_TARGET_CELL = 500


def sem_dedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the PRODUCTION scale control: k grows with the
    corpus (k = max(N // 500, 1), target cell ≈ 500 vectors) instead
    of ``sem_dedup_clusters``' fixed k=4, so the within-cell GEMM
    stays O(N × cell) = linear in N while fixed-k is O(N²/k) —
    measured at sf10 the fixed-k query runs 75x its sf1 time
    (exponent 1.88) and this one stays near-linear (BASELINE.md, the
    sf10 training-data-layer bench). Centroids are the first k vec_ids
    (deterministic and SQL-mirrorable; distinct embeddings under the
    replica fixtures, which shift ids but keep content) and STAY IN A
    DATAFRAME — assignment is the fully distributed blocked GEMM
    (``ivf_assign_blocked``): no driver-side collect of the k×d
    matrix, no task-closure centroid set, so k ∝ N never concentrates
    O(N) bytes on the driver. The only driver-side values on this path
    are two scalar aggregates (N, and k derived from it). The
    assignment is the argmax of floor(cos·1e6) with ties to the higher
    cid (``ivf_assign_blocked``'s contract), which the oracle replays
    in SQL. Same output contract as sem_dedup_clusters."""
    emb = load_table_dist(spark, sf_dir, "embeddings", cols=("vec_id", "embedding"))
    n = emb.count()
    k = max(n // _SEM_TARGET_CELL, 1)
    cents = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("cid"),
        F.col("embedding").alias("cv"),
    )
    assigned = ivf_assign_blocked(
        emb, "embedding", "vec_id", cents, n_vectors=n, n_centroids=k
    )
    va = emb.join(assigned, "vec_id").select(
        "centroid_id",
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    return _sem_cell_stats(va)


QUERIES = {
    "text_repetition_metrics": text_repetition_metrics,
    "text_bigram_lm_score": text_bigram_lm_score,
    "text_quality_buckets": text_quality_buckets,
    "text_chunk_dedup": text_chunk_dedup,
    "text_chunk_overlap": text_chunk_overlap,
    "sem_dedup_clusters": sem_dedup_clusters,
    "sem_dedup_scaled": sem_dedup_scaled,
}

_CID_CASE = "CASE vec_id WHEN 0 THEN 0 WHEN 7 THEN 1 WHEN 13 THEN 2 WHEN 42 THEN 3 END"

ORACLES = {
    "text_repetition_metrics": f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ), tc AS (
            SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok
        ), ta AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                   count(*) AS n_distinct, max(c) AS top_tok
            FROM tc GROUP BY doc_id
        ), bgi AS (
            SELECT doc_id, t, unnest(range(1, len(t))) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        ), bg AS (
            SELECT doc_id, t[i] || ' ' || t[i + 1] AS bg FROM bgi
        ), bc AS (
            SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg
        ), ba AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_bg
            FROM bc GROUP BY doc_id
        )
        SELECT ta.doc_id, n_tokens,
               {_E6_SQL.format(num="n_distinct", den="n_tokens")} AS distinct_ratio_e6,
               {_E6_SQL.format(num="top_tok", den="n_tokens")} AS top_token_frac_e6,
               {_E6_SQL.format(num="top_bg", den="n_bigrams")} AS top_bigram_frac_e6
        FROM ta JOIN ba ON ta.doc_id = ba.doc_id
    """,
    "text_bigram_lm_score": """
        WITH bgi AS (
            SELECT doc_id, t, unnest(range(1, len(t))) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        ), bg AS (
            SELECT doc_id, t[i] || ' ' || t[i + 1] AS bg FROM bgi
        ), c2 AS (
            SELECT bg, count(*) AS c2 FROM bg GROUP BY bg
        ), c1 AS (
            SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1
            FROM bg GROUP BY 1
        ), model AS (
            SELECT c2.bg, (1000000 * c2.c2) // c1.c1 AS s
            FROM c2 JOIN c1 ON split_part(c2.bg, ' ', 1) = c1.w1
        )
        SELECT doc_id, count(*) AS n_bigrams,
               CAST(sum(m.s) // count(*) AS BIGINT) AS lm_score_e6
        FROM bg JOIN model m USING (bg)
        GROUP BY doc_id
    """,
    "text_quality_buckets": """
        WITH bgi AS (
            SELECT doc_id, t, unnest(range(1, len(t))) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        ), bg AS (
            SELECT doc_id, t[i] || ' ' || t[i + 1] AS bg FROM bgi
        ), c2 AS (
            SELECT bg, count(*) AS c2 FROM bg GROUP BY bg
        ), c1 AS (
            SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1
            FROM bg GROUP BY 1
        ), model AS (
            SELECT c2.bg, (1000000 * c2.c2) // c1.c1 AS s
            FROM c2 JOIN c1 ON split_part(c2.bg, ' ', 1) = c1.w1
        ), scores AS (
            SELECT doc_id,
                   CAST(sum(m.s) // count(*) AS BIGINT) AS lm_score_e6
            FROM bg JOIN model m USING (bg)
            GROUP BY doc_id
        ), ranked AS (
            SELECT s.doc_id, d.lang, s.lm_score_e6,
                   ntile(3) OVER (PARTITION BY d.lang
                                  ORDER BY s.lm_score_e6 DESC,
                                           s.doc_id ASC) AS nt
            FROM scores s JOIN documents d ON s.doc_id = d.doc_id
        )
        SELECT doc_id, lang, lm_score_e6,
               CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM ranked
    """,
    "text_chunk_overlap": f"""
        WITH toked AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
          FROM documents
          WHERE len(string_split_regex(trim(text), '\\s+')) >= 1
        )
        SELECT doc_id,
               CAST((u.i - 1) // {_RAG_STRIDE} AS INT) AS chunk_idx,
               CAST(u.i AS INT) AS start_tok,
               CAST(least({_RAG_SIZE}, len(t) - u.i + 1) AS INT)
                 AS n_chunk_tokens,
               md5(array_to_string(t[u.i:u.i+{_RAG_SIZE - 1}], ' '))
                 AS chunk_fp
        FROM toked, UNNEST(range(1, len(t) + 1, {_RAG_STRIDE})) AS u(i)
    """,
    "text_chunk_dedup": f"""
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), ci AS (
            SELECT doc_id, t,
                   unnest(range(1, (len(t) + {_CHUNK - 1}) // {_CHUNK} + 1)) AS i
            FROM d
        ), c AS (
            SELECT doc_id, i - 1 AS idx,
                   md5(array_to_string(
                       t[(i - 1) * {_CHUNK} + 1 : (i - 1) * {_CHUNK} + {_CHUNK}],
                       ' ')) AS h,
                   doc_id * {_ORD_BASE} + (i - 1) AS ord_key
            FROM ci
        ), first AS (
            SELECT h, min(ord_key) AS first_key FROM c GROUP BY h
        )
        SELECT doc_id, count(*) AS n_chunks,
               CAST(sum(CASE WHEN ord_key = first_key THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept
        FROM c JOIN first USING (h)
        GROUP BY doc_id
    """,
    "sem_dedup_clusters": f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), par AS (
            -- size gate mirror: <= {_SEM_FIXED_K_MAX_N} vectors keeps
            -- the fixed k=4 demo; above it the query IS
            -- sem_dedup_scaled (k = n // {_SEM_TARGET_CELL}, e6-
            -- quantized argmax like the blocked GEMM path)
            SELECT count(*) AS n,
                   greatest(count(*) // {_SEM_TARGET_CELL}, 1) AS k
            FROM e
        ), cents AS (
            SELECT CASE WHEN par.n <= {_SEM_FIXED_K_MAX_N}
                        THEN {_CID_CASE}
                        ELSE CAST(e.vec_id AS INT) END AS cid,
                   e.v AS cv
            FROM e, par
            WHERE (par.n <= {_SEM_FIXED_K_MAX_N}
                   AND e.vec_id IN (0, 7, 13, 42))
               OR (par.n > {_SEM_FIXED_K_MAX_N} AND e.vec_id < par.k)
        ), sims AS (
            SELECT e.vec_id, c.cid,
                   CASE WHEN par.n <= {_SEM_FIXED_K_MAX_N}
                        THEN {_cos("e.v", "c.cv")}
                        ELSE floor({_cos("e.v", "c.cv")} * 1000000)
                   END AS sim
            FROM e CROSS JOIN cents c, par
        ), assigned AS (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cid DESC) AS rn
                FROM sims
            ) WHERE rn = 1
        ), va AS (
            SELECT a.cid, e.vec_id, e.v FROM assigned a JOIN e USING (vec_id)
        ), dropped AS (
            SELECT cid, count(*) AS n_dropped FROM (
                SELECT DISTINCT a.cid, b.vec_id
                FROM va a JOIN va b
                  ON a.cid = b.cid AND a.vec_id < b.vec_id
                WHERE round({_cos("a.v", "b.v")}, 6) >= {_SEM_THRESHOLD}
            ) GROUP BY cid
        )
        SELECT va.cid AS centroid_id, count(*) AS n_assigned,
               COALESCE(any_value(dropped.n_dropped), 0) AS n_dropped
        FROM va LEFT JOIN dropped ON va.cid = dropped.cid
        GROUP BY va.cid
    """,
    "sem_dedup_scaled": f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), par AS (
            SELECT greatest(count(*) // {_SEM_TARGET_CELL}, 1) AS k FROM e
        ), cents AS (
            SELECT CAST(e.vec_id AS INT) AS cid, e.v AS cv
            FROM e, par WHERE e.vec_id < par.k
        ), sims AS (
            -- floor(cos * 1e6): the blocked GEMM quantizes to e6
            -- before its argmax (operators/similarity.py::
            -- ivf_assign_blocked), so the oracle ranks the same
            -- quantity; ties -> higher cid on both sides
            SELECT e.vec_id, c.cid,
                   floor({_cos("e.v", "c.cv")} * 1000000) AS sim
            FROM e CROSS JOIN cents c
        ), assigned AS (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cid DESC) AS rn
                FROM sims
            ) WHERE rn = 1
        ), va AS (
            SELECT a.cid, e.vec_id, e.v FROM assigned a JOIN e USING (vec_id)
        ), dropped AS (
            SELECT cid, count(*) AS n_dropped FROM (
                SELECT DISTINCT a.cid, b.vec_id
                FROM va a JOIN va b
                  ON a.cid = b.cid AND a.vec_id < b.vec_id
                WHERE round({_cos("a.v", "b.v")}, 6) >= {_SEM_THRESHOLD}
            ) GROUP BY cid
        )
        SELECT va.cid AS centroid_id, count(*) AS n_assigned,
               COALESCE(any_value(dropped.n_dropped), 0) AS n_dropped
        FROM va LEFT JOIN dropped ON va.cid = dropped.cid
        GROUP BY va.cid
    """,
}
