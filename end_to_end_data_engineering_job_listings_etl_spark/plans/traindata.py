"""Training-data-pipeline operators the reference lacks entirely but a
100 TB corpus engine needs (BASELINE.json north star): deterministic
dataset splitting, token-budget sequence packing, and duplicate-cluster
resolution.

These complete the dedup story in ``plans/corpus.py``: corpus.py finds
candidate/verified near-dup *pairs*; ``dd_duplicate_clusters`` here
turns pairs into *clusters* (connected components) and a per-document
keep/drop decision — the actual output a dedup pipeline ships.

Scale shapes:
- ``samp_hash_split`` is a pure narrow map (no shuffle): split
  membership is a function of md5(doc_id) alone, so it is stable under
  repartitioning, retries, and corpus growth — the property that makes
  hash-splits the standard train/val/test mechanism (vs rand(), which
  reshuffles membership every run).
- ``text_pack_batches`` windows per shard (PARTITION BY shard), never
  globally — 100 TB packs in parallel across thousands of shards, and
  batch ids are globally unique by (shard, seq within shard).
- ``dd_duplicate_clusters`` is iterative label propagation with
  pointer jumping (O(log diameter) rounds of join+min-agg); see
  ``operators.dedup.connected_components``. It shares one labels
  build per (session, dataset) with ``dd_keep_best`` and
  ``samp_split_by_cluster`` (``_near_dup_labels``).

Determinism/oracle notes: md5 is the only hash (bit-stable in Spark
and DuckDB); the DuckDB oracle for clusters computes the same
components via a recursive-CTE transitive closure — tractable at
oracle scale, while the Spark side is the path that scales.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import cachereg
from ..catalog import load_table_dist
from ..functions import text as T
from ..functions.text import word_shingles
from ..operators import dedup as D
from ..operators import similarity as S
from ..operators.ids import ordinals
from .corpus import (
    _BAND_EXPRS,
    _JACCARD_MAX_ID,
    _LSH_BANDS,
    _MINHASH_CTE,
    _MINHASH_K,
    _PUNCT_CLASS,
    _QUALITY,
    _SHINGLED_CTE,
    _SHINGLES,
    _cos,
    _query_vec,
    _query_vecs,
    dd_minhash_signatures,
)

# ---------------------------------------------------------------------------
# Spark queries
# ---------------------------------------------------------------------------

_SPLIT_BUCKETS = 100
_TRAIN_PCT = 80
_VAL_PCT = 10  # test = remainder

_PACK_CAPACITY = 2048  # tokens per packed batch
_PACK_SHARDS = 8


def hash_split(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Append (bucket, split) to any id-carrying frame: bucket =
    md5(id) mod 100, split by fixed bucket ranges (80/10/10).

    No shuffle, no RNG: membership depends only on the id, so adding
    or filtering documents never moves existing ones between splits."""
    bucket = F.expr(
        f"cast(conv(substring(md5(cast({id_col} as string)), 1, 8), 16, 10) as bigint)"
        f" % {_SPLIT_BUCKETS}"
    ).alias("bucket")
    return df.select(*df.columns, bucket).select(
        *df.columns,
        "bucket",
        F.when(F.col("bucket") < _TRAIN_PCT, F.lit("train"))
        .when(F.col("bucket") < _TRAIN_PCT + _VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def samp_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment over documents."""
    return hash_split(
        load_table_dist(spark, sf_dir, "documents", cols=("doc_id",)), "doc_id"
    )


def text_pack_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: stream documents in deterministic order within
    each shard and cut a new batch every ``_PACK_CAPACITY`` tokens
    (documents may straddle a boundary — the LLM-pretraining packing
    convention). batch_seq = floor(tokens_before_this_doc / capacity).

    The window is PARTITION BY shard — parallel across shards, never a
    global single-partition sort."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    sized = docs.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(T.tokens("text")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sized.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / _PACK_CAPACITY)
        .cast("int")
        .alias("batch_seq"),
    )


def _near_dup_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) over the in-scope documents (doc_id <
    ``_JACCARD_MAX_ID``): exact-Jaccard pairs at threshold 0.5, then
    connected components. Built once per (session, sf_dir) and shared
    by ``dd_duplicate_clusters``, ``dd_keep_best`` and
    ``samp_split_by_cluster``; the memo entry owns the labels
    checkpoint."""

    def build(pins: list[DataFrame]) -> DataFrame:
        docs = load_table_dist(
            spark, sf_dir, "documents", cols=("doc_id", "text")
        ).filter(F.col("doc_id") < _JACCARD_MAX_ID)
        edges = D.jaccard_pairs(docs, "text", "doc_id", threshold=0.5)
        return D.connected_components(
            docs.select("doc_id"), edges, pins, id_col="doc_id"
        )

    return cachereg.memo(spark, sf_dir, "dedup_cc", "labels", build)


def dd_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters over the exact-Jaccard pair graph (bounded
    candidate set, same bound/threshold as ``dd_jaccard_pairs``):
    connected components → (doc_id, cluster_id, is_canonical), keeping
    min-id as the cluster representative.

    At 100 TB the edge input swaps to ``minhash_lsh_pairs`` output
    verified by ``jaccard_pairs`` per bucket; the component step is
    unchanged."""
    return _near_dup_labels(spark, sf_dir).select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def samp_split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-duplicate documents
    must land in the SAME split (a near-dup of a test document inside
    the training set is contamination), so split membership is a pure
    function of md5(cluster representative) instead of md5(doc_id).
    Composes the connected-components clusters with the deterministic
    hash split; documents outside the candidate bound (or with no
    near-dup) are singleton clusters (cluster_id = doc_id) and split
    exactly as ``samp_hash_split`` would.

    Scale shape: clustering is the O(log d)-round component step over
    the near-dup pair graph; the split itself is a narrow map on
    cluster_id — no extra shuffle after labeling."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    labeled = (
        docs.select("doc_id")
        .join(_near_dup_labels(spark, sf_dir), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id")
        )
    )
    return hash_split(labeled, "cluster_id")


_BUDGET_TOKENS = 600  # per-source token budget (binds at every test SF)

_PACK_CAP = 256  # tokens per packed training sequence (whole docs)
_PACK_BUFFER = 64  # docs per packer buffer (chunk)


def samp_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence PACKING — the LLM-training step that bins
    whole documents into fixed token-capacity sequences (docs are
    never split; a doc longer than the capacity gets a bin of its
    own). Greedy fill is inherently sequential (each decision depends
    on the running fill), so it cannot be a window expression; the
    distributed form is the BUFFER-BOUNDED one production packers
    use: the corpus splits into fixed 64-doc buffers (chunk =
    doc_id div 64), each buffer packs independently in one
    `applyInPandas` task over the NARROW (doc_id, n_tokens)
    projection — token counting stays a JVM-side expression, only
    id+count metadata crosses into Python, and parallelism GROWS
    with the corpus (one task per buffer; a boundary wastes at most
    one partial bin per buffer, the usual packer trade). Output:
    per-(chunk, bin) doc count and token fill, every row pinned by
    the oracle's recursive-CTE replay of the same greedy recurrence
    — the recursion advances all buffers in lockstep, so its depth
    is the BUFFER size (64), constant in corpus scale."""
    import pandas as pd

    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    sized = docs.select(
        "doc_id",
        F.size(T.tokens("text")).cast("bigint").alias("n_tokens"),
        F.expr(f"doc_id div {_PACK_BUFFER}").alias("chunk_id"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins: list[int] = []
        bin_id, fill = 0, 0
        for i, nt in enumerate(pdf["n_tokens"]):
            if i == 0:
                fill = nt
            elif fill + nt <= _PACK_CAP:
                fill += nt
            else:
                bin_id += 1
                fill = nt
            bins.append(bin_id)
        pdf["bin_id"] = bins
        return pdf[["doc_id", "chunk_id", "n_tokens", "bin_id"]]

    packed = sized.groupBy("chunk_id").applyInPandas(
        pack, "doc_id bigint, chunk_id bigint, n_tokens bigint, bin_id bigint"
    )
    return (
        packed.groupBy("chunk_id", "bin_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .orderBy("chunk_id", "bin_id")
    )


def samp_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget-aware mixture sampling: each source contributes
    documents in a deterministic pseudo-random order (md5 of the id —
    stable under corpus growth, like the hash split) until its token
    budget is exhausted; the first document that crosses the budget is
    the last one kept (the LLM-data-mixing convention: budgets are
    token counts, so truncate on the boundary doc, never mid-budget
    undershoot).

    Scale shape: one running-sum window PARTITION BY source — parallel
    across sources, never global; token counts are pure expressions."""
    docs = load_table_dist(
        spark, sf_dir, "documents", cols=("doc_id", "text", "source")
    )
    sized = docs.select(
        "doc_id",
        "source",
        F.size(T.tokens("text")).alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("__rk"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("__rk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cum = sized.select(
        "doc_id",
        "source",
        "n_tokens",
        F.sum("n_tokens").over(w).alias("cum_tokens"),
    )
    return (
        with_cum.filter(
            (F.col("cum_tokens") - F.col("n_tokens")) < _BUDGET_TOKENS
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum("n_tokens").alias("n_tokens_kept"),
        )
        .orderBy("source")
    )


_MIX_RATES = {"src0": 100, "src1": 50, "src2": 25}  # percent kept
_MIX_DEFAULT_RATE = 10


def samp_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus mixture weighting: per-source keep rates
    (domain up/down-sampling, the standard pre-training mixture knob)
    decided by md5 of (source, doc_id) — independent of the train/val
    split hash, shuffle-free, stable under corpus growth. Returns every
    document with its keep decision plus the applied rate."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "source"))
    rate = F.lit(_MIX_DEFAULT_RATE)
    for src, r in _MIX_RATES.items():
        rate = F.when(F.col("source") == src, F.lit(r)).otherwise(rate)
    bucket = F.expr(
        "cast(conv(substring(md5(concat('mix|', source, '|',"
        " cast(doc_id as string))), 1, 8), 16, 10) as bigint) % 100"
    )
    return docs.select(
        "doc_id",
        "source",
        rate.alias("keep_pct"),
        (bucket < rate).alias("kept"),
    )


_BENCH_SOURCE = "src0"  # the held-out "benchmark" slice of the corpus


def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every training document, how many
    of its distinct 3-gram shingles also occur in the benchmark slice
    (``source = 'src0'``), plus the contamination ratio. The standard
    pre-training hygiene op (filter docs that leak eval data).

    Scale shape: the benchmark shingle set is distinct-ed and
    broadcast (benchmark suites are tiny next to the corpus), so the
    overlap join is map-side — the 100 TB side never shuffles on the
    shingle key. Shingle count and overlap count come out of ONE
    aggregation over a hit-marked broadcast LEFT join (the bench set
    is distinct, so a hit is at most one match), so the train-side
    explode runs once and no doc_id join is planned."""
    docs = load_table_dist(
        spark, sf_dir, "documents", cols=("doc_id", "text", "source")
    )
    bench_sh = (
        docs.filter(F.col("source") == _BENCH_SOURCE)
        .select(F.explode(word_shingles("text", 3)).alias("sh"))
        .distinct()
    )
    train_sh = docs.filter(F.col("source") != _BENCH_SOURCE).select(
        "doc_id", F.explode(word_shingles("text", 3)).alias("sh")
    )
    marked = train_sh.join(
        F.broadcast(bench_sh.select("sh", F.lit(1).alias("__hit"))), "sh", "left"
    )
    per_doc = marked.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long").alias("n_shared"),
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_shared",
        F.floor(F.col("n_shared") * 1_000_000 / F.col("n_shingles")).alias(
            "contam_e6"
        ),
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"555-[0-9]{3}-[0-9]{4}"


def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: replace email addresses and phone numbers with
    typed placeholders, count what was redacted. The corpus text is
    deterministically enriched with one synthetic email + phone per doc
    so the redaction provably fires (the raw synthetic text carries no
    PII); both engines apply the identical enrichment.

    Pure regexp expressions — narrow map, whole-stage codegen, no UDF;
    the redacted text is fingerprinted (md5) so the comparison carries
    hashes, not megabytes."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    enriched = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com tel 555-123-"),
            F.lpad((F.col("doc_id") % 10_000).cast("string"), 4, "0"),
        ).alias("t"),
    )
    red = F.regexp_replace(
        F.regexp_replace(F.col("t"), _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return enriched.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(_PHONE_RE), 0)).alias("n_phones"),
        F.md5(red).alias("red_fp"),
    )


def sim_ivf_topk_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe = n_cells: probing every cell makes IVF
    exact, so the full bucketed path (assign → probe → per-cell scan →
    top-k) runs under the hash-match oracle gate — the brute-force SQL
    ranking IS the expected answer. (``sim_ivf_topk`` keeps nprobe=2:
    the approximate scale posture, invariant-tested.)"""
    emb = load_table_dist(spark, sf_dir, "embeddings", cols=("vec_id", "embedding"))
    vecs = _query_vecs(spark, sf_dir, [0, 7, 13, 42, 1])
    centroids = [(i, vecs[vid]) for i, vid in enumerate([0, 7, 13, 42])]
    q = vecs[1]
    return S.ivf_topk(emb, "embedding", "vec_id", q, centroids, k=10, nprobe=4)


def text_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the first-stage filter of a
    web-corpus pipeline (C4/RefinedWeb/FineWeb run it before any
    content dedup because it's free: no text is read). Each doc gets a
    deterministic synthetic URL with realistic dirt — upper-case
    scheme/host, explicit default port, tracking params (utm_*/ref),
    param-order variants, fragments. Canonicalize with pure column
    expressions (lowercase, strip :443 and fragment, drop tracking
    params, sort the rest), then keep the first doc per canonical URL.
    One narrow map + one hash agg on the canonical key — shuffle
    volume is |URLs|, never |bytes|."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id",))
    k = F.col("doc_id")
    url = F.concat(
        F.lit("HTTPS://WWW.Example"),
        (k % 50).cast("string"),
        F.lit(".com:443/Path"),
        (k % 7).cast("string"),
        F.lit("/?utm_source=feed&ref="),
        k.cast("string"),
        F.when(k % 3 == 0, F.lit("&a=1&b=2"))
        .when(k % 3 == 1, F.lit("&b=2&a=1"))
        .otherwise(F.lit("")),
        F.lit("#sec"),
        k.cast("string"),
    )
    lowered = F.lower(F.regexp_replace(url, "#.*$", ""))
    base = F.regexp_replace(
        F.substring_index(lowered, "?", 1), ":443/", "/"
    )
    params = F.array_sort(
        F.filter(
            F.split(F.substring_index(lowered, "?", -1), "&"),
            lambda p: ~p.startswith("utm_") & ~p.startswith("ref="),
        )
    )
    canon = F.concat(
        base,
        F.when(F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))).otherwise(
            F.lit("")
        ),
    )
    return (
        docs.select(canon.alias("canon_url"), "doc_id")
        .groupBy("canon_url")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )


_SHUF_SEED = "epoch7"
_SHUF_BUCKETS_HEX = 2  # 256 buckets from the md5 hex prefix


def samp_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle with DENSE ranks and
    no single-partition stage: shuffle key = md5(seed || doc_id)
    (re-seedable per epoch, stable under retries/repartitioning —
    rand() is neither), rank = ``ids.ordinals`` over 256 buckets:
    within-bucket row_number + the count of all lower buckets. The
    bucket is the key's OWN hex prefix, so bucket order is consistent
    with key order and the rank equals the global ``row_number() over
    (order by key)`` exactly. This is how a 100 TB corpus gets a
    reproducible epoch permutation without funneling through one
    reducer."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id",))
    key = F.md5(F.concat(F.lit(_SHUF_SEED), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", key.alias("shuffle_key")).withColumn(
        "__b", F.substring("shuffle_key", 1, _SHUF_BUCKETS_HEX)
    )
    return ordinals(keyed, "__b", ["shuffle_key", "doc_id"], "shuffle_rank").select(
        "doc_id", "shuffle_key", "shuffle_rank"
    )


def emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column — the standard
    memory/IO reduction before ANN serving at 100 TB (4 bytes/dim →
    1). Per vector: ``scale = max|x_i|``, ``code_i = floor(x_i / scale
    * 127 + 0.5)`` (explicit half-up floor — engine-independent, where
    ``round``'s tie behavior is not). Pure array expressions — one
    narrow map, no shuffle, no UDF. Codes flatten to a pipe string for
    the cross-engine hash."""
    emb = load_table_dist(spark, sf_dir, "embeddings", cols=("vec_id", "embedding"))
    v = F.col("embedding").cast("array<double>")
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-30)
    )
    codes = F.transform(v, lambda x: F.floor(x / scale * 127 + 0.5).cast("bigint"))
    return emb.select(
        "vec_id",
        F.size(v).alias("n_dims"),
        F.floor(scale * 1_000_000).cast("bigint").alias("scale_e6"),
        F.array_join(F.transform(codes, lambda c: c.cast("string")), "|").alias(
            "codes"
        ),
    )


_QC_W_STOP = 3  # stopword ratio: strongest natural-text signal
_QC_W_PUNCT = 2  # punctuation excess: negative
_QC_LEN_BONUS_E6 = 500_000
_QC_THRESHOLD_E6 = 400_000


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight linear quality classifier (the shape of a
    fastText/logistic corpus-quality scorer, with the trained weights
    frozen as literals): integer e6 features → exact BIGINT logit →
    threshold keep/drop. At 100 TB this is the classifier-inference
    stage of a curation funnel — a narrow map with no shuffle; a real
    model swaps the literal weights for broadcast ones, same plan.
    Exactness: every feature is a floor(ratio*1e6) integer (the
    text_stats trick), so the logit is integer arithmetic and the
    decision boundary is hash-stable cross-engine."""
    docs = load_table_dist(
        spark, sf_dir, "documents", cols=("doc_id", "text")
    ).withColumn("__toks", T.tokens("text"))
    e6 = lambda c: F.floor(c * 1_000_000).cast("long")  # noqa: E731
    n_chars = T.char_count("text")
    len_band = F.when(
        (n_chars >= 100) & (n_chars <= 20_000), F.lit(_QC_LEN_BONUS_E6)
    ).otherwise(F.lit(0))
    feats = docs.select(
        "doc_id",
        e6(T.stopword_ratio("__toks")).alias("stop_e6"),
        e6(T.punct_ratio("text")).alias("punct_e6"),
        len_band.cast("long").alias("len_bonus_e6"),
    )
    logit_e6 = (
        F.lit(_QC_W_STOP) * F.col("stop_e6")
        - F.lit(_QC_W_PUNCT) * F.col("punct_e6")
        + F.col("len_bonus_e6")
    )
    return feats.withColumn("logit_e6", logit_e6).withColumn(
        "keep", F.col("logit_e6") >= _QC_THRESHOLD_E6
    )


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_JACC_EDGES_CTE = f"""
jtoks AS (
  SELECT doc_id, unnest(list_distinct({T.tokens_sql('lower(text)')})) AS tok
  FROM documents WHERE doc_id < {_JACCARD_MAX_ID}
), jsizes AS (
  SELECT doc_id, count(*) AS sz FROM jtoks GROUP BY doc_id
), jinter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM jtoks a JOIN jtoks b USING (tok)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), jpairs AS (
  SELECT id_a, id_b
  FROM jinter
  JOIN jsizes sa ON sa.doc_id = id_a
  JOIN jsizes sb ON sb.doc_id = id_b
  WHERE round(n_inter / (sa.sz + sb.sz - n_inter), 6) >= 0.5
)"""

ORACLES = {
    "samp_hash_split": f"""
        SELECT doc_id, bucket,
               CASE WHEN bucket < {_TRAIN_PCT} THEN 'train'
                    WHEN bucket < {_TRAIN_PCT + _VAL_PCT} THEN 'val'
                    ELSE 'test' END AS split
        FROM (
          SELECT doc_id,
                 CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % {_SPLIT_BUCKETS} AS bucket
          FROM documents
        )
    """,
    "text_pack_batches": f"""
        SELECT doc_id, shard, n_tokens,
               CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - n_tokens) / {_PACK_CAPACITY}) AS INTEGER) AS batch_seq
        FROM (
          SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
                 CAST(len({T.tokens_sql('text')}) AS INTEGER) AS n_tokens
          FROM documents
        )
    """,
    "dd_duplicate_clusters": f"""
        WITH RECURSIVE {_JACC_EDGES_CTE},
        jedges AS (
          SELECT id_a AS a, id_b AS b FROM jpairs
          UNION ALL
          SELECT id_b, id_a FROM jpairs
        ),
        reach(src, dst) AS (
          SELECT doc_id, doc_id FROM documents WHERE doc_id < {_JACCARD_MAX_ID}
          UNION
          SELECT r.src, e.b FROM reach r JOIN jedges e ON r.dst = e.a
        )
        SELECT src AS doc_id, min(dst) AS cluster_id,
               src = min(dst) AS is_canonical
        FROM reach GROUP BY src
    """,
}

ORACLES["text_decontaminate"] = f"""
    WITH bsh AS (
      SELECT DISTINCT unnest({_SHINGLES}) AS sh
      FROM documents WHERE source = '{_BENCH_SOURCE}'
    ), tsh AS (
      SELECT doc_id, unnest({_SHINGLES}) AS sh
      FROM documents WHERE source != '{_BENCH_SOURCE}'
    ), sizes AS (
      SELECT doc_id, count(*) AS n_shingles FROM tsh GROUP BY doc_id
    ), shared AS (
      SELECT t.doc_id, count(*) AS n_shared FROM tsh t JOIN bsh USING (sh)
      GROUP BY t.doc_id
    )
    SELECT s.doc_id, s.n_shingles,
           coalesce(sh.n_shared, 0) AS n_shared,
           CAST(floor(coalesce(sh.n_shared, 0) * 1000000 / s.n_shingles) AS BIGINT)
             AS contam_e6
    FROM sizes s LEFT JOIN shared sh ON s.doc_id = sh.doc_id
"""

ORACLES["text_redact"] = f"""
    SELECT doc_id,
      CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS INTEGER) AS n_emails,
      CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS INTEGER) AS n_phones,
      md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                         '{_PHONE_RE}', '<PHONE>', 'g')) AS red_fp
    FROM (
      SELECT doc_id,
             text || ' reach user' || CAST(doc_id AS VARCHAR)
                  || '@example.com tel 555-123-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents
    )
"""

ORACLES["sim_ivf_topk_checked"] = f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 1),
    scored AS (
      SELECT e.vec_id,
             round({_cos('CAST(e.embedding AS DOUBLE[])', 'q.qv')}, 6) AS cos_sim
      FROM embeddings e, q
    )
    SELECT vec_id, cos_sim FROM scored
    ORDER BY cos_sim DESC, vec_id LIMIT 10
"""

_MIX_CASE = (
    "CASE "
    + " ".join(f"WHEN source = '{s}' THEN {r}" for s, r in _MIX_RATES.items())
    + f" ELSE {_MIX_DEFAULT_RATE} END"
)

ORACLES["samp_mixture"] = f"""
    SELECT doc_id, source,
           {_MIX_CASE} AS keep_pct,
           (CAST(concat('0x', substr(md5('mix|' || source || '|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             % 100) < ({_MIX_CASE}) AS kept
    FROM documents
"""

_RESERVOIR_K = 50


def samp_reservoir_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum 'reservoir': the k documents with the
    smallest md5(doc_id) per language. Equivalent in distribution to
    uniform-without-replacement sampling (a hash of a unique id is an
    exchangeable random tie-break) but reproducible, order-independent,
    and stable under appends of non-smaller hashes — the property a
    resumable 100 TB sampling job needs (true reservoir sampling is
    stream-order-dependent and not replayable).

    One shuffle on the stratum key; the window top-k never materializes
    more than k rows per stratum past the sort."""
    from pyspark.sql import Window

    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "lang"))
    h = F.md5(F.col("doc_id").cast("string")).alias("h")
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", "lang", h)
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _RESERVOIR_K)
        .select("doc_id", "lang", "rk")
    )


ORACLES["samp_reservoir_per_stratum"] = f"""
    SELECT doc_id, lang, CAST(rk AS INTEGER) AS rk FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= {_RESERVOIR_K}
"""

_SPAN_K = 8  # tokens per exact-duplicate span


def text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span detection: for every document, how many
    of its ``_SPAN_K``-token spans occur MORE THAN ONCE in the whole
    corpus (the corpus-level exact-substring-dedup measurement of
    Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better" — their suffix-array pass re-expressed as
    positional k-token shingle counting, the form that distributes).

    Per doc: ``n_spans`` (all positional spans, NOT distinct-ed —
    a span repeated inside one document is still duplicated text),
    ``n_dup_spans`` (positions whose span hash occurs ≥ 2 times
    corpus-wide), and ``dup_frac_e6``. Docs shorter than the span
    width report 0/0/0.

    Scale shape: spans hash to md5 (one per position), the global
    occurrence count is a window over the span hash (ONE shuffle —
    no count-then-join-back second pass), the per-doc rollup is one
    more hash agg. No UDFs, no driver state; the span relation is
    |tokens| rows per doc, the same order as the corpus itself."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    windows = T.token_windows(T.tokens(F.lower(F.col("text"))), _SPAN_K)
    spans = docs.select("doc_id", F.explode(F.transform(windows, F.md5)).alias("h"))
    w_h = Window.partitionBy("h")
    counted = spans.select(
        "doc_id", (F.count("*").over(w_h) >= 2).cast("bigint").alias("is_dup")
    )
    per_doc = counted.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"), F.sum("is_dup").alias("n_dup_spans")
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.floor(
                F.coalesce("n_dup_spans", F.lit(0)).cast("double")
                * F.lit(1000000.0)
                / F.greatest(F.coalesce("n_spans", F.lit(0)), F.lit(1)).cast(
                    "double"
                )
            ).cast("bigint").alias("dup_frac_e6"),
        )
    )


# Gopher-style repetition thresholds (Rae et al. 2021, Table A1,
# adapted token-level for this whitespace corpus): a doc is flagged
# repetitive when its most frequent token carries >10% of token mass
# or >3% of its bigrams are duplicates. Compared as floor(x*1e6)
# integers so the decision boundary is hash-stable cross-engine.
_REP_TOP_TOKEN_MAX_E6 = 100_000
_REP_DUP_BIGRAM_MAX_E6 = 30_000


def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition filters — the Gopher quality-rule
    family that catches degenerate/boilerplate text which per-corpus
    dedup misses (a document can be unique corpus-wide and still be
    'the the the...'): per doc the most-frequent-token mass fraction,
    duplicate-token fraction, and duplicate-bigram fraction, plus the
    keep/drop flag at the documented thresholds.

    Scale shape: one explode + (doc_id, tok) count + doc_id rollup
    for the token stats (two same-key aggregations, one shuffle
    chain), bigram distinct-vs-total computed array-local per row (no
    second explode), then a doc_id equi-join — per-doc work only,
    nothing corpus-wide, thresholds are literals. Docs with <2
    tokens are excluded (no bigram denominator)."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    toked = docs.select("doc_id", T.tokens(F.lower(F.col("text"))).alias("toks"))
    tok_stats = (
        T.explode_staged(toked, "toks", "tok", "doc_id")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.max("c").alias("top_count"),
        )
    )
    bi_stats = toked.select(
        "doc_id",
        (F.size("toks") - 1).alias("n_bi"),
        F.size(F.array_distinct(T.token_windows(F.col("toks"), 2))).alias(
            "n_bi_distinct"
        ),
    )
    # The <2-token filter reads the aggregate, so it stays above it: a
    # filter on the staged array would be pushed into its projection
    # and run the tokenizer again.
    j = tok_stats.join(bi_stats, "doc_id").filter(F.col("n_tokens") >= 2)
    top_e6 = F.floor(
        F.lit(1000000.0) * F.col("top_count") / F.col("n_tokens")
    ).cast("bigint")
    dup_tok_e6 = F.floor(
        F.lit(1000000.0)
        * (F.col("n_tokens") - F.col("n_distinct"))
        / F.col("n_tokens")
    ).cast("bigint")
    dup_bi_e6 = F.floor(
        F.lit(1000000.0)
        * (F.col("n_bi") - F.col("n_bi_distinct"))
        / F.col("n_bi")
    ).cast("bigint")
    return j.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        top_e6.alias("top_token_frac_e6"),
        dup_tok_e6.alias("dup_token_frac_e6"),
        dup_bi_e6.alias("dup_bigram_frac_e6"),
        (
            (top_e6 > _REP_TOP_TOKEN_MAX_E6)
            | (dup_bi_e6 > _REP_DUP_BIGRAM_MAX_E6)
        ).alias("repetitive"),
    )


def samp_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multilingual sampling weights (the
    mBERT/XLM-R exponentiated-share trick): a language's sampling
    probability is its corpus share raised to 1/T then renormalized,
    flattening the distribution so low-resource languages are
    upsampled. T=2 (alpha=0.5) here: p_i ∝ sqrt(n_i)/Σ sqrt(n_j) —
    sqrt because IEEE-754 sqrt is correctly rounded, so the scaled
    integer weights below are bit-identical cross-engine (arbitrary
    alpha works in Spark; the oracle pins the exactness-safe case).

    Exactness design: s_i = floor(sqrt(n_i * 1e12)) is an integer
    both engines agree on (the argument is exactly representable
    below 2^53 and sqrt is correctly rounded), the denominator is an
    exact INTEGER sum of the s_j (no float-addition order
    sensitivity), and each share is one int/int division floored to
    e6 — the same discipline as every ratio in this repo.

    Scale shape: one count-by-lang aggregate (map-side combined),
    one 1-row broadcast of the denominator — nothing else."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "lang"))
    per_lang = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    # The totals subtree is canonically identical to per_lang's, so AQE
    # reuses its shuffle stage at runtime; a driver collect of the
    # per-language counts would cost an eager job of its own.
    s = F.floor(F.sqrt(F.col("n_docs").cast("double") * 1e12)).cast("bigint")
    sized = per_lang.select("lang", "n_docs", s.alias("__s"))
    totals = sized.agg(
        F.sum("n_docs").alias("__n_total"), F.sum("__s").alias("__s_total")
    )
    return (
        sized.crossJoin(F.broadcast(totals))
        .select(
            "lang",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.floor(F.lit(1000000.0) * F.col("n_docs") / F.col("__n_total"))
            .cast("bigint")
            .alias("raw_share_e6"),
            F.floor(F.lit(1000000.0) * F.col("__s") / F.col("__s_total"))
            .cast("bigint")
            .alias("temp_share_e6"),
        )
        .withColumn(
            "upsampled", F.col("temp_share_e6") > F.col("raw_share_e6")
        )
    )


_STRAT_DENOM = 10  # sample k = N div 10 documents overall


def samp_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional stratified sampling with EXACT largest-remainder
    allocation: k = N div 10 documents total, split across language
    strata as ⌊k·N_s/N⌋ plus one extra for the strata with the largest
    remainders (ties → lang ascending) so the quotas sum to exactly k —
    the allocation rule survey samplers use when "10%" must mean a
    precise row count, not an expectation (hash-split gives the
    expectation; reservoir-per-stratum gives fixed k PER stratum, not
    proportional).

    Within a stratum, membership is the md5(doc_id) order — the same
    replayable uniform surrogate as samp_reservoir_per_stratum, so
    re-runs and appends don't reshuffle earlier picks.

    Scale shape: the allocation math runs on the ~|strata|-row count
    table (remainder ranking via a broadcast self-join count, no
    global window); the data pass is one lang-partitioned top-quota
    window. Nothing driver-side, nothing proportional to N outside
    the one ranked scan."""
    from pyspark.sql import Window

    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "lang"))
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_s"))
    # Every consumer of this frame shares its canonical shuffle stage
    # under AQE at runtime; a driver collect of the counts would cost
    # an eager job of its own, more than the reused stages.
    tot = counts.agg(F.sum("n_s").cast("bigint").alias("N")).select(
        "N", F.expr(f"N div {_STRAT_DENOM}").cast("bigint").alias("k")
    )
    q = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_s",
        F.expr("(k * n_s) div N").cast("bigint").alias("base"),
        F.expr("(k * n_s) % N").cast("bigint").alias("rem"),
        "k",
    )
    # strata whose remainder ranks among the top (k - Σbase) get +1;
    # the rank is a count of strictly-preceding strata via a tiny
    # broadcast self-join (no partitionless window, even a 5-row one)
    sb = q.agg(F.sum("base").cast("bigint").alias("sum_base"))
    before = (
        q.alias("a")
        .join(
            F.broadcast(q.alias("b")),
            F.expr(
                "b.rem > a.rem OR (b.rem = a.rem AND b.lang < a.lang)"
            ),
            "left",
        )
        .groupBy("a.lang", "a.base", "a.rem", "a.k")
        .agg(F.count("b.lang").cast("bigint").alias("rn"))
    )
    quotas = before.crossJoin(F.broadcast(sb)).select(
        "lang",
        (
            F.col("base")
            + (F.col("rn") < F.col("k") - F.col("sum_base")).cast("bigint")
        ).alias("quota"),
    )
    h = F.md5(F.concat(F.lit("strat|"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", "lang", h.alias("h"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .join(F.broadcast(quotas), "lang")
        .filter(F.col("rk") <= F.col("quota"))
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


_WB_DENOM = 8  # weight w ∈ 1..4 ⇒ inclusion probability w/8


def samp_weighted_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Bernoulli sampling with EXACT per-item inclusion
    probability w/8 — the quality-weighted downsampling step of a
    curation pipeline (keep high-quality documents at 4× the rate of
    low-quality ones) in the repo's replayable-hash idiom: keep doc
    iff md5('wb|'||doc_id) mod 8 < w. No RNG, no shuffle, stable under
    appends/retries like samp_hash_split; weights here derive from
    token count (a stand-in for a quality score), integer 1..4.

    (For weighted sampling WITHOUT replacement to an exact k, the
    float-free composition is samp_stratified_exact over weight
    buckets; A-ES-style keys need float pow and are deliberately
    absent — cross-engine last-ulp drift would break the oracle
    discipline.)"""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    sized = docs.select(
        "doc_id",
        (F.size(T.tokens("text")) % 4 + 1).cast("long").alias("weight"),
    )
    keep = F.expr(
        "cast(conv(substring(md5(concat('wb|', cast(doc_id as string))), 1, 8),"
        f" 16, 10) as bigint) % {_WB_DENOM}"
    ) < F.col("weight")
    return sized.where(keep).orderBy("doc_id")


_INC_FP_TOKENS = 8  # prefix-fingerprint width (tokens)


def inc_dedup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-batch dedup — the continuous-ingest form of
    the dedup layer: an incoming batch is checked against the EXISTING
    corpus fingerprint index AND within itself, and every batch
    document gets a verdict: ``dup_corpus`` (fingerprint already in
    the corpus — corpus precedence), ``dup_batch`` (first seen earlier
    in this batch), ``accepted`` (genuinely new). This is what a
    training-data pipeline runs per ingest cycle, where re-running
    full-corpus dedup from scratch would be O(corpus) per batch.

    Fingerprint = md5 of the first 8 tokens (prefix fingerprinting —
    catches boilerplate/retitled near-copies that exact full-text
    hashing misses, cheap enough to index every document). Corpus =
    doc_id % 10 < 2, batch = the rest (deterministic stand-ins for
    yesterday's corpus and today's ingest; the small-corpus split
    keeps all three verdicts populated at every test SF).

    Scale shape: the corpus side reduces to DISTINCT fingerprints
    (at 100 TB this index is pre-materialized and bucketed by fp, so
    the probe is a co-located join, no corpus re-scan); batch-side
    first-occurrence is one window over fp (same shuffle key as the
    probe join — md5-uniform, skew-free). No broadcast assumption:
    both joins shuffle on fp and survive a corpus 1000× the batch."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    fp = F.md5(
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, _INC_FP_TOKENS))
    )
    tagged = docs.select("doc_id", fp.alias("fp"))
    corpus_fps = (
        tagged.filter(F.col("doc_id") % 10 < 2).select("fp").distinct()
    )
    batch = tagged.filter(F.col("doc_id") % 10 >= 2)
    rk = F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
    return (
        batch.withColumn("__rk", rk)
        .join(corpus_fps.withColumn("__hit", F.lit(1)), "fp", "left")
        .select(
            "doc_id",
            "fp",
            F.when(F.col("__hit").isNotNull(), F.lit("dup_corpus"))
            .when(F.col("__rk") > 1, F.lit("dup_batch"))
            .otherwise(F.lit("accepted"))
            .alias("status"),
        )
    )


def inc_lsh_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``inc_dedup_merge``'s NEAR-dup sibling: an ingest batch is
    screened against the existing corpus through the MinHash-LSH band
    index instead of an exact fingerprint — the merge step a
    continuously-crawled training corpus actually runs (exact dedup
    misses retitled/boilerplate-shifted near-copies). Per batch doc:
    the number of distinct corpus documents sharing >= 1 LSH band
    bucket, and the accept/reject verdict. Corpus = doc_id % 10 < 2,
    batch = the rest (same deterministic split as inc_dedup_merge).

    Scale shape: the corpus side is exactly
    ``operators.dedup.lsh_buckets`` output — at 100 TB that index is
    materialized ONCE as bucket-partitioned parquet and never
    recomputed; the batch side computes signatures for the new docs
    only and probes with a join on bucket (md5-uniform, skew-free,
    shuffle bounded by batch x bands). Candidates would then flow to
    the exact verifier (``dd_minhash_estimate``'s machinery); the
    band-hit verdict here is the recall-side gate."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    sig = dd_minhash_signatures(spark, sf_dir)
    buckets = D.lsh_buckets(sig, "doc_id", _MINHASH_K, _LSH_BANDS)
    corpus_b = buckets.filter(F.col("doc_id") % 10 < 2).select(
        F.col("doc_id").alias("corpus_id"), "bucket"
    )
    batch_b = buckets.filter(F.col("doc_id") % 10 >= 2)
    hits = (
        batch_b.join(corpus_b, "bucket")
        .groupBy("doc_id")
        .agg(F.countDistinct("corpus_id").alias("n_corpus_hits"))
    )
    batch_docs = docs.filter(F.col("doc_id") % 10 >= 2).select("doc_id")
    n_hits = F.coalesce(F.col("n_corpus_hits"), F.lit(0).cast("long"))
    return batch_docs.join(hits, "doc_id", "left").select(
        "doc_id",
        n_hits.alias("n_corpus_hits"),
        F.when(n_hits > 0, F.lit("dup_near_corpus"))
        .otherwise(F.lit("accepted"))
        .alias("status"),
    )


def dd_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical selection by QUALITY: within each near-dup cluster
    keep the highest-quality document (ties -> lowest doc_id), not the
    lowest-id one. ``dd_duplicate_clusters`` answers "which docs are
    the same"; this answers the question production dedup actually
    ships — "which copy do we train on". Same bounded candidate set /
    threshold as the cluster query; quality is the same rubric the
    curation funnel uses (``functions.text.quality_score``).

    Scale shape: clustering is the O(log d) component rounds; the
    keep decision is ONE window over cluster_id (same shuffle key as
    the final label join — no extra exchange beyond the ranking
    sort)."""
    docs = (
        load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
        .filter(F.col("doc_id") < _JACCARD_MAX_ID)
        .withColumn("__toks", T.tokens("text"))
    )
    labels = _near_dup_labels(spark, sf_dir)
    quality = docs.select(
        "doc_id",
        F.floor(T.quality_score("text", "__toks") * 1_000_000)
        .cast("long")
        .alias("quality_e6"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_e6"), F.asc("doc_id")
    )
    return labels.join(quality, "doc_id").select(
        "doc_id",
        "cluster_id",
        "quality_e6",
        (F.row_number().over(w) == 1).alias("keep"),
    )


QUERIES = {
    "inc_dedup_merge": inc_dedup_merge,
    "inc_lsh_merge": inc_lsh_merge,
    "dd_keep_best": dd_keep_best,
    "samp_weighted_bernoulli": samp_weighted_bernoulli,
    "samp_stratified_exact": samp_stratified_exact,
    "samp_hash_split": samp_hash_split,
    "text_repetition_signals": text_repetition_signals,
    "samp_temperature_mixture": samp_temperature_mixture,
    "text_dup_spans": text_dup_spans,
    "samp_split_by_cluster": samp_split_by_cluster,
    "samp_token_budget": samp_token_budget,
    "samp_pack_sequences": samp_pack_sequences,
    "samp_reservoir_per_stratum": samp_reservoir_per_stratum,
    "samp_mixture": samp_mixture,
    "text_pack_batches": text_pack_batches,
    "dd_duplicate_clusters": dd_duplicate_clusters,
    "text_decontaminate": text_decontaminate,
    "text_redact": text_redact,
    "sim_ivf_topk_checked": sim_ivf_topk_checked,
    "emb_int8_quantize": emb_int8_quantize,
    "text_quality_classifier": text_quality_classifier,
    "samp_global_shuffle": samp_global_shuffle,
    "text_url_dedup": text_url_dedup,
}

ORACLES["inc_lsh_merge"] = f"""
    WITH {_SHINGLED_CTE}, {_MINHASH_CTE},
    banded AS (SELECT doc_id, {_BAND_EXPRS} FROM signatures),
    stacked AS (
      SELECT doc_id, unnest([{", ".join(f"band_{b}" for b in range(_LSH_BANDS))}]) AS bucket
      FROM banded
    ),
    hits AS (
      SELECT b.doc_id, count(DISTINCT c.doc_id) AS n_corpus_hits
      FROM stacked b JOIN stacked c USING (bucket)
      WHERE b.doc_id % 10 >= 2 AND c.doc_id % 10 < 2
      GROUP BY b.doc_id
    )
    SELECT d.doc_id, coalesce(h.n_corpus_hits, 0) AS n_corpus_hits,
           CASE WHEN coalesce(h.n_corpus_hits, 0) > 0 THEN 'dup_near_corpus'
                ELSE 'accepted' END AS status
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 2) d
    LEFT JOIN hits h ON h.doc_id = d.doc_id
"""

ORACLES["dd_keep_best"] = f"""
    WITH RECURSIVE {_JACC_EDGES_CTE},
    jedges AS (
      SELECT id_a AS a, id_b AS b FROM jpairs
      UNION ALL
      SELECT id_b, id_a FROM jpairs
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents WHERE doc_id < {_JACCARD_MAX_ID}
      UNION
      SELECT r.src, e.b FROM reach r JOIN jedges e ON r.dst = e.a
    ),
    labels AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
    q AS (
      SELECT doc_id, CAST(floor(({_QUALITY}) * 1000000) AS BIGINT) AS quality_e6
      FROM documents WHERE doc_id < {_JACCARD_MAX_ID}
    ),
    ranked AS (
      SELECT l.doc_id, l.cluster_id, q.quality_e6,
             row_number() OVER (PARTITION BY l.cluster_id
                                ORDER BY q.quality_e6 DESC, l.doc_id) AS rk
      FROM labels l JOIN q ON q.doc_id = l.doc_id
    )
    SELECT doc_id, cluster_id, quality_e6, rk = 1 AS keep FROM ranked
"""

ORACLES["samp_split_by_cluster"] = f"""
    WITH RECURSIVE {_JACC_EDGES_CTE},
    jedges AS (
      SELECT id_a AS a, id_b AS b FROM jpairs
      UNION ALL
      SELECT id_b, id_a FROM jpairs
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents WHERE doc_id < {_JACCARD_MAX_ID}
      UNION
      SELECT r.src, e.b FROM reach r JOIN jedges e ON r.dst = e.a
    ),
    comp AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
    lab AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    SELECT doc_id, cluster_id, bucket,
           CASE WHEN bucket < {_TRAIN_PCT} THEN 'train'
                WHEN bucket < {_TRAIN_PCT + _VAL_PCT} THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, cluster_id,
             CAST(concat('0x', substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % {_SPLIT_BUCKETS} AS bucket
      FROM lab
    )
"""

ORACLES["samp_token_budget"] = f"""
    WITH sized AS (
      SELECT doc_id, source,
             CAST(len({T.tokens_sql('text')}) AS BIGINT) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS rk
      FROM documents
    ), cum AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY rk, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM sized
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs_kept,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens_kept
    FROM cum WHERE cum_tokens - n_tokens < {_BUDGET_TOKENS}
    GROUP BY source ORDER BY source
"""

ORACLES["samp_pack_sequences"] = f"""
    WITH RECURSIVE sized AS (
      SELECT doc_id,
             CAST(len({T.tokens_sql('text')}) AS BIGINT) AS n_tokens,
             doc_id // {_PACK_BUFFER} AS chunk_id
      FROM documents
    ), ord AS (
      SELECT *, row_number() OVER (PARTITION BY chunk_id ORDER BY doc_id) AS rn
      FROM sized
    ), p AS (
      SELECT chunk_id, rn, doc_id, n_tokens,
             CAST(0 AS BIGINT) AS bin_id, n_tokens AS fill
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.chunk_id, o.rn, o.doc_id, o.n_tokens,
             CASE WHEN p.fill + o.n_tokens <= {_PACK_CAP}
                  THEN p.bin_id ELSE p.bin_id + 1 END,
             CASE WHEN p.fill + o.n_tokens <= {_PACK_CAP}
                  THEN p.fill + o.n_tokens ELSE o.n_tokens END
      FROM p JOIN ord o ON o.chunk_id = p.chunk_id AND o.rn = p.rn + 1
    )
    SELECT chunk_id, bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM p GROUP BY chunk_id, bin_id ORDER BY chunk_id, bin_id
"""

ORACLES["text_dup_spans"] = f"""
    WITH toked AS (
      SELECT doc_id, {T.tokens_sql('lower(text)')} AS t FROM documents
    ), spans AS (
      SELECT doc_id, md5(array_to_string(t[i:i+{_SPAN_K - 1}], ' ')) AS h
      FROM toked, UNNEST(range(1, len(t) - {_SPAN_K - 2})) AS u(i)
      WHERE len(t) >= {_SPAN_K}
    ), counted AS (
      SELECT doc_id,
             CASE WHEN count(*) OVER (PARTITION BY h) >= 2 THEN 1 ELSE 0 END
               AS is_dup
      FROM spans
    ), per_doc AS (
      SELECT doc_id, count(*) AS n_spans, sum(is_dup) AS n_dup
      FROM counted GROUP BY doc_id
    )
    SELECT d.doc_id,
      CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
      CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_spans,
      CAST(floor(CAST(coalesce(n_dup, 0) AS DOUBLE) * 1000000.0
                 / CAST(greatest(coalesce(n_spans, 0), 1) AS DOUBLE))
           AS BIGINT) AS dup_frac_e6
    FROM documents d LEFT JOIN per_doc USING (doc_id)
"""

ORACLES["text_url_dedup"] = """
    WITH u AS (
      SELECT doc_id,
             'HTTPS://WWW.Example' || CAST(doc_id % 50 AS VARCHAR)
               || '.com:443/Path' || CAST(doc_id % 7 AS VARCHAR)
               || '/?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)
               || CASE WHEN doc_id % 3 = 0 THEN '&a=1&b=2'
                       WHEN doc_id % 3 = 1 THEN '&b=2&a=1'
                       ELSE '' END
               || '#sec' || CAST(doc_id AS VARCHAR) AS url
      FROM documents
    ), low AS (
      SELECT doc_id, lower(regexp_replace(url, '#.*$', '')) AS l FROM u
    ), parts AS (
      SELECT doc_id,
             replace(split_part(l, '?', 1), ':443/', '/') AS base,
             list_sort(list_filter(string_split(split_part(l, '?', 2), '&'),
               p -> NOT starts_with(p, 'utm_') AND NOT starts_with(p, 'ref=')))
               AS params
      FROM low
    )
    SELECT base || CASE WHEN len(params) > 0
                        THEN '?' || array_to_string(params, '&')
                        ELSE '' END AS canon_url,
           count(*) AS n_docs,
           min(doc_id) AS keep_doc_id
    FROM parts
    GROUP BY 1
"""

ORACLES["samp_global_shuffle"] = f"""
    SELECT doc_id, shuffle_key,
           CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT)
             AS shuffle_rank
    FROM (SELECT doc_id,
                 md5('{_SHUF_SEED}' || CAST(doc_id AS VARCHAR)) AS shuffle_key
          FROM documents)
"""

ORACLES["emb_int8_quantize"] = """
    SELECT vec_id,
           CAST(len(v) AS INTEGER) AS n_dims,
           CAST(floor(scale * 1000000) AS BIGINT) AS scale_e6,
           array_to_string(list_transform(v,
             x -> CAST(CAST(floor(x / scale * 127 + 0.5) AS BIGINT) AS VARCHAR)),
             '|') AS codes
    FROM (
      SELECT vec_id, v,
             greatest(list_aggregate(list_transform(v, x -> abs(x)), 'max'),
                      1e-30) AS scale
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    )
"""

ORACLES["text_quality_classifier"] = f"""
    SELECT doc_id, stop_e6, punct_e6, len_bonus_e6,
           {_QC_W_STOP} * stop_e6 - {_QC_W_PUNCT} * punct_e6 + len_bonus_e6
             AS logit_e6,
           ({_QC_W_STOP} * stop_e6 - {_QC_W_PUNCT} * punct_e6 + len_bonus_e6)
             >= {_QC_THRESHOLD_E6} AS keep
    FROM (
      SELECT doc_id,
        CAST(floor((len(list_filter({T.tokens_sql('text')},
               t -> lower(t) IN ('the', 'a', 'of', 'and')))
             / greatest(len({T.tokens_sql('text')}), 1)) * 1000000) AS BIGINT)
          AS stop_e6,
        CAST(floor(((length(text) - length(regexp_replace(text, '{_PUNCT_CLASS}', '', 'g')))
             / greatest(length(text), 1)) * 1000000) AS BIGINT) AS punct_e6,
        CAST(CASE WHEN length(text) BETWEEN 100 AND 20000
                  THEN {_QC_LEN_BONUS_E6} ELSE 0 END AS BIGINT) AS len_bonus_e6
      FROM documents
    )
"""

ORACLES["text_repetition_signals"] = f"""
    WITH t AS (
      SELECT doc_id, {T.tokens_sql('lower(text)')} AS toks FROM documents
    ), t2 AS (
      SELECT doc_id, toks FROM t WHERE len(toks) >= 2
    ), tok AS (
      SELECT doc_id, tok, count(*) AS c
      FROM (SELECT doc_id, unnest(toks) AS tok FROM t2)
      GROUP BY doc_id, tok
    ), ts AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(max(c) AS BIGINT) AS top_count
      FROM tok GROUP BY doc_id
    ), bs AS (
      SELECT doc_id, len(toks) - 1 AS n_bi,
             len(list_distinct(list_transform(range(1, len(toks)),
                 i -> toks[i] || ' ' || toks[i+1]))) AS n_bi_distinct
      FROM t2
    )
    SELECT ts.doc_id, ts.n_tokens,
           CAST(floor(1000000.0 * top_count / n_tokens) AS BIGINT)
             AS top_token_frac_e6,
           CAST(floor(1000000.0 * (n_tokens - n_distinct) / n_tokens) AS BIGINT)
             AS dup_token_frac_e6,
           CAST(floor(1000000.0 * (n_bi - n_bi_distinct) / n_bi) AS BIGINT)
             AS dup_bigram_frac_e6,
           (CAST(floor(1000000.0 * top_count / n_tokens) AS BIGINT)
              > {_REP_TOP_TOKEN_MAX_E6}
            OR CAST(floor(1000000.0 * (n_bi - n_bi_distinct) / n_bi) AS BIGINT)
              > {_REP_DUP_BIGRAM_MAX_E6}) AS repetitive
    FROM ts JOIN bs ON ts.doc_id = bs.doc_id
"""

ORACLES["samp_temperature_mixture"] = """
    WITH per_lang AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
    ), sized AS (
      SELECT lang, n_docs,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE) * 1e12)) AS BIGINT) AS s
      FROM per_lang
    ), tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
             CAST(sum(s) AS BIGINT) AS s_total
      FROM sized
    )
    SELECT lang, n_docs,
           CAST(floor(1000000.0 * n_docs / n_total) AS BIGINT) AS raw_share_e6,
           CAST(floor(1000000.0 * s / s_total) AS BIGINT) AS temp_share_e6,
           CAST(floor(1000000.0 * s / s_total) AS BIGINT)
             > CAST(floor(1000000.0 * n_docs / n_total) AS BIGINT) AS upsampled
    FROM sized, tot
"""

ORACLES["samp_stratified_exact"] = f"""
WITH counts AS (SELECT lang, count(*) AS n_s FROM documents GROUP BY lang),
tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS N,
               CAST(sum(n_s) // {_STRAT_DENOM} AS BIGINT) AS k
        FROM counts),
q AS (
  SELECT c.lang, c.n_s,
         (t.k * c.n_s) // t.N AS base,
         (t.k * c.n_s) % t.N AS rem,
         t.k AS k
  FROM counts c CROSS JOIN tot t
),
sb AS (SELECT CAST(sum(base) AS BIGINT) AS sum_base FROM q),
ranked AS (
  SELECT a.lang, a.base, a.k,
         (SELECT count(*) FROM q b
          WHERE b.rem > a.rem OR (b.rem = a.rem AND b.lang < a.lang)) AS rn
  FROM q a
),
quotas AS (
  SELECT r.lang,
         r.base + CASE WHEN r.rn < r.k - s.sum_base THEN 1 ELSE 0 END AS quota
  FROM ranked r CROSS JOIN sb s
),
ordered AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('strat|' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
SELECT o.doc_id, o.lang
FROM ordered o JOIN quotas u ON u.lang = o.lang
WHERE o.rk <= u.quota
ORDER BY o.lang, o.doc_id
"""

ORACLES["inc_dedup_merge"] = f"""
    WITH fps AS (
      SELECT doc_id,
             md5(array_to_string(string_split(text, ' ')[1:{_INC_FP_TOKENS}], ' ')) AS fp
      FROM documents
    ), corpus AS (
      SELECT DISTINCT fp FROM fps WHERE doc_id % 10 < 2
    ), batch AS (
      SELECT doc_id, fp,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
      FROM fps WHERE doc_id % 10 >= 2
    )
    SELECT b.doc_id, b.fp,
           CASE WHEN c.fp IS NOT NULL THEN 'dup_corpus'
                WHEN b.rk > 1 THEN 'dup_batch'
                ELSE 'accepted' END AS status
    FROM batch b LEFT JOIN corpus c ON b.fp = c.fp
"""

ORACLES["samp_weighted_bernoulli"] = f"""
WITH sized AS (
  SELECT doc_id,
         CAST(len({T.tokens_sql('text')}) % 4 + 1 AS BIGINT) AS weight
  FROM documents
)
SELECT doc_id, weight
FROM sized
WHERE CAST(concat('0x', substr(md5('wb|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        % {_WB_DENOM} < weight
ORDER BY doc_id
"""
