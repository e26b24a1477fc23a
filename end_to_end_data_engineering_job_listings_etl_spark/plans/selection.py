"""Data-selection & evaluation operators for the training-data layer:
DSIR importance resampling, the Gopher quality-rule battery, an ANN
recall@k evaluation harness, and windowed energy over binary audio
payloads.

All four are beyond-reference capabilities (the reference ETL has no
corpus-selection stage at all); they complete the curation story the
other plan modules tell:

- ``samp_dsir_select`` — Data Selection via Importance Resampling
  (Xie et al. 2023, public paper): hashed n-gram bucket features, a
  target-vs-raw bucket distribution ratio, per-document importance
  weights, deterministic top-k resample. The published method scores
  docs with sums of per-bucket log-likelihood ratios and a Gumbel
  resample; for cross-engine bit-stability we use an order-preserving
  integer surrogate (e9/e6 fixed-point bucket-probability ratios,
  integer division only) and a (weight desc, doc_id) top-k — the
  pipeline SHAPE (feature hashing, two distributions, weighting,
  resampling) is the operator under test, and every arithmetic step
  is exact BIGINT math the DuckDB oracle reproduces verbatim.
- ``text_gopher_rules`` — the Gopher/MassiveText quality heuristics
  (Rae et al. 2021 §A.1.1): word count, mean word length,
  symbol-to-word ratio, bullet/ellipsis line fractions, alphabetic
  word fraction, required-stopword presence. Every ratio threshold is
  evaluated by integer cross-multiplication (e.g. ``10*n_sym <=
  n_words`` for the 0.1 bound), so no float ever reaches a decision
  or an output column. Deterministic markup dirt (bullet walls,
  trailing ellipses, symbol runs keyed on doc_id) is appended in-plan
  so the line-based rules genuinely fire on the single-line fixture —
  the ``text_url_dedup`` precedent.
- ``ev_ann_recall`` — the "measure, don't guess" gate for the ANN
  family: per probe vector, recall@k of the IVF(nprobe=2) candidate
  ranking against the exact brute-force ranking, plus the candidate
  count actually scanned. The oracle recomputes the ENTIRE
  approximate path in SQL (centroid argmax assignment, probe-cell
  choice, cell-bounded ranking), so this is a strict hash-gated check
  of the approximate engine itself — stronger than the rows-only
  acceptance of ``sim_ivf_topk`` and complementary to the
  nprobe=all ``_checked`` twins.
- ``mm_audio_energy_checked`` — frame-windowed energy/peak over the
  opaque audio ``binary`` column through the real Arrow-batched
  ``mapInPandas`` path (numpy per batch, bytes never reach the
  driver), value-checked: the oracle replays the byte arithmetic with
  ``ascii(substr(...))`` on the equivalent varchar payload.

Scale shapes: DSIR is two narrow corpus scans + one 128-row broadcast
(the bucket-weight table) + one group-by on doc_id; at 100 TB the
weight table would come from a sample or a previous epoch, making the
selection pass a single scan. Gopher rules are a pure narrow map.
The recall harness scans the corpus twice (candidates + ground truth)
— an EVAL operator, run on samples, not corpora. Audio windowing is a
narrow Arrow map emitting 8 rows per payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table_dist
from ..functions import text as T
from ..functions.vectors import cosine, lit_vector
from ..operators import similarity as S
from .corpus import _cos, _query_vec, _query_vecs

# ---------------------------------------------------------------------------
# samp_dsir_select — DSIR hashed n-gram importance resampling
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 128
_DSIR_TOPK = 100
_DSIR_TARGET_LANG = "en"  # target domain: the corpus' English slice


def _gram_bucket(gram: F.Column) -> F.Column:
    """md5-based feature-hash bucket in [0, _DSIR_BUCKETS) — the same
    bit-stable idiom as samp_mixture's md5 percent hash."""
    return F.expr(
        f"cast(conv(substring(md5(gram), 1, 8), 16, 10) as bigint)"
        f" % {_DSIR_BUCKETS}"
    )


def _dsir_gram_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, bucket): one row per distinct uni/bigram per doc
    (hashed binary features — the DSIR variant over hashed n-grams):
    the distinct tokens and the distinct 2-token windows of one staged
    token array."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text", "lang"))
    staged = docs.select(
        "doc_id", "lang", T.tokens(F.lower(F.col("text"))).alias("__toks")
    )
    grams = F.concat(
        F.array_distinct(F.col("__toks")),
        F.array_distinct(T.token_windows(F.col("__toks"), 2)),
    )
    return staged.select(
        "doc_id", "lang", F.explode(grams).alias("gram")
    ).select("doc_id", "lang", _gram_bucket(F.col("gram")).alias("bucket"))


def samp_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 documents by hashed-n-gram importance weight toward the
    English target slice. Bucket weights: w_e6 = (p_target_e9 * 1e6)
    div p_raw_e9 - 1e6 with +1/+B Laplace smoothing — the centered
    probability ratio (x - 1, the linearization of DSIR's log x), so
    a target-neutral bucket contributes ~0 and scores measure
    target-likeness rather than document length. Exact BIGINT integer
    division at every step (`div`/`//` agree across engines: every
    division has all-positive operands; the centering is a plain
    subtraction). Doc score = sum of its grams' bucket weights;
    selection = top-k on (score desc, doc_id), a total order, so the
    selected SET is engine-independent."""
    grams = _dsir_gram_buckets(spark, sf_dir)
    bucket_counts = grams.groupBy("bucket").agg(
        F.count("*").alias("n_raw"),
        F.sum(
            F.when(F.col("lang") == _DSIR_TARGET_LANG, F.lit(1)).otherwise(F.lit(0))
        ).alias("n_tgt"),
    )
    # totals' subtree shares bucket_counts' shuffle stage under AQE,
    # so the gram explode runs twice (histogram pass + scoring join),
    # not three times; collecting the 128-row histogram to the driver
    # as a local relation measured no faster.
    totals = bucket_counts.agg(
        F.sum("n_raw").alias("raw_tot"), F.sum("n_tgt").alias("tgt_tot")
    )
    b = _DSIR_BUCKETS
    weights = (
        bucket_counts.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.expr(f"((n_tgt + 1) * 1000000000) div (tgt_tot + {b})").alias("p_t_e9"),
            F.expr(f"((n_raw + 1) * 1000000000) div (raw_tot + {b})").alias("p_r_e9"),
        )
        .select(
            "bucket",
            # centered ratio (x - 1 ~ log x near 1): a bucket equally
            # likely under target and raw contributes ~0, so scores
            # carry target-likeness, not document length
            F.expr("(p_t_e9 * 1000000) div p_r_e9 - 1000000").alias("w_e6"),
        )
    )
    scored = (
        grams.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_feats"), F.sum("w_e6").alias("score_e6"))
    )
    return scored.orderBy(F.desc("score_e6"), F.asc("doc_id")).limit(_DSIR_TOPK)


# ---------------------------------------------------------------------------
# text_gopher_rules — the Gopher quality-rule battery
# ---------------------------------------------------------------------------

# Deterministic markup dirt so the line/symbol rules fire on the
# single-line fixture; identical literals in the SQL oracle.
_G_BULLET_LINE = "- filler item"
_G_BULLET_REPS = 19  # 19 of 20 lines bulleted -> fails the 0.9 bound
_G_ELLIPSIS_LINE = "and so it goes..."
_G_ELLIPSIS_REPS = 2  # 2 of 3 lines trailing off -> fails the 0.3 bound
_G_SYMBOL_RUN = " ##"
_G_SYMBOL_REPS = 30  # 60 '#' chars -> fails the 0.1 symbol-word bound

_G_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _gopher_rendered() -> F.Column:
    return F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.repeat(F.lit("\n" + _G_BULLET_LINE), _G_BULLET_REPS),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.repeat(F.lit("\n" + _G_ELLIPSIS_LINE), _G_ELLIPSIS_REPS),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 17 == 0,
            F.repeat(F.lit(_G_SYMBOL_RUN), _G_SYMBOL_REPS),
        ).otherwise(F.lit("")),
    )


def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher rule flags + keep decision, all-integer.
    Thresholds (Rae et al. 2021): 50 <= words <= 100000; mean word
    length in [3, 10]; symbol-to-word ratio ('#' chars + '...' runs)
    <= 0.1; bullet-starting lines <= 0.9; ellipsis-ending lines
    <= 0.3; >= 80% of words contain an alphabetic char; >= 2 of 8
    required stopwords present. One narrow map, no shuffle."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    staged = docs.select("doc_id", _gopher_rendered().alias("r"))
    toks = T.tokens(F.col("r"))
    lines = F.split(F.col("r"), "\n")
    staged2 = staged.select(
        "doc_id",
        F.col("r"),
        toks.alias("__toks"),
        lines.alias("__lines"),
    )
    tk = F.col("__toks")
    ln = F.col("__lines")
    n_words = F.size(tk).cast("long")
    sum_chars = F.aggregate(
        tk, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    n_lines = F.size(ln).cast("long")
    n_bullet = F.size(
        F.filter(
            ln,
            lambda l: F.startswith(F.ltrim(l), F.lit("- "))
            | F.startswith(F.ltrim(l), F.lit("* ")),
        )
    ).cast("long")
    n_ellip = F.size(
        F.filter(ln, lambda l: F.endswith(F.rtrim(l), F.lit("...")))
    ).cast("long")
    n_hash = (F.length("r") - F.length(F.replace(F.col("r"), F.lit("#"), F.lit("")))).cast("long")
    n_dots = (
        (F.length("r") - F.length(F.replace(F.col("r"), F.lit("..."), F.lit("")))) / 3
    ).cast("long")
    n_sym = (n_hash + n_dots).alias("n_sym")
    n_alpha = F.size(F.filter(tk, lambda t: t.rlike("[A-Za-z]"))).cast("long")
    def _has_word(w: str) -> F.Column:
        # factory closure: a default-arg lambda would present a 2-arg
        # signature to Spark's higher-order-function binder
        return F.when(
            F.exists(tk, lambda t: F.lower(t) == F.lit(w)), F.lit(1)
        ).otherwise(F.lit(0))

    n_stop = None
    for w in _G_STOPWORDS:
        hit = _has_word(w)
        n_stop = hit if n_stop is None else n_stop + hit
    n_stop = n_stop.cast("long")

    m = staged2.select(
        "doc_id",
        n_words.alias("n_words"),
        sum_chars.alias("sum_chars"),
        n_lines.alias("n_lines"),
        n_bullet.alias("n_bullet"),
        n_ellip.alias("n_ellip"),
        n_sym,
        n_alpha.alias("n_alpha"),
        n_stop.alias("n_stop"),
    )
    p_words = (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
    p_mwl = (3 * F.col("n_words") <= F.col("sum_chars")) & (
        F.col("sum_chars") <= 10 * F.col("n_words")
    )
    p_sym = 10 * F.col("n_sym") <= F.col("n_words")
    p_bullet = 10 * F.col("n_bullet") <= 9 * F.col("n_lines")
    p_ellip = 10 * F.col("n_ellip") <= 3 * F.col("n_lines")
    p_alpha = 5 * F.col("n_alpha") >= 4 * F.col("n_words")
    p_stop = F.col("n_stop") >= 2
    return m.select(
        "doc_id",
        "n_words",
        "n_lines",
        "n_sym",
        "n_stop",
        p_words.alias("pass_word_count"),
        p_mwl.alias("pass_mean_word_len"),
        p_sym.alias("pass_symbol_ratio"),
        p_bullet.alias("pass_bullet_lines"),
        p_ellip.alias("pass_ellipsis_lines"),
        p_alpha.alias("pass_alpha_words"),
        p_stop.alias("pass_stopwords"),
        (
            p_words & p_mwl & p_sym & p_bullet & p_ellip & p_alpha & p_stop
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# ev_ann_recall — recall@k of the approximate IVF path vs exact top-k
# ---------------------------------------------------------------------------

_ANN_CENTROID_IDS = (0, 7, 13, 42)  # the sim_ivf_* centroid seeds
_ANN_PROBE_IDS = (1, 2, 3, 4, 5)
_ANN_K = 10
_ANN_NPROBE = 2


def ev_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe recall@10 of IVF(nprobe=2) against brute force, plus
    the candidate count scanned. Centroid assignment and probe-cell
    choice use the same lexicographic argmax rule as ivf_assign
    (max cosine, ties -> higher centroid id), reproduced in SQL as
    row_number OVER (ORDER BY sim DESC, cid DESC); rankings use
    round(cos, 6) with vec_id tie-break — total orders, so the
    approximate candidate SET itself is under the hash gate."""
    emb = load_table_dist(spark, sf_dir, "embeddings", cols=("vec_id", "embedding"))
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    seed_vecs = _query_vecs(spark, sf_dir, _ANN_CENTROID_IDS)
    centroids = [(i, seed_vecs[vid]) for i, vid in enumerate(_ANN_CENTROID_IDS)]
    assigned = S.ivf_assign(base, "v", "vec_id", centroids, keep=("v",))
    probes = base.filter(F.col("vec_id").isin(*_ANN_PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    cells = F.array(
        *[
            F.struct(
                cosine(F.col("pv"), lit_vector(cv)).alias("sim"),
                F.lit(cid).alias("cid"),
            )
            for cid, cv in centroids
        ]
    )
    # descending lexicographic (sim desc, cid desc) == SQL row_number order
    probe_cells = probes.select(
        "probe_id",
        "pv",
        F.explode(F.slice(F.reverse(F.array_sort(cells)), 1, _ANN_NPROBE)).alias("c"),
    ).select("probe_id", "pv", F.col("c.cid").alias("centroid_id"))

    cand = assigned.join(F.broadcast(probe_cells), "centroid_id").select(
        "probe_id",
        "vec_id",
        F.round(cosine(F.col("v"), F.col("pv")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    approx = (
        cand.select("probe_id", "vec_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _ANN_K)
        .select("probe_id", "vec_id")
    )
    n_cand = cand.groupBy("probe_id").agg(F.count("*").alias("n_cand"))

    exact_scored = base.crossJoin(F.broadcast(probes)).select(
        "probe_id",
        "vec_id",
        F.round(cosine(F.col("v"), F.col("pv")), 6).alias("cos_sim"),
    )
    exact = (
        exact_scored.select(
            "probe_id", "vec_id", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") <= _ANN_K)
        .select("probe_id", "vec_id")
    )
    hits = (
        approx.join(exact, ["probe_id", "vec_id"])
        .groupBy("probe_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        n_cand.join(hits, "probe_id", "left")
        .select(
            "probe_id",
            "n_cand",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            (F.coalesce(F.col("n_hit"), F.lit(0)) * (1_000_000 // _ANN_K))
            .cast("long")
            .alias("recall_e6"),
        )
    )


# ---------------------------------------------------------------------------
# mm_audio_energy_checked — windowed energy over binary audio payloads
# ---------------------------------------------------------------------------


def mm_audio_energy_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-windowed energy/peak over the audio binary column through
    the Arrow-batched mapInPandas codec-stub path (numpy reshape +
    integer sums per batch); the oracle replays the exact byte math
    with ascii(substr(...)) over the equivalent varchar payload."""
    from ..multimodal.binary_ops import audio_windows
    from .media_stream import media_from_documents

    return audio_windows(media_from_documents(spark, sf_dir))


# ---------------------------------------------------------------------------
# text_c4_filters — the C4 line/page cleaning battery
# ---------------------------------------------------------------------------

# Deterministic dirt so every rule fires on the single-line fixture;
# identical literals in the SQL oracle. Each planted line isolates ONE
# rule: it passes every other line rule, so a drop is attributable.
_C4_GOOD_LINE = "It was the best of times for data curation systems."
_C4_GOOD_REPS = 3  # appended for doc_id % 4 != 0 -> those docs CAN reach >= 3 kept
_C4_SHORT_LINE = "ok."  # terminal punct but 1 word -> word-count rule
_C4_NOPUNCT_LINE = "read more now maybe later"  # 5 words, no terminal punct
_C4_JS_LINE = "Please enable javascript support to view this content."
_C4_LOREM_LINE = "Lorem ipsum dolor sit amet consectetur."
_C4_BRACE_LINE = "if (x) { return y; }"
_C4_BADWORD_LINE = "This page sadly mentions badword1 in passing."

_C4_MIN_LINE_WORDS = 5
_C4_MIN_SENTENCES = 3
_C4_BADWORDS = ("badword1", "badword2", "badword3")
_C4_TERMINALS = (".", "!", "?", '"')


def _c4_rendered() -> F.Column:
    def _planted(mod: int, line: str, reps: int = 1) -> F.Column:
        return F.when(
            F.col("doc_id") % mod == 0, F.repeat(F.lit("\n" + line), reps)
        ).otherwise(F.lit(""))

    return F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 4 != 0,
            F.repeat(F.lit("\n" + _C4_GOOD_LINE), _C4_GOOD_REPS),
        ).otherwise(F.lit("")),
        F.lit("\n" + _C4_SHORT_LINE),
        F.lit("\n" + _C4_NOPUNCT_LINE),
        _planted(7, _C4_JS_LINE),
        _planted(23, _C4_LOREM_LINE),
        _planted(19, _C4_BRACE_LINE),
        _planted(29, _C4_BADWORD_LINE),
    )


def text_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning (Raffel et al. 2020 §2.2) as one narrow map — the
    third published filter battery alongside CCNet buckets
    (text_quality_buckets) and the Gopher rules (text_gopher_rules).
    Line level: keep a line iff it has >= 5 words, ends in terminal
    punctuation, and does not mention javascript. Page level: drop a
    page with < 3 retained lines (the "3 sentences" rule), any
    bad-word, 'lorem ipsum', or a curly brace. Output carries the
    retained-text md5 so the CLEANED TEXT itself — not just the
    counts — sits under the hash gate. No shuffle anywhere."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    staged = docs.select("doc_id", _c4_rendered().alias("r"))

    def _line_keep(l: F.Column) -> F.Column:
        words = F.filter(F.split(F.trim(l), r"\s+"), lambda t: t != "")
        return (
            (F.size(words) >= _C4_MIN_LINE_WORDS)
            & F.substring(F.rtrim(l), -1, 1).isin(*_C4_TERMINALS)
            & ~F.contains(F.lower(l), F.lit("javascript"))
        )

    lines = F.split(F.col("r"), "\n")
    kept = F.filter(lines, _line_keep)
    has_badword = None
    for w in _C4_BADWORDS:
        hit = F.contains(F.lower(F.col("r")), F.lit(w))
        has_badword = hit if has_badword is None else (has_badword | hit)
    m = staged.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        F.md5(F.array_join(kept, "\n")).alias("kept_md5"),
        F.contains(F.lower(F.col("r")), F.lit("lorem ipsum")).alias("has_lorem"),
        F.contains(F.col("r"), F.lit("{")).alias("has_brace"),
        has_badword.alias("has_badword"),
    )
    return m.select(
        "*",
        (
            (F.col("n_kept") >= _C4_MIN_SENTENCES)
            & ~F.col("has_lorem")
            & ~F.col("has_brace")
            & ~F.col("has_badword")
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# rag_mmr_rerank — maximal marginal relevance diversified rerank
# ---------------------------------------------------------------------------

_MMR_POOL = 20
_MMR_K = 5
_MMR_LAMBDA_TENTHS = 7  # λ = 0.7: mmr = 7·rel_e6 − 3·max_sim_e6 (×10)


def rag_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR (Carbonell & Goldstein 1998) over the cosine top-20 pool
    for query vec_id 0: greedily pick k=5 candidates maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-selected — the
    diversification stage every production retrieval stack runs after
    the ANN pass. Candidate generation (the O(N·d) part) is one
    engine scan + TakeOrdered; the greedy itself runs on the head
    node over the BOUNDED pool (O(k·pool) = 100 integer ops), with
    pairwise cosines replaying the engine fold bit for bit — the
    sim_ivfpq_topk probe-selection precedent. All comparisons are
    BIGINT e6 fixed-point with (score desc, vec_id) tie-break, a
    total order, so the selected set AND ranks are engine-independent;
    the oracle replays the greedy as k−1 unrolled SQL steps. Output
    rel_e6 values come from the engine scan, not the driver."""
    import math

    emb = load_table_dist(spark, sf_dir, "embeddings", cols=("vec_id", "embedding"))
    q = _query_vec(spark, sf_dir, 0)
    scored = emb.filter(F.col("vec_id") != 0).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.floor(
            cosine(F.col("embedding").cast("array<double>"), lit_vector(q))
            * 1_000_000
        )
        .cast("long")
        .alias("rel_e6"),
    )
    pool = scored.orderBy(F.desc("rel_e6"), F.asc("vec_id")).limit(_MMR_POOL)
    rows = pool.collect()  # bounded: _MMR_POOL rows

    def fold_dot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def sim_e6(a: list[float], b: list[float]) -> int:
        denom = math.sqrt(fold_dot(a, a)) * math.sqrt(fold_dot(b, b))
        return math.floor(fold_dot(a, b) / denom * 1_000_000)

    vecs = {r["vec_id"]: [float(x) for x in r["v"]] for r in rows}
    rel = {r["vec_id"]: r["rel_e6"] for r in rows}
    lam = _MMR_LAMBDA_TENTHS
    selected: list[int] = []
    while len(selected) < min(_MMR_K, len(rows)):
        best = None
        for vid, v in vecs.items():
            if vid in selected:
                continue
            ms = max((sim_e6(v, vecs[s]) for s in selected), default=0)
            key = (-(lam * rel[vid] - (10 - lam) * ms), vid)
            if best is None or key < best[0]:
                best = (key, vid)
        selected.append(best[1])

    rank_map = F.create_map(
        *[
            x
            for i, vid in enumerate(selected, start=1)
            for x in (F.lit(vid), F.lit(i))
        ]
    )
    return (
        scored.filter(F.col("vec_id").isin(selected))
        .select(
            rank_map[F.col("vec_id")].cast("int").alias("mmr_rank"),
            "vec_id",
            "rel_e6",
        )
        .orderBy("mmr_rank")
    )


def _mmr_oracle() -> str:
    lam, k = _MMR_LAMBDA_TENTHS, _MMR_K
    steps, prev = [], "sel1"
    for t in range(2, k + 1):
        steps.append(
            f"""m{t} AS (
      SELECT c.vec_id, c.rel_e6, max(p.sim_e6) AS ms
      FROM pool c
      JOIN pairs p ON p.a_id = c.vec_id
      JOIN {prev} s ON p.b_id = s.vec_id
      WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
      GROUP BY c.vec_id, c.rel_e6
    ), p{t} AS (
      SELECT vec_id, {t} AS mmr_rank FROM m{t}
      ORDER BY {lam} * rel_e6 - {10 - lam} * ms DESC, vec_id
      LIMIT 1
    ), sel{t} AS (
      SELECT * FROM {prev} UNION ALL SELECT * FROM p{t}
    )"""
        )
        prev = f"sel{t}"
    joined = ", ".join(steps)
    return f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), qv AS (
      SELECT v AS q FROM base WHERE vec_id = 0
    ), scored AS (
      SELECT b.vec_id, b.v,
             CAST(floor({_cos('b.v', 'qv.q')} * 1000000) AS BIGINT) AS rel_e6
      FROM base b CROSS JOIN qv WHERE b.vec_id != 0
    ), pool AS (
      SELECT * FROM scored ORDER BY rel_e6 DESC, vec_id LIMIT {_MMR_POOL}
    ), pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             CAST(floor({_cos('a.v', 'b.v')} * 1000000) AS BIGINT) AS sim_e6
      FROM pool a JOIN pool b ON a.vec_id != b.vec_id
    ), sel1 AS (
      SELECT vec_id, 1 AS mmr_rank FROM pool ORDER BY rel_e6 DESC, vec_id LIMIT 1
    ), {joined}
    SELECT s.mmr_rank, s.vec_id, c.rel_e6
    FROM {prev} s JOIN pool c USING (vec_id)
"""


# ---------------------------------------------------------------------------
# dd_soft_dedup_weights — down-weight duplicates instead of dropping
# ---------------------------------------------------------------------------


def dd_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication (the down-weighting alternative to hard
    dedup, per SlimPajama/SoftDeDup-style pipelines): every document
    keeps flowing, but its sampling weight is the reciprocal of its
    exact-duplicate multiplicity, so each CONTENT item contributes
    unit mass to the training mixture no matter how many copies the
    crawl found. Completes the dedup family's keep/drop/down-weight
    triad (dd_keep_best / dedup_exact / this). w_e6 = 1e6 div n_dup —
    exact integer division, engine-independent. ONE shuffle: a count
    window over the normalized fingerprint; no join, no second pass."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    fp = docs.select("doc_id", T.fingerprint("text").alias("fp"))
    w = Window.partitionBy("fp")
    return fp.select(
        "doc_id", F.count("*").over(w).cast("long").alias("n_dup")
    ).select(
        "doc_id",
        "n_dup",
        F.expr("cast(1000000 div n_dup as bigint)").alias("w_e6"),
    )


# ---------------------------------------------------------------------------
# text_boilerplate_lines — global line-frequency boilerplate removal
# ---------------------------------------------------------------------------

_BP_MAX_DF = 10  # a line in more than this many distinct docs is boilerplate
_BP_NEWSLETTER = "Subscribe to our newsletter today please."
_BP_COPYRIGHT = "All rights reserved by the publisher."


def text_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global boilerplate-line removal (the CCNet paragraph-
    dedup / RefinedWeb line-wise correction shape): a line appearing
    in more than _BP_MAX_DF distinct documents is boilerplate
    (nav bars, subscribe prompts, copyright footers) and is stripped
    from every document; per-doc output carries the line counts and
    the md5 of the CLEANED text so the reassembled document sits
    under the hash gate. The one dedup granularity the doc-level
    (fingerprint) and span-level (winnowing) passes don't cover.

    Scale shape: the document-frequency agg is the only corpus-wide
    shuffle (two-phase count-distinct); the frequent SET that crosses
    the threshold is tiny by construction (only genuinely repeated
    lines), so the removal join is a broadcast — per-doc reassembly
    is the second and last shuffle. At 100 TB you'd join on a line
    hash instead of the raw line to keep the exchange narrow; the
    fixture's lines are short enough that the raw-line key keeps the
    oracle trivially aligned. Planted dirt: half the docs get a
    newsletter line, a third a copyright line (both cross the
    threshold at every SF); document body lines stay unique (max 8
    exact copies at sf0.1 < threshold), so real text is never
    stripped on the fixtures."""
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    r = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 2 == 0, F.lit("\n" + _BP_NEWSLETTER)
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0, F.lit("\n" + _BP_COPYRIGHT)
        ).otherwise(F.lit("")),
    )
    lines = docs.select(
        "doc_id", F.posexplode(F.split(r, "\n")).alias("pos0", "line")
    ).select("doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "line")
    freq = (
        lines.groupBy("line")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") > _BP_MAX_DF)
        .select("line", F.lit(True).alias("__b"))
    )
    flagged = lines.join(F.broadcast(freq), "line", "left")
    kept = F.when(
        F.col("__b").isNull(), F.struct(F.col("pos"), F.col("line"))
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.when(F.col("__b"), 1).otherwise(0)).cast("long").alias("n_boiler"),
        F.md5(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(kept)), lambda s: s["line"]),
                "\n",
            )
        ).alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_DSIR_GRAMS_CTE = f"""
dtoks AS (
  SELECT doc_id, lang, {T.tokens_sql('lower(text)')} AS tk FROM documents
), dgrams AS (
  SELECT doc_id, lang, unnest(list_concat(
    list_distinct(tk),
    CASE WHEN len(tk) >= 2
         THEN list_distinct(list_transform(range(1, len(tk)),
                i -> tk[i] || ' ' || tk[i + 1]))
         ELSE [] END)) AS gram
  FROM dtoks
), dbuckets AS (
  SELECT doc_id, lang,
         CAST(concat('0x', substr(md5(gram), 1, 8)) AS BIGINT) % {_DSIR_BUCKETS}
           AS bucket
  FROM dgrams
)"""

ORACLES = {
    "samp_dsir_select": f"""
    WITH {_DSIR_GRAMS_CTE.strip()},
    bc AS (
      SELECT bucket,
             CAST(count(*) AS BIGINT) AS n_raw,
             CAST(count(*) FILTER (WHERE lang = '{_DSIR_TARGET_LANG}') AS BIGINT)
               AS n_tgt
      FROM dbuckets GROUP BY bucket
    ), tt AS (
      SELECT CAST(sum(n_raw) AS BIGINT) AS raw_tot,
             CAST(sum(n_tgt) AS BIGINT) AS tgt_tot
      FROM bc
    ), wts AS (
      SELECT bucket, (p_t_e9 * 1000000) // p_r_e9 - 1000000 AS w_e6 FROM (
        SELECT bucket,
               ((n_tgt + 1) * 1000000000) // (tgt_tot + {_DSIR_BUCKETS}) AS p_t_e9,
               ((n_raw + 1) * 1000000000) // (raw_tot + {_DSIR_BUCKETS}) AS p_r_e9
        FROM bc, tt)
    )
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_feats,
           CAST(sum(w.w_e6) AS BIGINT) AS score_e6
    FROM dbuckets b JOIN wts w USING (bucket)
    GROUP BY b.doc_id
    ORDER BY score_e6 DESC, b.doc_id
    LIMIT {_DSIR_TOPK}
""",
    "text_gopher_rules": f"""
    WITH rendered AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 11 = 0
                     THEN repeat(chr(10) || '{_G_BULLET_LINE}', {_G_BULLET_REPS})
                     ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN repeat(chr(10) || '{_G_ELLIPSIS_LINE}', {_G_ELLIPSIS_REPS})
                     ELSE '' END
             || CASE WHEN doc_id % 17 = 0
                     THEN repeat('{_G_SYMBOL_RUN}', {_G_SYMBOL_REPS})
                     ELSE '' END AS r
      FROM documents
    ), staged AS (
      SELECT doc_id, r,
             {T.tokens_sql('r')} AS tk,
             string_split(r, chr(10)) AS ln
      FROM rendered
    ), m AS (
      SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_words,
             CAST(COALESCE(list_sum(list_transform(tk, x -> length(x))), 0) AS BIGINT)
               AS sum_chars,
             CAST(len(ln) AS BIGINT) AS n_lines,
             CAST(len(list_filter(ln, l -> starts_with(ltrim(l), '- ')
                                        OR starts_with(ltrim(l), '* '))) AS BIGINT)
               AS n_bullet,
             CAST(len(list_filter(ln, l -> ends_with(rtrim(l), '...'))) AS BIGINT)
               AS n_ellip,
             CAST((length(r) - length(replace(r, '#', '')))
                  + (length(r) - length(replace(r, '...', ''))) // 3 AS BIGINT)
               AS n_sym,
             CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
               AS n_alpha,
             CAST({" + ".join(
                 f"(CASE WHEN len(list_filter(tk, x -> lower(x) = '{w}')) > 0"
                 f" THEN 1 ELSE 0 END)" for w in _G_STOPWORDS)} AS BIGINT)
               AS n_stop
      FROM staged
    )
    SELECT doc_id, n_words, n_lines, n_sym, n_stop,
           (n_words >= 50 AND n_words <= 100000) AS pass_word_count,
           (3 * n_words <= sum_chars AND sum_chars <= 10 * n_words)
             AS pass_mean_word_len,
           (10 * n_sym <= n_words) AS pass_symbol_ratio,
           (10 * n_bullet <= 9 * n_lines) AS pass_bullet_lines,
           (10 * n_ellip <= 3 * n_lines) AS pass_ellipsis_lines,
           (5 * n_alpha >= 4 * n_words) AS pass_alpha_words,
           (n_stop >= 2) AS pass_stopwords,
           ((n_words >= 50 AND n_words <= 100000)
            AND (3 * n_words <= sum_chars AND sum_chars <= 10 * n_words)
            AND (10 * n_sym <= n_words)
            AND (10 * n_bullet <= 9 * n_lines)
            AND (10 * n_ellip <= 3 * n_lines)
            AND (5 * n_alpha >= 4 * n_words)
            AND (n_stop >= 2)) AS keep
    FROM m
""",
    "ev_ann_recall": f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), cents AS (
      SELECT CASE vec_id {" ".join(
          f"WHEN {vid} THEN {i}" for i, vid in enumerate(_ANN_CENTROID_IDS))} END
               AS cid,
             v AS cv
      FROM base WHERE vec_id IN {_ANN_CENTROID_IDS}
    ), assign AS (
      SELECT vec_id, v, centroid_id FROM (
        SELECT b.vec_id, b.v, c.cid AS centroid_id,
               row_number() OVER (PARTITION BY b.vec_id
                                  ORDER BY {_cos('b.v', 'c.cv')} DESC, c.cid DESC)
                 AS rn
        FROM base b CROSS JOIN cents c)
      WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS probe_id, v AS pv FROM base
      WHERE vec_id IN {_ANN_PROBE_IDS}
    ), pcells AS (
      SELECT probe_id, pv, centroid_id FROM (
        SELECT p.probe_id, p.pv, c.cid AS centroid_id,
               row_number() OVER (PARTITION BY p.probe_id
                                  ORDER BY {_cos('p.pv', 'c.cv')} DESC, c.cid DESC)
                 AS rn
        FROM probes p CROSS JOIN cents c)
      WHERE rn <= {_ANN_NPROBE}
    ), cand AS (
      SELECT pc.probe_id, a.vec_id,
             round({_cos('a.v', 'pc.pv')}, 6) AS cos_sim
      FROM assign a JOIN pcells pc USING (centroid_id)
    ), approx AS (
      SELECT probe_id, vec_id FROM (
        SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY cos_sim DESC, vec_id) AS rk
        FROM cand)
      WHERE rk <= {_ANN_K}
    ), ncand AS (
      SELECT probe_id, CAST(count(*) AS BIGINT) AS n_cand
      FROM cand GROUP BY probe_id
    ), exact AS (
      SELECT probe_id, vec_id FROM (
        SELECT p.probe_id, b.vec_id,
               row_number() OVER (PARTITION BY p.probe_id
                                  ORDER BY round({_cos('b.v', 'p.pv')}, 6) DESC,
                                           b.vec_id) AS rk
        FROM base b CROSS JOIN probes p)
      WHERE rk <= {_ANN_K}
    ), hits AS (
      SELECT probe_id, CAST(count(*) AS BIGINT) AS n_hit
      FROM approx JOIN exact USING (probe_id, vec_id)
      GROUP BY probe_id
    )
    SELECT n.probe_id, n.n_cand,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           CAST(COALESCE(h.n_hit, 0) * {1_000_000 // _ANN_K} AS BIGINT)
             AS recall_e6
    FROM ncand n LEFT JOIN hits h USING (probe_id)
""",
    "mm_audio_energy_checked": """
    WITH audio AS (
      SELECT doc_id AS media_id, repeat(md5(text), 4) AS s
      FROM documents WHERE doc_id % 3 = 1
    ), wins AS (
      SELECT media_id, s, unnest(range(8)) AS w
      FROM audio
    )
    SELECT media_id,
           CAST(w AS INTEGER) AS win_idx,
           CAST(list_sum(list_transform(range(1, 17),
                 i -> (ascii(substr(s, CAST(w * 16 AS INTEGER) + i, 1)) - 80)
                    * (ascii(substr(s, CAST(w * 16 AS INTEGER) + i, 1)) - 80)))
             AS BIGINT) AS energy,
           CAST(list_max(list_transform(range(1, 17),
                 i -> abs(ascii(substr(s, CAST(w * 16 AS INTEGER) + i, 1)) - 80)))
             AS INTEGER) AS peak
    FROM wins
""",
    "text_c4_filters": f"""
    WITH rendered AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 4 != 0
                     THEN repeat(chr(10) || '{_C4_GOOD_LINE}', {_C4_GOOD_REPS})
                     ELSE '' END
             || chr(10) || '{_C4_SHORT_LINE}'
             || chr(10) || '{_C4_NOPUNCT_LINE}'
             || CASE WHEN doc_id % 7 = 0
                     THEN chr(10) || '{_C4_JS_LINE}' ELSE '' END
             || CASE WHEN doc_id % 23 = 0
                     THEN chr(10) || '{_C4_LOREM_LINE}' ELSE '' END
             || CASE WHEN doc_id % 19 = 0
                     THEN chr(10) || '{_C4_BRACE_LINE.replace("'", "''")}'
                     ELSE '' END
             || CASE WHEN doc_id % 29 = 0
                     THEN chr(10) || '{_C4_BADWORD_LINE}' ELSE '' END AS r
      FROM documents
    ), staged AS (
      SELECT doc_id, r,
             string_split(r, chr(10)) AS ln,
             list_filter(string_split(r, chr(10)),
               l -> len({T.tokens_sql('l')}) >= {_C4_MIN_LINE_WORDS}
                    AND right(rtrim(l), 1) IN ('.', '!', '?', '"')
                    AND NOT contains(lower(l), 'javascript')) AS kept
      FROM rendered
    ), m AS (
      SELECT doc_id,
             CAST(len(ln) AS BIGINT) AS n_lines,
             CAST(len(kept) AS BIGINT) AS n_kept,
             md5(coalesce(array_to_string(kept, chr(10)), '')) AS kept_md5,
             contains(lower(r), 'lorem ipsum') AS has_lorem,
             contains(r, '{{') AS has_brace,
             ({" OR ".join(f"contains(lower(r), '{w}')" for w in _C4_BADWORDS)})
               AS has_badword
      FROM staged
    )
    SELECT doc_id, n_lines, n_kept, kept_md5, has_lorem, has_brace, has_badword,
           (n_kept >= {_C4_MIN_SENTENCES}
            AND NOT has_lorem AND NOT has_brace AND NOT has_badword) AS keep
    FROM m
""",
    "rag_mmr_rerank": _mmr_oracle(),
    "dd_soft_dedup_weights": """
    WITH fp AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
    ), counted AS (
      SELECT doc_id,
             CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS n_dup
      FROM fp
    )
    SELECT doc_id, n_dup, 1000000 // n_dup AS w_e6 FROM counted
""",
    "text_boilerplate_lines": f"""
    WITH rendered AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 2 = 0
                     THEN chr(10) || '{_BP_NEWSLETTER}' ELSE '' END
             || CASE WHEN doc_id % 3 = 0
                     THEN chr(10) || '{_BP_COPYRIGHT}' ELSE '' END AS r
      FROM documents
    ), lined AS (
      SELECT doc_id, ln, unnest(range(1, len(ln) + 1)) AS i
      FROM (SELECT doc_id, string_split(r, chr(10)) AS ln FROM rendered)
    ), lines AS (
      SELECT doc_id, CAST(i AS INTEGER) AS pos,
             ln[CAST(i AS INTEGER)] AS line
      FROM lined
    ), freq AS (
      SELECT line FROM (
        SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY line)
      WHERE df > {_BP_MAX_DF}
    ), flagged AS (
      SELECT l.doc_id, l.pos, l.line, f.line IS NOT NULL AS boiler
      FROM lines l LEFT JOIN freq f ON l.line = f.line
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
           md5(coalesce(
             string_agg(CASE WHEN NOT boiler THEN line END, chr(10)
                        ORDER BY pos), '')) AS clean_md5
    FROM flagged
    GROUP BY doc_id
""",
}

QUERIES = {
    "samp_dsir_select": samp_dsir_select,
    "text_gopher_rules": text_gopher_rules,
    "ev_ann_recall": ev_ann_recall,
    "mm_audio_energy_checked": mm_audio_energy_checked,
    "text_c4_filters": text_c4_filters,
    "rag_mmr_rerank": rag_mmr_rerank,
    "dd_soft_dedup_weights": dd_soft_dedup_weights,
    "text_boilerplate_lines": text_boilerplate_lines,
}
