"""Sketch- and hash-structure operators: count-min frequency sketch,
KMV distinct sketch, Bloom-filter join pruning, salted skew joins,
content-defined chunking, and integer-exact BM25 ranking.

These extend the engine's approximate/scale layer (HLL union, MinHash,
SimHash — operators/dedup.py, plans/profiling.py) with the remaining
classic streaming/sketching structures a 100 TB pipeline leans on:

- A **count-min sketch** replaces an exact per-key frequency shuffle
  with a fixed D×W grid of counters (here 4×64) that is mergeable
  across partitions — the sketch build is one map-side-combining
  aggregation whose output size is INDEPENDENT of the data size, and
  probing is a broadcast join against that tiny grid.
- A **Bloom filter** built from a dimension's join keys prunes a fact
  table BEFORE its shuffle: the bit set is a few KB broadcast to every
  scan task, and only surviving rows pay shuffle+join cost. (Spark's
  own runtime bloom-filter join does this opportunistically; this
  operator makes the structure explicit and oracle-checkable.)
- A **KMV sketch** (k minimum hash values) estimates distinct counts
  and — unlike a plain distinct — MERGES: the union of two sketches'
  k-smallest values is the sketch of the union, so per-partition
  sketches roll up with k·P values instead of a global shuffle.
- A **salted join** spreads one hot join key over B reducers — the
  standard fix when AQE skew splitting can't help (e.g. the skew is in
  a single key of a shuffle join both of whose sides are large).
- **Content-defined chunking** (rolling-hash boundaries, the Rabin/CDC
  idea used by dedup-friendly RAG chunkers) picks chunk boundaries
  from the CONTENT, so an edit near the start of a document re-aligns
  within a few tokens instead of shifting every fixed-size chunk.
- **BM25** is the lexical-retrieval baseline; the scoring here is
  integer-rational (the repo's e-scaled idiom, see plans/mlx.py's
  integer idf) so both engines produce bit-identical scores.

Determinism: md5 is the only hash (bit-stable across Spark and
DuckDB); all scores are integer-rational (``div``), never floats.

Reference scope note: the reference ETL (dags/spark_etl_script.py) has
no sketching layer — this module is part of the mandated
beyond-reference training-data surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, load_table_dist
from ..functions.text import tokens, tokens_sql

# --- shared md5-hash conventions (bit-identical in Spark and DuckDB) ---


def _h32(sql_expr: str) -> str:
    """Spark SQL expr: first 8 md5 hex digits of ``sql_expr`` as a
    BIGINT in [0, 2^32).

    NULL-key convention: ``sql_expr`` must never evaluate to NULL —
    Spark's ``concat`` propagates NULL while DuckDB's skips it, so a
    NULL input would silently diverge from the oracle. Call sites wrap
    every nullable leaf column in :func:`_nn` / :func:`_nn_duck`
    (coalesce to ``chr(1)``) so both engines hash the same bytes.
    """
    return f"cast(conv(substring(md5({sql_expr}), 1, 8), 16, 10) as bigint)"


def _h32_duck(sql_expr: str) -> str:
    """DuckDB translation of :func:`_h32`. Same non-NULL input
    convention — see :func:`_h32`."""
    return f"CAST(concat('0x', substr(md5({sql_expr}), 1, 8)) AS BIGINT)"


def _nn(col_sql: str) -> str:
    """NULL-normalized string form of a hash-key column (Spark SQL):
    NULL → ``chr(1)`` (a byte that can't appear in the fixtures), so
    concat never NULL-propagates and both engines hash identically.
    Identity for non-NULL values — existing hash values are unchanged."""
    return f"coalesce(cast(({col_sql}) as string), chr(1))"


def _nn_duck(col_sql: str) -> str:
    """DuckDB twin of :func:`_nn`."""
    return f"coalesce(CAST(({col_sql}) AS VARCHAR), chr(1))"


# ---------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 64  # buckets per row


def agg_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over ``events.event_type`` with the exact
    counts and the sketch's one-sided error surfaced side by side.

    Build: every row increments one bucket in each of D=4 hash rows —
    expressed as an explode to (row, bucket) cells and ONE
    map-side-combining aggregation whose result has at most D×W = 256
    cells regardless of input size. Probe: estimate(key) = min over
    rows of the key's bucket counter; CMS never under-counts, so
    ``cms_ok`` (estimate ≥ exact) must be TRUE for every key — the
    oracle pins the estimates exactly (md5 bucketing is deterministic),
    not just the invariant.

    100 TB posture: the sketch is mergeable (per-partition grids sum
    cell-wise — that IS the partial aggregation Spark performs), the
    probe joins against a ≤256-row broadcast, and nothing driver-side
    grows with the data. The exact-count column exists for the oracle;
    a production probe-only path would skip it and the full shuffle it
    implies.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type")

    def cell(i: int):
        inner = f"concat('cms', '{i}', '|', {_nn('event_type')})"
        return F.struct(
            F.lit(i).alias("h"),
            F.expr(f"{_h32(inner)} % {_CMS_W}").alias("bucket"),
        )
    cells = ev.select(
        F.explode(F.array(*[cell(i) for i in range(_CMS_D)])).alias("c")
    ).select("c.*")
    sketch = cells.groupBy("h", "bucket").agg(F.count("*").alias("n"))

    exact = ev.groupBy("event_type").agg(F.count("*").alias("exact_n"))
    probe_cells = exact.select(
        "event_type",
        "exact_n",
        F.explode(F.array(*[cell(i) for i in range(_CMS_D)])).alias("c"),
    ).select("event_type", "exact_n", "c.*")
    est = (
        probe_cells.join(F.broadcast(sketch), ["h", "bucket"])
        .groupBy("event_type", "exact_n")
        .agg(F.min("n").alias("cms_est"))
    )
    return est.select(
        "event_type",
        F.col("exact_n").cast("bigint").alias("exact_n"),
        F.col("cms_est").cast("bigint").alias("cms_est"),
        (F.col("cms_est") - F.col("exact_n")).cast("bigint").alias("overcount"),
        (F.col("cms_est") >= F.col("exact_n")).alias("cms_ok"),
    )


_CMS_ORACLE = f"""
WITH cells AS (
  SELECT t.h,
         {_h32_duck(f"concat('cms', t.h, '|', {_nn_duck('e.event_type')})")} % {_CMS_W} AS bucket
  FROM events e, range({_CMS_D}) t(h)
),
sketch AS (SELECT h, bucket, count(*) AS n FROM cells GROUP BY h, bucket),
exact AS (SELECT event_type, count(*) AS exact_n FROM events GROUP BY event_type),
est AS (
  SELECT x.event_type, x.exact_n, min(s.n) AS cms_est
  FROM exact x
  CROSS JOIN range({_CMS_D}) t(h)
  JOIN sketch s
    ON s.h = t.h
   AND s.bucket = {_h32_duck(f"concat('cms', t.h, '|', {_nn_duck('x.event_type')})")} % {_CMS_W}
  GROUP BY x.event_type, x.exact_n
)
SELECT event_type,
       CAST(exact_n AS BIGINT) AS exact_n,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - exact_n AS BIGINT) AS overcount,
       cms_est >= exact_n AS cms_ok
FROM est
"""


# ---------------------------------------------------------------------
# Bloom-filter join pruning
# ---------------------------------------------------------------------

# 2^17 bits = 16 KB packed: ~14 bits per build key at sf0.1 (≈9k keys)
# → <1% false positives with K=3; still a trivial broadcast. Sizing rule
# at scale: m ≈ 10·n_build_keys bits, k = ln2·m/n ≈ 3.
_BF_M = 131072  # bits
_BF_K = 3  # hash functions
_BF_MIN_BAL = 4000.0  # build-side predicate: customers with balance above


def _bf_positions(key_sql: str) -> list[str]:
    """The K bit positions (Spark SQL exprs) for a join key."""
    out = []
    for i in range(_BF_K):
        inner = f"concat('bf', '{i}', '|', {_nn(key_sql)})"
        out.append(f"{_h32(inner)} % {_BF_M}")
    return out


def _bf_probe_sql(key_sql: str) -> str:
    """Spark SQL predicate: all K bit probes set in the packed
    ``words`` array (32-bit words as BIGINT cells, O(1) per probe)."""
    checks = []
    for i in range(_BF_K):
        inner = f"concat('bf', '{i}', '|', {_nn(key_sql)})"
        pos = f"({_h32(inner)} % {_BF_M})"
        checks.append(
            f"(element_at(words, cast({pos} div 32 as int) + 1)"
            f" & shiftleft(cast(1 as bigint), cast({pos} % 32 as int))) != 0"
        )
    return " AND ".join(checks)


def j_bloom_filter_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-join pruning of ``orders`` against the
    high-balance ``customer`` subset, reported as one audit row:
    probe volume, candidates the filter passes, true matches, and the
    false-positive remainder.

    The filter is a REAL packed bitset: the K=3 md5 positions of every
    build key are OR-ed into 32-bit words (``bit_or`` aggregate over
    pos div 32), densified over a 256-row range frame, and collected
    into ONE {m}-bit array cell that broadcasts to every scan task.
    A probe is then three O(1) word-index + bit-mask tests inside
    whole-stage codegen — no shuffle, no explode, no per-row Python,
    and no linear membership scan (an earlier ``array_contains`` draft
    cost O(m) per probe and was 40× slower at sf0.1).

    100 TB posture: the filter costs ~1 KB per executor and prunes the
    fact BEFORE its shuffle — exactly what Spark's runtime
    bloom-filter join (`spark.sql.optimizer.runtime.bloomFilter.*`)
    injects automatically; building it explicitly makes the
    false-positive accounting measurable and oracle-checkable.
    """.replace("{m}", str(_BF_M))
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_acctbal") > _BF_MIN_BAL
    )
    build_pos = cust.select(
        F.explode(
            F.array(*[F.expr(p) for p in _bf_positions("c_custkey")])
        ).alias("pos")
    )
    masks = build_pos.groupBy(
        F.expr("pos div 32").alias("word")
    ).agg(
        F.expr(
            "bit_or(shiftleft(cast(1 as bigint), cast(pos % 32 as int)))"
        ).alias("mask")
    )
    dense = (
        spark.range(_BF_M // 32)
        .withColumnRenamed("id", "word")
        .join(F.broadcast(masks), "word", "left")
        .select("word", F.coalesce("mask", F.lit(0)).alias("mask"))
    )
    words = dense.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("word", "mask"))),
            lambda x: x["mask"],
        ).alias("words")
    )

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    probed = orders.crossJoin(F.broadcast(words)).select(
        "o_custkey", F.expr(_bf_probe_sql("o_custkey")).alias("candidate")
    )
    truth = cust.select(F.col("c_custkey").alias("o_custkey")).withColumn(
        "is_member", F.lit(True)
    )
    joined = probed.join(F.broadcast(truth), "o_custkey", "left").select(
        "candidate", F.coalesce("is_member", F.lit(False)).alias("is_member")
    )
    return joined.agg(
        F.count("*").cast("bigint").alias("n_probe"),
        F.sum(F.col("candidate").cast("long")).cast("bigint").alias("n_candidates"),
        F.sum(F.col("is_member").cast("long")).cast("bigint").alias("n_true"),
        F.sum((F.col("candidate") & ~F.col("is_member")).cast("long"))
        .cast("bigint")
        .alias("n_false_pos"),
    )


def _bf_probe_duck(key_sql: str) -> str:
    """DuckDB translation of :func:`_bf_probe_sql` against ``b.words``."""
    checks = []
    for i in range(_BF_K):
        inner = f"concat('bf', '{i}', '|', {_nn_duck(key_sql)})"
        pos = f"({_h32_duck(inner)} % {_BF_M})"
        checks.append(
            f"(b.words[CAST({pos} // 32 AS INTEGER) + 1]"
            f" & (1::BIGINT << CAST({pos} % 32 AS INTEGER))) != 0"
        )
    return " AND ".join(checks)


def _bf_positions_duck(key_sql: str) -> str:
    """DuckDB list literal of the K bit positions for a join key."""
    parts = []
    for i in range(_BF_K):
        inner = f"concat('bf', '{i}', '|', {_nn_duck(key_sql)})"
        parts.append(f"{_h32_duck(inner)} % {_BF_M}")
    return "[" + ", ".join(parts) + "]"


_BLOOM_ORACLE = f"""
WITH build AS (SELECT c_custkey FROM customer WHERE c_acctbal > {_BF_MIN_BAL}),
masks AS (
  SELECT pos // 32 AS word, bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER)) AS mask
  FROM (SELECT unnest({_bf_positions_duck('c_custkey')}) AS pos FROM build)
  GROUP BY pos // 32
),
words AS (
  SELECT list(coalesce(m.mask, 0) ORDER BY g.w) AS words
  FROM generate_series(0, {_BF_M // 32 - 1}) g(w)
  LEFT JOIN masks m ON m.word = g.w
),
probed AS (
  SELECT o.o_custkey, {_bf_probe_duck('o.o_custkey')} AS candidate
  FROM orders o CROSS JOIN words b
),
flagged AS (
  SELECT p.candidate, (bu.c_custkey IS NOT NULL) AS is_member
  FROM probed p LEFT JOIN build bu ON bu.c_custkey = p.o_custkey
)
SELECT CAST(count(*) AS BIGINT) AS n_probe,
       CAST(sum(CASE WHEN candidate THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(sum(CASE WHEN candidate AND NOT is_member THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos
FROM flagged
"""


# ---------------------------------------------------------------------
# Salted skew join
# ---------------------------------------------------------------------

_SALT_B = 8


def salted_equi_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    buckets: int = _SALT_B,
    salt_src: str | None = None,
) -> DataFrame:
    """Inner equi-join with the fact side salted into ``buckets``
    sub-keys and the dim side replicated once per salt, so one hot join
    key spreads over ``buckets`` reducers instead of melting one.

    Value-identical to ``fact.join(dim, key)``: every fact row carries
    exactly one salt and meets exactly the one matching dim replica.
    ``salt_src`` (a fact column, default the join key's row identity
    via md5 of all of ``fact``'s first column) must be deterministic so
    the oracle can reproduce the plan-independent RESULT — the salt
    never appears in the output.

    This is the manual fix for skew AQE can't split (both sides large,
    single ultra-hot key); for broadcast-able dims prefer broadcast,
    which this module's callers assert separately.
    """
    salt_col = salt_src if salt_src is not None else fact.columns[0]
    inner = f"concat('salt|', {_nn(salt_col)})"
    salted_fact = fact.withColumn(
        "__salt", F.expr(f"{_h32(inner)} % {buckets}")
    )
    replicated_dim = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(buckets)]))
    )
    return salted_fact.join(replicated_dim, [key, "__salt"]).drop("__salt")


def j_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per customer nation via the salted-join operator:
    orders ⋈ customer on ``o_custkey`` with the fact side split over
    B=8 salts, then a per-nation rollup. The oracle is the PLAIN join —
    salting must be invisible in the result.

    (customer would normally broadcast at this size; the query exists
    to pin the salted plan's value-identity. The salt source is
    ``o_orderkey`` — deterministic, so re-runs salt identically.)
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    joined = salted_equi_join(orders, cust, "o_custkey", salt_src="o_orderkey")
    price_e2 = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    return (
        joined.groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(price_e2).cast("bigint").alias("revenue_e2"),
        )
        .orderBy("c_nationkey")
    )


_SALTED_ORACLE = """
SELECT c.c_nationkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
         AS revenue_e2
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY c.c_nationkey
ORDER BY c.c_nationkey
"""


# ---------------------------------------------------------------------
# Content-defined chunking
# ---------------------------------------------------------------------

_CDC_NGRAM = 3  # rolling window (tokens)
_CDC_MOD = 16  # boundary when hash % mod == 0 → ~16-token expected chunks


def cdc_chunk_tokens(docs: DataFrame) -> DataFrame:
    """Core content-defined chunker over a ``(doc_id, text)`` frame:
    per-token rows ``(doc_id, pos, tok, chunk_id)``. A boundary falls
    AFTER any position whose trailing 3-token md5 gram ≡ 0 (mod 16);
    chunk_id is the running boundary count. All windows are
    PARTITIONED BY doc_id — bounded per-document state, one hash
    partition reused by the lags and the cumulative sum."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        F.posexplode(tokens(F.lower(F.col("text")))).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.concat_ws(
        " ", F.lag("tok", 2).over(w), F.lag("tok", 1).over(w), F.col("tok")
    )
    boundary = F.when(
        (F.col("pos") >= _CDC_NGRAM - 1)
        & (F.expr(f"{_h32('__gram')} % {_CDC_MOD}") == 0),
        1,
    ).otherwise(0)
    return (
        toks.withColumn("__gram", gram)
        .withColumn("__b", boundary)
        .withColumn(
            "chunk_id",
            F.coalesce(
                F.sum("__b")
                .over(w.rowsBetween(Window.unboundedPreceding, -1))
                .cast("int"),
                F.lit(0),
            ),
        )
        .select("doc_id", "pos", "tok", "chunk_id")
    )


def text_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking of ``documents``: a token position ends
    a chunk when the md5 of its trailing 3-token gram ≡ 0 (mod 16) —
    boundaries are a function of local CONTENT, so an insertion near
    the head of a document re-synchronizes within 3 tokens instead of
    shifting every downstream fixed-width chunk (the Rabin-fingerprint
    property; test_sketch.py pins it).

    Output: one row per (doc, chunk) with its token count and start
    position. Plan: posexplode → two lags + a cumulative sum, all in
    windows PARTITIONED BY doc_id (bounded per-document state, no
    global ordering) → one grouped rollup. Shuffle count: one hash
    partition on doc_id reused by both windows and the rollup.
    """
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    return (
        cdc_chunk_tokens(docs)
        .groupBy("doc_id", "chunk_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.min("pos").cast("bigint").alias("start_pos"),
        )
        .orderBy("doc_id", "chunk_id")
    )


_CDC_ORACLE = f"""
WITH lists AS (
  SELECT doc_id,
         {tokens_sql('lower(text)')} AS toks
  FROM documents
),
toks AS (
  SELECT doc_id,
         unnest(generate_series(1, len(toks))) - 1 AS pos,
         unnest(toks) AS tok
  FROM lists
),
grams AS (
  SELECT doc_id, pos, tok,
         concat_ws(' ',
           lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos),
           lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos),
           tok) AS gram
  FROM toks
),
marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos >= {_CDC_NGRAM - 1}
                   AND {_h32_duck('gram')} % {_CDC_MOD} = 0
              THEN 1 ELSE 0 END AS b
  FROM grams
),
chunked AS (
  SELECT doc_id, pos,
         CAST(coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS INTEGER) AS chunk_id
  FROM marked
)
SELECT doc_id, chunk_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(min(pos) AS BIGINT) AS start_pos
FROM chunked
GROUP BY doc_id, chunk_id
ORDER BY doc_id, chunk_id
"""


# ---------------------------------------------------------------------
# BM25 (integer-rational scoring)
# ---------------------------------------------------------------------

_BM25_TERMS = ("spark", "window", "vector")
_BM25_K = 10
# k1 = 1.2, b = 0.75, with num/den scaled by 10·T·N to stay integral:
#   w(t,d) = idf_e3(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
#          = idf_e3(t) · (22·T·tf) / (10·T·tf + 3·T + 9·dl·N)
# idf_e3(t) = ⌊1000·(N − df)/(df + 1)⌋ — the repo's rational-idf idiom
# (plans/mlx.py text_tfidf_top_terms) standing in for ln-idf: same
# monotonicity in df, bit-exact across engines (ln's last-ulp is not).


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by integer-exact BM25 against the fixed query
    terms ('spark', 'window', 'vector') — the lexical half of a
    retrieval stack (the dense half is operators/similarity.py's
    cosine/IVF/LSH ANN layer).

    Plan: one token pass yields per-doc lengths (dl) and, filtered to
    the query terms, the tf grid; corpus stats (N docs, T tokens) are a
    1-row broadcast; df comes from the tf grid (one tiny aggregation).
    The tf grid has ≤ |terms|·N rows, so every post-filter stage is
    small; nothing quadratic, no global window — the final top-k is
    TakeOrdered (per-partition heaps + driver merge of k·P rows).

    Integer bounds: scores stay in int64 while idf_e3·tf·22·T < 2^63 —
    T ≈ 10^12 tokens with df ≥ N/10^3 still fits; a planetary corpus
    would switch the score to double (ranking, not accounting) or
    decimal(38).
    """
    docs = load_table_dist(spark, sf_dir, "documents", cols=("doc_id", "text"))
    # dl needs no explode: size() over the token array is a narrow map
    # (the explode+count version costs a full extra shuffle of every
    # token — measured 3.5 s → 1.5 s at sf0.1)
    dl = docs.select(
        "doc_id", F.size(tokens(F.lower(F.col("text")))).cast("long").alias("dl")
    )
    stats = dl.agg(
        F.sum("dl").cast("bigint").alias("T"), F.count("*").cast("bigint").alias("N")
    )
    tf = (
        docs.select(
            "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
        )
        .where(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(
                "((1000 * (N - df)) div (df + 1)) * (22 * T * tf)"
                " div (10 * T * tf + 3 * T + 9 * dl * N)"
            ).alias("w"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("w").cast("bigint").alias("score_e3")
    )


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 of :func:`bm25_scores` — TakeOrdered, no global sort."""
    return (
        bm25_scores(spark, sf_dir)
        .orderBy(F.desc("score_e3"), F.asc("doc_id"))
        .limit(_BM25_K)
    )


_BM25_TERMS_SQL = ", ".join(f"('{t}')" for t in _BM25_TERMS)

_BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({tokens_sql('lower(text)')}) AS term
  FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT CAST(sum(dl) AS BIGINT) AS T, CAST(count(*) AS BIGINT) AS N FROM dl),
tf AS (
  SELECT t.doc_id, t.term, count(*) AS tf
  FROM toks t JOIN (VALUES {_BM25_TERMS_SQL}) q(term) ON t.term = q.term
  GROUP BY t.doc_id, t.term
),
df_t AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         ((1000 * (s.N - d.df)) // (d.df + 1)) * (22 * s.T * tf.tf)
           // (10 * s.T * tf.tf + 3 * s.T + 9 * l.dl * s.N) AS w
  FROM tf
  JOIN df_t d ON d.term = tf.term
  JOIN dl l ON l.doc_id = tf.doc_id
  CROSS JOIN stats s
)
SELECT doc_id, CAST(sum(w) AS BIGINT) AS score_e3
FROM scored
GROUP BY doc_id
ORDER BY score_e3 DESC, doc_id ASC
LIMIT {_BM25_K}
"""


# ---------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch
# ---------------------------------------------------------------------

_KMV_K = 256
_KMV_SCALE = 4294967296  # 2^32: the md5-32 hash domain


def kmv_merged_estimate(
    df: DataFrame, group_col: str, key_col: str, k: int = _KMV_K
) -> DataFrame:
    """1-row ``kmv_est`` frame: per-``group_col`` KMV sketches over
    ``key_col``, merged (k smallest of the union) and extrapolated —
    exact whenever the merged sketch holds fewer than k hashes. The
    operator-level entry used by ``agg_kmv_distinct_checked`` and its
    tests; everything stays a DataFrame (no driver-side state)."""
    from pyspark.sql import Window

    h = F.expr(_h32(_nn(key_col)))
    hashed = df.select(group_col, h.alias("h")).distinct()
    w = Window.partitionBy(group_col).orderBy("h")
    sketches = (
        hashed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("h")
    )
    merged_topk = sketches.distinct().orderBy("h").limit(k)
    return merged_topk.agg(F.max("h").alias("hk"), F.count("*").alias("m")).select(
        F.when(F.col("m") >= k, F.expr(f"({k} - 1) * {_KMV_SCALE}L div hk"))
        .otherwise(F.col("m"))
        .cast("bigint")
        .alias("kmv_est")
    )


def agg_kmv_distinct_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable KMV distinct-count sketch over ``orders.o_custkey``,
    built as three PER-STATUS sketches then UNIONED — the operation
    that makes KMV useful at 100 TB: per-partition (here per-group)
    sketches of k=256 smallest hash values merge by keeping the k
    smallest of their union, so a cluster-wide distinct count needs
    only k·P values at the coordinator, never a global distinct
    shuffle.

    Estimator: with u(k) the kth-smallest hash normalized to [0,1),
    n̂ = (k−1)/u(k) — computed here in pure integers,
    ``(k−1)·2^32 div h(k)``, so the ESTIMATE ITSELF is oracle-pinned
    (md5 hashing is bit-stable across engines), not just a tolerance
    band. When the merged sketch holds fewer than k distinct hashes the
    sketch is lossless and the estimate is the exact count. The output
    also carries the exact distinct count and a ±10% boolean — both
    reproduced identically by the oracle.

    Plan: one distinct over (status, hash) → per-status k-smallest via
    a PARTITIONED window → merge = distinct + TakeOrdered(k) (heap, no
    single-partition exchange) → 1-row rollup joined to the exact
    count by a 1-row broadcast."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_custkey"
    )
    est = kmv_merged_estimate(orders, "o_orderstatus", "o_custkey")
    exact = orders.agg(
        F.countDistinct("o_custkey").cast("bigint").alias("exact_custkeys")
    )
    return (
        exact.crossJoin(F.broadcast(est))
        .select(
            "exact_custkeys",
            "kmv_est",
            (
                F.abs(F.col("kmv_est") - F.col("exact_custkeys")) * 100
                <= F.col("exact_custkeys") * 10
            ).alias("within_10pct"),
        )
    )


_KMV_ORACLE = f"""
WITH hashed AS (
  SELECT DISTINCT o_orderstatus,
         {_h32_duck(_nn_duck("o_custkey"))} AS h
  FROM orders
),
sketches AS (
  SELECT h FROM (
    SELECT h, row_number() OVER (PARTITION BY o_orderstatus ORDER BY h) AS rn
    FROM hashed
  ) WHERE rn <= {_KMV_K}
),
merged AS (SELECT DISTINCT h FROM sketches ORDER BY h LIMIT {_KMV_K}),
est AS (
  SELECT CAST(CASE WHEN count(*) >= {_KMV_K}
                   THEN ({_KMV_K} - 1) * {_KMV_SCALE} // max(h)
                   ELSE count(*) END AS BIGINT) AS kmv_est
  FROM merged
),
exact AS (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custkeys FROM orders)
SELECT x.exact_custkeys, e.kmv_est,
       abs(e.kmv_est - x.exact_custkeys) * 100 <= x.exact_custkeys * 10 AS within_10pct
FROM exact x CROSS JOIN est e
"""


# ---------------------------------------------------------------------
# KMV set algebra: intersection estimation
# ---------------------------------------------------------------------


def agg_kmv_intersection_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-ALGEBRA on KMV sketches: estimate the number of customers
    common to the 'F' and 'O' order-status populations from their two
    k-min sketches alone — |A∩B| ≈ Ĵ·|A∪B|, where the union sketch S
    is the k smallest of S_A ∪ S_B, Ĵ = |{h∈S : h∈S_A ∧ h∈S_B}| / |S|
    (membership against the full sets reduces to membership in the
    per-set sketches: h ∈ S ∧ h ∈ A ⟹ h is among A's k smallest), and
    |A∪B| is the usual KMV estimate off S. Everything is integer math
    over md5 hashes, so the ESTIMATES are oracle-pinned exactly; the
    output also carries the exact intersection and a ±25% boolean
    (intersection estimates compound two sketch errors — the judge of
    record is the exact column, the boolean documents the achieved
    accuracy, and the oracle reproduces all three).

    Why it matters at 100 TB: overlap questions (shared users between
    two products, common documents between two crawls) otherwise need
    a distinct-distinct join across both full datasets; sketch algebra
    answers from two k-value summaries that were ALREADY computed for
    cardinality monitoring."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_custkey"
    )
    two = orders.where(F.col("o_orderstatus").isin("F", "O"))
    h = F.expr(_h32(_nn("o_custkey")))
    hashed = two.select("o_orderstatus", h.alias("h")).distinct()
    w = Window.partitionBy("o_orderstatus").orderBy("h")
    sketches = (
        hashed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _KMV_K)
        .select("o_orderstatus", "h")
    )
    s = sketches.select("h").distinct().orderBy("h").limit(_KMV_K)
    marked = (
        s.join(
            F.broadcast(
                sketches.groupBy("h").agg(
                    F.max((F.col("o_orderstatus") == "F").cast("int")).alias("in_a"),
                    F.max((F.col("o_orderstatus") == "O").cast("int")).alias("in_b"),
                )
            ),
            "h",
        )
    )
    est = marked.agg(
        F.max("h").alias("hk"),
        F.count("*").alias("m"),
        F.sum((F.col("in_a") * F.col("in_b")).cast("long")).alias("m_both"),
    ).select(
        F.when(
            F.col("m") >= _KMV_K,
            F.expr(f"({_KMV_K} - 1) * {_KMV_SCALE}L div hk"),
        )
        .otherwise(F.col("m"))
        .cast("bigint")
        .alias("union_est"),
        "m",
        "m_both",
    ).select(
        F.expr("(m_both * union_est) div m").cast("bigint").alias("kmv_common_est"),
        F.expr("(m_both * 1000000) div m").cast("bigint").alias("jaccard_e6"),
    )
    a = two.where(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    b = two.where(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    exact = a.join(b, "o_custkey").agg(
        F.count("*").cast("bigint").alias("exact_common")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_common",
        "kmv_common_est",
        "jaccard_e6",
        (
            F.abs(F.col("kmv_common_est") - F.col("exact_common")) * 100
            <= F.greatest(F.col("exact_common"), F.lit(1)) * 25
        ).alias("within_25pct"),
    )


_KMV_INTER_ORACLE = f"""
WITH two AS (
  SELECT o_orderstatus, o_custkey FROM orders WHERE o_orderstatus IN ('F', 'O')
),
hashed AS (
  SELECT DISTINCT o_orderstatus,
         {_h32_duck(_nn_duck("o_custkey"))} AS h
  FROM two
),
sketches AS (
  SELECT o_orderstatus, h FROM (
    SELECT o_orderstatus, h,
           row_number() OVER (PARTITION BY o_orderstatus ORDER BY h) AS rn
    FROM hashed
  ) WHERE rn <= {_KMV_K}
),
s AS (SELECT DISTINCT h FROM sketches ORDER BY h LIMIT {_KMV_K}),
marks AS (
  SELECT h, max(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS in_b
  FROM sketches GROUP BY h
),
marked AS (SELECT s.h, m.in_a, m.in_b FROM s JOIN marks m ON m.h = s.h),
est AS (
  SELECT CAST(CASE WHEN count(*) >= {_KMV_K}
                   THEN ({_KMV_K} - 1) * {_KMV_SCALE} // max(h)
                   ELSE count(*) END AS BIGINT) AS union_est,
         count(*) AS m,
         CAST(sum(in_a * in_b) AS BIGINT) AS m_both
  FROM marked
),
final_est AS (
  SELECT CAST((m_both * union_est) // m AS BIGINT) AS kmv_common_est,
         CAST((m_both * 1000000) // m AS BIGINT) AS jaccard_e6
  FROM est
),
exact AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_common FROM (
    SELECT o_custkey FROM two WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM two WHERE o_orderstatus = 'O'
  )
)
SELECT x.exact_common, e.kmv_common_est, e.jaccard_e6,
       abs(e.kmv_common_est - x.exact_common) * 100
         <= greatest(x.exact_common, 1) * 25 AS within_25pct
FROM exact x CROSS JOIN final_est e
"""


# ---------------------------------------------------------------------
# Bitmap-index distinct counting
# ---------------------------------------------------------------------


def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event type via bitmap aggregation —
    the dense-integer-key alternative to both ``countDistinct`` (full
    value shuffle) and the sketches above (approximate): user ids OR
    into 32-bit words keyed by ``id div 32``, and the distinct count
    is the popcount sum over words. Bitmaps are mergeable (word-wise
    OR — exactly the ``bit_or`` partial aggregation Spark performs
    map-side), so the shuffle moves ≤ max_id/32 words per group
    instead of one row per (group, value) pair — for dense ids that's
    a 32× reduction with NO accuracy trade, which is why warehouse
    engines ship roaring-bitmap distinct as a first-class aggregate.

    Companion mechanisms, same answer: ``agg_salted_distinct``
    (skew-split exact) and ``agg_kmv_distinct_checked`` /
    ``agg_hll_partition_merge`` (mergeable approximate)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    words = ev.groupBy(
        "event_type", F.expr("user_id div 32").alias("word")
    ).agg(
        F.expr(
            "bit_or(shiftleft(cast(1 as bigint), cast(user_id % 32 as int)))"
        ).alias("mask")
    )
    return (
        words.groupBy("event_type")
        .agg(F.sum(F.bit_count("mask")).cast("bigint").alias("n_distinct"))
        .orderBy("event_type")
    )


_BITMAP_ORACLE = """
WITH words AS (
  SELECT event_type, user_id // 32 AS word,
         bit_or(1::BIGINT << CAST(user_id % 32 AS INTEGER)) AS mask
  FROM events
  GROUP BY event_type, user_id // 32
)
SELECT event_type, CAST(sum(bit_count(mask)) AS BIGINT) AS n_distinct
FROM words
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------
# Hybrid retrieval: BM25 + dense cosine fused by reciprocal rank
# ---------------------------------------------------------------------

_RRF_C = 60  # the standard RRF constant
_RRF_CAND = 20  # candidates per modality
_RRF_OUT = 10


def _rank_small(df: DataFrame, score_col: str, id_col: str) -> DataFrame:
    """1-based rank by (score desc, id asc) over a SMALL candidate
    frame via a broadcast self-join count — no partitionless window,
    even a 20-row one (the repo-wide rule)."""
    a, b = df.alias("a"), df.alias("b")
    better = F.expr(
        f"b.{score_col} > a.{score_col}"
        f" OR (b.{score_col} = a.{score_col} AND b.{id_col} < a.{id_col})"
    )
    return (
        a.join(F.broadcast(b), better, "left")
        .groupBy(f"a.{id_col}", f"a.{score_col}")
        .agg((F.count(f"b.{id_col}") + 1).cast("long").alias("rnk"))
        .select(F.col(f"a.{id_col}").alias(id_col), "rnk")
    )


def rag_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval, end to end: the lexical candidates
    (integer-exact BM25, :func:`bm25_scores`) and the dense candidates
    (cosine vs the vec_id=0 query embedding — operators/similarity.py's
    brute path; IVF/LSH are the recall-gated scale twins) each
    contribute their top-20, fused by reciprocal-rank fusion
    ``rrf_e6 = Σ 1e6 div (60 + rank)`` — the integerized form of the
    standard RRF, rank-equivalent to the float version since
    1e6/(60+r) is strictly decreasing in r and div keeps >3 exact
    digits over r ≤ 20. Treats vec_id as the document id (the synthetic
    corpus pairs them 1:1).

    Scale shape: both candidate generators are scan+TakeOrdered; the
    ranking/fusion runs on 2×20 rows via broadcast self-joins and a
    full-outer merge — driver-free, window-free, and independent of
    corpus size. Missing-from-one-modality docs score on the other
    alone (the full-outer semantics retrieval fusion needs).
    """
    from ..operators.similarity import cosine_topk
    from .corpus import _query_vec

    # The rank self-join's two sides and the fusion join share the
    # candidate generator's canonical stages under AQE at runtime, so
    # the 20-row candidate lists stay lazy: a bounded-collect
    # LocalRelation of them measured 1.27 → 2.46 s at sf0.1, because
    # two eager collect jobs cost more than the reuse saved.
    lex = _rank_small(
        bm25_scores(spark, sf_dir)
        .orderBy(F.desc("score_e3"), F.asc("doc_id"))
        .limit(_RRF_CAND),
        "score_e3",
        "doc_id",
    ).withColumnRenamed("rnk", "lex_rank")

    emb = load_table_dist(spark, sf_dir, "embeddings", cols=("vec_id", "embedding"))
    q = _query_vec(spark, sf_dir, 0)
    dense = _rank_small(
        cosine_topk(emb, "embedding", "vec_id", q, k=_RRF_CAND),
        "cos_sim",
        "vec_id",
    ).withColumnRenamed("vec_id", "doc_id").withColumnRenamed("rnk", "dense_rank")

    fused = lex.join(dense, "doc_id", "full").select(
        "doc_id",
        F.coalesce(
            F.expr(f"1000000 div ({_RRF_C} + lex_rank)"), F.lit(0)
        ).alias("lex_rrf"),
        F.coalesce(
            F.expr(f"1000000 div ({_RRF_C} + dense_rank)"), F.lit(0)
        ).alias("dense_rrf"),
    )
    return (
        fused.select(
            "doc_id",
            (F.col("lex_rrf") + F.col("dense_rrf")).cast("bigint").alias("rrf_e6"),
        )
        .orderBy(F.desc("rrf_e6"), F.asc("doc_id"))
        .limit(_RRF_OUT)
    )


def _rrf_oracle() -> str:
    from .corpus import _cos

    # everything up to the FINAL top-level SELECT = the shared CTE chain
    bm25_scored = _BM25_ORACLE[: _BM25_ORACLE.rindex("SELECT doc_id,")].rstrip()
    return f"""
{bm25_scored},
lex20 AS (
  SELECT doc_id, CAST(sum(w) AS BIGINT) AS score_e3
  FROM scored GROUP BY doc_id
  ORDER BY score_e3 DESC, doc_id LIMIT {_RRF_CAND}
),
lexr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score_e3 DESC, doc_id) AS lex_rank
  FROM lex20
),
qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
dscored AS (
  SELECT e.vec_id AS doc_id,
         round({_cos('CAST(e.embedding AS DOUBLE[])', 'q.qv')}, 6) AS cos_sim
  FROM embeddings e, qv q
),
d20 AS (
  SELECT doc_id, cos_sim FROM dscored
  ORDER BY cos_sim DESC, doc_id LIMIT {_RRF_CAND}
),
denser AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS dense_rank
  FROM d20
),
fused AS (
  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
         coalesce(1000000 // ({_RRF_C} + l.lex_rank), 0)
       + coalesce(1000000 // ({_RRF_C} + d.dense_rank), 0) AS rrf_e6
  FROM lexr l FULL OUTER JOIN denser d ON d.doc_id = l.doc_id
)
SELECT doc_id, CAST(rrf_e6 AS BIGINT) AS rrf_e6
FROM fused
ORDER BY rrf_e6 DESC, doc_id
LIMIT {_RRF_OUT}
"""


QUERIES = {
    "agg_cms_frequency": agg_cms_frequency,
    "agg_kmv_distinct_checked": agg_kmv_distinct_checked,
    "agg_bitmap_distinct": agg_bitmap_distinct,
    "agg_kmv_intersection_checked": agg_kmv_intersection_checked,
    "rag_hybrid_retrieval": rag_hybrid_retrieval,
    "j_bloom_filter_prune": j_bloom_filter_prune,
    "j_salted_skew_join": j_salted_skew_join,
    "text_cdc_chunks": text_cdc_chunks,
    "text_bm25_topk": text_bm25_topk,
}

ORACLES = {
    "agg_cms_frequency": _CMS_ORACLE,
    "agg_kmv_distinct_checked": _KMV_ORACLE,
    "agg_bitmap_distinct": _BITMAP_ORACLE,
    "agg_kmv_intersection_checked": _KMV_INTER_ORACLE,
    "rag_hybrid_retrieval": _rrf_oracle(),
    "j_bloom_filter_prune": _BLOOM_ORACLE,
    "j_salted_skew_join": _SALTED_ORACLE,
    "text_cdc_chunks": _CDC_ORACLE,
    "text_bm25_topk": _BM25_ORACLE,
}
